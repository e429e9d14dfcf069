"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry routes through the REAL engine (webindex.*) — the
BM25 entries build the compressed inverted index and run the actual top-k
path — and is checked against a self-contained DuckDB oracle in
``oracle_sql()`` (row-count + schema + order-insensitive value-hash).

Determinism conventions shared by both sides:
  * tokens = regexp [a-z0-9]+ over lower(text)  (== webindex.textproc on
    this ASCII corpus),
  * BM25: k1=1.2 b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)), per-doc sum in
    term-ascending order, ties -> doc_id asc,
  * floats rounded to 4dp in the OUTPUT only (hash-stability across engines),
  * counts cast to BIGINT on the Spark side (DuckDB count(*) is int64).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

K1, B = 1.2, 0.75
_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# messy license strings for the spdx_resolve entry, one per match rule class:
# SPDX ids, reference/details URLs, seeAlso URLs (with legalcode/trailing-/
# noise), display names with spaces+quotes, a referenceNumber, one
# unresolvable (fallback = input itself)
_SPDX_MESSY = [
    "MIT",
    "https://spdx.org/licenses/Apache-2.0.html",
    "https://spdx.org/licenses/GPL-3.0-only.json",
    "gpl-2.0-only",
    'BSD 3-Clause "New" or "Revised" License',
    "https://opensource.org/license/mit/",
    "https://creativecommons.org/licenses/by/4.0/legalcode",
    "7",
    "Mozilla Public License 2.0",
    "EPL-2.0",
    "not-a-real-license",
    "https://www.apache.org/licenses/LICENSE-2.0",
]

# ---------------------------------------------------------------------------
# engine plumbing (index built once per sf_dir and cached across queries)
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[str, object] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _index(spark: SparkSession, sf_dir: str):
    from webindex.build import build_index

    key = sf_dir
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
        _INDEX_CACHE[key] = build_index(
            spark, docs, text_col="text", doc_id_method="provided", range_width=1 << 18
        )
    return _INDEX_CACHE[key]


def _index_pos(spark: SparkSession, sf_dir: str):
    """Positional index over the documents corpus (phrase-query entries)."""
    from webindex.build import build_index

    key = f"{sf_dir}#pos"
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
        _INDEX_CACHE[key] = build_index(
            spark, docs, text_col="text", doc_id_method="provided",
            range_width=1 << 18, positions=True,
        )
    return _INDEX_CACHE[key]


def _index_title(spark: SparkSession, sf_dir: str):
    """Second indexed field for best_fields: 'title' = the doc's first 3
    tokens (deterministically derivable by the SQL oracle)."""
    from webindex.build import build_index
    from webindex.dedup import tokens_col

    key = f"{sf_dir}#title"
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
        titled = docs.withColumn(
            "text", F.concat_ws(" ", F.slice(tokens_col("text"), 1, 3))
        )
        _INDEX_CACHE[key] = build_index(
            spark, titled, text_col="text", doc_id_method="provided",
            range_width=1 << 18,
        )
    return _INDEX_CACHE[key]


def _decoded_postings(index) -> DataFrame:
    """Flatten compressed blocks back to (term, doc_id, tf) rows. Blocks are
    keyed by term_hash; the human-readable term comes from the term_stats
    dictionary (vocab-sized broadcast join)."""
    import numpy as np
    import pandas as pd

    from webindex import codec

    def fn(batches):
        for pdf in batches:
            hashes, ids, tfs = [], [], []
            for th, dbuf, tbuf, lbuf in zip(
                pdf["term_hash"], pdf["doc_ids"], pdf["tfs"], pdf["doc_lens"]
            ):
                d, t, _ = codec.decode_block(bytes(dbuf), bytes(tbuf), bytes(lbuf))
                hashes.append(np.full(len(d), th, dtype=np.int64))
                ids.append(d)
                tfs.append(t)
            if ids:
                yield pd.DataFrame(
                    {
                        "term_hash": np.concatenate(hashes),
                        "doc_id": np.concatenate(ids),
                        "tf": np.concatenate(tfs),
                    }
                )

    decoded = index.postings.mapInPandas(
        fn, schema="term_hash long, doc_id long, tf long"
    )
    dictionary = index.term_stats.select("term_hash", "term")
    return decoded.join(F.broadcast(dictionary), "term_hash").select(
        "term", "doc_id", "tf"
    )


def _bm25_topk(spark: SparkSession, sf_dir: str, query: str, k: int) -> DataFrame:
    from webindex.query import topk_wand

    index = _index(spark, sf_dir)
    hits = topk_wand(index, query, k)
    return hits.select("doc_id", F.round("score", 4).alias("score"))


def _bm25_score_subquery(
    terms: list[str], toks_sql: str = _TOKS_SQL, from_sql: str = "documents"
) -> str:
    """(doc_id, score) over all docs containing any of `terms` — the shared
    BM25 math for single-query / batch / per-field oracles (same summation
    order as the engine: term-ascending per doc). toks_sql parameterizes the
    FIELD being scored (full text vs derived title)."""
    termlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, {toks_sql} AS toks FROM {from_sql}
),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({termlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (c.n - df.df + 0.5)/(df.df + 0.5))
         * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl)) AS contrib
  FROM tf JOIN df USING(term) JOIN d USING(doc_id) CROSS JOIN c
)
SELECT doc_id, list_sum(list(contrib ORDER BY term)) AS score
FROM contrib GROUP BY doc_id
"""


def _bm25_oracle_sql(terms: list[str], k: int) -> str:
    return f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, score FROM ({_bm25_score_subquery(terms)})
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
"""


def _bm25_match_oracle_sql(terms: list[str], k: int, msm: int) -> str:
    """ES match with minimum_should_match (operator=and ⇔ msm=len(terms)):
    same BM25 math, docs matching < msm distinct query terms dropped. The
    contrib subquery has one row per (doc, matching term), so the count
    filter is a HAVING over the scoring GROUP BY."""
    sub = _bm25_score_subquery(terms).rstrip()
    assert sub.endswith("GROUP BY doc_id")
    return f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, score FROM ({sub} HAVING count(*) >= {msm})
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
"""


def _bm25_bool_oracle_sql(
    must: list[str],
    should: list[str],
    must_not: list[str],
    filt: list[str],
    k: int,
    msm: int | None = None,
) -> str:
    """ES bool query: must/filt required (filt unscored), should optional
    with minimum_should_match, must_not excludes. Score = the match-family
    BM25 sum over must+should terms only; docs matching only filter clauses
    score 0.0 (webindex/query.py topk_bool)."""
    required = sorted(set(must) | set(filt))
    scored = sorted(set(must) | set(should))
    if msm is None:
        msm = 0 if required else 1
    sub = _bm25_score_subquery(scored)
    req_pred = (
        " AND ".join(f"list_contains(toks, '{t}')" for t in required) or "TRUE"
    )
    excl_pred = (
        " OR ".join(f"list_contains(toks, '{t}')" for t in sorted(set(must_not)))
        or "FALSE"
    )
    msm_pred = ""
    if msm > 0:
        cnt = " + ".join(
            f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END"
            for t in sorted(set(should))
        )
        msm_pred = f" AND ({cnt}) >= {msm}"
    return f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT u.doc_id AS doc_id, coalesce(s.score, 0.0) AS score
  FROM (
    SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    WHERE {req_pred} AND NOT ({excl_pred}){msm_pred}
  ) u LEFT JOIN ({sub}) s ON u.doc_id = s.doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
"""


def _bm25_phrase_prefix_oracle_sql(
    fixed: list[str], prefix: str, k: int, max_exp: int = 50
) -> str:
    """match_phrase_prefix: last slot expands to dictionary terms LIKE
    'prefix%' (capped by df desc, term asc); per-expansion exact-phrase
    score (summed idf: fixed slots + the expansion term); dis_max merge
    (webindex/query.py topk_phrase_prefix)."""
    n = len(fixed) + 1
    fixed_rows = ", ".join(f"('{t}')" for t in fixed)
    fixed_conds = " AND ".join(
        f"t.toks[i+{j}] = '{s}'" for j, s in enumerate(fixed)
    )
    and_sep = " AND " if fixed_conds else ""
    return f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
alldf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
),
exp AS (
  SELECT term, df FROM alldf WHERE term LIKE '{prefix}%'
  ORDER BY df DESC, term ASC LIMIT {max_exp}
),
fixedidf AS (
  SELECT coalesce(sum(ln(1.0 + (c.n - a.df + 0.5)/(a.df + 0.5))), 0.0) AS v
  FROM (VALUES {fixed_rows}) s(term) JOIN alldf a USING(term) CROSS JOIN c
),
pf AS (
  SELECT t.doc_id, e.df AS edf,
         len(list_filter(generate_series(1, len(t.toks) - {n - 1}),
             i -> {fixed_conds}{and_sep}t.toks[i+{n - 1}] = e.term)) AS ptf
  FROM tok t CROSS JOIN exp e
),
sc AS (
  SELECT pf.doc_id,
         (fixedidf.v + ln(1.0 + (c.n - pf.edf + 0.5)/(pf.edf + 0.5)))
           * pf.ptf / (pf.ptf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl)) AS score
  FROM pf JOIN d USING(doc_id) CROSS JOIN c CROSS JOIN fixedidf
  WHERE pf.ptf > 0
)
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, max(score) AS score FROM sc GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
"""


def _phrase_common_ctes(slots: list[str]) -> str:
    """Shared WITH-clause body for the phrase oracles: token lists, corpus
    stats, and the phrase's summed idf (duplicates counted)."""
    slot_rows = ", ".join(f"('{t}')" for t in slots)
    return f"""
tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
dfs AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({", ".join(f"'{t}'" for t in sorted(set(slots)))})
  GROUP BY term
),
sidf AS (
  SELECT sum(ln(1.0 + (c.n - dfs.df + 0.5)/(dfs.df + 0.5))) AS v
  FROM (VALUES {slot_rows}) s(term) JOIN dfs USING(term) CROSS JOIN c
)"""


def _bm25_phrase_score_sql(slots: list[str]) -> str:
    """(doc_id, score) for the exact phrase — phrase frequency via a
    positional window scan over the token list, score = (Σ slot idf,
    duplicates counted) * BM25 impact of the phrase tf — Lucene PhraseQuery
    semantics, matching webindex.query.topk_phrase."""
    n = len(slots)
    cond = " AND ".join(f"toks[i+{j}] = '{t}'" for j, t in enumerate(slots))
    return f"""
WITH {_phrase_common_ctes(slots)},
pf AS (
  SELECT doc_id,
         len(list_filter(generate_series(1, len(toks) - {n - 1}),
             i -> {cond})) AS ptf
  FROM tok
)
SELECT pf.doc_id,
       sidf.v * pf.ptf / (pf.ptf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl)) AS score
FROM pf JOIN d USING(doc_id) CROSS JOIN c CROSS JOIN sidf
WHERE pf.ptf > 0
"""


def _bm25_phrase_slop_score_sql(slots: list[str], slop: int) -> str:
    """(doc_id, score) for the SLOPPY phrase — the closest-assignment sloppy
    semantics of webindex.query._phrase_chunk_match, in SQL: each occurrence
    of slot 0's term anchors a candidate at adjusted position a0 = pos;
    every other slot i picks its occurrence minimizing
    (|pos-i - a0|, pos-i) (arg_min over the combined numeric key — sound
    while doc_len < 2^20 tokens); a match iff the chosen adjusted positions
    span <= slop; sloppy_tf = Σ 1/(1+span), summed in ascending-a0 order
    (list_sum ORDER BY a0 = the engine's bincount order, so float64 sums
    match bit-for-bit)."""
    n = len(slots)
    if n == 1:
        return _bm25_phrase_score_sql(slots)  # every anchor matches at d=0
    slot_defs = ", ".join(f"({i}, '{t}')" for i, t in enumerate(slots))
    return f"""
WITH {_phrase_common_ctes(slots)},
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
adj AS (
  SELECT pos.doc_id, s.i, pos.p - s.i AS a
  FROM pos JOIN (VALUES {slot_defs}) s(i, term) ON pos.term = s.term
),
anchors AS (SELECT doc_id, a AS a0 FROM adj WHERE i = 0),
choice AS (
  SELECT an.doc_id, an.a0, ad.i,
         arg_min(ad.a, abs(ad.a - an.a0) * 1048576 + ad.a + {n}) AS ai
  FROM anchors an JOIN adj ad ON ad.doc_id = an.doc_id AND ad.i > 0
  GROUP BY an.doc_id, an.a0, ad.i
),
spans AS (
  SELECT doc_id, a0,
         greatest(max(ai), a0) - least(min(ai), a0) AS dist
  FROM choice GROUP BY doc_id, a0
  HAVING count(*) = {n - 1}
),
freqs AS (
  SELECT doc_id, list_sum(list(1.0 / (1 + dist) ORDER BY a0)) AS ptf
  FROM spans WHERE dist <= {slop} GROUP BY doc_id
)
SELECT freqs.doc_id,
       sidf.v * freqs.ptf / (freqs.ptf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl)) AS score
FROM freqs JOIN d USING(doc_id) CROSS JOIN c CROSS JOIN sidf
WHERE freqs.ptf > 0
"""


def _phrase_topk_wrap(score_sql: str, k: int) -> str:
    return f"""
SELECT doc_id, round(score, 4) AS score
FROM ({score_sql})
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _bm25_phrase_oracle_sql(slots: list[str], k: int) -> str:
    return _phrase_topk_wrap(_bm25_phrase_score_sql(slots), k)


def _bm25_phrase_slop_oracle_sql(slots: list[str], slop: int, k: int) -> str:
    return _phrase_topk_wrap(_bm25_phrase_slop_score_sql(slots, slop), k)


def _bm25_phrase_batch_oracle_sql(phrases: dict[str, list[str]], k: int) -> str:
    parts = []
    for qid, slots in sorted(phrases.items()):
        parts.append(f"""
SELECT '{qid}' AS query_id, doc_id, round(score, 4) AS score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
  FROM ({_bm25_phrase_score_sql(slots)})
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)""")
    return "\nUNION ALL\n".join(parts)


def _bm25_batch_oracle_sql(queries: dict[str, list[str]], k: int) -> str:
    parts = []
    for qid, terms in sorted(queries.items()):
        parts.append(f"""
SELECT '{qid}' AS query_id, doc_id, round(score, 4) AS score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
  FROM ({_bm25_score_subquery(terms)})
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)""")
    return "\nUNION ALL\n".join(parts)


def _lsh_topk_oracle_sql(
    n_planes: int, probe_hamming: int, k: int, dim: int, seed: int
) -> str:
    """Exact SQL oracle of the ANN semantics: recompute the sign-LSH bucket
    of every vector AND of the query (vec_id=0) with the SAME seeded
    hyperplanes (constants inlined), keep vectors within probe_hamming bits
    of the query bucket, cosine top-k over those candidates only."""
    from webindex.simsearch import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)

    def dot(src: str, plane) -> str:
        lits = ", ".join(repr(float(x)) for x in plane)
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {src}[i]::DOUBLE * ([{lits}]::DOUBLE[])[i]))"
        )

    bucket_bits = " + ".join(
        f"(CASE WHEN {dot('embedding', p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_bits})::BIGINT AS bucket FROM embeddings
),
q AS (SELECT bucket AS qb, embedding AS qv FROM b WHERE vec_id = 0),
cand AS (
  SELECT vec_id, embedding, qv FROM b CROSS JOIN q
  WHERE vec_id != 0 AND bit_count(xor(bucket, qb)) <= {probe_hamming}
),
s AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, {dim}),
                                 i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nv,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) AS nq
  FROM cand
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT vec_id,
         CASE WHEN nv > 0 AND nq > 0 THEN dot / (nv * nq) ELSE 0 END AS cos
  FROM s ORDER BY cos DESC, vec_id ASC LIMIT {k}
)
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the compressed inverted index over sf0.001 pages
    (synthesized html -> byte-identical extraction -> SPIMI -> blocks) and
    run a block-max-WAND BM25 top-10 with urls."""
    from webindex.build import build_index
    from webindex.pagesgen import pages_from_documents
    from webindex.query import topk_with_urls

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    index = build_index(spark, pages, text_col="html", doc_id_method="hash")
    return topk_with_urls(index, "the data spark index", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from webindex.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash64,
        simhash_near_pairs,
        tokens_col,
    )
    from webindex.simsearch import cosine_topk_bruteforce, cosine_topk_lsh
    from webindex.textstats import fingerprint, lang_id, quality_score, token_count

    def doc_stats(spark, sf):
        idx = _index(spark, sf)
        return idx.doc_stats.select("doc_id", F.col("doc_len").cast("long").alias("doc_len"))

    def term_stats(spark, sf):
        idx = _index(spark, sf)
        return idx.term_stats.select("term", "df", F.round("idf", 4).alias("idf"))

    def postings_tf(spark, sf):
        return _decoded_postings(_index(spark, sf))

    def corpus_stats(spark, sf):
        idx = _index(spark, sf)
        return spark.createDataFrame(
            [(idx.n_docs, round(idx.avgdl, 4))], "n_docs long, avgdl double"
        )

    def bm25_topk(spark, sf):
        return _bm25_topk(spark, sf, "spark merge", 10)

    def bm25_topk_hot(spark, sf):
        return _bm25_topk(spark, sf, "the data", 10)

    def bm25_topk_rare(spark, sf):
        return _bm25_topk(spark, sf, "group scan batch", 10)

    def bm25_match_and(spark, sf):
        # ES match operator=and: every query term required, scores unchanged
        # (webindex/query.py topk_match; msm coverage prune at block metadata)
        from webindex.query import topk_match

        hits = topk_match(_index(spark, sf), "the data merge", 10, operator="and")
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_match_msm(spark, sf):
        # ES match minimum_should_match=2 over a 3-term query
        from webindex.query import topk_match

        hits = topk_match(
            _index(spark, sf), "group scan batch", 10, minimum_should_match=2
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_bool(spark, sf):
        # ES bool compound query: must=data (required+scored),
        # should=merge/batch (optional+scored), filter=the (required,
        # unscored), must_not=slow (excludes) — Lucene BooleanQuery under
        # BM25 (webindex/query.py topk_bool; required-coverage prune at
        # block metadata)
        from webindex.query import topk_bool

        hits = topk_bool(
            _index(spark, sf), must="data", should="merge batch",
            must_not="slow", filter_="the", k=10,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def agg_terms_lang(spark, sf):
        # ES terms aggregation in filter context: top langs by count of docs
        # matching "data merge" — the filter resolves from posting blocks,
        # only matching doc_ids (longs) meet the stored table
        # (webindex/aggs.py terms_agg)
        from webindex.aggs import terms_agg

        stored = _docs(spark, sf).select("doc_id", "lang")
        return terms_agg(_index(spark, sf), stored, "data merge", "lang", size=10)

    def agg_significant_terms(spark, sf):
        # ES significant_terms: JLH-scored foreground-vs-background term
        # significance for docs matching "slow" — fg counts from ONE decode
        # of the postings table semi-joined to the match filter's ids;
        # background df/n_docs straight from term_stats
        # (webindex/aggs.py significant_terms)
        from webindex.aggs import significant_terms

        sig = significant_terms(_index(spark, sf), "slow", size=10)
        return sig.select("term", "fg_count", F.round("score", 4).alias("score"))

    def agg_significant_text(spark, sf):
        # ES significant_text: JLH significance from RE-ANALYZING the free
        # text of the top-100-by-BM25 sample of docs matching "slow" —
        # foreground counts from the sampled rows' tokens, background from
        # term_stats (webindex/aggs.py significant_text)
        from webindex.aggs import significant_text

        stored = _docs(spark, sf).select("doc_id", "text")
        sig = significant_text(
            _index(spark, sf), stored, "slow", sample=100, size=10
        )
        return sig.select(
            "term", "fg_count", F.round("score", 4).alias("score")
        )

    def agg_hist_nchars(spark, sf):
        # ES histogram aggregation (interval=100 over n_chars) for docs
        # matching "data merge"; empty buckets omitted (min_doc_count=1)
        from webindex.aggs import histogram_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return histogram_agg(
            _index(spark, sf), stored, "data merge", "n_chars", interval=100
        )

    def agg_stats(spark, sf):
        # ES stats metric aggregation (count/min/max/avg/sum over n_chars)
        # in filter context for "data merge" (webindex/aggs.py stats_agg)
        from webindex.aggs import stats_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return stats_agg(_index(spark, sf), stored, "data merge", "n_chars")

    def agg_extended_stats(spark, sf):
        # ES extended_stats: stats + sum_of_squares + POPULATION
        # variance/std (webindex/aggs.py extended_stats_agg)
        from webindex.aggs import extended_stats_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return extended_stats_agg(
            _index(spark, sf), stored, "data merge", "n_chars"
        )

    def agg_percentiles(spark, sf):
        # ES percentiles aggregation over n_chars for "data merge" — exact
        # linear interpolation (the semantics t-digest approximates), one
        # row per percent (webindex/aggs.py percentiles_agg)
        from webindex.aggs import percentiles_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return percentiles_agg(_index(spark, sf), stored, "data merge", "n_chars")

    def agg_cardinality(spark, sf):
        # ES cardinality aggregation (distinct langs among matching docs),
        # exact form; the HLL++ sketch path (exact=False) is the 100 TB
        # variant, tested in pytest (webindex/aggs.py cardinality_agg)
        from webindex.aggs import cardinality_agg

        stored = _docs(spark, sf).select("doc_id", "lang")
        return cardinality_agg(_index(spark, sf), stored, "data merge", "lang")

    def agg_range(spark, sf):
        # ES range aggregation: requested [from,to) buckets over n_chars,
        # ES key format, EMPTY BUCKETS INCLUDED (webindex/aggs.py range_agg)
        from webindex.aggs import range_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return range_agg(
            _index(spark, sf), stored, "data merge", "n_chars",
            [(None, 100.0), (100.0, 300.0), (300.0, 10000.0), (10000.0, None)],
        )

    def agg_date_histogram(spark, sf):
        # ES date_histogram with a CALENDAR interval (month) — the stored
        # timestamp derives deterministically from doc_id so the oracle
        # reconstructs it bit-identically (webindex/aggs.py
        # date_histogram_agg); same derivation the pipeline-agg entries
        # share, so there is exactly one copy of it
        return _date_hist_parent(spark, sf)

    def agg_composite(spark, sf):
        # ES composite aggregation page 2: (lang, source) buckets strictly
        # after the cursor ('de','src3'), key-ordered, size=7 — deep
        # pagination stays O(page) (webindex/aggs.py composite_agg)
        from webindex.aggs import composite_agg

        stored = _docs(spark, sf).select("doc_id", "lang", "source")
        return composite_agg(
            _index(spark, sf), stored, "data merge", ["lang", "source"],
            size=7, after=("de", "src3"),
        )

    def agg_top_hits(spark, sf):
        # ES top_hits under a terms bucketing: per-lang top-2 matching docs
        # by BM25 (score desc, doc_id asc) (webindex/aggs.py top_hits_agg)
        from webindex.aggs import top_hits_agg

        stored = _docs(spark, sf).select("doc_id", "lang")
        return top_hits_agg(
            _index(spark, sf), stored, "data merge", "lang", hits_per_group=2
        )

    def _date_hist_parent(spark, sf):
        # shared parent for the pipeline-agg entries: the agg_date_histogram
        # monthly buckets (ts derived deterministically from doc_id)
        from webindex.aggs import date_histogram_agg

        stored = _docs(spark, sf).select("doc_id").withColumn(
            "ts",
            F.expr(
                "timestamp '2025-01-01 00:00:00'"
                " + make_interval(0, 0, 0, cast(doc_id % 365 as int), 0, 0, 0)"
            ),
        )
        out = date_histogram_agg(_index(spark, sf), stored, "data merge", "ts", "month")
        return out.select(F.col("bucket").cast("date").alias("bucket"), "doc_count")

    def agg_derivative(spark, sf):
        # ES derivative pipeline agg over monthly buckets (first bucket NULL)
        from webindex.aggs import pipeline_agg

        return pipeline_agg(_date_hist_parent(spark, sf), "derivative")

    def agg_cumulative_sum(spark, sf):
        from webindex.aggs import pipeline_agg

        return pipeline_agg(_date_hist_parent(spark, sf), "cumulative_sum")

    def agg_moving_avg(spark, sf):
        # trailing 3-bucket mean including current (documented alignment)
        from webindex.aggs import pipeline_agg

        return pipeline_agg(_date_hist_parent(spark, sf), "moving_avg", window=3)

    def agg_stats_bucket(spark, sf):
        # ES stats_bucket sibling agg over the monthly doc_count series
        from webindex.aggs import stats_bucket_agg

        return stats_bucket_agg(_date_hist_parent(spark, sf))

    def agg_bucket_sort(spark, sf):
        # ES bucket_sort: re-sort lang terms buckets by doc_count ASC, skip
        # 1, keep 3 (from/size truncation with key-asc tie-break)
        from webindex.aggs import bucket_sort_agg, terms_agg

        stored = _docs(spark, sf).select("doc_id", "lang")
        parent = terms_agg(_index(spark, sf), stored, "data merge", "lang", size=100)
        return bucket_sort_agg(parent, "doc_count", asc=True, size=3, offset=1, key="lang")

    def agg_percentile_ranks(spark, sf):
        # ES percentile_ranks (exact form): % of matching docs with
        # n_chars <= v for v in (200, 400, 800) — one conditional-sum pass
        from webindex.aggs import percentile_ranks_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return percentile_ranks_agg(
            _index(spark, sf), stored, "data merge", "n_chars", [200.0, 400.0, 800.0]
        )

    def agg_rare_terms(spark, sf):
        # ES rare_terms: long-tail sources among "slow" matches
        from webindex.aggs import rare_terms_agg

        stored = _docs(spark, sf).select("doc_id", "source")
        return rare_terms_agg(
            _index(spark, sf), stored, "slow", "source", max_doc_count=18
        )

    def agg_multi_terms(spark, sf):
        # ES multi_terms: (lang, source) tuple buckets, top-7 by count
        from webindex.aggs import multi_terms_agg

        stored = _docs(spark, sf).select("doc_id", "lang", "source")
        return multi_terms_agg(
            _index(spark, sf), stored, "data merge", ["lang", "source"], size=7
        )

    def span_near_ordered(spark, sf):
        # ES span_near in_order=true: greedy-minimal position chains,
        # width <= slop (webindex/query.py span_near_docs)
        from webindex.query import span_near_docs

        return span_near_docs(
            _index_pos(spark, sf), ["the", "data"], slop=2, in_order=True
        )

    def span_near_unordered(spark, sf):
        # ES span_near in_order=false: closest-assignment matching
        from webindex.query import span_near_docs

        return span_near_docs(
            _index_pos(spark, sf), ["data", "merge"], slop=1, in_order=False
        )

    def intervals_all_of(spark, sf):
        # ES intervals all_of(ordered, max_gaps=4): the exact phrase
        # "the data" followed within 4 gaps by "merge"
        # (webindex/query.py intervals_docs)
        from webindex.query import intervals_docs

        return intervals_docs(
            _index_pos(spark, sf),
            {"all_of": {"max_gaps": 4, "ordered": True, "intervals": [
                {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
                {"match": {"terms": ["merge"]}},
            ]}},
        )

    def intervals_all_of_unordered(spark, sf):
        # ES intervals all_of(ordered=false): closest-assignment envelope
        # of "fast" and "slow" within 5 gaps, either order
        from webindex.query import intervals_docs

        return intervals_docs(
            _index_pos(spark, sf),
            {"all_of": {"max_gaps": 5, "ordered": False, "intervals": [
                {"match": {"terms": ["fast"]}},
                {"match": {"terms": ["slow"]}},
            ]}},
        )

    def multi_index_search(spark, sf):
        # ES multi-index search: the corpus split into two indexes (even /
        # odd doc ids), each scoring with ITS OWN stats (ES default
        # query_then_fetch), k-row frames fan in to one TakeOrdered
        from webindex.build import build_index
        from webindex.query import topk_multi_index

        halves = {}
        for name, parity in (("even", 0), ("odd", 1)):
            key = f"{sf}#half{parity}"
            if key not in _INDEX_CACHE:
                docs = (
                    _docs(spark, sf)
                    .filter(F.col("doc_id") % 2 == parity)
                    .withColumn("url", F.col("doc_id").cast("string"))
                )
                _INDEX_CACHE[key] = build_index(
                    spark, docs, text_col="text", doc_id_method="provided",
                    range_width=1 << 18,
                )
            halves[name] = _INDEX_CACHE[key]
        out = topk_multi_index(halves, "data merge", k=10)
        return out.select("index", "doc_id", F.round("score", 4).alias("score"))

    def suggest_phrase_q(spark, sf):
        # ES phrase suggester: two misspelled tokens -> combined phrase
        # corrections, unigram-LM-minus-edit scoring, collated
        from webindex.query import suggest_phrase

        return suggest_phrase(_index(spark, sf), "merg slwo", size=3)

    def percolate_queries(spark, sf):
        # ES percolate: a stored-query registry matched AGAINST doc 0
        # (webindex/query.py percolate; the doc analyzed once, registry
        # scanned with a pushable filter)
        from webindex.query import percolate

        doc_text = (
            _docs(spark, sf).filter(F.col("doc_id") == 0).select("text").collect()
        )[0][0] or ""
        reg = spark.createDataFrame(
            [
                (1, ["data", "merge"], "or"),
                (2, ["data", "merge"], "and"),
                (3, ["zzzabsent"], "or"),
                (4, [], "or"),
                (5, ["the", "slow"], "and"),
            ],
            "query_id long, terms array<string>, operator string",
        )
        return percolate(reg, doc_text)

    def term_vectors_read(spark, sf):
        # ES _termvectors: read (term, tf, positions) back from the
        # positional index for docs 0-2; positions CSV-serialized so the
        # value hash is representation-independent
        from webindex.query import term_vectors

        tv = term_vectors(_index_pos(spark, sf), [0, 1, 2])
        return tv.select(
            "doc_id", "term", "tf",
            F.array_join("positions", ",").alias("pos_csv"),
        )

    def intervals_filtered(spark, sf):
        # ES intervals filter rule: "the data" within 3 gaps, kept only
        # when NOT followed later in the doc by "merge" (not_before)
        from webindex.query import intervals_docs

        return intervals_docs(
            _index_pos(spark, sf),
            {"match": {"terms": ["the", "data"], "max_gaps": 3, "ordered": True,
                       "filter": {"not_before": {"match": {"terms": ["merge"]}}}}},
        )

    def intervals_any_of(spark, sf):
        # ES intervals any_of: exact phrase "the data" OR the term "merge"
        from webindex.query import intervals_docs

        return intervals_docs(
            _index_pos(spark, sf),
            {"any_of": {"intervals": [
                {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
                {"match": {"terms": ["merge"]}},
            ]}},
        )

    def agg_filters(spark, sf):
        # ES filters agg: named buckets, one pruned probe each
        from webindex.aggs import filters_agg

        return filters_agg(_index(spark, sf), {"d": "data", "m": "merge", "s": "slow"})

    def agg_adjacency(spark, sf):
        # ES adjacency_matrix: singles + pairwise intersections of the
        # named match sets (doc_id equi-joins, match-set scale)
        from webindex.aggs import adjacency_matrix_agg

        return adjacency_matrix_agg(
            _index(spark, sf), {"d": "data", "m": "merge", "s": "slow"}
        )

    def agg_weighted_avg(spark, sf):
        # ES weighted_avg: n_chars weighted by token count
        from webindex.aggs import weighted_avg_agg

        stored = _docs(spark, sf).select(
            "doc_id", "n_chars", F.size(tokens_col("text")).alias("n_toks")
        )
        return weighted_avg_agg(
            _index(spark, sf), stored, "data merge", "n_chars", "n_toks"
        )

    def agg_matrix_stats(spark, sf):
        # ES matrix_stats: population covariance + correlation between
        # n_chars and token count, every cell from ONE aggregate
        from webindex.aggs import matrix_stats_agg

        stored = _docs(spark, sf).select(
            "doc_id", "n_chars", F.size(tokens_col("text")).alias("n_toks")
        )
        return matrix_stats_agg(
            _index(spark, sf), stored, "data merge", ["n_chars", "n_toks"]
        )

    def agg_histogram_zerofill(spark, sf):
        # ES histogram with min_doc_count=0 + extended_bounds [0,1500]:
        # zero-filled skeleton from spark.range, no data pass for the keys
        from webindex.aggs import histogram_full_agg

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return histogram_full_agg(
            _index(spark, sf), stored, "data merge", "n_chars", 100, (0, 1500)
        )

    def agg_missing(spark, sf):
        # ES missing agg: docs whose (derived-nullable) lang field is unset
        from webindex.aggs import missing_agg

        stored = _docs(spark, sf).select(
            "doc_id", F.expr("nullif(lang, 'en')").alias("lang_opt")
        )
        return missing_agg(_index(spark, sf), stored, "data merge", "lang_opt")

    def agg_significant_sampled(spark, sf):
        # ES sampler>significant_terms: foreground = top-30 "slow" docs by
        # relevance; the decode pass prunes to blocks covering sampled ids
        # and pre-aggregates inside the Arrow batch
        # (webindex/aggs.py significant_terms sample=30)
        from webindex.aggs import significant_terms

        sig = significant_terms(_index(spark, sf), "slow", size=10, sample=30)
        return sig.select("term", "fg_count", F.round("score", 4).alias("score"))

    def bm25_function_score(spark, sf):
        # ES function_score/field_value_factor: BM25 * log1p(n_chars),
        # scored under the scaled bound combined <= bm25 * mod(max(field))
        # (webindex/query.py topk_function_score; byte-identical to the
        # exhaustive rewrite ES itself uses)
        from webindex.query import topk_function_score

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return topk_function_score(
            _index(spark, sf), stored, "merge spark", "n_chars", k=10
        )

    def search_sort_nchars(spark, sf):
        # ES sort-by-field search: matching docs ordered by n_chars desc
        # (scoring skipped entirely, like ES track_scores=false)
        # (webindex/query.py search_sort)
        from webindex.query import search_sort

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        return search_sort(
            _index(spark, sf), stored, "merge spark", "n_chars",
            ascending=False, k=10,
        )

    def suggest_spell(spark, sf):
        # ES term suggester (suggest_mode=missing): corrections for the
        # misspelled tokens of "mrge datta the" from the index vocabulary,
        # ranked distance asc / df desc / term asc, 3 per token
        # (webindex/query.py suggest_terms)
        from webindex.query import suggest_terms

        return suggest_terms(
            _index(spark, sf), "mrge datta the", max_edits=2, size=3
        )

    def regexp_match(spark, sf):
        # ES regexp query: anchored full-term regex 's(low|ort|can|park)'
        # expanded against the dictionary (rlike, capped like top_terms),
        # constant-score ids of docs containing any matched term
        # (webindex/query.py topk_regexp)
        from webindex.query import topk_regexp

        return topk_regexp(_index(spark, sf), "s(low|ort|can|park)", 10)

    def bm25_range_filter(spark, sf):
        # ES bool {must: match "data merge", filter: range n_chars
        # [250, 450]}: relevance scoring + pure-filter-context doc-values
        # predicate (webindex/query.py topk_filtered)
        from webindex.query import topk_filtered

        stored = _docs(spark, sf).select("doc_id", "n_chars")
        hits = topk_filtered(
            _index(spark, sf), "data merge", stored,
            "n_chars BETWEEN 250 AND 450", 10,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_exists_filter(spark, sf):
        # ES bool {must: match, filter: exists 'alt_lang'} — existence
        # filter over a derived nullable doc-values column (NULLIF keeps
        # the nullability data-driven) (webindex/query.py topk_filtered)
        from webindex.query import topk_filtered

        stored = _docs(spark, sf).select(
            "doc_id", F.expr("nullif(lang, 'en')").alias("alt_lang")
        )
        hits = topk_filtered(
            _index(spark, sf), "data merge", stored,
            F.col("alt_lang").isNotNull(), 10,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def terms_set_match(spark, sf):
        # ES terms_set: docs containing >= minimum_should_match_field(doc)
        # of {data, merge, index}, threshold 1 + pmod(doc_id, 2) read from
        # a stored field, scored as the matched subset's BM25 sum
        # (webindex/query.py topk_terms_set)
        from webindex.query import topk_terms_set

        stored = _docs(spark, sf).select(
            "doc_id", F.expr("1 + pmod(doc_id, 2)").alias("required_matches")
        )
        hits = topk_terms_set(
            _index(spark, sf), ["data", "merge", "index"], stored,
            "required_matches", 10,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def pinned_promote(spark, sf):
        # ES pinned query: doc_ids [3, 1] promoted in that order above the
        # organic "data merge" ranking, excluded from the organic section
        # (webindex/query.py topk_pinned)
        from webindex.query import topk_pinned

        hits = topk_pinned(_index(spark, sf), [3, 1], "data merge", 10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def rrf_hybrid_weighted(spark, sf):
        # ES weighted RRF (rrf retriever per-child weight): text ranking
        # weighted 0.7, kNN ranking 0.3 — rrf = Σ w_r/(60 + rank_r)
        # (webindex/simsearch.py rrf_hybrid weights)
        from webindex.simsearch import rrf_hybrid

        emb = _embeddings(spark, sf)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        hits = rrf_hybrid(
            _index(spark, sf), emb, "data merge", qvec, k=10, window=50,
            weights=(0.7, 0.3),
        )
        return hits.select("doc_id", F.round("score", 6).alias("score"))

    def suggest_spell_gram(spark, sf):
        # Same term suggester through the q-gram dictionary sidecar: one
        # gram-pruned probe covers all non-vacuous tokens at once; short
        # tokens keep the length-band scan. Byte-identical to suggest_spell
        # (webindex/query.py suggest_terms gram path)
        from webindex.build import build_term_grams
        from webindex.query import suggest_terms

        idx = _index(spark, sf)
        gi = build_term_grams(idx.term_stats)
        return suggest_terms(
            idx, "mrge datta the", max_edits=2, size=3, gram_index=gi
        )

    def bm25_boosting(spark, sf):
        # ES boosting query: rank by "data merge", demote (x0.4, never
        # exclude) docs matching "slow" (webindex/query.py topk_boosting)
        from webindex.query import topk_boosting

        hits = topk_boosting(_index(spark, sf), "data merge", "slow", 0.4, 10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_dismax(spark, sf):
        # ES top-level dis_max over two queries with tie_breaker=0.3:
        # score = max + 0.3*(sum-max) (webindex/query.py topk_dismax)
        from webindex.query import topk_dismax

        hits = topk_dismax(
            _index(spark, sf), ["data merge", "the index"], 0.3, 10
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_collapse(spark, sf):
        # ES field collapsing: flat relevance top-k, best doc per lang
        # (webindex/query.py topk_collapse)
        from webindex.query import topk_collapse

        stored = _docs(spark, sf).select("doc_id", "lang")
        return topk_collapse(_index(spark, sf), stored, "data merge", "lang", 10)

    def bm25_synonyms(spark, sf):
        # ES query-time synonyms (Lucene SynonymQuery): "data"~"merge" pool
        # into one pseudo-term (df = max, tf summed); "index" scores alone
        # (webindex/query.py topk_synonyms)
        from webindex.query import topk_synonyms

        hits = topk_synonyms(
            _index(spark, sf), "data index", {"data": ["merge"]}, k=10
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_rescore(spark, sf):
        # ES rescore (window rescoring, score_mode=total): the top-40 by
        # "data merge" re-scored as 1.0*bm25 + 2.0*phrase("the data");
        # docs outside the window can never enter
        # (webindex/query.py topk_rescore)
        from webindex.query import topk_rescore

        hits = topk_rescore(
            _index_pos(spark, sf), "data merge", "the data",
            window=40, query_weight=1.0, rescore_weight=2.0, k=10,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_sqs(spark, sf):
        # ES simple_query_string: term clause + quoted phrase clause +
        # negated term, OR-combined
        # (webindex/query.py simple_query_string)
        from webindex.query import simple_query_string

        hits = simple_query_string(
            _index_pos(spark, sf), 'data "the data" -slow', k=10
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def count_matches_q(spark, sf):
        # ES _count API: match-set size with no scoring and no hits
        # (webindex/query.py count_matches)
        from webindex.query import count_matches

        return count_matches(_index(spark, sf), "data merge")

    def explain_score(spark, sf):
        # ES _explain API: per-term BM25 breakdown for one doc — contribs
        # sum to exactly the doc's topk score (webindex/query.py explain_doc)
        from webindex.query import explain_doc

        exp = explain_doc(_index(spark, sf), "data merge the", 7)
        return exp.select(
            "term", "tf", "doc_len",
            F.round("idf", 4).alias("idf"),
            F.round("contrib", 4).alias("contrib"),
        )

    def complete_prefix(spark, sf):
        # ES completion suggester: popularity-ranked prefix completion from
        # the index vocabulary (webindex/query.py complete_terms)
        from webindex.query import complete_terms

        return complete_terms(_index(spark, sf), "s", 5)

    def bm25_phrase_prefix(spark, sf):
        # ES match_phrase_prefix (autocomplete): "the s" — last slot expands
        # to the s* dictionary terms, dis_max over the expanded exact
        # phrases via ONE shared positional scan
        # (webindex/query.py topk_phrase_prefix)
        from webindex.query import topk_phrase_prefix

        hits = topk_phrase_prefix(_index_pos(spark, sf), "the s", 10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def ids_lookup(spark, sf):
        # ES ids query / mget: multi-id point lookup against the
        # doc_id-sorted doc_stats table (min/max row-group pruning); the
        # absent id yields no row (webindex/query.py lookup_docs)
        from webindex.query import lookup_docs

        return lookup_docs(_index(spark, sf), [0, 5, 17, 123456789]).select(
            "doc_id", "url", "doc_len"
        )

    def wildcard_match(spark, sf):
        # ES wildcard query (constant-score): terms matching "me?ge"
        # (webindex/query.py topk_wildcard; LIKE-pushed dictionary expansion)
        from webindex.query import topk_wildcard

        return topk_wildcard(_index(spark, sf), "me?ge", 10)

    def bm25_more_like_this(spark, sf):
        # ES more_like_this with free-text like = doc 0's text: tf/df
        # filters, top-5 terms by tf*idf, then the plain BM25 disjunction
        # through the WAND path (webindex/query.py more_like_this)
        from webindex.query import more_like_this

        like = (
            _docs(spark, sf).filter(F.col("doc_id") == 0).first()["text"]
        )
        hits = more_like_this(
            _index(spark, sf), like, 10, max_query_terms=5, min_doc_freq=2
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_prefix(spark, sf):
        # ES prefix query under the constant-score rewrite: docs containing
        # any indexed term starting with "mer" score 1.0, doc_id order
        # (webindex/query.py topk_prefix; distributed dictionary expansion)
        from webindex.query import topk_prefix

        return topk_prefix(_index(spark, sf), "mer", 10)

    def bm25_fuzzy(spark, sf):
        # ES fuzzy query: Levenshtein<=1 expansion of "merge" against the
        # term dictionary (capped 50 by df desc, term asc — Lucene
        # top_terms), dis_max BM25 over matched expansions
        # (webindex/query.py topk_fuzzy)
        from webindex.query import topk_fuzzy

        hits = topk_fuzzy(_index(spark, sf), "merge", 10, fuzziness=1)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_fuzzy_gram(spark, sf):
        # Same ES fuzzy query through the q-gram dictionary sidecar
        # (webindex/build.py build_term_grams): Levenshtein runs only over
        # terms sharing >= |D|-q·f of the word's distinct q-grams — the
        # join-shaped analogue of Lucene's FST automaton intersection.
        # Byte-identical results to bm25_fuzzy (same oracle), sub-linear
        # dictionary touch (webindex/query.py _gram_candidates)
        from webindex.build import build_term_grams
        from webindex.query import topk_fuzzy

        idx = _index(spark, sf)
        gi = build_term_grams(idx.term_stats)
        hits = topk_fuzzy(idx, "merge", 10, fuzziness=1, gram_index=gi)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_search_after(spark, sf):
        # ES search_after pagination: page 2 of "data merge" (k=10), cursor
        # = page 1's last (score, doc_id) sort values — the oracle expresses
        # the same page as OFFSET k (webindex/query.py topk_after)
        from webindex.query import topk_after, topk_wand

        idx = _index(spark, sf)
        p1 = topk_wand(idx, "data merge", 10).collect()
        hits = topk_after(
            idx, "data merge", 10, after=(p1[-1]["score"], p1[-1]["doc_id"])
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_highlight(spark, sf):
        # top-k hits + highlight anchor from the positional index: rarest
        # present query term (min df, tie term-asc) and its first token
        # position per hit doc (webindex/query.py highlight_topk)
        from webindex.query import highlight_topk

        hl = highlight_topk(_index_pos(spark, sf), "data merge", 10)
        return hl.select(
            "doc_id", F.round("score", 4).alias("score"), "hl_term", "hl_pos"
        )

    def bm25_phrase(spark, sf):
        # match_phrase (slop=0) over a POSITIONAL index: Lucene PhraseQuery
        # under BM25 — tf = phrase frequency, idf = sum over the phrase's
        # term idfs (webindex/query.py topk_phrase)
        from webindex.query import topk_phrase

        hits = topk_phrase(_index_pos(spark, sf), "the data", 10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_phrase_slop(spark, sf):
        # sloppy match_phrase (slop=2): closest-assignment sloppy semantics,
        # sloppy_tf = Σ 1/(1+distance) as the BM25 tf input
        # (webindex/query.py _phrase_chunk_match)
        from webindex.query import topk_phrase

        hits = topk_phrase(_index_pos(spark, sf), "the data", 10, slop=2)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_phrase_batch(spark, sf):
        # batch phrase path: many phrases over ONE shared positional scan
        # with a per-bucket decode cache (webindex/query.py topk_phrase_batch)
        from webindex.query import topk_phrase_batch

        hits = topk_phrase_batch(
            _index_pos(spark, sf),
            {"p1": "the data", "p2": "data the", "p3": "the the"},
            k=10,
        )
        return hits.select(
            "query_id", "doc_id", F.round("score", 4).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )

    # --- reference pipeline operators (SURVEY.md §2) over TPC-H-ish tables --

    def time_range_agg(spark, sf):
        # P1/P2 time-range predicate + A-group aggregation (pushdown on scan)
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return (
            ev.filter(
                (F.col("ts") >= "2024-01-05 00:00:00") & (F.col("ts") < "2024-02-01 00:00:00")
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    def dedup_merge(spark, sf):
        # A1 dedup-by-key with set-union merge semantics (lib.py:502-527)
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return ev.groupBy("user_id").agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
            F.count(F.lit(1)).alias("n_events"),
        )

    def argmax_largest_doc(spark, sf):
        # A3 argmax-by-size ("biggest FAIR-DO", lib.py:652-685)
        from webindex.dedup import tokens_col

        d = _docs(spark, sf)
        toks = tokens_col("text")
        return (
            d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
            .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
            .limit(1)
        )

    def lookup_join(spark, sf):
        # J1 lookup join collapsed to a distributed equi-join + agg
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        return (
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
        )

    def union_categories(spark, sf):
        # U1 union of category scans + distinct
        ev = spark.read.parquet(f"{sf}/events.parquet")
        a = ev.filter(F.col("event_type") == "click").select("user_id")
        b = ev.filter(F.col("event_type") == "view").select("user_id")
        return a.union(b).distinct()

    def coalesce_fallback(spark, sf):
        # P5 fallback chains -> coalesce()
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return ev.select(
            "event_id",
            F.coalesce(F.nullif(F.col("props"), F.lit("")), F.col("event_type")).alias(
                "resolved"
            ),
        )

    # --- training-data pipeline ops over documents/embeddings ---------------

    def q_exact_dedup(spark, sf):
        return exact_dedup(_docs(spark, sf))

    def q_minhash(spark, sf):
        sigs = minhash_signatures(_docs(spark, sf), n_hashes=4)
        return sigs.select(
            "doc_id",
            *[F.col("sig")[i].alias(f"h{i}") for i in range(4)],
        )

    def q_lsh_pairs(spark, sf):
        sigs = minhash_signatures(_docs(spark, sf), n_hashes=8)
        return lsh_candidate_pairs(sigs, n_bands=4)

    def q_dedup_clusters(spark, sf):
        # pair -> cluster resolution: the step between LSH candidates and
        # document dropping. Same pair definition as lsh_pairs; the oracle
        # recomputes the components with a recursive min-label CTE.
        from webindex.dedup import connected_components

        sigs = minhash_signatures(_docs(spark, sf), n_hashes=8)
        return connected_components(lsh_candidate_pairs(sigs, n_bands=4))

    def q_dedup_canonical(spark, sf):
        # full-corpus keep/drop assignment: singletons keep themselves,
        # clustered docs keep only the component-min doc_id.
        from webindex.dedup import resolve_duplicates

        docs = _docs(spark, sf)
        sigs = minhash_signatures(docs, n_hashes=8)
        return resolve_duplicates(docs, lsh_candidate_pairs(sigs, n_bands=4))

    def q_ngram_jaccard(spark, sf):
        # LSH scale path (physical plan = equi-joins, no cartesian): 16
        # minhashes in 8 bands of 2. Every planted near-dup pair in the
        # fixtures has jaccard >= 0.9, so per-pair miss probability is
        # (1 - 0.9^2)^8 ~ 1.7e-6 — verified equal to the exact all-pairs
        # oracle at sf0.001/0.01/0.1.
        return ngram_jaccard_pairs(
            _docs(spark, sf), threshold=0.8, n_hashes=16, n_bands=8
        ).select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def q_simhash_pairs(spark, sf):
        # chunk blocking derives from the radius (11 chunks for hamming<=10),
        # so recall is exact by pigeonhole; the md5-derived fingerprint is
        # recomputed bit-identically by the DuckDB oracle (md5_number_upper).
        fps = simhash64(_docs(spark, sf))
        return simhash_near_pairs(fps, max_hamming=10)

    def q_token_count(spark, sf):
        tc = token_count(_docs(spark, sf))
        return tc.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
        )

    def q_quality(spark, sf):
        qs = quality_score(_docs(spark, sf))
        return qs.select("doc_id", "diversity", "alpha_ratio", "quality")

    def q_fingerprint(spark, sf):
        return fingerprint(_docs(spark, sf))

    def q_winnow(spark, sf):
        # rolling-hash winnowing fingerprints (k=5-gram md5, window=4),
        # vectorized as JVM transform() expressions — no UDF
        from webindex.textstats import winnow_fingerprints

        return winnow_fingerprints(_docs(spark, sf), k=5, window=4)

    def q_lang_id(spark, sf):
        li = lang_id(_docs(spark, sf))
        return li.select("doc_id", "pred_lang", F.col("lang_hits").cast("long").alias("lang_hits"))

    def q_repetition_stats(spark, sf):
        # Gopher-style repetition quality signals — per-row folds, no shuffle
        from webindex.textstats import repetition_stats

        return repetition_stats(_docs(spark, sf))

    def q_pii_scrub(spark, sf):
        # the synthetic corpus carries no PII, so the entry plants a
        # deterministic doc-derived email/phone/ip in each text (engine and
        # oracle inject the SAME string), then verifies count + redaction;
        # clean text is md5'd so the hash compare stays cheap
        from webindex.textstats import pii_scrub

        docs = _docs(spark, sf).withColumn(
            "text",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example or 555-123-4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        out = pii_scrub(docs)
        return out.select(
            "doc_id", "n_email", "n_phone", "n_ipv4",
            F.md5("clean_text").alias("clean_md5"),
        )

    def q_source_curation(spark, sf):
        from webindex.textstats import source_stats

        return source_stats(_docs(spark, sf), blocklist=["src3", "src7"])

    def q_sample_mix(spark, sf):
        # deterministic data-mixing sampler: per-source keep rates replayed
        # bit-identically by the oracle (md5-uniform, salt 'mix')
        from webindex.textstats import sample_mix

        out = sample_mix(
            _docs(spark, sf),
            {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0},
        )
        return out.select("doc_id", "source")

    def q_pack_sequences(spark, sf):
        # GPT-style concatenate-then-chunk packing into 512-token blocks,
        # per-source shards
        from webindex.textstats import pack_sequences

        return pack_sequences(_docs(spark, sf), budget=512)

    def q_ccnet_ppl(spark, sf):
        # CCNet-style perplexity filter: score every doc under the TRAINED
        # en char-bigram distribution (lower pseudo_ppl = more en-like)
        from webindex.textstats import char_ngram_logprob, train_char_ngram_model

        docs = _docs(spark, sf)
        model = train_char_ngram_model(docs, n=2, top_grams=50)
        return char_ngram_logprob(docs, model, "en", n=2)

    def q_subtoken_count(spark, sf):
        # BPE-ish pre-tokenizer counting (letter/digit/punct runs) vs
        # whitespace tokens
        from webindex.textstats import subtoken_count

        return subtoken_count(_docs(spark, sf))

    def q_dup_span_stats(spark, sf):
        # Lee-et-al-style exact-substring duplication: per-doc fraction of
        # token k-grams that occur >1x corpus-wide (k=3 at this scale so
        # the synthetic vocab actually produces cross-doc repeats)
        from webindex.dedup import dup_span_stats

        return dup_span_stats(_docs(spark, sf), k=3)

    def q_lang_train(spark, sf):
        # distributed NB char-bigram trainer: the parameter table itself is
        # the verified output (lang × vocab-gram, add-one-smoothed logp)
        from webindex.textstats import train_char_ngram_model

        return train_char_ngram_model(_docs(spark, sf), n=2, top_grams=50)

    def q_lang_id_model(spark, sf):
        # train-then-score round trip: the broadcast-model inference path
        # (one Arrow-vectorized linear scan, byte-coded n-gram counting)
        from webindex.textstats import lang_id_model, train_char_ngram_model

        docs = _docs(spark, sf)
        model = train_char_ngram_model(docs, n=2, top_grams=50)
        return lang_id_model(docs, model, n=2)

    def q_embedding_neardup(spark, sf):
        # banded sign-LSH scale path (equi-join on (band, bucket), no
        # cartesian) verified against the exact all-pairs oracle: 32 bands of
        # 2 planes -> per-pair miss prob (1 - p^2)^32 <= 2.7e-7 at the lowest
        # qualifying cosine (0.35, p = 1 - theta/pi = 0.614). threshold is
        # 0.34995 so the exact filter happens on the ROUNDED value, matching
        # the oracle's round(cos,4) >= 0.35.
        from webindex.simsearch import all_pairs_above

        emb = _embeddings(spark, sf)
        pairs = all_pairs_above(emb, threshold=0.34995, n_planes=2, n_bands=32)
        return pairs.select("a", "b", F.round("cos", 4).alias("cos")).filter(
            F.col("cos") >= 0.35
        )

    def q_cosine_topk(spark, sf):
        emb = _embeddings(spark, sf)
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        hits = cosine_topk_bruteforce(emb.filter(F.col("vec_id") != 0), qvec, k=10)
        return hits.select("vec_id", F.round("cos", 4).alias("cos"))

    def q_cosine_topk_lsh(spark, sf):
        # probe_hamming=2 < n_planes=6: only 22 of 64 buckets are scanned, so
        # the pruning path actually runs. The oracle recomputes the SAME
        # bucket assignment in SQL (plane constants inlined) and takes the
        # cosine top-k over the probed candidates — an exact oracle of the
        # ANN semantics, not of brute force.
        emb = _embeddings(spark, sf)
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk_lsh(
            emb.filter(F.col("vec_id") != 0), qvec, k=10, n_planes=6, probe_hamming=2
        ).select("vec_id", F.round("cos", 4).alias("cos"))

    def bm25_topk_batch(spark, sf):
        # T-group batch path: MANY queries over one shared scan with
        # per-query block-max WAND pruning (webindex/query.py topk_batch)
        from webindex.query import topk_batch

        index = _index(spark, sf)
        hits = topk_batch(
            index,
            {"q1": "spark merge", "q2": "the data", "q3": "group scan batch"},
            k=10,
        )
        return hits.select(
            "query_id", "doc_id", F.round("score", 4).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )

    def bm25_best_fields(spark, sf):
        # T1 best_fields dis_max — the reference's actual multi_match shape
        # (elasticsearch.py:250-262): doc score = MAX over fields' BM25
        from webindex.query import topk_best_fields

        indexes = {"text": _index(spark, sf), "title": _index_title(spark, sf)}
        hits = topk_best_fields(indexes, "the data spark", k=10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_most_fields(spark, sf):
        # ES multi_match type=most_fields: doc score = SUM over fields'
        # BM25 (exhaustive per field — sum-merge isn't top-k decomposable)
        # (webindex/query.py topk_most_fields)
        from webindex.query import topk_most_fields

        indexes = {"text": _index(spark, sf), "title": _index_title(spark, sf)}
        hits = topk_most_fields(indexes, "the data spark", k=10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def knn_filtered(spark, sf):
        # ES knn with filter: cosine top-k over embeddings restricted to
        # docs matching "data" — filter applied DURING the search, so all
        # k hits match (webindex/simsearch.py cosine_topk_filtered)
        from webindex.simsearch import cosine_topk_filtered

        emb = _embeddings(spark, sf)
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        hits = cosine_topk_filtered(_index(spark, sf), emb, "data", qvec, k=10)
        return hits.select("vec_id", F.round("cos", 4).alias("cos"))

    def rrf_hybrid_search(spark, sf):
        # ES 8.8 hybrid search (rank: rrf): fuse the BM25 ranking of
        # "data merge" with the cosine-kNN ranking of vec 0's embedding,
        # rrf = sum over rankings of 1/(60 + rank), window 50
        # (webindex/simsearch.py rrf_hybrid)
        from webindex.simsearch import rrf_hybrid

        emb = _embeddings(spark, sf)
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        hits = rrf_hybrid(
            _index(spark, sf), emb, "data merge", qvec, k=10, window=50
        )
        return hits.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_match_bool_prefix(spark, sf):
        # ES match_bool_prefix (type-ahead): "data merge sp" — init terms
        # scored as should clauses, the last partial word as a
        # constant-score prefix clause (+1.0)
        # (webindex/query.py topk_match_bool_prefix)
        from webindex.query import topk_match_bool_prefix

        hits = topk_match_bool_prefix(_index(spark, sf), "data merge sp", k=10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    def bm25_cross_fields(spark, sf):
        # ES multi_match type=cross_fields: per-term BLENDED df (max across
        # fields), per-doc dis_max over the term's per-field contributions,
        # summed over terms (webindex/query.py topk_cross_fields)
        from webindex.query import topk_cross_fields

        indexes = {"text": _index(spark, sf), "title": _index_title(spark, sf)}
        hits = topk_cross_fields(indexes, "the data spark", k=10)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    # --- mapping tables / nested records (F5+J5, F9+F10) --------------------

    def spdx_resolve_q(spark, sf):
        # F5/J5: 6-rule SPDX license match chain over a broadcast mapping
        # table (reference utils.py:214-278); messy license strings are
        # derived deterministically from doc_id so the oracle can re-derive
        # them
        from webindex.mapping import resolve_spdx, spdx_license_table

        d = _docs(spark, sf)
        messy = F.element_at(
            F.array(*[F.lit(s) for s in _SPDX_MESSY]),
            (F.pmod(F.col("doc_id"), F.lit(len(_SPDX_MESSY))) + 1).cast("int"),
        )
        inputs = d.select("doc_id", messy.alias("license_str"))
        out = resolve_spdx(inputs, "license_str", spdx_license_table(spark))
        return out.select(
            "doc_id", "license_str", "spdx_url",
            F.col("spdx_rule").cast("long").alias("spdx_rule"),
        )

    def map_record_flatten(spark, sf):
        # F9/F10: map<string,array<struct>> record -> dotted flat keys ->
        # display-name rename via broadcast mapping (reference
        # elasticsearch.py:94-113 + dataType.py:29-65)
        from webindex.records import flatten_map_record, rename_flat_keys

        orders = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderkey") <= 3000
        )
        entry = lambda c: F.struct(c.cast("string").alias("value"))  # noqa: E731
        rec = orders.select(
            "o_orderkey",
            F.create_map(
                F.lit("customer"), F.array(entry(F.col("o_custkey"))),
                F.lit("status"), F.array(entry(F.col("o_orderstatus"))),
                F.lit("routing"),
                F.array(entry(F.col("o_orderpriority")), entry(F.col("o_orderstatus"))),
            ).alias("record"),
        )
        flat = flatten_map_record(rec, "o_orderkey", "record")
        mapping = spark.createDataFrame(
            [("customer", "customerRef"), ("routing", "routingChain")],
            "raw_key string, display_name string",
        )
        return rename_flat_keys(flat, mapping)

    def multimodal_features(spark, sf):
        # multimodal plumbing, driver-verified: opaque binary payloads
        # (text bytes here; images/audio on a real cluster) through the
        # Arrow mapInPandas extraction — the oracle recomputes the
        # engine-portable parts (byte length, md5); the decode step itself
        # stays an honestly-stubbed fake (no PIL/ffmpeg in this sandbox)
        from webindex.multimodal import extract_features

        d = _docs(spark, sf)
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
        feats = extract_features(media)
        return feats.select(
            "media_id", F.col("n_bytes").cast("long").alias("n_bytes"), "md5"
        )

    def multimodal_bmp_stats(spark, sf):
        # REAL image decode (round 4): deterministic constant-color BMP
        # payloads decoded by the pure-numpy 24-bit BMP decoder inside the
        # Arrow mapInPandas pass; channel means have closed forms the oracle
        # recomputes without touching the bytes
        # (webindex/multimodal.py decode_bmp / image_channel_stats)
        from webindex.multimodal import image_channel_stats, synth_bmp_media_df

        stats = image_channel_stats(synth_bmp_media_df(spark, n=50, size=8))
        return stats.select(
            "media_id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.round("r_mean", 4).alias("r_mean"),
            F.round("g_mean", 4).alias("g_mean"),
            F.round("b_mean", 4).alias("b_mean"),
        )

    # --- scalar function library (SURVEY.md §2.7 F-group) -------------------

    def fn_base64(spark, sf):
        from webindex.functions import decode_base64, encode_base64

        d = _docs(spark, sf)
        enc = encode_base64("source")
        return d.select("doc_id", enc.alias("b64"), decode_base64(enc).alias("roundtrip"))

    def fn_parse_datetime(spark, sf):
        from webindex.functions import parse_datetime

        ev = spark.read.parquet(f"{sf}/events.parquet")
        # render ts in a per-row format, then parse back via the fallback chain
        rendered = (
            F.when(F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
            .when(F.col("event_id") % 3 == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
            .otherwise(F.date_format("ts", "yyyy-MM-dd"))
        )
        return ev.select(
            "event_id",
            parse_datetime(rendered).cast("string").alias("parsed"),
        )

    def fn_normalize_url(spark, sf):
        from webindex.functions import normalize_url

        d = _docs(spark, sf)
        raw = F.concat(
            F.lit("HTTPS://www."), F.col("source"), F.lit(".Example/Licenses/page.HTML")
        )
        return d.select("doc_id", normalize_url(raw).alias("norm"))

    # --- relationship resolution (J1/J2 retry join + J3 edges) --------------

    def _resolve_inputs(spark, sf):
        orders = spark.read.parquet(f"{sf}/orders.parquet")
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        # simulate the reference's 'presumed pid' misses: odd orders carry a
        # broken primary key and must resolve via the alternate (name) key;
        # every 97th order is unresolvable -> quarantine
        updates = orders.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(-2))
            .when(F.col("o_orderkey") % 2 == 1, F.lit(-1))
            .otherwise(F.col("o_custkey"))
            .alias("presumed_key"),
            F.when(
                F.col("o_orderkey") % 97 == 0, F.lit("Customer#999999999")
            )
            .otherwise(
                F.concat(F.lit("Customer#"), F.lpad(F.col("o_custkey").cast("string"), 9, "0"))
            )
            .alias("presumed_name"),
        )
        return updates, cust

    def resolve_retry(spark, sf):
        from webindex.relations import resolve_with_retry

        updates, cust = _resolve_inputs(spark, sf)
        resolved, _ = resolve_with_retry(
            updates, cust,
            primary_key=("presumed_key", "c_custkey"),
            alternate_key=("presumed_name", "c_name"),
            target_cols=["c_nationkey"],
        )
        return resolved.select("o_orderkey", "c_nationkey", "resolved_by")

    def resolve_retry_quarantine(spark, sf):
        from webindex.relations import resolve_with_retry

        updates, cust = _resolve_inputs(spark, sf)
        _, quarantine = resolve_with_retry(
            updates, cust,
            primary_key=("presumed_key", "c_custkey"),
            alternate_key=("presumed_name", "c_name"),
            target_cols=["c_nationkey"],
        )
        return quarantine.select("o_orderkey", "presumed_key", "presumed_name")

    def bidir_edges(spark, sf):
        from webindex.relations import bidirectional_edges

        orders = spark.read.parquet(f"{sf}/orders.parquet")
        edges = orders.orderBy("o_orderkey").limit(200).select(
            F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst")
        )
        return bidirectional_edges(edges)

    def delete_visibility(spark, sf):
        """Round-5 query-time tombstone visibility (ES refresh semantics):
        ingest the documents corpus incrementally, tombstone ONE doc — the
        'merge'-matching doc with the smallest original id, deterministic
        in both engines — WITHOUT compacting, and return every matching
        doc's BM25 score through live_index(). The dead doc is absent from
        results while scores keep the PRE-delete corpus stats (Lucene
        live-docs: df/avgdl shrink only at the merge), which the oracle
        mirrors by scoring over the full corpus and excluding the victim.
        No top-k boundary -> no cross-engine tie-break sensitivity."""
        import atexit
        import shutil
        import tempfile

        from webindex.query import topk_wand
        from webindex.streaming import IncrementalIndexer

        docs = _docs(spark, sf).select(
            F.col("doc_id").alias("orig_id"),
            F.col("doc_id").cast("string").alias("url"),
            "text",
            F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.col("text").alias("html"),
        )
        victim = docs.filter(
            F.array_contains(tokens_col("text"), "merge")
        ).agg(F.min("orig_id")).collect()[0][0]
        wd = tempfile.mkdtemp(prefix="webindex_delvis_")
        # the returned DataFrame still reads wd: remove it at interpreter exit
        atexit.register(shutil.rmtree, wd, ignore_errors=True)
        ing = IncrementalIndexer(spark, wd, text_col="text")
        ing.upsert(docs.select("url", "text", "warc_ts", "html"))
        ing.delete([str(victim)], compact_now=False)
        live = ing.live_index()
        hits = topk_wand(live, "merge spark", k=live.n_docs)
        return hits.join(live.doc_stats, "doc_id").select(
            F.col("url").cast("long").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )

    # Registry ordering is deliberate: the driver's correctness gate samples
    # the FIRST 50 keys, so entries with the least cumulative driver evidence
    # come first. Tier 1 = never driver-checked before round 5; tier 2 =
    # green in r1-r3 but not re-run in r4; tier 3 = r4-green core re-confirm;
    # tier 4 = remaining r4-green entries.
    return {
        # -- tier 1: first driver check happens this round --
        "dedup_clusters": q_dedup_clusters,
        "dedup_canonical": q_dedup_canonical,
        "lang_train_ngram": q_lang_train,
        "lang_id_model": q_lang_id_model,
        "sample_mix": q_sample_mix,
        "pack_sequences": q_pack_sequences,
        "ccnet_ppl": q_ccnet_ppl,
        "subtoken_count": q_subtoken_count,
        "dup_span_stats": q_dup_span_stats,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "source_curation": q_source_curation,
        "agg_derivative": agg_derivative,
        "agg_cumulative_sum": agg_cumulative_sum,
        "agg_moving_avg": agg_moving_avg,
        "agg_stats_bucket": agg_stats_bucket,
        "agg_bucket_sort": agg_bucket_sort,
        "agg_percentile_ranks": agg_percentile_ranks,
        "agg_rare_terms": agg_rare_terms,
        "agg_multi_terms": agg_multi_terms,
        "span_near_ordered": span_near_ordered,
        "span_near_unordered": span_near_unordered,
        "intervals_all_of": intervals_all_of,
        "intervals_all_of_unordered": intervals_all_of_unordered,
        "intervals_filtered": intervals_filtered,
        "multi_index_search": multi_index_search,
        "suggest_phrase": suggest_phrase_q,
        "percolate_queries": percolate_queries,
        "term_vectors_read": term_vectors_read,
        "intervals_any_of": intervals_any_of,
        "agg_filters": agg_filters,
        "agg_adjacency": agg_adjacency,
        "agg_weighted_avg": agg_weighted_avg,
        "agg_matrix_stats": agg_matrix_stats,
        "agg_histogram_zerofill": agg_histogram_zerofill,
        "agg_missing": agg_missing,
        "delete_visibility": delete_visibility,
        "bm25_most_fields": bm25_most_fields,
        "bm25_cross_fields": bm25_cross_fields,
        "bm25_match_bool_prefix": bm25_match_bool_prefix,
        "rrf_hybrid": rrf_hybrid_search,
        "rrf_hybrid_weighted": rrf_hybrid_weighted,
        "knn_filtered": knn_filtered,
        "regexp_match": regexp_match,
        "bm25_range_filter": bm25_range_filter,
        "bm25_exists_filter": bm25_exists_filter,
        "terms_set_match": terms_set_match,
        "pinned_promote": pinned_promote,
        "multimodal_bmp_stats": multimodal_bmp_stats,
        # -- tier 2: green in r1-r3, not re-run in r4 --
        "coalesce_fallback": coalesce_fallback,
        "embedding_neardup": q_embedding_neardup,
        "exact_dedup": q_exact_dedup,
        "minhash_sig": q_minhash,
        "lsh_pairs": q_lsh_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_pairs": q_simhash_pairs,
        "token_count": q_token_count,
        "quality_score": q_quality,
        "fingerprint": q_fingerprint,
        "winnow_fp": q_winnow,
        "lang_id": q_lang_id,
        "cosine_topk": q_cosine_topk,
        "cosine_topk_lsh": q_cosine_topk_lsh,
        "fn_base64": fn_base64,
        "fn_parse_datetime": fn_parse_datetime,
        "fn_normalize_url": fn_normalize_url,
        "resolve_retry": resolve_retry,
        "resolve_retry_quarantine": resolve_retry_quarantine,
        "bidir_edges": bidir_edges,
        "bm25_topk_batch": bm25_topk_batch,
        "bm25_best_fields": bm25_best_fields,
        "spdx_resolve": spdx_resolve_q,
        "map_record_flatten": map_record_flatten,
        "multimodal_features": multimodal_features,
        # -- tier 3: r4-green core, re-confirmed every round --
        "doc_stats": doc_stats,
        "term_stats": term_stats,
        "postings_tf": postings_tf,
        "corpus_stats": corpus_stats,
        "bm25_topk": bm25_topk,
        "bm25_bool": bm25_bool,
        "bm25_phrase": bm25_phrase,
        "bm25_phrase_slop": bm25_phrase_slop,
        "agg_terms_lang": agg_terms_lang,
        "agg_composite": agg_composite,
        "bm25_function_score": bm25_function_score,
        "bm25_rescore": bm25_rescore,
        "bm25_synonyms": bm25_synonyms,
        "bm25_fuzzy": bm25_fuzzy,
        "bm25_fuzzy_gram": bm25_fuzzy_gram,
        "bm25_highlight": bm25_highlight,
        "bm25_search_after": bm25_search_after,
        "bm25_collapse": bm25_collapse,
        "agg_significant_terms": agg_significant_terms,
        "time_range_agg": time_range_agg,
        # -- tier 4: remaining r4-green entries --
        "bm25_topk_hot": bm25_topk_hot,
        "bm25_topk_rare": bm25_topk_rare,
        "bm25_match_and": bm25_match_and,
        "bm25_match_msm": bm25_match_msm,
        "agg_hist_nchars": agg_hist_nchars,
        "agg_stats": agg_stats,
        "agg_extended_stats": agg_extended_stats,
        "agg_percentiles": agg_percentiles,
        "agg_cardinality": agg_cardinality,
        "agg_range": agg_range,
        "agg_date_histogram": agg_date_histogram,
        "agg_top_hits": agg_top_hits,
        "agg_significant_sampled": agg_significant_sampled,
        "agg_significant_text": agg_significant_text,
        "search_sort_nchars": search_sort_nchars,
        "suggest_spell": suggest_spell,
        "suggest_spell_gram": suggest_spell_gram,
        "count_matches": count_matches_q,
        "bm25_boosting": bm25_boosting,
        "bm25_dismax": bm25_dismax,
        "bm25_sqs": bm25_sqs,
        "explain_score": explain_score,
        "complete_prefix": complete_prefix,
        "bm25_prefix": bm25_prefix,
        "bm25_phrase_prefix": bm25_phrase_prefix,
        "bm25_more_like_this": bm25_more_like_this,
        "ids_lookup": ids_lookup,
        "wildcard_match": wildcard_match,
        "bm25_phrase_batch": bm25_phrase_batch,
        "dedup_merge": dedup_merge,
        "argmax_largest_doc": argmax_largest_doc,
        "lookup_join": lookup_join,
        "union_categories": union_categories,
    }


def oracle_sql() -> dict[str, str]:
    toks = _TOKS_SQL
    sql: dict[str, str] = {}

    sql["doc_stats"] = f"SELECT doc_id, len({toks})::BIGINT AS doc_len FROM documents"

    sql["term_stats"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
c AS (SELECT count(*) AS n FROM tok),
df AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
)
SELECT term, df, round(ln(1.0 + (c.n - df + 0.5)/(df + 0.5)), 4) AS idf
FROM df CROSS JOIN c
"""

    sql["postings_tf"] = f"""
SELECT term, doc_id, count(*)::BIGINT AS tf
FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
GROUP BY term, doc_id
"""

    sql["corpus_stats"] = f"""
SELECT count(*)::BIGINT AS n_docs, round(avg(len({toks})), 4) AS avgdl FROM documents
"""

    sql["bm25_topk"] = _bm25_oracle_sql(["merge", "spark"], 10)
    # delete_visibility: the full 'merge spark' match set scored over the
    # FULL corpus stats (live_index keeps pre-delete df/avgdl — Lucene
    # live-docs semantics), minus the victim doc (the 'merge'-matching doc
    # with the smallest id — the same deterministic choice the entry makes)
    sql["delete_visibility"] = f"""
SELECT doc_id, round(score, 4) AS score
FROM ({_bm25_score_subquery(["merge", "spark"])})
WHERE doc_id != (
  SELECT min(doc_id)
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
  WHERE list_contains(toks, 'merge')
)
"""
    sql["bm25_topk_hot"] = _bm25_oracle_sql(["data", "the"], 10)
    sql["bm25_topk_rare"] = _bm25_oracle_sql(["batch", "group", "scan"], 10)
    sql["bm25_match_and"] = _bm25_match_oracle_sql(["data", "merge", "the"], 10, 3)
    sql["bm25_match_msm"] = _bm25_match_oracle_sql(["batch", "group", "scan"], 10, 2)
    sql["bm25_bool"] = _bm25_bool_oracle_sql(
        ["data"], ["merge", "batch"], ["slow"], ["the"], 10
    )
    sql["agg_terms_lang"] = f"""
SELECT lang, doc_count FROM (
  SELECT lang, count(*)::BIGINT AS doc_count
  FROM (SELECT doc_id, lang, {toks} AS tk FROM documents)
  WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
  GROUP BY lang ORDER BY doc_count DESC, lang ASC LIMIT 10
)
"""
    sql["agg_hist_nchars"] = f"""
SELECT (n_chars // 100) * 100 AS bucket, count(*)::BIGINT AS doc_count
FROM (SELECT doc_id, n_chars, {toks} AS tk FROM documents)
WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
GROUP BY bucket ORDER BY bucket
"""
    # shared "docs matching 'data merge'" filter for the agg-family oracles
    _m = f"""
m AS (
  SELECT doc_id, lang, source, n_chars
  FROM (SELECT doc_id, lang, source, n_chars, {toks} AS tk FROM documents)
  WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
)
"""
    sql["agg_stats"] = f"""
WITH {_m}
SELECT count(n_chars)::BIGINT AS count, min(n_chars)::DOUBLE AS min,
       max(n_chars)::DOUBLE AS max, round(avg(n_chars), 4) AS avg,
       sum(n_chars)::DOUBLE AS sum
FROM m
"""
    sql["agg_extended_stats"] = f"""
WITH {_m}
SELECT count(n_chars)::BIGINT AS count, min(n_chars)::DOUBLE AS min,
       max(n_chars)::DOUBLE AS max, round(avg(n_chars), 4) AS avg,
       sum(n_chars)::DOUBLE AS sum,
       sum(n_chars::DOUBLE * n_chars::DOUBLE) AS sum_of_squares,
       round(var_pop(n_chars), 4) AS variance,
       round(stddev_pop(n_chars), 4) AS std_deviation
FROM m
"""
    sql["agg_percentiles"] = f"""
WITH {_m},
q AS (
  SELECT quantile_cont(n_chars, [0.01, 0.25, 0.50, 0.75, 0.99]) AS vals FROM m
)
SELECT (unnest([1.0, 25.0, 50.0, 75.0, 99.0]))::DOUBLE AS percent,
       (round(unnest(vals), 4))::DOUBLE AS value
FROM q ORDER BY percent
"""
    sql["agg_cardinality"] = f"""
WITH {_m}
SELECT count(DISTINCT lang)::BIGINT AS value FROM m
"""
    sql["agg_range"] = f"""
WITH {_m}
SELECT key, doc_count FROM (
  SELECT 0 AS i, '*-100.0' AS key,
         coalesce(sum(CASE WHEN n_chars < 100 THEN 1 END), 0)::BIGINT AS doc_count
  FROM m
  UNION ALL
  SELECT 1, '100.0-300.0',
         coalesce(sum(CASE WHEN n_chars >= 100 AND n_chars < 300 THEN 1 END), 0)::BIGINT
  FROM m
  UNION ALL
  SELECT 2, '300.0-10000.0',
         coalesce(sum(CASE WHEN n_chars >= 300 AND n_chars < 10000 THEN 1 END), 0)::BIGINT
  FROM m
  UNION ALL
  SELECT 3, '10000.0-*',
         coalesce(sum(CASE WHEN n_chars >= 10000 THEN 1 END), 0)::BIGINT
  FROM m
) ORDER BY i
"""
    sql["agg_date_histogram"] = f"""
WITH {_m}
SELECT (date_trunc('month',
         TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 365) * INTERVAL 1 DAY
       ))::DATE AS bucket,
       count(*)::BIGINT AS doc_count
FROM m GROUP BY bucket ORDER BY bucket
"""
    sql["agg_composite"] = f"""
WITH {_m}
SELECT lang, source, count(*)::BIGINT AS doc_count
FROM m
WHERE (lang, source) > ('de', 'src3')
GROUP BY lang, source ORDER BY lang, source LIMIT 7
"""

    # shared monthly-bucket parent for the pipeline aggs (same derived ts
    # as agg_date_histogram)
    _dh = f"""WITH {_m},
b AS (
  SELECT (date_trunc('month',
           TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 365) * INTERVAL 1 DAY
         ))::DATE AS bucket,
         count(*)::BIGINT AS doc_count
  FROM m GROUP BY bucket
)"""

    sql["agg_derivative"] = f"""
{_dh}
SELECT bucket, doc_count,
       (doc_count - lag(doc_count) OVER (ORDER BY bucket))::DOUBLE AS derivative
FROM b ORDER BY bucket
"""

    sql["agg_cumulative_sum"] = f"""
{_dh}
SELECT bucket, doc_count,
       (sum(doc_count) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::DOUBLE
         AS cumulative_sum
FROM b ORDER BY bucket
"""

    sql["agg_moving_avg"] = f"""
{_dh}
SELECT bucket, doc_count,
       round(avg(doc_count) OVER
               (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg
FROM b ORDER BY bucket
"""

    sql["agg_stats_bucket"] = f"""
{_dh}
SELECT count(doc_count)::BIGINT AS count,
       min(doc_count)::DOUBLE AS min,
       max(doc_count)::DOUBLE AS max,
       round(avg(doc_count), 6) AS avg,
       sum(doc_count)::DOUBLE AS sum
FROM b
"""

    sql["agg_bucket_sort"] = f"""
WITH {_m},
parent AS (
  SELECT lang, count(*)::BIGINT AS doc_count
  FROM m GROUP BY lang ORDER BY doc_count DESC, lang ASC LIMIT 100
)
SELECT lang, doc_count FROM parent
ORDER BY doc_count ASC, lang ASC LIMIT 3 OFFSET 1
"""

    # exact percentile_ranks: one conditional-sum pass per the engine; the
    # oracle cross-joins the literal values list (non-empty match set at
    # sf0.01 by construction)
    sql["agg_percentile_ranks"] = f"""
WITH {_m}, vals(value) AS (VALUES (200.0), (400.0), (800.0))
SELECT value::DOUBLE AS value,
       round(100.0::DOUBLE * sum(CASE WHEN m.n_chars <= value THEN 1 ELSE 0 END)
             / count(*), 6) AS percent
FROM m, vals GROUP BY value ORDER BY value
"""

    # span_near: greedy-minimal ordered chain / closest-assignment
    # unordered — the span_near_docs contract clause by clause
    sql["span_near_ordered"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
a AS (SELECT doc_id, p AS p0 FROM pos WHERE term = 'the'),
b AS (SELECT doc_id, p FROM pos WHERE term = 'data'),
chain AS (
  SELECT a.doc_id, a.p0, min(b.p) AS p1
  FROM a JOIN b ON b.doc_id = a.doc_id AND b.p > a.p0
  GROUP BY a.doc_id, a.p0
)
SELECT doc_id, count(*)::BIGINT AS n_spans
FROM chain WHERE p1 - p0 - 1 <= 2
GROUP BY doc_id ORDER BY doc_id
"""

    sql["span_near_unordered"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
a AS (SELECT doc_id, p AS p0 FROM pos WHERE term = 'data'),
b AS (SELECT doc_id, p FROM pos WHERE term = 'merge'),
choice AS (
  SELECT a.doc_id, a.p0,
         arg_min(b.p, abs(b.p - a.p0) * 1048576 + b.p) AS p1
  FROM a JOIN b ON b.doc_id = a.doc_id
  GROUP BY a.doc_id, a.p0
)
SELECT doc_id, count(*)::BIGINT AS n_spans
FROM choice WHERE greatest(p1, p0) - least(p1, p0) <= 1 + 1
GROUP BY doc_id ORDER BY doc_id
"""

    # intervals: leaf spans -> greedy-minimal ordered chain over spans
    # (intervals_docs contract)
    _iv_ctes = f"""tok AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
s1 AS (
  SELECT a.doc_id, a.p0 AS s, min(b.p) AS e
  FROM (SELECT doc_id, p AS p0 FROM pos WHERE term = 'the') a
  JOIN (SELECT doc_id, p FROM pos WHERE term = 'data') b
    ON b.doc_id = a.doc_id AND b.p > a.p0
  GROUP BY a.doc_id, a.p0
  HAVING min(b.p) - a.p0 - 1 <= 0
),
m AS (SELECT doc_id, p FROM pos WHERE term = 'merge')"""

    sql["intervals_all_of"] = f"""
WITH {_iv_ctes},
chain AS (
  SELECT s1.doc_id, s1.s
  FROM s1 JOIN m ON m.doc_id = s1.doc_id AND m.p > s1.e
  GROUP BY s1.doc_id, s1.s, s1.e
  HAVING min(m.p) - s1.e - 1 <= 4
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM chain GROUP BY doc_id ORDER BY doc_id
"""

    # multi-index: each half scores with its own stats (the from_sql
    # parameter re-derives df/avgdl over just that half)
    _half = lambda p: f"(SELECT * FROM documents WHERE doc_id % 2 = {p})"  # noqa: E731
    sql["multi_index_search"] = f"""
SELECT index, doc_id, round(score, 4) AS score FROM (
  SELECT 'even' AS index, doc_id, score FROM (
    SELECT doc_id, score
    FROM ({_bm25_score_subquery(["data", "merge"], from_sql=_half(0))})
    ORDER BY score DESC, doc_id ASC LIMIT 10
  )
  UNION ALL
  SELECT 'odd', doc_id, score FROM (
    SELECT doc_id, score
    FROM ({_bm25_score_subquery(["data", "merge"], from_sql=_half(1))})
    ORDER BY score DESC, doc_id ASC LIMIT 10
  )
  ORDER BY score DESC, index ASC, doc_id ASC LIMIT 10
)
"""

    # phrase suggester: per-token candidates (levenshtein <= 2, top-3 by
    # dist asc / df desc / term asc — both inputs are absent from the
    # vocabulary, so the missing-token branch applies), cross-combined,
    # unigram-LM-minus-edit score, top-3, EXISTS collation
    sql["suggest_phrase"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS tk FROM documents),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
voc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct(tk)) AS term FROM tok)
  GROUP BY term
),
c1 AS (
  SELECT term, levenshtein(term, 'merg') AS dist, df,
         row_number() OVER (ORDER BY levenshtein(term, 'merg') ASC, df DESC, term ASC) AS rn
  FROM voc WHERE levenshtein(term, 'merg') <= 2
),
c2 AS (
  SELECT term, levenshtein(term, 'slwo') AS dist, df,
         row_number() OVER (ORDER BY levenshtein(term, 'slwo') ASC, df DESC, term ASC) AS rn
  FROM voc WHERE levenshtein(term, 'slwo') <= 2
),
combos AS (
  SELECT c1.term || ' ' || c2.term AS suggestion,
         round(ln(c1.df / n.n_docs) - c1.dist
               + ln(c2.df / n.n_docs) - c2.dist, 6) AS score,
         c1.term AS t1, c2.term AS t2
  FROM c1, c2, n WHERE c1.rn <= 3 AND c2.rn <= 3
),
top AS (
  SELECT suggestion, score, t1, t2 FROM combos
  ORDER BY score DESC, suggestion ASC LIMIT 3
)
SELECT suggestion, score,
       EXISTS (SELECT 1 FROM tok
               WHERE list_contains(tk, top.t1) AND list_contains(tk, top.t2))
         AS matched
FROM top ORDER BY score DESC, suggestion
"""

    sql["percolate_queries"] = f"""
WITH d AS (
  SELECT list_distinct({toks}) AS tk FROM documents WHERE doc_id = 0
),
q(query_id, terms, op) AS (VALUES
  (1, ['data', 'merge'], 'or'),
  (2, ['data', 'merge'], 'and'),
  (3, ['zzzabsent'], 'or'),
  (4, []::VARCHAR[], 'or'),
  (5, ['the', 'slow'], 'and')
),
m AS (
  SELECT query_id,
         len(list_intersect(terms, d.tk))::BIGINT AS n_hits,
         len(terms) AS n, op
  FROM q, d
)
SELECT query_id, n_hits FROM m
WHERE n > 0 AND n_hits >= CASE WHEN op = 'and' THEN n ELSE 1 END
ORDER BY query_id
"""

    sql["term_vectors_read"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents WHERE doc_id IN (0, 1, 2)),
pos AS (
  SELECT doc_id, tk[i] AS term, i - 1 AS p
  FROM t, unnest(generate_series(1, len(tk))) u(i)
)
SELECT doc_id, term, count(*)::BIGINT AS tf,
       array_to_string(list(p ORDER BY p), ',') AS pos_csv
FROM pos GROUP BY doc_id, term ORDER BY doc_id, term
"""

    sql["intervals_filtered"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
a AS (SELECT doc_id, p AS p0 FROM pos WHERE term = 'the'),
b AS (SELECT doc_id, p FROM pos WHERE term = 'data'),
m AS (SELECT doc_id, p FROM pos WHERE term = 'merge'),
chain AS (
  SELECT a.doc_id, a.p0 AS s, min(b.p) AS e
  FROM a JOIN b ON b.doc_id = a.doc_id AND b.p > a.p0
  GROUP BY a.doc_id, a.p0
  HAVING min(b.p) - a.p0 - 1 <= 3
),
kept AS (
  SELECT c.doc_id, c.s FROM chain c
  WHERE NOT EXISTS (
    SELECT 1 FROM m WHERE m.doc_id = c.doc_id AND m.p > c.e
  )
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM kept GROUP BY doc_id ORDER BY doc_id
"""

    sql["intervals_all_of_unordered"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(generate_series(0, len(toks) - 1)) AS p
  FROM tok
),
a AS (SELECT doc_id, p AS p0 FROM pos WHERE term = 'fast'),
b AS (SELECT doc_id, p FROM pos WHERE term = 'slow'),
choice AS (
  SELECT a.doc_id, a.p0,
         arg_min(b.p, abs(b.p - a.p0) * 1048576 + b.p) AS p1
  FROM a JOIN b ON b.doc_id = a.doc_id
  GROUP BY a.doc_id, a.p0
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM choice WHERE abs(p1 - p0) - 1 <= 5
GROUP BY doc_id ORDER BY doc_id
"""

    sql["intervals_any_of"] = f"""
WITH {_iv_ctes},
u AS (
  SELECT doc_id FROM s1
  UNION ALL
  SELECT doc_id FROM m
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM u GROUP BY doc_id ORDER BY doc_id
"""

    _tk_doc = f"(SELECT doc_id, lang, n_chars, {toks} AS tk FROM documents)"
    sql["agg_filters"] = f"""
SELECT * FROM (
  SELECT 'd' AS key, count(*)::BIGINT AS doc_count FROM {_tk_doc} WHERE list_contains(tk, 'data')
  UNION ALL
  SELECT 'm', count(*)::BIGINT FROM {_tk_doc} WHERE list_contains(tk, 'merge')
  UNION ALL
  SELECT 's', count(*)::BIGINT FROM {_tk_doc} WHERE list_contains(tk, 'slow')
) ORDER BY key
"""

    sql["agg_adjacency"] = f"""
SELECT key, doc_count FROM (
  SELECT 'd' AS key, count(*)::BIGINT AS doc_count FROM {_tk_doc} WHERE list_contains(tk, 'data')
  UNION ALL SELECT 'm', count(*)::BIGINT FROM {_tk_doc} WHERE list_contains(tk, 'merge')
  UNION ALL SELECT 's', count(*)::BIGINT FROM {_tk_doc} WHERE list_contains(tk, 'slow')
  UNION ALL SELECT 'd&m', count(*)::BIGINT FROM {_tk_doc}
    WHERE list_contains(tk, 'data') AND list_contains(tk, 'merge')
  UNION ALL SELECT 'd&s', count(*)::BIGINT FROM {_tk_doc}
    WHERE list_contains(tk, 'data') AND list_contains(tk, 'slow')
  UNION ALL SELECT 'm&s', count(*)::BIGINT FROM {_tk_doc}
    WHERE list_contains(tk, 'merge') AND list_contains(tk, 'slow')
) WHERE doc_count > 0 ORDER BY key
"""

    sql["agg_weighted_avg"] = f"""
SELECT round(sum(n_chars::DOUBLE * len(tk))::DOUBLE / sum(len(tk))::DOUBLE, 6)
         AS weighted_avg
FROM {_tk_doc}
WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
"""

    sql["agg_matrix_stats"] = f"""
WITH j AS (
  SELECT n_chars::DOUBLE AS n_chars, len(tk)::DOUBLE AS n_toks
  FROM {_tk_doc}
  WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
)
SELECT * FROM (
  SELECT 'n_chars' AS field_x, 'n_chars' AS field_y, round(avg(n_chars), 6) AS mean_x,
         round(covar_pop(n_chars, n_chars), 6) AS covariance,
         round(corr(n_chars, n_chars), 6) AS correlation FROM j
  UNION ALL
  SELECT 'n_chars', 'n_toks', round(avg(n_chars), 6),
         round(covar_pop(n_chars, n_toks), 6), round(corr(n_chars, n_toks), 6) FROM j
  UNION ALL
  SELECT 'n_toks', 'n_chars', round(avg(n_toks), 6),
         round(covar_pop(n_toks, n_chars), 6), round(corr(n_toks, n_chars), 6) FROM j
  UNION ALL
  SELECT 'n_toks', 'n_toks', round(avg(n_toks), 6),
         round(covar_pop(n_toks, n_toks), 6), round(corr(n_toks, n_toks), 6) FROM j
) ORDER BY field_x, field_y
"""

    sql["agg_histogram_zerofill"] = f"""
WITH c AS (
  SELECT (n_chars // 100) * 100 AS bucket, count(*)::BIGINT AS n
  FROM {_tk_doc}
  WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
  GROUP BY bucket
)
SELECT g.bucket::BIGINT AS bucket, coalesce(c.n, 0)::BIGINT AS doc_count
FROM (SELECT unnest(generate_series(0, 1500, 100)) AS bucket) g
LEFT JOIN c ON c.bucket = g.bucket
ORDER BY bucket
"""

    sql["agg_missing"] = f"""
SELECT sum(CASE WHEN nullif(lang, 'en') IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS doc_count
FROM {_tk_doc}
WHERE list_contains(tk, 'data') OR list_contains(tk, 'merge')
"""

    sql["agg_rare_terms"] = f"""
SELECT source, count(*)::BIGINT AS doc_count
FROM (SELECT doc_id, source, {toks} AS tk FROM documents)
WHERE list_contains(tk, 'slow')
GROUP BY source HAVING count(*) <= 18
ORDER BY doc_count ASC, source ASC
"""

    sql["agg_multi_terms"] = f"""
WITH {_m}
SELECT lang, source, count(*)::BIGINT AS doc_count
FROM m GROUP BY lang, source
ORDER BY doc_count DESC, lang ASC, source ASC LIMIT 7
"""
    sql["agg_top_hits"] = f"""
WITH s AS ({_bm25_score_subquery(["data", "merge"])})
SELECT "group", rank, doc_id, score FROM (
  SELECT d.lang AS "group",
         row_number() OVER (
           PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC
         )::INT AS rank,
         s.doc_id, round(s.score, 4) AS score
  FROM s JOIN documents d USING (doc_id)
) WHERE rank <= 2 ORDER BY "group", rank
"""
    sql["agg_significant_sampled"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
c AS (SELECT count(*) AS n FROM tok),
s AS ({_bm25_score_subquery(["slow"])}),
top AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id ASC LIMIT 30),
fg AS (SELECT t.doc_id, t.toks FROM tok t JOIN top USING (doc_id)),
fgsize AS (SELECT count(*) AS s FROM fg),
fgc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
  FROM (SELECT doc_id, unnest(toks) AS term FROM fg) GROUP BY term
),
bdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
)
SELECT term, fg_count, round(score, 4) AS score
FROM (
  SELECT f.term, f.fg_count,
         ((f.fg_count / CAST(fgsize.s AS DOUBLE)) - (b.df / CAST(c.n AS DOUBLE)))
         * ((f.fg_count / CAST(fgsize.s AS DOUBLE)) / (b.df / CAST(c.n AS DOUBLE)))
           AS score
  FROM fgc f JOIN bdf b USING(term) CROSS JOIN fgsize CROSS JOIN c
  WHERE f.term <> 'slow' AND f.fg_count >= 3
  ORDER BY score DESC, term ASC LIMIT 10
)
"""
    sql["bm25_function_score"] = f"""
WITH s AS ({_bm25_score_subquery(["merge", "spark"])})
SELECT doc_id, round(s.score * ln(1 + d.n_chars), 4) AS score
FROM s JOIN documents d USING (doc_id)
ORDER BY s.score * ln(1 + d.n_chars) DESC, doc_id ASC LIMIT 10
"""
    sql["search_sort_nchars"] = f"""
SELECT doc_id, n_chars
FROM (SELECT doc_id, n_chars, {toks} AS tk FROM documents)
WHERE list_contains(tk, 'merge') OR list_contains(tk, 'spark')
ORDER BY n_chars DESC, doc_id ASC LIMIT 10
"""
    sql["bm25_boosting"] = f"""
WITH s AS ({_bm25_score_subquery(["data", "merge"])}),
neg AS (
  SELECT doc_id FROM (SELECT doc_id, {toks} AS tk FROM documents)
  WHERE list_contains(tk, 'slow')
),
adj AS (
  SELECT s.doc_id,
         CASE WHEN s.doc_id IN (SELECT doc_id FROM neg)
              THEN s.score * 0.4 ELSE s.score END AS score
  FROM s
)
SELECT doc_id, round(score, 4) AS score
FROM adj ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    sql["bm25_dismax"] = f"""
WITH s0 AS ({_bm25_score_subquery(["data", "merge"])}),
s1 AS ({_bm25_score_subquery(["index", "the"])}),
j AS (
  SELECT coalesce(s0.doc_id, s1.doc_id) AS doc_id,
         coalesce(s0.score, 0.0) AS a, coalesce(s1.score, 0.0) AS b
  FROM s0 FULL JOIN s1 ON s0.doc_id = s1.doc_id
)
SELECT doc_id,
       round(greatest(a, b) + 0.3 * (a + b - greatest(a, b)), 4) AS score
FROM j
ORDER BY greatest(a, b) + 0.3 * (a + b - greatest(a, b)) DESC, doc_id ASC
LIMIT 10
"""
    sql["bm25_collapse"] = f"""
WITH s AS ({_bm25_score_subquery(["data", "merge"])}),
ranked AS (
  SELECT s.doc_id, d.lang, s.score,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, round(score, 4) AS score
FROM ranked WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    sql["bm25_synonyms"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS tk FROM documents),
d AS (SELECT doc_id, len(tk) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM tok)
  WHERE term IN ('data', 'merge', 'index') GROUP BY doc_id, term
),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
gmap(term, grp) AS (VALUES ('data', 0), ('merge', 0), ('index', 1)),
gtf AS (
  SELECT doc_id, grp, sum(tf)::BIGINT AS gtf
  FROM tf JOIN gmap USING (term) GROUP BY doc_id, grp
),
gdf AS (
  SELECT grp, max(df.df) AS gdf
  FROM df JOIN gmap USING (term) GROUP BY grp
),
contrib AS (
  SELECT gtf.doc_id, gtf.grp,
         ln(1.0 + (c.n - gdf.gdf + 0.5)/(gdf.gdf + 0.5))
         * gtf.gtf / (gtf.gtf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl))
         AS contrib
  FROM gtf JOIN gdf USING (grp) JOIN d USING (doc_id) CROSS JOIN c
)
SELECT doc_id, round(list_sum(list(contrib ORDER BY grp)), 4) AS score
FROM contrib GROUP BY doc_id
ORDER BY list_sum(list(contrib ORDER BY grp)) DESC, doc_id ASC LIMIT 10
"""
    sql["bm25_rescore"] = f"""
WITH base AS (
  SELECT doc_id, score FROM ({_bm25_score_subquery(["data", "merge"])})
  ORDER BY score DESC, doc_id ASC LIMIT 40
),
ph AS ({_bm25_phrase_score_sql(["the", "data"])})
SELECT base.doc_id,
       round(1.0 * base.score + 2.0 * coalesce(ph.score, 0.0), 4) AS score
FROM base LEFT JOIN ph ON base.doc_id = ph.doc_id
ORDER BY 1.0 * base.score + 2.0 * coalesce(ph.score, 0.0) DESC,
         base.doc_id ASC
LIMIT 10
"""
    sql["bm25_sqs"] = f"""
WITH s0 AS ({_bm25_score_subquery(["data"])}),
s1 AS ({_bm25_phrase_score_sql(["the", "data"])}),
neg AS (
  SELECT doc_id FROM (SELECT doc_id, {toks} AS tk FROM documents)
  WHERE list_contains(tk, 'slow')
),
j AS (
  SELECT coalesce(s0.doc_id, s1.doc_id) AS doc_id,
         coalesce(s0.score, 0.0) + coalesce(s1.score, 0.0) AS score
  FROM s0 FULL JOIN s1 ON s0.doc_id = s1.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM j WHERE doc_id NOT IN (SELECT doc_id FROM neg)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    sql["count_matches"] = f"""
WITH {_m}
SELECT count(*)::BIGINT AS count FROM m
"""
    sql["explain_score"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT term, count(*)::BIGINT AS tf
  FROM (SELECT unnest(toks) AS term FROM tok WHERE doc_id = 7)
  WHERE term IN ('data', 'merge', 'the') GROUP BY term
),
alldf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
)
SELECT tf.term, tf.tf,
       (SELECT dl FROM d WHERE doc_id = 7)::BIGINT AS doc_len,
       round(ln(1.0 + (c.n - a.df + 0.5)/(a.df + 0.5)), 4) AS idf,
       round(ln(1.0 + (c.n - a.df + 0.5)/(a.df + 0.5)) * tf.tf
             / (tf.tf + {K1} * (1 - {B} + {B} * (SELECT dl FROM d WHERE doc_id = 7) / c.avgdl)),
             4) AS contrib
FROM tf JOIN alldf a USING (term) CROSS JOIN c
ORDER BY tf.term
"""
    sql["complete_prefix"] = f"""
SELECT term AS suggestion, count(DISTINCT doc_id)::BIGINT AS df
FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, suggestion ASC LIMIT 5
"""
    sql["suggest_spell"] = f"""
WITH vocab AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents) GROUP BY term
),
q AS (SELECT unnest(['datta', 'mrge', 'the']) AS input),
miss AS (SELECT input FROM q WHERE input NOT IN (SELECT term FROM vocab)),
cand AS (
  SELECT m.input, v.term AS suggestion,
         levenshtein(v.term, m.input)::INT AS distance, v.df
  FROM miss m JOIN vocab v
    ON abs(len(v.term) - len(m.input)) <= 2
   AND levenshtein(v.term, m.input) BETWEEN 1 AND 2
)
SELECT input, suggestion, distance, df FROM (
  SELECT *, row_number() OVER (
    PARTITION BY input ORDER BY distance ASC, df DESC, suggestion ASC
  ) AS rn FROM cand
) WHERE rn <= 3 ORDER BY input, distance, df DESC, suggestion
"""
    sql["bm25_search_after"] = f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, score FROM ({_bm25_score_subquery(["data", "merge"])})
  ORDER BY score DESC, doc_id ASC LIMIT 10 OFFSET 10
)
"""
    sql["wildcard_match"] = f"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT doc_id, {toks} AS tk FROM documents)
WHERE len(list_filter(tk, t -> t LIKE 'me_ge')) > 0
ORDER BY doc_id ASC LIMIT 10
"""
    sql["ids_lookup"] = f"""
SELECT doc_id, CAST(doc_id AS VARCHAR) AS url, len({toks})::BIGINT AS doc_len
FROM documents WHERE doc_id IN (0, 5, 17, 123456789) ORDER BY doc_id
"""
    sql["bm25_more_like_this"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
liketf AS (
  SELECT term, count(*)::BIGINT AS ltf
  FROM (SELECT unnest(toks) AS term FROM tok WHERE doc_id = 0) GROUP BY term
),
alldf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
),
sel AS (
  SELECT l.term, a.df, ln(1.0 + (c.n - a.df + 0.5)/(a.df + 0.5)) AS idf
  FROM liketf l JOIN alldf a USING(term) CROSS JOIN c
  WHERE l.ltf >= 1 AND a.df >= 2
  ORDER BY l.ltf * ln(1.0 + (c.n - a.df + 0.5)/(a.df + 0.5)) DESC, l.term ASC
  LIMIT 5
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         s.idf * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl))
           AS contrib
  FROM tf JOIN sel s USING(term) JOIN d USING(doc_id) CROSS JOIN c
)
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, list_sum(list(contrib ORDER BY term)) AS score
  FROM contrib GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)
"""
    sql["agg_significant_terms"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
c AS (SELECT count(*) AS n FROM tok),
fg AS (SELECT doc_id, toks FROM tok WHERE list_contains(toks, 'slow')),
fgsize AS (SELECT count(*) AS s FROM fg),
fgc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
  FROM (SELECT doc_id, unnest(toks) AS term FROM fg) GROUP BY term
),
bdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
)
SELECT term, fg_count, round(score, 4) AS score
FROM (
  SELECT f.term, f.fg_count,
         ((f.fg_count / CAST(fgsize.s AS DOUBLE)) - (b.df / CAST(c.n AS DOUBLE)))
         * ((f.fg_count / CAST(fgsize.s AS DOUBLE)) / (b.df / CAST(c.n AS DOUBLE)))
           AS score
  FROM fgc f JOIN bdf b USING(term) CROSS JOIN fgsize CROSS JOIN c
  WHERE f.term <> 'slow' AND f.fg_count >= 3
  ORDER BY score DESC, term ASC LIMIT 10
)
"""
    sql["bm25_phrase_prefix"] = _bm25_phrase_prefix_oracle_sql(["the"], "s", 10)
    sql["bm25_prefix"] = f"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT doc_id, {toks} AS tk FROM documents)
WHERE len(list_filter(tk, t -> t LIKE 'mer%')) > 0
ORDER BY doc_id ASC LIMIT 10
"""
    sql["bm25_fuzzy"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
d AS (SELECT doc_id, len(toks) AS dl FROM tok),
c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
alltf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY doc_id, term
),
alldf AS (SELECT term, count(*)::BIGINT AS df FROM alltf GROUP BY term),
exp AS (
  SELECT term, df FROM alldf WHERE levenshtein(term, 'merge') <= 1
  ORDER BY df DESC, term ASC LIMIT 50
),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (c.n - e.df + 0.5)/(e.df + 0.5))
         * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * d.dl / c.avgdl)) AS contrib
  FROM alltf tf JOIN exp e USING(term) JOIN d ON tf.doc_id = d.doc_id CROSS JOIN c
)
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT doc_id, max(contrib) AS score FROM contrib GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10
)
"""
    hl_terms = ["data", "merge"]
    hl_termlist = ", ".join(f"'{t}'" for t in hl_terms)
    sql["bm25_highlight"] = f"""
SELECT doc_id, round(score, 4) AS score, hl_term, hl_pos
FROM (
  SELECT c.doc_id, c.score, d.term AS hl_term,
         list_position(k.toks, d.term) - 1 AS hl_pos,
         row_number() OVER (
           PARTITION BY c.doc_id ORDER BY d.df ASC, d.term ASC
         ) AS rn
  FROM (
    SELECT doc_id, score FROM ({_bm25_score_subquery(hl_terms)})
    ORDER BY score DESC, doc_id ASC LIMIT 10
  ) c
  JOIN (SELECT doc_id, {toks} AS toks FROM documents) k USING(doc_id)
  JOIN (
    SELECT term, count(DISTINCT doc_id)::BIGINT AS df
    FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
    WHERE term IN ({hl_termlist}) GROUP BY term
  ) d ON list_contains(k.toks, d.term)
) WHERE rn = 1
"""
    sql["bm25_phrase"] = _bm25_phrase_oracle_sql(["the", "data"], 10)
    sql["bm25_phrase_slop"] = _bm25_phrase_slop_oracle_sql(["the", "data"], 2, 10)
    sql["bm25_phrase_batch"] = _bm25_phrase_batch_oracle_sql(
        {"p1": ["the", "data"], "p2": ["data", "the"], "p3": ["the", "the"]}, 10
    )

    sql["time_range_agg"] = """
SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'
GROUP BY event_type
"""

    sql["dedup_merge"] = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       count(*)::BIGINT AS n_events
FROM events GROUP BY user_id
"""

    sql["argmax_largest_doc"] = f"""
SELECT doc_id, len({toks})::BIGINT AS n_tokens
FROM documents ORDER BY n_tokens DESC, doc_id ASC LIMIT 1
"""

    sql["lookup_join"] = """
SELECT c_nationkey, count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""

    sql["union_categories"] = """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id FROM events WHERE event_type = 'view'
)
"""

    sql["coalesce_fallback"] = """
SELECT event_id, coalesce(nullif(props, ''), event_type) AS resolved FROM events
"""

    sql["exact_dedup"] = f"""
SELECT md5(array_to_string({toks}, ' ')) AS content_hash,
       min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY 1
"""

    # minhash: sig_i = min over 3-gram shingles of md5('i:' || shingle)
    shingle_cte = f"""
WITH tok AS (SELECT doc_id, {toks} AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN []
              ELSE list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         END AS shingles
  FROM tok
)
"""
    sql["minhash_sig"] = (
        shingle_cte
        + """
SELECT doc_id,
       list_min(list_transform(shingles, s -> md5('0:' || s))) AS h0,
       list_min(list_transform(shingles, s -> md5('1:' || s))) AS h1,
       list_min(list_transform(shingles, s -> md5('2:' || s))) AS h2,
       list_min(list_transform(shingles, s -> md5('3:' || s))) AS h3
FROM sh
"""
    )

    sql["lsh_pairs"] = (
        shingle_cte
        + """
, sig AS (
  SELECT doc_id,
         [list_min(list_transform(shingles, s -> md5('0:' || s))),
          list_min(list_transform(shingles, s -> md5('1:' || s))),
          list_min(list_transform(shingles, s -> md5('2:' || s))),
          list_min(list_transform(shingles, s -> md5('3:' || s))),
          list_min(list_transform(shingles, s -> md5('4:' || s))),
          list_min(list_transform(shingles, s -> md5('5:' || s))),
          list_min(list_transform(shingles, s -> md5('6:' || s))),
          list_min(list_transform(shingles, s -> md5('7:' || s)))] AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(sig[band*2+1 : band*2+2], '|')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(band)
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
"""
    )

    # LSH pairs -> connected components, as a recursive min-label fixpoint:
    # the component minimum's label reaches every member (min < any other
    # node, so the `lbl < v` propagation guard never blocks it) and no
    # smaller label exists in the component, so min(lbl) per node IS the
    # component min — exactly connected_components' cluster_id contract.
    _cc_cte = (
        shingle_cte.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + """
, sig AS (
  SELECT doc_id,
         [list_min(list_transform(shingles, s -> md5('0:' || s))),
          list_min(list_transform(shingles, s -> md5('1:' || s))),
          list_min(list_transform(shingles, s -> md5('2:' || s))),
          list_min(list_transform(shingles, s -> md5('3:' || s))),
          list_min(list_transform(shingles, s -> md5('4:' || s))),
          list_min(list_transform(shingles, s -> md5('5:' || s))),
          list_min(list_transform(shingles, s -> md5('6:' || s))),
          list_min(list_transform(shingles, s -> md5('7:' || s)))] AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(sig[band*2+1 : band*2+2], '|')) AS bucket
  FROM sig, unnest([0,1,2,3]) AS u(band)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
walk(id, lbl) AS (
  SELECT u AS id, u AS lbl FROM (SELECT DISTINCT u FROM e) n
  UNION
  SELECT e.v AS id, w.lbl AS lbl
  FROM walk w JOIN e ON e.u = w.id
  WHERE w.lbl < e.v
),
cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id)
"""
    )
    sql["dedup_clusters"] = _cc_cte + "SELECT doc_id, cluster_id FROM cc"
    sql["dedup_canonical"] = (
        _cc_cte
        + """
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id
"""
    )

    # exact all-pairs ground truth; the Spark entry runs the banded-LSH scale
    # path and must find every one of these pairs (verified: all fixture
    # near-dup pairs sit at jaccard >= 0.9, far above the LSH miss region)
    sql["ngram_jaccard"] = (
        shingle_cte
        + """
, ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh)
SELECT x.doc_id AS a, y.doc_id AS b,
       round(len(list_intersect(x.sh, y.sh))::DOUBLE
             / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
FROM ds x JOIN ds y ON x.doc_id < y.doc_id
WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
      / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8
"""
    )

    # SimHash: fingerprints recomputed bit-identically in SQL —
    # md5_number_upper == little-endian first 8 md5 bytes (the engine's
    # per-token hash), then the same +cnt/-cnt bit voting; pairs = exact
    # all-pairs Hamming <= 10 (the Spark side blocks on 11 pigeonhole chunks,
    # which is recall-exact at that radius).
    sql["simhash_pairs"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
tc AS (SELECT doc_id, tok, count(*)::BIGINT AS cnt FROM tok GROUP BY doc_id, tok),
th AS (SELECT doc_id, cnt, md5_number_upper(tok) AS h FROM tc),
acc AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS a
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
  GROUP BY doc_id, i
),
fpx AS (
  SELECT doc_id,
         sum(CASE WHEN a > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END)::UBIGINT AS f
  FROM acc GROUP BY doc_id
),
fp AS (
  SELECT d.doc_id, coalesce(fpx.f, 0::UBIGINT) AS f
  FROM documents d LEFT JOIN fpx USING (doc_id)
)
SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.f, y.f))::BIGINT AS hamming
FROM fp x JOIN fp y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.f, y.f)) <= 10
"""

    sql["token_count"] = f"""
SELECT doc_id, len({toks})::BIGINT AS n_tokens,
       len(list_distinct({toks}))::BIGINT AS n_unique_tokens
FROM documents
"""

    _en_stop = "['the','and','of','to','in','is','it','that','for','was']"
    sql["quality_score"] = f"""
WITH t AS (
  SELECT doc_id, {toks} AS tk, text FROM documents
),
m AS (
  SELECT doc_id,
         len(tk)::DOUBLE AS n,
         len(list_distinct(tk))::DOUBLE AS uniq,
         len(list_filter(tk, x -> list_contains({_en_stop}, x)))::DOUBLE AS n_stop,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE AS alnum,
         greatest(length(text)::DOUBLE, 1.0) AS total
  FROM t
)
SELECT doc_id,
       round(CASE WHEN n > 0 THEN uniq / n ELSE 0 END, 6) AS diversity,
       round(alnum / total, 6) AS alpha_ratio,
       round(0.4 * least(n / 100.0, 1.0)
             + 0.3 * (CASE WHEN n > 0 THEN uniq / n ELSE 0 END)
             + 0.2 * (alnum / total)
             + 0.1 * least(5.0 * (CASE WHEN n > 0 THEN n_stop / n ELSE 0 END), 1.0),
             6) AS quality
FROM m
"""

    sql["fingerprint"] = f"""
SELECT doc_id, md5(array_to_string({toks}, ' ')) AS fp FROM documents
"""

    # winnowing: same k-gram md5 + window-min + distinct as the Spark side
    _wk, _ww = 5, 4
    sql["winnow_fp"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(tk) - {_wk - 1}, 0)),
                        i -> md5(array_to_string(tk[i:i+{_wk - 1}], ' '))) AS grams
  FROM t
),
w AS (
  SELECT doc_id, grams,
         len(grams) - {_ww - 1} AS n_win
  FROM g
),
fps AS (
  SELECT doc_id,
         CASE
           WHEN n_win >= 1 THEN list_distinct(
             list_transform(generate_series(1, n_win),
                            j -> list_min(grams[j:j+{_ww - 1}])))
           WHEN len(grams) >= 1 THEN [list_min(grams)]
           ELSE []
         END AS fp_list
  FROM w
)
SELECT doc_id, unnest(fp_list) AS fp FROM fps
"""

    # explicit double math, sequential i=1..dim — the SAME summation order as
    # Spark's aggregate(zip_with(...)) so the doubles agree exactly
    sql["cosine_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, len(embedding)),
                                 i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                                      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nv,
         sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                                      i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) AS nq
  FROM embeddings CROSS JOIN q
  WHERE vec_id != 0
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT vec_id,
         CASE WHEN nv > 0 AND nq > 0 THEN dot / (nv * nq) ELSE 0 END AS cos
  FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)
"""

    sql["cosine_topk_lsh"] = _lsh_topk_oracle_sql(
        n_planes=6, probe_hamming=2, k=10, dim=64, seed=42
    )

    sql["fn_base64"] = """
SELECT doc_id, to_base64(encode(source)) AS b64, source AS roundtrip FROM documents
"""

    sql["fn_parse_datetime"] = """
SELECT event_id,
       CASE
         WHEN event_id % 3 = 0 THEN strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
         WHEN event_id % 3 = 1 THEN strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
         ELSE strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d')
       END::VARCHAR AS parsed
FROM events
"""

    sql["fn_normalize_url"] = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower('https://www.' || source || '.example/licenses/page.html'),
                                  '\\s+', '', 'g'),
                   '^https?://', ''),
                 '^www\\.', ''),
               'legalcode$', ''),
             '\\.(json|html|txt|md|xml|rdf)$', ''),
           '\\blicenses\\b', 'license'),
         '/+$', '') AS norm
FROM documents
"""

    _updates_cte = """
WITH updates AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN -2
              WHEN o_orderkey % 2 = 1 THEN -1
              ELSE o_custkey END AS presumed_key,
         CASE WHEN o_orderkey % 97 = 0 THEN 'Customer#999999999'
              ELSE 'Customer#' || lpad(o_custkey::VARCHAR, 9, '0') END AS presumed_name
  FROM orders
)
"""
    sql["resolve_retry"] = (
        _updates_cte
        + """
, p1 AS (
  SELECT u.*, c.c_nationkey AS nk1 FROM updates u
  LEFT JOIN customer c ON u.presumed_key = c.c_custkey
),
p2 AS (
  SELECT p1.*, c.c_nationkey AS nk2 FROM p1
  LEFT JOIN customer c ON p1.nk1 IS NULL AND p1.presumed_name = c.c_name
)
SELECT o_orderkey,
       coalesce(nk1, nk2) AS c_nationkey,
       CASE WHEN nk1 IS NOT NULL THEN 'primary' ELSE 'alternate' END AS resolved_by
FROM p2 WHERE coalesce(nk1, nk2) IS NOT NULL
"""
    )

    sql["resolve_retry_quarantine"] = (
        _updates_cte
        + """
SELECT u.o_orderkey, u.presumed_key, u.presumed_name
FROM updates u
LEFT JOIN customer c1 ON u.presumed_key = c1.c_custkey
LEFT JOIN customer c2 ON u.presumed_name = c2.c_name
WHERE c1.c_custkey IS NULL AND c2.c_custkey IS NULL
"""
    )

    sql["bidir_edges"] = """
WITH e AS (
  SELECT o_custkey AS src, o_orderkey AS dst FROM orders ORDER BY o_orderkey LIMIT 200
)
SELECT src, dst, 'forward' AS direction FROM e
UNION ALL
SELECT dst AS src, src AS dst, 'reverse' AS direction FROM e
"""

    # exact cosine near-dup pairs: same sequential double math as cosine_topk
    sql["embedding_neardup"] = """
WITH v AS (SELECT vec_id, embedding FROM embeddings),
p AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         list_sum(list_transform(generate_series(1, len(x.embedding)),
                                 i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(generate_series(1, len(x.embedding)),
                                         i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(generate_series(1, len(y.embedding)),
                                           i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)))) AS cos
  FROM v x JOIN v y ON x.vec_id < y.vec_id
)
SELECT a, b, round(cos, 4) AS cos FROM p WHERE round(cos, 4) >= 0.35
"""

    # best_fields dis_max: max over per-field scores; title field = first 3
    # tokens (same derivation as _index_title). FULL OUTER merge because a
    # doc can match in one field only.
    _terms_bf = ["data", "spark", "the"]
    _title_toks = f"({_TOKS_SQL})[1:3]"
    sql["bm25_best_fields"] = f"""
WITH sA AS ({_bm25_score_subquery(_terms_bf)}),
sB AS ({_bm25_score_subquery(_terms_bf, _title_toks)}),
merged AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         greatest(coalesce(a.score, -1e308), coalesce(b.score, -1e308)) AS score
  FROM sA a FULL OUTER JOIN sB b ON a.doc_id = b.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM merged ORDER BY score DESC, doc_id ASC LIMIT 10)
"""

    # most_fields: SUM over per-field scores (field-name-ascending order:
    # text then title), exhaustive per field — sum-merge is not top-k
    # decomposable
    sql["bm25_most_fields"] = f"""
WITH sA AS ({_bm25_score_subquery(_terms_bf)}),
sB AS ({_bm25_score_subquery(_terms_bf, _title_toks)}),
merged AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.score, 0.0) + coalesce(b.score, 0.0) AS score
  FROM sA a FULL OUTER JOIN sB b ON a.doc_id = b.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM merged ORDER BY score DESC, doc_id ASC LIMIT 10)
"""

    # cross_fields: per-term blended df = max(df_text, df_title); per-doc
    # dis_max over the term's per-field contributions (each with its OWN
    # dl/avgdl but the blended idf); summed over terms in term-asc order
    sql["bm25_cross_fields"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS tka, ({toks})[1:3] AS tkb FROM documents),
da AS (SELECT doc_id, len(tka) AS dl FROM tok),
ca AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM da),
db AS (SELECT doc_id, len(tkb) AS dl FROM tok),
cb AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM db),
tfa AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tka) AS term FROM tok)
  WHERE term IN ('data', 'spark', 'the') GROUP BY doc_id, term
),
tfb AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tkb) AS term FROM tok)
  WHERE term IN ('data', 'spark', 'the') GROUP BY doc_id, term
),
dfa AS (SELECT term, count(*)::BIGINT AS df FROM tfa GROUP BY term),
dfb AS (SELECT term, count(*)::BIGINT AS df FROM tfb GROUP BY term),
dfm AS (
  SELECT coalesce(dfa.term, dfb.term) AS term,
         greatest(coalesce(dfa.df, 0), coalesce(dfb.df, 0)) AS df
  FROM dfa FULL JOIN dfb ON dfa.term = dfb.term
),
conta AS (
  SELECT tfa.doc_id, tfa.term,
         ln(1.0 + (ca.n - dfm.df + 0.5)/(dfm.df + 0.5))
         * tfa.tf / (tfa.tf + {K1} * (1 - {B} + {B} * da.dl / ca.avgdl)) AS c
  FROM tfa JOIN dfm USING (term) JOIN da USING (doc_id) CROSS JOIN ca
),
contb AS (
  SELECT tfb.doc_id, tfb.term,
         ln(1.0 + (cb.n - dfm.df + 0.5)/(dfm.df + 0.5))
         * tfb.tf / (tfb.tf + {K1} * (1 - {B} + {B} * db.dl / cb.avgdl)) AS c
  FROM tfb JOIN dfm USING (term) JOIN db USING (doc_id) CROSS JOIN cb
),
per_term AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.term, b.term) AS term,
         greatest(coalesce(a.c, -1e308), coalesce(b.c, -1e308)) AS c
  FROM conta a FULL JOIN contb b ON a.doc_id = b.doc_id AND a.term = b.term
)
SELECT doc_id, round(list_sum(list(c ORDER BY term)), 4) AS score
FROM per_term GROUP BY doc_id
ORDER BY list_sum(list(c ORDER BY term)) DESC, doc_id ASC LIMIT 10
"""

    sql["bm25_match_bool_prefix"] = f"""
WITH s AS ({_bm25_score_subquery(["data", "merge"])}),
p AS (
  SELECT doc_id, CAST(1.0 AS DOUBLE) AS p
  FROM (SELECT doc_id, {toks} AS tk FROM documents)
  WHERE len(list_filter(tk, t -> t LIKE 'sp%')) > 0
),
j AS (
  SELECT coalesce(s.doc_id, p.doc_id) AS doc_id,
         coalesce(s.score, 0.0) + coalesce(p.p, 0.0) AS score
  FROM s FULL JOIN p ON s.doc_id = p.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM j ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    sql["rrf_hybrid"] = f"""
WITH s AS ({_bm25_score_subquery(["data", "merge"])}),
trank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM s QUALIFY r <= 50
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cosall AS (
  SELECT vec_id,
         CASE WHEN nv > 0 AND nq > 0 THEN dot / (nv * nq) ELSE 0 END AS cos
  FROM (
    SELECT vec_id,
           list_sum(list_transform(generate_series(1, len(embedding)),
                                   i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) AS dot,
           sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                                        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nv,
           sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                                        i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) AS nq
    FROM embeddings CROSS JOIN q
  )
),
krank AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS r
  FROM cosall QUALIFY r <= 50
),
fused AS (
  SELECT coalesce(t.doc_id, k2.doc_id) AS doc_id,
         coalesce(1.0 / (60 + t.r), 0.0) + coalesce(1.0 / (60 + k2.r), 0.0) AS score
  FROM trank t FULL JOIN krank k2 ON t.doc_id = k2.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM fused ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    sql["knn_filtered"] = f"""
WITH m AS (
  SELECT doc_id FROM (SELECT doc_id, {toks} AS tk FROM documents)
  WHERE list_contains(tk, 'data')
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, len(embedding)),
                                 i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                                      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nv,
         sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                                      i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) AS nq
  FROM embeddings CROSS JOIN q
  WHERE vec_id IN (SELECT doc_id FROM m)
)
SELECT vec_id, round(cos, 4) AS cos FROM (
  SELECT vec_id,
         CASE WHEN nv > 0 AND nq > 0 THEN dot / (nv * nq) ELSE 0 END AS cos
  FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
)
"""
    sql["bm25_topk_batch"] = _bm25_batch_oracle_sql(
        {
            "q1": ["merge", "spark"],
            "q2": ["data", "the"],
            "q3": ["batch", "group", "scan"],
        },
        10,
    )

    # spdx_resolve: the full 6-rule chain + canon() normalization recomputed
    # in SQL against the same inlined seed table (webindex/mapping.py)
    from webindex.mapping import SPDX_BASE_URL, SPDX_SEED, _CANON_STRIP

    def _canon_sql(expr: str) -> str:
        out = f"lower({expr})"
        for pat in _CANON_STRIP:
            out = f"replace({out}, '{pat}', '')"
        out = f"replace({out}, 'licenses', 'license')"
        return f"regexp_replace({out}, '/$', '')"

    def _sql_str(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    lic_values = ",\n    ".join(
        f"({pos}, {_sql_str(lid)}, {_sql_str(f'{SPDX_BASE_URL}/{lid}.html')}, "
        f"{_sql_str(f'{SPDX_BASE_URL}/{lid}.json')}, {_sql_str(name)}, "
        f"[{', '.join(_sql_str(u) for u in see_also)}], {refno})"
        for (pos, lid, name, see_also, refno) in SPDX_SEED
    )
    messy_list = "[" + ", ".join(_sql_str(s) for s in _SPDX_MESSY) + "]"
    sql["spdx_resolve"] = f"""
WITH lic(position, license_id, reference, details, name, see_also, reference_number) AS (
  VALUES
    {lic_values}
),
inputs AS (
  SELECT doc_id, ({messy_list})[(doc_id % {len(_SPDX_MESSY)}) + 1] AS license_str
  FROM documents
),
m AS (
  SELECT i.doc_id, l.position, l.license_id,
    CASE WHEN lower(i.license_str) = lower(l.reference) THEN 1
         WHEN contains(lower(l.details), lower(i.license_str)) THEN 2
         WHEN lower(i.license_str) = lower(l.license_id) THEN 3
         WHEN len(list_filter(l.see_also,
                              x -> {_canon_sql('x')} = {_canon_sql('i.license_str')})) > 0 THEN 4
         WHEN {_canon_sql('l.name')} = {_canon_sql('i.license_str')} THEN 5
         WHEN i.license_str = l.reference_number::VARCHAR THEN 6
    END AS rule
  FROM inputs i CROSS JOIN lic l
),
win AS (
  SELECT doc_id, license_id, rule,
         row_number() OVER (PARTITION BY doc_id ORDER BY position) AS rn
  FROM m WHERE rule IS NOT NULL
)
SELECT i.doc_id, i.license_str,
       coalesce('{SPDX_BASE_URL}/' || w.license_id || '.json', i.license_str) AS spdx_url,
       w.rule::BIGINT AS spdx_rule
FROM inputs i LEFT JOIN (SELECT * FROM win WHERE rn = 1) w USING (doc_id)
"""

    sql["multimodal_features"] = """
SELECT doc_id AS media_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS md5
FROM documents
"""

    # engine decodes REAL constant-color BMP bytes (synth_bmp_media_df);
    # the oracle recomputes the closed-form channel means arithmetically
    sql["multimodal_bmp_stats"] = """
SELECT range::BIGINT AS media_id,
       8::BIGINT AS width, 8::BIGINT AS height,
       round(CAST(range * 7 % 256 AS DOUBLE), 4) AS r_mean,
       round(CAST(range * 13 % 256 AS DOUBLE), 4) AS g_mean,
       round(CAST(range * 29 % 256 AS DOUBLE), 4) AS b_mean
FROM range(0, 50)
"""

    sql["map_record_flatten"] = """
WITH o AS (SELECT * FROM orders WHERE o_orderkey <= 3000)
SELECT o_orderkey, 'customerRef.0' AS flat_key, o_custkey::VARCHAR AS value FROM o
UNION ALL SELECT o_orderkey, 'status.0', o_orderstatus FROM o
UNION ALL SELECT o_orderkey, 'routingChain.0', o_orderpriority FROM o
UNION ALL SELECT o_orderkey, 'routingChain.1', o_orderstatus FROM o
"""

    # lang_id: the stopword-overlap heuristic is plain SQL. Lists come from
    # webindex.textstats.STOPWORDS (single source of truth) so engine and
    # oracle can never drift.
    from webindex.textstats import STOPWORDS as _SW

    _langs = {
        lang: "[" + ",".join(f"'{w}'" for w in ws) + "]"
        for lang, ws in sorted(_SW.items())
    }
    hit_cols = ",\n       ".join(
        f"len(list_intersect(toks, {arr})) AS h_{lang}" for lang, arr in _langs.items()
    )
    _hl = ", ".join(f"h_{lang}" for lang in _langs)
    _when = "\n            ".join(
        f"WHEN h_{lang} = mx THEN '{lang}'" for lang in list(_langs)[:-1]
    )
    _last = list(_langs)[-1]
    sql["lang_id"] = f"""
WITH t AS (SELECT doc_id, list_distinct({toks}) AS toks FROM documents),
h AS (
  SELECT doc_id,
       {hit_cols}
  FROM t
),
m AS (SELECT doc_id, {_hl},
             greatest({_hl}) AS mx FROM h)
SELECT doc_id,
       CASE WHEN mx = 0 THEN 'und'
            {_when}
            ELSE '{_last}' END AS pred_lang,
       mx::BIGINT AS lang_hits
FROM m
"""

    # trainable NB char-bigram model: the CTE chain mirrors
    # train_char_ngram_model's contract clause by clause (canon analyzer,
    # raw bigram counts, per-lang top-50 by (c desc, gram asc), union
    # vocab, dense langs × V smoothing, round-6 logp)
    _ngram_model_ctes = f"""
canon AS (
  SELECT lang, doc_id, array_to_string({toks}, ' ') AS s FROM documents
),
gr AS (
  SELECT lang, s[i:i+1] AS gram
  FROM canon, unnest(generate_series(1, length(s) - 1)) AS u(i)
  WHERE lang IS NOT NULL AND length(s) >= 2
),
counts AS (SELECT lang, gram, count(*)::BIGINT AS c FROM gr GROUP BY 1, 2),
kept AS (
  SELECT lang, gram FROM (
    SELECT lang, gram,
           row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram ASC) AS rn
    FROM counts) WHERE rn <= 50
),
vocab AS (SELECT DISTINCT gram FROM kept),
vsize AS (SELECT count(*)::DOUBLE AS v FROM vocab),
dense AS (
  SELECT l.lang, g.gram, coalesce(c.c, 0)::BIGINT AS c
  FROM (SELECT DISTINCT lang FROM counts) l
  CROSS JOIN vocab g
  LEFT JOIN counts c ON c.lang = l.lang AND c.gram = g.gram
),
tot AS (SELECT lang, sum(c)::DOUBLE AS tot FROM dense GROUP BY lang),
model AS (
  SELECT d.lang, d.gram, round(ln((d.c + 1) / (t.tot + vsize.v)), 6) AS logp
  FROM dense d JOIN tot t USING (lang) CROSS JOIN vsize
)"""

    sql["lang_train_ngram"] = f"""
WITH {_ngram_model_ctes}
SELECT lang, gram, logp FROM model
"""

    sql["lang_id_model"] = f"""
WITH {_ngram_model_ctes},
dgr AS (
  SELECT doc_id, s[i:i+1] AS gram
  FROM canon, unnest(generate_series(1, length(s) - 1)) AS u(i)
),
sc AS (
  SELECT d.doc_id, m.lang, round(sum(m.logp), 6) AS score
  FROM dgr d JOIN model m USING (gram)
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
    FROM sc) WHERE rn = 1
)
SELECT c.doc_id, coalesce(b.lang, 'und') AS pred_lang
FROM (SELECT DISTINCT doc_id FROM canon) c
LEFT JOIN best b USING (doc_id)
"""

    # Gopher-style repetition signals: the SQL computes the bigram mode via
    # explode+group (fine at oracle scale); the engine computes the same
    # mode with an in-row sorted fold (no shuffle) — same (count desc,
    # bigram asc) winner by construction
    sql["repetition_stats"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gram
  FROM t, unnest(generate_series(1, len(tk) - 1)) u(i)
  WHERE len(tk) >= 2
),
bc AS (SELECT doc_id, gram, count(*)::BIGINT AS c FROM big GROUP BY 1, 2),
top AS (
  SELECT doc_id, gram, c FROM (
    SELECT doc_id, gram, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
    FROM bc) WHERE rn = 1
),
chars AS (
  SELECT doc_id, coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS tc
  FROM t
),
g5 AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(tk) - 4),
                        i -> array_to_string(tk[i:i+4], ' ')) AS grams
  FROM t
),
runs AS (
  SELECT doc_id, max(cnt)::BIGINT AS max_run FROM (
    SELECT doc_id, rid, count(*) AS cnt FROM (
      SELECT doc_id, i,
             sum(CASE WHEN i = 1 OR tk[i] != tk[i-1] THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS rid
      FROM t, unnest(generate_series(1, len(tk))) u(i)
    ) GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT t.doc_id,
       round(CASE WHEN top.c IS NOT NULL AND chars.tc > 0
                  THEN top.c * (length(top.gram) - 1) / chars.tc::DOUBLE
                  ELSE 0.0 END, 6) AS top_bigram_frac,
       round(CASE WHEN len(g5.grams) > 0
                  THEN (len(g5.grams) - len(list_distinct(g5.grams)))::DOUBLE
                       / len(g5.grams)
                  ELSE 0.0 END, 6) AS dup_5gram_frac,
       coalesce(runs.max_run, 0)::BIGINT AS max_token_run
FROM t
JOIN chars USING (doc_id) JOIN g5 USING (doc_id)
LEFT JOIN top USING (doc_id) LEFT JOIN runs USING (doc_id)
"""

    # sample_mix: the md5-uniform keep decision replayed bit-identically
    # (('0x'||hex)::UBIGINT == Spark's conv(substring(md5,1,8),16,10))
    sql["sample_mix"] = """
SELECT doc_id, source FROM documents
WHERE (('0x' || substring(md5('mix:' || doc_id::VARCHAR), 1, 8))::UBIGINT::DOUBLE
       / 4294967296.0)
      < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25 ELSE 0.0 END
"""

    sql["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, source AS shard, len({toks})::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t
)
SELECT doc_id, shard, n_tokens,
       (start // 512)::BIGINT AS bin_id,
       (start - (start // 512) * 512)::BIGINT AS bin_pos
FROM c
"""

    # ccnet_ppl: the trained-model CTEs + a lang='en' slice; avg rounds
    # BEFORE exp so summation-order drift can't reach the hash
    sql["ccnet_ppl"] = f"""
WITH {_ngram_model_ctes},
dgr AS (
  SELECT doc_id, s[i:i+1] AS gram
  FROM canon, unnest(generate_series(1, length(s) - 1)) AS u(i)
),
sc AS (
  SELECT d.doc_id,
         count(*)::BIGINT AS n_scored,
         round(sum(m.logp) / count(*), 6) AS avg_logp
  FROM dgr d JOIN model m USING (gram)
  WHERE m.lang = 'en'
  GROUP BY d.doc_id
)
SELECT c.doc_id,
       coalesce(sc.n_scored, 0)::BIGINT AS n_scored,
       sc.avg_logp,
       round(exp(-sc.avg_logp), 6) AS pseudo_ppl
FROM (SELECT DISTINCT doc_id FROM canon) c
LEFT JOIN sc USING (doc_id)
"""

    from webindex.textstats import BPE_SPLIT_PATTERN as _BPE

    sql["subtoken_count"] = f"""
WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS tx FROM documents),
m AS (
  SELECT doc_id,
         len(regexp_extract_all(tx, '{_BPE}'))::BIGINT AS n_subtokens,
         CASE WHEN length(trim(tx)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(tx), '\\s+')) END::BIGINT
           AS n_ws_tokens
  FROM t
)
SELECT doc_id, n_subtokens, n_ws_tokens,
       round(CASE WHEN n_ws_tokens > 0
                  THEN n_subtokens::DOUBLE / n_ws_tokens ELSE 0.0 END, 6)
         AS subtoken_ratio
FROM m
"""

    # dup_span_stats: the oracle groups raw gram strings (same counts as
    # the engine's md5 keys, collision probability cryptographically nil)
    sql["dup_span_stats"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
  FROM t, unnest(generate_series(1, len(tk) - 2)) u(i)
),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
agg AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
  FROM g JOIN c USING (gram) GROUP BY g.doc_id
)
SELECT t.doc_id,
       coalesce(agg.n_grams, 0)::BIGINT AS n_grams,
       coalesce(agg.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       round(CASE WHEN coalesce(agg.n_grams, 0) > 0
                  THEN agg.n_dup_grams::DOUBLE / agg.n_grams
                  ELSE 0.0 END, 6) AS dup_frac
FROM t LEFT JOIN agg USING (doc_id)
"""

    # pii_scrub: patterns come from textstats.PII_PATTERNS (single source
    # of truth; RE2 ∩ Java-regex subset) — injection string matches the
    # entry's Spark-side concat exactly
    from webindex.textstats import PII_PATTERNS as _PII

    sql["pii_scrub"] = f"""
WITH t AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact u' || doc_id::VARCHAR
           || '@mail.example or 555-123-4567 at 10.0.0.'
           || (doc_id % 256)::VARCHAR AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_PII["email"]}'))::BIGINT AS n_email,
         regexp_replace(text, '{_PII["email"]}', '<EMAIL>', 'g') AS t1
  FROM t
),
s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '{_PII["ipv4"]}'))::BIGINT AS n_ipv4,
         regexp_replace(t1, '{_PII["ipv4"]}', '<IP>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
         len(regexp_extract_all(t2, '{_PII["phone"]}'))::BIGINT AS n_phone,
         regexp_replace(t2, '{_PII["phone"]}', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_email, n_phone, n_ipv4, md5(t3) AS clean_md5 FROM s3
"""

    sql["source_curation"] = f"""
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(len({toks}))::BIGINT AS total_tokens,
       round(avg(length(coalesce(text, ''))), 6) AS avg_nchars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       (source IN ('src3', 'src7')) AS blocked
FROM documents
GROUP BY source
"""

    sql["agg_significant_text"] = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
c AS (SELECT count(*) AS n FROM tok),
s AS ({_bm25_score_subquery(["slow"])}),
samp AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id ASC LIMIT 100),
fgsize AS (SELECT count(*) AS s FROM samp),
fgc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS fg_count
  FROM (
    SELECT t.doc_id, unnest(list_distinct(t.toks)) AS term
    FROM tok t JOIN samp USING(doc_id)
  ) GROUP BY term
),
bdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
)
SELECT term, fg_count, round(score, 4) AS score
FROM (
  SELECT f.term, f.fg_count,
         ((f.fg_count / CAST(fgsize.s AS DOUBLE)) - (b.df / CAST(c.n AS DOUBLE)))
         * ((f.fg_count / CAST(fgsize.s AS DOUBLE)) / (b.df / CAST(c.n AS DOUBLE)))
           AS score
  FROM fgc f JOIN bdf b USING(term) CROSS JOIN fgsize CROSS JOIN c
  WHERE f.term <> 'slow' AND f.fg_count >= 3
  ORDER BY score DESC, term ASC LIMIT 10
)
"""
    sql["regexp_match"] = f"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT doc_id, {toks} AS tk FROM documents)
WHERE len(list_filter(tk, t -> regexp_full_match(t, 's(low|ort|can|park)'))) > 0
ORDER BY doc_id ASC LIMIT 10
"""
    sql["bm25_range_filter"] = f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT s.doc_id, s.score FROM ({_bm25_score_subquery(["data", "merge"])}) s
  JOIN documents d ON s.doc_id = d.doc_id
  WHERE d.n_chars BETWEEN 250 AND 450
  ORDER BY s.score DESC, s.doc_id ASC LIMIT 10
)
"""
    sql["bm25_exists_filter"] = f"""
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT s.doc_id, s.score FROM ({_bm25_score_subquery(["data", "merge"])}) s
  JOIN documents d ON s.doc_id = d.doc_id
  WHERE nullif(d.lang, 'en') IS NOT NULL
  ORDER BY s.score DESC, s.doc_id ASC LIMIT 10
)
"""
    sql["terms_set_match"] = f"""
WITH cnt AS (
  SELECT doc_id,
         len(list_filter(['data', 'merge', 'index'],
                         t -> list_contains(tk, t)))::INT AS n_matched
  FROM (SELECT doc_id, {toks} AS tk FROM documents)
),
s AS ({_bm25_score_subquery(["data", "merge", "index"])})
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT s.doc_id, s.score
  FROM s JOIN cnt ON s.doc_id = cnt.doc_id
  WHERE cnt.n_matched >= 1 + (s.doc_id % 2)
  ORDER BY s.score DESC, s.doc_id ASC LIMIT 10
)
"""
    sql["pinned_promote"] = f"""
WITH pinned AS (
  SELECT * FROM (VALUES
    (3::BIGINT, 3.4028235e38 / 1),
    (1::BIGINT, 3.4028235e38 / 2)
  ) AS t(doc_id, score)
  WHERE doc_id IN (SELECT doc_id FROM documents)
),
organic AS (
  SELECT doc_id, score FROM ({_bm25_score_subquery(["data", "merge"])})
  WHERE doc_id NOT IN (3, 1)
)
SELECT doc_id, round(score, 4) AS score
FROM (
  SELECT * FROM (SELECT * FROM pinned UNION ALL SELECT * FROM organic)
  ORDER BY score DESC, doc_id ASC LIMIT 10
)
"""
    sql["rrf_hybrid_weighted"] = sql["rrf_hybrid"].replace(
        "coalesce(1.0 / (60 + t.r), 0.0) + coalesce(1.0 / (60 + k2.r), 0.0)",
        "coalesce(0.7 / (60 + t.r), 0.0) + coalesce(0.3 / (60 + k2.r), 0.0)",
    )
    assert sql["rrf_hybrid_weighted"] != sql["rrf_hybrid"], (
        "rrf weighted-oracle rewrite missed — the rrf_hybrid SQL changed"
    )
    # the q-gram-sidecar entries are byte-identical-by-contract to their
    # linear-scan siblings (same query, pruned dictionary touch) — the
    # oracle is deliberately THE SAME SQL, so a gram-path bug that changes
    # results in any way fails the hash check
    sql["bm25_fuzzy_gram"] = sql["bm25_fuzzy"]
    sql["suggest_spell_gram"] = sql["suggest_spell"]
    return sql
