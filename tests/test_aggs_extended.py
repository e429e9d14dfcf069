"""Round-4 ES-surface extensions: metric aggs (stats / extended_stats /
percentiles / cardinality), bucket aggs (range / date_histogram / composite
pagination / top_hits), sampler>significant_terms, function_score,
sort-by-field search, the term suggester, and fuzzy prefix_length — each
checked against naive recomputation from the raw token streams (and the
pure-python OracleIndex where relevance is involved).

reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-306 (the ES
backend these shapes mirror serves search + aggregation reads)."""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from webindex.aggs import (
    cardinality_agg,
    composite_agg,
    date_histogram_agg,
    extended_stats_agg,
    match_scores,
    percentiles_agg,
    range_agg,
    significant_terms,
    stats_agg,
    top_hits_agg,
)
from webindex.bm25 import BM25Config
from webindex.build import build_index
from webindex.oracle import OracleIndex
from webindex.pagesgen import make_pages_pdf
from webindex.query import (
    search_sort,
    suggest_terms,
    topk_function_score,
    topk_fuzzy,
)
from webindex.textproc import tokenize

N_DOCS = 200
LANGS = ["en", "de", "fr"]
QUERY = "data merge"


@pytest.fixture(scope="module")
def corpus():
    pdf = make_pages_pdf(0, N_DOCS)
    pdf.insert(0, "doc_id", np.arange(N_DOCS, dtype=np.int64))
    pdf["lang"] = [LANGS[i % 3] for i in range(N_DOCS)]
    pdf["src"] = [f"s{i % 5}" for i in range(N_DOCS)]
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    return pdf


@pytest.fixture(scope="module")
def idx(spark, corpus):
    return build_index(
        spark, spark.createDataFrame(corpus), text_col="text",
        doc_id_method="provided", range_width=32,
    )


@pytest.fixture(scope="module")
def stored(spark, corpus):
    return spark.createDataFrame(corpus[["doc_id", "lang", "src", "n_chars"]])


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex({i: corpus["text"][i] for i in range(N_DOCS)})


def _matching(corpus, query, msm=1):
    terms = set(tokenize(query))
    return {
        i
        for i in range(N_DOCS)
        if len(set(tokenize(corpus["text"][i])) & terms) >= msm
    }


def _vals(corpus, query):
    m = _matching(corpus, query)
    return np.array(
        [int(corpus["n_chars"][i]) for i in sorted(m)], dtype=np.float64
    )


def test_stats_agg(idx, stored, corpus):
    row = stats_agg(idx, stored, QUERY, "n_chars").collect()[0]
    v = _vals(corpus, QUERY)
    assert row["count"] == len(v)
    assert row["min"] == v.min() and row["max"] == v.max()
    assert row["avg"] == round(v.mean(), 4)
    assert row["sum"] == v.sum()


def test_extended_stats_agg(idx, stored, corpus):
    row = extended_stats_agg(idx, stored, QUERY, "n_chars").collect()[0]
    v = _vals(corpus, QUERY)
    assert row["sum_of_squares"] == (v * v).sum()
    # ES sigma semantics: POPULATION variance/std
    assert row["variance"] == pytest.approx(np.var(v), abs=1e-3)
    assert row["std_deviation"] == pytest.approx(np.std(v), abs=1e-3)


def test_percentiles_agg(idx, stored, corpus):
    rows = percentiles_agg(idx, stored, QUERY, "n_chars").collect()
    v = _vals(corpus, QUERY)
    got = {r["percent"]: r["value"] for r in rows}
    for p in (1.0, 25.0, 50.0, 75.0, 99.0):
        # numpy's default interpolation is the same linear rule
        assert got[p] == pytest.approx(np.percentile(v, p), abs=1e-3)
    # the 100 TB path: quantile sketch, map-side combined; close at this scale
    approx = {
        r["percent"]: r["value"]
        for r in percentiles_agg(idx, stored, QUERY, "n_chars", exact=False).collect()
    }
    for p in (25.0, 50.0, 75.0):
        ref = np.percentile(v, p)
        assert abs(approx[p] - ref) <= max(2.0, 0.05 * abs(ref))


def test_cardinality_exact_and_hll(idx, stored, corpus):
    exact = cardinality_agg(idx, stored, QUERY, "lang").collect()[0]["value"]
    m = _matching(corpus, QUERY)
    assert exact == len({corpus["lang"][i] for i in sorted(m)})
    # the 100 TB path: HLL++ sketch, rel error well under 10% at this scale
    approx = cardinality_agg(idx, stored, QUERY, "lang", exact=False).collect()[
        0
    ]["value"]
    assert abs(approx - exact) <= max(1, 0.1 * exact)


def test_range_agg_includes_empty_buckets(idx, stored, corpus):
    ranges = [(None, 100.0), (100.0, 400.0), (400.0, 100000.0), (100000.0, None)]
    rows = range_agg(idx, stored, QUERY, "n_chars", ranges).collect()
    v = _vals(corpus, QUERY)
    assert [r["key"] for r in rows] == [
        "*-100.0", "100.0-400.0", "400.0-100000.0", "100000.0-*",
    ]
    assert rows[0]["doc_count"] == int((v < 100).sum())
    assert rows[1]["doc_count"] == int(((v >= 100) & (v < 400)).sum())
    assert rows[2]["doc_count"] == int((v >= 400).sum())
    # ES returns every requested range — the empty tail bucket is present
    assert rows[3]["doc_count"] == 0


def test_date_histogram_calendar_months(spark, idx, stored, corpus):
    ts = stored.withColumn(
        "ts",
        F.expr(
            "timestamp '2025-01-01 00:00:00'"
            " + make_interval(0, 0, 0, cast(doc_id % 90 as int), 0, 0, 0)"
        ),
    )
    rows = date_histogram_agg(idx, ts, QUERY, "ts", "month").collect()
    m = _matching(corpus, QUERY)
    base = datetime.date(2025, 1, 1)
    want: dict[datetime.date, int] = {}
    for i in sorted(m):
        d = base + datetime.timedelta(days=int(i) % 90)
        key = d.replace(day=1)
        want[key] = want.get(key, 0) + 1
    got = {r["bucket"].date(): r["doc_count"] for r in rows}
    assert got == want
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


def test_composite_agg_pagination_walk(idx, stored, corpus):
    # full bucket set, key-ordered
    m = _matching(corpus, QUERY)
    want: dict[tuple[str, str], int] = {}
    for i in sorted(m):
        key = (corpus["lang"][i], corpus["src"][i])
        want[key] = want.get(key, 0) + 1
    full = sorted(want.items())
    # walk pages of 4 via after-keys; concatenation == full, no overlap
    pages, after = [], None
    while True:
        rows = composite_agg(
            idx, stored, QUERY, ["lang", "src"], size=4, after=after
        ).collect()
        if not rows:
            break
        pages.extend(((r["lang"], r["src"]), r["doc_count"]) for r in rows)
        after = (rows[-1]["lang"], rows[-1]["src"])
        if len(rows) < 4:
            break
    assert pages == full


def test_top_hits_agg(idx, stored, corpus, oracle):
    rows = top_hits_agg(idx, stored, QUERY, "lang", hits_per_group=2).collect()
    scores = oracle.score_all(QUERY)
    for lang in LANGS:
        group = [
            (i, s)
            for i, s in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
            if corpus["lang"][i] == lang
        ][:2]
        got = [(r["doc_id"], r["score"]) for r in rows if r["group"] == lang]
        assert [g[0] for g in got] == [w[0] for w in group]
        for (gd, gs), (wd, ws) in zip(got, group):
            assert gs == round(ws, 4)
    # output ordered (group, rank)
    keys = [(r["group"], r["rank"]) for r in rows]
    assert keys == sorted(keys)


def test_sampled_significant_terms_covering_sample_matches_unsampled(idx):
    # a sample >= the match set is the whole foreground: identical output
    unsampled = significant_terms(idx, "data", size=8).collect()
    sampled = significant_terms(idx, "data", size=8, sample=N_DOCS).collect()
    assert unsampled  # the fixture corpus must actually contain the term
    assert [tuple(r) for r in sampled] == [tuple(r) for r in unsampled]


def test_sampled_significant_terms_fg_capped(idx):
    rows = significant_terms(idx, "data", size=50, sample=5, min_doc_count=1).collect()
    # no foreground count can exceed the sample size
    assert rows and all(r["fg_count"] <= 5 for r in rows)


def test_function_score_field_value_factor(idx, stored, corpus, oracle):
    rows = topk_function_score(idx, stored, QUERY, "n_chars", k=10).collect()
    scores = oracle.score_all(QUERY)
    want = sorted(
        (
            (i, s * np.log1p(float(corpus["n_chars"][i])))
            for i, s in scores.items()
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert [r["doc_id"] for r in rows] == [w[0] for w in want]
    for r, (_, ws) in zip(rows, want):
        assert r["score"] == pytest.approx(round(ws, 4), abs=1e-4)


def test_search_sort_skips_scoring(idx, stored, corpus):
    rows = search_sort(idx, stored, QUERY, "n_chars", ascending=False, k=10).collect()
    m = _matching(corpus, QUERY)
    want = sorted(
        ((int(corpus["n_chars"][i]), i) for i in m), key=lambda t: (-t[0], t[1])
    )[:10]
    assert [(r["n_chars"], r["doc_id"]) for r in rows] == want
    assert "score" not in rows[0].asDict()


def test_suggest_terms_ranking_and_missing_mode(idx, corpus):
    vocab: dict[str, set] = {}
    for i in range(N_DOCS):
        for t in set(tokenize(corpus["text"][i])):
            vocab.setdefault(t, set()).add(i)
    some_known = next(iter(sorted(vocab)))
    rows = suggest_terms(idx, f"mrge {some_known}", max_edits=2, size=3).collect()
    # suggest_mode=missing: the known token gets no suggestions
    assert all(r["input"] == "mrge" for r in rows)

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    cand = [
        (lev(t, "mrge"), -len(ids), t)
        for t, ids in vocab.items()
        if 0 < lev(t, "mrge") <= 2
    ]
    want = sorted(cand)[:3]
    assert [(r["distance"], -r["df"], r["suggestion"]) for r in rows] == want


def test_fuzzy_prefix_length_restricts_expansion(idx, corpus):
    base = topk_fuzzy(idx, "merge", k=200, fuzziness=1).collect()
    pref = topk_fuzzy(idx, "merge", k=200, fuzziness=1, prefix_length=1).collect()
    # prefix_length=1 keeps only expansions starting with 'm' — a subset of
    # the unrestricted match set, identical when all expansions share the
    # prefix, never larger
    assert {r["doc_id"] for r in pref} <= {r["doc_id"] for r in base}
    # per-doc dis_max scores can only drop when expansions are removed
    b = {r["doc_id"]: r["score"] for r in base}
    for r in pref:
        assert r["score"] <= b[r["doc_id"]] + 1e-12


def test_match_scores_is_exhaustive(idx, corpus, oracle):
    got = {r["doc_id"]: r["score"] for r in match_scores(idx, QUERY).collect()}
    want = oracle.score_all(QUERY)
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, abs=1e-9)


def test_count_matches(idx, corpus):
    from webindex.query import count_matches

    got = count_matches(idx, QUERY).collect()[0]["count"]
    assert got == len(_matching(corpus, QUERY))
    assert count_matches(idx, "zzzabsent").collect()[0]["count"] == 0


def test_explain_doc_contribs_sum_to_score(idx, corpus, oracle):
    from webindex.query import explain_doc

    scores = oracle.score_all(QUERY)
    doc = sorted(scores)[0]
    rows = explain_doc(idx, QUERY, doc).collect()
    assert rows  # the doc matches at least one term
    assert [r["term"] for r in rows] == sorted(r["term"] for r in rows)
    # BITWISE: contribs are idf*(tf/denom) summed in term-asc order — the
    # exact float64 terms and order the scoring path uses
    assert sum(r["contrib"] for r in rows) == scores[doc]
    toks = tokenize(corpus["text"][doc])
    for r in rows:
        assert r["tf"] == toks.count(r["term"])
        assert r["doc_len"] == len(toks)
        assert r["idf"] == pytest.approx(oracle.idf(r["term"]), abs=1e-9)


def test_explain_doc_absent_doc_is_empty(idx):
    from webindex.query import explain_doc

    assert explain_doc(idx, QUERY, 10**15).count() == 0


def test_complete_terms_popularity_ranked(idx, corpus):
    from webindex.query import complete_terms

    vocab: dict[str, set] = {}
    for i in range(N_DOCS):
        for t in set(tokenize(corpus["text"][i])):
            vocab.setdefault(t, set()).add(i)
    want = sorted(
        ((t, len(ids)) for t, ids in vocab.items() if t.startswith("w1")),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    got = [(r["suggestion"], r["df"]) for r in complete_terms(idx, "w1", 5).collect()]
    assert got == want


def test_boosting_demotes_never_excludes(idx, corpus, oracle):
    from webindex.query import topk_boosting

    rows = topk_boosting(idx, QUERY, "fast", 0.3, k=400).collect()
    pos = oracle.score_all(QUERY)
    neg = _matching(corpus, "fast")
    want = sorted(
        ((i, s * (0.3 if i in neg else 1.0)) for i, s in pos.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [g[0] for g in got] == [w[0] for w in want[: len(got)]]
    # every positive match is still present (demotion, not exclusion)
    assert {g[0] for g in got} == set(pos)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


def test_dismax_tie_breaker(idx, oracle):
    from webindex.query import topk_dismax

    q1, q2 = QUERY, "the index"
    s1, s2 = oracle.score_all(q1), oracle.score_all(q2)
    for tb in (0.0, 0.4, 1.0):
        rows = topk_dismax(idx, [q1, q2], tb, k=10).collect()
        combined = {}
        for d in set(s1) | set(s2):
            a, b = s1.get(d, 0.0), s2.get(d, 0.0)
            combined[d] = max(a, b) + tb * (a + b - max(a, b))
        want = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert [(r["doc_id"],) for r in rows] == [(w[0],) for w in want], tb
        for r, (_, ws) in zip(rows, want):
            assert r["score"] == pytest.approx(ws, abs=1e-9)


def test_collapse_one_per_group(idx, corpus, oracle):
    from webindex.query import topk_collapse

    stored = None
    import pyspark.sql  # noqa: F401  (spark session via idx)

    spark = idx.postings.sparkSession
    stored = spark.createDataFrame(corpus[["doc_id", "lang"]])
    rows = topk_collapse(idx, stored, QUERY, "lang", k=10).collect()
    scores = oracle.score_all(QUERY)
    best = {}
    for d, s in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0])):
        best.setdefault(corpus["lang"][d], (d, s))
    want = sorted(best.values(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["doc_id"], r["lang"]) for r in rows] == [
        (d, corpus["lang"][d]) for d, _ in want
    ]
    assert len({r["lang"] for r in rows}) == len(rows)


def test_function_score_pruned_identical_and_prunes(spark):
    """The round-4 scaled θ bound (combined <= bm25 * M): pruned and
    exhaustive paths must return byte-identical rows, and on a corpus where
    most matches carry low BM25 the bucket scorer must actually skip
    decoding blocks under θ_fs/M."""
    import pandas as pd

    from webindex.query import (
        _bucket_fn,
        _match_spec,
        _query_terms,
        topk_wand,
    )

    n = 256
    texts, boost = {}, {}
    for i in range(n):
        if i < 8:
            texts[i] = "aa aa aa aa"  # short, tf 4 -> high bm25
        else:
            texts[i] = "aa " + " ".join(f"w{j % 23}" for j in range(160))
        boost[i] = 100 + (i % 7)
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "url": [f"u{i}" for i in texts],
         "text": list(texts.values()),
         "pop": [boost[i] for i in texts]}
    )
    sdf = spark.createDataFrame(pdf)
    idx = build_index(
        spark, sdf, text_col="text", doc_id_method="provided",
        range_width=4096, conf=BM25Config(block_size=8),
    )
    stored = sdf.select("doc_id", "pop")

    got_pruned = [
        (r["doc_id"], r["score"])
        for r in topk_function_score(
            idx, stored, "aa", "pop", k=5, pruned=True
        ).collect()
    ]
    got_exh = [
        (r["doc_id"], r["score"])
        for r in topk_function_score(
            idx, stored, "aa", "pop", k=5, pruned=False
        ).collect()
    ]
    assert got_pruned == got_exh and len(got_pruned) == 5

    # decode-count check at the bucket level with the θ the pruned path uses
    stats = _query_terms(idx, "aa")
    hashes = [h for (_, _, h) in stats.values()]
    seed = sorted(
        (
            (r["score"] * np.log1p(float(boost[r["doc_id"]])), r["doc_id"])
            for r in topk_wand(idx, "aa", 5).collect()
        ),
        key=lambda kv: (-kv[0], kv[1]),
    )[:5]
    theta_fs = seed[-1][0]
    big_m = np.log1p(float(max(boost.values())))
    theta_bm25 = float(np.nextafter(theta_fs / big_m, 0.0))
    assert theta_bm25 > 0.0
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()
    probe = {}
    fn = _bucket_fn(
        _match_spec(stats, theta_bm25), idx.conf, idx.avgdl, None, _probe=probe
    )
    for _, grp in rows.groupby("bucket"):
        fn(grp.reset_index(drop=True))
    assert probe["blocks_total"] > probe.get("blocks_decoded", 0), probe


def test_function_score_domain_fallbacks(idx, stored, corpus):
    """Review regressions: log1p with a negative factor must fall back to
    the exhaustive path (not raise math domain error), and the pruned path
    must agree with pruned=False on it."""
    a = topk_function_score(
        idx, stored, QUERY, "n_chars", factor=-1.0, k=5, pruned=True
    ).collect()
    b = topk_function_score(
        idx, stored, QUERY, "n_chars", factor=-1.0, k=5, pruned=False
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    # sqrt over a field with negative values: NaN docs rank first in the
    # exhaustive ranking; the pruned path must fall back and agree
    neg = stored.withColumn(
        "signed", F.col("n_chars") - F.lit(800)
    ).select("doc_id", "signed")
    a = topk_function_score(
        idx, neg, QUERY, "signed", modifier="sqrt", k=5, pruned=True
    ).collect()
    b = topk_function_score(
        idx, neg, QUERY, "signed", modifier="sqrt", k=5, pruned=False
    ).collect()
    ga = [(r["doc_id"], r["score"]) for r in a]
    gb = [(r["doc_id"], r["score"]) for r in b]
    assert len(ga) == len(gb) and all(
        da == db and (sa == sb or (sa != sa and sb != sb)) for (da, sa), (db, sb) in zip(ga, gb)
    )


def test_rescore_requires_positions(idx):
    from webindex.query import topk_rescore

    with pytest.raises(ValueError, match="positional"):
        topk_rescore(idx, "data", "data merge", window=20, k=5)


def test_function_score_per_bucket_extrema_prunes_skewed(spark):
    """Round-5 per-bucket extrema sidecar: on a heavy-tailed boost field one
    global extremum makes θ nearly useless (M is set by the hottest doc).
    With per-bucket bounds the cold buckets must decode strictly fewer
    blocks than under the global bound, and the pruned result must stay
    byte-identical to the exhaustive path."""
    import math

    import pandas as pd

    from webindex.query import (
        _bucket_fn,
        _match_spec,
        _query_terms,
        field_extrema,
        topk_function_score,
        topk_wand,
    )

    n = 256
    texts, boost = {}, {}
    for i in range(n):
        texts[i] = "aa " + " ".join(f"w{(i * 7 + j) % 29}" for j in range(40))
        # skew: only the first doc-range bucket (dense ids, range_width=32)
        # carries huge boosts; everywhere else the field is ~1
        boost[i] = 1_000_000 + i if i < 32 else 1 + (i % 3)
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "url": [f"u{i}" for i in texts],
         "text": list(texts.values()), "pop": [boost[i] for i in texts]}
    )
    sdf = spark.createDataFrame(pdf)
    idx = build_index(
        spark, sdf, text_col="text", doc_id_method="provided",
        range_width=32, conf=BM25Config(block_size=8),
    )
    assert idx.id_space == "dense"
    stored = sdf.select("doc_id", "pop")

    got_pruned = [
        (r["doc_id"], r["score"])
        for r in topk_function_score(idx, stored, "aa", "pop", k=5).collect()
    ]
    got_exh = [
        (r["doc_id"], r["score"])
        for r in topk_function_score(
            idx, stored, "aa", "pop", k=5, pruned=False
        ).collect()
    ]
    assert got_pruned == got_exh and len(got_pruned) == 5

    # decode-count comparison, global θ vs per-bucket θ_b, through the same
    # bucket scorer the production path uses (probe runs driver-side)
    stats = _query_terms(idx, "aa")
    hashes = [h for (_, _, h) in stats.values()]
    seed = sorted(
        (
            (r["score"] * math.log1p(float(boost[r["doc_id"]])), r["doc_id"])
            for r in topk_wand(idx, "aa", 5).collect()
        ),
        key=lambda kv: (-kv[0], kv[1]),
    )[:5]
    theta_fs = seed[-1][0]
    ext = {
        int(r["bucket"]): float(r["mx"])
        for r in field_extrema(idx, stored, "pop").collect()
    }
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()

    def decoded(theta_global: float, per_bucket: bool) -> int:
        probe = {}
        fn = _bucket_fn(
            _match_spec(stats, theta_global), idx.conf, idx.avgdl, None,
            _probe=probe,
        )
        for b, grp in rows.groupby("bucket"):
            grp = grp.reset_index(drop=True)
            if per_bucket:
                mb = math.log1p(ext[int(b)])
                tb = (theta_fs / mb) * (1 - 1e-15) if mb > 0 else float("inf")
                grp = grp.assign(_theta_b=tb)
            fn(grp)
        return probe.get("blocks_decoded", 0)

    big_m = math.log1p(float(max(boost.values())))
    theta_global = float(np.nextafter(theta_fs / big_m, 0.0))
    d_global = decoded(theta_global, per_bucket=False)
    d_bucket = decoded(theta_global, per_bucket=True)
    assert d_bucket < d_global, (d_bucket, d_global)
    # the cold buckets carry ~7/8 of the corpus; most of their decodes go
    assert d_bucket <= d_global // 2, (d_bucket, d_global)


def _sig_text_expected(corpus, oracle, query, sample, size, min_doc_count,
                       sample_ids=None):
    """Driver-side significant_text recomputation: top-`sample` matching
    docs by BM25, per-term sampled-doc counts vs whole-corpus df, JLH."""
    if sample_ids is None:
        ranked = oracle.topk(query, sample)
        sample_ids = [d for d, _ in ranked]
    fg_size = float(len(sample_ids))
    fg: dict[str, int] = {}
    for d in sample_ids:
        for t in set(tokenize(corpus["text"][d])):
            fg[t] = fg.get(t, 0) + 1
    df: dict[str, int] = {}
    for i in range(N_DOCS):
        for t in set(tokenize(corpus["text"][i])):
            df[t] = df.get(t, 0) + 1
    exclude = set(tokenize(query))
    out = []
    for t, c in fg.items():
        if t in exclude or c < min_doc_count:
            continue
        fgp, bgp = c / fg_size, df[t] / float(N_DOCS)
        out.append((t, c, (fgp - bgp) * (fgp / bgp)))
    out.sort(key=lambda r: (-r[2], r[0]))
    return [(t, c, round(s, 9)) for t, c, s in out[:size]]


def test_significant_text_vs_recomputation(spark, idx, corpus, oracle):
    from webindex.aggs import significant_text

    stored = spark.createDataFrame(corpus[["doc_id", "text"]])
    got = [
        (r["term"], r["fg_count"], round(r["score"], 9))
        for r in significant_text(
            idx, stored, "merge", sample=50, size=10
        ).collect()
    ]
    want = _sig_text_expected(corpus, oracle, "merge", 50, 10, 3)
    assert got == want
    assert len(got) > 0


def test_significant_text_background_scan_equals_index(spark, idx, corpus):
    """When text_col IS the indexed field, background='scan' must agree
    with background='index' (df definitions coincide)."""
    from webindex.aggs import significant_text

    stored = spark.createDataFrame(corpus[["doc_id", "text"]])
    a = significant_text(idx, stored, "merge", sample=50, size=10).collect()
    b = significant_text(
        idx, stored, "merge", sample=50, size=10, background="scan"
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_significant_text_filter_duplicate_text(spark, idx, corpus, oracle):
    """Exact-content duplicates in the sample collapse to the min-doc_id
    winner before counting."""
    import pandas as pd

    from webindex.aggs import significant_text

    dup = corpus.copy()
    # duplicate the best-matching doc's text into a higher doc_id
    best = oracle.topk("merge", 1)[0][0]
    victim = int(dup["doc_id"].iloc[-1])
    dup.loc[dup["doc_id"] == victim, "text"] = dup["text"][best]
    stored = spark.createDataFrame(dup[["doc_id", "text"]])
    idx2 = build_index(
        spark, spark.createDataFrame(dup), text_col="text",
        doc_id_method="provided", range_width=32,
    )
    ranked = OracleIndex(
        {i: dup["text"][i] for i in range(N_DOCS)}
    ).topk("merge", 50)
    sample_ids = [d for d, _ in ranked]
    # dedup: md5-canonical-equal texts keep the smallest doc_id
    seen, kept = {}, []
    for d in sorted(sample_ids):
        key = " ".join(tokenize(dup["text"][d]))
        if key not in seen:
            seen[key] = d
            kept.append(d)
    got = [
        (r["term"], r["fg_count"], round(r["score"], 9))
        for r in significant_text(
            idx2, stored, "merge", sample=50, size=10,
            filter_duplicate_text=True,
        ).collect()
    ]
    want = _sig_text_expected(
        dup, None, "merge", 50, 10, 3, sample_ids=kept
    )
    assert got == want


def test_pipeline_aggs(spark):
    """derivative / cumulative_sum / moving_avg over a hand-built bucket
    frame (pipeline aggs never touch the corpus — they reduce a parent
    agg's bucket list)."""
    from webindex.aggs import pipeline_agg

    b = spark.createDataFrame(
        [(1, 10), (2, 13), (3, 7), (4, 7)], "bucket int, doc_count long"
    )
    d = {r["bucket"]: r["derivative"] for r in pipeline_agg(b, "derivative").collect()}
    assert d[1] is None and d[2] == 3.0 and d[3] == -6.0 and d[4] == 0.0
    c = {
        r["bucket"]: r["cumulative_sum"]
        for r in pipeline_agg(b, "cumulative_sum").collect()
    }
    assert c == {1: 10.0, 2: 23.0, 3: 30.0, 4: 37.0}
    m = {
        r["bucket"]: r["moving_avg"]
        for r in pipeline_agg(b, "moving_avg", window=3).collect()
    }
    assert m[1] == 10.0 and m[2] == 11.5  # partial leading windows
    assert m[3] == 10.0 and m[4] == 9.0
    with pytest.raises(ValueError):
        pipeline_agg(b, "nope")


def test_bucket_sort_and_stats_bucket(spark):
    from webindex.aggs import bucket_sort_agg, stats_bucket_agg

    b = spark.createDataFrame(
        [("a", 5), ("b", 2), ("c", 2), ("d", 9)], "bucket string, doc_count long"
    )
    # asc by count, tie key asc, skip 1 take 2 -> c(2), a(5)
    got = [(r["bucket"], r["doc_count"]) for r in
           bucket_sort_agg(b, "doc_count", asc=True, size=2, offset=1).collect()]
    assert got == [("c", 2), ("a", 5)]
    row = stats_bucket_agg(b).collect()[0]
    assert (row["count"], row["min"], row["max"], row["sum"]) == (4, 2.0, 9.0, 18.0)
    assert row["avg"] == 4.5


def test_percentile_ranks_agg(idx, stored, corpus):
    from webindex.aggs import percentile_ranks_agg

    v = _vals(corpus, QUERY)
    vals = [float(np.median(v)), float(v.max())]
    got = {r["value"]: r["percent"] for r in
           percentile_ranks_agg(idx, stored, QUERY, "n_chars", vals).collect()}
    for q in vals:
        want = round(100.0 * (v <= q).sum() / len(v), 6)
        assert got[q] == pytest.approx(want, abs=1e-6)
    assert got[float(v.max())] == 100.0


def test_rare_and_multi_terms(idx, stored, corpus):
    from webindex.aggs import multi_terms_agg, rare_terms_agg
    from collections import Counter

    m = _matching(corpus, QUERY)
    src_counts = Counter(corpus["src"][i] for i in m)
    cut = min(src_counts.values())
    rare = rare_terms_agg(idx, stored, QUERY, "src", max_doc_count=cut).collect()
    assert {(r["src"], r["doc_count"]) for r in rare} == {
        (s, c) for s, c in src_counts.items() if c <= cut
    }
    pair_counts = Counter((corpus["lang"][i], corpus["src"][i]) for i in m)
    top = multi_terms_agg(idx, stored, QUERY, ["lang", "src"], size=3).collect()
    want = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [((r["lang"], r["src"]), r["doc_count"]) for r in top] == want


def test_filters_and_adjacency(idx, corpus):
    from webindex.aggs import adjacency_matrix_agg, filters_agg

    qs = {"d": "data", "m": "merge"}
    sets = {k: _matching(corpus, v) for k, v in qs.items()}
    got = {r["key"]: r["doc_count"] for r in filters_agg(idx, qs).collect()}
    assert got == {k: len(v) for k, v in sets.items()}
    adj = {r["key"]: r["doc_count"] for r in adjacency_matrix_agg(idx, qs).collect()}
    want = {"d": len(sets["d"]), "m": len(sets["m"])}
    inter = len(sets["d"] & sets["m"])
    if inter:
        want["d&m"] = inter
    assert adj == want


def test_weighted_avg_and_matrix_stats(idx, stored, corpus):
    from webindex.aggs import matrix_stats_agg, weighted_avg_agg
    from webindex.textproc import tokenize

    m = sorted(_matching(corpus, QUERY))
    chars = np.array([corpus["n_chars"][i] for i in m], dtype=np.float64)
    toks = np.array([len(tokenize(corpus["text"][i])) for i in m], dtype=np.float64)
    st = stored.sparkSession.createDataFrame(
        [(int(i), int(corpus["n_chars"][i]), int(len(tokenize(corpus["text"][i]))))
         for i in range(N_DOCS)],
        "doc_id long, n_chars long, n_toks long",
    )
    wa = weighted_avg_agg(idx, st, QUERY, "n_chars", "n_toks").collect()[0]
    assert wa["weighted_avg"] == pytest.approx(
        (chars * toks).sum() / toks.sum(), abs=1e-5
    )
    ms = {(r["field_x"], r["field_y"]): r for r in
          matrix_stats_agg(idx, st, QUERY, ["n_chars", "n_toks"]).collect()}
    cov = np.cov(chars, toks, bias=True)
    assert ms[("n_chars", "n_toks")]["covariance"] == pytest.approx(cov[0, 1], rel=1e-5)
    cor = np.corrcoef(chars, toks)[0, 1]
    assert ms[("n_chars", "n_toks")]["correlation"] == pytest.approx(cor, abs=1e-5)
    assert ms[("n_chars", "n_chars")]["mean_x"] == pytest.approx(chars.mean(), abs=1e-5)


def test_histogram_zerofill_and_missing(idx, stored, corpus):
    from webindex.aggs import histogram_full_agg, missing_agg

    m = _matching(corpus, QUERY)
    vals = [int(corpus["n_chars"][i]) for i in m]
    hi = (max(vals) // 50 + 2) * 50
    got = {r["bucket"]: r["doc_count"] for r in
           histogram_full_agg(idx, stored, QUERY, "n_chars", 50, (0, hi)).collect()}
    # every bucket in range present, zero-filled
    assert set(got) == set(range(0, hi + 1, 50))
    from collections import Counter
    want = Counter((v // 50) * 50 for v in vals)
    for b in got:
        assert got[b] == want.get(b, 0)
    st = stored.withColumn("lang_opt", F.expr("nullif(lang, 'en')"))
    n_missing = missing_agg(idx, st, QUERY, "lang_opt").collect()[0]["doc_count"]
    assert n_missing == sum(1 for i in m if corpus["lang"][i] == "en")
