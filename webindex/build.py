"""Distributed inverted-index build (SPIMI-style), Spark-first.

Replaces the reference's "bulk-index into Elasticsearch" stage
(reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:204-232 — one bulk
action per record, Lucene does tf/df/postings) with a native pipeline:

    pages (Iceberg/Parquet scan, Catalyst pushdown on warc_ts/lang)
      -> optional latest crawl per url (latest_crawl — the rule streaming
         ingest applies to every batch)
      -> assign deterministic doc_ids                      [§ doc ids]
      -> mapInPandas extract+tokenize+local tf aggregation [SPIMI map side]
         (Arrow-batched; per-row work is ONE regex pass; html dropped here
          so the shuffle never carries raw bytes). _runs_iter is the one
          SPIMI map of the batch, resumable and streaming builds; positions
          are its one branch (Counter vs factorize + position encode)
      -> runs(term, doc_id, tf, doc_len)   [persisted = checkpoint]
      -> groupBy(term, bucket) applyInPandas -> compressed posting blocks
      -> doc_stats / term_stats / corpus_stats
    all written as partitioned Parquet (Iceberg-ready layout).

Skew / salting (SURVEY.md §4.1): the shuffle key is (term, bucket) where
bucket = doc_id // range_width. The bucket is a *deterministic salt*: a
Zipf-head term ("the", df≈N) fans out over N/range_width reducers instead of
one, while block boundaries remain pure functions of (term, doc_id range) —
so the index is byte-identical at any parallelism (local[2] == local[32] ==
1000 executors), and no per-term single-reducer merge pass exists anywhere.
Rare terms get one bucket and zero overhead. This matters at 10^12 docs: a
hash-salted build would still need a final per-term merge that must hold the
hottest term's full posting list (~10^12 entries) on one node; range
bucketing caps every task at range_width postings per term.

Determinism: doc ids are derived from url only; blocks are functions of
(term, doc ranges); floats are f64 with fixed formulas. Required for the
north rule's rank-identity across cluster sizes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from webindex import codec, schema
from webindex.bm25 import BM25Config, DEFAULT
from webindex.textproc import extract_and_tokenize, tokenize

# docs per range bucket; caps per-task postings for df=N terms. At 10^12 docs
# the hottest term spreads over ~4M buckets/reducers.
DEFAULT_RANGE_WIDTH = 1 << 18
# q-gram width of the fuzzy/suggest dictionary sidecar (term_grams).
# 2, not 3: the candidate bound needs |distinct grams| - q*fuzziness >= 1,
# and with q=3 a fuzziness-1 lookup is vacuous below 7 distinct grams —
# most real query words. Bigrams keep the bound non-vacuous from length-5
# words up at fuzziness 1 while the gram-sorted IN probe still touches only
# the query's ~|word| grams out of the ~1.3k-bigram key space.
GRAM_Q = 2


def build_term_grams(term_stats: DataFrame, q: int = GRAM_Q) -> DataFrame:
    """(gram, term) — one row per DISTINCT q-gram per vocabulary term: the
    fuzzy/suggest dictionary-intersection sidecar. Computed once per index
    generation from the committed term_stats and persisted gram-sorted, so
    a query word's IN(gram) probe prunes to its own grams' row groups; at
    a real web vocabulary the table is ~(avg_len-q+1)× the dictionary —
    still dwarfed by postings. Fuzzy/suggest expansion then touches only
    the dictionary region sharing grams with the query word (the
    join-shaped equivalent of Lucene's FST automaton intersection, which
    likewise enumerates only the reachable dictionary region) instead of
    running the Levenshtein DP down the whole vocabulary. Terms shorter
    than q are omitted: a q-gram candidate filter can never require them
    (any term within f edits of a word whose gram bound is non-vacuous has
    length >= q — see query._gram_candidates), and the short-word region
    falls back to the length-banded scan anyway."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length("term") - q),
            lambda i: F.col("term").substr(i + F.lit(1), F.lit(q)),
        )
    )
    return (
        term_stats.filter(F.length("term") >= q)
        .select(F.explode(grams).alias("gram"), "term")
    )


def adaptive_range_width(n_docs: int) -> int:
    """Bucket width when the caller doesn't pin one: ~128+ buckets for
    mid-size corpora (query scoring parallelism), capped at DEFAULT_RANGE_WIDTH
    for web scale. Depends ONLY on n_docs (data), never on cluster size —
    block identity across parallelism levels is preserved."""
    return max(1024, min(DEFAULT_RANGE_WIDTH, n_docs // 128))


@dataclass
class Index:
    """Handles to the built index tables (DataFrames, possibly disk-backed)."""

    postings: DataFrame
    term_stats: DataFrame
    doc_stats: DataFrame
    n_docs: int
    avgdl: float
    conf: BM25Config = field(default_factory=lambda: DEFAULT)
    range_width: int = DEFAULT_RANGE_WIDTH
    lineage: DataFrame | None = None
    # q-gram dictionary sidecar (build_term_grams); None on in-memory /
    # pre-round-5 indexes — fuzzy/suggest then fall back to the length-
    # banded linear vocabulary scan (query.ensure_term_grams builds and
    # caches it on demand for in-memory indexes)
    term_grams: DataFrame | None = None
    # the bucket function's identity: doc_id -> bucket is
    # bucket_expr(doc_id, n_docs, range_width, id_space, bucket_bits).
    # id_space None = unknown (pre-round-5 sidecar) — consumers that need
    # the doc->bucket map (per-bucket function_score extrema) must fall
    # back to bucket-agnostic behavior rather than guess
    id_space: str | None = None
    bucket_bits: int | None = None
    # every doc_id is xxhash64(url), as measured over the committed
    # doc_stats (assert_no_docid_collisions): id_space "hash" does not prove
    # it, since assign_doc_ids keeps a caller's doc_id column. lookup_url
    # then probes the doc_id-sorted doc_stats by id too. False = unknown
    # (dense / provided / caller ids, indexes without the conf column):
    # lookup_url filters on url alone.
    url_hash_ids: bool = False
    # live-docs filter (round 5): doc_ids tombstoned since the last compact,
    # dropped at decode by every query kernel (query._candidate_plan hands
    # them to the BM25 scorer, the filter-context count kernel and the
    # positional kernels; the θ seeds and highlight) BEFORE any local
    # top-k cut — the ES refresh-interval delete semantics (results exclude
    # dead docs; n_docs/avgdl/df stay as-built until the merge, exactly
    # Lucene's live-docs bitmap); the lookups (lookup_doc / lookup_docs /
    # lookup_url, term_vectors) report a dead doc as not found, like ES
    # realtime GET. Sorted int64 numpy array, driver-scale by
    # construction: it holds only the deletes SINCE the last compact
    # (streaming.live_index), the analogue of Lucene's per-segment
    # deleted-docs bitmap in heap.
    dead_ids: "np.ndarray | None" = None
    # the driver-local data files of term_stats, as its DataFrame captured
    # them at open (io.driver_files): the dictionary probe reads them with
    # pyarrow. None (in-memory, iceberg or non-local tables): the probe is
    # a Spark filter + collect.
    term_files: tuple[str, ...] | None = None

    def bucket_of(self, doc_id_col: F.Column) -> F.Column:
        """doc_id -> bucket column, usable only when id_space is known."""
        if self.id_space is None:
            raise ValueError("index id_space unknown (pre-round-5 index)")
        return bucket_expr(
            doc_id_col, self.n_docs, self.range_width, self.id_space,
            self.bucket_bits,
        )


# --------------------------------------------------------------------------
# doc id assignment (SURVEY.md §4.4 — must be cluster-size independent)
# --------------------------------------------------------------------------

def assign_doc_ids(pages: DataFrame, method: str = "hash") -> DataFrame:
    """Add a deterministic  doc_id  derived only from data, never from
    partitioning.

    hash : xxhash64(url) — O(1), fully parallel, the 10^12-scale choice
           (collision expectation ~3e-7 per pair; dedup-by-url upstream).
    dense: row_number over url order — dense 0..N-1 ids; global sort, used
           for small fixtures and exact-arithmetic tests.
    """
    if "doc_id" in pages.columns:
        return pages
    if method == "hash":
        return pages.withColumn("doc_id", F.xxhash64(F.col("url")))
    if method == "dense":
        from pyspark.sql import Window

        w = Window.orderBy("url")
        return pages.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
    raise ValueError(f"unknown doc_id method: {method}")


# --------------------------------------------------------------------------
# SPIMI map side: pages -> runs(term, doc_id, tf, doc_len)
# --------------------------------------------------------------------------

# sentinel term marking one row per document in the runs table (the
# tokenizer can never emit it: \x00 is not a word character). Carries the
# doc's length so doc/corpus stats are a cheap filter over runs instead of a
# groupBy over every (term, doc) pair.
DOC_MARKER = "\x00"


def _runs_iter(batches, text_col: str, with_positions: bool):
    """mapInPandas fn: per-batch local tf aggregation (the SPIMI 'map').

    One output row per (doc, distinct term) plus one DOC_MARKER row per doc
    (including empty docs: dl=0); doc_len carried on every row so the posting
    encoder never joins doc_stats. The per-doc term grouping is the one
    branch: a Counter without positions; with them, pandas factorize + one
    stable argsort per doc (no per-token Python loop) and one varint pass
    per doc for the encoded token-position stream of each (doc, term).
    Positions are 0-based token indexes (the analyzer's token positions,
    matching Lucene's position increments for a standard-analyzer stream)."""
    from collections import Counter

    tokfn = extract_and_tokenize if text_col == "html" else tokenize
    for pdf in batches:
        terms_out: list[str] = []
        docs_out: list[int] = []
        tfs_out: list[int] = []
        dls_out: list[int] = []
        pos_out: list[bytes] = []
        for doc_id, raw in zip(pdf["doc_id"].to_numpy(), pdf[text_col].tolist()):
            toks = tokfn(raw)
            dl = len(toks)
            terms_out.append(DOC_MARKER)
            docs_out.append(doc_id)
            tfs_out.append(0)
            dls_out.append(dl)
            if with_positions:
                pos_out.append(b"")
            if dl == 0:
                continue
            if with_positions:
                codes, uniq = pd.factorize(np.asarray(toks, dtype=object))
                order = np.argsort(codes, kind="stable")  # groups by term,
                positions = order.astype(np.int64)  # ascending in-group
                sc = codes[order]
                gstarts = np.concatenate(
                    ([0], np.nonzero(sc[1:] != sc[:-1])[0] + 1)
                )
                gends = np.concatenate((gstarts[1:], [dl]))
                buf, nbytes = codec.positions_encode_grouped(positions, gstarts)
                cuts = np.zeros(dl + 1, dtype=np.int64)
                np.cumsum(nbytes, out=cuts[1:])
                pos_out.extend(
                    buf[cuts[s] : cuts[e]] for s, e in zip(gstarts, gends)
                )
                terms, tfs = uniq[sc[gstarts]], (gends - gstarts).tolist()
            else:
                cnt = Counter(toks)
                terms, tfs = cnt.keys(), cnt.values()
            terms_out.extend(terms)
            docs_out.extend([doc_id] * len(tfs))
            tfs_out.extend(tfs)
            dls_out.extend([dl] * len(tfs))
        out = {
            "term": pd.array(terms_out, dtype="string"),
            "doc_id": np.asarray(docs_out, dtype=np.int64),
            "tf": np.asarray(tfs_out, dtype=np.int32),
            "doc_len": np.asarray(dls_out, dtype=np.int32),
        }
        if with_positions:
            out["positions"] = pos_out
        yield pd.DataFrame(out)


def build_runs(
    pages: DataFrame, text_col: str = "html", with_positions: bool = False
) -> DataFrame:
    """pages -> runs. `text_col='html'` exercises extract_text (byte-identity
    invariant); 'text' skips extraction when the scan already has clean text.
    with_positions adds the encoded per-(term,doc) token-position stream
    (phrase-query support; ~cost of one extra varint pass per doc).

    Only (doc_id, text_col) are read => Catalyst prunes every other column
    out of the parquet scan."""
    return pages.select("doc_id", text_col).mapInPandas(
        lambda it: _runs_iter(it, text_col, with_positions),
        schema=(
            schema.with_positions(schema.RUNS) if with_positions else schema.RUNS
        ),
    )


# --------------------------------------------------------------------------
# doc/term/corpus statistics
# --------------------------------------------------------------------------

def build_doc_stats(pages: DataFrame, runs: DataFrame) -> DataFrame:
    """doc_stats(doc_id, url, doc_len). url comes from a pure projection of
    pages (no re-tokenize); doc_len from the DOC_MARKER rows — a filter over
    runs, NOT a groupBy over every (term, doc) pair. Empty docs included
    (doc_len=0)."""
    lens = runs.filter(F.col("term") == DOC_MARKER).select("doc_id", "doc_len")
    urls = pages.select("doc_id", "url")
    return urls.join(lens, "doc_id", "left").select(
        "doc_id",
        "url",
        F.coalesce(F.col("doc_len"), F.lit(0)).cast("int").alias("doc_len"),
    )


def vocab_and_corpus_agg(runs: DataFrame) -> tuple[DataFrame, DataFrame, int, float]:
    """ONE map-side-combined pass over runs yields both the vocabulary
    (term, df) AND the corpus stats: the DOC_MARKER sentinel group's row
    count is n_docs and its doc_len sum is the token total (each doc has
    exactly one marker row carrying its length). Saves a full scan of the
    (term, doc) pairs vs running a separate corpus-stats agg and vocab aggregate
    separately — at 10^12 docs that pass is minutes of cluster time; the
    extra agg state is one int64 per term.

    Returns (vocab_df, persisted_handle — caller unpersists it when done,
    n_docs, avgdl); vocab_df reads from the handle's cache. avgdl arithmetic
    is bit-identical to a naive count/avg agg's (exact int sum, one float64
    division)."""
    vocab_all = (
        runs.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("doc_len").alias("sdl"))
        .persist()
    )
    marker = vocab_all.filter(F.col("term") == DOC_MARKER).collect()
    n_docs = int(marker[0]["df"]) if marker else 0
    avgdl = float(marker[0]["sdl"]) / n_docs if n_docs else 0.0
    vocab_df = vocab_all.filter(F.col("term") != DOC_MARKER).select("term", "df")
    return vocab_df, vocab_all, n_docs, avgdl


def _with_idf(df_counts: DataFrame, n_docs: int) -> DataFrame:
    return df_counts.select(
        "term",
        "term_hash",
        "df",
        F.log(
            F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )


def term_hash_col(term_col) -> F.Column:
    """The 64-bit shuffle/storage key for a term. xxhash64 is deterministic
    across cluster sizes and Spark versions (pinned seed 42), so block
    identity across parallelism levels is preserved."""
    return F.xxhash64(term_col)


def term_hashes(spark: SparkSession, terms: list[str]) -> dict[str, int]:
    """Driver-side {term: term_hash} via a tiny Spark job (the hash must be
    Spark's own xxhash64 — never re-implemented in Python). The query path
    doesn't need this: term_stats already carries term_hash."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", term_hash_col(F.col("term")).alias("h"))
        .collect()
    )
    return {r["term"]: int(r["h"]) for r in rows}


def _attempt_hash_col(term_col, attempt: int) -> F.Column:
    """The i-th fallback key for a colliding term: xxhash64 over (term, i) —
    a different input tuple, so independent of the primary xxhash64(term)."""
    return F.xxhash64(term_col, F.lit(attempt))


def term_hash_expr(
    term_col,
    remap: dict[str, int] | None = None,
    primary_fn=None,
) -> F.Column:
    """term -> final 64-bit key: the primary hash with a CASE override for
    the (vanishingly few) remapped collision terms. Stays JVM-side; remap
    sizes are O(expected collisions) ~ 0-3 even at 10^9 vocab, so the CASE
    chain is effectively free (resolve_term_hashes caps it at 1000)."""
    primary = (primary_fn or term_hash_col)(term_col)
    if not remap:
        return primary
    expr = None
    for t, h in sorted(remap.items()):
        cond = term_col == F.lit(t)
        expr = F.when(cond, F.lit(h)) if expr is None else expr.when(cond, F.lit(h))
    return expr.otherwise(primary)


def resolve_term_hashes(
    vocab: DataFrame,
    existing_dict: DataFrame | None = None,
    *,
    primary_fn=None,
    attempt_fn=None,
    max_remap: int = 1000,
    max_attempts: int = 8,
) -> tuple[DataFrame, dict[str, int]]:
    """Assign a collision-free 64-bit key to every term BEFORE the postings
    shuffle (an xxhash64 collision would silently merge two terms' postings;
    post-hoc detection can only abort the build after paying for it).

    vocab: DataFrame with a `term` column (new data's distinct terms; the
    caller's term_stats pre-aggregate works — extra columns are ignored).
    existing_dict: committed (term, term_hash) pairs from a previous build.
    Existing terms ALWAYS keep their stored key (their postings are already
    on disk under it); only new terms may be remapped.

    Returns (term_dict, remap): term_dict has one (term, term_hash) row per
    term over the union, with unique hashes; remap maps the new terms whose
    primary hash collided to their reassigned key — feed it to
    `term_hash_expr` wherever runs are hashed.

    Collision arithmetic: at 10^9 vocab the expected number of colliding
    PAIRS is n^2/2^65 ~ 0.03, so `remap` is almost always empty and the
    resolve costs one vocab-sized agg + (only when non-empty) a driver-side
    loop over a handful of terms. primary_fn/attempt_fn are injectable so
    tests can force collisions with a coarse hash space.

    Scale note: the collision detection groupBy is vocab-sized (term
    strings), orders of magnitude smaller than the postings shuffle, and
    the caller reuses the same pre-aggregated vocab for term_stats — no
    extra pass over runs."""
    primary_fn = primary_fn or term_hash_col
    attempt_fn = attempt_fn or _attempt_hash_col

    new_terms = vocab.select("term").filter(F.col("term") != DOC_MARKER).distinct()
    if existing_dict is not None:
        existing = existing_dict.select("term", "term_hash")
        new_terms = new_terms.join(existing.select("term"), "term", "left_anti")
        all_keys = existing.unionByName(
            new_terms.withColumn("term_hash", primary_fn(F.col("term")))
        )
    else:
        existing = None
        all_keys = new_terms.withColumn("term_hash", primary_fn(F.col("term")))
    # no internal persist: every consumer below recomputes from the caller's
    # (already persisted) vocab/dict inputs with cheap hash expressions only

    # hashes claimed by >1 distinct term; only NEW terms are remap candidates
    clash_hashes = (
        all_keys.groupBy("term_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("term_hash")
    )
    clashing = all_keys.join(F.broadcast(clash_hashes), "term_hash")
    if existing is not None:
        clashing = clashing.join(existing.select("term"), "term", "left_anti")
    clash_rows = clashing.limit(max_remap + 1).collect()
    if not clash_rows:
        return all_keys, {}
    if len(clash_rows) > max_remap:
        raise RuntimeError(
            f"term-hash collision remap exceeds {max_remap} terms — the hash "
            "function is degenerate (or the vocab is adversarial); refusing "
            "to build a CASE chain that large"
        )

    # keep exactly one claimant per collided primary hash (deterministic:
    # the lexicographically-smallest NEW term, unless an existing term
    # already owns it); remap the rest via attempt hashes
    spark = vocab.sparkSession
    by_hash: dict[int, list[str]] = {}
    for r in clash_rows:
        by_hash.setdefault(int(r["term_hash"]), []).append(r["term"])
    owned = {
        int(r["term_hash"])
        for r in (
            existing.join(F.broadcast(clash_hashes), "term_hash").collect()
            if existing is not None
            else []
        )
    }
    pending: list[str] = []
    for h, terms in by_hash.items():
        terms.sort()
        keep = 0 if h not in owned else None  # existing owner -> remap all
        for i, t in enumerate(terms):
            if i != keep:
                pending.append(t)

    remap: dict[str, int] = {}
    for attempt in range(1, max_attempts + 1):
        if not pending:
            break
        cand = (
            spark.createDataFrame([(t,) for t in pending], "term string")
            .withColumn("h", attempt_fn(F.col("term"), attempt))
        )
        # reject: collides with any assigned key, any accepted remap, or a
        # sibling candidate in this round (keep the smallest-term sibling)
        taken = all_keys.select(F.col("term_hash").alias("h"))
        if remap:
            taken = taken.unionByName(
                spark.createDataFrame([(h,) for h in remap.values()], "h long")
            )
        rows = (
            cand.join(taken, "h", "left_anti")
            .groupBy("h")
            .agg(F.sort_array(F.collect_list("term")).alias("ts"))
            .collect()
        )
        accepted_this_round: set[str] = set()
        for r in rows:
            winner = r["ts"][0]
            remap[winner] = int(r["h"])
            accepted_this_round.add(winner)
        pending = [t for t in pending if t not in accepted_this_round]
    if pending:
        raise RuntimeError(
            f"could not find collision-free keys for {len(pending)} terms "
            f"after {max_attempts} attempts: {pending[:5]!r}..."
        )

    remap_df = spark.createDataFrame(
        list(remap.items()), "term string, term_hash long"
    )
    term_dict = (
        all_keys.join(F.broadcast(remap_df.select("term")), "term", "left_anti")
        .unionByName(remap_df)
    )
    return term_dict, remap


def assert_no_docid_collisions(doc_stats: DataFrame) -> bool:
    """Raise if any doc_id holds more than one row (one thin agg over the
    committed doc_stats); return whether every doc_id is xxhash64(url)
    (Index.url_hash_ids), counted by the same agg. Two distinct urls on
    one id is an xxhash64(url) collision — expected pair count n²/2⁶⁵ ≈
    3e4 at the 10^12-doc design target, each silently merging two
    documents, so it gets the same loud-failure standard as term hashes
    (remedy: widen the doc key or assign dense ids). One url twice is a duplicate-input contract breach —
    pass dedup_urls=True (or dedup upstream).

    Fast path: one global (count, distinct-id) agg — map-side partial
    aggregation, a few bytes per task through the shuffle. The per-id
    groupBy that names the offending id runs only on the failure path
    (it cost a full extra doc_stats shuffle on EVERY build — measured as
    part of the 1.34x build regression, the round-3/4 A/B in
    BENCH/BASELINE.md)."""
    tot = doc_stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("d"),
        F.count(F.when(F.col("doc_id") != F.xxhash64("url"), 1)).alias("x"),
    ).collect()[0]
    url_hash_ids = int(tot["x"]) == 0
    if int(tot["n"]) == int(tot["d"]):
        return url_hash_ids
    dup = (
        doc_stats.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("u"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        if int(dup[0]["u"]) > 1:
            raise RuntimeError(
                f"doc_id collision: id {dup[0]['doc_id']} maps more than one "
                "url (xxhash64(url) collision) — widen the doc key or use "
                "doc_id_method='dense'"
            )
        raise RuntimeError(
            f"duplicate url in input (doc_id {dup[0]['doc_id']}): pass "
            "dedup_urls=True or deduplicate re-crawls upstream"
        )
    return url_hash_ids


def term_stats_from_postings(
    postings: DataFrame, n_docs: int, term_dict: DataFrame
) -> DataFrame:
    """term_stats derived from the block table: df = Σ n_docs over a term's
    blocks. The postings table is ~|vocab|·buckets rows — orders of magnitude
    smaller than runs, so this replaces a full pass over every (term, doc)
    pair with a scan of block metadata. Blocks carry only term_hash; the
    human-readable term comes from the vocab-sized dictionary join (both
    sides ~|vocab| rows — negligible next to the postings shuffle)."""
    hash_df = postings.groupBy("term_hash").agg(
        F.sum("n_docs").cast("long").alias("df")
    )
    return _with_idf(hash_df.join(term_dict, "term_hash"), n_docs)


# --------------------------------------------------------------------------
# posting-block encoding (the salted term shuffle + sort-merge)
# --------------------------------------------------------------------------

def hash_bucket_bits(n_docs: int, range_width: int) -> int:
    """Number of top bits used as the doc-range bucket in hash id space.
    Pinned in compaction state so incremental merges keep a stable shard
    layout as the corpus grows (re-shard = explicit full compact)."""
    import math

    n_buckets_target = max(1, n_docs // range_width)
    return max(0, math.ceil(math.log2(n_buckets_target)))


def bucket_expr(
    doc_id_col: F.Column,
    n_docs: int,
    range_width: int,
    id_space: str,
    bits: int | None = None,
) -> F.Column:
    """Doc-range shard (the deterministic salt) sized to ~range_width docs.

    dense: ids are 0..N-1 -> bucket = doc_id // range_width (contiguous).
    hash : ids are xxhash64(url), uniform over the full int64 domain ->
           bucket = top b bits (unsigned shift), with 2^b buckets chosen so
           the EXPECTED docs per bucket is ~range_width. Plain floor-division
           would give every doc its own bucket (ids span ±2^63) — millions of
           singleton groups and one block per posting.

    Both depend only on (doc_id, N) — never on partitioning — so the block
    layout is identical at any cluster size."""
    if id_space == "dense":
        return F.floor(doc_id_col / F.lit(range_width)).cast("long")
    if id_space != "hash":
        raise ValueError(f"unknown id_space: {id_space}")
    b = hash_bucket_bits(n_docs, range_width) if bits is None else bits
    if b == 0:
        return F.lit(0).cast("long")
    return F.shiftrightunsigned(doc_id_col, 64 - b)


_BLOCK_SHIFT = 24  # block_id = (bucket << 24) | local block index


def build_postings(
    runs: DataFrame,
    avgdl: float,
    conf: BM25Config = DEFAULT,
    range_width: int = DEFAULT_RANGE_WIDTH,
    *,
    n_docs: int = 0,
    id_space: str = "dense",
    bucket_bits: int | None = None,
    hash_remap: dict[str, int] | None = None,
    hash_primary_fn=None,
) -> DataFrame:
    """runs -> compressed posting blocks.

    Shuffle key (term_hash, bucket): deterministic salt for hot terms (see
    module docstring). The term STRING is dropped before the shuffle — rows
    cross the wire as 5 fixed-width numerics (~25% smaller than with an
    avg-8-char term, and the dominant build shuffle is exactly these rows);
    term_hash = xxhash64(term) with the (term, term_hash) dictionary kept in
    term_stats (resolve_term_hashes keeps it collision-free). Within each group we
    sort by doc_id (Spark's shuffle is the external sort-merge of SPIMI runs;
    the in-group sort is numpy) and emit delta+varint blocks with per-block
    max_impact for block-max WAND.

    block_id = (bucket << 24) | local index — globally unique per term and
    independent of parallelism. Accepts runs keyed by `term` (raw SPIMI
    output) or already by `term_hash` (incremental-merge path). Runs carrying
    a `positions` column (positional build) produce positional blocks: each
    block's positions stream is the concatenation of its docs' already-
    encoded byte spans in doc_id order — no re-encode at the reduce side."""
    k1, b, block_size = conf.k1, conf.b, conf.block_size
    qnorms = conf.quantize_norms
    positional = "positions" in runs.columns
    out_schema = (
        schema.with_positions(schema.POSTINGS) if positional else schema.POSTINGS
    )

    def _encode_spans(th, bk, ids, tfs, dls, pos, gends) -> pd.DataFrame:
        """Encode the COMPLETE (term_hash, bucket) groups of already
        (key, doc_id)-sorted arrays in ONE codec.encode_blocks call: group g
        ends at row gends[g] (group 0 starts at row 0); rows past gends[-1]
        — the carried trailing group — are left for the next call. Block
        bytes and metadata are a pure function of each group's sorted
        postings, so the emitted blocks are byte-identical at any
        parallelism and any batch split."""
        enc = codec.encode_blocks(
            ids, tfs, dls, avgdl, k1, b, block_size,
            quantize_norms=qnorms, group_ends=gends,
        )
        first = np.concatenate(([0], gends[:-1]))[enc["group"]]  # group's 1st row
        bucket = bk[first]
        out = {
            "term_hash": th[first],
            "bucket": bucket,
            "block_id": (bucket << _BLOCK_SHIFT) | enc["block_id"],
            "doc_ids": enc["doc_ids"],
            "tfs": enc["tfs"],
            "doc_lens": enc["doc_lens"],
            "n_docs": enc["n_docs"].astype(np.int32),
            "min_doc": enc["min_doc"],
            "max_doc": enc["max_doc"],
            "max_impact": enc["max_impact"],
            "avgdl0": np.full(len(bucket), float(avgdl), dtype=np.float64),
        }
        if positional:
            # a block's positions stream is its docs' encoded spans joined
            # in doc_id order: one join over the batch, then byte offsets
            n = int(gends[-1])
            joined = b"".join(pos[:n])
            cut = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(np.fromiter(map(len, pos[:n]), np.int64, n), out=cut[1:])
            row0 = first + enc["block_id"] * block_size  # block's first row
            out["positions"] = [
                joined[lo:hi]
                for lo, hi in zip(
                    cut[row0].tolist(), cut[row0 + enc["n_docs"]].tolist()
                )
            ]
        return pd.DataFrame(out)

    def _stream_encode(batches):
        """mapInPandas fn over a partition whose rows arrive sorted by
        (term_hash, bucket, doc_id): one _encode_spans call (so one codec
        call) per Arrow batch for every complete group in it, carrying the
        trailing (possibly batch-spanning) group into the next batch. The
        Python boundary is paid per batch, never per group or block: the
        index is mostly tiny groups (block fill ~0.04), and a codec call
        per group cost ~0.36 ms each — 7.9 s for 22k groups against 0.09 s
        batched. The sort also hands each group its rows doc_id-ascending,
        so no per-group argsort is needed."""
        carry: list | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [
                pdf["term_hash"].to_numpy(dtype=np.int64),
                pdf["bucket"].to_numpy(dtype=np.int64),
                pdf["doc_id"].to_numpy(dtype=np.int64),
                pdf["tf"].to_numpy(dtype=np.int64),
                pdf["doc_len"].to_numpy(dtype=np.int64),
                pdf["positions"].to_numpy() if positional else None,
            ]
            if carry is not None:
                arrs = [
                    None if a is None else np.concatenate((c, a))
                    for c, a in zip(carry, arrs)
                ]
            th, bk = arrs[0], arrs[1]
            change = np.nonzero((th[1:] != th[:-1]) | (bk[1:] != bk[:-1]))[0] + 1
            if change.size == 0:
                carry = arrs  # whole batch continues one group
                continue
            cut = int(change[-1])  # trailing group may span into next batch
            yield _encode_spans(*arrs, change)
            carry = [None if a is None else a[cut:] for a in arrs]
        if carry is not None and len(carry[0]):
            yield _encode_spans(*carry, np.asarray([len(carry[0])]))

    if "term_hash" not in runs.columns:
        keep = ["doc_id", "tf", "doc_len"] + (["positions"] if positional else [])
        runs = (
            runs.filter(F.col("term") != DOC_MARKER)
            .withColumn(
                "term_hash",
                term_hash_expr(F.col("term"), hash_remap, hash_primary_fn),
            )
            .select("term_hash", *keep)  # the string never crosses the shuffle
        )
    bucketed = runs.withColumn(
        "bucket", bucket_expr(F.col("doc_id"), n_docs, range_width, id_space, bucket_bits)
    )
    # one hash shuffle on (term_hash, bucket) exactly as before (repartition
    # by expression; AQE sizes/coalesces the reduce side), then an in-
    # partition sort that BOTH contiguates each group for the streaming
    # encoder and hands it its rows doc_id-ascending
    keyed = bucketed.repartition(F.col("term_hash"), F.col("bucket")).sortWithinPartitions(
        "term_hash", "bucket", "doc_id"
    )
    return keyed.mapInPandas(_stream_encode, schema=out_schema)


def decode_postings_to_runs(
    postings: DataFrame, quantize_norms: bool = False
) -> DataFrame:
    """Inverse of build_postings: compressed blocks -> hashed runs
    (term_hash, doc_id, tf, doc_len) rows. Used by incremental compaction to
    merge ONLY the touched buckets' old blocks with new runs (never re-reads
    or re-tokenizes pages). No DOC_MARKER rows are reconstructed — callers
    track doc stats separately. Blocks store no term strings; join term_stats
    on term_hash when a human-readable view is needed. quantize_norms: the
    flag the blocks were encoded with (quantized values round-trip exactly,
    so a decode -> re-encode compaction cycle is lossless).

    One codec.decode_blocks_concat call per Arrow batch, its counts from
    the blocks' n_docs column — a decode_block call per block cost ~0.19 ms
    of numpy setup each (5.0 s for 22.5k blocks against 0.06 s batched).
    Positional blocks round-trip their per-doc position byte spans UNPARSED:
    one codec.positions_byte_slices over the batch's joined streams and the
    concatenated tfs splits them at doc boundaries (each doc's first gap is
    absolute, so a span needs no block context), so compaction never
    re-encodes positions either."""
    positional = "positions" in postings.columns
    out_schema = (
        schema.with_positions(schema.RUNS_HASHED) if positional else schema.RUNS_HASHED
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["n_docs"].to_numpy(dtype=np.int64)
            ids, tfs, dls, _ = codec.decode_blocks_concat(
                pdf["doc_ids"], pdf["tfs"], pdf["doc_lens"], counts, quantize_norms
            )
            out = {
                "term_hash": np.repeat(
                    pdf["term_hash"].to_numpy(dtype=np.int64), counts
                ),
                "doc_id": ids,
                "tf": tfs.astype(np.int32),
                "doc_len": dls.astype(np.int32),
            }
            if positional:
                joined = b"".join(pdf["positions"])
                cut = codec.positions_byte_slices(joined, tfs).tolist()
                out["positions"] = [
                    joined[lo:hi] for lo, hi in zip(cut[:-1], cut[1:])
                ]
            yield pd.DataFrame(out)

    cols = ["term_hash", "n_docs", "doc_ids", "tfs", "doc_lens"] + (
        ["positions"] if positional else []
    )
    return postings.select(*cols).mapInPandas(fn, schema=out_schema)


# --------------------------------------------------------------------------
# full build
# --------------------------------------------------------------------------

def dict_file_target(n_docs: int) -> int:
    """File-count target for the dictionary-shaped tables, derived from DATA
    size only (n_docs), never cluster size: sorted point/IN lookups want
    few, fat, fully key-sorted files (one at bench scales; ~2M docs' worth
    of rows per file at web scale — the hash-partitioned alternative leaves
    every file's key range overlapping, so nothing can be file-pruned)."""
    return max(1, n_docs // 2_000_000)


def overlap(*chains):
    """Run independent table-write chains on a driver thread pool, one
    thread each, and return their results in order; every future is read,
    so a failed chain raises once the pool has drained. The small chains
    fill the big one's straggler tail instead of extending the commit
    (optimization guide §2.6). Determinism is untouched: each chain's
    lineage is unchanged, FIFO scheduling just interleaves their tasks."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = [pool.submit(chain) for chain in chains]
        return [f.result() for f in futures]


def term_dictionary(
    vocab_df: DataFrame, n_docs: int, hash_primary_fn=None
) -> tuple[DataFrame, dict[str, int]]:
    """(term_stats, remap) of a fresh build: pre-shuffle collision
    resolution over the vocabulary aggregate, then each term's final key and
    idf. term_stats doubles as the term dictionary; its keys are
    collision-free BY CONSTRUCTION (resolve_term_hashes raises on any
    unresolved clash before the postings shuffle), so no post-write
    collision re-scan follows. Feed `remap` to build_postings."""
    _, remap = resolve_term_hashes(vocab_df, primary_fn=hash_primary_fn)
    term_stats = _with_idf(
        vocab_df.withColumn(
            "term_hash", term_hash_expr(F.col("term"), remap, hash_primary_fn)
        ),
        n_docs,
    )
    return term_stats, remap


def commit_index_tables(
    spark: SparkSession,
    runs: DataFrame,
    doc_urls: DataFrame,
    conf: BM25Config,
    *,
    range_width: int | None,
    id_space: str,
    out_dir: str | None,
    hash_primary_fn,
) -> Index:
    """runs + a (doc_id, url) frame -> the committed Index. The one
    runs->index path of build_index and checkpoint.build_index_resumable, so
    every batch-built index gets the same checks (duplicate-url / doc-id
    collision), layout and table-format seam.

    With out_dir the tables go through io.write_table and are re-read
    lazily; the one-row sidecars (corpus_stats, conf) are written after the
    tables they describe, so a failed rebuild into an existing out_dir never
    leaves new corpus stats over old tables. Without out_dir everything is
    materialized in memory (tests)."""
    doc_stats = build_doc_stats(doc_urls, runs)

    # ONE combined pass over runs yields the vocabulary AND the corpus stats
    # (see vocab_and_corpus_agg), persisted vocab-sized and reused for
    # (a) pre-shuffle collision resolution — a remapped key for the rare
    # xxhash64 clash instead of a post-hoc abort — and (b) the term_stats
    # table. Neither consumer re-scans runs' (term,doc) pairs.
    vocab_df, vocab_handle, n_docs, avgdl = vocab_and_corpus_agg(runs)

    if range_width is None:
        range_width = adaptive_range_width(n_docs)

    term_stats, hash_remap = term_dictionary(vocab_df, n_docs, hash_primary_fn)

    postings = build_postings(
        runs, avgdl, conf, range_width, n_docs=n_docs, id_space=id_space,
        hash_remap=hash_remap, hash_primary_fn=hash_primary_fn,
    )

    if out_dir:
        # term-clustered layout: each shuffle partition (already hash-keyed by
        # (term_hash,bucket) from the encode groupBy) is SORTED by term_hash
        # before the write, so parquet row-group min/max stats prune a query's
        # IN(term_hash,...) pushdown tightly. NB: repartitionByRange would
        # give file-level pruning too, but its range-sampling job re-executes
        # the whole encode (2x build cost, measured 5x slower end-to-end) —
        # on Iceberg use WRITE ORDERED BY (term_hash, block_id) which samples
        # metadata, not the plan. All table writes go through io.write_table
        # (parquet here; Iceberg = WEBINDEX_TABLE_FORMAT=iceberg + a catalog).
        #
        # Round-6 job overlap: once runs are on disk and the vocab aggregate
        # is resolved, the remaining writes are three independent chains —
        # (postings), (term_stats -> term_grams), (doc_stats -> docid
        # check). They used to run serially, so the small metadata
        # chains added their full job latency to every build and the
        # cluster idled through each one's tail; overlap() runs them on a
        # 3-thread pool.
        from webindex.io import (
            driver_files, read_table, write_driver_table, write_table,
        )

        dict_files = dict_file_target(n_docs)

        def _write_postings() -> None:
            write_table(
                postings, f"{out_dir}/postings",
                sort_cols=["term_hash", "block_id"],
            )

        def _write_terms() -> None:
            write_table(
                term_stats, f"{out_dir}/term_stats", sort_cols=["term"],
                coalesce=dict_files,
            )
            # q-gram dictionary sidecar for fuzzy/suggest expansion, derived
            # from the COMMITTED dictionary (a thin columnar re-scan beats
            # re-running the vocab aggregate) and gram-clustered so a query
            # word's IN(gram) probe prunes to its own row groups
            write_table(
                build_term_grams(read_table(spark, f"{out_dir}/term_stats")),
                f"{out_dir}/term_grams",
                sort_cols=["gram"],
                coalesce=dict_files,
            )

        def _write_docs() -> bool:
            write_table(
                doc_stats, f"{out_dir}/doc_stats", sort_cols=["doc_id"],
                coalesce=dict_files,
            )
            # the check reads the COMMITTED table: re-using the in-memory
            # plan would re-execute the whole pages+runs join; the read-back
            # is a thin columnar scan
            return assert_no_docid_collisions(
                read_table(spark, f"{out_dir}/doc_stats")
            )

        _, _, url_hash_ids = overlap(_write_postings, _write_terms, _write_docs)
        # one-row sidecars are driver-side writes (no Spark job; see
        # write_driver_table). conf: layout facts baked into the blocks
        # (k1/b feed max_impact; quantize_norms changes the doc_lens byte
        # format) and the measured url_hash_ids — load_index restores them
        # so an index is always queried with the conf it was built with.
        write_driver_table(
            spark, [(n_docs, avgdl, -1)], schema.CORPUS_STATS,
            f"{out_dir}/corpus_stats",
        )
        write_driver_table(
            spark,
            [(
                conf.k1, conf.b, conf.block_size, conf.quantize_norms,
                range_width, id_space, url_hash_ids,
            )],
            schema.INDEX_CONF,
            f"{out_dir}/conf",
        )
        postings = read_table(spark, f"{out_dir}/postings")
        term_stats = read_table(spark, f"{out_dir}/term_stats")
        doc_stats = read_table(spark, f"{out_dir}/doc_stats")
        term_files = driver_files(term_stats)
    else:
        term_files = None
        # materialize the index once — queries must never re-run the build
        postings = postings.persist()
        postings.count()
        term_stats = term_stats.persist()
        doc_stats = doc_stats.persist()
        term_stats.count()
        url_hash_ids = assert_no_docid_collisions(doc_stats)
    vocab_handle.unpersist()

    return Index(
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        conf=conf,
        range_width=range_width,
        term_grams=(
            read_table(spark, f"{out_dir}/term_grams") if out_dir else None
        ),
        id_space=id_space,
        bucket_bits=(
            hash_bucket_bits(n_docs, range_width) if id_space == "hash" else None
        ),
        url_hash_ids=url_hash_ids,
        term_files=term_files,
    )


def latest_crawl(pages: DataFrame, text_col: str) -> DataFrame:
    """One row per url, latest crawl wins: newest warc_ts first (when the
    column exists), then a content-hash tiebreak on `html` if present, else
    on `text_col`. Without the tiebreak the winner among equal-warc_ts
    re-crawls is partition-layout-dependent, breaking the byte-identical-
    at-any-parallelism invariant. The one rule of build_index(dedup_urls=
    True) and of every streaming ingest batch."""
    from pyspark.sql import Window

    order = []
    if "warc_ts" in pages.columns:
        order.append(F.desc_nulls_last("warc_ts"))
    for content in ("html", text_col):
        if content in pages.columns:
            order.append(F.asc(F.xxhash64(content)))
            break
    w = Window.partitionBy("url").orderBy(*order)
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    conf: BM25Config = DEFAULT,
    *,
    text_col: str = "html",
    doc_id_method: str = "hash",
    range_width: int | None = None,
    out_dir: str | None = None,
    dedup_urls: bool = False,
    hash_primary_fn=None,
    positions: bool = False,
) -> Index:
    """End-to-end build. If out_dir is given, index tables are written as
    partitioned Parquet (Iceberg-ready layout) and re-read lazily; otherwise
    everything stays as in-memory DataFrames (tests).

    PRECONDITION: urls are unique in `pages` (duplicate urls hash to the same
    doc_id -> duplicated (term, doc_id) runs -> df and per-doc scores double-
    count). The streaming path enforces latest-crawl-wins itself; for batch
    inputs that may contain re-crawls, pass dedup_urls=True (latest warc_ts
    wins, content-hash tiebreak) — it costs one extra shuffle of the raw
    pages, so at 100 TB prefer deduplicating upstream in the crawl store.

    Job shape: (1) runs + stats (one tokenize pass, persisted so nothing
    re-tokenizes), then (2) the (term,bucket) shuffle into compressed blocks
    overlapped with the small dictionary/doc-table writes on a driver thread
    pool (guide §2.6 — independent chains back-fill each other's tails);
    (2) is commit_index_tables.
    """
    if dedup_urls:
        pages = latest_crawl(pages, text_col)
    pages = assign_doc_ids(pages, doc_id_method)
    runs = build_runs(pages, text_col=text_col, with_positions=positions)
    if out_dir:
        # disk-backed runs: ONE tokenize pass, columnar-compressed scratch,
        # zero MemoryStore/GC pressure. Measured at 1M docs/local[32]:
        # 33.6s vs 107s with .persist() (the deserialized cache itself was
        # the build bottleneck) vs 75.6s with 3x re-tokenize. Doubles as the
        # natural checkpoint artifact (same layout checkpoint.py uses).
        from webindex.io import read_table

        runs.write.mode("overwrite").parquet(f"{out_dir}/runs")
        runs = read_table(spark, f"{out_dir}/runs", fmt="parquet")
    else:
        runs = runs.persist()

    idx = commit_index_tables(
        spark, runs, pages.select("doc_id", "url"), conf,
        range_width=range_width,
        id_space="hash" if doc_id_method == "hash" else "dense",
        out_dir=out_dir, hash_primary_fn=hash_primary_fn,
    )
    if not out_dir:
        runs.unpersist()
    return idx


def _sidecar_or_none(spark: SparkSession, path: str, read=None):
    """An OPTIONAL index sidecar table, None only when it is absent (conf:
    pre-round-2 indexes lack it, load_index falls back to the caller's
    conf; term_grams: pre-round-5, fuzzy/suggest fall back to the
    length-banded vocab scan). `read` is io.read_table (the default: a lazy DataFrame) or
    io.read_rows (its rows)."""
    from webindex.io import read_table, table_format
    from webindex.fsutil import path_exists

    read = read or read_table
    if table_format() == "parquet":
        if not path_exists(spark, path):
            return None
        return read(spark, path)
    # iceberg: the absence check IS the read — catch ONLY table-not-found
    # (a transient catalog/auth failure must propagate, not silently
    # degrade the consumer to its fallback scan)
    from pyspark.errors import AnalysisException

    try:
        return read(spark, path)
    except AnalysisException as e:
        klass = getattr(e, "getErrorClass", lambda: None)() or ""
        if "TABLE_OR_VIEW_NOT_FOUND" in klass or "cannot be found" in str(e):
            return None
        raise


def load_index(
    spark: SparkSession, out_dir: str, conf: BM25Config = DEFAULT
) -> Index:
    """Re-open a committed index WITHOUT a Spark job on a driver-local
    parquet index: the one-row sidecars are read on the driver
    (io.read_rows) and the tables open lazily with their schemas pinned
    from their footers (io.read_table). Other filesystems and iceberg take
    the Spark reads. A url_index/ dir left by an older build is never
    opened: lookup_url reads doc_stats.

    If the index has a conf sidecar (written by build_index since round 2),
    it OVERRIDES the conf argument: k1/b/block_size/quantize_norms are baked
    into the encoded blocks, so querying with anything else would silently
    mis-score. Pre-sidecar indexes fall back to the conf argument."""
    from webindex.io import driver_files, read_rows, read_table

    range_width = DEFAULT_RANGE_WIDTH
    id_space: str | None = None
    url_hash_ids = False
    # Fall back to the caller's conf ONLY when the sidecar is genuinely
    # absent (pre-sidecar index). A transient read failure (S3 flake,
    # permissions) must propagate — silently dropping the sidecar would
    # varint-decode quantized norm bytes as garbage and mis-score quietly,
    # defeating the sidecar's whole guarantee.
    conf_rows = _sidecar_or_none(spark, f"{out_dir}/conf", read_rows)
    if conf_rows is not None:
        c = conf_rows[0]
        conf = BM25Config(
            k1=float(c["k1"]),
            b=float(c["b"]),
            block_size=int(c["block_size"]),
            quantize_norms=bool(c["quantize_norms"]),
        )
        range_width = int(c["range_width"])
        # pre-round-5 sidecars lack id_space: record None (unknown), never
        # guess — a wrong bucket map would make per-bucket bounds unsound
        id_space = c.get("id_space")
        # likewise url_hash_ids: absent = unknown, lookup_url's url scan
        url_hash_ids = bool(c.get("url_hash_ids"))

    stats = read_rows(spark, f"{out_dir}/corpus_stats")[0]
    postings = read_table(spark, f"{out_dir}/postings")
    term_stats = read_table(spark, f"{out_dir}/term_stats")
    if "term_hash" not in postings.columns:
        raise RuntimeError(
            f"{out_dir} is a pre-term-hash index (postings keyed by 'term'); "
            "rebuild it — querying it with this version would silently "
            "return no hits"
        )
    return Index(
        postings=postings,
        term_stats=term_stats,
        doc_stats=read_table(spark, f"{out_dir}/doc_stats"),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        conf=conf,
        range_width=range_width,
        term_grams=_sidecar_or_none(spark, f"{out_dir}/term_grams"),
        id_space=id_space,
        bucket_bits=(
            hash_bucket_bits(int(stats["n_docs"]), range_width)
            if id_space == "hash"
            else None
        ),
        url_hash_ids=url_hash_ids,
        term_files=driver_files(term_stats),
    )
