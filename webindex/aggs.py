"""ES-style aggregations served from the native index: a constant-score
match filter resolved from posting blocks, composed with stored-field
aggregations (the `terms` and `histogram` aggregation shapes).

The reference's ES backend serves aggregation/search reads over the same
index as relevance queries (reference:
src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-306). At 100 TB the point
of doing this from the index is that the FILTER never scans text: the
query terms' posting blocks are a pruned columnar scan (term_hash IN (...)
pushdown), matching doc_ids come out as fixed-width longs, and only those
meet the stored-fields table in a doc_id-keyed join. The aggregation
output itself is tiny (field cardinality / histogram buckets), so the
whole plan is one pruned scan + one keyed join + one map-side-combined
aggregate.

Buckets partition doc space (build.bucket_expr), so per-bucket unique
doc_ids are globally unique — the match filter needs NO distinct shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from webindex import codec
from webindex.build import Index
from webindex.query import _candidate_plan, _live, _query_terms


def matching_doc_ids(index: Index, query: str, msm: int = 1) -> DataFrame:
    """(doc_id) for docs matching at least `msm` distinct query terms — a
    constant-score `match` filter (ES filter context: no scoring work).

    One pruned block scan + per-bucket numpy unique; a doc's postings for
    every query term live in the same doc-range bucket, so bucket-local
    unique is globally unique and bucket-local term counts are exact."""
    stats = _query_terms(index, query)
    return ids_for_hashes(index, [h for (_, _, h) in stats.values()], msm)


def ids_for_hashes(index: Index, hashes: list[int], msm: int = 1) -> DataFrame:
    """(doc_id) for docs containing >= msm distinct terms from a term-hash
    set (the filter-context kernel of match filters and dictionary-expanded
    queries like prefix): ids_with_counts thresholded. msm above the hash
    count can match nothing: the empty frame, no job."""
    return (
        ids_with_counts(index, hashes if msm <= len(hashes) else [])
        .filter(F.col("n_matched") >= msm)
        .select("doc_id")
    )


def ids_with_counts(index: Index, hashes: list[int]) -> DataFrame:
    """(doc_id, n_matched) — how many DISTINCT terms of a term-hash set
    each matching doc contains (>= 1 by construction). The count kernel
    for per-doc minimum_should_match (ES terms_set) and, thresholded, for
    every match filter (ids_for_hashes): query._candidate_plan's pruned IN
    scan, then a bucket-local ids-only decode (codec.decode_ids_concat —
    the tfs/doc_lens streams are never decoded) minus the pending deletes.
    A doc's postings for every query term share its doc-range bucket and
    there is one row per (term, doc), so the bucket-local multiplicity is
    the exact global count. Integer-only work; no scoring floats."""

    def fn(pdf: pd.DataFrame, dead: np.ndarray | None) -> pd.DataFrame:
        ids, _ = codec.decode_ids_concat(
            pdf["doc_ids"], pdf["n_docs"].to_numpy(dtype=np.int64)
        )
        alive = _live(ids, dead)
        u, c = np.unique(ids if alive is None else ids[alive], return_counts=True)
        return pd.DataFrame({"doc_id": u, "n_matched": c.astype(np.int32)})

    return _candidate_plan(index, hashes, fn, "doc_id long, n_matched int")


def significant_terms(
    index: Index,
    query: str,
    size: int = 10,
    min_doc_count: int = 3,
    msm: int = 1,
    sample: int | None = None,
) -> DataFrame:
    """ES `significant_terms` aggregation: terms unusually frequent in the
    docs matching `query` (the foreground) relative to the whole corpus
    (the background), scored with ES's JLH heuristic

        jlh = (fgp - bgp) * (fgp / bgp)
        fgp = fg_count / fg_size,  bgp = df / n_docs

    The query's own terms are excluded (ES exposes this as the agg's
    `exclude` option; every matching doc trivially contains one, which is
    the query echoing back, not a signal). Deterministic order: jlh desc,
    term asc; terms with fg_count < min_doc_count drop (ES
    shard_min_doc_count).

    Plan (PLANS.md §7 shape, one extra aggregate over the index itself):
    the foreground doc set comes from the pruned match-filter scan; the
    per-term foreground counts come from decoding the FULL postings table
    once into (term_hash, doc_id) pairs and semi-joining the foreground
    ids — the background df and n_docs are already in term_stats, so no
    text is ever scanned. ES pays the same full-term sweep per shard; at
    100 TB both sides of the join are fixed-width longs and the output is
    vocab-sized before the top-N cut.

    `sample` is ES's `sampler` parent aggregation: the foreground shrinks
    to the top-`sample` matching docs by BM25 relevance (ES sampler's
    shard_size semantics — "the best docs are the representative ones"),
    which changes the COST SHAPE of the sweep: the sampled ids are a
    driver-known set (sample is small by construction), so the decode pass
    (a) prunes every block whose [min_doc, max_doc] doc range contains no
    sampled id — block metadata only, nothing decompressed — and (b)
    filters decoded postings to the sample and pre-aggregates (term_hash,
    partial count) INSIDE the Arrow batch, so the shuffle carries at most
    |vocab ∩ sample's terms| short rows per task instead of one row per
    posting. The full-corpus sweep this agg's unsampled form pays (and ES
    pays per shard) disappears."""
    spark = index.postings.sparkSession
    qn = index.conf.quantize_norms
    sample_arr = None
    fg_ids = None
    if sample is not None:
        top = (
            match_scores(index, query, msm)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(sample)
            .select("doc_id")
            .collect()
        )
        sample_arr = np.sort(np.array([r["doc_id"] for r in top], dtype=np.int64))
        fg_size = len(sample_arr)
    else:
        # persisted: the frame is consumed twice (the count here, the
        # semi-join below) — without it the pruned match scan+decode runs
        # twice per call
        fg_ids = matching_doc_ids(index, query, msm).persist()
        fg_size = fg_ids.count()
    if fg_size == 0:
        if fg_ids is not None:
            fg_ids.unpersist()
        return spark.createDataFrame(
            [], "term string, fg_count long, score double"
        )

    _empty = pd.DataFrame(
        {
            "term_hash": np.array([], dtype=np.int64),
            "doc_id": np.array([], dtype=np.int64),
        }
    )

    def pairs(batches):
        # batched ids-only decode per Arrow batch (codec.decode_ids_concat);
        # the sampled path keeps the block-range prune, vectorized over the
        # batch's min/max metadata before any decode
        for pdf in batches:
            if not len(pdf):
                yield _empty
                continue
            if sample_arr is None:
                counts = pdf["n_docs"].to_numpy(dtype=np.int64)
                ids, _ = codec.decode_ids_concat(pdf["doc_ids"], counts)
                yield pd.DataFrame(
                    {
                        "term_hash": np.repeat(
                            pdf["term_hash"].to_numpy(dtype=np.int64), counts
                        ),
                        "doc_id": ids,
                    }
                )
                continue
            mn = pdf["min_doc"].to_numpy(dtype=np.int64)
            mx = pdf["max_doc"].to_numpy(dtype=np.int64)
            lo = np.searchsorted(sample_arr, mn, side="left")
            keep = (lo < len(sample_arr)) & (
                sample_arr[np.clip(lo, 0, len(sample_arr) - 1)] <= mx
            )
            sub = pdf.iloc[np.nonzero(keep)[0]]
            if not len(sub):
                yield _empty
                continue
            counts = sub["n_docs"].to_numpy(dtype=np.int64)
            ids, _ = codec.decode_ids_concat(sub["doc_ids"], counts)
            th_all = np.repeat(sub["term_hash"].to_numpy(dtype=np.int64), counts)
            m = (
                sample_arr[
                    np.clip(np.searchsorted(sample_arr, ids), 0, len(sample_arr) - 1)
                ]
                == ids
            )
            th_all = th_all[m]
            if not len(th_all):
                yield _empty
                continue
            # batch-local partial aggregate: (term_hash, count) only
            u, c = np.unique(th_all, return_counts=True)
            yield pd.DataFrame({"term_hash": u, "doc_id": c.astype(np.int64)})

    blocks = index.postings
    if sample_arr is not None:
        # coarse pushable range guard (Catalyst min/max row-group pruning);
        # the fine per-block searchsorted prune runs inside the UDF
        blocks = blocks.filter(
            (F.col("max_doc") >= int(sample_arr[0]))
            & (F.col("min_doc") <= int(sample_arr[-1]))
        )
    decoded = blocks.mapInPandas(pairs, schema="term_hash long, doc_id long")
    if sample_arr is not None:
        # doc_id column carries the batch-local partial count here
        fg_counts = decoded.groupBy("term_hash").agg(
            F.sum("doc_id").alias("fg_count")
        )
    else:
        fg_counts = (
            decoded.join(fg_ids, "doc_id")
            .groupBy("term_hash")
            .agg(F.count("*").alias("fg_count"))
        )
    exclude = [t for t in _query_terms(index, query)]
    n_docs = index.n_docs
    scored = (
        fg_counts.join(
            # vocab-sized x vocab-sized on term_hash: a plain equi-join
            # (AQE picks broadcast only when the dictionary actually fits)
            index.term_stats.select("term_hash", "term", "df"),
            "term_hash",
        )
        .filter(~F.col("term").isin(exclude))
        .filter(F.col("fg_count") >= min_doc_count)
        .withColumn("fgp", F.col("fg_count") / F.lit(float(fg_size)))
        .withColumn("bgp", F.col("df") / F.lit(float(n_docs)))
        .withColumn(
            "score",
            (F.col("fgp") - F.col("bgp")) * (F.col("fgp") / F.col("bgp")),
        )
    )
    out = (
        scored.select("term", "fg_count", "score")
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )
    if fg_ids is None:
        return out
    # unsampled path: the persisted foreground set is referenced by the lazy
    # plan above, so an early unpersist would make the semi-join re-run the
    # whole pruned match scan. The result is <= size rows by construction —
    # materialize it here, release the cache, and hand back a local frame
    # (otherwise every call leaks executor storage for the session lifetime).
    rows = out.collect()
    fg_ids.unpersist()
    return spark.createDataFrame(rows, "term string, fg_count long, score double")


def significant_text(
    index: Index,
    stored: DataFrame,
    query: str,
    text_col: str = "text",
    size: int = 10,
    sample: int = 200,
    min_doc_count: int = 3,
    msm: int = 1,
    filter_duplicate_text: bool = False,
    background: str = "index",
) -> DataFrame:
    """ES `significant_text` aggregation: JLH-scored term significance from
    RE-ANALYZING the free text of a relevance sample of matching docs —
    ES's for-text sibling of significant_terms, built for fields where a
    full fielddata load would be prohibitive: it only ever analyzes the
    sampled docs' source text. Foreground = the top-`sample` matching docs
    by BM25 (ES docs pair significant_text with a sampler parent for
    exactly this cost reason; we bake it in like significant_terms's
    sample=); fg_count = sampled docs CONTAINING the term (distinct per
    doc). Background df comes from term_stats when `background="index"`
    (text_col is the indexed field — free) or from one tokenize-aggregate
    scan of `stored` when `background="scan"` (arbitrary unindexed text
    columns — the honest full pass ES would also pay via a lookup index).

    `filter_duplicate_text` mirrors ES's near-dup noise guard with a
    deterministic exact-content dedup (md5 of canonical tokens, min-doc_id
    winner) over the sample — ES's own filter is a lossier streaming
    near-dup; ours is exact, which can only keep MORE docs.

    Scale shape: the sample ids are driver-known (sample is small by
    contract — same as sampler significant_terms); the analyze pass
    touches `sample` rows of stored text via a pushable IN(doc_id) probe
    of the doc_id-sorted table; the fg aggregate is at most
    sample × distinct-terms-per-doc rows, map-side combined; the
    vocab-scale join to the background is left to AQE. Output
    (term, fg_count, score), jlh desc / term asc."""
    from webindex.dedup import tokens_col

    spark = index.postings.sparkSession
    if background not in ("index", "scan"):
        raise ValueError("background must be 'index' or 'scan'")
    top = (
        match_scores(index, query, msm)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(sample)
        .select("doc_id")
        .collect()
    )
    ids = [int(r["doc_id"]) for r in top]
    empty = "term string, fg_count long, score double"
    if not ids:
        return spark.createDataFrame([], empty)
    fg_docs = stored.filter(F.col("doc_id").isin(ids)).select(
        "doc_id", text_col
    )
    if filter_duplicate_text:
        canon = F.md5(F.concat_ws(" ", tokens_col(text_col)))
        kept = (
            fg_docs.select("doc_id", canon.alias("_c"))
            .groupBy("_c")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
            .collect()
        )
        ids = sorted(int(r["doc_id"]) for r in kept)
        fg_docs = fg_docs.filter(F.col("doc_id").isin(ids))
    fg_size = float(len(ids))
    fg_counts = (
        fg_docs.select(
            F.explode(F.array_distinct(tokens_col(text_col))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    if background == "index":
        bg = index.term_stats.select("term", "df")
        n_docs = float(index.n_docs)
    else:
        bg = (
            stored.select(
                F.explode(F.array_distinct(tokens_col(text_col))).alias("term")
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        n_docs = float(stored.count())
    exclude = sorted(set(_query_terms(index, query)))
    return (
        fg_counts.join(bg, "term")
        .filter(~F.col("term").isin(exclude))
        .filter(F.col("fg_count") >= min_doc_count)
        .withColumn("fgp", F.col("fg_count") / F.lit(fg_size))
        .withColumn("bgp", F.col("df") / F.lit(n_docs))
        .withColumn(
            "score",
            (F.col("fgp") - F.col("bgp")) * (F.col("fgp") / F.col("bgp")),
        )
        .select("term", "fg_count", "score")
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


def terms_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    size: int = 10,
    msm: int = 1,
) -> DataFrame:
    """ES `terms` aggregation: top-`size` values of `field` by matching-doc
    count, for docs matching the query (filter context). `stored` is the
    stored-fields table carrying (doc_id, `field`).

    Deterministic bucket order: doc_count desc, field asc (ES's _count
    desc with a stable key tie-break)."""
    ids = matching_doc_ids(index, query, msm)
    return (
        stored.join(ids, "doc_id")
        .groupBy(field)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc(field))
        .limit(size)
    )


def histogram_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    interval: int,
    msm: int = 1,
) -> DataFrame:
    """ES `histogram` aggregation over a numeric stored field: bucket key =
    floor(value / interval) * interval, count of matching docs per bucket
    (empty buckets omitted, ES min_doc_count=1 behavior)."""
    ids = matching_doc_ids(index, query, msm)
    bucket = (F.floor(F.col(field) / interval) * interval).cast("long")
    return (
        stored.join(ids, "doc_id")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def match_scores(
    index: Index,
    query: str,
    msm: int = 1,
    idf_override: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score) for EVERY doc matching >= msm query terms — exhaustive
    BM25 (θ=0, no top-k cut). The shared scored-match kernel for
    aggregations that need relevance per bucket member (top_hits, sampler,
    function_score re-ranking) rather than a global top-k.

    idf_override replaces the index's per-term idf with a caller-supplied
    value (term string -> idf) — the hook cross_fields uses to score every
    field with the BLENDED idf while keeping each field's own tf/dl/avgdl.

    Same fused one-Exchange plan as the topk family (PLANS.md §7): pruned
    IN(term_hash) block scan, one bucket groupBy, per-bucket decode+score.
    The only difference is k=None — the local cut is skipped, so the output
    is match-set-sized (bounded by the query terms' df sum), not k."""
    from webindex.query import _HIT, _match_spec, _scored

    spark = index.postings.sparkSession
    stats = _query_terms(index, query)
    if not stats or msm > len(stats):
        return spark.createDataFrame([], _HIT)
    if idf_override:
        stats = {
            t: (df, idf_override.get(t, idf), h)
            for t, (df, idf, h) in stats.items()
        }
    return _scored(index, _match_spec(stats, msm=msm), None)


def stats_agg(
    index: Index, stored: DataFrame, query: str, field: str, msm: int = 1
) -> DataFrame:
    """ES `stats` metric aggregation over a numeric stored field in filter
    context: one row (count, min, max, avg, sum) across the matching docs.
    One pruned match scan + doc_id equi-join + a map-side-combined global
    aggregate — the output is a single row regardless of corpus size."""
    ids = matching_doc_ids(index, query, msm)
    c = F.col(field)
    return stored.join(ids, "doc_id").agg(
        F.count(c).cast("long").alias("count"),
        F.min(c).cast("double").alias("min"),
        F.max(c).cast("double").alias("max"),
        F.round(F.avg(c), 4).alias("avg"),
        F.sum(c).cast("double").alias("sum"),
    )


def extended_stats_agg(
    index: Index, stored: DataFrame, query: str, field: str, msm: int = 1
) -> DataFrame:
    """ES `extended_stats`: stats plus sum_of_squares and POPULATION
    variance/std-deviation (ES's default sigma semantics)."""
    ids = matching_doc_ids(index, query, msm)
    c = F.col(field).cast("double")
    return stored.join(ids, "doc_id").agg(
        F.count(c).cast("long").alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.round(F.avg(c), 4).alias("avg"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sum_of_squares"),
        F.round(F.var_pop(c), 4).alias("variance"),
        F.round(F.stddev_pop(c), 4).alias("std_deviation"),
    )


def percentiles_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    percents: list[float] | None = None,
    msm: int = 1,
    exact: bool = True,
) -> DataFrame:
    """ES `percentiles` aggregation: one row per requested percent with the
    linearly-interpolated value (exact=True — the semantics ES's t-digest
    approximates; at driver-test scale exact and t-digest agree, and exact
    is what a SQL oracle can verify). Output (percent, value), percent asc.

    Scale: Spark's exact `percentile` needs the field's values for the
    matching set on one reducer per group — fine for a single global row
    even at 100 TB match sets ONLY if the match set fits; exact=False is
    the 100 TB path and ES's actual algorithm class: `approx_percentile`
    (fixed-size quantile sketch, map-side combined, no value shuffle)."""
    if percents is None:
        percents = [1.0, 25.0, 50.0, 75.0, 99.0]
    ids = matching_doc_ids(index, query, msm)
    fracs = F.array(*[F.lit(p / 100.0) for p in percents])
    pct_fn = F.percentile if exact else F.approx_percentile
    row = stored.join(ids, "doc_id").agg(
        pct_fn(F.col(field), fracs).alias("vals")
    )
    pcts = F.array(*[F.lit(float(p)) for p in percents])
    return (
        row.select(F.posexplode(pcts).alias("i", "percent"), "vals")
        .select("percent", F.round(F.col("vals")[F.col("i")], 4).alias("value"))
        .orderBy("percent")
    )


def cardinality_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    msm: int = 1,
    exact: bool = True,
) -> DataFrame:
    """ES `cardinality` aggregation: distinct count of `field` over matching
    docs. exact=True is a real distinct (the oracle-checkable semantics);
    exact=False is the HLL++ sketch (`approx_count_distinct`) — ES's actual
    algorithm and the 100 TB path: map-side-combined fixed-size registers,
    no distinct shuffle of the raw values."""
    ids = matching_doc_ids(index, query, msm)
    joined = stored.join(ids, "doc_id")
    if exact:
        return joined.agg(F.countDistinct(field).cast("long").alias("value"))
    return joined.agg(F.approx_count_distinct(field).cast("long").alias("value"))


def range_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    ranges: list[tuple[float | None, float | None]],
    msm: int = 1,
) -> DataFrame:
    """ES `range` aggregation: one bucket per requested [from, to) range
    (from inclusive, to exclusive — ES semantics), EMPTY BUCKETS INCLUDED
    (ES always returns every requested range). Bucket key formatted the ES
    way: "*-100.0", "100.0-300.0", "300.0-*"; output ordered as requested.

    The per-range conditional counts ride ONE aggregate row (sum of CASE
    per range — a single pass, no per-range scan), then unpivot to rows
    with stack() — fully lazy, no driver round-trip; requested-range
    cardinality is tiny by construction."""
    ids = matching_doc_ids(index, query, msm)
    joined = stored.join(ids, "doc_id")
    c = F.col(field).cast("double")

    def key_of(lo: float | None, hi: float | None) -> str:
        return f"{'*' if lo is None else float(lo)}-{'*' if hi is None else float(hi)}"

    aggs = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= float(lo))
        if hi is not None:
            cond = cond & (c < float(hi))
        aggs.append(
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"r{i}")
        )
    stack = ", ".join(
        f"{i}, '{key_of(lo, hi)}', r{i}" for i, (lo, hi) in enumerate(ranges)
    )
    return (
        joined.agg(*aggs)
        .select(
            F.expr(f"stack({len(ranges)}, {stack}) AS (idx, key, doc_count)")
        )
        .orderBy("idx")
        .select("key", "doc_count")
    )


def date_histogram_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    calendar_interval: str = "month",
    msm: int = 1,
) -> DataFrame:
    """ES `date_histogram` with a CALENDAR interval (month/week/day/...):
    bucket key = date_trunc(interval, ts), count per bucket, empty buckets
    omitted (min_doc_count=1), key asc. Calendar intervals are why this
    isn't histogram_agg: buckets are irregular wall-clock spans, which
    date_trunc handles and a fixed divisor can't."""
    ids = matching_doc_ids(index, query, msm)
    bucket = F.date_trunc(calendar_interval, F.col(field))
    return (
        stored.join(ids, "doc_id")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def composite_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    msm: int = 1,
) -> DataFrame:
    """ES `composite` aggregation: the paginated multi-source bucket walk.
    Buckets are the distinct source-tuples among matching docs, ordered by
    the tuple ascending; `after` resumes STRICTLY past a previous page's
    last key (ES after_key). Unlike terms aggs, composite never needs the
    full bucket set on one node — the tuple-ordered limit is a
    TakeOrdered, and the after cursor prunes before the aggregate, so
    deep pagination stays O(page) like search_after does for hits."""
    ids = matching_doc_ids(index, query, msm)
    joined = stored.join(ids, "doc_id")
    if after is not None:
        cur = F.struct(*[F.lit(v).alias(s) for s, v in zip(sources, after)])
        joined = joined.filter(F.struct(*sources) > cur)
    return (
        joined.groupBy(*sources)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(*[F.asc(s) for s in sources])
        .limit(size)
    )


def top_hits_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    group_field: str,
    hits_per_group: int = 2,
    msm: int = 1,
) -> DataFrame:
    """ES `top_hits` sub-aggregation under a terms bucketing: for every
    value of `group_field`, the top `hits_per_group` matching docs by
    relevance (score desc, doc_id asc — the engine's rank order). Output
    (group, rank, doc_id, score) ordered by (group, rank).

    Scores come from the exhaustive match kernel (match_scores) — top_hits
    ranks INSIDE buckets, so a global top-k can't feed it; the per-group
    cut is a window rank over a group-keyed shuffle, partial-aggregated by
    Spark's WindowGroupLimit pushdown (rank filter is pushed map-side), so
    no group ever materializes more than its local frontier."""
    from pyspark.sql import Window

    scores = match_scores(index, query, msm)
    w = (
        Window.partitionBy(group_field)
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return (
        stored.join(scores, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= hits_per_group)
        .select(
            F.col(group_field).alias("group"),
            "rank",
            "doc_id",
            F.round("score", 4).alias("score"),
        )
        .orderBy("group", "rank")
    )


def pipeline_agg(
    buckets: DataFrame,
    kind: str,
    metric: str = "doc_count",
    key: str = "bucket",
    window: int = 3,
) -> DataFrame:
    """ES pipeline aggregations over a PARENT bucket frame (the output of
    date_histogram/histogram/terms aggs): `derivative` (metric - lag, NULL
    first bucket), `cumulative_sum`, and `moving_avg` (trailing mean over
    the last `window` buckets INCLUDING the current one — ES moving_fn
    with shift=1 alignment; round-6 for cross-engine hash stability).

    Scale shape: in ES these are coordinator-side reductions over the
    parent agg's ALREADY-REDUCED bucket list — bucket-count scale, never
    corpus scale. The single-ordering window below is the same thing: by
    the time this runs, `buckets` is an aggregate output (histogram
    buckets, term cardinality), so one ordered pass over it is the
    CORRECT plan at any corpus size; the corpus-scale work happened in the
    parent agg's map-side-combined shuffle."""
    from pyspark.sql import Window

    w = Window.orderBy(key)
    if kind == "derivative":
        out = F.col(metric) - F.lag(metric).over(w)
        return buckets.withColumn("derivative", out.cast("double")).orderBy(key)
    if kind == "cumulative_sum":
        cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return buckets.withColumn(
            "cumulative_sum", F.sum(metric).over(cw).cast("double")
        ).orderBy(key)
    if kind == "moving_avg":
        mw = w.rowsBetween(-(window - 1), Window.currentRow)
        return buckets.withColumn(
            "moving_avg", F.round(F.avg(metric).over(mw), 6)
        ).orderBy(key)
    raise ValueError(f"unknown pipeline agg kind: {kind}")


def bucket_sort_agg(
    buckets: DataFrame,
    sort_field: str,
    asc: bool = False,
    size: int | None = None,
    offset: int = 0,
    key: str = "bucket",
) -> DataFrame:
    """ES `bucket_sort` pipeline agg: re-order the parent's buckets by a
    metric and truncate (from/size). Tie-break on the bucket key asc so
    the page cut is total-ordered. Bucket-count scale (see pipeline_agg);
    offset>0 needs a row_number since Spark has no OFFSET pushdown on
    DataFrames — still a window over an aggregate output."""
    from pyspark.sql import Window

    order = [
        F.asc(sort_field) if asc else F.desc(sort_field),
        F.asc(key),
    ]
    if offset == 0:
        out = buckets.orderBy(*order)
        return out.limit(size) if size is not None else out
    w = Window.orderBy(*order)
    out = (
        buckets.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > offset)
    )
    if size is not None:
        out = out.filter(F.col("_rn") <= offset + size)
    return out.drop("_rn").orderBy(*order)


def stats_bucket_agg(
    buckets: DataFrame, metric: str = "doc_count"
) -> DataFrame:
    """ES sibling pipeline aggs (`stats_bucket`, subsuming avg_/min_/max_/
    sum_bucket): one row of stats over the parent's bucket metric.
    Bucket-count scale reduction — one global agg over an agg output."""
    return buckets.agg(
        F.count(metric).cast("long").alias("count"),
        F.min(metric).cast("double").alias("min"),
        F.max(metric).cast("double").alias("max"),
        F.round(F.avg(metric), 6).alias("avg"),
        F.sum(metric).cast("double").alias("sum"),
    )


def percentile_ranks_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    values: list[float],
    msm: int = 1,
) -> DataFrame:
    """ES `percentile_ranks`: for each given value v, the percentage of
    matching docs whose `field` <= v (the inverse of percentiles; exact
    form — ES's t-digest approximates this). Output (value, percent)
    value-asc, round-6.

    One pruned match + keyed join (see terms_agg) + ONE conditional-sum
    aggregate computing every requested value in the same pass — the
    values list is user-query scale, so this is corpus-linear with a
    constant factor, never one pass per value."""
    ids = matching_doc_ids(index, query, msm)
    joined = stored.join(ids, "doc_id")
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.when(F.col(field) <= v, 1).otherwise(0)).alias(f"_le_{i}")
        for i, v in enumerate(values)
    ]
    row = joined.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(v)).alias("value"),
                F.round(
                    F.when(
                        F.col("_n") > 0,
                        100.0 * F.col(f"_le_{i}") / F.col("_n"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("percent"),
            )
            for i, v in enumerate(values)
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select("p.value", "p.percent")
        .orderBy("value")
    )


def rare_terms_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    max_doc_count: int = 1,
    msm: int = 1,
) -> DataFrame:
    """ES `rare_terms`: the long-tail complement of `terms` — buckets for
    field values whose matching-doc count is <= max_doc_count, ordered
    (doc_count asc, field asc). Same pruned-filter + keyed-join + map-side
    combined groupBy plan as terms_agg; the HAVING cut keeps the output
    tail-sized. (ES bounds memory with a CuckooFilter and accepts false
    negatives; the exact groupBy is already scale-safe on Spark, so this
    keeps exact semantics.)"""
    ids = matching_doc_ids(index, query, msm)
    return (
        stored.join(ids, "doc_id")
        .groupBy(field)
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("doc_count"), F.asc(field))
    )


def multi_terms_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    fields: list[str],
    size: int = 10,
    msm: int = 1,
) -> DataFrame:
    """ES `multi_terms`: terms buckets keyed by a FIELD TUPLE, top-`size`
    by doc_count (desc, then key tuple asc — ES's _count order with a
    deterministic tie-break). One groupBy on the composite key; the limit
    is a TakeOrdered, so no full bucket set ever sits on one node."""
    ids = matching_doc_ids(index, query, msm)
    return (
        stored.join(ids, "doc_id")
        .groupBy(*fields)
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(f) for f in fields])
        .limit(size)
    )


def filters_agg(
    index: Index, queries: dict[str, str], msm: int = 1
) -> DataFrame:
    """ES `filters` aggregation: one named bucket per filter query, value =
    matching-doc count. Each filter resolves through the same pruned
    posting probe as every other agg (term_hash IN pushdown -> fixed-width
    doc_id longs -> map-side-combined count); the N named filters are
    user-query scale, so the plan is N pruned probes unioned into one
    tiny frame — never a corpus scan per filter. Output (key, doc_count)
    key asc."""
    parts = []
    for name in sorted(queries):
        ids = matching_doc_ids(index, queries[name], msm)
        parts.append(ids.agg(F.count(F.lit(1)).alias("doc_count")).select(
            F.lit(name).alias("key"), F.col("doc_count").cast("long")
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("key")


def adjacency_matrix_agg(
    index: Index, filters: dict[str, str], msm: int = 1
) -> DataFrame:
    """ES `adjacency_matrix` aggregation: a bucket per named filter and per
    pairwise INTERSECTION (ES key 'a&b', names sorted). Each filter's
    match set is a fixed-width doc_id frame; intersections are doc_id
    equi-joins of those frames (match-set scale, broadcastable when small
    — never a text scan). Empty buckets are omitted (ES behavior). Output
    (key, doc_count) key asc."""
    names = sorted(filters)
    id_frames = {n: matching_doc_ids(index, filters[n], msm) for n in names}
    parts = []
    for i, n in enumerate(names):
        parts.append(
            id_frames[n]
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .select(F.lit(n).alias("key"), F.col("doc_count").cast("long"))
        )
        for m2 in names[i + 1:]:
            inter = id_frames[n].join(id_frames[m2], "doc_id")
            parts.append(
                inter.agg(F.count(F.lit(1)).alias("doc_count")).select(
                    F.lit(f"{n}&{m2}").alias("key"),
                    F.col("doc_count").cast("long"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("doc_count") > 0).orderBy("key")


def weighted_avg_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    value_field: str,
    weight_field: str,
    msm: int = 1,
) -> DataFrame:
    """ES `weighted_avg`: sum(value*weight)/sum(weight) over matching docs
    (round-6). One pruned match + keyed join + single global agg."""
    ids = matching_doc_ids(index, query, msm)
    j = stored.join(ids, "doc_id")
    return j.agg(
        F.round(
            F.sum(F.col(value_field) * F.col(weight_field))
            / F.sum(weight_field),
            6,
        ).alias("weighted_avg")
    )


def matrix_stats_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    fields: list[str],
    msm: int = 1,
) -> DataFrame:
    """ES `matrix_stats`: per ordered field pair (x, y), population
    covariance and Pearson correlation over matching docs, plus each
    field's mean/population-variance on the diagonal row. ONE aggregate
    computes every cell (the built-in covar_pop/corr/var_pop partials are
    all map-side combinable) — corpus-linear regardless of field count².
    Output (field_x, field_y, mean_x, covariance, correlation) ordered
    (field_x, field_y), round-6. (ES streams the same running-moment
    partials per shard and merges on the coordinator.)"""
    ids = matching_doc_ids(index, query, msm)
    j = stored.join(ids, "doc_id")
    aggs = []
    for x in fields:
        aggs.append(F.round(F.avg(x), 6).alias(f"_mean_{x}"))
        for y in fields:
            aggs.append(F.round(F.covar_pop(x, y), 6).alias(f"_cov_{x}_{y}"))
            aggs.append(F.round(F.corr(x, y), 6).alias(f"_cor_{x}_{y}"))
    row = j.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(x).alias("field_x"),
                F.lit(y).alias("field_y"),
                F.col(f"_mean_{x}").alias("mean_x"),
                F.col(f"_cov_{x}_{y}").alias("covariance"),
                F.col(f"_cor_{x}_{y}").alias("correlation"),
            )
            for x in fields
            for y in fields
        ]
    )
    return (
        row.select(F.explode(cells).alias("c"))
        .select("c.field_x", "c.field_y", "c.mean_x", "c.covariance", "c.correlation")
        .orderBy("field_x", "field_y")
    )


def histogram_full_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    interval: int,
    bounds: tuple[int, int],
    msm: int = 1,
) -> DataFrame:
    """ES `histogram` with min_doc_count=0 + extended_bounds: EVERY bucket
    in [lo, hi] appears, zero-filled when no doc lands in it. The bucket
    skeleton is a spark.range (bounds are user-query scale — a driver-known
    arithmetic sequence, no data pass), left-joined to the same
    map-side-combined counts histogram_agg produces; at any corpus size
    the join's left side is (hi-lo)/interval rows."""
    ids = matching_doc_ids(index, query, msm)
    bucket = (F.floor(F.col(field) / interval) * interval).cast("long")
    counts = (
        stored.join(ids, "doc_id")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    lo, hi = bounds
    spark = stored.sparkSession
    skeleton = spark.range(lo // interval, hi // interval + 1).select(
        (F.col("id") * interval).cast("long").alias("bucket")
    )
    return (
        skeleton.join(counts, "bucket", "left")
        .select("bucket", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("doc_count"))
        .orderBy("bucket")
    )


def missing_agg(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    msm: int = 1,
) -> DataFrame:
    """ES `missing` aggregation: count of matching docs with no value for
    `field` (NULL in the stored table). One pruned match + keyed join +
    conditional count."""
    ids = matching_doc_ids(index, query, msm)
    return (
        stored.join(ids, "doc_id")
        .agg(F.sum(F.when(F.col(field).isNull(), 1).otherwise(0)).cast("long").alias("doc_count"))
    )
