"""Canonical schemas for all engine tables.

Input (authoritative, BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Index tables (SURVEY.md §1.2). In production these are Iceberg tables
partitioned as noted; in this sandbox (no Iceberg runtime jar is baked in) we
write the same layouts as hive-partitioned Parquet via a format switch in
build.py — the table schemas, partition keys and MERGE semantics are
Iceberg-ready.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# doc_stats: partitioned by bucket(doc_id) in prod.
DOC_STATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)

# term_stats doubles as the term dictionary: term_hash = xxhash64(term) is
# the key postings/runs shuffles use (8 fixed bytes instead of the string).
TERM_STATS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("term_hash", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("idf", T.DoubleType(), False),
    ]
)

# postings: one row per (term, block), keyed by term_hash (strings live only
# in term_stats); partitioned/bucketed by term_hash in prod so a query's
# IN filter prunes files. `bucket` is the doc-range shard the block lives in
# (build.bucket_expr); block_id = (bucket << 24) | local_idx.
POSTINGS = T.StructType(
    [
        T.StructField("term_hash", T.LongType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("doc_lens", T.BinaryType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("max_impact", T.DoubleType(), False),
        # avgdl the block was ENCODED with. Incremental compaction re-encodes
        # only touched buckets, so blocks built at different corpus states
        # coexist; the query path scales max_impact by max(1, avgdl/avgdl0)
        # — a provable upper bound under avgdl drift (impact is monotone in
        # 1/avgdl with ratio bounded by avgdl_new/avgdl_old) — so WAND
        # pruning stays exact without rewriting untouched blocks.
        T.StructField("avgdl0", T.DoubleType(), False),
    ]
)


# incremental compaction state (one row), kept beside the index tables.
# Carries the BM25Config facts baked into the committed blocks (same contract
# as INDEX_CONF): resuming a workdir with a different conf would silently
# misdecode norm bytes / corrupt max_impact bounds, so the indexer restores
# these on resume instead of trusting the constructor argument.
COMPACT_STATE = T.StructType(
    [
        T.StructField("max_batch", T.LongType(), False),
        T.StructField("bucket_bits", T.IntegerType(), False),
        T.StructField("range_width", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("sum_dl", T.DoubleType(), False),
        T.StructField("k1", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("block_size", T.IntegerType(), False),
        T.StructField("quantize_norms", T.BooleanType(), False),
        T.StructField("positions", T.BooleanType(), False),
    ]
)

# intermediate SPIMI runs: partition-local postings before the term shuffle.
# These keep the term STRING (parquet dictionary-encodes it cheaply at rest);
# build_postings converts to term_hash right before the shuffle.
RUNS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)

# decoded-block runs (incremental merge path): already hash-keyed.
RUNS_HASHED = T.StructType(
    [
        T.StructField("term_hash", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)


def with_positions(base: T.StructType) -> T.StructType:
    """Positional variant of a runs/postings schema: adds the per-(term,doc)
    — or per-block — encoded token-position stream (delta+varint bytes; the
    value count equals tf, so no length prefix is stored)."""
    return T.StructType(
        list(base.fields) + [T.StructField("positions", T.BinaryType(), False)]
    )

LINEAGE = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs", T.LongType(), False),
        T.StructField("postings", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("elapsed_s", T.DoubleType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)

CORPUS_STATS = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
        T.StructField("total_postings", T.LongType(), False),
    ]
)

# One-row sidecar written next to the index tables: the BM25Config facts that
# are baked into the encoded blocks (k1/b feed max_impact, quantize_norms
# changes the doc_lens byte format, block_size fixes block boundaries) plus
# the bucket range_width, and two facts of the doc ids (id_space,
# url_hash_ids). load_index restores these so an index can never be queried
# with a conf other than the one it was built with.
INDEX_CONF = T.StructType(
    [
        T.StructField("k1", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("block_size", T.IntegerType(), False),
        T.StructField("quantize_norms", T.BooleanType(), False),
        T.StructField("range_width", T.LongType(), False),
        # round-5: the doc_id -> bucket function's id space ("hash"/"dense"),
        # needed by consumers that map stored fields to buckets (per-bucket
        # function_score extrema). Nullable: pre-round-5 sidecars lack it and
        # load_index then records id_space=None (bucket-map consumers fall
        # back to bucket-agnostic bounds).
        T.StructField("id_space", T.StringType(), True),
        # whether every doc_id is xxhash64(url), counted over the committed
        # doc_stats (build.assert_no_docid_collisions); lookup_url then
        # probes doc_stats by id. Nullable: older sidecars lack it and
        # load_index reads that as false (lookup_url's url-only filter).
        T.StructField("url_hash_ids", T.BooleanType(), True),
    ]
)
