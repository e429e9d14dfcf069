"""Resumable index build: the tokenize scan checkpointed per chunk, with
lineage + metrics; everything after it is build_index's own path.

The reference gets resumability from its URL file-cache (reference:
src/nmr_FAIR_DOs/utils.py:61-71 — re-runs skip already-fetched URLs) and
incremental windows from a watermark file (lib.py:436-437). Our analogue,
sized for a 100 TB scan, is build_runs_checkpointed:

  * pages are bucketed deterministically by  build_bucket =
    pmod(xxhash64(doc_id), B)  — doc_id is data-derived (url hash), so the
    bucketing is valid across cluster sizes and input repartitionings; B is
    pinned in <workdir>/_build_meta on the first run;
  * buckets are processed in CHUNKS; each chunk is tokenized and handed
    to commit_runs_partitions — the one runs commit, shared with every
    streaming ingest batch (streaming.py, partitioned by batch_id there):
    (1) dynamic-partition-overwrite of its buckets under <workdir>/runs/
        and <workdir>/doc_urls/ (a re-run of a half-written chunk
        self-cleans), then
    (2) one lineage row per bucket appended from the driver (no Spark
        write), with metrics (docs, postings=run rows, bytes=committed runs
        + doc_urls size, elapsed_s, status='done');
  * resume = skip buckets whose lineage says done. The lineage append
    happens only AFTER the runs write commits, so lineage can understate but
    never overstate progress — the safe direction;
  * lineage policy (read_lineage, the one reader of the resumable build and
    of IncrementalIndexer): only a MISSING lineage table means nothing is
    done. Any other read failure raises — a corrupt lineage taken as empty
    would re-tokenize every chunk and append its rows a second time.

The expensive stage at 100 TB is the tokenize scan of raw html; the
(term,bucket) shuffle into posting blocks reads the checkpointed runs, never
raw pages, so a restart re-tokenizes only unfinished chunks.
build_index_resumable hands the checkpointed runs and doc_urls to
build.commit_index_tables — the same runs->index path as build_index, with
the same duplicate-url / doc-id collision checks and table-format seam.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from webindex import schema
from webindex.bm25 import BM25Config, DEFAULT
from webindex.build import (
    DOC_MARKER,
    Index,
    assign_doc_ids,
    build_runs,
    commit_index_tables,
)
from webindex.fsutil import dir_bytes, path_exists
from webindex.io import append_driver_rows, read_rows, read_table, write_driver_table


def bucket_col(doc_id_col, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(doc_id_col.cast("long")), F.lit(n_buckets)).cast("int")


def read_lineage(spark: SparkSession, workdir: str) -> DataFrame:
    """The lineage table. Only a MISSING table reads as empty; any other
    read failure propagates — an unreadable lineage taken as empty would
    re-tokenize committed chunks and append their rows a second time (the
    resumable build), or hand out a committed batch id again and overwrite
    its runs partition (streaming)."""
    if not path_exists(spark, f"{workdir}/lineage"):
        return spark.createDataFrame([], schema=schema.LINEAGE)
    return spark.read.parquet(f"{workdir}/lineage")


def done_partitions(spark: SparkSession, workdir: str) -> list[int]:
    """Partition ids (build buckets / batch ids) whose lineage says done,
    ascending, with read_lineage's policy. Read and deduped on the driver
    (io.read_rows: no Spark job on a local workdir). Lineage mixes
    Spark-written and driver-appended files, so every file is read as
    schema.LINEAGE."""
    if not path_exists(spark, f"{workdir}/lineage"):
        return []
    rows = read_rows(
        spark, f"{workdir}/lineage", ["partition_id"], [("status", "==", "done")],
        schema=schema.LINEAGE, fmt="parquet",
    )
    return sorted({int(r["partition_id"]) for r in rows})


def commit_runs_partitions(
    spark: SparkSession,
    runs: DataFrame,
    doc_urls: DataFrame,
    workdir: str,
    part_col: str,
    parts: list[int],
) -> None:
    """Commit runs + doc_urls partitions, then their lineage rows — the one
    runs commit of the resumable build (part_col build_bucket) and of every
    streaming ingest (part_col batch_id). Both frames already carry
    part_col; `parts` are the partition values they hold.

    Both writes are dynamic partition overwrites, so a re-run of a half-
    written commit self-cleans. Lineage rows are appended only after both
    have committed (lineage may understate progress, never overstate it),
    one per partition: docs = DOC_MARKER rows and postings = the other run
    rows of the COMMITTED runs (one partition-pruned job), bytes = the
    committed size of the partition's runs dir plus its doc_urls dir (FS
    listing, no data read)."""

    t0 = time.monotonic()
    runs.write.mode("overwrite").partitionBy(part_col).parquet(f"{workdir}/runs")
    doc_urls.write.mode("overwrite").partitionBy(part_col).parquet(
        f"{workdir}/doc_urls"
    )
    elapsed = time.monotonic() - t0
    stats = (
        read_table(spark, f"{workdir}/runs", fmt="parquet")
        .filter(F.col(part_col).isin(parts))
        .groupBy(part_col)
        .agg(
            F.count(F.when(F.col("term") == DOC_MARKER, 1)).alias("docs"),
            F.count(F.when(F.col("term") != DOC_MARKER, 1)).alias("postings"),
        )
        .collect()
    )
    by_part = {int(r[part_col]): r for r in stats}
    rows = []
    for p in parts:
        r = by_part.get(p)
        nbytes = dir_bytes(spark, f"{workdir}/runs/{part_col}={p}") + dir_bytes(
            spark, f"{workdir}/doc_urls/{part_col}={p}"
        )
        rows.append(
            (
                int(p),
                int(r["docs"]) if r else 0,
                int(r["postings"]) if r else 0,
                int(nbytes),
                float(elapsed / len(parts)),
                "done",
            )
        )
    append_driver_rows(
        spark, rows, schema.LINEAGE, f"{workdir}/lineage", fmt="parquet"
    )


def build_runs_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    *,
    n_buckets: int = 16,
    chunk_buckets: int = 4,
    text_col: str = "html",
    doc_id_method: str = "hash",
    max_chunks: int | None = None,
) -> DataFrame:
    """Tokenize pages into runs, resumably (see module docstring). Returns
    the runs DataFrame read back from <workdir>/runs (byte-identical across
    resumes). doc_stats' url map is written alongside as <workdir>/doc_urls.

    max_chunks bounds the work done in THIS invocation (budgeted/incremental
    processing; also how tests simulate a mid-build crash) — remaining chunks
    are picked up by the next call."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # pin the bucketing: lineage partition_ids are only meaningful under the
    # n_buckets they were written with — resuming with a different value
    # would silently skip never-tokenized docs (they hash into 'done'
    # buckets) and duplicate already-done ones. The first run records it;
    # every resume must match.
    meta_path = f"{workdir}/_build_meta"
    if path_exists(spark, meta_path):
        committed = int(read_rows(spark, meta_path, fmt="parquet")[0]["n_buckets"])
        if committed != n_buckets:
            raise ValueError(
                f"n_buckets={n_buckets} but {workdir} was checkpointed with "
                f"n_buckets={committed}; resume with the committed value "
                "(or use a fresh workdir to re-bucket)"
            )
    else:
        from pyspark.sql import types as T

        write_driver_table(
            spark,
            [(int(n_buckets),)],
            T.StructType([T.StructField("n_buckets", T.IntegerType(), False)]),
            meta_path,
        )
    pages = assign_doc_ids(pages, doc_id_method).withColumn(
        "build_bucket", bucket_col(F.col("doc_id"), n_buckets)
    )

    done = set(done_partitions(spark, workdir))
    chunks_run = 0
    for lo in range(0, n_buckets, chunk_buckets):
        chunk = [b for b in range(lo, min(lo + chunk_buckets, n_buckets)) if b not in done]
        if not chunk:
            continue
        if max_chunks is not None and chunks_run >= max_chunks:
            break
        chunks_run += 1
        chunk_pages = pages.filter(F.col("build_bucket").isin(chunk))
        runs = build_runs(chunk_pages, text_col=text_col).withColumn(
            "build_bucket", bucket_col(F.col("doc_id"), n_buckets)
        )
        commit_runs_partitions(
            spark,
            runs,
            chunk_pages.select("doc_id", "url", "build_bucket"),
            workdir,
            "build_bucket",
            chunk,
        )

    return read_table(spark, f"{workdir}/runs", fmt="parquet").drop("build_bucket")


def build_index_resumable(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    conf: BM25Config = DEFAULT,
    *,
    n_buckets: int = 16,
    chunk_buckets: int = 4,
    text_col: str = "html",
    doc_id_method: str = "hash",
    range_width: int | None = None,
    hash_primary_fn=None,
) -> Index:
    """Full build with checkpoint/resume on the scan stage, then the
    (term,bucket) shuffle into final index tables under <workdir>/index."""
    runs = build_runs_checkpointed(
        spark,
        pages,
        workdir,
        n_buckets=n_buckets,
        chunk_buckets=chunk_buckets,
        text_col=text_col,
        doc_id_method=doc_id_method,
    )
    idx = commit_index_tables(
        spark,
        runs,
        read_table(spark, f"{workdir}/doc_urls", fmt="parquet"),
        conf,
        range_width=range_width,
        id_space="hash" if doc_id_method == "hash" else "dense",
        out_dir=f"{workdir}/index",
        hash_primary_fn=hash_primary_fn,
    )
    idx.lineage = read_lineage(spark, workdir)
    return idx
