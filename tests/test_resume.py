"""Resumability (SURVEY.md §5.4): kill the build after some chunks, restart,
assert the final index equals a clean run's; lineage metrics recorded."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webindex.checkpoint import build_index_resumable, build_runs_checkpointed, read_lineage
from webindex.pagesgen import make_pages_pdf


def _postings_map(idx):
    return {
        (r["term_hash"], r["block_id"]): (bytes(r["doc_ids"]), bytes(r["tfs"]), r["max_impact"])
        for r in idx.postings.collect()
    }


def test_resume_matches_clean_run(spark, tmp_path):
    pdf = make_pages_pdf(0, 150)
    pages = spark.createDataFrame(pdf)

    clean = build_index_resumable(
        spark, pages, str(tmp_path / "clean"), n_buckets=8, chunk_buckets=2
    )

    # interrupted run: the job "dies" after 2 of 4 chunks (max_chunks budget
    # = how a mid-build crash looks to the lineage table)
    workdir = str(tmp_path / "resumed")
    build_runs_checkpointed(
        spark, pages, workdir, n_buckets=8, chunk_buckets=2, max_chunks=2
    )
    lineage1 = read_lineage(spark, workdir)
    done1 = {r["partition_id"] for r in lineage1.filter(F.col("status") == "done").collect()}
    assert len(done1) == 4  # exactly the first two chunks' buckets

    # resume with the FULL input; finished buckets are skipped
    resumed = build_index_resumable(
        spark, pages, workdir, n_buckets=8, chunk_buckets=2
    )

    assert _postings_map(resumed) == _postings_map(clean)
    assert resumed.n_docs == clean.n_docs
    assert abs(resumed.avgdl - clean.avgdl) < 1e-12

    # resumable hash builds measure url_hash_ids as build_index does:
    # lookup_url resolves a known url to its doc_id by the pruned id probe
    from webindex.query import lookup_url

    assert resumed.url_hash_ids
    some = resumed.doc_stats.limit(1).collect()[0]
    got = lookup_url(resumed, some["url"]).collect()
    assert [r["doc_id"] for r in got] == [some["doc_id"]]

    # lineage has one done row per bucket with metrics
    lin = resumed.lineage.filter(F.col("status") == "done").collect()
    assert {r["partition_id"] for r in lin} == set(range(8))
    assert all(r["elapsed_s"] >= 0 for r in lin)
    total_docs = sum(r["docs"] for r in lin)
    assert total_docs == 150

    # bytes metric is REAL: per-bucket lineage bytes == the on-disk size of
    # that bucket's committed run files plus its doc_urls files (north rule:
    # lineage carries metrics, not estimates; the same contract as the
    # streaming ingest's lineage)
    import os

    def disk_bytes(bdir):
        return sum(
            os.path.getsize(os.path.join(bdir, f))
            for f in os.listdir(bdir)
            if not f.startswith(("_", "."))
        )

    for r in lin:
        part = f"build_bucket={r['partition_id']}"
        runs_disk = disk_bytes(f"{workdir}/runs/{part}")
        urls_disk = disk_bytes(f"{workdir}/doc_urls/{part}")
        assert r["bytes"] == runs_disk + urls_disk and runs_disk > 0 < urls_disk


def test_second_resume_is_noop_fast(spark, tmp_path):
    pdf = make_pages_pdf(0, 60)
    pages = spark.createDataFrame(pdf)
    workdir = str(tmp_path / "w")
    build_runs_checkpointed(spark, pages, workdir, n_buckets=4, chunk_buckets=2)
    lin1 = read_lineage(spark, workdir).count()
    runs = build_runs_checkpointed(spark, pages, workdir, n_buckets=4, chunk_buckets=2)
    lin2 = read_lineage(spark, workdir).count()
    assert lin1 == lin2  # no new lineage rows — everything skipped
    assert runs.count() > 0


def test_corrupt_lineage_raises_instead_of_retokenizing(spark, tmp_path):
    """Only a MISSING lineage table means nothing is done. A corrupt one must
    fail the resume loudly: read as empty, it would re-tokenize every
    committed chunk and append their lineage rows a second time."""
    import os

    pages = spark.createDataFrame(make_pages_pdf(0, 40))
    workdir = str(tmp_path / "w")
    build_runs_checkpointed(
        spark, pages, workdir, n_buckets=2, chunk_buckets=1, max_chunks=1
    )
    lineage = f"{workdir}/lineage"
    parts = sorted(f for f in os.listdir(lineage) if f.startswith("part-"))
    assert parts
    for part in parts:
        with open(os.path.join(lineage, part), "wb") as fh:
            fh.write(b"not a parquet file")
    runs_before = sorted(os.listdir(f"{workdir}/runs"))

    with pytest.raises(Exception):
        build_runs_checkpointed(spark, pages, workdir, n_buckets=2, chunk_buckets=1)
    # nothing re-tokenized, no lineage row appended
    assert sorted(os.listdir(f"{workdir}/runs")) == runs_before
    assert sorted(f for f in os.listdir(lineage) if f.startswith("part-")) == parts


def test_resumable_build_under_pathological_hash(spark, tmp_path):
    """build_index_resumable resolves term-hash collisions PRE-shuffle (same
    contract as build_index): a coarse primary hash space must yield unique
    committed keys and rank-identical queries, not a post-build abort."""
    from tests.test_collision import coarse_fn
    from webindex.build import build_index
    from webindex.query import topk_exact

    pdf = make_pages_pdf(0, 80)
    pages = spark.createDataFrame(pdf)
    idx = build_index_resumable(
        spark, pages, str(tmp_path / "coarse"), n_buckets=4, chunk_buckets=2,
        hash_primary_fn=coarse_fn(32),
    )
    n_vocab = idx.term_stats.count()
    n_keys = idx.term_stats.select("term_hash").distinct().count()
    assert n_keys == n_vocab > 32  # unique despite the 32-slot primary space

    normal = build_index(spark, pages, text_col="html", doc_id_method="hash")
    for q in ("the data", "w42 merge", "index query"):
        a = [(r["doc_id"], round(r["score"], 9)) for r in topk_exact(idx, q, 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in topk_exact(normal, q, 10).collect()]
        assert a == b, q


def _with_duplicate_url(spark):
    import pandas as pd

    pdf = make_pages_pdf(0, 40)
    return spark.createDataFrame(pd.concat([pdf, pdf.iloc[[7]]], ignore_index=True))


def test_resumable_build_rejects_duplicate_urls(spark, tmp_path):
    """The resumable build commits through build_index's path, so a repeated
    url fails it the same way instead of double-counting the doc."""
    from webindex.build import build_index

    pages = _with_duplicate_url(spark)
    with pytest.raises(RuntimeError, match="duplicate url in input"):
        build_index(spark, pages, out_dir=str(tmp_path / "batch"))
    with pytest.raises(RuntimeError, match="duplicate url in input"):
        build_index_resumable(
            spark, pages, str(tmp_path / "resumable"), n_buckets=4, chunk_buckets=2
        )


def _table_rows(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.select(*sorted(df.columns)).collect()
    )


def test_resumable_and_batch_builds_write_identical_tables(spark, tmp_path):
    """One page set, two build paths: every committed table holds the same
    rows (postings compared as encoded bytes)."""
    from webindex.build import build_index

    pages = spark.createDataFrame(make_pages_pdf(0, 60))
    batch = str(tmp_path / "batch")
    build_index(spark, pages, out_dir=batch)
    wd = str(tmp_path / "resumable")
    build_index_resumable(spark, pages, wd, n_buckets=4, chunk_buckets=2)
    for table in ("postings", "term_stats", "doc_stats", "term_grams", "conf"):
        a = _table_rows(spark, f"{batch}/{table}")
        assert a and a == _table_rows(spark, f"{wd}/index/{table}"), table
