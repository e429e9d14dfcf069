"""Crash/ordering hardening of the index commit paths (round-4 review on):
engine-epoch vs synthetic-batch decoupling, ghost doc_stats rows in emptied
buckets, the interrupted-compact fence, n_buckets pinning on the resumable
build, caller-supplied doc_id rejection, conf restore on full compacts, an
unreadable compaction state, corpus_stats written after the tables it
describes, and stale staging dirs left by a crashed incremental compact."""

import pytest
from pyspark.sql import functions as F

from webindex.bm25 import BM25Config
from webindex.pagesgen import make_pages_pdf
from webindex.query import lookup_url, topk
from webindex.streaming import IncrementalIndexer


def _pages(spark, lo, hi):
    pdf = make_pages_pdf(lo, hi)  # [lo, hi) doc indices
    return spark.createDataFrame(pdf)


def test_engine_epoch_decoupled_from_synthetic_batches(spark, tmp_path):
    """An engine epoch that numerically collides with a synthetic (upsert)
    batch id must still be ingested — and a genuinely redelivered epoch must
    be skipped."""
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    # engine delivers epoch 0
    ing._process_batch(_pages(spark, 0, 10), 0)
    # synthetic upsert takes internal batch id 1
    ing.upsert(_pages(spark, 100, 101), compact_now=False)
    # a restarted stream's next epoch is 1 — same number as the synthetic
    # batch. It carries NEW pages and must not be dropped as a redelivery.
    ing._process_batch(_pages(spark, 10, 20), 1)
    idx = ing.compact()
    assert idx.n_docs == 21
    # redelivery of epoch 1 (same engine epoch) IS skipped
    ing._process_batch(_pages(spark, 10, 20), 1)
    assert ing._next_batch_id() == 3  # no new batch was written


def test_emptied_bucket_leaves_no_ghost_doc_stats(spark, tmp_path):
    """Deleting every doc then re-deleting must not double-decrement
    n_docs/sum_dl via ghost doc_stats rows in emptied buckets."""
    pdf = make_pages_pdf(0, 6)
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    assert idx0.n_docs == 6
    urls = list(pdf["url"])
    idx1 = ing.delete(urls[:3])
    assert idx1.n_docs == 3
    # ghost check: doc_stats must hold exactly the 3 survivors
    assert idx1.doc_stats.count() == 3
    # delete the same urls again (recorded no-op): counts must NOT move
    idx2 = ing.delete(urls[:3])
    assert idx2.n_docs == 3 and idx2.doc_stats.count() == 3
    assert abs(idx2.avgdl - idx1.avgdl) < 1e-12


def test_interrupted_compact_fence(spark, tmp_path):
    """A leftover _compact_pending marker makes incremental compaction fail
    loudly; compact(full=True) rebuilds from the runs history and clears it."""
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    ing.upsert(_pages(spark, 0, 8))
    ing.upsert(_pages(spark, 8, 12), compact_now=False)
    (tmp_path / "wd" / "_compact_pending").mkdir()
    with pytest.raises(RuntimeError, match="interrupted"):
        ing.compact()
    idx = ing.compact(full=True)
    assert idx.n_docs == 12
    assert not (tmp_path / "wd" / "_compact_pending").exists()
    # incremental path usable again
    idx2 = ing.upsert(_pages(spark, 12, 13))
    assert idx2.n_docs == 13


def test_resumable_build_pins_n_buckets(spark, tmp_path):
    from webindex.checkpoint import build_runs_checkpointed

    pdf = make_pages_pdf(0, 30)
    pages = spark.createDataFrame(pdf)
    wd = str(tmp_path / "ckpt")
    build_runs_checkpointed(
        spark, pages, wd, n_buckets=8, chunk_buckets=4, text_col="text",
        max_chunks=1,
    )
    with pytest.raises(ValueError, match="n_buckets"):
        build_runs_checkpointed(
            spark, pages, wd, n_buckets=16, chunk_buckets=4, text_col="text"
        )
    # the committed value resumes fine
    build_runs_checkpointed(
        spark, pages, wd, n_buckets=8, chunk_buckets=4, text_col="text"
    )


def test_upsert_drops_caller_doc_id(spark, tmp_path):
    """A caller-supplied doc_id must not leak into the index: identity is
    xxhash64(url), otherwise tombstones miss and recrawls never collapse."""
    pdf = make_pages_pdf(0, 4)
    df = spark.createDataFrame(pdf).withColumn("doc_id", F.lit(777))
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    idx = ing.upsert(df)
    url = pdf["url"][0]
    row = lookup_url(idx, url).collect()
    assert len(row) == 1 and row[0]["doc_id"] != 777
    # and the doc is deletable by url
    idx2 = ing.delete([url])
    assert idx2.n_docs == 3


def test_full_compact_restores_persisted_conf(spark, tmp_path):
    """compact(full=True) must re-encode with the conf the index was built
    with, not the constructor default."""
    wd = str(tmp_path / "wd")
    conf = BM25Config(k1=0.5, b=0.3)
    ing = IncrementalIndexer(spark, wd, text_col="text", conf=conf)
    idx0 = ing.upsert(_pages(spark, 0, 12))
    before = [(r["doc_id"], round(r["score"], 9)) for r in topk(idx0, "data", 5).collect()]
    opened = IncrementalIndexer.open(spark, wd, text_col="text")  # default conf
    idx1 = opened.compact(full=True)
    assert opened.conf.k1 == 0.5 and opened.conf.b == 0.3
    after = [(r["doc_id"], round(r["score"], 9)) for r in topk(idx1, "data", 5).collect()]
    assert after == before


def test_unreadable_state_raises_until_full_rebuild(spark, tmp_path):
    """Fault injection: a corrupt compaction state is not "no state". It
    holds the only copy of the workdir's conf, so compact() and
    live_index() must raise (a silent full rebuild would re-encode with the
    constructor's default k1), naming compact(full=True) with the workdir's
    conf — which rebuilds tables and state from the runs history."""
    import glob

    wd = str(tmp_path / "wd")
    conf = BM25Config(k1=0.9)
    idx0 = IncrementalIndexer(spark, wd, text_col="text", conf=conf).upsert(
        _pages(spark, 0, 12)
    )
    before = [(r["doc_id"], r["score"]) for r in topk(idx0, "data", 5).collect()]
    files = glob.glob(f"{wd}/index/_state/*.parquet")
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    opened = IncrementalIndexer(spark, wd, text_col="text")  # default conf
    with pytest.raises(RuntimeError, match=r"compact\(full=True\)"):
        opened.compact()
    with pytest.raises(RuntimeError, match="unreadable compaction state"):
        opened.live_index()
    assert opened.conf.k1 == 1.2  # nothing was rebuilt with it

    idx1 = IncrementalIndexer(spark, wd, text_col="text", conf=conf).compact(full=True)
    assert [(r["doc_id"], r["score"]) for r in topk(idx1, "data", 5).collect()] == before
    reopened = IncrementalIndexer(spark, wd, text_col="text")
    reopened.live_index()
    assert reopened.conf.k1 == 0.9  # the rewritten state carries the conf


def test_failed_state_rewrite_keeps_state_and_fence(spark, tmp_path, monkeypatch):
    """Fault injection: an incremental compact whose _state rewrite fails
    must not lose the workdir's conf. The rewrite replaces the state file
    in one rename, so the old state survives whole, and the next compact()
    stops at the interrupted-compaction fence with the conf restored. With
    no readable state at all the fence still holds: a silent full rebuild
    would re-encode with the constructor's default k1."""
    import shutil

    import pyarrow.parquet as pq

    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text", conf=BM25Config(k1=0.9))
    ing.upsert(_pages(spark, 0, 12))
    ing.upsert(_pages(spark, 12, 16), compact_now=False)
    real = pq.write_table

    def failing(table, where, *args, **kwargs):
        if "/_state/" in str(where):
            raise OSError("injected state write failure")
        return real(table, where, *args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing)
    with pytest.raises(OSError, match="injected state write failure"):
        ing.compact()
    monkeypatch.undo()
    opened = IncrementalIndexer(spark, wd, text_col="text")  # default conf
    with pytest.raises(RuntimeError, match="interrupted"):
        opened.compact()
    assert opened.conf.k1 == 0.9  # read from the surviving state
    shutil.rmtree(f"{wd}/index/_state")
    fresh = IncrementalIndexer(spark, wd, text_col="text")
    with pytest.raises(RuntimeError, match="interrupted"):
        fresh.compact()
    idx = IncrementalIndexer(
        spark, wd, text_col="text", conf=BM25Config(k1=0.9)
    ).compact(full=True)
    assert idx.n_docs == 16


def test_finish_tables_crash_window_recovers(spark, tmp_path):
    """Crash injection for the _finish_tables commit window (round-4 verdict
    item): a crash between rename(term_stats -> _term_stats_old) and
    rename(staging -> term_stats) leaves _term_stats_old as the ONLY
    surviving table. The next compact (via _recover_term_stats at entry)
    must restore it and proceed without manual intervention."""
    import shutil

    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    ing.upsert(_pages(spark, 0, 12), compact_now=False)
    idx0 = ing.compact()
    baseline = [
        (r["doc_id"], round(r["score"], 9)) for r in topk(idx0, "data", 5).collect()
    ]
    # simulate the exact post-crash FS state: old renamed aside, final
    # missing, staging (the half-committed new table) left behind
    out = f"{wd}/index"
    shutil.move(f"{out}/term_stats", f"{out}/_term_stats_old")
    shutil.copytree(f"{out}/_term_stats_old", f"{out}/_term_stats_staging")
    reopened = IncrementalIndexer.open(spark, wd, text_col="text")
    idx1 = reopened.compact()  # no-op delta; must restore term_stats first
    after = [
        (r["doc_id"], round(r["score"], 9)) for r in topk(idx1, "data", 5).collect()
    ]
    assert after == baseline
    # and a further incremental ingest + compact over the recovered table works
    reopened.upsert(_pages(spark, 12, 18), compact_now=False)
    idx2 = reopened.compact()
    assert idx2.n_docs == 18
    assert len(topk(idx2, "data", 5).collect()) == 5


def _failing_postings(real):
    """build_postings whose blocks fail when the postings write runs them:
    a crash in the middle of a commit's table writes."""

    def fn(*args, **kwargs):
        df = real(*args, **kwargs)

        def boom(batches):
            raise RuntimeError("injected postings write failure")
            yield  # a generator, as mapInPandas expects

        return df.mapInPandas(boom, schema=df.schema)

    return fn


def _sidecar_n_docs(spark, index_dir):
    return spark.read.parquet(f"{index_dir}/corpus_stats").collect()[0]["n_docs"]


def test_failed_full_compact_keeps_old_corpus_stats(spark, tmp_path, monkeypatch):
    from webindex import streaming

    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    ing.upsert(_pages(spark, 0, 8))
    ing.upsert(_pages(spark, 8, 12), compact_now=False)
    monkeypatch.setattr(
        streaming, "build_postings", _failing_postings(streaming.build_postings)
    )
    with pytest.raises(Exception, match="injected postings write failure"):
        ing.compact(full=True)
    assert _sidecar_n_docs(spark, f"{wd}/index") == 8


def test_failed_rebuild_keeps_old_corpus_stats(spark, tmp_path, monkeypatch):
    from webindex import build

    out = str(tmp_path / "idx")
    build.build_index(spark, _pages(spark, 0, 8), text_col="text", out_dir=out)
    monkeypatch.setattr(
        build, "build_postings", _failing_postings(build.build_postings)
    )
    with pytest.raises(Exception, match="injected postings write failure"):
        build.build_index(spark, _pages(spark, 0, 12), text_col="text", out_dir=out)
    assert _sidecar_n_docs(spark, out) == 8


def test_stale_staging_dirs_are_not_committed(spark, tmp_path):
    """A crash between the staged writes and the fence leaves bucket dirs
    in both staging dirs. A later incremental compact that empties that
    bucket must not swap them back in."""
    import shutil

    from webindex.build import decode_postings_to_runs

    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text", range_width=2)
    ing.upsert(_pages(spark, 0, 16))
    out = f"{wd}/index"
    by_bucket = {}
    for r in spark.read.parquet(f"{out}/doc_stats").collect():
        by_bucket.setdefault(r["bucket"], []).append((r["doc_id"], r["url"]))
    assert len(by_bucket) > 1
    k, docs = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    for table in ("postings", "doc_stats"):
        shutil.copytree(
            f"{out}/{table}/bucket={k}", f"{out}/_{table}_staging/bucket={k}"
        )
    idx = ing.delete([u for _, u in docs])
    dead = {d for d, _ in docs}
    assert not dead & {r["doc_id"] for r in idx.doc_stats.collect()}
    live_postings = decode_postings_to_runs(idx.postings, idx.conf.quantize_norms)
    assert not dead & {r["doc_id"] for r in live_postings.select("doc_id").collect()}
    full = IncrementalIndexer.open(
        spark, wd, text_col="text", range_width=2
    ).compact(full=True)
    assert idx.n_docs == full.n_docs == 16 - len(dead)
    assert idx.n_docs * idx.avgdl == pytest.approx(full.n_docs * full.avgdl, abs=1e-6)
