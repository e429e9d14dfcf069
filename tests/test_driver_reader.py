"""The driver-side reader (io.read_rows / io.read_table): opening an index,
probing its dictionary and the streaming bookkeeping read driver-sized
tables on the driver, with no Spark job, and see exactly what the Spark
reads they replace see."""

import os
import uuid
from dataclasses import replace

import pytest

from webindex import io
from webindex.bm25 import BM25Config
from webindex.build import build_index, load_index
from webindex.pagesgen import make_pages_pdf
from webindex.query import _query_terms, lookup_url
from webindex.streaming import IncrementalIndexer


def _jobs(spark, fn):
    """(fn(), Spark jobs it ran), counted by status-tracker job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pages(spark, lo, hi):
    return spark.createDataFrame(make_pages_pdf(lo, hi))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("reader") / "idx")
    build_index(spark, _pages(spark, 0, 120), text_col="html", out_dir=out)
    return out


def _tables(root):
    """Every table directory under root: the dirs holding data files, or
    partition dirs (k=v) that do."""
    tables = set()
    for d, _, files in os.walk(root):
        if any(not f.startswith((".", "_")) for f in files):
            while "=" in os.path.basename(d):
                d = os.path.dirname(d)
            tables.add(d)
    return sorted(tables)


def _assert_pinned_schemas(spark, root, partitioned=()):
    tables = _tables(root)
    for name in partitioned:
        assert os.path.join(root, name) in tables, name
    for t in tables:
        assert io.read_table(spark, t).schema == spark.read.parquet(t).schema, t


def test_pinned_schemas_match_spark_inference(spark, tmp_path):
    """Every table's schema pinned from its footer equals the one
    spark.read.parquet infers: batch, positional and quantized builds, the
    resumable build, and a streaming workdir after an incremental compact
    (bucket-partitioned tables, pyarrow-written sidecars)."""
    from webindex.checkpoint import build_index_resumable

    pages = _pages(spark, 0, 60)
    for name, kw in [
        ("batch", {}),
        ("positions", {"positions": True}),
        ("quantized", {"conf": BM25Config(quantize_norms=True)}),
    ]:
        out = str(tmp_path / name)
        build_index(spark, pages, text_col="html", out_dir=out, **kw)
        _assert_pinned_schemas(spark, out)
        assert not os.path.exists(f"{out}/url_index")
    wd = str(tmp_path / "resumable")
    build_index_resumable(spark, pages, wd, n_buckets=4, chunk_buckets=2)
    _assert_pinned_schemas(spark, wd, ["runs", "doc_urls"])
    assert not os.path.exists(f"{wd}/index/url_index")

    wd = str(tmp_path / "stream")
    ing = IncrementalIndexer(spark, wd, text_col="text", positions=True)
    ing.upsert(_pages(spark, 0, 30))
    ing.delete(list(make_pages_pdf(0, 2)["url"]), compact_now=False)
    ing.upsert(_pages(spark, 30, 40))
    assert ing.compact().n_docs == 38
    _assert_pinned_schemas(
        spark, wd, ["runs", "doc_urls", "deletes", "index/postings", "index/doc_stats"]
    )


def test_load_index_and_probe_run_no_spark_job(spark, index_dir):
    """load_index on a driver-local index reads its sidecars on the driver
    and opens its tables with pinned schemas: 0 Spark jobs (10 through
    Spark). Its fields equal those of the Spark reads, and so does every
    dictionary probe (0 jobs, 1 through Spark)."""
    load_index(spark, index_dir)  # warm
    idx, jobs = _jobs(spark, lambda: load_index(spark, index_dir))
    assert jobs == 0
    for name in ("postings", "term_stats", "doc_stats", "term_grams"):
        want = spark.read.parquet(f"{index_dir}/{name}")
        got = getattr(idx, name)
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    stats = spark.read.parquet(f"{index_dir}/corpus_stats").collect()[0]
    c = spark.read.parquet(f"{index_dir}/conf").collect()[0]
    assert (idx.n_docs, idx.avgdl) == (stats["n_docs"], stats["avgdl"])
    assert (idx.conf.k1, idx.conf.b, idx.conf.block_size, idx.range_width) == (
        c["k1"], c["b"], c["block_size"], c["range_width"]
    )
    assert idx.id_space == c["id_space"] and idx.term_files
    assert idx.url_hash_ids is c["url_hash_ids"] is True

    queries = ["data merge w150", "w1 w2 w3 zzzz", "the of data data", "zzzz", ""]
    spark_probe = load_index(spark, index_dir)
    spark_probe.term_files = None  # the Spark filter + collect
    for q in queries:
        got, jobs = _jobs(spark, lambda: _query_terms(idx, q))
        assert jobs == 0
        assert got == _query_terms(spark_probe, q)
    assert set(_query_terms(idx, "data merge zzzz")) == {"data", "merge"}


def test_stale_index_probe_fails_on_replaced_dictionary(spark, tmp_path):
    """The probe reads the term_stats files the Index opened, never a
    re-listing: once a later compact replaced them, a stale Index fails on
    the missing files (as its Spark scans do) instead of scoring its old
    postings with the new dictionary."""
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    ing.upsert(_pages(spark, 0, 20))
    stale = ing.live_index()
    assert _query_terms(stale, "data")
    ing.upsert(_pages(spark, 20, 30))
    with pytest.raises(FileNotFoundError):
        _query_terms(stale, "data")
    fresh = ing.live_index()
    assert _query_terms(fresh, "data") == _query_terms(
        replace(fresh, term_files=None), "data"
    )


def test_load_index_and_first_lookup_url_run_one_job(spark, index_dir):
    """load_index and the first lookup_url after it run one Spark job
    together: the lookup's doc_stats probe. The url's doc_stats row is
    found, and an absent url yields none."""
    url = make_pages_pdf(0, 120)["url"].iloc[7]

    def first_lookup():
        idx = load_index(spark, index_dir)
        return idx, lookup_url(idx, url).collect()

    (idx, got), jobs = _jobs(spark, first_lookup)
    assert jobs == 1
    assert [(r["url"], r["doc_len"]) for r in got] == [
        (r["url"], r["doc_len"])
        for r in idx.doc_stats.filter(idx.doc_stats.url == url).collect()
    ]
    assert len(got) == 1
    assert lookup_url(idx, "https://absent.example/x").collect() == []


def test_legacy_index_dir_loads_and_looks_up_urls(spark, index_dir, tmp_path):
    """An index dir from an older build: its conf lacks url_hash_ids and it
    holds a url_index/ table. With that table's files corrupted, the index
    still loads (url_hash_ids false) and lookup_url answers as on the clean
    index, through the url-only filter, so nothing opens the dir."""
    import shutil

    from pyspark.sql import types as T

    from webindex import schema

    legacy = str(tmp_path / "legacy")
    shutil.copytree(index_dir, legacy)
    old_conf = T.StructType(
        [f for f in schema.INDEX_CONF.fields if f.name != "url_hash_ids"]
    )
    row = io.read_rows(spark, f"{legacy}/conf")[0]
    shutil.rmtree(f"{legacy}/conf")
    io.write_driver_table(
        spark, [tuple(row[f.name] for f in old_conf.fields)], old_conf,
        f"{legacy}/conf",
    )
    for b in range(3):
        os.makedirs(f"{legacy}/url_index/url_bucket={b}")
        with open(f"{legacy}/url_index/url_bucket={b}/part-0.parquet", "wb") as fh:
            fh.write(b"not a parquet file")
    urls = list(make_pages_pdf(0, 120)["url"].iloc[[0, 7, 119]])
    urls.append("https://absent.example/x")
    clean, old = load_index(spark, index_dir), load_index(spark, legacy)
    assert clean.url_hash_ids and not old.url_hash_ids
    for u in urls:
        assert lookup_url(old, u).collect() == lookup_url(clean, u).collect()
    assert sum(len(lookup_url(old, u).collect()) for u in urls) == 3


def test_live_index_and_ingest_read_bookkeeping_on_driver(spark, tmp_path):
    """live_index() reads the state, the tables' footers and the pending
    tombstones on the driver: 0 Spark jobs (7 through Spark). An ingest
    batch reads the runs schema from one footer, re-opens the committed
    runs with it pinned and reads the lineage on the driver: 6 jobs for a
    50-page upsert(compact_now=False) (11 through Spark)."""
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    ing.upsert(_pages(spark, 0, 100))
    ing.delete(list(make_pages_pdf(0, 3)["url"]), compact_now=False)
    ing.live_index()  # warm
    live, jobs = _jobs(spark, ing.live_index)
    assert jobs == 0 and len(live.dead_ids) == 3
    batch = _pages(spark, 100, 150)
    ing.upsert(batch, compact_now=False)  # warm
    _, jobs = _jobs(spark, lambda: ing.upsert(batch, compact_now=False))
    assert jobs == 6
    assert ing._next_batch_id() == 4


def test_lineage_read_casts_mixed_writers(spark, tmp_path):
    """done_partitions reads a lineage table mixing Spark-written and
    driver-appended files through schema.LINEAGE, dedupes on the driver,
    and keeps read_lineage's policy: absent is empty, unreadable raises."""
    from webindex import schema
    from webindex.checkpoint import done_partitions

    wd = str(tmp_path / "wd")
    assert done_partitions(spark, wd) == []
    lineage = f"{wd}/lineage"
    spark.createDataFrame(
        [(3, 1, 1, 1, 0.5, "done"), (1, 1, 1, 1, 0.5, "failed")], schema.LINEAGE
    ).write.parquet(lineage)
    io.append_driver_rows(
        spark, [(3, 2, 2, 2, 1.0, "done"), (2, 0, 0, 0, 0.1, "done")],
        schema.LINEAGE, lineage, fmt="parquet",
    )
    assert done_partitions(spark, wd) == [2, 3]
    with open(os.path.join(lineage, "part-zz.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        done_partitions(spark, wd)


def test_reader_takes_spark_fallback_off_the_driver_fs(spark, tmp_path, monkeypatch):
    """A scheme-less path resolves against fs.defaultFS, as Spark's reads
    do: under a cluster default FS read_rows takes the Spark read, no
    footer is read on the driver, and files listed on another filesystem
    are not probed with pyarrow. An explicit file: path stays local."""
    dest = str(tmp_path / "t")
    io.write_driver_table(spark, [(1, "a"), (2, "b")], "k long, v string", dest)
    spark.createDataFrame([(1,)], "k long").write.parquet(str(tmp_path / "s"))
    real = io.read_table
    calls = []

    def spark_read(spark_, path, fmt=None):
        calls.append(path)
        return real(spark_, f"file://{path}", fmt)

    monkeypatch.setattr(io, "read_table", spark_read)
    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://localhost:9000")
    try:
        rows = io.read_rows(spark, dest, filters=[("k", ">", 1)])
        local = io.read_rows(spark, f"file://{dest}", filters=[("k", ">", 1)])
        footer = io.footer_schema(spark, str(tmp_path / "s"))
    finally:
        conf.set("fs.defaultFS", old)
    assert calls == [dest]
    assert rows == local == [{"k": 2, "v": "b"}]
    assert footer is None
    assert io.footer_schema(spark, str(tmp_path / "s")) is not None

    class Remote:
        def inputFiles(self):
            return ["hdfs://nn:9000/idx/term_stats/part-0.parquet"]

    assert io.driver_files(Remote()) is None
