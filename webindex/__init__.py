"""webindex — a PySpark-native inverted-index build + BM25 top-k query engine.

Re-implements, Spark-first and from scratch, the full-text index + query
capability that the reference (kit-data-manager/nmr_FAIR-DOs) delegates to
Elasticsearch (reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:169-173
creates a mapping-less index => Lucene BM25 defaults, standard analyzer), plus
the reference's pipeline operators (dedup-merge, lookup joins, time-window
filters) and the large-scale training-data ops a 100 TB corpus needs
(near-dup detection, similarity search, text quality analysis).

Layout (SURVEY.md §7):
  schema.py    canonical StructTypes for pages / doc_stats / term_stats /
               postings / lineage
  textproc.py  extract_text + tokenize — ONE implementation shared by the
               pytest oracle and the Spark Arrow UDFs (byte-identity)
  codec.py     delta-gap + varint posting blocks, per-block max-impact
  bm25.py      BM25 config + scoring math (k1=1.2, b=0.75 Lucene defaults)
  build.py     SPIMI-style distributed index build (mapInPandas local runs ->
               salted term_hash shuffle -> sort-merge -> compressed blocks)
  query.py     top-k query path: exhaustive + block-max WAND (bounded θ-seed,
               batched query logs with per-query pruning) + the ES read
               surface: match/bool/phrase families, multi_match
               (best/most/cross_fields, bool_prefix), term-level queries,
               rescore, simple_query_string, synonyms, suggesters,
               pagination, highlighting, explain
  aggs.py      ES aggregations (terms/histogram/range/date_histogram/
               composite/top_hits, stats/percentiles/cardinality,
               significant_terms+sampler) over the shared match kernels
  streaming.py incremental ingest + tiered compaction (latest-crawl-wins,
               single-doc upsert)
  checkpoint.py lineage table (real byte metrics) + resumable build
  io.py        table-format seam: parquet today, Iceberg via one env switch
  fsutil.py    Hadoop FS helpers (works on local/HDFS/S3A alike)
  pagesgen.py  deterministic synthetic `pages` corpus (FIXTURES.md §1)
  dedup.py     exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
  simsearch.py brute-force + LSH-bucketed cosine top-k over embeddings,
               filtered kNN, RRF hybrid search (BM25 x kNN fusion)
  textstats.py language-id, quality, token counts, md5 + winnowing prints
  mapping.py   SPDX license resolver (6-rule chain over broadcast dim table)
  records.py   map-typed record flatten (dotted keys) + broadcast renames
  multimodal.py binary payload plumbing (Arrow batches; decode stubbed here)
  functions.py scalar function library (base64, datetime chain, url norm, …)
  relations.py retry/quarantine lookup joins, bidirectional edges
"""

__version__ = "0.1.0"


def _guard_zip_invalidation() -> None:
    """Make zipimporter.invalidate_caches re-read an archive only when it
    changed. PySpark's worker calls importlib.invalidate_caches() at the
    start of every task (worker_util.setup_spark_files); on CPython
    3.10-3.12 that makes every zipimporter on the path re-read its whole
    archive directory — once per package importer of Spark's pyspark.zip,
    ~0.15 s per task. The replacement re-reads unless the archive's
    (st_mtime_ns, st_size, st_ino) equals the stat taken just before its
    last read through here, and then takes that read's directory instead;
    a failed stat, a failed or empty read, or no read yet re-reads, so
    imports see exactly what they saw before. CPython 3.13 made the call
    lazy, so there (and before 3.10) this does nothing. Idempotent; every
    engine UDF imports a webindex module when unpickled, so every Python
    worker that runs one installs it."""
    import os
    import sys
    import zipimport

    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        return
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    last_read = {}  # archive -> (its stat before the read, the directory read)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        last_key, files = last_read.get(self.archive, (None, None))
        if key is not None and key == last_key:
            self._files = zipimport._zip_directory_cache[self.archive] = files
            return
        reread(self)
        # an empty directory may be a failed read: never reuse it
        last_read[self.archive] = (key if self._files else None, self._files)

    cls.invalidate_caches = invalidate_caches


_guard_zip_invalidation()
