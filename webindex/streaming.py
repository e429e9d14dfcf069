"""Incremental / streaming index maintenance (Structured Streaming).

The reference is batch-with-incremental-windows: a watermark file records the
last harvest time (reference: src/nmr_FAIR_DOs/lib.py:436-437) and re-runs
only fetch the new window (cli.py:49-86); late-resolving entries are parked
and retried (lib.py:249-261, :343-371). The Spark-native generalization:

  pages stream (file source / Kafka at prod scale)
    -> withWatermark('warc_ts', delay)         late-data bound
    -> foreachBatch: latest crawl per url (build.latest_crawl) -> SPIMI map
       (build_runs) -> runs + doc_urls partitioned by batch_id, committed
       with their lineage row by checkpoint.commit_runs_partitions — the
       resumable build's runs commit (upsert's synthetic batches too)
    -> periodic COMPACTION into compressed posting blocks.

Compaction is TIERED (Lucene-style segment merge, reference:
src/nmr_FAIR_DOs/connectors/elasticsearch.py:204-232 gets this for free from
ES bulk calls — each bulk pays only for its batch):

  * the first compact shuffles everything once and writes posting blocks
    PARTITIONED BY bucket (the doc-range shard);
  * every later compact reads ONLY the delta batches' runs (partition-pruned
    by batch_id), finds the touched buckets, decodes ONLY those buckets' old
    blocks back to runs, drops rows of re-crawled docs, merges with the delta
    and re-encodes — a dynamic-partition overwrite of the touched bucket
    directories. Untouched buckets are never read, shuffled, or rewritten.
  * re-crawled urls follow LATEST-CRAWL-WINS: doc_id is url-derived, each
    runs row carries its batch_id, and a doc's rows from any older batch are
    dropped at merge (old postings via the touched-bucket decode, newer
    in-delta duplicates via an argmax-per-doc join) — no hybrid documents
    mixing stale and fresh terms.
  * avgdl drifts as the corpus grows; untouched blocks keep the avgdl they
    were encoded with (avgdl0 column) and the query path scales their
    max_impact bound by max(1, avgdl/avgdl0), which keeps block-max WAND
    exact without rewriting them.

Single-doc upsert (reference: elasticsearch.py:175-202 client.index upsert
semantics) is a one-row micro-batch through the same path: `upsert(pages)`
appends a synthetic batch and compacts — cost is O(that doc's buckets), not
O(corpus).

The bucket-bit count is pinned in compaction state so the shard layout stays
stable as n_docs grows (growing past ~4x the original corpus should trigger
an explicit full re-shard compact: `compact(full=True)`).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from webindex import schema
from webindex.bm25 import BM25Config, DEFAULT
from webindex.build import (
    DOC_MARKER,
    Index,
    adaptive_range_width,
    assign_doc_ids,
    bucket_expr,
    build_doc_stats,
    build_postings,
    build_runs,
    decode_postings_to_runs,
    dict_file_target,
    hash_bucket_bits,
    latest_crawl,
    overlap,
    term_dictionary,
    term_stats_from_postings,
)
from webindex.checkpoint import commit_runs_partitions, done_partitions
from webindex.io import driver_files, footer_schema, read_rows, read_table


from webindex.fsutil import hadoop_fs as _hadoop_fs, hadoop_delete as _hadoop_delete


def _committed_positions(spark: SparkSession, workdir: str) -> bool | None:
    """Whether the committed runs are positional — a schema-only probe of
    <workdir>/runs, no data read: one footer on the driver (io.footer_schema),
    Spark's schema inference elsewhere. None when no runs are committed
    yet."""
    from pyspark.errors import AnalysisException

    from webindex.fsutil import path_exists

    runs = f"{workdir}/runs"
    if not path_exists(spark, runs):
        return None
    pinned = footer_schema(spark, runs)
    if pinned is None:
        try:
            pinned = spark.read.parquet(runs).schema
        except AnalysisException:  # no data file committed yet
            return None
    return "positions" in pinned.fieldNames()


def _swap_partition_dirs(
    spark: SparkSession, staging: str, final: str, stale_buckets: set[int]
) -> set[int]:
    """Commit a staged partitioned write: atomically (per-dir rename) replace
    each bucket=N directory present in staging, and drop stale bucket dirs
    that produced no output. Returns the set of staged bucket ids. This is
    the plain-FS stand-in for an Iceberg RewriteFiles/overwrite-partitions
    commit — swap is metadata-only, never a data copy."""
    fs, jvm = _hadoop_fs(spark, staging)
    Path = jvm.org.apache.hadoop.fs.Path
    staged = []
    for st in fs.listStatus(Path(staging)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            staged.append(name)
    staged_ids = {int(n.split("=", 1)[1]) for n in staged}
    fs.mkdirs(Path(final))
    for name in staged:
        dst = Path(f"{final}/{name}")
        if fs.exists(dst):
            fs.delete(dst, True)
        _rename_checked(fs, Path(f"{staging}/{name}"), dst)
    for b in stale_buckets - staged_ids:
        dst = Path(f"{final}/bucket={b}")
        if fs.exists(dst):
            fs.delete(dst, True)
    fs.delete(Path(staging), True)
    return staged_ids


def _rename_checked(fs, src, dst) -> None:
    """Hadoop FileSystem.rename signals some failures by RETURNING false
    (object stores, dst races) instead of throwing — an unchecked false
    followed by a staging delete would destroy the only copy of freshly
    built blocks. Never ignore it."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst} (filesystem returned false)")


class IncrementalIndexer:
    """The BM25Config is persisted in the compaction state table (k1/b feed
    max_impact; quantize_norms changes the doc_lens byte format): resuming an
    existing workdir restores the conf the blocks were encoded with,
    overriding the constructor argument — same guarantee as build_index's
    conf sidecar.

    A workdir is SINGLE-WRITER: batch ids (the latest-event-wins total
    order) are allocated by read-then-write against the lineage table, so
    exactly one process may ingest/upsert/delete/compact a workdir at a
    time. Within one process the indexer enforces the reachable half of
    the contract (_require_no_active_stream: synthetic events are refused
    while a stream this indexer started is active); concurrent writers in
    other processes must be excluded by the caller's orchestration."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        conf: BM25Config = DEFAULT,
        *,
        text_col: str = "html",
        watermark_delay: str = "1 hour",
        range_width: int | None = None,
        hash_primary_fn=None,
        positions: bool = False,
    ):
        self.spark = spark
        self.workdir = workdir
        self.conf = conf
        self.text_col = text_col
        self.watermark_delay = watermark_delay
        self.range_width = range_width
        # positional runs/blocks (phrase queries). Positions ride compaction
        # as opaque per-doc byte spans: the touched-bucket decode splits them
        # at byte boundaries (codec.positions_byte_slices), never re-encodes.
        self.positions = positions
        # injectable primary term hash (tests force collisions with a coarse
        # space; production always uses xxhash64 — see build.term_hash_col)
        self.hash_primary_fn = hash_primary_fn
        # the stream this indexer started, if any — synthetic events
        # (upsert/delete) are fenced against it (_require_no_active_stream)
        self._active_query = None
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- ingestion ----------------------------------------------------------

    @classmethod
    def open(cls, spark: SparkSession, workdir: str, **kw) -> "IncrementalIndexer":
        """Attach to an EXISTING workdir, adopting its committed positional
        layout instead of the constructor default — the committed runs
        schema is the ground truth, so callers that only operate on an
        existing index (CLI delete / delete-by-query / compact) never need
        to know how it was built. Falls back to the constructor default
        when no runs are committed yet (fresh workdir)."""
        if "positions" not in kw:
            committed = _committed_positions(spark, workdir)
            if committed is not None:  # fresh workdir: constructor default
                kw["positions"] = committed
        return cls(spark, workdir, **kw)

    def _check_positions_layout(self) -> None:
        """Fail loudly if the constructor's positions flag disagrees with the
        committed runs layout. The committed runs schema is the ground truth:
        writing mixed-schema runs partitions would make a later full compact
        either crash on null position buffers or build blocks whose
        positional-ness depends on which part-file Spark samples the schema
        from."""
        committed = _committed_positions(self.spark, self.workdir)
        if committed is not None and committed != self.positions:
            raise ValueError(
                f"positions={self.positions} but the committed runs at "
                f"{self.workdir}/runs are "
                f"{'positional' if committed else 'non-positional'}; "
                f"construct IncrementalIndexer with positions={committed} "
                "(or use a fresh workdir to change the layout)"
            )

    def _checkpoint_query_id(self) -> str | None:
        """The streaming query id persisted in the engine checkpoint's
        metadata file. This is the CHECKPOINT'S identity: it survives
        restarts from the same checkpoint but changes whenever the
        checkpoint is reset or relocated — exactly the event after which
        engine epochs recycle from 0 and must NOT match old _epoch_map
        rows (keying redelivery detection on the bare epoch number would
        silently skip the new stream's first batches as 'redeliveries').
        None when no checkpoint metadata exists yet."""
        import json

        from webindex.fsutil import path_exists

        p = f"{self.workdir}/_stream_ckpt/metadata"
        if not path_exists(self.spark, p):
            return None
        txt = "".join(
            r["value"] for r in self.spark.read.text(p).collect()
        )
        return str(json.loads(txt)["id"])

    def _seen_epochs(self, qid: str | None) -> set[int]:
        """Engine epochs already ingested FOR THIS CHECKPOINT IDENTITY (the
        _epoch_map sidecar, keyed (qid, epoch)). Rows written by the
        pre-round-5 layout carry no qid column and are counted for any qid
        (same behavior as before; a legacy workdir whose checkpoint was
        ALSO reset keeps the old flaw — rebuild the workdir to clear it).
        Only a MISSING sidecar means none — any other read failure
        propagates (silently treating it as empty would re-ingest, or
        worse, collide)."""
        from webindex.fsutil import path_exists

        p = f"{self.workdir}/_epoch_map"
        if not path_exists(self.spark, p):
            return set()
        df = self.spark.read.option("mergeSchema", "true").parquet(p)
        if "qid" in df.columns:
            df = df.filter(F.col("qid").isNull() | (F.col("qid") == qid))
        return {int(r["epoch"]) for r in df.select("epoch").collect()}

    def _next_batch_id(self) -> int:
        done = done_partitions(self.spark, self.workdir)
        return (max(done) + 1) if done else 0

    def _require_no_active_stream(self, action: str) -> None:
        """Batch ids are allocated by an unfenced read-then-write
        (_next_batch_id); the workdir is SINGLE-WRITER by contract. This
        guard enforces the one violation this object can see: a synthetic
        event (upsert/delete) racing a stream this indexer started could
        claim the same batch id as an in-flight micro-batch, breaking the
        latest-event-wins total order (a tombstone and a crawl sharing an
        id makes the winner undefined). Cross-process writers are outside
        any one JVM's view — coordinate those externally."""
        q = self._active_query
        if q is not None and q.isActive:
            raise RuntimeError(
                f"{action} while the stream started by this indexer is "
                "active would race its batch-id allocation; stop the "
                "stream (query.stop() / awaitTermination) first"
            )

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch sink. The engine's epoch counter and this index's
        batch order are DECOUPLED: synthetic batches (upsert/delete) also
        consume batch ids, and the streaming checkpoint knows nothing about
        them — reusing the epoch as the batch id would make a restarted
        stream's next epoch collide with a synthetic batch and be silently
        skipped as a 'redelivery', losing its pages forever. So every ingest
        allocates the next internal id (total event order preserved: later
        wall-clock events get higher ids) and redelivered engine epochs are
        detected via the _epoch_map sidecar (epoch -> internal id), written
        AFTER the lineage commit — a crash between the two re-ingests the
        same pages under a fresh id, which latest-crawl-wins collapses."""
        qid = self._checkpoint_query_id()
        if int(epoch_id) in self._seen_epochs(qid):
            return
        our_id = self._next_batch_id()
        self._ingest_pages(batch_df, our_id)
        from webindex.io import append_driver_rows

        append_driver_rows(
            self.spark,
            [(qid, int(epoch_id), int(our_id))],
            "qid string, epoch long, batch_id long",
            f"{self.workdir}/_epoch_map",
            fmt="parquet",
        )

    def _ingest_pages(self, batch_df: DataFrame, batch_id: int) -> None:
        """Tokenize one batch of pages and commit runs + urls + lineage
        under the given internal batch id, through the resumable build's
        runs commit (checkpoint.commit_runs_partitions)."""
        self._check_positions_layout()
        # latest-wins WITHIN the batch: one source batch can contain the
        # same url several times (several crawl files per trigger)
        deduped = latest_crawl(batch_df, self.text_col)
        if "doc_id" in deduped.columns:
            # identity in the incremental path is xxhash64(url) — a caller-
            # supplied doc_id would make tombstones miss and latest-wins
            # unable to collapse recrawls (assign_doc_ids passes a
            # pre-existing column through)
            deduped = deduped.drop("doc_id")
        pages = assign_doc_ids(deduped, "hash")
        bid = F.lit(int(batch_id)).alias("batch_id")
        commit_runs_partitions(
            batch_df.sparkSession,
            build_runs(
                pages, text_col=self.text_col, with_positions=self.positions
            ).select("*", bid),
            pages.select("doc_id", "url", bid),
            self.workdir,
            "batch_id",
            [int(batch_id)],
        )

    def start(self, source_dir: str, trigger_available_now: bool = True):
        """Stream pages parquet files from source_dir into the runs table."""
        stream = (
            self.spark.readStream.schema(schema.PAGES)
            .parquet(source_dir)
            .withWatermark("warc_ts", self.watermark_delay)
        )
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", f"{self.workdir}/_stream_ckpt")
            .outputMode("append")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._active_query = q
        return q

    def upsert(self, pages: DataFrame, compact_now: bool = True) -> "Index | None":
        """Single-record/doc upsert (S8): route one small pages DataFrame
        through the batch sink as a synthetic batch (id = max seen + 1, so
        latest-crawl-wins ordering holds) and optionally compact immediately.
        Compaction cost is O(the touched buckets), not O(corpus)."""
        self._require_no_active_stream("upsert")
        self._ingest_pages(pages, self._next_batch_id())
        return self.compact() if compact_now else None

    def delete(self, urls, compact_now: bool = True) -> "Index | None":
        """ES DELETE /<index>/_doc/<id> analogue: tombstone documents by url.

        A delete is an EVENT in the same total batch order as crawls: the
        tombstone batch gets the next batch id and is recorded in lineage, so
        per doc the latest event wins — delete-then-recrawl resurrects the
        doc, crawl-then-delete removes it (ES versioned-delete semantics).
        Tombstones are applied PHYSICALLY at the next compact (the segment
        merge, exactly where Lucene reclaims deleted docs): the dead docs'
        posting rows are dropped from their touched buckets only, doc_stats
        rows removed, and n_docs / avgdl / df all shrink accordingly —
        deleted docs stop influencing every score. Like upsert, visibility
        is at compact() (the refresh point of this engine).

        `urls` is a list[str] or a DataFrame with a url column. Deleting a
        url that was never crawled is a recorded no-op (ES returns
        result=not_found)."""
        self._require_no_active_stream("delete")
        spark = self.spark
        if isinstance(urls, DataFrame):
            u = urls.select("url").distinct()
        else:
            u = spark.createDataFrame(
                [(x,) for x in urls], "url string"
            ).distinct()
        batch_id = self._next_batch_id()
        t0 = time.monotonic()
        # doc_id derivation MUST match the ingest side (assign_doc_ids
        # "hash"): the tombstone kills exactly the doc the url maps to
        u.select(
            F.xxhash64(F.col("url")).alias("doc_id"),
            "url",
            F.lit(int(batch_id)).alias("batch_id"),
        ).write.mode("overwrite").partitionBy("batch_id").parquet(
            f"{self.workdir}/deletes"
        )
        from webindex.fsutil import dir_bytes

        nbytes = dir_bytes(spark, f"{self.workdir}/deletes/batch_id={batch_id}")
        from webindex.io import append_driver_rows

        append_driver_rows(
            spark,
            [(int(batch_id), 0, 0, int(nbytes), float(time.monotonic() - t0), "done")],
            schema.LINEAGE,
            f"{self.workdir}/lineage",
            fmt="parquet",
        )
        if compact_now and not self._has_runs():
            # tombstones on a never-ingested workdir: the recorded no-op the
            # docstring promises — the tombstone batch is committed (a later
            # crawl still outranks it by batch order) but there is no corpus
            # to compact yet
            return None
        return self.compact() if compact_now else None

    def delete_by_query(
        self, query: str, msm: int = 1, compact_now: bool = True
    ) -> "Index | None":
        """ES _delete_by_query: tombstone every doc matching `query` (>= msm
        distinct terms — filter-context match, no scoring). Like ES, the
        match set is a SNAPSHOT of the current index: the constant-score
        block scan resolves matching doc_ids, their urls come from the
        doc_id-keyed doc_stats join, and the whole set becomes one tombstone
        batch through delete()."""
        from webindex.aggs import matching_doc_ids

        if not self._has_runs():
            # never-ingested workdir: the snapshot match set is necessarily
            # empty — ES _delete_by_query deletes nothing on an empty index
            return None
        idx = self.compact()
        ids = matching_doc_ids(idx, query, msm)
        urls = idx.doc_stats.join(ids, "doc_id", "semi").select("url")
        return self.delete(urls, compact_now)

    def _has_runs(self) -> bool:
        """True once at least one page batch committed a runs partition —
        the precondition for compact() (tombstone-only workdirs have
        lineage but no corpus)."""
        from webindex.fsutil import path_exists

        return path_exists(self.spark, f"{self.workdir}/runs")

    def _new_tombstones(self, min_batch: int | None = None) -> DataFrame | None:
        """(doc_id, batch_id) tombstone events, optionally only those after
        min_batch (the compaction frontier). None ONLY when no deletes table
        exists (the zero-cost common case) — any other read failure
        propagates: silently treating a corrupt/unreadable deletes table as
        'no deletes' would resurrect deleted docs at the next compact."""
        from webindex.fsutil import path_exists

        if not path_exists(self.spark, f"{self.workdir}/deletes"):
            return None
        d = read_table(self.spark, f"{self.workdir}/deletes", fmt="parquet")
        if min_batch is not None:
            d = d.filter(F.col("batch_id") > min_batch)
        return d.select("doc_id", "batch_id")

    # -- compaction / query-side --------------------------------------------

    def _read_state(self, full: bool = False):
        """Read compaction state; if it persists a BM25Config (round-3+
        layout), RESTORE it over the constructor's conf — the committed
        blocks' byte format and max_impact bounds are functions of the conf
        they were encoded with, so resuming with anything else would silently
        mis-score (the streaming analogue of build_index's conf sidecar).

        None only when the state is ABSENT (no data bytes: nothing compacted
        yet). An unreadable state raises — treating it as absent would make
        compact() silently rebuild with the constructor's conf — except for
        a `full` compact, the named recovery: it rebuilds from the runs
        history and needs no state, so it keeps the constructor's conf."""
        from webindex.fsutil import dir_bytes

        p = f"{self.workdir}/index/_state"
        if not dir_bytes(self.spark, p):
            return None
        try:
            row = read_rows(self.spark, p, fmt="parquet")[0]
        except Exception as e:
            if full:
                return None
            raise RuntimeError(
                f"unreadable compaction state at {p}: run compact(full=True) "
                "on an IncrementalIndexer constructed with this workdir's "
                "BM25Config to rebuild tables and state from the runs history"
            ) from e
        # round-3+ layout persists the conf: restore it (pre-conf state rows
        # lack "k1" and fall through to the constructor's conf)
        if "k1" in row:
            self.conf = BM25Config(
                k1=float(row["k1"]),
                b=float(row["b"]),
                block_size=int(row["block_size"]),
                quantize_norms=bool(row["quantize_norms"]),
            )
            self.positions = bool(row["positions"])
        return row

    def _write_state(
        self, max_batch: int, bits: int, range_width: int, n_docs: int,
        sum_dl: float, avgdl: float,
    ) -> None:
        """Commit a compaction's stats: corpus_stats, then the compaction
        state. Called only after every table they describe is in place, so
        a failed compact never leaves new corpus stats over old tables."""
        # one-row sidecars: driver-side pyarrow writes (no Spark job) with
        # the arrow schema derived from the same StructType — bit-identical
        # round-trip, ~0.5-1s of fixed job latency saved per compact
        # (round 6, same as build_index's corpus_stats/conf sidecars)
        from webindex.io import write_driver_table

        write_driver_table(
            self.spark, [(n_docs, avgdl, -1)], schema.CORPUS_STATS,
            f"{self.workdir}/index/corpus_stats", fmt="parquet",
        )
        c = self.conf
        write_driver_table(
            self.spark,
            [
                (
                    int(max_batch),
                    int(bits),
                    int(range_width),
                    int(n_docs),
                    float(sum_dl),
                    float(c.k1),
                    float(c.b),
                    int(c.block_size),
                    bool(c.quantize_norms),
                    bool(self.positions),
                )
            ],
            schema.COMPACT_STATE,
            f"{self.workdir}/index/_state",
            fmt="parquet",
        )

    def _latest_wins(self, runs: DataFrame, doc_urls: DataFrame) -> DataFrame:
        """Keep only each doc's rows from its newest batch (re-crawl collapse
        WITHIN the considered batch set). The per-doc max batch comes from the
        thin doc_urls table, then an equi-join filters runs — no window sort
        over the full runs volume."""
        latest = doc_urls.groupBy("doc_id").agg(F.max("batch_id").alias("batch_id"))
        return runs.join(latest, ["doc_id", "batch_id"]).drop("batch_id")

    def _latest_urls(self, doc_urls: DataFrame) -> DataFrame:
        """(doc_id, url) of each doc's newest batch in doc_urls."""
        return doc_urls.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
            ),
        ).filter(F.col("rn") == 1).select("doc_id", "url")

    def _dead_docs(self, tombs: DataFrame, doc_urls: DataFrame) -> DataFrame:
        """doc_ids whose newest tombstone outranks their newest crawl in
        doc_urls (latest event wins; a tombstone of a doc with no crawl
        there is dead too)."""
        crawl_latest = doc_urls.groupBy("doc_id").agg(
            F.max("batch_id").alias("cb")
        )
        return (
            tombs.groupBy("doc_id")
            .agg(F.max("batch_id").alias("db"))
            .join(crawl_latest, "doc_id", "left")
            .filter(F.col("cb").isNull() | (F.col("db") > F.col("cb")))
            .select("doc_id")
        )

    def _load_index(
        self, n_docs: int, avgdl: float, range_width: int,
        bucket_bits: int | None = None,
    ) -> Index:
        spark, out = self.spark, f"{self.workdir}/index"
        term_stats = read_table(spark, f"{out}/term_stats", fmt="parquet")
        return Index(
            postings=read_table(spark, f"{out}/postings", fmt="parquet"),
            term_stats=term_stats,
            doc_stats=read_table(spark, f"{out}/doc_stats", fmt="parquet"),
            n_docs=n_docs,
            avgdl=avgdl,
            conf=self.conf,
            range_width=range_width,
            # incremental identity is always xxhash64(url); bits are PINNED
            # in compaction state (recomputing from grown n_docs would remap
            # buckets the committed blocks don't use)
            id_space="hash",
            bucket_bits=bucket_bits,
            url_hash_ids=True,  # _ingest_pages drops any caller doc_id
            term_files=driver_files(term_stats, "parquet"),
        )

    def _finish_tables(self, n_docs: int, term_dict: DataFrame) -> None:
        # staged write + FS rename: the incremental path's term_dict LAZILY
        # reads the current term_stats table, so overwriting it in the same
        # job would read-and-clobber the input. Commit order keeps a
        # recoverable table at every step (a crash mid-commit leaves either
        # the old table, both, or the new one — never neither): rename the
        # old table ASIDE, rename staging in, then drop the old copy.
        from webindex.io import write_table

        spark, out = self.spark, f"{self.workdir}/index"
        staging = f"{out}/_term_stats_staging"
        # data-derived file target (round 6, same as the batch/full-compact
        # dictionaries): without it every incremental compact re-fragments
        # the dictionary into shuffle-partition-many overlapping-range files
        # and live queries pay per-file open cost on every stats probe
        write_table(
            term_stats_from_postings(
                read_table(spark, f"{out}/postings", fmt="parquet"), n_docs, term_dict
            ),
            staging,
            sort_cols=["term"],
            coalesce=dict_file_target(n_docs),
            fmt="parquet",
        )
        fs, jvm = _hadoop_fs(spark, out)
        Path = jvm.org.apache.hadoop.fs.Path
        final = Path(f"{out}/term_stats")
        old = Path(f"{out}/_term_stats_old")
        if fs.exists(old):
            # leftover from a crashed commit. If the crash hit between
            # rename(final→old) and rename(staging→final), the old copy is
            # the ONLY surviving table — restore it (it becomes `old` again
            # two lines down); otherwise it's a superseded duplicate: drop it.
            if not fs.exists(final):
                _rename_checked(fs, old, final)
            else:
                fs.delete(old, True)
        if fs.exists(final):
            _rename_checked(fs, final, old)
        _rename_checked(fs, Path(staging), final)
        if fs.exists(old):
            fs.delete(old, True)

    def _recover_term_stats(self) -> None:
        """Make the crashed-commit recovery in _finish_tables REACHABLE: a
        crash between rename(term_stats→old) and rename(staging→term_stats)
        leaves only _term_stats_old, and every incremental compact reads
        term_stats long before _finish_tables runs — so the restore must
        happen at compact entry, not inside the next commit."""
        from webindex.fsutil import path_exists

        out = f"{self.workdir}/index"
        old_p, final_p = f"{out}/_term_stats_old", f"{out}/term_stats"
        if path_exists(self.spark, old_p) and not path_exists(self.spark, final_p):
            fs, jvm = _hadoop_fs(self.spark, out)
            Path = jvm.org.apache.hadoop.fs.Path
            _rename_checked(fs, Path(old_p), Path(final_p))

    def live_index(self) -> Index:
        """The committed index with PENDING deletes applied logically — ES
        refresh-interval delete semantics between compacts (reference:
        src/nmr_FAIR_DOs/connectors/elasticsearch.py delete-then-search sees
        the delete at the next refresh, long before any segment merge).

        Tombstone events newer than the compaction frontier become
        Index.dead_ids, the analogue of Lucene's in-heap deleted-docs
        bitmap. The one candidate-block plan (query._candidate_plan) hands
        them to every per-bucket kernel: the shared BM25 kernel (every
        top-k scorer — match family, bool, search_after, batch, synonyms,
        fuzzy, function_score, match_scores and what builds on it, and
        suggest_phrase's collate, which is a _scored call, not a kernel of
        its own), the filter-context count kernel (aggs.ids_with_counts:
        matching_doc_ids / count, terms_set, prefix, wildcard, regexp) and
        the phrase and intervals kernels over the shared positional decode
        (phrase and its batch / prefix / scores / rescore forms,
        span_near, intervals). They, highlight and the θ seeds drop dead
        docs right after decode, before any local top-k cut, while
        n_docs/avgdl/df stay as-built — exactly Lucene's behavior until
        the merge reclaims the docs. The set is driver-scale by construction (deletes since the
        last compact only). Pending CRAWL batches stay invisible until
        compact(), the engine's refresh point for additions. The lookups
        (lookup_doc, lookup_docs, lookup_url, term_vectors) report a
        pending-deleted doc as not found at once, like ES realtime GET and
        _termvectors.

        Requires a committed index (compact() at least once); raises
        otherwise."""
        state = self._read_state()
        if state is None:
            raise RuntimeError(
                "no committed index yet: run compact() before live_index()"
            )
        idx = self._load_index(
            int(state["n_docs"]),
            float(state["sum_dl"]) / max(1, int(state["n_docs"])),
            int(state["range_width"]),
            int(state["bucket_bits"]),
        )
        from webindex.fsutil import path_exists

        # _new_tombstones' policy (absent: none; unreadable: raise), read
        # and deduped on the driver: the set is driver-scale
        p = f"{self.workdir}/deletes"
        if not path_exists(self.spark, p):
            return idx
        import numpy as np

        rows = read_rows(
            self.spark, p, ["doc_id"], [("batch_id", ">", int(state["max_batch"]))],
            fmt="parquet",
        )
        dead = np.unique(np.asarray([r["doc_id"] for r in rows], dtype=np.int64))
        if len(dead):
            idx.dead_ids = dead
        return idx

    def compact(self, full: bool = False) -> Index:
        """Merge accumulated runs into the block tables. First call (or
        full=True, e.g. to re-shard after heavy growth) compacts everything;
        later calls merge only the delta batches into their touched buckets.
        Returns the refreshed Index. Metrics for the merge (delta rows,
        decoded old rows, touched buckets) are appended to
        <workdir>/compactions."""
        from webindex.fsutil import path_exists

        # the layout check runs for FULL compacts too: full=True skips the
        # state-driven incremental branch but must still not re-encode a
        # committed positional layout as non-positional (or vice versa)
        self._check_positions_layout()
        self._recover_term_stats()
        # _read_state runs for FULL compacts too: full=True only skips the
        # incremental branch — the persisted conf must still be restored so
        # a full re-shard never silently re-encodes with the constructor's
        # (default) k1/b/quantize_norms
        state = self._read_state(full)
        if full:
            state = None
        pending = f"{self.workdir}/_compact_pending"
        if not full and path_exists(self.spark, pending):
            # a previous incremental compact crashed between its table swaps
            # and its state write: the committed tables and the state counts
            # disagree, and re-running the delta against the already-swapped
            # doc_stats would double-count removals. The runs history is the
            # ground truth — rebuild from it. This holds with no readable
            # state too: a full compact under the constructor's conf would
            # silently drop the workdir's.
            raise RuntimeError(
                "interrupted incremental compaction detected "
                f"({pending} exists): run compact(full=True) to rebuild "
                "tables and stats from the runs history"
            )
        done = done_partitions(self.spark, self.workdir)
        if state is not None and int(state["max_batch"]) >= (max(done) if done else -1):
            return self._load_index(
                int(state["n_docs"]),
                float(state["sum_dl"]) / max(1, int(state["n_docs"])),
                int(state["range_width"]),
                int(state["bucket_bits"]),
            )
        if state is None:
            return self._compact_full(done)
        return self._compact_incremental(state, done)

    def _compact_full(self, done: list[int]) -> Index:
        spark = self.spark
        if not self._has_runs():
            raise ValueError(
                "compact() on a workdir with no ingested pages — ingest at "
                "least one batch first (tombstone-only workdirs have no "
                "corpus to compact)"
            )
        runs = read_table(spark, f"{self.workdir}/runs", fmt="parquet")
        doc_urls = read_table(spark, f"{self.workdir}/doc_urls", fmt="parquet")
        runs_latest = self._latest_wins(runs, doc_urls)
        doc_urls_latest = self._latest_urls(doc_urls)
        # tombstones: per doc the LATEST event wins across the full history —
        # a doc whose newest delete outranks its newest crawl is dead and
        # contributes nothing to postings, doc_stats, n_docs, or avgdl
        tombs = self._new_tombstones()
        if tombs is not None:
            dead = self._dead_docs(tombs, doc_urls)
            runs_latest = runs_latest.join(dead, "doc_id", "left_anti")
            doc_urls_latest = doc_urls_latest.join(dead, "doc_id", "left_anti")
        doc_stats = build_doc_stats(doc_urls_latest, runs_latest)
        from webindex.build import vocab_and_corpus_agg

        # full compact mirrors the batch build: df + dictionary + corpus
        # stats in ONE map-side-combined pass over the merged runs (the
        # DOC_MARKER group carries n_docs and the token total), then the
        # same pre-shuffle hash-collision resolution (a fresh full compact
        # may re-key; only the incremental path must preserve committed keys)
        vocab_df, vocab_handle, n_docs, avgdl = vocab_and_corpus_agg(runs_latest)

        range_width = self.range_width or adaptive_range_width(n_docs)
        bits = hash_bucket_bits(n_docs, range_width)
        out = f"{self.workdir}/index"
        # full re-shard may change the bucket layout: clear old dirs so no
        # stale partitions survive the dynamic overwrite
        _hadoop_delete(spark, f"{out}/postings")
        _hadoop_delete(spark, f"{out}/doc_stats")
        term_stats, remap = term_dictionary(vocab_df, n_docs, self.hash_primary_fn)
        # round-6 tail, same as build.commit_index_tables: the three table
        # writes are independent chains, overlapped. The dictionary
        # coalesces to a data-derived file target (guide §6 small-files:
        # live_index's per-query dictionary probe pays per-file open cost).
        # The layout stays bucket-partitioned: incremental compaction swaps
        # per-bucket dirs of postings and doc_stats.
        from webindex.io import write_table

        def _w_postings() -> None:
            write_table(
                build_postings(
                    runs_latest,
                    avgdl,
                    self.conf,
                    range_width,
                    n_docs=n_docs,
                    id_space="hash",
                    bucket_bits=bits,
                    hash_remap=remap,
                    hash_primary_fn=self.hash_primary_fn,
                ),
                f"{out}/postings",
                sort_cols=["bucket", "term_hash", "block_id"],
                partition_by="bucket",
                fmt="parquet",
            )

        def _w_terms() -> None:
            write_table(
                term_stats, f"{out}/term_stats", sort_cols=["term"],
                coalesce=dict_file_target(n_docs), fmt="parquet",
            )

        def _w_docs() -> None:
            write_table(
                doc_stats.withColumn(
                    "bucket",
                    bucket_expr(F.col("doc_id"), n_docs, range_width, "hash", bits),
                ),
                f"{out}/doc_stats",
                sort_cols=["doc_id"],
                partition_by="bucket",
                fmt="parquet",
            )

        overlap(_w_postings, _w_terms, _w_docs)
        vocab_handle.unpersist()
        self._write_state(
            max(done) if done else -1, bits, range_width, n_docs, n_docs * avgdl, avgdl
        )
        # a full compact rebuilds every table and stat from the runs history,
        # so it clears any interrupted-incremental fence (the recovery route
        # compact() directs to)
        _hadoop_delete(self.spark, f"{self.workdir}/_compact_pending")
        self._log_compaction(done, "full", delta_rows=-1, old_rows=-1, touched=-1)
        return self._load_index(n_docs, avgdl, range_width, bits)

    def _compact_incremental(self, state, done: list[int]) -> Index:
        spark = self.spark
        out = f"{self.workdir}/index"
        bits = int(state["bucket_bits"])
        range_width = int(state["range_width"])
        old_n, old_sum = int(state["n_docs"]), float(state["sum_dl"])
        delta_batches = [b for b in done if b > int(state["max_batch"])]

        runs = read_table(spark, f"{self.workdir}/runs", fmt="parquet").filter(
            F.col("batch_id").isin(delta_batches)
        )
        doc_urls = read_table(spark, f"{self.workdir}/doc_urls", fmt="parquet").filter(
            F.col("batch_id").isin(delta_batches)
        )
        # tombstone events newer than the compaction frontier: a delete
        # outranked by a same-delta recrawl is void (latest event wins); a
        # delete of a never-seen doc is a no-op that still advances state
        old_doc_stats = read_table(spark, f"{out}/doc_stats", fmt="parquet")
        dead_ids, n_dead = None, 0
        tombs = self._new_tombstones(min_batch=int(state["max_batch"]))
        if tombs is not None:
            dead_ids = self._dead_docs(tombs, doc_urls).persist()
            n_dead = dead_ids.count()
            if n_dead == 0:
                dead_ids.unpersist()
                dead_ids = None

        # latest-wins WITHIN the delta; rows from batches already compacted
        # are handled below by dropping re-crawled docs from the old blocks
        delta_runs = self._latest_wins(runs, doc_urls)
        if dead_ids is not None:
            delta_runs = delta_runs.join(dead_ids, "doc_id", "left_anti")
        delta_runs = delta_runs.persist()
        delta_docs = delta_runs.filter(F.col("term") == DOC_MARKER).select(
            "doc_id", "doc_len"
        ).persist()
        bcol = bucket_expr(F.col("doc_id"), old_n, range_width, "hash", bits)
        bucket_src = delta_docs.select(bcol.alias("bucket"))
        if dead_ids is not None:
            # dead docs' committed rows live in their own buckets: those
            # must decode+rewrite too (doc_stats is bucket-partitioned, so
            # this is a thin semi-join, not an id->bucket recompute)
            bucket_src = bucket_src.unionByName(
                old_doc_stats.join(dead_ids, "doc_id", "semi").select("bucket")
            )
        buckets = [
            int(r["bucket"]) for r in bucket_src.distinct().collect()
        ]
        n_delta = delta_docs.count()
        if n_delta == 0 and dead_ids is None:
            delta_runs.unpersist(); delta_docs.unpersist()
            return self._load_index(old_n, old_sum / max(1, old_n), range_width, bits)

        # ---- old state for the removed docs: re-crawled (superseded) and
        # tombstoned committed docs leave the corpus counts together
        removal = delta_docs.select("doc_id")
        n_removal = n_delta + n_dead
        if dead_ids is not None:
            removal = removal.unionByName(dead_ids)
        removed = old_doc_stats.join(removal, "doc_id", "semi")
        r = removed.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("s")
        ).collect()[0]
        n_removed, sum_removed = int(r["n"]), float(r["s"])
        d = delta_docs.agg(F.coalesce(F.sum("doc_len"), F.lit(0)).alias("s")).collect()[0]
        n_docs = old_n - n_removed + n_delta
        sum_dl = old_sum - sum_removed + float(d["s"])
        avgdl = sum_dl / max(1, n_docs)

        # ---- merge: decode ONLY touched buckets' blocks, drop re-crawled
        # docs' stale rows, union with the delta, re-encode those buckets.
        # The new blocks are staged to a scratch dir then swapped in per
        # bucket (reading and overwriting the same parquet path in one job is
        # both disallowed and unsafe).
        old_blocks = read_table(spark, f"{out}/postings", fmt="parquet").filter(
            F.col("bucket").isin(buckets)
        )
        old_rows = decode_postings_to_runs(
            old_blocks, quantize_norms=self.conf.quantize_norms
        ).join(
            # removal = re-crawled delta docs + tombstoned committed docs —
            # the broadcast guard must count BOTH (delete_by_query can make
            # dead_ids arbitrarily large with a tiny crawl delta)
            F.broadcast(removal) if n_removal < 1_000_000 else removal,
            "doc_id",
            "left_anti",
        ).persist()
        n_old_rows = old_rows.count()
        n_delta_rows = delta_runs.count()
        # old rows come back hash-keyed from the block decode; hash the delta
        # the same way so the merge shuffle carries fixed-width keys only.
        # Collision resolution runs BEFORE the merge, against the committed
        # dictionary: existing terms keep their on-disk keys, a new delta
        # term whose xxhash64 clashes with any committed or sibling key is
        # remapped — never silently merged into a stranger's postings.
        from webindex.build import resolve_term_hashes, term_hash_col, term_hash_expr

        old_dict = read_table(spark, f"{out}/term_stats", fmt="parquet").select(
            "term", "term_hash"
        )
        term_dict, remap = resolve_term_hashes(
            delta_runs.select("term"),
            existing_dict=old_dict,
            primary_fn=self.hash_primary_fn,
        )
        # remap covers only NEW colliding terms; an EXISTING term whose
        # committed key diverges from its primary hash (remapped at an earlier
        # compact) must also override — otherwise its delta rows would hash to
        # the PRIMARY value, which is exactly the colliding committed term's
        # key, silently merging into a stranger's postings. Divergent set is
        # O(total collisions ever) ~ 0-3 at 10^9 vocab; cap guards degeneracy.
        primary = (self.hash_primary_fn or term_hash_col)(F.col("term"))
        divergent = (
            old_dict.filter(F.col("term_hash") != primary).limit(1001).collect()
        )
        if len(divergent) > 1000:
            raise RuntimeError(
                "more than 1000 committed terms have remapped keys — the "
                "term hash is degenerate; rebuild with a sound hash"
            )
        remap = {**remap, **{r["term"]: int(r["term_hash"]) for r in divergent}}
        delta_cols = ["doc_id", "tf", "doc_len"] + (
            ["positions"] if self.positions else []
        )
        merged = old_rows.unionByName(
            delta_runs.filter(F.col("term") != DOC_MARKER).select(
                term_hash_expr(F.col("term"), remap, self.hash_primary_fn).alias(
                    "term_hash"
                ),
                *delta_cols,
            )
        )
        staging = f"{out}/_postings_staging"
        ds_staging = f"{out}/_doc_stats_staging"
        # doc_stats delta frame (old kept - recrawled + delta); both staging
        # writes read only COMMITTED tables + persisted deltas, so they are
        # independent jobs — overlap them (guide §2.6, round 6) and only
        # then raise the commit fence and swap. This also SHRINKS the fence
        # window: previously the doc_stats staging write ran inside it.
        delta_stats = delta_docs.join(self._latest_urls(doc_urls), "doc_id").select(
            "doc_id", "url", F.col("doc_len").cast("int").alias("doc_len")
        )
        kept_old = (
            old_doc_stats.filter(F.col("bucket").isin(buckets))
            .join(removal, "doc_id", "left_anti")
            .select("doc_id", "url", "doc_len")
        )

        from webindex.io import write_table

        def _stage_postings() -> None:
            write_table(
                build_postings(
                    merged,
                    avgdl,
                    self.conf,
                    range_width,
                    n_docs=n_docs,
                    id_space="hash",
                    bucket_bits=bits,
                ),
                staging,
                sort_cols=["bucket", "term_hash", "block_id"],
                partition_by="bucket",
                fmt="parquet",
            )

        def _stage_doc_stats() -> None:
            write_table(
                kept_old.unionByName(delta_stats).withColumn("bucket", bcol),
                ds_staging,
                sort_cols=["doc_id"],
                partition_by="bucket",
                fmt="parquet",
            )

        # the session-wide dynamic partitionOverwriteMode keeps staged
        # bucket dirs this write produces no output for: a crash between
        # staging and swap would leave them for _swap_partition_dirs to
        # commit (a touched bucket emptied by this delta would get its stale
        # dir back — ghost doc_stats rows that double-decrement
        # n_docs/sum_dl). Start both staging dirs empty.
        _hadoop_delete(spark, staging)
        _hadoop_delete(spark, ds_staging)
        overlap(_stage_postings, _stage_doc_stats)
        old_rows.unpersist()
        # commit fence: from the first table swap to the state write the
        # committed tables and the state counts can disagree; a crash inside
        # this window must be detected (compact() raises and directs to
        # full=True), never silently re-run — the re-run would count
        # already-swapped delta docs as removals and corrupt n_docs/sum_dl
        fence_fs, fence_jvm = _hadoop_fs(spark, self.workdir)
        fence = fence_jvm.org.apache.hadoop.fs.Path(
            f"{self.workdir}/_compact_pending"
        )
        fence_fs.mkdirs(fence)
        # swap touched dirs; a touched bucket with no output (all its docs
        # re-crawled to empty) gets its stale dir dropped
        _swap_partition_dirs(spark, staging, f"{out}/postings", set(buckets))
        # same stale set as the postings swap: a touched bucket whose every
        # doc was deleted produces no staged doc_stats dir, and keeping the
        # old dir would leave ghost rows that double-decrement n_docs/sum_dl
        # on a later removal semi-join
        _swap_partition_dirs(spark, ds_staging, f"{out}/doc_stats", set(buckets))

        # term_stats: recompute from block metadata (tiny scan of the
        # committed table — column pruning never touches the binary columns).
        # The term dictionary never re-reads history: old term_stats already
        # maps every pre-existing hash, the delta contributes only its vocab.
        # term_dict was resolved pre-merge (existing keys preserved, delta
        # collisions remapped) — unique over the union by construction
        self._finish_tables(n_docs, term_dict)
        self._write_state(max(done), bits, range_width, n_docs, sum_dl, avgdl)
        fence_fs.delete(fence, True)  # tables and state agree again
        self._log_compaction(
            delta_batches,
            "incremental",
            delta_rows=n_delta_rows,
            old_rows=n_old_rows,
            touched=len(buckets),
        )
        delta_runs.unpersist(); delta_docs.unpersist()
        if dead_ids is not None:
            dead_ids.unpersist()
        return self._load_index(n_docs, avgdl, range_width, bits)

    def _log_compaction(
        self, batches: list[int], kind: str, *, delta_rows: int, old_rows: int, touched: int
    ) -> None:
        from webindex.io import append_driver_rows

        append_driver_rows(
            self.spark,
            [(kind, ",".join(map(str, batches)), int(delta_rows), int(old_rows), int(touched))],
            "kind string, batches string, delta_rows long, decoded_old_rows long, touched_buckets long",
            f"{self.workdir}/compactions",
            fmt="parquet",
        )
