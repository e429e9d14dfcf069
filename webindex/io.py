"""Table writer seam: parquet today, Iceberg with one config flip.

The north rule's production deployment stores the index tables as Iceberg;
this sandbox has no Iceberg runtime jar, so the default writes the SAME
layout (sorted-within-partition, optionally dir-partitioned) as plain
parquet. Every property the engine relies on maps 1:1:

  parquet (sandbox)                     Iceberg (production)
  ------------------------------------  ----------------------------------
  sortWithinPartitions(...).parquet()   WRITE ORDERED BY (...)  [metadata
                                        sampling — avoids the range-sample
                                        double-execution documented in
                                        build.build_index]
  .partitionBy("bucket")                PARTITIONED BY (bucket)
  dynamic partitionOverwriteMode        overwritePartitions()
  streaming._swap_partition_dirs        RewriteFiles / overwrite-partitions
                                        snapshot commit
  latest-crawl-wins compact             MERGE INTO index USING delta
                                        ON doc_id WHEN MATCHED ...

Use  fmt="iceberg"  (or WEBINDEX_TABLE_FORMAT=iceberg) once a catalog is
configured (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog);
without the runtime the call fails loudly with setup guidance instead of
silently writing the wrong format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def table_format() -> str:
    return os.environ.get("WEBINDEX_TABLE_FORMAT", "parquet")


def _require_iceberg(spark) -> None:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        raise RuntimeError(
            "WEBINDEX_TABLE_FORMAT=iceberg but the Iceberg runtime is not "
            "on the classpath. Add iceberg-spark-runtime to spark.jars and "
            "configure spark.sql.catalog.<name>=org.apache.iceberg.spark."
            "SparkCatalog; dest must then be a catalog table name."
        ) from None


def write_table(
    df: DataFrame,
    dest: str,
    *,
    sort_cols: list[str] | None = None,
    partition_by: str | None = None,
    fmt: str | None = None,
    coalesce: int | None = None,
) -> None:
    """Write an index table with the engine's layout guarantees.

    dest is a filesystem path for parquet, a catalog table name for iceberg.
    sort_cols: clustering for row-group/file pruning. Both formats get it
    per-write via sortWithinPartitions (this write's files are clustered);
    the DataFrameWriterV2 API cannot register a TABLE-level sort order, so
    on iceberg run `ALTER TABLE <dest> WRITE ORDERED BY (<sort_cols>)` once
    after creation to make the clustering binding for OTHER writers and
    compactions too — without it only writes through this function are
    clustered.

    coalesce: target file count for SMALL dictionary-shaped tables (guide
    §6 small-files). A row-count-derived target (the caller computes it from
    data size, never from cluster size) keeps a point/IN lookup from paying
    one scan task per shuffle partition: an AQE-coalesced agg still emits
    >= defaultParallelism files (parallelismFirst), and N hash-partitioned
    sorted files overlap in key range so none can be file-pruned. coalesce
    happens BEFORE sortWithinPartitions, so the merged partitions are
    re-sorted and row-group pruning stays tight."""
    fmt = fmt or table_format()
    if coalesce is not None:
        # coalesce never increases partition count, so this is a no-op when
        # the frame is already at or below the target
        df = df.coalesce(coalesce)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    if fmt == "parquet":
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(dest)
        return
    if fmt == "iceberg":
        _require_iceberg(df.sparkSession)
        w = df.writeTo(dest).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(F.col(partition_by))
        w.createOrReplace()
        return
    raise ValueError(f"unknown table format: {fmt}")


def _driver_local_path(spark, dest: str) -> str | None:
    """dest as a driver-local POSIX path when Hadoop resolves it to the
    local filesystem, else None. The scheme comes from dest itself, or from
    fs.defaultFS when dest has none — the same resolution Spark's own reads
    of dest use, so a scheme-less path on an HDFS/object-store deployment is
    never written to the driver's disk while Spark reads the cluster FS.
    Config-only: no FileSystem is instantiated."""
    jvm = spark._jvm
    uri = jvm.org.apache.hadoop.fs.Path(dest).toUri()
    scheme = uri.getScheme() or jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
        spark._jsc.hadoopConfiguration()
    ).getScheme()
    return uri.getPath() if scheme == "file" else None


def _spark_write_rows(df: DataFrame, dest: str, fmt: str, append: bool) -> None:
    """The Spark-job fallback of the driver-side writers (iceberg, or a
    filesystem the driver can't write with pyarrow)."""
    if not append:
        write_table(df, dest, fmt=fmt)
    elif fmt == "parquet":
        df.write.mode("append").parquet(dest)
    elif fmt == "iceberg":
        _require_iceberg(df.sparkSession)
        if df.sparkSession.catalog.tableExists(dest):
            df.writeTo(dest).append()
        else:
            df.writeTo(dest).using("iceberg").create()
    else:
        raise ValueError(f"unknown table format: {fmt}")


def _struct(schema):
    """A StructType, or a DDL string ("a long, b string") parsed into one."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(schema)
    return schema


def _write_driver_rows(
    spark, rows: list[tuple], schema, dest: str, fmt: str | None, append: bool
) -> None:
    fmt = fmt or table_format()
    schema = _struct(schema)
    local = _driver_local_path(spark, dest) if fmt == "parquet" else None
    if local is None:
        _spark_write_rows(spark.createDataFrame(rows, schema=schema), dest, fmt, append)
        return
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = [
        pa.array([r[i] for r in rows], type=arrow_schema.field(i).type)
        for i in range(len(arrow_schema))
    ]
    table = pa.Table.from_arrays(cols, schema=arrow_schema)
    os.makedirs(local, exist_ok=True)
    if append:
        pq.write_table(table, os.path.join(local, f"part-{uuid.uuid4().hex}.parquet"))
        return
    # a rewrite never leaves the table empty: the rows land in a hidden
    # file (readers skip '.'-names) that replaces part-00000 in one rename,
    # and only then do the previous data files go. A failed write leaves the
    # old table whole (a state sidecar read as absent would silently drop
    # the conf it carries); a temp file it leaves behind goes with the next
    # rewrite.
    final = os.path.join(local, "part-00000.parquet")
    tmp = os.path.join(local, f".part-00000.parquet.{uuid.uuid4().hex}")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    for e in os.scandir(local):
        if e.is_dir():
            shutil.rmtree(e.path)
        elif e.path != final:
            os.remove(e.path)


def write_driver_table(
    spark,
    rows: list[tuple],
    schema,
    dest: str,
    fmt: str | None = None,
) -> None:
    """Write a metadata-scale (few-row) table WITHOUT a Spark job.

    The one-row sidecars (corpus_stats, conf) each cost a createDataFrame +
    single-task write job through the normal path — measured ~0.5-1s of pure
    fixed overhead apiece on local[32], charged to every build. For parquet
    on the driver's local filesystem the driver writes the file directly
    with pyarrow (bit-identical types: the arrow schema is derived from the
    Spark StructType, so spark.read.parquet round-trips the exact same
    values and schema); iceberg and non-local filesystems keep the normal
    write, where for iceberg the commit itself is the metadata operation.

    `schema` may be a StructType or a DDL string ("a long, b string")."""
    _write_driver_rows(spark, rows, schema, dest, fmt, append=False)


# -- the driver-side reader ------------------------------------------------
#
# Opening an index, probing its dictionary and the streaming bookkeeping
# read tables that are driver-sized by construction (one-row sidecars, the
# compaction state, tombstones since the last compact, lineage), or only a
# table's schema. Through Spark each such read is a job: schema inference
# of spark.read.parquet is one, a collect is another — fixed latency the
# size of the read does not set. On a driver-local parquet table neither
# needs one: read_rows reads the rows with pyarrow, and read_table pins the
# schema Spark wrote into the data files' footers. Other filesystems and
# iceberg keep the Spark read.

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# the (column, op, value) filter ops read_rows takes, as Column methods for
# the Spark fallback (pyarrow takes the same tuples)
_SPARK_OPS = {"==": "__eq__", ">": "__gt__"}


def _first_data_file(local: str) -> str | None:
    """One data file of the table at `local` (the first in name order,
    descending into partition dirs), skipping '.'/'_'-hidden entries as
    Spark's listing does; None when there is none."""
    try:
        entries = sorted(os.scandir(local), key=lambda e: e.name)
    except (FileNotFoundError, NotADirectoryError):
        return None
    for e in entries:
        if e.name.startswith((".", "_")):
            continue
        found = _first_data_file(e.path) if e.is_dir() else e.path
        if found is not None:
            return found
    return None


def footer_schema(spark, dest: str):
    """The Spark schema (StructType, partition columns excluded) written
    into one data file's footer of parquet table `dest`, read on the
    driver. This is the schema spark.read.parquet infers, with a job, from
    that same footer. None when dest is not driver-local, has no data file,
    or its footer carries no Spark schema (files written by pyarrow)."""
    local = _driver_local_path(spark, dest)
    path = _first_data_file(local) if local is not None else None
    if path is None:
        return None
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    js = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(js)) if js else None


def read_table(spark, dest: str, fmt: str | None = None) -> DataFrame:
    """Open an index table lazily. A parquet table opens with its schema
    pinned from footer_schema, which skips Spark's one-job schema
    inference; without such a footer Spark infers it. Opening still lists
    the table's files (a listing job above Spark's parallel-discovery
    threshold of 32 directories)."""
    fmt = fmt or table_format()
    if fmt == "parquet":
        pinned = footer_schema(spark, dest)
        reader = spark.read if pinned is None else spark.read.schema(pinned)
        return reader.parquet(dest)
    if fmt == "iceberg":
        return spark.read.table(dest)
    raise ValueError(f"unknown table format: {fmt}")


def driver_files(table: DataFrame, fmt: str | None = None) -> tuple[str, ...] | None:
    """The data files Spark's file index listed when parquet `table` was
    opened, as driver-local paths; None for iceberg, for no files, or when
    any file is elsewhere. A read of exactly these files sees what the
    DataFrame scans: once a later commit replaced them it fails on the
    missing files, as the DataFrame's scan does, instead of reading the
    newer table. Metadata-only: no Spark job."""
    if (fmt or table_format()) != "parquet":
        return None
    from urllib.parse import unquote, urlparse

    files = [urlparse(f) for f in table.inputFiles()]
    if not files or any(u.scheme != "file" for u in files):
        return None
    return tuple(unquote(u.path) for u in files)


def local_rows(source, columns=None, filters=None, schema=None) -> list[dict]:
    """Rows of a driver-local parquet table, read with pyarrow: `source` is
    the table's directory (hive partition dirs become columns) or a list of
    its data files. `filters` is a conjunction of (column, op, value) tuples
    pushed into the scan (row-group statistics prune). `schema` (Spark
    StructType or DDL) is the schema to cast every file to, for tables whose
    files were written by different writers."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if schema is not None:
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(_struct(schema))
    data = ds.dataset(
        source, schema=schema, format="parquet",
        partitioning="hive" if isinstance(source, str) else None,
    )
    expr = pq.filters_to_expression(filters) if filters else None
    return data.to_table(columns=columns, filter=expr).to_pylist()


def read_rows(
    spark, dest: str, columns=None, filters=None, *, schema=None,
    fmt: str | None = None,
) -> list[dict]:
    """The rows (as dicts) of a driver-sized table WITHOUT a Spark job:
    local_rows when dest is driver-local parquet, else the Spark read and a
    collect (a non-local fs.defaultFS, iceberg). `columns`, `filters` and
    `schema` as local_rows; the Spark read applies the same filters and
    infers the schema."""
    fmt = fmt or table_format()
    local = _driver_local_path(spark, dest) if fmt == "parquet" else None
    if local is not None:
        return local_rows(local, columns, filters, schema)
    from pyspark.sql import functions as F

    df = read_table(spark, dest, fmt)
    for col, op, value in filters or ():
        df = df.filter(getattr(F.col(col), _SPARK_OPS[op])(value))
    if columns is not None:
        df = df.select(*columns)
    return [r.asDict() for r in df.collect()]


def append_driver_rows(
    spark,
    rows: list[tuple],
    schema,
    dest: str,
    fmt: str | None = None,
) -> None:
    """Append a metadata-scale (few-row) batch WITHOUT a Spark job.

    The streaming sidecars (lineage, _epoch_map, compactions) append one row
    per micro-batch through createDataFrame + a single-task write job —
    pure fixed job latency on the ingest path. For parquet on the driver's
    local filesystem the driver appends a uniquely-named file with pyarrow
    (same arrow-schema derivation as write_driver_table, so
    spark.read.parquet sees one coherent table); iceberg and non-local
    filesystems keep an ordinary Spark append in that format. The
    single-writer workdir contract makes the non-transactional file add
    safe.

    `schema` may be a StructType or a DDL string ("a long, b string")."""
    _write_driver_rows(spark, rows, schema, dest, fmt, append=True)
