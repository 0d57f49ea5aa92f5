"""Sink writers.

- ``write_parquet`` owns the on-disk format of every parquet table the
  engine writes: zstd pages and INT64 ``TIMESTAMP(MICROS,
  isAdjustedToUTC=true)`` timestamps. Every batch parquet write of the
  engine goes through it (the stage-swap of ``sources.fs``, the
  pipeline's ``parquet`` sink and the layouts below, ``operators``'
  Z-order and IVF layouts); the streaming file sink does not.
- ``write_run_layout`` ≡ the reference's timestamped put + ``latest``
  pointer (s3_service.py:44-61): each run lands in an immutable
  ``{base}/{epoch}`` directory and ``latest`` is repointed atomically
  via a tiny manifest file — readers resolve the manifest, never a
  half-written directory.
- ``write_partitioned_by_type_date`` ≡ parse_json_lines' grouping
  ``{type: {date: [records]}}`` (data_processing.py:18-60) as a
  partitioned layout: partition pruning makes per-(type, date) access
  O(selected partitions) instead of a full scan.
- ``write_ndjson`` ≡ the NDJSON writer (s3_service.py:146-153).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from etl_mini_spark.session import scoped_confs


def write_parquet(writer: DataFrameWriter, path: str) -> None:
    """Save ``writer`` (its mode, partitioning and rows) as parquet at
    ``path`` in the engine's one table format.

    - zstd pages (``compression=zstd``): part files are named
      ``*.zstd.parquet``;
    - INT64 ``TIMESTAMP(MICROS, isAdjustedToUTC=true)`` timestamps
      (``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``) in
      place of Spark's legacy 12-byte INT96. TIMESTAMP_NTZ columns stay
      INT64 ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``.

    Together they write an upsert target in about 60% of the bytes of
    Spark's defaults (snappy, INT96). Spark reads the timestamps back
    as TIMESTAMP, as it read INT96; DuckDB and pyarrow read them as
    UTC-adjusted (``TIMESTAMP WITH TIME ZONE``,
    ``timestamp[us, tz=UTC]``) with the same epoch microseconds. The
    size rule of ``session.static_partitions`` reads file bytes, so it
    sees fewer of them for a table written here (14% fewer for
    lineitem, 42% for events at sf0.01).

    Spark reads the timestamp conf when it prepares the write, so it is
    set only around the write (:func:`session.scoped_confs`), as
    ``readers._force_ltz_timestamps`` scopes its read conf: the
    session's own writes keep their setting."""
    conf = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    with scoped_confs(writer._spark, conf):
        writer.option("compression", "zstd").parquet(path)


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_run_layout(df: DataFrame, base_path: str, fmt: str = "parquet") -> str:
    """Write an immutable run directory + repoint ``latest``.

    Returns the run path. The pointer is a one-line JSON manifest
    (rename-atomic on any filesystem) rather than a copied dataset —
    copying the data (what the reference does) doubles write volume,
    which matters at TB-scale sinks."""
    from etl_mini_spark.sources.fs import fs_write_text

    run_id = str(int(time.time() * 1000))
    run_path = f"{base_path}/{run_id}"
    writer = df.write.mode("error")
    if fmt == "parquet":
        write_parquet(writer, run_path)
    else:
        writer.format(fmt).save(run_path)
    fs_write_text(  # Hadoop FS API: works on file://, hdfs://, s3a://
        df.sparkSession,
        f"{base_path}/latest.json",
        json.dumps({"latest": run_path, "format": fmt, "run_id": run_id}),
    )
    return run_path


def resolve_latest(spark, base_path: str, retries: int = 3) -> DataFrame:
    """Read the dataset the ``latest`` manifest points at.

    Retries a missing manifest a few times: on filesystems where the
    manifest swap degrades to delete+rename (no overwrite-rename
    support — see fs.fs_write_text) a reader can race into the
    sub-millisecond window between the two; a short retry converts that
    into reading the fresh pointer."""
    import time

    from etl_mini_spark.sources.fs import fs_read_text

    last_err: Exception | None = None
    for attempt in range(retries + 1):
        try:
            m = json.loads(fs_read_text(spark, f"{base_path}/latest.json"))
            break
        except Exception as exc:  # py4j wraps FileNotFoundException
            if "FileNotFound" not in type(exc).__name__ + str(exc):
                raise
            last_err = exc
            if attempt < retries:
                time.sleep(0.05 * (attempt + 1))
    else:
        raise last_err
    return spark.read.format(m["format"]).load(m["latest"])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sorted) managed table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — the per-bucket co-location replaces the
    Exchange. At 100 TB this turns the nightly fact⋈dim or fact⋈fact
    join from the dominant shuffle into a local zip per bucket; the
    one-time bucketing cost amortizes over every downstream join/agg on
    that key.

    Overwrite is made idempotent across sessions: a managed table whose
    catalog entry died with a previous session can leave its warehouse
    directory behind, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS — so the table AND any orphaned location
    are dropped first."""
    from etl_mini_spark.sources.fs import fs_delete, fs_exists

    spark = df.sparkSession
    if mode == "overwrite":
        if spark.catalog.tableExists(table):
            # DROP removes a managed table's directory itself; an
            # external table's data is intentionally preserved by DROP —
            # never blind-delete a location a live catalog entry owns.
            spark.sql(f"DROP TABLE {table}")
        else:
            # Orphaned warehouse dir from a session that died before its
            # catalog entry persisted. Compute the DEFAULT managed
            # location for this name (db.tbl lives at warehouse/db.db/tbl,
            # not warehouse/db.tbl) and clear it only because no catalog
            # entry exists to claim it.
            parts = table.lower().split(".")
            if len(parts) == 2:
                db, tbl = parts
            else:
                db, tbl = spark.catalog.currentDatabase().lower(), parts[-1]
            wh = spark.conf.get("spark.sql.warehouse.dir")
            loc = f"{wh}/{tbl}" if db == "default" else f"{wh}/{db}.db/{tbl}"
            if fs_exists(spark, loc):
                fs_delete(spark, loc)
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_partitioned_by_type_date(
    df: DataFrame,
    path: str,
    type_col: str,
    ts_col: str,
    mode: str = "overwrite",
) -> None:
    """Partition by (type, date(ts)) — the grouped-file layout. Sized
    for scale: one directory per (type, day); writers per partition are
    bounded by repartitioning on the partition keys first so each task
    writes one file per partition instead of cores × partitions files."""
    out = df.withColumn("__date", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
    write_parquet(
        out.repartition(F.col(type_col), F.col("__date"))
        .write.mode(mode)
        .partitionBy(type_col, "__date"),
        path,
    )


def compact_parquet(
    spark,
    path: str,
    target_mb: int = 256,
    sort_col: str | None = None,
) -> int:
    """Compact a parquet dataset's small files into ~``target_mb``
    outputs. Returns the new file count.

    The small-files problem is THE operational failure mode of
    long-running ingest at scale (every micro-batch/upsert leaves
    files; scans then pay per-file open cost and lose row-group
    pruning). Sizing comes from the Hadoop FS content summary (works on
    file://, hdfs://, s3a://); the rewrite goes through the same
    stage-swap as upsert_parquet (``sources.fs.replace_parquet``) so
    readers never see a half-compacted dataset. With ``sort_col`` the
    rewrite also range-sorts (see write_sorted_for_skipping) so
    compaction doubles as a clustering pass. A table within the bound
    of ``session.static_partitions`` is written as at most that many
    files, which can be fewer than ``target_mb`` asks for.

    The table is read through ``readers.read_parquet``, so compaction
    keeps the column types every engine read sees: a naive timestamp
    stays TIMESTAMP (not TIMESTAMP_NTZ) and a TIMESTAMP(NANOS) column
    becomes a µs TIMESTAMP (not its raw epoch nanoseconds as bigint);
    it is written back in the format of :func:`write_parquet`."""
    import math

    from etl_mini_spark.sources.fs import _fs_and_path, replace_parquet
    from etl_mini_spark.sources.readers import read_parquet

    def compacted(exists: bool) -> DataFrame:
        fs, p = _fs_and_path(spark, path)
        size_bytes = fs.getContentSummary(p).getLength()
        n_files = max(1, math.ceil(size_bytes / (target_mb * 1024 * 1024)))
        df = read_parquet(spark, path)
        if sort_col is not None:
            return df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(sort_col)
        return df.repartition(n_files)

    replace_parquet(spark, path, compacted)
    fs, p = _fs_and_path(spark, path)
    return sum(
        1 for s in fs.listStatus(p) if s.getPath().getName().startswith("part-")
    )


def write_sorted_for_skipping(
    df: DataFrame, path: str, sort_col: str, num_files: int | None = None, mode: str = "overwrite"
) -> None:
    """Range-partition + sort-within-partitions on ``sort_col`` before
    writing, so every file (and row group) covers a NARROW, disjoint
    range of the column — parquet min/max stats then let any engine
    skip whole files for selective predicates. The standard clustering
    move for time- or key-ranged scans at 100 TB (single-column
    Z-order degenerate case)."""
    out = df.repartitionByRange(
        *( [num_files] if num_files else [] ), F.col(sort_col)
    ).sortWithinPartitions(sort_col)
    write_parquet(out.write.mode(mode), path)
