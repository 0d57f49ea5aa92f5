"""Source readers — the reference's extraction services re-expressed as
schema-explicit Spark reads.

- ``source_exists`` ≡ the existence gates (reference:
  elasticsearch_service.py:89-96, s3_service.py:79-92, and the
  warn-or-fail wiring in both standard pipelines).
- ``read_csv`` ≡ the S3 chunked CSV scan with rename/type maps
  (s3_service.py:155-184): chunks become partitions, rename maps become
  aliased selects, ``errors="coerce"`` casts become try_* functions.
  UTF-8 BOM is handled by the reader (≡ _process_csv_binary,
  s3_service.py:133-144).
- ``read_ndjson`` ≡ parse_json_lines input (data_processing.py:18-60).

Explicit schemas everywhere: schema inference is a full extra pass over
the data at 100 TB and can silently drift between runs. Parquet carries
its schema in the file footers, so ``read_parquet`` infers it once per
table version instead of once per read: the inferred schema is cached
per local path with the fingerprint (name, mtime_ns, size) of the files
Spark would scan, and a changed fingerprint re-infers. A table the
engine itself rewrites through ``sources.fs.replace_parquet`` gets its
entry from the writer (``written_entry``), so it is never re-inferred.
Remote paths (``s3a://``, ``hdfs://``) are not listed and infer on every
read.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.session import scoped_confs


class SourceMissingError(Exception):
    """≡ the reference's fail_on_missing pipeline gate."""


def source_exists(spark: SparkSession, path: str) -> bool:
    """Driver-side existence probe — cheap, runs before any job."""
    if "://" not in path or path.startswith("file://"):
        return Path(path.removeprefix("file://")).exists()
    # Generic Hadoop FS probe for object stores / HDFS.
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def require_source(spark: SparkSession, path: str, fail_on_missing: bool = True) -> bool:
    """Existence gate: raise (fail_on_missing) or report False so the
    pipeline can skip WITHOUT advancing its checkpoint (see
    plans/checkpoint.py — reference standard_pipeline.py:20-23,73-79)."""
    if source_exists(spark, path):
        return True
    if fail_on_missing:
        raise SourceMissingError(f"source not found: {path}")
    return False


def _apply_type_map(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """Coercing casts: unparseable values become NULL, not errors
    (≡ pd.to_datetime(..., errors='coerce') + nullable-string handling,
    s3_service.py:171-182)."""
    for col, typ in type_map.items():
        if col not in df.columns:
            continue
        if typ in ("timestamp", "datetime64[ns]"):
            df = df.withColumn(col, F.try_to_timestamp(F.col(col)))
        elif typ in ("bool", "boolean"):
            df = df.withColumn(col, F.lower(F.col(col)).cast("boolean"))
        elif typ == "str":
            # empty string → NULL (s3_service.py:179-180)
            df = df.withColumn(col, F.nullif(F.col(col).cast("string"), F.lit("")))
        else:
            df = df.withColumn(col, F.expr(f"try_cast({col} AS {typ})"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    rename_map: dict[str, str] | None = None,
    type_map: dict[str, str] | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with rename + coercing-cast maps. The reader consumes
    UTF-8 BOM when present; partitions replace the reference's 10k-row
    chunks and Catalyst prunes/pushes into the scan."""
    reader = spark.read.option("header", header).option("encoding", "UTF-8")
    df = reader.schema(schema).csv(path) if schema is not None else reader.csv(path)
    if rename_map:
        df = df.withColumnsRenamed(rename_map)
    if type_map:
        df = _apply_type_map(df, type_map)
    return df


def read_ndjson(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JSON-Lines reader (schema strongly recommended at scale)."""
    reader = spark.read
    return reader.schema(schema).json(path) if schema is not None else reader.json(path)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# path -> (fingerprint, Spark's inferred schema, TIMESTAMP(NANOS) columns).
# Entries are replaced whole and the fingerprint is taken before the
# inference, so an entry is never newer than its schema and concurrent
# readers need no lock: a racing rewrite only causes one more miss.
_FOOTERS: dict[str, tuple[tuple, T.StructType, list[str]]] = {}


def _local_root(path: str) -> Path | None:
    """The local filesystem path of ``path`` (plain or ``file://``), or
    None for a remote one, which the cache does not cover."""
    if "://" in path and not path.startswith("file://"):
        return None
    return Path(path.removeprefix("file://"))


def _hidden(name: str) -> bool:
    """Spark's listing rule: ``_SUCCESS``, ``.crc`` and other ``_``/``.``
    names are not data; ``_`` names holding ``=`` are partition dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(root: Path) -> list[str]:
    """The files Spark would scan for ``root``: the file itself, or every
    non-hidden file under a table directory (partition dirs included)."""
    if not root.is_dir():
        return [str(root)]
    files = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not _hidden(n)]
        files += [os.path.join(d, n) for n in names if not _hidden(n)]
    return sorted(files)


def _fingerprint(files: list[str]) -> tuple:
    """(name, mtime_ns, size) of every data file: any rewrite, added or
    removed file changes it. Raises FileNotFoundError for a missing
    path, before any Spark call."""
    return tuple((f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)])


def _nullable(t: T.DataType) -> T.DataType:
    """The type Spark infers for a column it wrote to parquet as ``t``:
    file sources read every field, element and map value nullable.
    Types are kept, TIMESTAMP_NTZ too: Spark's own schema in the footer
    wins over the LTZ read of ``_force_ltz_timestamps``."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def written_entry(stage: str, path: str, schema: T.StructType):
    """The schema-cache entry for a table Spark just wrote to ``stage``
    with ``schema``, to be stored under ``path`` once ``stage`` is
    renamed onto it — or None for a remote path.

    The fingerprint is taken from the stage's files under their final
    names, before the rename: a rename keeps mtime and size, and a
    writer racing the swap only makes the fingerprint miss. Spark
    writes no TIMESTAMP(NANOS), so the NANOS list is empty."""
    root, stage_root = _local_root(path), _local_root(stage)
    if root is None or stage_root is None:
        return None
    files = _data_files(stage_root)
    final = [str(root) + f[len(str(stage_root)):] for f in files]
    fingerprint = tuple((name, *st) for name, (_, *st) in zip(final, _fingerprint(files)))
    return fingerprint, _nullable(schema), []


def _nanos_timestamp_cols(file: str) -> list[str]:
    """Top-level columns stored as INT64 TIMESTAMP(NANOS) — Spark cannot
    read those natively (PARQUET_TYPE_ILLEGAL); we read them as long
    via the legacy conf and convert to µs timestamps ourselves.

    Classified from the parquet schema, not the arrow one: pyarrow also
    reports INT96 (Spark's default timestamp encoding) as
    ``timestamp[ns]``, and Spark reads INT96 natively as TIMESTAMP."""
    import pyarrow.parquet as pq

    schema = pq.read_metadata(file).schema
    cols = []
    for c in (schema.column(i) for i in range(len(schema))):
        logical = json.loads(c.logical_type.to_json())
        if (c.path == c.name and c.physical_type == "INT64"
                and logical.get("Type") == "Timestamp"
                and logical.get("timeUnit") == "nanoseconds"):
            cols.append(c.name)
    return cols


def _force_ltz_timestamps(spark: SparkSession):
    """Read parquet TIMESTAMP(isAdjustedToUTC=false) as session-tz
    TIMESTAMP (LTZ), not TIMESTAMP_NTZ — scoped to the wrapped read.

    The driver-provided testdata stores naive µs timestamps; Spark 4's
    default ``inferTimestampNTZ`` maps those to TIMESTAMP_NTZ, which
    breaks instant-typed functions (``unix_micros``/``window``/
    watermarks) and diverges from the DuckDB oracle's naive-epoch math.
    With the session timezone pinned to UTC (session.load_table), an
    LTZ read of naive data is value-identical to the oracle.

    The conf only drives EAGER schema inference (the DataFrameReader
    resolves parquet footers at ``.parquet()`` time), so set/restore
    around the read is sound AND leaves the caller's session semantics
    untouched for subsequent non-framework ``spark.read.parquet`` calls
    (previously this helper flipped the conf permanently — NTZ data in
    the same session would silently read as LTZ afterwards)."""
    return scoped_confs(spark, {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"})


def _scan(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """The raw parquet scan of ``path`` (TIMESTAMP(NANOS) columns still
    int64) and the names of those columns — see ``read_parquet``."""
    root = _local_root(path)
    if root is None:
        with _force_ltz_timestamps(spark):
            return spark.read.parquet(path), []
    files = _data_files(root)
    fingerprint = _fingerprint(files)
    cached = _FOOTERS.get(path)
    if cached is not None and cached[0] == fingerprint:
        _, schema, ns_cols = cached
        if ns_cols:
            spark.conf.set(_NANOS_AS_LONG, "true")
        return spark.read.schema(schema).parquet(path), ns_cols
    probe = next((f for f in files if f.endswith(".parquet")), files[0] if files else None)
    ns_cols = _nanos_timestamp_cols(probe) if probe else []
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    with _force_ltz_timestamps(spark):
        df = spark.read.parquet(path)
    _FOOTERS[path] = (fingerprint, df.schema, ns_cols)
    return df, ns_cols


def _nanos_to_micros(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """int64 epoch-ns → µs TIMESTAMP with integer DIV (ns epochs overflow
    a double mantissa)."""
    return df.withColumns(
        {c: F.expr(f"timestamp_micros(`{c}` DIV 1000)") for c in ns_cols}
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that reuses the table's inferred schema while its
    files are unchanged, and tolerates TIMESTAMP(NANOS) columns.

    Schema cache: for a local path (plain or ``file://``) the entry is
    keyed by the path string and holds the fingerprint of the files
    Spark would scan — ``(name, mtime_ns, size)`` of the file, or of
    every data file under a table directory — Spark's inferred
    ``StructType`` and the NANOS column list. A matching fingerprint
    reads with ``.schema(cached)``, which runs no Spark job; a missing
    or changed one infers as usual (one footer job) and replaces the
    entry, so a rewritten table is re-inferred and each path keeps one
    entry. A table written through ``sources.fs.replace_parquet`` is
    already cached by the writer, so its first read runs no job either.
    Remote paths (``s3a://``, ``hdfs://``) are not listed and always
    infer.

    TIMESTAMP(NANOS) columns are read as long (legacy conf) and
    converted to µs timestamps. Naive timestamps read as session-tz
    TIMESTAMP, not TIMESTAMP_NTZ (``_force_ltz_timestamps``).

    NOTE: when ns columns are present, ``nanosAsLong`` stays set on the
    session — that conf is consulted at EXECUTION time (not just schema
    inference), so restoring it before the action runs would break the
    deferred scan. It is additive-safe: it only affects parquet files
    that actually contain TIMESTAMP(NANOS), which Spark cannot read at
    all without it."""
    return _nanos_to_micros(*_scan(spark, path))


def read_parquet_ts_range(
    spark: SparkSession,
    path: str,
    ts_col: str,
    start=None,
    end=None,
) -> DataFrame:
    """Half-open time-range scan ``[start, end)`` with the predicate
    PUSHED INTO the parquet scan; otherwise reads exactly as
    ``read_parquet`` (same schema cache, same timestamp types).

    A filter applied after the ns→µs conversion wraps the column in
    ``timestamp_micros(... DIV 1000)`` — Catalyst cannot push that
    through, so every row group gets read. Here the bound is applied to
    the RAW int64 nanosecond value before conversion, so parquet
    row-group min/max statistics prune unread data — the difference
    between scanning a day and scanning 100 TB on a time-partitioned
    fact table. For regular (µs) timestamp columns the plain filter
    already pushes down and this degrades to exactly that."""
    def _ns(dt) -> int:
        # PySpark's own literal conversion (a naive bound is local
        # time, as ``F.lit`` reads it on the µs path), in integers
        return T.TimestampType().toInternal(dt) * 1000

    df, ns_cols = _scan(spark, path)
    bound = _ns if ts_col in ns_cols else (lambda v: v)
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(bound(start)))
    if end is not None:
        df = df.filter(F.col(ts_col) < F.lit(bound(end)))
    return _nanos_to_micros(df, ns_cols)
