"""Declarative pipeline spec — the reference's kwargs-IR (runner
sections init/check_exists/extract/load in
internal_raw_to_dwh/standard_pipeline.py:44-57 and the runner registry
scripts/runs/internal_raw_to_dwh.py:45-49) restated as validated
dataclasses over ONE lazy Spark plan.

The reference executes eagerly per batch; here every transform is a
DataFrame → DataFrame function appended to the logical plan, so
Catalyst sees the whole pipeline at once (filter pushdown through to
the scan, column pruning across stages). The transform registry is
closed, like the UDF registry: specs name vetted ops only.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_spark.functions.registry import (
    AdditionalField,
    FunctionRegistry,
    apply_additional_fields,
    default_registry,
)
from etl_mini_spark.operators.dedup import ordered_dedup
from etl_mini_spark.operators.upsert import upsert_parquet
from etl_mini_spark.plans.checkpoint import CheckpointTable
from etl_mini_spark.session import coalesce_small, static_plan
from etl_mini_spark.sources.readers import read_csv, read_ndjson, read_parquet, require_source
from etl_mini_spark.sources.writers import (
    write_parquet, write_partitioned_by_type_date, write_run_layout,
)


@dataclass
class SourceSpec:
    path: str
    format: str = "parquet"  # parquet | csv | ndjson
    schema: Any = None
    rename_map: dict[str, str] | None = None
    type_map: dict[str, str] | None = None
    fail_on_missing: bool = True


@dataclass
class SinkSpec:
    path: str
    format: str = "parquet"  # parquet | ndjson | run_layout | partitioned | upsert
    mode: str = "overwrite"
    upsert_keys: list[str] | None = None
    partition_type_col: str | None = None
    partition_ts_col: str | None = None


@dataclass
class PipelineSpec:
    name: str
    source: SourceSpec
    sink: SinkSpec
    transforms: list[dict[str, Any]] = field(default_factory=list)
    # half-open incremental window on this column (reference
    # elastic_query_model.py:25-36); None → full snapshot
    incremental_ts_col: str | None = None
    window_end: datetime | None = None
    checkpoint_path: str | None = None


def _t_filter(df: DataFrame, expr: str) -> DataFrame:
    return df.filter(expr)


def _t_select(df: DataFrame, columns: list[str], require_all: bool = False) -> DataFrame:
    missing = [c for c in columns if c not in df.columns]
    if missing and require_all:
        raise ValueError(f"missing required columns: {missing}")
    return df.select(*[c for c in columns if c in df.columns])


def _t_rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(mapping)


def _t_constants(df: DataFrame, values: dict[str, Any]) -> DataFrame:
    for k, v in values.items():
        df = df.withColumn(k, F.lit(v))
    return df


def _t_dedup(df: DataFrame, dedup_by: list[str], order_by: list[str]) -> DataFrame:
    return ordered_dedup(df, dedup_by, order_by)


def _t_drop_null(df: DataFrame, columns: list[str]) -> DataFrame:
    return df.na.drop(subset=columns)


def _t_time_derive(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    from etl_mini_spark.functions.time_fns import derive_time_parts

    return derive_time_parts(df, ts_col, prefix)


def _t_additional_fields(
    df: DataFrame, specs: list[dict[str, Any]], registry: FunctionRegistry
) -> DataFrame:
    parsed = [AdditionalField(**s) for s in specs]
    return apply_additional_fields(df, parsed, registry)


TRANSFORMS: dict[str, Callable[..., DataFrame]] = {
    "filter": _t_filter,
    "select": _t_select,
    "rename": _t_rename,
    "constants": _t_constants,
    "ordered_dedup": _t_dedup,
    "drop_null": _t_drop_null,
    "time_derive": _t_time_derive,
    "additional_fields": _t_additional_fields,
}


def build_plan(
    spark: SparkSession,
    spec: PipelineSpec,
    registry: FunctionRegistry | None = None,
    window_start=None,
) -> DataFrame:
    """Source + transforms as one lazy plan (no execution).

    A source that ``session.static_partitions`` gives one partition (a
    small window) is coalesced to one partition before any transform
    (``session.coalesce_small``): the parquet readers do it themselves,
    and a csv or ndjson source is coalesced here. One partition
    satisfies every clustered distribution, so the window's
    ``ordered_dedup`` and aggregates plan no exchange in the sink's
    write, the upsert's one-partition merge included. The rule reads
    plan statistics only: with the source's schema cached, building
    the plan runs no Spark job."""
    src = spec.source
    incremental = spec.incremental_ts_col and spec.window_end is not None
    if src.format == "parquet":
        if incremental:
            # Bounds applied inside the reader so they reach the parquet
            # scan even for TIMESTAMP(NANOS) columns (row-group pruning).
            from etl_mini_spark.sources.readers import read_parquet_ts_range

            df = read_parquet_ts_range(
                spark, src.path, spec.incremental_ts_col,
                start=window_start, end=spec.window_end,
            )
            incremental = False
        else:
            df = read_parquet(spark, src.path)
    elif src.format == "csv":
        df = coalesce_small(read_csv(spark, src.path, src.schema, src.rename_map, src.type_map))
    elif src.format == "ndjson":
        df = coalesce_small(read_ndjson(spark, src.path, src.schema))
    else:
        raise ValueError(f"unknown source format: {src.format}")

    if incremental:
        c = F.col(spec.incremental_ts_col)
        cond = c < F.lit(spec.window_end)
        if window_start is not None:
            cond = (c >= F.lit(window_start)) & cond
        df = df.filter(cond)

    registry = registry or default_registry()
    for t in spec.transforms:
        t = dict(t)
        op = t.pop("op")
        if op not in TRANSFORMS:
            raise ValueError(f"unknown transform {op!r} (allowed: {sorted(TRANSFORMS)})")
        if op == "additional_fields":
            df = TRANSFORMS[op](df, t.pop("specs"), registry)
        else:
            df = TRANSFORMS[op](df, **t)
    return df


def write_sink(spark: SparkSession, df: DataFrame, sink: SinkSpec) -> None:
    """Write ``df`` to the sink. The file sinks write under
    ``session.static_plan``, so a small window is one static plan, not
    one AQE job per exchange; the upsert sink's stage-swap
    (``sources.fs.replace_parquet``) applies the same rule to its
    merged plan and writes a small merge as one file."""
    if sink.format == "upsert":
        upsert_parquet(spark, sink.path, df, keys=sink.upsert_keys)
        return
    write = {
        "parquet": lambda: write_parquet(df.write.mode(sink.mode), sink.path),
        "ndjson": lambda: df.write.mode(sink.mode).json(sink.path),
        "run_layout": lambda: write_run_layout(df, sink.path),
        "partitioned": lambda: write_partitioned_by_type_date(
            df, sink.path, sink.partition_type_col, sink.partition_ts_col, sink.mode
        ),
    }.get(sink.format)
    if write is None:
        raise ValueError(f"unknown sink format: {sink.format}")
    with static_plan(df):
        write()


def _instant(dt: datetime) -> datetime:
    """``dt`` as an aware UTC datetime. A naive one is read in the
    process's local time zone, as PySpark's ``lit`` and ``collect`` do:
    the checkpoint returns a committed end as a naive local time."""
    return dt.astimezone(timezone.utc)


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    registry: FunctionRegistry | None = None,
) -> dict[str, Any]:
    """Existence gate → plan → sink → checkpoint commit.

    Returns a small run report. Skipped runs (missing source,
    fail_on_missing=False) do NOT advance the checkpoint — the
    reference's not-advanced-on-missing rule. A ``window_end`` at or
    before the committed one is skipped too, after the checkpoint read
    and before any Spark job: extracting the empty range and
    committing would move the checkpoint backwards, and the next window
    would load rows again."""
    if not require_source(spark, spec.source.path, spec.source.fail_on_missing):
        return {"status": "skipped", "reason": "source missing", "pipeline": spec.name}

    ckpt = CheckpointTable(spark, spec.checkpoint_path) if spec.checkpoint_path else None
    window_start = ckpt.last_window_end(spec.name) if ckpt and spec.incremental_ts_col else None
    if (window_start is not None and spec.window_end is not None
            and _instant(spec.window_end) <= _instant(window_start)):
        return {"status": "skipped", "reason": "window already committed",
                "pipeline": spec.name, "window_start": window_start,
                "window_end": spec.window_end}

    df = build_plan(spark, spec, registry, window_start=window_start)
    write_sink(spark, df, spec.sink)

    if ckpt and spec.incremental_ts_col and spec.window_end is not None:
        ckpt.commit(spec.name, window_start, spec.window_end)
    return {"status": "ok", "pipeline": spec.name, "window_start": window_start,
            "window_end": spec.window_end}
