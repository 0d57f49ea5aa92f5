"""Event-time window transformations — written against plain DataFrames
so the SAME function body serves batch tables and ``readStream``
inputs (Structured Streaming's core contract). The reference has no
true streaming (SURVEY.md §2.9) — its scroll/chunk pagination maps to
micro-batches; these are the new-build semantics the north star asks
for.

Watermarks bound state: without one, a streaming windowed aggregation
keeps every window open forever. ``late_threshold`` picks how much
event-time disorder is tolerated before a row is dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(df: DataFrame, ts_col: str, late_threshold: str | None) -> DataFrame:
    return df.withWatermark(ts_col, late_threshold) if late_threshold and df.isStreaming else df


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    width: str = "1 hour",
    late_threshold: str | None = "1 hour",
) -> DataFrame:
    df = _maybe_watermark(df, ts_col, late_threshold)
    return (
        df.groupBy(F.window(ts_col, width).alias("w"), *keys)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), *keys, "n")
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    width: str = "1 hour",
    slide: str = "15 minutes",
    late_threshold: str | None = "1 hour",
) -> DataFrame:
    df = _maybe_watermark(df, ts_col, late_threshold)
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"), *keys)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), *keys, "n")
    )


def sessionized(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    gap: str = "30 minutes",
    late_threshold: str | None = "1 hour",
) -> DataFrame:
    """Session windows (gap-merged). State per open session, closed by
    the watermark in streaming mode."""
    df = _maybe_watermark(df, ts_col, late_threshold)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count("*").alias("n"), F.min(ts_col).alias("first_event"))
        .select(F.col("w.start").alias("session_start"), *keys, "n", "first_event")
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    late_threshold: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon. Batch mode
    falls back to plain dropDuplicates (whole-input horizon)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, late_threshold).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    late_threshold: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition (ST7):
    right-side events within [left_ts, left_ts + max_delay] per key —
    e.g. purchases attributed to the click they followed.

    Both sides carry a watermark, and the join condition bounds
    right_ts relative to left_ts, so Spark derives a state-eviction
    horizon for BOTH buffers: state is O(events inside
    watermark + max_delay), not O(stream). Inner join semantics make
    the eventual output equal to the batch interval join — the batch
    twin is exact SQL, so the oracle is a plain interval join. Caller
    must pre-disambiguate column names (distinct key/ts names per
    side).

    ``how="leftOuter"`` emits null-padded rows for unmatched left
    events — but only once the WATERMARK passes a row's eviction
    point. Left rows inside the final watermark window of a bounded
    (AvailableNow) run therefore never flush their null match; to get
    batch-equal output on a bounded source, advance the watermark past
    the data with a sentinel row on both streams and drop it afterward
    (see queries/round8_ops.stream_interval_join_outer)."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"stream_interval_join: overlapping columns {sorted(overlap)}")
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"stream_interval_join: how must be inner|leftOuter, got {how!r}")
    l = left.withWatermark(left_ts, late_threshold)
    r = right.withWatermark(right_ts, late_threshold)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how)
