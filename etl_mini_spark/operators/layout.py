"""Multi-column data layout: Z-order (Morton) clustering for scan
pruning.

`write_sorted_for_skipping` (sources/writers.py) clusters on ONE
column; at 100 TB most scan predicates hit TWO (customer AND date
range, tenant AND time). Sorting on (a, b) prunes a but scatters b;
interleaving the bits of both (the Z-order / Morton curve, Morton
1966 — the layout behind Delta/Iceberg OPTIMIZE ZORDER) gives every
file a narrow range of BOTH columns, so parquet min/max stats prune
on either predicate.

Everything here is integer bit math on longs — whole-stage codegen,
no shuffle beyond the final range partition, and exactly reproducible
in any engine (the DuckDB oracle replays the same shifts; max shift is
2*bits-1 = 19 « 63, safely inside BIGINT)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_mini_spark.sources.writers import write_parquet


def morton_code(x: Column, y: Column, bits: int = 10) -> Column:
    """Interleave the low ``bits`` bits of two non-negative long
    columns into a single Z-value: x occupies even bit positions, y
    odd. Inputs are masked to ``bits`` bits first, so callers can pass
    raw keys."""
    mask = (1 << bits) - 1
    xm, ym = x.bitwiseAND(F.lit(mask)), y.bitwiseAND(F.lit(mask))
    z = None
    for i in range(bits):
        xt = F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        yt = F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        t = xt.bitwiseOR(yt)
        z = t if z is None else z.bitwiseOR(t)
    return z


def morton_sql(x: str, y: str, bits: int = 10) -> str:
    """The identical interleave as a SQL expression (DuckDB/ANSI) —
    used by the differential oracle so both engines compute the same
    Z-values bit for bit."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"(((({x}) & {mask}) >> {i} & 1) << {2 * i})")
        terms.append(f"(((({y}) & {mask}) >> {i} & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: Column,
    y_col: Column,
    bits: int = 10,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the Z-order of (x_col, y_col): range-
    partition on the Morton code so each output file covers a disjoint
    Z-range (≈ a small rectangle in (x, y) space), then sort within
    partitions so row groups inherit the locality. Scans filtering on
    EITHER column then skip most files via parquet min/max stats —
    the two-column generalization of write_sorted_for_skipping."""
    z = morton_code(x_col, y_col, bits).alias("__z")
    out = df.withColumn("__z", z)
    out = out.repartitionByRange(
        *([num_files] if num_files else []), F.col("__z")
    ).sortWithinPartitions("__z")
    write_parquet(out.drop("__z").write.mode(mode), path)


def exact_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rn",
    n_parts: int = 32,
    with_total: bool = False,
):
    """Exact 1-based global row number over a STRICT total order
    without a single-partition window.

    ``Window.orderBy(...)`` with no PARTITION BY funnels every row into
    one task — fine for calendar-bounded series, fatal on a fact table
    at 100 TB. This is the distributed replacement: rows are bucketed
    by a PURE FUNCTION of the leading order column (quantile-derived
    cut points embedded as literals — deterministic across plan
    re-evaluations, unlike spark_partition_id under AQE coalescing,
    and row-balanced even on heavy-tailed domains where linear min/max
    interpolation would park everything in bucket 0), ranked within
    each bucket by a partitioned window, and shifted by per-bucket
    offsets from a #buckets-row driver gather. Exact for any bucket
    placement because bucketing is monotone in the leading column and
    the within-bucket order completes the strict total order (include
    a unique tiebreak column).

    Two tiny extra jobs (quantile cuts + bucket counts) buy removal of
    the single-partition exchange; used by the equi-depth histogram and
    quantile_disc entries. The leading order column must be numeric.
    NULL leading values occupy bucket -1 and rank FIRST, matching the
    asc-nulls-first order of the window this replaces.

    ``with_total=True`` returns ``(ranked_df, total_rows)`` instead —
    the total comes from the same single aggregate job that derives the
    cut points, so callers that need ``count(*)`` (NTILE fill rules,
    integer quantile ranks) get it for free instead of re-deriving it
    with a second scan-and-aggregate subtree in their plan.

    Driver actions: exactly ONE before the caller's own execution —
    a combined (approx-quantile sketch, count(*)) aggregate. The
    per-bucket offsets that used to be a second collected job are now a
    lazy subtree of the final plan: bucket counts → running-sum window
    over the ≤ n_parts+1 count rows → broadcast join. Same scan count,
    one less sequential driver round trip per call (guide §5: bounded
    driver work; the offset table stays #buckets-sized)."""
    from etl_mini_spark.operators.ranks import bucket_expr_from_cuts

    lead = order_cols[0]
    dt = df.schema[lead].dataType
    from pyspark.sql.types import NumericType

    if not isinstance(dt, NumericType):
        # cast("double") of a date/string/timestamp yields NULL, which
        # would silently park every row in bucket -1 and collapse the
        # per-bucket windows into one partition — fail fast instead.
        raise TypeError(f"exact_global_rank requires a numeric leading column; {lead!r} is {dt}")
    probs = [i / n_parts for i in range(1, n_parts)]
    row = df.agg(
        F.percentile_approx(F.col(lead).cast("double"), probs or [0.5], 10000).alias("q"),
        F.count("*").alias("n"),
    ).collect()[0]
    cuts = sorted(set(row["q"])) if (probs and row["q"] is not None) else []
    acc = int(row["n"])
    b = df.withColumn("__b", bucket_expr_from_cuts(lead, cuts))
    # offsets as a lazy #buckets-row subtree: cumulative count of the
    # buckets strictly before each bucket (NULLs live in bucket -1 and
    # therefore rank first, matching asc-nulls-first)
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    omap = (
        b.groupBy("__b")
        .agg(F.count("*").alias("__cnt"))
        .select(
            "__b",
            F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).cast("long").alias("__off"),
        )
    )
    ranked = b.withColumn(
        rank_col, F.row_number().over(Window.partitionBy("__b").orderBy(*order_cols))
    )
    out = (
        ranked.join(F.broadcast(omap), "__b")
        .withColumn(rank_col, (F.col(rank_col) + F.col("__off")).cast("bigint"))
        .drop("__b", "__off")
    )
    return (out, acc) if with_total else out
