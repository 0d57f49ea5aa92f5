"""Incremental aggregate maintenance: mergeable partial-agg state.

The warehouse idiom behind every "refresh the dashboard without
rescanning 100 TB" pipeline: maintain per-key ALGEBRAIC state
(count / sum / min / max / sum-of-squares) that (a) any new data slice
can be folded into with one small merge, and (b) the final metrics —
including avg and sample variance — derive from with no second pass.
This is exactly the partial-aggregation contract Spark's own hash
aggregate uses between map and reduce sides, lifted to a PERSISTED
table boundary so it survives across pipeline runs.

Scale shape: building state over a new slice is one partial-agg
shuffle over that slice only; merging is a groupBy over
|keys-in-state| rows (KB-to-MB, independent of fact size); finalize is
a narrow map. The full-history rescan never happens after bootstrap.

No counterpart in the reference (its metadata table tracks only
last-loaded timestamps, simple_services/postgresql_service.py:117-239);
declared new-build per SURVEY §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-key mergeable state over one data slice."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
        F.sum(v * v).alias("ss"),
    )


def compact_agg_state(pile: DataFrame, keys: list[str]) -> DataFrame:
    """Compact a PILE of partial states (any number of slices' rows,
    e.g. an append-only state directory written by a streaming
    foreachBatch sink) into one row per key — the same merge operators,
    applied once over the whole pile."""
    return pile.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ss").alias("ss"),
    )


def merge_agg_state(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Fold two state tables: union + re-aggregate with each component's
    own merge operator (counts/sums add, min/max combine). Associative
    and commutative, so any number of slices merge in any order."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.sum("ss").alias("ss"),
        )
    )


def finalize_agg_state(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the consumer metrics from state: count, sum, min, max,
    mean, and SAMPLE stddev via the algebraic identity
    var = (ss − s²/n) / (n−1). The subtraction loses ~ulp(s²/n) of
    absolute precision — negligible here (values are O(10²), so the
    cancellation error is ~1e-10 of the variance); callers that need
    exact streaming variance at extreme dynamic range should keep a
    Welford-style M2 in state instead."""
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    # Clamp at 0: for constant-valued keys the cancellation can land a
    # hair below zero and sqrt would return NaN where the direct
    # aggregate returns 0.0 — which would break the proven-equal-to-
    # direct-recompute contract.
    var = F.when(n > 1, F.greatest(F.lit(0.0), (ss - s * s / n) / (n - 1)))
    return state.select(
        *keys,
        n.alias("cnt"),
        s.alias("total"),
        F.col("mn").alias("vmin"),
        F.col("mx").alias("vmax"),
        (s / n).alias("vavg"),
        F.sqrt(var).alias("vstddev"),
    )


def agg_state_welford(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Numerically-robust variant of :func:`agg_state` for extreme
    dynamic range: per-key (n, mean, M2) where M2 = Σ(x − mean)² —
    Welford's accumulator, which never forms the catastrophically
    cancelling ss − s²/n difference."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.avg(v).alias("mean"),
        # Spark's var_samp is itself a stable one-pass; M2 = var·(n−1)
        F.coalesce(F.var_samp(v) * (F.count(v) - 1), F.lit(0.0)).alias("m2"),
    )


def merge_agg_state_welford(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Chan et al. (1979) pairwise merge of (n, mean, M2) states:

        n   = na + nb
        mean = (na·ma + nb·mb) / n
        M2  = M2a + M2b + (mb − ma)² · na·nb / n

    Associative up to float rounding; no ss − s²/n cancellation at any
    magnitude. The pile form uses the DELTA-from-global-mean identity
    M2_tot = Σ M2_i + Σ n_i·(mean_i − mean_tot)²: means are subtracted
    BEFORE squaring, so nothing of magnitude mean² is ever formed.
    (The algebraically equal Σ n·mean² − (Σ n·mean)²/N re-creates the
    naive cancellation one level up — measured NEGATIVE M2 on a 1e9-
    offset series — which is why this takes two passes over the
    |keys|-sized state instead of one.)"""
    pile = a.unionByName(b)
    n, mean = F.col("n"), F.col("mean")
    tot = pile.groupBy(*keys).agg(
        F.sum(n).alias("__tn"), (F.sum(n * mean) / F.sum(n)).alias("__tmean")
    )
    # Null-safe totals join: groupBy keeps NULL-key state groups, so a
    # name-list equi join here would silently drop them on merge while
    # merge_agg_state/compact_agg_state (groupBy-based) keep them —
    # inconsistent null-key semantics within the same state algebra.
    tot_r = tot
    for c in keys:
        tot_r = tot_r.withColumnRenamed(c, "__tot_" + c)
    cond = None
    for c in keys:
        clause = pile[c].eqNullSafe(tot_r["__tot_" + c])
        cond = clause if cond is None else (cond & clause)
    d = mean - F.col("__tmean")
    return (
        pile.join(tot_r, cond)
        .drop(*["__tot_" + c for c in keys])
        .groupBy(*keys)
        .agg(
            F.first("__tn").alias("n"),
            F.first("__tmean").alias("mean"),
            (F.sum("m2") + F.sum(n * d * d)).alias("m2"),
        )
    )


def finalize_agg_state_welford(state: DataFrame, keys: list[str]) -> DataFrame:
    n = F.col("n")
    return state.select(
        *keys,
        n.alias("cnt"),
        F.col("mean").alias("vavg"),
        F.sqrt(F.when(n > 1, F.col("m2") / (n - 1))).alias("vstddev"),
    )
