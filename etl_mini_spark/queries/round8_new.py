"""Round-8 new operators, batch: model-evaluation / feature-engineering
tier. A training-data engine that can BUILD features and splits
(round 7-8: temporal split, feature crosses, imputation, scalers'
cousins) also has to EVALUATE what was trained on them — ranking
metrics, distribution tests, encodings — at corpus scale. Every entry
here is a pure DataFrame plan (no UDFs): ranks, cumulative counts and
decimal-exact sums, so the 100-TB story is one or two keyed shuffles
per query, and the float-parity rules from FIXTURES.md §C apply
(integer/decimal arithmetic end-to-end, one double division at the
finish line, libm calls pre-rounded at 9dp).

Non-vacuity pins live in tests/test_round8_new.py; oracle equivalence
runs through the registry-wide sweep like every other entry.

Contents:
- roc_auc_exact          : exact ROC AUC via the Mann-Whitney rank
                           statistic with midrank tie handling, all in
                           BIGINT until the final division.
- ks_statistic_2sample   : exact two-sample Kolmogorov-Smirnov D (and
                           its location) with the CDF gap kept as the
                           cross-multiplied integer |c1*n2 - c2*n1|.
- lift_gains_deciles     : the gains/lift table model validation reads
                           (cumulative capture and lift per score
                           decile, deterministic ntile order).
- target_encoding_loo    : leave-one-out target encoding with additive
                           smoothing — the leakage-aware categorical
                           encoder; decimal-exact group sums.
- feature_scaler_leakage_safe : z-score + min-max scaler FIT ON TRAIN
                           ONLY, applied to both splits; split-level
                           moments derived algebraically from decimal
                           aggregates (z is linear in x, so avg(z) is
                           computed exactly, not as a float resum).
- class_balance_downsample : deterministic hash-based negative
                           downsampling to rebalance a rare-positive
                           corpus — the narrow (no-shuffle) op every
                           training-set builder runs first.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.operators.sampling import N_BUCKETS, hash_bucket
from etl_mini_spark.queries._base import _t
from etl_mini_spark.queries._base import q as pq

# --- exact ROC AUC -----------------------------------------------------------
# Labels: purchase=1 vs view=0; score carries a planted +25 signal so
# the AUC is real (>0.5), plus the raw value so ties exist only where
# the doubles truly collide. Midranks make the statistic exact under
# ties: mr2 = 2*rank + cnt - 1 is an INTEGER (twice the midrank), so
# the whole numerator stays BIGINT and the only float op is the final
# division — no accumulation-order noise to pin.
_AUC_SQL = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             value + CASE WHEN event_type = 'purchase' THEN 25.0 ELSE 0.0 END AS score
      FROM events WHERE event_type IN ('purchase', 'view')),
    r AS (
      SELECT y,
             2 * rank() OVER (ORDER BY score)
               + count(*) OVER (PARTITION BY score) - 1 AS mr2
      FROM s),
    t AS (
      SELECT CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS pos_mr2
      FROM r)
    SELECT n_pos, n_neg,
           round((pos_mr2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg), 6) AS auc
    FROM t
"""


@pq("roc_auc_exact", _AUC_SQL)
def roc_auc_exact(spark, sf_dir):
    """Exact ROC AUC as the Mann-Whitney U rank statistic: AUC =
    (Σ_pos midrank − n_pos(n_pos+1)/2) / (n_pos·n_neg), with ties
    handled by midranks. Twice-the-midrank (2·rank + tie_count − 1) is
    an integer, so the numerator is exact BIGINT arithmetic and the
    single double division cannot drift between engines. Plan (r11:
    the raw-row rank window became the histogram fold,
    operators/ranks.value_midranks): one keyed agg to the score
    histogram, a cumulative window over the bounded distinct-score
    domain, and a per-(label, score) count fold — the fact rows are
    never globally sorted; no per-pair work, though AUC is defined
    over n_pos·n_neg pairs."""
    from etl_mini_spark.operators.ranks import value_midranks

    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.col("value")
            + F.when(F.col("event_type") == "purchase", F.lit(25.0)).otherwise(F.lit(0.0))
        ).alias("score"),
    )
    gv = s.groupBy("y", "score").agg(F.count("*").cast("bigint").alias("cnt"))
    hv = value_midranks(s, "score")
    r = gv.join(F.broadcast(hv.select("score", "r2")), "score")
    t = r.agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("y") == 0, F.col("cnt")).otherwise(0)).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("y") == 1, F.col("cnt") * F.col("r2")).otherwise(0))
        .cast("bigint").alias("pos_mr2"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("pos_mr2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# --- exact two-sample KS -----------------------------------------------------
# D = max_v |F1(v) - F2(v)|. The gap is kept as the cross-multiplied
# integer |c1*n2 - c2*n1| (exact BIGINT), so the max and its argmin
# location are integer comparisons; the only double op is the final
# D = gap/(n1*n2).
_KS_SQL = """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in1
      FROM events WHERE event_type IN ('purchase', 'view')),
    per_v AS (
      SELECT v, CAST(sum(in1) AS BIGINT) AS a1,
             CAST(count(*) - sum(in1) AS BIGINT) AS a2
      FROM s GROUP BY v),
    c AS (
      SELECT v,
             sum(a1) OVER (ORDER BY v) AS c1,
             sum(a2) OVER (ORDER BY v) AS c2,
             sum(a1) OVER () AS n1, sum(a2) OVER () AS n2
      FROM per_v),
    g AS (
      SELECT v, abs(c1 * n2 - c2 * n1) AS gap, n1, n2 FROM c),
    m AS (
      SELECT v, gap, n1, n2,
             row_number() OVER (ORDER BY gap DESC, v) AS rn
      FROM g)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(gap / (1.0 * n1 * n2), 6) AS ks_d,
           round(v, 6) AS ks_at
    FROM m WHERE rn = 1
"""


@pq("ks_statistic_2sample", _KS_SQL)
def ks_statistic_2sample(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    purchase and view value distributions: D = max_v |F1(v) − F2(v)|
    plus the v where the gap peaks (smallest such v on ties). The CDF
    gap is carried as |c1·n2 − c2·n1| — exact BIGINT — so argmax and
    tie-breaks are integer comparisons and only the final D divides.
    Plan: one hash aggregation per distinct value, one ordered prefix
    sum (at 100 TB: range-partition the value axis and two-pass the
    cumsum, the budget_cap shape), one top-1. The pooled-CDF rewrite
    does no per-pair work."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("in1"),
    )
    per_v = s.groupBy("v").agg(
        F.sum("in1").cast("bigint").alias("a1"),
        (F.count("*") - F.sum("in1")).cast("bigint").alias("a2"),
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = per_v.select(
        "v",
        F.sum("a1").over(wc).alias("c1"),
        F.sum("a2").over(wc).alias("c2"),
        F.sum("a1").over(wall).alias("n1"),
        F.sum("a2").over(wall).alias("n2"),
    )
    g = c.select(
        "v", F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias("gap"), "n1", "n2"
    )
    m = g.withColumn("rn", F.row_number().over(Window.orderBy(F.col("gap").desc(), "v")))
    return m.filter("rn = 1").select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(F.col("gap") / (1.0 * F.col("n1") * F.col("n2")), 6).alias("ks_d"),
        F.round("v", 6).alias("ks_at"),
    )


# --- gains / lift table ------------------------------------------------------
# ntile(10) over a deterministic total order (score DESC, event_id);
# every reported figure is a ratio of exact integer counts, rounded
# once at 6dp.
_GAINS_SQL = """
    WITH s AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             value + CASE WHEN event_type = 'purchase' THEN 25.0 ELSE 0.0 END AS score
      FROM events WHERE event_type IN ('purchase', 'view')),
    d AS (
      SELECT y, ntile(10) OVER (ORDER BY score DESC, event_id) AS decile FROM s),
    a AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
      FROM d GROUP BY decile),
    c AS (
      SELECT decile, n, n_pos,
             sum(n) OVER (ORDER BY decile) AS cum_n,
             sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
             sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos
      FROM a)
    SELECT CAST(decile AS INT) AS decile, n, n_pos,
           round(cum_pos / (1.0 * tot_pos), 6) AS gain,
           round((cum_pos / (1.0 * cum_n)) / (tot_pos / (1.0 * tot_n)), 6) AS lift
    FROM c
"""


@pq("lift_gains_deciles", _GAINS_SQL)
def lift_gains_deciles(spark, sf_dir):
    """Cumulative gains and lift per score decile — the table every
    model-validation report opens with: sort by score, cut into ten
    equal buckets (deterministic ntile order: score DESC, event_id),
    report what share of all positives the top-k deciles capture and
    the lift over the base rate. All figures are ratios of exact
    BIGINT counts rounded once. Plan: one global ntile sort (the same
    range-partitioned two-pass rewrite applies at scale) and one
    10-row aggregate + prefix sum."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.col("value")
            + F.when(F.col("event_type") == "purchase", F.lit(25.0)).otherwise(F.lit(0.0))
        ).alias("score"),
    )
    d = s.select(
        "y", F.ntile(10).over(Window.orderBy(F.col("score").desc(), "event_id")).alias("decile")
    )
    a = d.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("n_pos")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = a.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
    )
    return c.select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "n_pos",
        F.round(F.col("cum_pos") / (1.0 * F.col("tot_pos")), 6).alias("gain"),
        F.round(
            (F.col("cum_pos") / (1.0 * F.col("cum_n")))
            / (F.col("tot_pos") / (1.0 * F.col("tot_n"))),
            6,
        ).alias("lift"),
    )


# --- leave-one-out target encoding -------------------------------------------
# enc_i = (sum_cat − y_i + m·prior) / (n_cat − 1 + m), m = 10.
# Group sums are DECIMAL(18,2) (exact, order-independent); the prior
# and the encoding itself are formed with the same double ops in both
# engines, so the 6dp rounding is display, not a pin.
_TENC_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders),
    g AS (
      SELECT o_orderpriority,
             sum(y) AS sum_cat, CAST(count(*) AS BIGINT) AS n_cat
      FROM base GROUP BY o_orderpriority),
    p AS (
      SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM base)
    SELECT b.o_orderkey, b.o_orderpriority,
           round(
             (CAST(g.sum_cat - b.y AS DOUBLE) + 10.0 * p.prior)
             / (g.n_cat - 1 + 10), 6) AS target_enc
    FROM base b JOIN g USING (o_orderpriority) CROSS JOIN p
    WHERE b.o_orderkey % 37 = 0
"""


@pq("target_encoding_loo", _TENC_SQL)
def target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding of o_orderpriority against
    o_totalprice with additive smoothing (m=10 pseudo-observations of
    the global prior) — the leakage-aware categorical encoder: each
    row's own target is subtracted from its category sum, so the
    feature never memorizes the row it describes. Category sums are
    DECIMAL(18,2) (exact and accumulation-order-free); the encoding is
    the identical double expression in both engines. Plan: one 5-row
    category aggregate broadcast back over the fact table plus a 1-row
    prior — zero wide shuffles on the fact side; the output is
    deterministically thinned (orderkey % 37) to keep the driver
    compare bounded."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("decimal(18,2)").alias("y")
    )
    # the global prior DERIVES from g (5 rows): sum of category sums /
    # sum of counts — identical values
    g = base.groupBy("o_orderpriority").agg(
        F.sum("y").alias("sum_cat"), F.count("*").cast("bigint").alias("n_cat")
    )
    p = g.agg((F.sum("sum_cat").cast("double") / F.sum("n_cat")).alias("prior"))
    return (
        base.filter(F.col("o_orderkey") % 37 == 0)
        .join(F.broadcast(g), "o_orderpriority")
        .crossJoin(F.broadcast(p))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                ((F.col("sum_cat") - F.col("y")).cast("double") + 10.0 * F.col("prior"))
                / (F.col("n_cat") - 1 + 10),
                6,
            ).alias("target_enc"),
        )
    )


# --- leakage-safe feature scaler ---------------------------------------------
# Scaler params (mean/std/min/max) are fit on the TRAIN split only and
# applied to both splits. Because z and minmax are LINEAR in x, every
# split-level statistic of the scaled feature is derived algebraically
# from decimal-exact split aggregates — avg(z) = (mean_split −
# mean_train)/std — so nothing is resummed in float.
_SCALER_SQL = """
    WITH base AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN 'train' ELSE 'test' END AS split,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))
               * CAST(o_totalprice AS DECIMAL(18,2)) AS x2
      FROM orders),
    fit AS (
      SELECT CAST(sum(x) AS DOUBLE) / count(*) AS mu,
             sqrt((CAST(sum(x2) AS DOUBLE) - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) / count(*))
                  / (count(*) - 1)) AS sd,
             CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx
      FROM base WHERE split = 'train'),
    agg AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS mean_split,
             CAST(min(x) AS DOUBLE) AS min_split, CAST(max(x) AS DOUBLE) AS max_split
      FROM base GROUP BY split)
    SELECT a.split, a.n,
           round((a.mean_split - f.mu) / f.sd, 6) AS z_mean,
           round((a.min_split - f.mu) / f.sd, 6) AS z_min,
           round((a.max_split - f.mu) / f.sd, 6) AS z_max,
           round((a.mean_split - f.mn) / (f.mx - f.mn), 6) AS mm_mean
    FROM agg a CROSS JOIN fit f
"""


@pq("feature_scaler_leakage_safe", _SCALER_SQL)
def feature_scaler_leakage_safe(spark, sf_dir):
    """Z-score and min-max scaling with the fit/transform split done
    right: parameters (mean, stddev, min, max of o_totalprice) come
    from the pre-1999 TRAIN rows only, then both splits are scaled
    with those frozen params — the train z-mean is 0 by construction
    and the test z-mean measures drift, which is exactly what a
    leakage-free scaler shows. Sums are DECIMAL (exact) and the scaled
    statistics are derived algebraically from them (z is linear in x),
    so no float accumulates in either engine. Plan: two scalar
    aggregates and a 2-row join — the fact table is scanned twice at
    most, shuffled never."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"), "train")
        .otherwise("test")
        .alias("split"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        (
            F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,4)")
            * F.col("o_totalprice").cast("decimal(18,2)")
        ).alias("x2"),
    )
    fit = base.filter("split = 'train'").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            (
                F.sum("x2").cast("double")
                - F.sum("x").cast("double") * F.sum("x").cast("double") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sd"),
        F.min("x").cast("double").alias("mn"),
        F.max("x").cast("double").alias("mx"),
    )
    agg = base.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("x").cast("double") / F.count("*")).alias("mean_split"),
        F.min("x").cast("double").alias("min_split"),
        F.max("x").cast("double").alias("max_split"),
    )
    return agg.crossJoin(F.broadcast(fit)).select(
        "split",
        "n",
        F.round((F.col("mean_split") - F.col("mu")) / F.col("sd"), 6).alias("z_mean"),
        F.round((F.col("min_split") - F.col("mu")) / F.col("sd"), 6).alias("z_min"),
        F.round((F.col("max_split") - F.col("mu")) / F.col("sd"), 6).alias("z_max"),
        F.round((F.col("mean_split") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6).alias(
            "mm_mean"
        ),
    )


# --- deterministic class rebalancing -----------------------------------------
_REBALANCE_SQL = f"""
    WITH kept AS (
      SELECT event_type FROM events
      WHERE event_type = 'purchase'
         OR (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':cb'), 1, 15))
                  AS BIGINT) % {N_BUCKETS}) < {N_BUCKETS // 4}),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM kept)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
           round(count(*) / (1.0 * t.total), 6) AS kept_share
    FROM kept CROSS JOIN t
    GROUP BY event_type, t.total
"""


@pq("class_balance_downsample", _REBALANCE_SQL)
def class_balance_downsample(spark, sf_dir):
    """Class rebalancing by deterministic negative downsampling: keep
    every positive (purchase) and a 25% hash-sample of everything
    else — the first pass any rare-positive training-set build runs.
    The keep decision is the registry's md5-bucket uniform on
    event_id, so the sample is identical on any engine and any
    partitioning (df.sample's seed is partition-dependent — unusable
    as a contract). Plan: a NARROW filter (no shuffle at all) followed
    by a 5-row aggregate; at 100 TB this is the cheapest possible
    pass over the corpus."""
    e = _t(spark, sf_dir, "events")
    kept = e.filter(
        (F.col("event_type") == "purchase")
        | (hash_bucket(F.col("event_id"), "cb") < N_BUCKETS // 4)
    ).select("event_type")
    t = kept.agg(F.count("*").cast("bigint").alias("total"))
    return (
        kept.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "n_kept",
            F.round(F.col("n_kept") / (1.0 * F.col("total")), 6).alias("kept_share"),
        )
    )
