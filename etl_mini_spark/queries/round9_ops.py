"""Round-9 tier: statistical inference / ML-evaluation depth, corpus
distribution tooling, and the data-engineering ops (DQ audits,
calendar spines, URL/IP parsing) an analytics engine runs daily.
Registered round 9; every entry swept vs DuckDB at sf0.001 + sf0.01
before registration; non-vacuity pins in tests/test_round9_ops.py.

Float-parity rules extend FIXTURES.md §C with the round-9 refinement:
when a query SUMS libm-derived terms (ln/sqrt/pow), each term is
pre-rounded at 9dp AND cast to DECIMAL(28,9) before the sum, so the
total is exact decimal arithmetic — immune to accumulation order on
BOTH engines — and only then rounded for display. (round-8's psi
summed the rounded doubles directly; correct at 5 bins, but the
decimal sum removes the residual order sensitivity for good.)

Scale notes are per-query docstrings; the common themes:
- contingency/binned statistics are one hash-agg to a tiny cell grid,
  then driver-free scalar algebra — the 100-TB cost is the scan;
- every per-row ln/sqrt is a codegen'd Column expression, no UDFs
  anywhere in this tier except the Misra-Gries sketch, which is the
  point (a mergeable per-partition summary in Arrow batches);
- nothing here materializes pairs except item_item_cosine_topk, whose
  pair expansion is bounded by order size (≤12 lines/order in this
  schema; cap documented for heavy-tailed baskets).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t
from etl_mini_spark.queries._base import q as pq


# --- chi-square independence + Cramér's V ------------------------------------
# Contingency: event_type (5) × value band (8 fixed log-ish edges — fixed
# edges, not quantiles, so no rank-boundary flips between engines).
# Observed counts are BIGINT; each cell's (o−e)²/e term pre-rounds at
# 9dp and sums as DECIMAL(28,9), so chi2 is order-free exact.
_CHI2_SQL = """
    WITH c AS (
      SELECT event_type AS x,
             least(CAST(floor(value / 40) AS INT), 7) AS y,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT x, y, o,
             sum(o) OVER (PARTITION BY x) AS rx,
             sum(o) OVER (PARTITION BY y) AS cy,
             sum(o) OVER () AS n
      FROM c),
    terms AS (
      SELECT n,
             CAST(round(pow(o - rx * cy / (1.0 * n), 2) / (rx * cy / (1.0 * n)), 9)
                  AS DECIMAL(28,9)) AS term
      FROM t),
    s AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_cells,
             sum(term) AS chi2_d
      FROM terms),
    dims AS (
      SELECT CAST(count(DISTINCT x) AS BIGINT) AS kx,
             CAST(count(DISTINCT y) AS BIGINT) AS ky
      FROM c)
    SELECT s.n, s.n_cells,
           CAST((dims.kx - 1) * (dims.ky - 1) AS BIGINT) AS dof,
           round(CAST(s.chi2_d AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(s.chi2_d AS DOUBLE)
                      / (s.n * least(dims.kx - 1, dims.ky - 1))), 6) AS cramers_v
    FROM s CROSS JOIN dims
"""


@pq("chi_square_cramers_v", _CHI2_SQL)
def chi_square_cramers_v(spark, sf_dir):
    """Pearson chi-square test of independence between event_type and
    a fixed-edge value band, plus Cramér's V effect size — the first
    question any feature audit asks of two categoricals. Expected
    counts come from the margins (r·c/n); each cell's (o−e)²/e term is
    pre-rounded at 9dp and summed as DECIMAL(28,9), so the statistic
    is exact regardless of accumulation order. Plan: one hash-agg to a
    ≤40-cell grid, margin windows over those 40 rows, one scalar
    finish — at 100 TB the corpus scan is the entire cost; the cell
    grid is constant-size."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        F.col("event_type").alias("x"),
        F.least(F.floor(F.col("value") / 40).cast("int"), F.lit(7)).alias("y"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    t = c.select(
        "x", "y", "o",
        F.sum("o").over(Window.partitionBy("x")).alias("rx"),
        F.sum("o").over(Window.partitionBy("y")).alias("cy"),
        F.sum("o").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    terms = t.select(
        "n",
        F.round(
            F.pow(F.col("o") - F.col("rx") * F.col("cy") / (1.0 * F.col("n")), 2)
            / (F.col("rx") * F.col("cy") / (1.0 * F.col("n"))),
            9,
        ).cast("decimal(28,9)").alias("term"),
    )
    s = terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("term").alias("chi2_d"),
    )
    dims = c.agg(
        F.countDistinct("x").cast("bigint").alias("kx"),
        F.countDistinct("y").cast("bigint").alias("ky"),
    )
    return s.crossJoin(F.broadcast(dims)).select(
        "n",
        "n_cells",
        ((F.col("kx") - 1) * (F.col("ky") - 1)).cast("bigint").alias("dof"),
        F.round(F.col("chi2_d").cast("double"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_d").cast("double")
                / (F.col("n") * F.least(F.col("kx") - 1, F.col("ky") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --- mutual information of two discrete columns -------------------------------
# MI (nats) = Σ_xy (o/n)·ln(o·n/(rx·cy)); per-cell terms pre-round 9dp,
# decimal sum. Entropies use the same trick, so NMI = MI/min(H) is a
# ratio of exact decimals with one double division at the end.
_MI_SQL = """
    WITH c AS (
      SELECT event_type AS x,
             least(CAST(floor(value / 40) AS INT), 7) AS y,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT x, y, o,
             sum(o) OVER (PARTITION BY x) AS rx,
             sum(o) OVER (PARTITION BY y) AS cy,
             sum(o) OVER () AS n
      FROM c),
    mi AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             sum(CAST(round((o / (1.0 * n)) * ln(o * 1.0 * n / (rx * 1.0 * cy)), 9)
                      AS DECIMAL(28,9))) AS mi_d
      FROM t),
    hx AS (
      SELECT sum(CAST(round(-(rx / (1.0 * n)) * ln(rx / (1.0 * n)), 9)
                      AS DECIMAL(28,9))) AS h_x
      FROM (SELECT DISTINCT x, rx, n FROM t)),
    hy AS (
      SELECT sum(CAST(round(-(cy / (1.0 * n)) * ln(cy / (1.0 * n)), 9)
                      AS DECIMAL(28,9))) AS h_y
      FROM (SELECT DISTINCT y, cy, n FROM t))
    SELECT mi.n,
           round(CAST(mi.mi_d AS DOUBLE), 6) AS mi_nats,
           round(CAST(hx.h_x AS DOUBLE), 6) AS h_x,
           round(CAST(hy.h_y AS DOUBLE), 6) AS h_y,
           round(CAST(mi.mi_d AS DOUBLE)
                 / least(CAST(hx.h_x AS DOUBLE), CAST(hy.h_y AS DOUBLE)), 6) AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy
"""


@pq("mutual_information_discrete", _MI_SQL)
def mutual_information_discrete(spark, sf_dir):
    """Mutual information (nats) between event_type and the fixed-edge
    value band, with marginal entropies and the min-entropy-normalized
    NMI — the feature-selection screen chi-square can't provide (MI
    sees nonlinear association). Identical contingency plan to
    chi_square_cramers_v: one hash-agg to the cell grid, margin
    windows over ≤40 rows, per-cell ln terms pre-rounded at 9dp and
    summed as DECIMAL(28,9). 100-TB cost = the one scan."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        F.col("event_type").alias("x"),
        F.least(F.floor(F.col("value") / 40).cast("int"), F.lit(7)).alias("y"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    t = c.select(
        "x", "y", "o",
        F.sum("o").over(Window.partitionBy("x")).alias("rx"),
        F.sum("o").over(Window.partitionBy("y")).alias("cy"),
        F.sum("o").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    mi = t.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.round(
                (F.col("o") / (1.0 * F.col("n")))
                * F.log(F.col("o") * 1.0 * F.col("n") / (F.col("rx") * 1.0 * F.col("cy"))),
                9,
            ).cast("decimal(28,9)")
        ).alias("mi_d"),
    )
    hx = (
        t.select("x", "rx", "n").distinct()
        .agg(
            F.sum(
                F.round(
                    -(F.col("rx") / (1.0 * F.col("n")))
                    * F.log(F.col("rx") / (1.0 * F.col("n"))),
                    9,
                ).cast("decimal(28,9)")
            ).alias("h_x")
        )
    )
    hy = (
        t.select("y", "cy", "n").distinct()
        .agg(
            F.sum(
                F.round(
                    -(F.col("cy") / (1.0 * F.col("n")))
                    * F.log(F.col("cy") / (1.0 * F.col("n"))),
                    9,
                ).cast("decimal(28,9)")
            ).alias("h_y")
        )
    )
    return mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy)).select(
        "n",
        F.round(F.col("mi_d").cast("double"), 6).alias("mi_nats"),
        F.round(F.col("h_x").cast("double"), 6).alias("h_x"),
        F.round(F.col("h_y").cast("double"), 6).alias("h_y"),
        F.round(
            F.col("mi_d").cast("double")
            / F.least(F.col("h_x").cast("double"), F.col("h_y").cast("double")),
            6,
        ).alias("nmi"),
    )


# --- Gini coefficient of customer revenue -------------------------------------
# Gini = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over revenues sorted asc
# (ties broken by custkey). Revenues are DECIMAL(18,2) sums; i·x_i is
# BIGINT×DECIMAL — exact — so the numerator never floats.
_GINI_SQL = """
    WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM rev),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(r) AS tot,
             sum(i * r) AS weighted
      FROM ranked)
    SELECT n, round(CAST(tot AS DOUBLE), 2) AS total_rev,
           round((2.0 * CAST(weighted AS DOUBLE) - (n + 1) * CAST(tot AS DOUBLE))
                 / (n * CAST(tot AS DOUBLE)), 6) AS gini
    FROM s
"""


@pq("gini_lorenz", _GINI_SQL)
def gini_lorenz(spark, sf_dir):
    """Gini concentration coefficient of per-customer order revenue —
    the inequality scalar behind every whale-dependence dashboard
    (pareto_revenue_curve draws the Lorenz curve; this is its area
    statistic). Uses the rank identity Gini = (2Σi·x_(i) − (n+1)Σx)
    / (nΣx): revenues sum as DECIMAL(18,2), i·x stays decimal-exact,
    and only the final ratio is a double. Plan: one keyed agg, one
    global rank (range-partitioned two-pass prefix counts at scale —
    the budget_cap shape), one 1-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    ranked = rev.select(
        "r", F.row_number().over(Window.orderBy("r", "o_custkey")).alias("i")
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").alias("tot"),
        F.sum(F.col("i") * F.col("r")).alias("weighted"),
    )
    return s.select(
        "n",
        F.round(F.col("tot").cast("double"), 2).alias("total_rev"),
        F.round(
            (2.0 * F.col("weighted").cast("double") - (F.col("n") + 1) * F.col("tot").cast("double"))
            / (F.col("n") * F.col("tot").cast("double")),
            6,
        ).alias("gini"),
    )


# --- Herfindahl-Hirschman concentration by region ------------------------------
# Supplier revenue shares within each region; HHI = Σ share² with the
# 9dp-round + decimal-sum rule. Shares are ratios of DECIMAL sums.
_HHI_SQL = """
    WITH rev AS (
      SELECT n.n_regionkey, s.s_nationkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    shares AS (
      SELECT n_regionkey, r,
             sum(r) OVER (PARTITION BY n_regionkey) AS tot
      FROM rev),
    terms AS (
      SELECT n_regionkey,
             CAST(round(pow(CAST(r AS DOUBLE) / CAST(tot AS DOUBLE), 2), 9)
                  AS DECIMAL(28,9)) AS t2,
             CAST(r AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      FROM shares)
    SELECT rg.r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           round(CAST(sum(t2) AS DOUBLE), 6) AS hhi,
           round(max(share), 6) AS top_share
    FROM terms JOIN region rg ON terms.n_regionkey = rg.r_regionkey
    GROUP BY rg.r_name
    ORDER BY rg.r_name
"""


@pq("herfindahl_concentration", _HHI_SQL)
def herfindahl_concentration(spark, sf_dir):
    """Herfindahl-Hirschman index of supplier-nation revenue
    concentration within each region — the market-concentration
    measure (HHI→1 means one nation owns the region's supply). Revenue
    sums are DECIMAL; each squared share pre-rounds at 9dp and sums as
    DECIMAL(28,9) per region. Plan: one fact-side keyed agg (suppkey
    is the shuffle key; supplier/nation/region dims broadcast), a
    25-row share window, a 5-row finish."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rg = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "s_nationkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    shares = rev.select(
        "n_regionkey",
        "r",
        F.sum("r").over(Window.partitionBy("n_regionkey")).alias("tot"),
    )
    terms = shares.select(
        "n_regionkey",
        F.round(
            F.pow(F.col("r").cast("double") / F.col("tot").cast("double"), 2), 9
        ).cast("decimal(28,9)").alias("t2"),
        (F.col("r").cast("double") / F.col("tot").cast("double")).alias("share"),
    )
    return (
        terms.join(F.broadcast(rg), terms.n_regionkey == rg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("bigint").alias("n_nations"),
            F.round(F.sum("t2").cast("double"), 6).alias("hhi"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .orderBy("r_name")
    )


# --- Wilson score intervals for daily conversion -------------------------------
# Conversion = purchases / (purchases + views) per day; the Wilson 95%
# interval (z = 1.96) is the rate CI that behaves at small n and
# extreme rates. Counts are BIGINT; the interval is per-row double
# algebra (sqrt), deterministic — no cross-row float accumulation.
_WILSON_SQL = """
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1)
    SELECT d, k, n,
           round(k / (1.0 * n), 6) AS rate,
           round((k / (1.0 * n) + 1.96 * 1.96 / (2.0 * n)
                  - 1.96 * sqrt((k / (1.0 * n)) * (1 - k / (1.0 * n)) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
           round((k / (1.0 * n) + 1.96 * 1.96 / (2.0 * n)
                  + 1.96 * sqrt((k / (1.0 * n)) * (1 - k / (1.0 * n)) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
    FROM d ORDER BY d
"""


@pq("wilson_ci_rates", _WILSON_SQL)
def wilson_ci_rates(spark, sf_dir):
    """Daily purchase-vs-view conversion rate with its Wilson 95%
    score interval — the binomial CI that stays inside [0,1] and
    doesn't collapse at k=0 or k=n, which is what rate dashboards
    should plot instead of ±1.96·√(p̂q̂/n). Counts are exact BIGINT per
    day; the interval is per-row closed-form double algebra (one sqrt,
    no cross-row accumulation). Plan: one day-keyed agg, ~30 output
    rows regardless of corpus size."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    d = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
        F.count("*").cast("bigint").alias("n"),
    )
    p = F.col("k") / (1.0 * F.col("n"))
    z2 = 1.96 * 1.96
    center = p + z2 / (2.0 * F.col("n"))
    margin = 1.96 * F.sqrt(p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n")))
    denom = 1 + z2 / F.col("n")
    return d.select(
        "d",
        "k",
        "n",
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    ).orderBy("d")


# --- autocorrelation of the hourly value series --------------------------------
# Series: hourly sums of value as DECIMAL(18,2) (exact). For lag k the
# paired sample joins hour h with h−k (co-observed hours only); all
# five sufficient statistics (Σx, Σy, Σxy, Σx², Σy², n) are decimal-
# exact, and Pearson r is one double formula per lag.
_ACF_SQL = """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             sum(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY 1),
    lags AS (SELECT unnest([1, 2, 3, 24]) AS lag),
    paired AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM lags l
      JOIN hourly a ON TRUE
      JOIN hourly b ON b.h = a.h - l.lag),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS DECIMAL(38,4)) * y) AS sxy,
             sum(CAST(x AS DECIMAL(38,4)) * x) AS sxx,
             sum(CAST(y AS DECIMAL(38,4)) * y) AS syy
      FROM paired GROUP BY lag)
    SELECT lag, n_pairs,
           round((n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS acf
    FROM s ORDER BY lag
"""


@pq("acf_hourly_lags", _ACF_SQL)
def acf_hourly_lags(spark, sf_dir):
    """Sample autocorrelation of the hourly revenue series at lags
    1/2/3/24 (lag 24 = the daily-seasonality check) — computed as the
    Pearson correlation of the lag-paired series over co-observed
    hours. The hourly sums are DECIMAL(18,2) (exact), the five
    sufficient statistics per lag are decimal products/sums (exact),
    and each r is one double formula. Plan: one hour-keyed agg
    (bounded: 8,760 rows per year regardless of corpus size), then a
    4×|hours| lag join on the TINY aggregated series — the raw corpus
    is never joined."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("x"))
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(24))).alias("lag")
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    paired = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.h") == F.col("a.h") - F.col("lag"))
        .select("lag", F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    s = paired.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,4)") * F.col("y")).alias("syy"),
    )
    return s.select(
        "lag",
        "n_pairs",
        F.round(
            (
                F.col("n_pairs") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / F.sqrt(
                (
                    F.col("n_pairs") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    F.col("n_pairs") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            ),
            6,
        ).alias("acf"),
    ).orderBy("lag")


# --- exact PR AUC (average precision) ------------------------------------------
# Same planted score as roc_auc_exact. Step-wise AP = Σ_k ΔR_k · P_k
# over distinct scores descending: tp/fp are integer cumsums, each
# threshold's term is one double op pre-rounded at 9dp, and the sum is
# DECIMAL(28,9) — order-free.
_PRAUC_SQL = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             value + CASE WHEN event_type = 'purchase' THEN 25.0 ELSE 0.0 END AS score
      FROM events WHERE event_type IN ('purchase', 'view')),
    per AS (
      SELECT score, CAST(sum(y) AS BIGINT) AS pos_c,
             CAST(count(*) - sum(y) AS BIGINT) AS neg_c
      FROM s GROUP BY score),
    c AS (
      SELECT sum(pos_c) OVER (ORDER BY score DESC) AS tp,
             sum(neg_c) OVER (ORDER BY score DESC) AS fp,
             pos_c,
             sum(pos_c) OVER () AS n_pos, sum(neg_c) OVER () AS n_neg
      FROM per),
    terms AS (
      SELECT n_pos, n_neg,
             CAST(round((pos_c / (1.0 * n_pos)) * (tp / (1.0 * (tp + fp))), 9)
                  AS DECIMAL(28,9)) AS term
      FROM c)
    SELECT CAST(max(n_pos) AS BIGINT) AS n_pos, CAST(max(n_neg) AS BIGINT) AS n_neg,
           round(CAST(max(n_pos) AS DOUBLE) / (max(n_pos) + max(n_neg)), 6) AS prevalence,
           round(CAST(sum(term) AS DOUBLE), 6) AS pr_auc
    FROM terms
"""


@pq("pr_auc_exact", _PRAUC_SQL)
def pr_auc_exact(spark, sf_dir):
    """Exact precision-recall AUC (average precision) for the planted
    purchase-vs-view score — the ranking metric that matters when
    positives are rare and ROC AUC flatters. AP = Σ ΔR·P over distinct
    score thresholds descending: tp/fp are BIGINT prefix sums, each
    threshold term is one double expression pre-rounded at 9dp, and
    the total accumulates as DECIMAL(28,9). Plan: one score-keyed agg,
    one ordered prefix sum over distinct scores (range-partitioned
    two-pass cumsum at scale), one scalar finish — no per-pair work."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.col("value")
            + F.when(F.col("event_type") == "purchase", F.lit(25.0)).otherwise(F.lit(0.0))
        ).alias("score"),
    )
    per = s.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("pos_c"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg_c"),
    )
    wd = Window.orderBy(F.col("score").desc()).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = per.select(
        F.sum("pos_c").over(wd).alias("tp"),
        F.sum("neg_c").over(wd).alias("fp"),
        "pos_c",
        F.sum("pos_c").over(wall).alias("n_pos"),
        F.sum("neg_c").over(wall).alias("n_neg"),
    )
    terms = c.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("pos_c") / (1.0 * F.col("n_pos")))
            * (F.col("tp") / (1.0 * (F.col("tp") + F.col("fp")))),
            9,
        ).cast("decimal(28,9)").alias("term"),
    )
    return terms.agg(
        F.max("n_pos").cast("bigint").alias("n_pos"),
        F.max("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            F.max("n_pos").cast("double") / (F.max("n_pos") + F.max("n_neg")), 6
        ).alias("prevalence"),
        F.round(F.sum("term").cast("double"), 6).alias("pr_auc"),
    )


# --- Brier score + reliability bins in integer milli-probability ---------------
# The synthetic predictor emits p in MILLI-units: a hash-spread base in
# [0,700) plus a +300 boost for actual purchases, so it is informative
# but miscalibrated — exactly what a reliability table should expose.
# (p_milli − 1000·y)² is BIGINT; every reported figure is a ratio of
# exact integers with one double division, rounded once.
_BRIER_SQL = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':p9'), 1, 15))
                   AS BIGINT) % 700)
             + CASE WHEN event_type = 'purchase' THEN 300 ELSE 0 END AS p_milli
      FROM events WHERE event_type IN ('purchase', 'view')),
    b AS (
      SELECT CAST(floor(p_milli / 100) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(p_milli) AS BIGINT) AS sum_p,
             CAST(sum((p_milli - 1000 * y) * (p_milli - 1000 * y)) AS BIGINT) AS sq
      FROM s GROUP BY 1),
    t AS (SELECT CAST(sum(sq) AS BIGINT) AS sq_tot, CAST(sum(n) AS BIGINT) AS n_tot FROM b)
    SELECT bin, n, n_pos,
           round(sum_p / (1000.0 * n), 6) AS mean_pred,
           round(n_pos / (1.0 * n), 6) AS obs_rate,
           round(t.sq_tot / (1000000.0 * t.n_tot), 6) AS brier_total
    FROM b CROSS JOIN t
    ORDER BY bin
"""


@pq("brier_calibration_bins", _BRIER_SQL)
def brier_calibration_bins(spark, sf_dir):
    """Brier score with a 10-bin reliability (calibration) table for a
    deterministic synthetic predictor — mean predicted probability vs
    observed rate per bin, plus the overall Brier. The predictor works
    in integer MILLI-probability (hash base < 0.7 plus +0.3 for true
    positives), so (p−y)² is exact BIGINT end-to-end and the only
    float op is the final display division: the entire metric is
    engine-exact by construction, not by rounding. Plan: one narrow
    projection, one 10-cell hash-agg, a broadcast 1-row total."""
    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            hash_bucket(F.col("event_id"), "p9", 700)
            + F.when(F.col("event_type") == "purchase", 300).otherwise(0)
        ).alias("p_milli"),
    )
    b = s.groupBy(F.floor(F.col("p_milli") / 100).cast("int").alias("bin")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("p_milli").cast("bigint").alias("sum_p"),
        F.sum(
            (F.col("p_milli") - 1000 * F.col("y")) * (F.col("p_milli") - 1000 * F.col("y"))
        ).cast("bigint").alias("sq"),
    )
    t = b.agg(
        F.sum("sq").cast("bigint").alias("sq_tot"), F.sum("n").cast("bigint").alias("n_tot")
    )
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("sum_p") / (1000.0 * F.col("n")), 6).alias("mean_pred"),
            F.round(F.col("n_pos") / (1.0 * F.col("n")), 6).alias("obs_rate"),
            F.round(F.col("sq_tot") / (1000000.0 * F.col("n_tot")), 6).alias("brier_total"),
        )
        .orderBy("bin")
    )


# --- Weight of Evidence + Information Value ------------------------------------
# Fixed value bands vs the purchase label, +0.5 Laplace smoothing so
# empty cells stay finite. WoE is per-row (safe double); the IV total
# is the 9dp-round → DECIMAL(28,9) window sum.
_WOE_SQL = """
    WITH s AS (
      SELECT least(CAST(floor(value / 40) AS INT), 7) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')),
    b AS (
      SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM s GROUP BY bin),
    t AS (
      SELECT bin, n_pos, n_neg,
             (n_pos + 0.5) / (sum(n_pos) OVER () + 4.0) AS dp,
             (n_neg + 0.5) / (sum(n_neg) OVER () + 4.0) AS dn
      FROM b),
    w AS (
      SELECT bin, n_pos, n_neg,
             round(ln(dp / dn), 6) AS woe,
             CAST(round((dp - dn) * ln(dp / dn), 9) AS DECIMAL(28,9)) AS iv_term
      FROM t)
    SELECT bin, n_pos, n_neg, woe,
           round(CAST(sum(iv_term) OVER () AS DOUBLE), 6) AS iv_total
    FROM w ORDER BY bin
"""


@pq("woe_iv_binning", _WOE_SQL)
def woe_iv_binning(spark, sf_dir):
    """Weight-of-Evidence encoding of the fixed-edge value bands
    against the purchase label, with the Information Value total — the
    credit-scoring-style predictive-power screen for a binned feature.
    Laplace +0.5 smoothing keeps empty bins finite; WoE is a per-row
    ln (safe, rounded once); the IV total pre-rounds each (dp−dn)·WoE
    term at 9dp and window-sums as DECIMAL(28,9). Plan: one hash-agg
    to ≤8 bins, windows over those 8 rows — scan-bound at any scale."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.least(F.floor(F.col("value") / 40).cast("int"), F.lit(7)).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = b.select(
        "bin",
        "n_pos",
        "n_neg",
        ((F.col("n_pos") + 0.5) / (F.sum("n_pos").over(wall) + 4.0)).alias("dp"),
        ((F.col("n_neg") + 0.5) / (F.sum("n_neg").over(wall) + 4.0)).alias("dn"),
    )
    w = t.select(
        "bin",
        "n_pos",
        "n_neg",
        F.round(F.log(F.col("dp") / F.col("dn")), 6).alias("woe"),
        F.round((F.col("dp") - F.col("dn")) * F.log(F.col("dp") / F.col("dn")), 9)
        .cast("decimal(28,9)")
        .alias("iv_term"),
    )
    return w.select(
        "bin",
        "n_pos",
        "n_neg",
        "woe",
        F.round(F.sum("iv_term").over(wall).cast("double"), 6).alias("iv_total"),
    ).orderBy("bin")


# --- stratified k-fold assignment audit ----------------------------------------
# fold = md5-bucket(event_id) % 5 — the registry's engine-portable
# uniform, so folds are identical under any partitioning. The audit
# reports per-fold size, positive rate, and deviation from the mean
# fold size (the balance check a CV split must pass).
_KFOLD_SQL = """
    WITH s AS (
      SELECT (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':kf9'), 1, 15))
                   AS BIGINT) % 100000) % 5 AS fold,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')),
    b AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
      FROM s GROUP BY fold)
    SELECT CAST(fold AS INT) AS fold, n, n_pos,
           round(n_pos / (1.0 * n), 6) AS pos_rate,
           round(n / (sum(n) OVER () / 5.0) - 1, 6) AS size_dev
    FROM b ORDER BY fold
"""


@pq("stratified_kfold_assign", _KFOLD_SQL)
def stratified_kfold_assign(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment with its
    balance audit: fold membership is the md5-bucket uniform on
    event_id (identical on any engine/partitioning — a CV contract,
    unlike seed-and-partition-dependent randomSplit), and the output
    verifies what CV needs: near-equal fold sizes and near-equal
    positive rates. Plan: one narrow projection + one 5-cell hash-agg;
    the fold column never shuffles the corpus."""
    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        (hash_bucket(F.col("event_id"), "kf9") % 5).alias("fold"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("fold").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("n_pos")
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return b.select(
        F.col("fold").cast("int").alias("fold"),
        "n",
        "n_pos",
        F.round(F.col("n_pos") / (1.0 * F.col("n")), 6).alias("pos_rate"),
        F.round(F.col("n") / (F.sum("n").over(wall) / 5.0) - 1, 6).alias("size_dev"),
    ).orderBy("fold")


# --- unigram^0.75 negative-sampling table --------------------------------------
# The word2vec-style sampling distribution: freq^0.75 normalized, with
# cumulative bucket bounds (the inversion table a sampler walks).
# pow terms pre-round at 9dp, DECIMAL(28,9) prefix sums.
_UNIGRAM_SQL = """
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    f AS (SELECT t, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY t),
    w AS (
      SELECT t, freq,
             CAST(round(pow(freq, 0.75), 9) AS DECIMAL(28,9)) AS w
      FROM f),
    c AS (
      SELECT t, freq, w,
             sum(w) OVER (ORDER BY freq DESC, t) AS cum_w,
             sum(w) OVER () AS tot
      FROM w)
    SELECT t, freq,
           round(CAST(w AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob,
           round(CAST(cum_w AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_hi
    FROM c ORDER BY freq DESC, t
"""


@pq("unigram_sampling_table", _UNIGRAM_SQL)
def unigram_sampling_table(spark, sf_dir):
    """The word2vec negative-sampling table: token frequency smoothed
    by the canonical ^0.75, normalized, with cumulative upper bounds —
    the inversion table a sampler binary-searches with a uniform draw.
    pow terms pre-round at 9dp and prefix-sum as DECIMAL(28,9), so
    probabilities and bounds are identical across engines. Plan: one
    token-count agg (the corpus scan), then windows over |vocab| rows —
    vocabulary is tiny relative to tokens at any scale."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    f = d.select(F.explode(toks).alias("t")).groupBy("t").agg(
        F.count("*").cast("bigint").alias("freq")
    )
    w = f.select(
        "t", "freq", F.round(F.pow("freq", 0.75), 9).cast("decimal(28,9)").alias("w")
    )
    wc = Window.orderBy(F.col("freq").desc(), "t").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = w.select(
        "t", "freq", "w",
        F.sum("w").over(wc).alias("cum_w"),
        F.sum("w").over(wall).alias("tot"),
    )
    return c.select(
        "t",
        "freq",
        F.round(F.col("w").cast("double") / F.col("tot").cast("double"), 6).alias("prob"),
        F.round(F.col("cum_w").cast("double") / F.col("tot").cast("double"), 6).alias("cum_hi"),
    ).orderBy(F.col("freq").desc(), "t")


# --- PMI-scored adjacent bigrams ------------------------------------------------
# PMI = ln((c12/Nb) / ((c1/Nu)(c2/Nu))) over ADJACENT token pairs.
# All counts are exact integers; PMI is a per-row ln of an
# integer-ratio expression (no cross-row float accumulation), so no
# top-k rank depends on a float: the full c12 >= 5 set is returned.
_PMI_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    uni AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(l) AS t FROM toks) GROUP BY t),
    nu AS (SELECT CAST(sum(c1) AS BIGINT) AS n_uni FROM uni),
    bi AS (
      SELECT t1, t2, CAST(count(*) AS BIGINT) AS c12
      FROM (SELECT unnest(l[1:len(l)-1]) AS t1, unnest(l[2:len(l)]) AS t2 FROM toks)
      GROUP BY t1, t2),
    nb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bi FROM bi)
    SELECT b.t1, b.t2, b.c12,
           round(ln((b.c12 / (1.0 * nb.n_bi))
                    / ((u1.c1 / (1.0 * nu.n_uni)) * (u2.c1 / (1.0 * nu.n_uni)))), 6) AS pmi
    FROM bi b
    JOIN uni u1 ON b.t1 = u1.t
    JOIN uni u2 ON b.t2 = u2.t
    CROSS JOIN nu CROSS JOIN nb
    WHERE b.c12 >= 5
    ORDER BY b.t1, b.t2
"""


@pq("token_pmi_bigrams", _PMI_SQL)
def token_pmi_bigrams(spark, sf_dir):
    """Pointwise mutual information of adjacent token bigrams — the
    collocation detector (PMI >> 0 means the pair co-occurs far above
    chance; it's how phrase vocabularies for tokenizers get mined).
    Bigrams come from zipping each token array with its tail (narrow,
    in-row), unigram and bigram counts are exact BIGINTs, and PMI is a
    single per-row ln of their ratio — no float accumulates, no top-k
    rank rides on a float: every pair with c12 >= 5 is returned. Plan:
    two token-keyed aggs (the corpus scans) and two broadcast joins of
    the tiny vocab onto the bigram table."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ").alias("l"),
    )
    uni = (
        toks.select(F.explode("l").alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("c1"))
    )
    nu = uni.agg(F.sum("c1").cast("bigint").alias("n_uni"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("l"), 1, F.size("l") - 1),
                F.slice(F.col("l"), 2, F.size("l") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("t1"), F.col("p.1").alias("t2"))
    bi = pairs.groupBy("t1", "t2").agg(F.count("*").cast("bigint").alias("c12"))
    nb = bi.agg(F.sum("c12").cast("bigint").alias("n_bi"))
    u1 = uni.select(F.col("t").alias("t1"), F.col("c1").alias("c1_a"))
    u2 = uni.select(F.col("t").alias("t2"), F.col("c1").alias("c1_b"))
    return (
        bi.filter(F.col("c12") >= 5)
        .join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "t1",
            "t2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") / (1.0 * F.col("n_bi")))
                    / (
                        (F.col("c1_a") / (1.0 * F.col("n_uni")))
                        * (F.col("c1_b") / (1.0 * F.col("n_uni")))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("t1", "t2")
    )


# --- Misra-Gries heavy hitters with exact verification ---------------------------
# Sketch candidates per partition (capacity 64), exact recount of
# candidates only; report tokens with freq*31 > N (the corpus vocab is
# deliberately flat at ~1/31 each, so this threshold DISCRIMINATES —
# ~25 of ~30 tokens qualify — instead of being all-or-nothing). The
# oracle is the plain exact query — the sketch path must reproduce it
# EXACTLY (superset guarantee + verify), which is the whole point.
_MG_SQL = """
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
    SELECT t, CAST(count(*) AS BIGINT) AS freq,
           floor(count(*) / (1.0 * n.n_total) * 1000000 + 0.5) / 1000000 AS share
    FROM tok CROSS JOIN n
    GROUP BY t, n.n_total
    HAVING count(*) * 31 > n.n_total
    ORDER BY t
"""


@pq("heavy_hitters_mg", _MG_SQL)
def heavy_hitters_mg(spark, sf_dir):
    """Heavy hitters (tokens above 1/31 of the stream) via a Misra-Gries
    sketch with exact verification: each partition keeps 64 counters
    (Arrow-batched mapInPandas; batch-merge + compress is the
    mergeable-summaries MERGE), the candidate UNION provably contains
    every token with freq > N/65, and an exact recount over ONLY the
    candidates (broadcast semi-join) removes false positives. The
    oracle is the naive exact GROUP BY — the sketch path must match it
    bit-for-bit. Plan: map-side sketches (no token shuffle), one
    candidate broadcast, one candidates-only agg — at 100 TB the full
    token shuffle this replaces IS the bottleneck; here only ~64 rows
    per partition move."""
    from etl_mini_spark.operators.sketches import heavy_hitters_exact

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("t")
    )
    return heavy_hitters_exact(toks, "t", denom=31, k=64).orderBy("t")


# --- URL parsing suite -----------------------------------------------------------
# Synthetic-but-realistic URLs assembled from document columns, parsed
# with Spark's parse_url (host/path/query + one query param) vs the
# equivalent regexes in the oracle. Thinned to doc_id % 5 = 0.
_URL_SQL = """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/' || lang || '/doc-' || doc_id
             || '?page=' || CAST(doc_id % 7 AS VARCHAR) || '&ref=' || source AS url
      FROM documents WHERE doc_id % 5 = 0)
    SELECT doc_id, url,
           regexp_extract(url, '^https://([^/]+)', 1) AS host,
           regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
    FROM u ORDER BY doc_id
"""


@pq("url_parse_suite", _URL_SQL)
def url_parse_suite(spark, sf_dir):
    """URL decomposition — host, path, query string, and a single
    query parameter — with Spark's built-in parse_url (a codegen'd JVM
    expression; the oracle replays the same extraction as anchored
    regexes). The URL itself is assembled deterministically from
    document columns so the fixture needs no new table. Plan: narrow
    per-row expressions only; at scale this is a zero-shuffle
    projection pass, which is exactly what log-sessionization wants."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.col("lang"),
            F.lit("/doc-"), F.col("doc_id").cast("string"),
            F.lit("?page="), (F.col("doc_id") % 7).cast("string"),
            F.lit("&ref="), F.col("source"),
        ).alias("url"),
    )
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page"),
    ).orderBy("doc_id")


# --- IPv4 subnet rollup ----------------------------------------------------------
# Deterministic synthetic IPv4 per user (Knuth multiplicative hash mod
# 2^32), rolled up to /16 subnets — the log-analytics shape for CIDR
# aggregation. Pure 64-bit integer arithmetic on both engines (ANSI
# overflow-safe: user_id * 2654435761 << 2^63 at any realistic id).
_IPSUB_SQL = """
    WITH ips AS (
      SELECT user_id, (user_id * 2654435761) % 4294967296 AS ip32
      FROM events),
    oct AS (
      SELECT user_id,
             CAST(floor(ip32 / 16777216) AS BIGINT) AS o1,
             CAST(floor(ip32 / 65536) AS BIGINT) % 256 AS o2
      FROM ips)
    SELECT CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.0.0/16' AS subnet,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM oct GROUP BY o1, o2
    ORDER BY subnet
"""


@pq("ip_subnet_rollup", _IPSUB_SQL)
def ip_subnet_rollup(spark, sf_dir):
    """CIDR /16 subnet rollup of per-user synthetic IPv4 addresses
    (Knuth multiplicative hash of user_id mod 2^32 — deterministic on
    any engine, so the oracle replays it exactly): events and distinct
    users per subnet. The octet math is pure BIGINT (floor-division and
    modulo), no string parsing until the final label. Plan: narrow
    per-row arithmetic, one subnet-keyed hash-agg with a partial
    (map-side) phase — the canonical log-rollup shape."""
    e = _t(spark, sf_dir, "events")
    ips = e.select("user_id", ((F.col("user_id") * 2654435761) % 4294967296).alias("ip32"))
    oct_ = ips.select(
        "user_id",
        F.floor(F.col("ip32") / 16777216).cast("bigint").alias("o1"),
        (F.floor(F.col("ip32") / 65536).cast("bigint") % 256).alias("o2"),
    )
    return (
        oct_.groupBy("o1", "o2")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.concat(
                F.col("o1").cast("string"), F.lit("."), F.col("o2").cast("string"),
                F.lit(".0.0/16"),
            ).alias("subnet"),
            "n_events",
            "n_users",
        )
        .orderBy("subnet")
    )


# --- calendar spine with gap fill -----------------------------------------------
# A generated date dimension spanning [min, max] order dates,
# left-joined to daily revenue: gap days appear with revenue 0 and
# is_gap = true, and the trailing 7-row average runs over the FILLED
# series (decimal sums, one double division).
_SPINE_SQL = """
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1
      FROM orders),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    filled AS (
      SELECT spine.d, coalesce(daily.rev, CAST(0 AS DECIMAL(18,2))) AS rev,
             daily.rev IS NULL AS is_gap
      FROM spine LEFT JOIN daily ON spine.d = daily.d)
    SELECT strftime(d, '%Y-%m-%d') AS d,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           is_gap,
           round(CAST(sum(rev) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / count(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS run7
    FROM filled ORDER BY d
"""


@pq("calendar_spine_fill", _SPINE_SQL)
def calendar_spine_fill(spark, sf_dir):
    """Date-spine densification: generate the full calendar between
    the first and last order date (F.sequence + explode — the scaffold
    every reporting pipeline joins against), left-join daily revenue,
    zero-fill and flag the gap days, and run a trailing 7-day average
    over the FILLED series (which is the point — a rolling mean over a
    sparse series without the spine silently skips missing days).
    Revenue sums are DECIMAL; the rolling figure divides decimal by an
    integer row count once. Plan: the spine is |days| rows generated
    from a 1-row aggregate — broadcast-joined against the daily agg;
    the fact table shuffles once on day."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"), F.max(F.to_date("o_orderdate")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d")
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    filled = (
        spine.join(daily, "d", "left")
        .select(
            "d",
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)")).alias("rev"),
            F.col("rev").isNull().alias("is_gap"),
        )
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    return filled.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        "is_gap",
        F.round(F.sum("rev").over(w7).cast("double") / F.count("*").over(w7), 2).alias("run7"),
    ).orderBy("d")


# --- freshness SLA audit -----------------------------------------------------------
# Per event_type: newest record, its lag behind the global watermark in
# whole minutes (exact microsecond integer arithmetic), and the SLA
# verdict at 240 minutes.
_FRESH_SQL = """
    WITH per AS (
      SELECT event_type, max(ts) AS max_ts FROM events GROUP BY event_type),
    g AS (SELECT max(ts) AS g_max FROM events)
    SELECT event_type,
           strftime(max_ts, '%Y-%m-%d %H:%M:%S') AS max_ts,
           CAST(floor((epoch_us(g_max) - epoch_us(max_ts)) / 60000000) AS BIGINT) AS lag_min,
           (epoch_us(g_max) - epoch_us(max_ts)) <= CAST(240 AS BIGINT) * 60000000 AS sla_ok
    FROM per CROSS JOIN g
    ORDER BY event_type
"""


@pq("dq_freshness_sla", _FRESH_SQL)
def dq_freshness_sla(spark, sf_dir):
    """Source-freshness audit: each event stream's newest record, its
    lag behind the global watermark in whole minutes, and a 240-minute
    SLA verdict — the first page of any ingestion health dashboard.
    Lag math is exact integer microseconds (unix_micros / epoch_us),
    no float time arithmetic. Plan: one partial-aggregating max per
    type plus a broadcast 1-row global max; at 100 TB this is a
    scan-bound metadata query (and with a date-partitioned layout the
    max can prune to the newest partitions)."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(F.max("ts").alias("max_ts"))
    g = e.agg(F.max("ts").alias("g_max"))
    lag_us = F.unix_micros("g_max") - F.unix_micros("max_ts")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
            F.floor(lag_us / 60000000).cast("bigint").alias("lag_min"),
            (lag_us <= 240 * 60000000).alias("sla_ok"),
        )
        .orderBy("event_type")
    )


# --- duplicate primary-key audit ----------------------------------------------------
# Cross-table PK uniqueness census (single-column and composite keys):
# the DQ check every warehouse load gates on.
_DUPKEY_SQL = """
    SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'events', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT event_id) AS BIGINT),
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT doc_id) AS BIGINT),
           CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
    FROM lineitem
    ORDER BY tbl
"""


@pq("dq_duplicate_key_audit", _DUPKEY_SQL)
def dq_duplicate_key_audit(spark, sf_dir):
    """Primary-key uniqueness census across four tables — including a
    COMPOSITE key (lineitem's (orderkey, linenumber)) — reporting rows,
    distinct keys, and duplicate-row counts per table. This is the DQ
    gate every incremental load runs before a merge. Plan: one
    count-distinct aggregate per table (partial aggregation map-side;
    at scale, count(DISTINCT pk) on a bucketed-by-pk table needs no
    shuffle at all), unioned into a 4-row report."""
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    d = _t(spark, sf_dir, "documents")
    li = _t(spark, sf_dir, "lineitem")

    def census(df, tbl, *keys):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(*keys).cast("bigint").alias("n_keys"),
            (F.count("*") - F.countDistinct(*keys)).cast("bigint").alias("n_dup_rows"),
        )

    return (
        census(o, "orders", "o_orderkey")
        .unionAll(census(e, "events", "event_id"))
        .unionAll(census(d, "documents", "doc_id"))
        .unionAll(census(li, "lineitem", "l_orderkey", "l_linenumber"))
        .orderBy("tbl")
    )


# --- RFC-4180 multiline CSV --------------------------------------------------------
# Committed fixture with quoted embedded newlines, commas, and doubled
# quotes; Spark reads it with multiLine + escape='"', the oracle with
# DuckDB's conformant read_csv. The parse itself is the test.
_QCSV_PATH = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "quoted_multiline.csv")
assert "'" not in _QCSV_PATH, f"fixture path contains a quote: {_QCSV_PATH!r}"
_QCSV_SQL = f"""
    SELECT CAST(id AS BIGINT) AS id, name, notes
    FROM read_csv('{_QCSV_PATH}', header = true,
                  columns = {{'id': 'BIGINT', 'name': 'VARCHAR', 'notes': 'VARCHAR'}})
    ORDER BY id
"""


@pq("csv_multiline_quoted", _QCSV_SQL)
def csv_multiline_quoted(spark, sf_dir):
    """RFC-4180 CSV with quoted fields containing embedded newlines,
    commas, and doubled quotes — read with Spark's multiLine parser
    (escape must be set to '\"' for doubled-quote semantics; the
    default backslash escape silently mis-parses) against DuckDB's
    conformant reader on the SAME committed fixture. At scale,
    multiLine forces whole-file parsing (records cross line splits),
    which is precisely why this entry exists: the engine must still
    be correct when the cheap line-splittable path is unavailable."""
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("id bigint, name string, notes string")
        .csv(_QCSV_PATH)
        .orderBy("id")
    )


# --- GROUP BY ALL / ORDER BY ALL (modern SQL surface) -------------------------------
# The same SQL text runs on both engines (both support the ALL
# shorthands); revenue sums as DECIMAL so the shared text is also
# float-safe.
_GBALL_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@pq("sql_groupby_all", _GBALL_SQL)
def sql_groupby_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL — the modern-SQL shorthand (infer
    grouping keys from the non-aggregate select items, order by the
    full select list) that Spark 3.4+ and DuckDB both implement; the
    IDENTICAL SQL text is submitted to both engines, which is the
    parity point. Plan: one decimal-sum hash aggregation; the ALL
    sugar compiles to the same Catalyst Aggregate as the explicit
    form."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["orders"])
    return spark.sql(_GBALL_SQL)


# --- item-item cosine neighbors ------------------------------------------------------
# Co-occurrence cosine over order baskets: cos(i,j) =
# c12/sqrt(n_i·n_j). Ranked per item by cosq = c12²/(n_i·n_j) — a
# SINGLE IEEE division of exact integers, so the rank never rides on
# libm — with the partner key as tie-break; sqrt is display-only.
_IICOS_SQL = """
    WITH d AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_ord FROM d GROUP BY pk),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS c12
      FROM d a JOIN d b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk),
    bidir AS (
      SELECT p1 AS item, p2 AS other, c12 FROM pairs
      UNION ALL
      SELECT p2, p1, c12 FROM pairs),
    scored AS (
      SELECT item, other, c12,
             c12 * c12 / (1.0 * ni.n_ord * nj.n_ord) AS cosq
      FROM bidir JOIN n ni ON bidir.item = ni.pk
      JOIN n nj ON bidir.other = nj.pk),
    ranked AS (
      SELECT item, other, c12,
             round(sqrt(cosq), 6) AS cosine,
             row_number() OVER (PARTITION BY item ORDER BY cosq DESC, other) AS rn
      FROM scored)
    SELECT item, other, c12, cosine, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY item, rn
"""


@pq("item_item_cosine_topk", _IICOS_SQL)
def item_item_cosine_topk(spark, sf_dir):
    """Item-item collaborative-filtering neighbors: cosine similarity
    over order-basket co-occurrence, top-3 partners per part. The rank
    key is cosq = c12²/(n_i·n_j) — one IEEE division of exact integers
    (bit-identical across engines; no libm in the ORDER BY) — and the
    displayed cosine = sqrt(cosq) is computed only after ranking.
    Plan: pair expansion is per-order and bounded by basket size (≤12
    lines here; cap heavy baskets before the self-join on real data),
    pairs aggregate on a composite key, item norms join back — the
    classic two-shuffle co-occurrence shape that survives 100 TB
    because nothing is all-pairs across the catalog. The norm table is
    catalog-cardinality (one row per part), so its join strategy is
    left to AQE rather than hint-forced: at a 100-TB catalog a forced
    broadcast would OOM the driver, while AQE picks broadcast exactly
    when the measured size allows (same rule as the r6 funnel fix)."""
    li = _t(spark, sf_dir, "lineitem")
    # the distinct basket table feeds FOUR subtrees (both self-join
    # sides and both norm joins) and the pair table two (the bidir
    # union)
    d = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")).distinct()
    n = d.groupBy("pk").agg(F.count("*").cast("bigint").alias("n_ord"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    both = pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("other"), "c12"
    ).unionAll(pairs.select(F.col("p2").alias("item"), F.col("p1").alias("other"), "c12"))
    ni = n.select(F.col("pk").alias("item"), F.col("n_ord").alias("n_i"))
    nj = n.select(F.col("pk").alias("other"), F.col("n_ord").alias("n_j"))
    scored = (
        both.join(ni, "item")
        .join(nj, "other")
        .select(
            "item", "other", "c12",
            (F.col("c12") * F.col("c12") / (1.0 * F.col("n_i") * F.col("n_j"))).alias("cosq"),
        )
    )
    ranked = scored.select(
        "item", "other", "c12",
        F.round(F.sqrt("cosq"), 6).alias("cosine"),
        F.row_number()
        .over(Window.partitionBy("item").orderBy(F.col("cosq").desc(), "other"))
        .alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .select("item", "other", "c12", "cosine", F.col("rn").cast("bigint").alias("rn"))
        .orderBy("item", "rn")
    )


# --- KL and Jensen-Shannon divergence over fixed bins --------------------------------
# Purchase vs view value distributions over the 8 fixed bands with
# +0.5 Laplace smoothing; every ln term pre-rounds at 9dp and sums as
# DECIMAL(28,9). The full-outer band alignment keeps a band present in
# only one distribution from silently vanishing.
_KLJS_SQL = """
    WITH s AS (
      SELECT least(CAST(floor(value / 40) AS INT), 7) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')),
    b AS (
      SELECT bin, CAST(sum(y) AS BIGINT) AS cp,
             CAST(count(*) - sum(y) AS BIGINT) AS cq
      FROM s GROUP BY bin),
    t AS (
      SELECT bin,
             (cp + 0.5) / (sum(cp) OVER () + 4.0) AS p,
             (cq + 0.5) / (sum(cq) OVER () + 4.0) AS q
      FROM b),
    terms AS (
      SELECT
        CAST(round(p * ln(p / q), 9) AS DECIMAL(28,9)) AS kl_pq_t,
        CAST(round(q * ln(q / p), 9) AS DECIMAL(28,9)) AS kl_qp_t,
        CAST(round(0.5 * p * ln(p / ((p + q) / 2)) + 0.5 * q * ln(q / ((p + q) / 2)), 9)
             AS DECIMAL(28,9)) AS js_t
      FROM t)
    SELECT round(CAST(sum(kl_pq_t) AS DOUBLE), 6) AS kl_pq,
           round(CAST(sum(kl_qp_t) AS DOUBLE), 6) AS kl_qp,
           round(CAST(sum(js_t) AS DOUBLE), 6) AS js
    FROM terms
"""


@pq("kl_divergence_bins", _KLJS_SQL)
def kl_divergence_bins(spark, sf_dir):
    """KL divergence (both directions) and the symmetric bounded
    Jensen-Shannon divergence between the purchase and view value
    distributions over fixed bands — the drift metrics that complement
    PSI (KL for model-centric monitoring, JS when a metric must stay
    finite and symmetric). Laplace +0.5 smoothing; all ln terms
    pre-round at 9dp and sum as DECIMAL(28,9). Plan: one hash-agg to
    ≤8 cells, windows over those rows, a 1-row finish — scan-bound."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.least(F.floor(F.col("value") / 40).cast("int"), F.lit(7)).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("cp"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("cq"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = b.select(
        ((F.col("cp") + 0.5) / (F.sum("cp").over(wall) + 4.0)).alias("p"),
        ((F.col("cq") + 0.5) / (F.sum("cq").over(wall) + 4.0)).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    terms = t.select(
        F.round(F.col("p") * F.log(F.col("p") / F.col("q")), 9)
        .cast("decimal(28,9)").alias("kl_pq_t"),
        F.round(F.col("q") * F.log(F.col("q") / F.col("p")), 9)
        .cast("decimal(28,9)").alias("kl_qp_t"),
        F.round(
            0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("q") * F.log(F.col("q") / m),
            9,
        ).cast("decimal(28,9)").alias("js_t"),
    )
    return terms.agg(
        F.round(F.sum("kl_pq_t").cast("double"), 6).alias("kl_pq"),
        F.round(F.sum("kl_qp_t").cast("double"), 6).alias("kl_qp"),
        F.round(F.sum("js_t").cast("double"), 6).alias("js"),
    )


# --- weekday seasonality index --------------------------------------------------------
# Index = (avg daily revenue on ISO weekday k) / (overall avg daily
# revenue), from decimal-exact daily sums. ISO weekday: Spark
# weekday()+1 == DuckDB isodow (Mon=1..Sun=7).
_WKIDX_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             isodow(o_orderdate) AS dow,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2),
    per AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days, sum(rev) AS rev_dow
      FROM daily GROUP BY dow),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all, sum(rev) AS rev_all FROM daily)
    SELECT CAST(dow AS INT) AS dow, n_days,
           round(CAST(rev_dow AS DOUBLE) / n_days, 2) AS avg_daily_rev,
           round((CAST(rev_dow AS DOUBLE) / n_days)
                 / (CAST(rev_all AS DOUBLE) / n_all), 6) AS season_idx
    FROM per CROSS JOIN tot
    ORDER BY dow
"""


@pq("seasonal_weekday_index", _WKIDX_SQL)
def seasonal_weekday_index(spark, sf_dir):
    """Weekday seasonality indices of order revenue: average daily
    revenue per ISO weekday relative to the overall daily average —
    the multiplicative seasonal profile a demand forecaster divides
    out first. Daily sums are DECIMAL-exact; each index is a ratio of
    two exact aggregates with the divisions done in the same order on
    both engines. ISO weekday aligns Spark's weekday()+1 with DuckDB's
    isodow. Plan: one day-keyed agg (bounded rows), then 7-row
    algebra."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        (F.weekday("o_orderdate") + 1).alias("dow"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    per = daily.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_days"), F.sum("rev").alias("rev_dow")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n_all"), F.sum("rev").alias("rev_all")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            F.round(F.col("rev_dow").cast("double") / F.col("n_days"), 2).alias("avg_daily_rev"),
            F.round(
                (F.col("rev_dow").cast("double") / F.col("n_days"))
                / (F.col("rev_all").cast("double") / F.col("n_all")),
                6,
            ).alias("season_idx"),
        )
        .orderBy("dow")
    )


# --- new vs returning users per day ----------------------------------------------------
# An event is a user's FIRST (row_number over ts, event_id) or a
# return visit; the daily report counts first-time users, returning
# events, and distinct actives — the product-analytics daily triplet.
_NEWRET_SQL = """
    WITH r AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS returning_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM r GROUP BY 1 ORDER BY d
"""


@pq("events_new_vs_returning", _NEWRET_SQL)
def events_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning split: each event is classified as its
    user's first-ever event (row_number over (ts, event_id) — the
    deterministic tie-break matters when two events share a
    microsecond) or a return visit, then the day grain reports new
    users, returning events, and distinct actives. Plan: one window
    shuffle on user_id, one day-keyed agg with a distinct count — the
    same two-exchange shape as sessionization; first-touch state could
    fold incrementally via the checkpoint table for streaming
    ingest."""
    e = _t(spark, sf_dir, "events")
    r = e.select(
        "user_id",
        "ts",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    return (
        r.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("new_users"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("returning_events"),
            F.countDistinct("user_id").cast("bigint").alias("active_users"),
        )
        .orderBy("d")
    )
