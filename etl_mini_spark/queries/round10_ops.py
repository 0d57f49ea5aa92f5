"""Registry queries: rank statistics, BI decompositions, corpus laws,
and source/DQ ops, each checked against its DuckDB oracle.

Parity rules as in round9_ops: integer/decimal arithmetic end-to-end,
libm terms pre-rounded at 9dp and summed as DECIMAL(28,9), ranks via
the twice-the-midrank integer (2·rank + tiecount − 1), fixed bin
edges, md5-bucket portable randomness, deterministic tie-breaks on
every rank/limit. No rank ever rides on a libm value.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t
from etl_mini_spark.queries._base import q as pq


# --- Spearman rank correlation ---------------------------------------------------
# Daily (revenue, order count) pairs; both variables converted to
# twice-the-midrank integers (2·rank + ties − 1, exact under ties), and
# rho is the Pearson formula over those INTEGERS — sums stay BIGINT,
# one double finish.
_SPEARMAN_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    r AS (
      SELECT
        2 * rank() OVER (ORDER BY rev) + count(*) OVER (PARTITION BY rev) - 1 AS rx,
        2 * rank() OVER (ORDER BY cnt) + count(*) OVER (PARTITION BY cnt) - 1 AS ry
      FROM daily),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM r)
    SELECT n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6) AS spearman_rho
    FROM s
"""


@pq("spearman_rank_corr", _SPEARMAN_SQL)
def spearman_rank_corr(spark, sf_dir):
    """Spearman rank correlation between daily revenue and daily order
    count — the monotone-association screen that ignores outliers
    Pearson chokes on. Both series become twice-the-midrank INTEGERS
    (2·rank + tiecount − 1, exact under ties), so every sufficient
    statistic is a BIGINT sum and rho is one double formula. Plan: one
    day-keyed agg (bounded rows/year), two rank windows over the tiny
    daily table, a 1-row finish — the fact scan dominates at any
    scale."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    r = daily.select(
        (
            2 * F.rank().over(Window.orderBy("rev"))
            + F.count("*").over(Window.partitionBy("rev"))
            - 1
        ).alias("rx"),
        (
            2 * F.rank().over(Window.orderBy("cnt"))
            + F.count("*").over(Window.partitionBy("cnt"))
            - 1
        ).alias("ry"),
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
    )
    return s.select(
        "n",
        F.round(
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
                * (F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


# --- Mann-Whitney U with tie-corrected normal approximation ------------------------
# 2·U1 = Σ_1 mr2 − 2·n1(n1+1)/2 stays integer; the tie correction
# Σ(t³−t) is an integer sum over distinct scores; only z divides.
_MWU_SQL = """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
      FROM events WHERE event_type IN ('purchase', 'view')),
    r AS (
      SELECT g,
             2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1 AS mr2
      FROM s),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v)),
    agg AS (
      SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN g = 1 THEN mr2 ELSE 0 END) AS BIGINT) AS mr2_1
      FROM r)
    SELECT n1, n2,
           round((mr2_1 - n1 * (n1 + 1)) / 2.0, 1) AS u1,
           round(((mr2_1 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
                 / sqrt((n1 * 1.0 * n2 / 12.0)
                        * ((n1 + n2 + 1)
                           - tie3 / (1.0 * (n1 + n2) * (n1 + n2 - 1)))), 6) AS z
    FROM agg CROSS JOIN ties
"""


@pq("mann_whitney_u", _MWU_SQL)
def mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U test (purchase vs view values) with the
    tie-corrected normal approximation — the nonparametric two-sample
    location test. The rank sum uses the twice-the-midrank integer, so
    2·U1 is exact BIGINT; the tie correction Σ(t³−t) is an integer sum
    over distinct values; z is the only float expression. Plan (r11:
    the raw-row rank window became the histogram fold): midranks come
    from operators/ranks.value_midranks — one keyed agg to the value
    histogram, a cumulative window over the bounded distinct-value
    domain, and a per-(group, value) count fold against the
    histogram's r2; the fact rows are never globally sorted. Same
    shape as roc_auc_exact, which is no accident (AUC = U/(n1·n2))."""
    from etl_mini_spark.operators.ranks import value_midranks

    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
    )
    gv = s.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("cnt"))
    hv = value_midranks(s, "v")
    ties = hv.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("bigint").alias("tie3")
    )
    r = gv.join(F.broadcast(hv.select("v", "r2")), "v")
    agg = r.agg(
        F.sum(F.when(F.col("g") == 1, F.col("cnt")).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("cnt")).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("cnt") * F.col("r2")).otherwise(0))
        .cast("bigint").alias("mr2_1"),
    )
    u1 = (F.col("mr2_1") - F.col("n1") * (F.col("n1") + 1)) / 2.0
    n = F.col("n1") + F.col("n2")
    var = (F.col("n1") * 1.0 * F.col("n2") / 12.0) * (
        (n + 1) - F.col("tie3") / (1.0 * n * (n - 1))
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n1",
        "n2",
        F.round(u1, 1).alias("u1"),
        F.round((u1 - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(var), 6).alias("z"),
    )


# --- one-way ANOVA F ------------------------------------------------------------------
# Group sums of x and x² are DECIMAL-exact; the five between-group
# terms S_g²/n_g pre-round at 9dp and sum as DECIMAL(28,9); F is the
# final double ratio.
_ANOVA_SQL = """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,2)) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))
               * CAST(value AS DECIMAL(18,2)) AS x2
      FROM events),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g, sum(x) AS s_g, sum(x2) AS ss_g
      FROM base GROUP BY g),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(s_g) AS s, sum(ss_g) AS ss,
             sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g, 9)
                      AS DECIMAL(28,9))) AS bsum
      FROM per)
    SELECT n, k,
           round(CAST(bsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6) AS ssb,
           round(CAST(ss AS DOUBLE) - CAST(bsum AS DOUBLE), 6) AS ssw,
           round(((CAST(bsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
                 / ((CAST(ss AS DOUBLE) - CAST(bsum AS DOUBLE)) / (n - k)), 6) AS f_stat
    FROM tot
"""


@pq("anova_oneway_f", _ANOVA_SQL)
def anova_oneway_f(spark, sf_dir):
    """One-way ANOVA F statistic of value across the five event types —
    the does-the-group-matter omnibus test. Per-group Σx and Σx² are
    DECIMAL-exact; the k between-group terms S_g²/n_g pre-round at 9dp
    and accumulate as DECIMAL(28,9); SSB/SSW/F are formed with the
    identical double expressions on both engines. Plan: one hash-agg to
    k rows, then scalar algebra — scan-bound at 100 TB."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("g"),
        F.col("value").cast("decimal(18,2)").alias("x"),
        (
            F.col("value").cast("decimal(18,2)").cast("decimal(38,4)")
            * F.col("value").cast("decimal(18,2)")
        ).alias("x2"),
    )
    per = base.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum("x2").alias("ss_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.round(
                F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g"), 9
            ).cast("decimal(28,9)")
        ).alias("bsum"),
    )
    ssb = F.col("bsum").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ssw = F.col("ss").cast("double") - F.col("bsum").cast("double")
    return tot.select(
        "n",
        "k",
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6).alias("f_stat"),
    )


# --- Durbin-Watson statistic ------------------------------------------------------------
# Over the observed daily revenue series: DW = ΣΔ²/Σe², where the mean
# cancels in the differences, so the numerator is a DECIMAL sum of
# exact squared deltas and the denominator is (nΣx²−(Σx)²)/n from
# exact decimals — ONE double division total.
_DW_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY 1),
    lagd AS (
      SELECT x, lag(x) OVER (ORDER BY d) AS xp FROM daily),
    num AS (
      SELECT sum(CAST(x - xp AS DECIMAL(38,4)) * (x - xp)) AS sdd
      FROM lagd WHERE xp IS NOT NULL),
    den AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
             sum(CAST(x AS DECIMAL(38,4)) * x) AS sxx
      FROM daily)
    SELECT n,
           round(CAST(sdd AS DOUBLE) * n
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS dw
    FROM num CROSS JOIN den
"""


@pq("durbin_watson_autocorr", _DW_SQL)
def durbin_watson_autocorr(spark, sf_dir):
    """Durbin-Watson statistic of the observed daily revenue series
    (DW ≈ 2 means no lag-1 autocorrelation; < 2 positive) — the
    regression-residual serial-correlation check, computed on deviations
    from the mean. The mean CANCELS in the first differences, so the
    numerator ΣΔ² is a pure decimal sum of exact squared deltas, the
    denominator Σe² = (nΣx² − (Σx)²)/n comes from exact decimals, and
    the whole statistic is one double division. Plan: one day agg, one
    lag window over the tiny daily series, two scalar aggregates."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    lagd = daily.select("x", F.lag("x").over(Window.orderBy("d")).alias("xp"))
    num = lagd.filter(F.col("xp").isNotNull()).agg(
        F.sum((F.col("x") - F.col("xp")).cast("decimal(38,4)") * (F.col("x") - F.col("xp"))).alias("sdd")
    )
    den = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("x")).alias("sxx"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        "n",
        F.round(
            F.col("sdd").cast("double") * F.col("n")
            / (
                F.col("n") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            6,
        ).alias("dw"),
    )


# --- weekday seasonality strength (eta-squared) -----------------------------------------
# Variance in daily revenue explained by ISO weekday: eta² = SSB/SST,
# same decimal discipline as ANOVA but reported as the forecaster's
# "seasonality strength" scalar alongside per-group spread.
_ETA_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, isodow(o_orderdate) AS dow,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY 1, 2),
    per AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_g,
             sum(x) AS s_g,
             sum(CAST(x AS DECIMAL(38,4)) * x) AS ss_g
      FROM daily GROUP BY dow),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(ss_g) AS ss,
             sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g, 9)
                      AS DECIMAL(28,9))) AS bsum
      FROM per)
    SELECT n,
           round((CAST(bsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n), 6)
             AS eta_sq
    FROM tot
"""


@pq("seasonal_strength_eta", _ETA_SQL)
def seasonal_strength_eta(spark, sf_dir):
    """Seasonality strength: the share of daily-revenue variance
    explained by ISO weekday (eta² = SSB/SST) — the scalar a
    forecasting pipeline checks before bothering with a weekly
    component. Same decimal-exact sufficient statistics as the ANOVA
    entry (Σx, Σx² decimal; the 7 between-group terms 9dp-rounded into
    a DECIMAL(28,9) sum); eta² is one double ratio. Plan: day agg →
    7-row agg → scalar."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"), (F.weekday("o_orderdate") + 1).alias("dow")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    per = daily.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("x")).alias("ss_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.round(
                F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g"), 9
            ).cast("decimal(28,9)")
        ).alias("bsum"),
    )
    sst = F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ssb = F.col("bsum").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    return tot.select("n", F.round(ssb / sst, 6).alias("eta_sq"))


# --- Holt linear (double-exponential) smoothing ---------------------------------------
# The level/trend recursion is NOT a windowed aggregate — it is the
# canonical "custom stateful op" case: Spark runs it as one
# applyInPandas pass per series key; the oracle replays it as a
# recursive CTE. BOTH sides evaluate the IDENTICAL IEEE expression
# sequence (l' = 0.5·x + 0.5·(l+b); b' = 0.3·(l'−l) + 0.7·b), so the
# doubles agree bit-for-bit and 6dp rounding is display only.
_HOLT_SQL = """
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily),
    rec AS (
      SELECT s1.event_type, CAST(1 AS BIGINT) AS i,
             s1.x AS l, s2.x - s1.x AS b, s1.x AS f
      FROM ser s1 JOIN ser s2
        ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
      UNION ALL
      SELECT r.event_type, r.i + 1,
             0.5 * s.x + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b,
             r.l + r.b
      FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.i = r.i + 1)
    SELECT rec.event_type AS event_type, ser.d AS d,
           floor(rec.l * 1000000 + 0.5) / 1000000 AS level,
           floor(rec.b * 1000000 + 0.5) / 1000000 AS trend,
           floor(rec.f * 1000000 + 0.5) / 1000000 AS fitted
    FROM rec JOIN ser ON rec.event_type = ser.event_type AND rec.i = ser.i
    ORDER BY 1, 2
"""


@pq("holt_linear_trend", _HOLT_SQL)
def holt_linear_trend(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend, α=0.5 β=0.3)
    of each event type's daily revenue, with the one-step-ahead fitted
    value — the sequential recursion no window aggregate expresses.
    Spark side: one Arrow-batched applyInPandas pass per series key;
    oracle side: a recursive CTE. Both evaluate the IDENTICAL IEEE
    expression sequence, so the trajectories agree bit-for-bit — this
    entry is the differential test for custom stateful operators. Plan:
    one day agg, one shuffle on the series key, then O(days) sequential
    work per key in parallel across keys — at 100 TB the keys (series)
    parallelize; the recursion length is bounded by the calendar."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = pdf["x"].to_numpy()
        if len(xs) < 2:
            # A 1-point series has no defined trend (b1 = x2 - x1 needs
            # the future point): drop it, exactly as the recursive-CTE
            # oracle does (its base case requires i=2 to exist) and as
            # the incremental sink does (day 1 is withheld until day 2
            # arrives). Pinned by test_holt_single_point_series_dropped.
            return pd.DataFrame(
                {"event_type": pd.Series([], dtype=str), "d": pd.Series([], dtype=str),
                 "level": pd.Series([], dtype=float), "trend": pd.Series([], dtype=float),
                 "fitted": pd.Series([], dtype=float)}
            )
        l = xs[0]
        b = xs[1] - xs[0]
        ls, bs, fs = [l], [b], [xs[0]]
        for t in range(1, len(xs)):
            f = l + b
            l_new = 0.5 * xs[t] + 0.5 * (l + b)
            b_new = 0.3 * (l_new - l) + 0.7 * b
            l, b = l_new, b_new
            ls.append(l)
            bs.append(b)
            fs.append(f)
        return pd.DataFrame(
            {"event_type": pdf["event_type"], "d": pdf["d"],
             "level": ls, "trend": bs, "fitted": fs}
        )

    out = daily.groupBy("event_type").applyInPandas(
        holt, schema="event_type string, d string, level double, trend double, fitted double"
    )
    def pin6(c):
        # floor(x*1e6+0.5)/1e6: the repo's pinned HALF_UP — identical on
        # both engines even when a trajectory double lands 1 ulp from a
        # 6dp half boundary (the sf0.1 sweep caught round() diverging)
        return F.floor(F.col(c) * 1_000_000 + F.lit(0.5)) / 1_000_000

    return out.select(
        "event_type", "d",
        pin6("level").alias("level"),
        pin6("trend").alias("trend"),
        pin6("fitted").alias("fitted"),
    ).orderBy("event_type", "d")


# --- cohort LTV accumulation curves -----------------------------------------------------
# Cohort = a customer's first order month; the curve is cumulative
# revenue per cohort member by months-since-first-order. Month math is
# integer (y*12+m); revenue decimal; the per-customer normalization is
# the single double division.
_LTV_SQL = """
    WITH fo AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS cohort_ym
      FROM orders GROUP BY o_custkey),
    sized AS (
      SELECT cohort_ym, CAST(count(*) AS BIGINT) AS n_cust FROM fo GROUP BY cohort_ym),
    facts AS (
      SELECT fo.cohort_ym,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1) - fo.cohort_ym AS age,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey),
    agg AS (
      SELECT cohort_ym, age, sum(rev) AS rev_age
      FROM facts GROUP BY cohort_ym, age),
    cum AS (
      SELECT cohort_ym, age,
             sum(rev_age) OVER (PARTITION BY cohort_ym ORDER BY age) AS cum_rev
      FROM agg)
    SELECT CAST(floor(cohort_ym / 12) AS BIGINT) AS cohort_y,
           CAST(cohort_ym % 12 + 1 AS INT) AS cohort_m,
           CAST(age AS INT) AS age,
           floor(CAST(cum_rev AS DOUBLE) / n_cust * 100 + 0.5) / 100 AS ltv_per_cust
    FROM cum JOIN sized USING (cohort_ym)
    WHERE age <= 12
    ORDER BY cohort_y, cohort_m, age
"""


@pq("cohort_ltv_curve", _LTV_SQL)
def cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by
    first-order month, cumulative revenue per cohort member tracked by
    months-since-first-order (first year shown) — the curve
    subscription and retail growth models are fit on. Month arithmetic
    is integer (y·12+m; the label splits it back with floor/mod),
    revenue accumulates as DECIMAL, and the per-member normalization is
    the single double op. Plan: one custkey agg for cohorts (broadcast
    back over orders), one (cohort, age) agg, a prefix sum over the
    tiny curve table."""
    o = _t(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    fo = o.groupBy("o_custkey").agg(F.min(ym).alias("cohort_ym"))
    sized = fo.groupBy("cohort_ym").agg(F.count("*").cast("bigint").alias("n_cust"))
    facts = o.join(F.broadcast(fo), "o_custkey").select(
        "cohort_ym",
        (ym - F.col("cohort_ym")).alias("age"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    agg = facts.groupBy("cohort_ym", "age").agg(F.sum("rev").alias("rev_age"))
    cum = agg.select(
        "cohort_ym",
        "age",
        F.sum("rev_age").over(
            Window.partitionBy("cohort_ym").orderBy("age")
        ).alias("cum_rev"),
    )
    return (
        cum.join(F.broadcast(sized), "cohort_ym")
        .filter(F.col("age") <= 12)
        .select(
            F.floor(F.col("cohort_ym") / 12).cast("bigint").alias("cohort_y"),
            (F.col("cohort_ym") % 12 + 1).cast("int").alias("cohort_m"),
            F.col("age").cast("int").alias("age"),
            (F.floor(F.col("cum_rev").cast("double") / F.col("n_cust") * 100 + F.lit(0.5)) / 100).alias("ltv_per_cust"),
        )
        .orderBy("cohort_y", "cohort_m", "age")
    )


# --- 2-D histogram with margins -----------------------------------------------------------
# Fixed grid: 8 value bands × 6 hour-of-day bands; counts plus row and
# column marginal shares — all ratios of exact BIGINTs.
_H2D_SQL = """
    WITH g AS (
      SELECT least(CAST(floor(value / 40) AS INT), 7) AS vband,
             CAST(floor(hour(ts) / 4) AS INT) AS hband,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT vband, hband, n,
           round(n / (1.0 * sum(n) OVER (PARTITION BY vband)), 6) AS row_share,
           round(n / (1.0 * sum(n) OVER (PARTITION BY hband)), 6) AS col_share,
           round(n / (1.0 * sum(n) OVER ()), 6) AS cell_share
    FROM g ORDER BY vband, hband
"""


@pq("histogram2d_margins", _H2D_SQL)
def histogram2d_margins(spark, sf_dir):
    """Two-dimensional histogram on a FIXED grid (8 value bands × 6
    hour-of-day bands) with row, column, and global marginal shares —
    the heatmap backing table for any value-by-time-of-day panel.
    Fixed edges keep the grid engine-stable; all shares are ratios of
    exact counts. Plan: one hash-agg to ≤48 cells, margin windows over
    those cells — the scan is the entire cost at scale."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy(
        F.least(F.floor(F.col("value") / 40).cast("int"), F.lit(7)).alias("vband"),
        F.floor(F.hour("ts") / 4).cast("int").alias("hband"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    return g.select(
        "vband",
        "hband",
        "n",
        F.round(F.col("n") / (1.0 * F.sum("n").over(Window.partitionBy("vband"))), 6).alias("row_share"),
        F.round(F.col("n") / (1.0 * F.sum("n").over(Window.partitionBy("hband"))), 6).alias("col_share"),
        F.round(
            F.col("n")
            / (1.0 * F.sum("n").over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))),
            6,
        ).alias("cell_share"),
    ).orderBy("vband", "hband")


# --- confusion matrices at fixed thresholds --------------------------------------------
# The integer milli-probability score from brier_calibration_bins cut
# at 300/500/700: TP/FP/TN/FN are exact counts; accuracy, precision,
# recall, and F1 = 2TP/(2TP+FP+FN) are single integer-ratio divisions.
_CONF_SQL = """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':p9'), 1, 15))
                   AS BIGINT) % 700)
             + CASE WHEN event_type = 'purchase' THEN 300 ELSE 0 END AS p_milli
      FROM events WHERE event_type IN ('purchase', 'view')),
    thr AS (SELECT unnest([300, 500, 700]) AS thr),
    m AS (
      SELECT thr,
             CAST(sum(CASE WHEN p_milli >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p_milli >= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p_milli < thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN p_milli < thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM s CROSS JOIN thr GROUP BY thr)
    SELECT CAST(thr AS INT) AS thr, tp, fp, tn, fn,
           round((tp + tn) / (1.0 * (tp + fp + tn + fn)), 6) AS accuracy,
           round(tp / (1.0 * (tp + fp)), 6) AS precision_,
           round(tp / (1.0 * (tp + fn)), 6) AS recall_,
           round(2 * tp / (1.0 * (2 * tp + fp + fn)), 6) AS f1
    FROM m ORDER BY thr
"""


@pq("confusion_matrix_thresholds", _CONF_SQL)
def confusion_matrix_thresholds(spark, sf_dir):
    """Confusion matrices (TP/FP/TN/FN with accuracy, precision,
    recall, F1) at three fixed operating points over the deterministic
    milli-probability score — the table that turns a ranking metric
    into a deployment decision. Every figure is a ratio of exact
    BIGINTs (F1 via the single-division 2TP/(2TP+FP+FN) identity).
    Plan: one narrow projection crossed with a 3-row threshold literal
    (bounded broadcast), one 3-cell agg."""
    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "view"))
    s = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            hash_bucket(F.col("event_id"), "p9", 700)
            + F.when(F.col("event_type") == "purchase", 300).otherwise(0)
        ).alias("p_milli"),
    )
    thr = spark.range(1).select(
        F.explode(F.array(F.lit(300), F.lit(500), F.lit(700))).alias("thr")
    )
    m = (
        s.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("p_milli") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint").alias("tp"),
            F.sum(F.when((F.col("p_milli") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint").alias("fp"),
            F.sum(F.when((F.col("p_milli") < F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint").alias("tn"),
            F.sum(F.when((F.col("p_milli") < F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint").alias("fn"),
        )
    )
    tot = F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn")
    return m.select(
        F.col("thr").cast("int").alias("thr"),
        "tp", "fp", "tn", "fn",
        F.round((F.col("tp") + F.col("tn")) / (1.0 * tot), 6).alias("accuracy"),
        F.round(F.col("tp") / (1.0 * (F.col("tp") + F.col("fp"))), 6).alias("precision_"),
        F.round(F.col("tp") / (1.0 * (F.col("tp") + F.col("fn"))), 6).alias("recall_"),
        F.round(2 * F.col("tp") / (1.0 * (2 * F.col("tp") + F.col("fp") + F.col("fn"))), 6).alias("f1"),
    ).orderBy("thr")


# --- feature-hashing collision audit ----------------------------------------------------
# Vocabulary hashed into 256 buckets with the portable md5 bucket;
# occupancy and max load are exact integers, and the birthday-problem
# expectation m·(1−(1−1/m)^v) is one libm pow for display.
_FHASH_SQL = """
    WITH tok AS (
      SELECT DISTINCT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    h AS (
      SELECT t,
             (CAST(concat('0x', substr(md5(t || ':fh'), 1, 15)) AS BIGINT) % 100000) % 256 AS b
      FROM tok),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab,
             CAST(count(DISTINCT b) AS BIGINT) AS occupied
      FROM h),
    ml AS (
      SELECT CAST(max(cnt) AS BIGINT) AS max_load
      FROM (SELECT b, count(*) AS cnt FROM h GROUP BY b) g)
    SELECT vocab, occupied, max_load,
           CAST(vocab - occupied AS BIGINT) AS collided,
           round(256 * (1 - pow(255.0 / 256.0, vocab)), 6) AS expected_occupied
    FROM s CROSS JOIN ml
"""


@pq("feature_hash_collision_audit", _FHASH_SQL)
def feature_hash_collision_audit(spark, sf_dir):
    """Feature-hashing (hashing-trick) collision audit: the vocabulary
    hashed into 256 buckets with the engine-portable md5 bucket,
    reporting occupancy, max bucket load, collided-token count, and
    the birthday-problem expectation m·(1−(1−1/m)^v) to compare
    against. Occupancy/load are exact integers; the expectation is one
    display pow. Plan: one distinct over tokens, one 256-cell agg —
    vocabulary-sized work regardless of corpus size."""
    d = _t(spark, sf_dir, "documents")
    from etl_mini_spark.operators.sampling import hash_bucket

    tok = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("t")
    ).distinct()
    h = tok.select("t", (hash_bucket(F.col("t"), "fh") % 256).alias("b"))
    loads = h.groupBy("b").agg(F.count("*").alias("cnt"))
    s = h.agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.countDistinct("b").cast("bigint").alias("occupied"),
    ).crossJoin(F.broadcast(loads.agg(F.max("cnt").cast("bigint").alias("max_load"))))
    return s.select(
        "vocab",
        "occupied",
        "max_load",
        (F.col("vocab") - F.col("occupied")).cast("bigint").alias("collided"),
        F.round(256 * (1 - F.pow(F.lit(255.0 / 256.0), F.col("vocab"))), 6).alias(
            "expected_occupied"
        ),
    )


# --- BM25 document scoring ----------------------------------------------------------
# Okapi BM25 (k1=1.2, b=0.75) for a fixed three-term query. tf/df/dl
# are exact integers, avgdl is one integer ratio; each (doc, term)
# contribution pre-rounds at 9dp and sums per doc as DECIMAL(28,9), so
# the ranking key is an exact decimal and the tie-break is doc_id.
_BM25_SQL = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_toks
      FROM dl),
    q AS (SELECT unnest(['spark', 'join', 'window']) AS t),
    tf AS (
      SELECT toks.doc_id, toks.t, CAST(count(*) AS BIGINT) AS tf
      FROM toks JOIN q ON toks.t = q.t
      GROUP BY toks.doc_id, toks.t),
    df AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY t),
    terms AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.total_toks / (1.0 * s.n_docs)))),
               9) AS DECIMAL(28,9)) AS term
      FROM tf JOIN df ON tf.t = df.t
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s),
    scored AS (
      SELECT doc_id, sum(term) AS score_d FROM terms GROUP BY doc_id)
    SELECT doc_id, round(CAST(score_d AS DOUBLE), 6) AS bm25
    FROM scored ORDER BY score_d DESC, doc_id LIMIT 20
"""


@pq("bm25_topk_docs", _BM25_SQL)
def bm25_topk_docs(spark, sf_dir):
    """Okapi BM25 top-20 documents for a fixed three-term query — the
    lexical-retrieval scorer every search/RAG pipeline starts from.
    tf/df/doclen are exact integers; each per-(doc, term) contribution
    pre-rounds at 9dp and sums per document as DECIMAL(28,9), so the
    ORDER BY rides on an exact decimal (doc_id tie-break), never on
    accumulated libm noise. Plan: one token scan feeding tf (filtered
    to the query terms by a broadcast semi-join — the corpus never
    shuffles on token), tiny df/dl/stat aggregates broadcast back, one
    top-k."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("t"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_toks"),
    )
    q = spark.range(1).select(
        F.explode(F.array(F.lit("spark"), F.lit("join"), F.lit("window"))).alias("t")
    )
    tf = toks.join(F.broadcast(q), "t").groupBy("doc_id", "t").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("t").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    terms = (
        tf.join(F.broadcast(df_), "t")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf") * 2.2
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / (F.col("total_toks") / (1.0 * F.col("n_docs"))))
                ),
                9,
            ).cast("decimal(28,9)").alias("term"),
        )
    )
    scored = terms.groupBy("doc_id").agg(F.sum("term").alias("score_d"))
    return (
        scored.orderBy(F.col("score_d").desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.round(F.col("score_d").cast("double"), 6).alias("bm25"))
    )


# --- character trigram profile -------------------------------------------------------
# The lang-ID feature extractor: top character trigrams per language by
# exact count (integer ranks, trigram tie-break). Spark expands via
# transform(sequence(...)); the oracle via a list comprehension.
_CNGRAM_SQL = """
    WITH tg AS (
      SELECT lang,
             unnest([substr(text, CAST(i AS INT), 3)
                     for i in range(1, length(text) - 1)]) AS tri
      FROM documents),
    c AS (
      SELECT lang, tri, CAST(count(*) AS BIGINT) AS n
      FROM tg GROUP BY lang, tri),
    r AS (
      SELECT lang, tri, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS rn
      FROM c)
    SELECT lang, tri, n, CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 10
    ORDER BY lang, rn
"""


@pq("char_ngram_profile", _CNGRAM_SQL)
def char_ngram_profile(spark, sf_dir):
    """Per-language character-trigram profile (top 10 by exact count,
    trigram tie-break) — the classic lang-ID feature table: char
    n-gram distributions separate languages better than words and need
    no tokenizer. Trigrams expand IN-ROW (transform over a sequence —
    narrow, no join), counts aggregate once on (lang, trigram), and
    ranks ride on integers only. Plan: one keyed agg over the expanded
    stream + a per-lang top-k window over the tiny profile table."""
    d = _t(spark, sf_dir, "documents")
    tg = d.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ).alias("tri"),
    )
    c = tg.groupBy("lang", "tri").agg(F.count("*").cast("bigint").alias("n"))
    r = c.select(
        "lang", "tri", "n",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("n").desc(), "tri"))
        .alias("rn"),
    )
    return (
        r.filter(F.col("rn") <= 10)
        .select("lang", "tri", "n", F.col("rn").cast("int").alias("rn"))
        .orderBy("lang", "rn")
    )


# --- regexp_extract_all suite ----------------------------------------------------------
# Vectorized multi-match extraction: all >=5-char tokens per document
# (thinned doc_id % 7 = 0), with match count, first and last match —
# Spark's regexp_extract_all + element_at vs DuckDB's list ops.
_REXALL_SQL = """
    SELECT doc_id,
           CAST(len(m) AS INT) AS n_matches,
           CASE WHEN len(m) > 0 THEN m[1] ELSE NULL END AS first_match,
           CASE WHEN len(m) > 0 THEN m[-1] ELSE NULL END AS last_match
    FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]{5,}') AS m
          FROM documents WHERE doc_id % 7 = 0)
    ORDER BY doc_id
"""


@pq("regex_extract_all_suite", _REXALL_SQL)
def regex_extract_all_suite(spark, sf_dir):
    """Multi-match regex extraction — regexp_extract_all with count /
    first / last accessors, the workhorse of log scraping and pattern
    mining — exercised identically on both engines (Spark element_at
    handles the ±index access like DuckDB's list indexing). Plan: pure
    per-row expressions, zero shuffles; at scale this is a codegen'd
    projection pass."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    m = d.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit("[a-z]{5,}"), F.lit(0)).alias("m"),
    )
    has = F.size("m") > 0
    return m.select(
        "doc_id",
        F.size("m").cast("int").alias("n_matches"),
        F.when(has, F.element_at("m", 1)).alias("first_match"),
        F.when(has, F.element_at("m", -1)).alias("last_match"),
    ).orderBy("doc_id")


# --- degree histogram of the co-purchase graph ------------------------------------------
# Node degree = distinct co-purchase partners; the histogram and its
# cumulative share describe the graph's tail (all exact integers).
_DEGHIST_SQL = """
    WITH d AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pk AS p1, b.pk AS p2
      FROM d a JOIN d b ON a.ok = b.ok AND a.pk < b.pk),
    bidir AS (
      SELECT p1 AS node, p2 AS nb FROM edges
      UNION ALL SELECT p2, p1 FROM edges),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM bidir GROUP BY node),
    h AS (
      SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree)
    SELECT degree, n_nodes,
           round(sum(n_nodes) OVER (ORDER BY degree)
                 / (1.0 * sum(n_nodes) OVER ()), 6) AS cum_share
    FROM h ORDER BY degree
"""


@pq("graph_degree_histogram", _DEGHIST_SQL)
def graph_degree_histogram(spark, sf_dir):
    """Degree histogram of the part co-purchase graph (degree =
    distinct basket partners) with the cumulative node share — the
    first structural profile of any graph (is the tail power-law or
    capped?). Edges come from bounded per-order pair expansion, the
    DISTINCT collapses multi-edges, and everything downstream is
    integer. Plan: pair expansion per order (basket-size bounded), one
    distinct, one degree agg, windows over the tiny histogram."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")).distinct()
    a = d.alias("a")
    b = d.alias("b")
    edges = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .distinct()
    )
    # symmetrize by exploding both orientations inline: the unionAll of
    # two selects over the SAME edges subtree re-ran the basket
    # self-join + distinct once per direction (guide 2.4)
    bidir = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("node"), F.col("p2").alias("nb")),
                F.struct(F.col("p2").alias("node"), F.col("p1").alias("nb")),
            )
        ).alias("s")
    ).select("s.node", "s.nb")
    deg = bidir.groupBy("node").agg(F.count("*").cast("bigint").alias("degree"))
    h = deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("n_nodes"))
    wc = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return h.select(
        "degree",
        "n_nodes",
        F.round(F.sum("n_nodes").over(wc) / (1.0 * F.sum("n_nodes").over(wall)), 6).alias(
            "cum_share"
        ),
    ).orderBy("degree")


# --- price-volume-mix decomposition ------------------------------------------------------
# ΔRevenue between 1996 and 1997, per part present in both years,
# split into price effect (Δp·q0), volume effect (p0·Δq), and the
# cross term (Δp·Δq). Unit prices are ratios of DECIMAL sums; each
# part's effects pre-round at 9dp and total as DECIMAL(28,9).
_PVM_SQL = """
    WITH yr AS (
      SELECT l_partkey AS pk, year(l_shipdate) AS y,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2),
    w AS (
      SELECT a.pk,
             CAST(a.rev AS DOUBLE) / CAST(a.qty AS DOUBLE) AS p0,
             CAST(a.qty AS DOUBLE) AS q0,
             CAST(b.rev AS DOUBLE) / CAST(b.qty AS DOUBLE) AS p1,
             CAST(b.qty AS DOUBLE) AS q1,
             a.rev AS rev0, b.rev AS rev1
      FROM yr a JOIN yr b ON a.pk = b.pk AND a.y = 1996 AND b.y = 1997),
    eff AS (
      SELECT sum(rev0) AS rev0, sum(rev1) AS rev1,
             sum(CAST(round((p1 - p0) * q0, 9) AS DECIMAL(28,9))) AS price_eff,
             sum(CAST(round(p0 * (q1 - q0), 9) AS DECIMAL(28,9))) AS volume_eff,
             sum(CAST(round((p1 - p0) * (q1 - q0), 9) AS DECIMAL(28,9))) AS cross_eff
      FROM w)
    SELECT round(CAST(rev0 AS DOUBLE), 2) AS rev0,
           round(CAST(rev1 AS DOUBLE), 2) AS rev1,
           round(CAST(price_eff AS DOUBLE), 2) AS price_effect,
           round(CAST(volume_eff AS DOUBLE), 2) AS volume_effect,
           round(CAST(cross_eff AS DOUBLE), 2) AS cross_effect
    FROM eff
"""


@pq("price_volume_mix_decomp", _PVM_SQL)
def price_volume_mix_decomp(spark, sf_dir):
    """Price-volume-mix decomposition of the 1996→1997 revenue change
    over parts shipped in BOTH years: ΔR = Σ(Δp·q0 + p0·Δq + Δp·Δq) —
    the finance-BI bridge that says how much of growth was price vs
    units. Yearly per-part revenue/quantity are DECIMAL sums; unit
    prices are one IEEE division each; the three per-part effects
    pre-round at 9dp and total as DECIMAL(28,9). Plan: one
    (part, year)-keyed agg, a self-join on the tiny per-part table,
    one scalar finish."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate").isin(1996, 1997))
    yr = li.groupBy(
        F.col("l_partkey").alias("pk"), F.year("l_shipdate").alias("y")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    a = yr.filter("y = 1996").alias("a")
    b = yr.filter("y = 1997").alias("b")
    w = a.join(b, F.col("a.pk") == F.col("b.pk")).select(
        (F.col("a.rev").cast("double") / F.col("a.qty").cast("double")).alias("p0"),
        F.col("a.qty").cast("double").alias("q0"),
        (F.col("b.rev").cast("double") / F.col("b.qty").cast("double")).alias("p1"),
        F.col("b.qty").cast("double").alias("q1"),
        F.col("a.rev").alias("rev0"),
        F.col("b.rev").alias("rev1"),
    )
    eff = w.agg(
        F.sum("rev0").alias("rev0"),
        F.sum("rev1").alias("rev1"),
        F.sum(
            F.round((F.col("p1") - F.col("p0")) * F.col("q0"), 9).cast("decimal(28,9)")
        ).alias("price_eff"),
        F.sum(
            F.round(F.col("p0") * (F.col("q1") - F.col("q0")), 9).cast("decimal(28,9)")
        ).alias("volume_eff"),
        F.sum(
            F.round((F.col("p1") - F.col("p0")) * (F.col("q1") - F.col("q0")), 9).cast(
                "decimal(28,9)"
            )
        ).alias("cross_eff"),
    )
    return eff.select(
        F.round(F.col("rev0").cast("double"), 2).alias("rev0"),
        F.round(F.col("rev1").cast("double"), 2).alias("rev1"),
        F.round(F.col("price_eff").cast("double"), 2).alias("price_effect"),
        F.round(F.col("volume_eff").cast("double"), 2).alias("volume_effect"),
        F.round(F.col("cross_eff").cast("double"), 2).alias("cross_effect"),
    )


# --- order-independent table checksums -------------------------------------------------
# Cross-engine content checksum: canonical row string → md5 → 15-hex
# BIGINT → SUM as DECIMAL(38,0) (exact, order-free, overflow-free at
# any row count). The float column rides along as its DECIMAL(18,2)
# string rendering, which both engines print identically.
_ROWSUM_SQL = """
    SELECT 'events' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(concat('0x', substr(md5(
                 CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|'
                 || event_type || '|' || strftime(ts, '%Y-%m-%d %H:%M:%S.%f')), 1, 15))
               AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
    FROM events
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(CAST(concat('0x', substr(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|'
                 || o_orderstatus || '|' || o_orderpriority || '|'
                 || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)), 1, 15))
               AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)
    FROM orders
    ORDER BY tbl
"""


@pq("table_row_checksum", _ROWSUM_SQL)
def table_row_checksum(spark, sf_dir):
    """Order-independent table content checksums — the dual-write /
    migration verification primitive: each row renders to a canonical
    string (timestamps at microsecond precision, floats via their
    DECIMAL(18,2) rendering), hashes to a 60-bit integer, and SUMS as
    DECIMAL(38,0), so the checksum is exact, partitioning-independent,
    and overflow-free at any scale. Two tables differing in ANY row
    disagree with probability ~1−2⁻⁶⁰. Plan: narrow per-row hashing +
    one scalar agg per table; at 100 TB this is the cheapest possible
    full-content comparison (one scan, no shuffle, no sort)."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")

    def chk(df, canon):
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
        )

    ev = chk(
        e,
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        ),
    ).select(F.lit("events").alias("tbl"), "n_rows", "checksum")
    od = chk(
        o,
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        ),
    ).select(F.lit("orders").alias("tbl"), "n_rows", "checksum")
    return ev.unionAll(od).orderBy("tbl")


# --- partition-skew advisor ------------------------------------------------------------
# Per-day row counts → the skew diagnosis a partitioning strategy
# needs: max/mean ratio and the integer salt factor ceil(max/mean),
# computed entirely in integer arithmetic.
_SKEWADV_SQL = """
    WITH per AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS total_rows,
             CAST(max(n) AS BIGINT) AS max_day
      FROM per)
    SELECT n_days, total_rows, max_day,
           round(max_day * n_days / (1.0 * total_rows), 4) AS skew_ratio,
           CAST(floor((max_day * n_days + total_rows - 1) / total_rows) AS BIGINT)
             AS salt_factor
    FROM s
"""


@pq("partition_skew_advisor", _SKEWADV_SQL)
def partition_skew_advisor(spark, sf_dir):
    """Partition-skew advisor over the day key: rows per day, the
    max/mean skew ratio, and the recommended salt factor
    ceil(max/mean) — the number a salted repartition or AQE skew
    threshold would use. The ceiling is pure integer arithmetic
    ((max·days + total − 1) div total), so the recommendation is
    engine-exact. Plan: one day-keyed count, one 1-row reduction —
    the metadata query you run BEFORE choosing a partitioning at
    100 TB."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy(F.to_date("ts").alias("d")).agg(F.count("*").cast("bigint").alias("n"))
    s = per.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_day"),
    )
    return s.select(
        "n_days",
        "total_rows",
        "max_day",
        F.round(F.col("max_day") * F.col("n_days") / (1.0 * F.col("total_rows")), 4).alias(
            "skew_ratio"
        ),
        F.floor(
            (F.col("max_day") * F.col("n_days") + F.col("total_rows") - 1) / F.col("total_rows")
        ).cast("bigint").alias("salt_factor"),
    )


# --- GDPR-style erasure audit -----------------------------------------------------------
# Tombstoned users (deterministic user_id % 13 = 0) anti-joined out of
# events; the audit reports per-type before/erased/after counts and a
# REAL residual check (count of tombstoned rows left after erasure).
_ERASE_SQL = """
    WITH tomb AS (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0),
    before AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_before FROM events GROUP BY 1),
    erased AS (
      SELECT e.event_type,
             CAST(count(*) AS BIGINT) AS n_after,
             CAST(sum(CASE WHEN e.user_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_residual
      FROM events e ANTI JOIN tomb t ON e.user_id = t.user_id
      GROUP BY e.event_type)
    SELECT b.event_type, b.n_before,
           CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
           CAST(b.n_before - coalesce(a.n_after, 0) AS BIGINT) AS n_erased,
           coalesce(a.n_residual, 0) = 0 AS clean
    FROM before b LEFT JOIN erased a USING (event_type)
    ORDER BY event_type
"""


@pq("privacy_erasure_audit", _ERASE_SQL)
def privacy_erasure_audit(spark, sf_dir):
    """Right-to-erasure audit: a deterministic tombstone set of users
    is anti-joined out of the event stream, and the report shows
    before/after/erased counts per event type plus a REAL residual
    check (tombstoned rows remaining after erasure — must be zero, and
    is recomputed from the output, not assumed). Plan: the tombstone
    set broadcasts into a left-anti hash join (no fact shuffle), then
    one type-keyed agg — the compliance pass a 100-TB store runs
    nightly. The final report LEFT-joins from `before` (coalescing
    n_after/n_residual to 0): an event type whose rows are ALL
    tombstoned must surface as n_after=0, n_erased=n_before — an inner
    join would silently drop exactly the most-erased category."""
    e = _t(spark, sf_dir, "events")
    tomb = e.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    before = e.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_before"))
    after = (
        e.join(F.broadcast(tomb), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_after"),
            F.sum(F.when(F.col("user_id") % 13 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_residual"),
        )
    )
    return (
        before.join(after, "event_type", "left")
        .select(
            "event_type",
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0)).cast("bigint").alias("n_after"),
            (F.col("n_before") - F.coalesce(F.col("n_after"), F.lit(0)))
            .cast("bigint")
            .alias("n_erased"),
            (F.coalesce(F.col("n_residual"), F.lit(0)) == 0).alias("clean"),
        )
        .orderBy("event_type")
    )


# --- exact discrete shipping-lead percentiles ---------------------------------------------
# Lead time in whole days; p50/p90/p99 are the EXACT order statistics
# (smallest value whose cumulative count reaches ceil(q*n)) — integer
# logic both sides, no interpolation semantics to align.
_LEADPCT_SQL = """
    WITH lead AS (
      SELECT o.o_orderpriority AS pri,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    c AS (
      SELECT pri, days, CAST(count(*) AS BIGINT) AS cnt FROM lead GROUP BY pri, days),
    cum AS (
      SELECT pri, days,
             sum(cnt) OVER (PARTITION BY pri ORDER BY days) AS cum_n,
             sum(cnt) OVER (PARTITION BY pri) AS n
      FROM c)
    SELECT pri, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum_n * 2 >= n THEN days END) AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN days END) AS BIGINT) AS p90_days,
           CAST(min(CASE WHEN cum_n * 100 >= n * 99 THEN days END) AS BIGINT) AS p99_days
    FROM cum GROUP BY pri ORDER BY pri
"""


@pq("shipping_lead_percentiles", _LEADPCT_SQL)
def shipping_lead_percentiles(spark, sf_dir):
    """Exact p50/p90/p99 of order-to-ship lead time (whole days) per
    order priority — the SLA table. Percentiles are exact discrete
    order statistics selected by INTEGER cross-multiplied rank
    comparisons (cum·k ≥ n·q — no float quantile semantics to align
    between engines, no interpolation). Plan: the fact join shuffles
    once on orderkey, then a (priority, days)-keyed agg collapses to a
    tiny value-count table where the windows run."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lead = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    c = lead.groupBy("pri", "days").agg(F.count("*").cast("bigint").alias("cnt"))
    wc = Window.partitionBy("pri").orderBy("days").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("pri")
    cum = c.select(
        "pri", "days",
        F.sum("cnt").over(wc).alias("cum_n"),
        F.sum("cnt").over(wp).alias("n"),
    )
    return (
        cum.groupBy("pri")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(F.when(F.col("cum_n") * 2 >= F.col("n"), F.col("days")))
            .cast("bigint").alias("p50_days"),
            F.min(F.when(F.col("cum_n") * 10 >= F.col("n") * 9, F.col("days")))
            .cast("bigint").alias("p90_days"),
            F.min(F.when(F.col("cum_n") * 100 >= F.col("n") * 99, F.col("days")))
            .cast("bigint").alias("p99_days"),
        )
        .orderBy("pri")
    )


# --- DISTINCT ON semantics ------------------------------------------------------------------
# DuckDB's DISTINCT ON (latest event per user) vs Spark's
# row_number-over-window rewrite — same semantics, the idiomatic form
# on each engine; the ORDER BY tie-break makes the winner unique.
_DISTON_SQL = """
    SELECT DISTINCT ON (user_id)
           user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM events
    ORDER BY user_id, ts DESC, event_id DESC
"""


@pq("sql_distinct_on", _DISTON_SQL)
def sql_distinct_on(spark, sf_dir):
    """Latest event per user — DuckDB's DISTINCT ON against Spark's
    row_number()-over-window rewrite (the canonical translation of
    that Postgres-family idiom). The (ts DESC, event_id DESC) order
    makes the winner unique, so both engines must agree exactly.
    Plan: one window shuffle on user_id with rank-limit pushdown
    (Spark's WindowGroupLimit keeps only the top row per key before
    the sort completes)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# --- fixed-width record parsing -----------------------------------------------------------
# Committed mainframe-style fixture: id(4) name(10) amount(8) date(8).
# Spark reads it as text + substring slices; the oracle reads the same
# file through read_csv with an unused delimiter.
_FW_PATH = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "fixed_width.txt")
assert "'" not in _FW_PATH, f"fixture path contains a quote: {_FW_PATH!r}"
_FW_SQL = f"""
    SELECT CAST(substr(line, 1, 4) AS BIGINT) AS id,
           trim(substr(line, 5, 10)) AS name,
           round(CAST(CAST(substr(line, 15, 8) AS DECIMAL(10,2)) AS DOUBLE), 2) AS amount,
           substr(line, 23, 4) || '-' || substr(line, 27, 2) || '-' || substr(line, 29, 2) AS d
    FROM read_csv('{_FW_PATH}', columns = {{'line': 'VARCHAR'}}, header = false, delim = chr(1))
    ORDER BY id
"""


@pq("fixed_width_parse", _FW_SQL)
def fixed_width_parse(spark, sf_dir):
    """Fixed-width (mainframe/COBOL-style) record parsing from a
    committed fixture: positional substring slices → typed columns
    (BIGINT id, trimmed name, DECIMAL amount, ISO date) — the legacy
    ingest format every warehouse still meets. Spark reads the file as
    raw text lines and slices with codegen'd substrings; the oracle
    slices the same bytes. Plan: narrow line-parallel parsing — unlike
    multiline CSV, fixed-width IS line-splittable, so at 100 TB this
    scan parallelizes perfectly."""
    lines = spark.read.text(_FW_PATH).withColumnRenamed("value", "line")
    return lines.select(
        F.substring("line", 1, 4).cast("bigint").alias("id"),
        F.trim(F.substring("line", 5, 10)).alias("name"),
        F.round(F.substring("line", 15, 8).cast("decimal(10,2)").cast("double"), 2).alias("amount"),
        F.concat_ws(
            "-",
            F.substring("line", 23, 4),
            F.substring("line", 27, 2),
            F.substring("line", 29, 2),
        ).alias("d"),
    ).orderBy("id")


# --- multiline JSON array source ------------------------------------------------------------
# A committed pretty-printed JSON ARRAY file (the REST-dump shape):
# Spark's multiLine JSON reader vs DuckDB's read_json(format='array'),
# including nested-struct and array accessors.
_JARR_PATH = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "records_array.json")
assert "'" not in _JARR_PATH, f"fixture path contains a quote: {_JARR_PATH!r}"
_JARR_SQL = f"""
    SELECT CAST(id AS BIGINT) AS id, name,
           round(score, 6) AS score,
           CAST(len(tags) AS INT) AS n_tags,
           CASE WHEN len(tags) > 0 THEN tags[1] ELSE NULL END AS first_tag,
           CAST(meta.k AS BIGINT) AS meta_k
    FROM read_json('{_JARR_PATH}', format = 'array')
    ORDER BY id
"""


@pq("json_multiline_array_read", _JARR_SQL)
def json_multiline_array_read(spark, sf_dir):
    """Pretty-printed JSON ARRAY ingestion (the shape REST dumps and
    API exports arrive in): Spark's multiLine JSON source turns the
    array into rows with nested structs/arrays intact, checked against
    DuckDB's read_json(format='array') on the SAME committed fixture —
    including struct dot-access and array length/first accessors. At
    scale, multiLine JSON (like multiline CSV) defeats line splitting,
    which is why the entry exists: correctness must survive the
    whole-file parse path."""
    df = (
        spark.read.option("multiLine", True)
        .schema(
            "id bigint, name string, score double, tags array<string>, meta struct<k: bigint>"
        )
        .json(_JARR_PATH)
    )
    has = F.size("tags") > 0
    return df.select(
        "id",
        "name",
        F.round("score", 6).alias("score"),
        F.size("tags").cast("int").alias("n_tags"),
        F.when(has, F.element_at("tags", 1)).alias("first_tag"),
        F.col("meta.k").cast("bigint").alias("meta_k"),
    ).orderBy("id")


# --- Heaps' law fit over shingle vocabulary ---------------------------------------------------
# Vocabulary growth V(T) ~ K·T^β measured on word-TRIGRAM shingles
# (the unigram vocab here is deliberately tiny and saturates
# instantly; the 31³ shingle space does not). Checkpoints are per-doc
# cumulative (positions, new-shingle counts) — all integers; the
# log-log regression follows the zipf_fit precedent (9dp-rounded ln
# inputs into regr_slope/intercept, 4dp outputs).
_HEAPS_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                     for i in range(1, len(l) - 1)]) AS s
      FROM toks WHERE len(l) >= 3),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos FROM sh GROUP BY doc_id),
    firsts AS (
      SELECT min(doc_id) AS doc_id, count(*) AS one
      FROM (SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY s) f
      GROUP BY f.doc_id),
    curve AS (
      SELECT p.doc_id,
             sum(p.n_pos) OVER (ORDER BY p.doc_id) AS t_cum,
             sum(coalesce(f.one, 0)) OVER (ORDER BY p.doc_id) AS v_cum
      FROM per_doc p LEFT JOIN firsts f ON p.doc_id = f.doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(t_cum) AS BIGINT) AS total_shingles,
           CAST(max(v_cum) AS BIGINT) AS vocab,
           round(regr_slope(round(ln(CAST(v_cum AS DOUBLE)), 9),
                            round(ln(CAST(t_cum AS DOUBLE)), 9)), 4) AS heaps_beta,
           round(exp(regr_intercept(round(ln(CAST(v_cum AS DOUBLE)), 9),
                                    round(ln(CAST(t_cum AS DOUBLE)), 9))), 4) AS heaps_k
    FROM curve
"""


@pq("corpus_heaps_law", _HEAPS_SQL)
def corpus_heaps_law(spark, sf_dir):
    """Heaps'-law fit of vocabulary growth V(T) = K·T^β over word-
    trigram shingles (the unigram vocabulary here saturates instantly
    by design; the shingle space doesn't) — the corpus-health
    companion to the Zipf fit: β near 1 means the corpus keeps
    producing novel phrasing, β near 0 means templated text.
    Checkpoints are per-document cumulative integers (positions via
    prefix sum; new-vocab via each shingle's min doc); the log-log
    regression follows the zipf precedent (9dp-rounded ln inputs,
    regr_slope/intercept, 4dp out). Plan: one shingle expansion (in-
    row), one min-agg over shingles (THE shuffle), prefix sums over
    the |docs| curve."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ").alias("l"),
    ).filter(F.size("l") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 2),"
                " i -> concat_ws(' ', l[i-1], l[i], l[i+1]))"
            )
        ).alias("s"),
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_pos"))
    firsts = (
        sh.groupBy("s")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("one"))
    )
    wc = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_doc.join(firsts, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_pos").over(wc).alias("t_cum"),
            F.sum(F.coalesce(F.col("one"), F.lit(0))).over(wc).alias("v_cum"),
        )
    )
    lnv = F.round(F.log(F.col("v_cum").cast("double")), 9)
    lnt = F.round(F.log(F.col("t_cum").cast("double")), 9)
    return curve.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max("t_cum").cast("bigint").alias("total_shingles"),
        F.max("v_cum").cast("bigint").alias("vocab"),
        F.round(F.regr_slope(lnv, lnt), 4).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lnv, lnt)), 4).alias("heaps_k"),
    )


# --- exponential-fit audit of inter-arrival gaps -------------------------------------------
# Per event type: mean gap via the telescoping identity
# (last − first)/(n − 1) — EXACT integer microseconds — plus the exact
# discrete median gap and the median/mean ratio (≈ ln 2 ≈ 0.693 iff
# the arrivals are Poisson).
_IARR_SQL = """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events),
    gaps AS (SELECT event_type, CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL),
    c AS (
      SELECT event_type, gap, CAST(count(*) AS BIGINT) AS cnt
      FROM gaps GROUP BY event_type, gap),
    cum AS (
      SELECT event_type, gap,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY gap) AS cum_n,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM c),
    med AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
             CAST(min(CASE WHEN cum_n * 2 >= n THEN gap END) AS BIGINT) AS median_us
      FROM cum GROUP BY event_type),
    mean_ AS (
      SELECT event_type,
             CAST(sum(gap) AS BIGINT) AS total_us
      FROM gaps GROUP BY event_type)
    SELECT m.event_type, m.n_gaps,
           round(a.total_us / (1000000.0 * m.n_gaps), 6) AS mean_gap_s,
           round(m.median_us / 1000000.0, 6) AS median_gap_s,
           round(m.median_us * 1.0 / (a.total_us / (1.0 * m.n_gaps)), 4) AS med_mean_ratio
    FROM med m JOIN mean_ a USING (event_type)
    ORDER BY m.event_type
"""


@pq("event_interarrival_expfit", _IARR_SQL)
def event_interarrival_expfit(spark, sf_dir):
    """Inter-arrival analysis per event type: mean gap, exact discrete
    median gap, and the median/mean ratio — the one-number Poisson
    check (exponential arrivals give ln 2 ≈ 0.693; bursty traffic
    sits far below). Gaps are exact integer microseconds from a lag
    window with a deterministic (ts, event_id) order; the median is an
    integer cross-multiplied order statistic; only the final seconds
    conversions divide. Plan: one window shuffle on the type key, one
    (type, gap)-keyed agg, windows over the tiny gap-histogram."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gaps = g.select("event_type", F.col("gap").cast("bigint").alias("gap"))
    c = gaps.groupBy("event_type", "gap").agg(F.count("*").cast("bigint").alias("cnt"))
    wc = Window.partitionBy("event_type").orderBy("gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wp = Window.partitionBy("event_type")
    cum = c.select(
        "event_type", "gap",
        F.sum("cnt").over(wc).alias("cum_n"),
        F.sum("cnt").over(wp).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(F.when(F.col("cum_n") * 2 >= F.col("n"), F.col("gap")))
        .cast("bigint").alias("median_us"),
    )
    mean_ = gaps.groupBy("event_type").agg(F.sum("gap").cast("bigint").alias("total_us"))
    return (
        med.join(mean_, "event_type")
        .select(
            "event_type",
            "n_gaps",
            F.round(F.col("total_us") / (1000000.0 * F.col("n_gaps")), 6).alias("mean_gap_s"),
            F.round(F.col("median_us") / 1000000.0, 6).alias("median_gap_s"),
            F.round(
                F.col("median_us") * 1.0 / (F.col("total_us") / (1.0 * F.col("n_gaps"))), 4
            ).alias("med_mean_ratio"),
        )
        .orderBy("event_type")
    )


# --- incremental Holt smoothing via foreachBatch ------------------------------------------
# The streaming counterpart of holt_linear_trend: the daily series
# arrives as THREE date-chunked files processed one per micro-batch
# (maxFilesPerTrigger=1), and a (level, trend, seed) state table carries
# the recursion across batches. Because the fold is the same sequential
# IEEE op sequence whether run in one pass or restarted from persisted
# float64 state, the incremental output must equal the batch recursion
# BIT-FOR-BIT — which is exactly what the shared recursive-CTE oracle
# checks. Day-1 output is emitted only when day 2 arrives (its trend
# b1 = x2 − x1 depends on the future point), including across a batch
# boundary.
_HOLT_STREAM_SQL = """
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily),
    rec AS (
      SELECT s1.event_type, CAST(1 AS BIGINT) AS i,
             s1.x AS l, s2.x - s1.x AS b, s1.x AS f
      FROM ser s1 JOIN ser s2
        ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
      UNION ALL
      SELECT r.event_type, r.i + 1,
             0.5 * s.x + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b,
             r.l + r.b
      FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.i = r.i + 1)
    SELECT rec.event_type AS event_type, ser.d AS d,
           floor(rec.l * 1000000 + 0.5) / 1000000 AS level,
           floor(rec.b * 1000000 + 0.5) / 1000000 AS trend,
           floor(rec.f * 1000000 + 0.5) / 1000000 AS fitted
    FROM rec JOIN ser ON rec.event_type = ser.event_type AND rec.i = ser.i
    ORDER BY 1, 2
"""


@pq("stream_holt_incremental", _HOLT_STREAM_SQL)
def stream_holt_incremental(spark, sf_dir):
    """Holt level+trend smoothing maintained INCREMENTALLY: the daily
    series streams in as three date-chunked files (one micro-batch
    each, maxFilesPerTrigger=1), a foreachBatch sink folds each batch
    from a persisted (level, trend, seed) state table and appends the
    per-day outputs, and the final table must equal the one-pass batch
    recursion bit-for-bit — persisted float64 state restarts the exact
    IEEE sequence, so "incremental" is not "approximate". The day-1
    row is withheld until day 2 arrives (its trend is x2−x1), across
    batch boundaries too. This is the streaming-stateful-maintenance
    counterpart of holt_linear_trend, same oracle. Plan: per batch one
    tiny keyed fold (state rows = |series keys|), the corpus-side day
    aggregation happening once upstream — the incremental-agg shape
    that replaces full-history rescans at 100 TB."""
    from pathlib import Path

    import pandas as pd

    from etl_mini_spark.streaming.stream import replay

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x"))
    cuts = ["0000-00-00", "2024-01-11", "2024-01-21", "9999-12-31"]

    def sink(batch_df, batch_id):
        pdf = batch_df.toPandas().sort_values(["event_type", "d"])
        if pdf.empty:
            return
        try:
            st = pd.read_parquet(state / "state.parquet").set_index("event_type")
        except (FileNotFoundError, OSError):
            st = pd.DataFrame(
                columns=["l", "b", "n_seen", "seed_x", "seed_d"]
            ).set_index(pd.Index([], name="event_type"))
        outs = []
        for key, g in pdf.groupby("event_type", sort=True):
            if key in st.index:
                l, b, n_seen, seed_x, seed_d = st.loc[key]
                n_seen = int(n_seen)
            else:
                l = b = seed_x = float("nan")
                seed_d = None
                n_seen = 0
            for _, r in g.iterrows():
                x, d = float(r["x"]), r["d"]
                if n_seen == 0:
                    seed_x, seed_d, n_seen = x, d, 1
                elif n_seen == 1:
                    l = seed_x
                    b = x - seed_x
                    # retro-emit day 1 now that its trend is known
                    outs.append((key, seed_d, l, b, seed_x))
                    l_new = 0.5 * x + 0.5 * (l + b)
                    b_new = 0.3 * (l_new - l) + 0.7 * b
                    outs.append((key, d, l_new, b_new, l + b))
                    l, b, n_seen = l_new, b_new, 2
                else:
                    f = l + b
                    l_new = 0.5 * x + 0.5 * (l + b)
                    b_new = 0.3 * (l_new - l) + 0.7 * b
                    outs.append((key, d, l_new, b_new, f))
                    l, b, n_seen = l_new, b_new, n_seen + 1
            st.loc[key] = [l, b, n_seen, seed_x, seed_d]
        out.mkdir(parents=True, exist_ok=True)
        state.mkdir(parents=True, exist_ok=True)
        if outs:
            pd.DataFrame(
                outs, columns=["event_type", "d", "level", "trend", "fitted"]
            ).to_parquet(out / f"batch_{batch_id}.parquet", index=False)
        st.reset_index().to_parquet(state / "state.parquet", index=False)

    with replay(spark, "holt") as r:
        out, state = Path(r.out), Path(r.root) / "state"
        for i in range(3):
            r.stage(daily.filter((F.col("d") >= cuts[i]) & (F.col("d") < cuts[i + 1])))
        r.run(r.stream(), sink)

    def pin6(c):
        return F.floor(F.col(c) * 1_000_000 + F.lit(0.5)) / 1_000_000

    return r.output.select(
        "event_type", "d",
        pin6("level").alias("level"),
        pin6("trend").alias("trend"),
        pin6("fitted").alias("fitted"),
    ).orderBy("event_type", "d")


# --- session bounce rate ---------------------------------------------------------------
# 30-minute-gap sessions (the registry's session definition) classified
# single-event vs multi-event per day: bounce rate is the ratio of two
# exact counts.
_BOUNCE_SQL = """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    y AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM x),
    s AS (
      SELECT user_id, sess, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
      FROM y GROUP BY user_id, sess)
    SELECT strftime(session_start, '%Y-%m-%d') AS d,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6)
             AS bounce_rate
    FROM s GROUP BY 1 ORDER BY d
"""


@pq("session_bounce_rate", _BOUNCE_SQL)
def session_bounce_rate(spark, sf_dir):
    """Daily bounce rate: 30-minute-gap sessions (session_window —
    the same definition the streaming tier uses) classified
    single-event vs multi-event, attributed to the session's start
    day. Bounce rate is a ratio of exact session counts. Plan: one
    user-keyed session window (the sessionization shuffle), one
    session agg, one day agg — nothing new moves at scale beyond what
    sessionization already pays."""
    e = _t(spark, sf_dir, "events")
    s = e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count("*").cast("bigint").alias("n_events"), F.min("ts").alias("session_start")
    )
    return (
        s.groupBy(F.date_format("session_start", "yyyy-MM-dd").alias("d"))
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
        )
        .select(
            "d",
            "n_sessions",
            "n_bounces",
            F.round(F.col("n_bounces") / (1.0 * F.col("n_sessions")), 6).alias("bounce_rate"),
        )
        .orderBy("d")
    )


# --- hapax legomena / type-token ratio ---------------------------------------------------
# Lexical-richness scalars over trigram shingles (the unigram vocab is
# saturated by design): hapax share of the vocabulary and the
# type-token ratio — exact integer counts, two display divisions.
_HAPAX_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    sh AS (
      SELECT unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                     for i in range(1, len(l) - 1)]) AS s
      FROM toks WHERE len(l) >= 3),
    f AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY s)
    SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6) AS hapax_share,
           round(count(*) / (1.0 * sum(c)), 6) AS type_token_ratio
    FROM f
"""


@pq("text_hapax_ratio", _HAPAX_SQL)
def text_hapax_ratio(spark, sf_dir):
    """Lexical-richness scalars over trigram shingles: the hapax-
    legomena share (fraction of vocabulary seen exactly once — high in
    fresh text, collapsing under boilerplate) and the type-token
    ratio. Counts are exact integers; the two ratios are single
    display divisions. Plan: in-row shingle expansion, ONE shingle-
    keyed agg, a scalar reduction — the Heaps'-law companion at the
    same shuffle cost."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ").alias("l")
    ).filter(F.size("l") >= 3)
    sh = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 2),"
                " i -> concat_ws(' ', l[i-1], l[i], l[i+1]))"
            )
        ).alias("s")
    )
    f = sh.groupBy("s").agg(F.count("*").cast("bigint").alias("c"))
    return f.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / (1.0 * F.count("*")), 6
        ).alias("hapax_share"),
        F.round(F.count("*") / (1.0 * F.sum("c")), 6).alias("type_token_ratio"),
    )


# --- Brown-Forsythe (mean-based Levene) variance-equality test ----------------------------
# ANOVA-F applied to absolute deviations from each group's mean: the
# robust are-the-variances-equal screen. Group means are exact decimal
# ratios; each |x−mean| pre-rounds at 9dp and sums (and sums of
# squares) accumulate as DECIMAL(28,9)/DECIMAL(38,8) — order-free.
_LEVENE_SQL = """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,2)) AS x FROM events),
    means AS (
      SELECT g, CAST(sum(x) AS DOUBLE) / count(*) AS mu,
             CAST(count(*) AS BIGINT) AS n_g
      FROM base GROUP BY g),
    dev AS (
      SELECT base.g,
             CAST(round(abs(CAST(base.x AS DOUBLE) - m.mu), 9) AS DECIMAL(28,9)) AS z
      FROM base JOIN means m ON base.g = m.g),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g, sum(z) AS s_g,
             sum(CAST(z AS DECIMAL(38,8)) * z) AS ss_g
      FROM dev GROUP BY g),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(s_g) AS s, sum(ss_g) AS ss,
             sum(CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g, 9)
                      AS DECIMAL(28,9))) AS bsum
      FROM per)
    SELECT n, k,
           round(((CAST(bsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
                 / ((CAST(ss AS DOUBLE) - CAST(bsum AS DOUBLE)) / (n - k)), 6) AS levene_w
    FROM tot
"""


@pq("levene_brown_forsythe", _LEVENE_SQL)
def levene_brown_forsythe(spark, sf_dir):
    """Levene's test (mean-centered / Brown-Forsythe family) for
    equality of value variances across event types — the
    heteroscedasticity screen run before trusting ANOVA. It is the
    ANOVA F applied to |x − group mean|: means are exact decimal
    ratios, each deviation pre-rounds at 9dp, and all downstream sums
    accumulate in decimal — order-free on both engines. Plan: two
    passes over the fact table (means, then deviations — the means
    broadcast back), one k-row finish."""
    e = _t(spark, sf_dir, "events")
    base = e.select(F.col("event_type").alias("g"), F.col("value").cast("decimal(18,2)").alias("x"))
    means = base.groupBy("g").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu"),
        F.count("*").cast("bigint").alias("n_g0"),
    )
    dev = base.join(F.broadcast(means), "g").select(
        "g",
        F.round(F.abs(F.col("x").cast("double") - F.col("mu")), 9)
        .cast("decimal(28,9)")
        .alias("z"),
    )
    per = dev.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(F.col("z").cast("decimal(38,8)") * F.col("z")).alias("ss_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.round(
                F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g"), 9
            ).cast("decimal(28,9)")
        ).alias("bsum"),
    )
    ssb = F.col("bsum").cast("double") - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ssw = F.col("ss").cast("double") - F.col("bsum").cast("double")
    return tot.select(
        "n",
        "k",
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6).alias("levene_w"),
    )


# --- rolling regression slope ------------------------------------------------------------
# 14-day rolling OLS slope of purchase revenue on click revenue: the
# five sufficient statistics per frame are DECIMAL window sums (the
# daily series is decimal, zero-filled on a shared day grid), and each
# slope is one double formula.
_ROLLREG_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1),
    f AS (
      SELECT d,
             CAST(count(*) OVER w AS BIGINT) AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(CAST(x AS DECIMAL(38,4)) * y) OVER w AS sxy,
             sum(CAST(x AS DECIMAL(38,4)) * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT d,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS beta
    FROM f WHERE n = 14 ORDER BY d
"""


@pq("rolling_regression_slope", _ROLLREG_SQL)
def rolling_regression_slope(spark, sf_dir):
    """14-day rolling OLS slope of daily purchase revenue on daily
    click revenue — the rolling-beta shape every marketing-mix or
    pairs-trading dashboard computes. Both series share one day grid
    (zero-filled via conditional aggregation), the frame's sufficient
    statistics are DECIMAL window sums (exact), and each slope is one
    double formula. Plan: one day agg, one ordered window over the
    tiny daily series — at scale the frame sums are incremental, not
    recomputed per row."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    z = F.lit(0).cast("decimal(18,2)")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("value").cast("decimal(18,2)")).otherwise(z)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")).otherwise(z)
        ).alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    f = daily.select(
        "d",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("x")).over(w).alias("sxx"),
    )
    return (
        f.filter("n = 14")
        .select(
            "d",
            F.round(
                (F.col("n") * F.col("sxy").cast("double")
                 - F.col("sx").cast("double") * F.col("sy").cast("double"))
                / (F.col("n") * F.col("sxx").cast("double")
                   - F.col("sx").cast("double") * F.col("sx").cast("double")),
                6,
            ).alias("beta"),
        )
        .orderBy("d")
    )


# --- week-over-week movers ----------------------------------------------------------------
# Weekly part revenue on an epoch-anchored integer week index (no ISO
# week-numbering semantics to align); the report ranks risers and
# fallers of the last COMPLETE week by the exact decimal delta.
_WOW_SQL = """
    WITH wk AS (
      SELECT l_partkey AS pk,
             CAST(floor(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) / 7)
                  AS BIGINT) AS w,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1, 2),
    last_w AS (SELECT max(w) - 1 AS w1 FROM wk),
    pair AS (
      SELECT a.pk, a.rev AS rev_cur, coalesce(b.rev, CAST(0 AS DECIMAL(18,2))) AS rev_prev,
             a.rev - coalesce(b.rev, CAST(0 AS DECIMAL(18,2))) AS delta
      FROM wk a
      LEFT JOIN wk b ON a.pk = b.pk AND b.w = a.w - 1
      CROSS JOIN last_w WHERE a.w = last_w.w1),
    ranked AS (
      SELECT pk, rev_cur, rev_prev, delta,
             row_number() OVER (ORDER BY delta DESC, pk) AS rise_rn,
             row_number() OVER (ORDER BY delta ASC, pk) AS fall_rn
      FROM pair)
    SELECT CASE WHEN rise_rn <= 5 THEN 'riser' ELSE 'faller' END AS direction,
           CAST(CASE WHEN rise_rn <= 5 THEN rise_rn ELSE fall_rn END AS INT) AS rn,
           pk,
           round(CAST(rev_prev AS DOUBLE), 2) AS rev_prev,
           round(CAST(rev_cur AS DOUBLE), 2) AS rev_cur,
           round(CAST(delta AS DOUBLE), 2) AS delta
    FROM ranked WHERE rise_rn <= 5 OR fall_rn <= 5
    ORDER BY direction, rn
"""


@pq("wow_movers_topk", _WOW_SQL)
def wow_movers_topk(spark, sf_dir):
    """Week-over-week movers: top-5 revenue risers and fallers among
    parts for the last complete week. Weeks are an epoch-anchored
    integer index (floor(days-since-1995/7)) — no ISO week-numbering
    semantics to align between engines — and the ranking key is the
    exact DECIMAL revenue delta with the part key as tie-break. Plan:
    one (part, week) agg, a self-join against the previous week only
    (the week filter prunes first), two rank windows over one week's
    parts."""
    li = _t(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.floor(
            F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit("1995-01-01"))) / 7
        ).cast("bigint").alias("w"),
    ).agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"))
    last_w = wk.agg((F.max("w") - 1).alias("w1"))
    a = wk.alias("a")
    b = wk.alias("b")
    z = F.lit(0).cast("decimal(18,2)")
    pair = (
        a.crossJoin(F.broadcast(last_w))
        .filter(F.col("a.w") == F.col("w1"))
        .join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("b.w") == F.col("a.w") - 1), "left")
        .select(
            F.col("a.pk").alias("pk"),
            F.col("a.rev").alias("rev_cur"),
            F.coalesce(F.col("b.rev"), z).alias("rev_prev"),
            (F.col("a.rev") - F.coalesce(F.col("b.rev"), z)).alias("delta"),
        )
    )
    ranked = pair.select(
        "pk", "rev_cur", "rev_prev", "delta",
        F.row_number().over(Window.orderBy(F.col("delta").desc(), "pk")).alias("rise_rn"),
        F.row_number().over(Window.orderBy(F.col("delta").asc(), "pk")).alias("fall_rn"),
    )
    return (
        ranked.filter((F.col("rise_rn") <= 5) | (F.col("fall_rn") <= 5))
        .select(
            F.when(F.col("rise_rn") <= 5, "riser").otherwise("faller").alias("direction"),
            F.when(F.col("rise_rn") <= 5, F.col("rise_rn")).otherwise(F.col("fall_rn"))
            .cast("int").alias("rn"),
            "pk",
            F.round(F.col("rev_prev").cast("double"), 2).alias("rev_prev"),
            F.round(F.col("rev_cur").cast("double"), 2).alias("rev_cur"),
            F.round(F.col("delta").cast("double"), 2).alias("delta"),
        )
        .orderBy("direction", "rn")
    )


# --- Wald-Wolfowitz runs test --------------------------------------------------------------
# Randomness of the daily-revenue sign sequence around its exact
# discrete median: run count and n1/n2 are integers; z is the single
# float expression.
_RUNS_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY 1),
    med AS (
      SELECT min(x) AS m FROM (
        SELECT x, row_number() OVER (ORDER BY x, d) AS rn, count(*) OVER () AS n
        FROM daily) WHERE rn * 2 >= n),
    signs AS (
      SELECT d, x > med.m AS up FROM daily CROSS JOIN med WHERE x <> med.m),
    flips AS (
      SELECT up,
             CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                       OR up <> lag(up) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS new_run
      FROM signs),
    s AS (
      SELECT CAST(sum(new_run) AS BIGINT) AS runs,
             CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2
      FROM flips)
    SELECT runs, n1, n2,
           round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))), 6) AS z
    FROM s
"""


@pq("runs_test_wald_wolfowitz", _RUNS_SQL)
def runs_test_wald_wolfowitz(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily-revenue sign sequence
    around its exact discrete median — the is-this-series-random
    screen (too few runs = trending, too many = oscillating). The
    median is an integer-rank order statistic, runs and n1/n2 are
    integer window sums, and z is the single float expression. Plan:
    one day agg, one rank window for the median, one lag window for
    run boundaries — all over the tiny daily series."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    ranked = daily.select(
        "x",
        F.row_number().over(Window.orderBy("x", "d")).alias("rn"),
        F.count("*").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    med = ranked.filter(F.col("rn") * 2 >= F.col("n")).agg(F.min("x").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("m"))
        .select("d", (F.col("x") > F.col("m")).alias("up"))
    )
    wl = Window.orderBy("d")
    flips = signs.select(
        "up",
        F.when(
            F.lag("up").over(wl).isNull() | (F.col("up") != F.lag("up").over(wl)), 1
        ).otherwise(0).alias("new_run"),
    )
    s = flips.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).cast("bigint").alias("n2"),
    )
    n = F.col("n1") + F.col("n2")
    mu = 2.0 * F.col("n1") * F.col("n2") / n + 1
    var = (
        2.0 * F.col("n1") * F.col("n2") * (2.0 * F.col("n1") * F.col("n2") - n)
        / (n * n * 1.0 * (n - 1))
    )
    return s.select(
        "runs", "n1", "n2", F.round((F.col("runs") - mu) / F.sqrt(var), 6).alias("z")
    )


# --- Ljung-Box portmanteau statistic ---------------------------------------------------------
# Q = n(n+2) Σ_{k=1..7} r_k²/(n−k) over the hourly revenue series
# (co-observed pairs per lag, as in acf_hourly_lags); each lag's term
# pre-rounds at 9dp and sums as DECIMAL(28,9).
_LJUNG_SQL = """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             sum(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY 1),
    nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hourly),
    lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    paired AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM lags l JOIN hourly a ON TRUE
      JOIN hourly b ON b.h = a.h - l.lag),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS np,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS DECIMAL(38,4)) * y) AS sxy,
             sum(CAST(x AS DECIMAL(38,4)) * x) AS sxx,
             sum(CAST(y AS DECIMAL(38,4)) * y) AS syy
      FROM paired GROUP BY lag),
    r AS (
      SELECT lag,
             (np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (np * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rk
      FROM s),
    terms AS (
      SELECT CAST(round(rk * rk / (nall.n - lag), 9) AS DECIMAL(28,9)) AS term
      FROM r CROSS JOIN nall)
    SELECT nall.n,
           CAST(7 AS INT) AS df,
           round(nall.n * (nall.n + 2) * CAST((SELECT sum(term) FROM terms) AS DOUBLE), 6)
             AS ljung_box_q
    FROM nall
"""


@pq("ljung_box_q", _LJUNG_SQL)
def ljung_box_q(spark, sf_dir):
    """Ljung-Box portmanteau statistic over lags 1..7 of the hourly
    revenue series — the is-there-ANY-autocorrelation omnibus that
    model-residual diagnostics run (large Q ⇒ the series is not white
    noise). Per-lag correlations use the same decimal-exact
    co-observed-pair statistics as acf_hourly_lags; each r_k²/(n−k)
    term pre-rounds at 9dp and sums as DECIMAL(28,9). Plan: one hour
    agg, a 7×|hours| lag join on the tiny aggregated series, a scalar
    finish."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("x"))
    nall = hourly.agg(F.count("*").cast("bigint").alias("n"))
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("lag")
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
        F.count("*").cast("bigint").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,4)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,4)") * F.col("y")).alias("syy"),
    )
    r = s.select(
        "lag",
        (
            (F.col("np") * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / F.sqrt(
                (F.col("np") * F.col("sxx").cast("double")
                 - F.col("sx").cast("double") * F.col("sx").cast("double"))
                * (F.col("np") * F.col("syy").cast("double")
                   - F.col("sy").cast("double") * F.col("sy").cast("double"))
            )
        ).alias("rk"),
    )
    terms = r.crossJoin(F.broadcast(nall)).select(
        F.round(F.col("rk") * F.col("rk") / (F.col("n") - F.col("lag")), 9)
        .cast("decimal(28,9)").alias("term")
    )
    qsum = terms.agg(F.sum("term").alias("qsum"))
    return nall.crossJoin(F.broadcast(qsum)).select(
        "n",
        F.lit(7).cast("int").alias("df"),
        F.round(
            F.col("n") * (F.col("n") + 2) * F.col("qsum").cast("double"), 6
        ).alias("ljung_box_q"),
    )


# --- ABC inventory classification -------------------------------------------------------------
# Parts ranked by revenue; class boundaries (A ≤ 80%, B ≤ 95% of
# cumulative revenue) decided by EXACT cross-multiplied decimal
# comparisons — no rounded share ever gates a class.
_ABC_SQL = """
    WITH rev AS (
      SELECT l_partkey AS pk, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT pk, r,
             sum(r) OVER (ORDER BY r DESC, pk) AS cum_r,
             sum(r) OVER () AS tot
      FROM rev),
    classed AS (
      SELECT pk, r,
             CASE WHEN cum_r * 5 <= tot * 4 THEN 'A'
                  WHEN cum_r * 20 <= tot * 19 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(r) AS DOUBLE), 2) AS revenue,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(tot2.t) AS DOUBLE), 6) AS rev_share
    FROM classed CROSS JOIN (SELECT sum(r) AS t FROM rev) tot2
    GROUP BY abc ORDER BY abc
"""


@pq("inventory_abc_classes", _ABC_SQL)
def inventory_abc_classes(spark, sf_dir):
    """ABC inventory classification: parts ranked by revenue, class A
    holding the top 80% of cumulative revenue, B the next 15%, C the
    tail — the warehouse-ops segmentation. The class boundaries are
    EXACT cross-multiplied decimal comparisons (cum·5 ≤ tot·4), so no
    rounded share ever flips a class between engines. Plan: one
    part-keyed agg, one rank/prefix window (range-partitioned two-pass
    at scale), a 3-row report."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )
    wc = Window.orderBy(F.col("r").desc(), "pk").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = rev.select(
        "pk", "r",
        F.sum("r").over(wc).alias("cum_r"),
        F.sum("r").over(wall).alias("tot"),
    )
    classed = ranked.select(
        "pk", "r", "tot",
        F.when(F.col("cum_r") * 5 <= F.col("tot") * 4, "A")
        .when(F.col("cum_r") * 20 <= F.col("tot") * 19, "B")
        .otherwise("C").alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(F.sum("r").cast("double"), 2).alias("revenue"),
            F.round(F.sum("r").cast("double") / F.max("tot").cast("double"), 6).alias("rev_share"),
        )
        .orderBy("abc")
    )


# --- gaps and islands over order days -----------------------------------------------------------
# The classic d − row_number() island key over distinct order dates:
# island census plus the longest consecutive-day streak (earliest on
# ties) — pure integer/date arithmetic.
_ISLANDS_SQL = """
    WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
    keyed AS (
      SELECT d, d - CAST(row_number() OVER (ORDER BY d) AS INT) AS island
      FROM days),
    isl AS (
      SELECT island, CAST(count(*) AS BIGINT) AS len,
             strftime(min(d), '%Y-%m-%d') AS start_d
      FROM keyed GROUP BY island),
    top AS (
      SELECT len, start_d, row_number() OVER (ORDER BY len DESC, start_d) AS rn FROM isl)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM days) AS n_days,
           (SELECT CAST(count(*) AS BIGINT) FROM isl) AS n_islands,
           len AS longest_len, start_d AS longest_start
    FROM top WHERE rn = 1
"""


@pq("gaps_islands_order_days", _ISLANDS_SQL)
def gaps_islands_order_days(spark, sf_dir):
    """Gaps-and-islands over the distinct order-date sequence (the
    d − row_number() trick): how many consecutive-day islands the
    calendar fragments into and the longest streak (earliest start on
    ties) — the classic SQL-interview shape that powers uptime and
    activity-streak reports. Pure date/integer arithmetic. Plan: one
    distinct over days, one rank window, one island agg — all bounded
    by the calendar, not the fact table."""
    o = _t(spark, sf_dir, "orders")
    days = o.select(F.to_date("o_orderdate").alias("d")).distinct()
    keyed = days.select(
        "d",
        F.date_sub(F.col("d"), F.row_number().over(Window.orderBy("d"))).alias("island"),
    )
    isl = keyed.groupBy("island").agg(
        F.count("*").cast("bigint").alias("len"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("start_d"),
    )
    top = isl.select(
        "len", "start_d",
        F.row_number().over(Window.orderBy(F.col("len").desc(), "start_d")).alias("rn"),
    ).filter("rn = 1")
    n_days = days.agg(F.count("*").cast("bigint").alias("n_days"))
    n_isl = isl.agg(F.count("*").cast("bigint").alias("n_islands"))
    return (
        top.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(n_isl))
        .select("n_days", "n_islands",
                F.col("len").alias("longest_len"),
                F.col("start_d").alias("longest_start"))
    )


# --- native ASOF JOIN parity ---------------------------------------------------------------------
# The oracle uses DuckDB's NATIVE ASOF LEFT JOIN syntax; the Spark side
# runs the repo's single-shuffle union-sort asof_join operator — the
# semantics (latest click at-or-before each purchase, per user) must
# coincide exactly. (user_id, ts) is unique in this corpus, so the
# match is well-defined without a tie-break.
_ASOF_NATIVE_SQL = """
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, ts AS cts, event_id AS click_id FROM events WHERE event_type = 'click')
    SELECT p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           p.event_id, c.click_id,
           CASE WHEN c.cts IS NULL THEN NULL
                ELSE CAST(epoch_us(p.ts) - epoch_us(c.cts) AS BIGINT) END AS gap_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
    ORDER BY p.user_id, p.ts, p.event_id
"""


@pq("sql_asof_native_parity", _ASOF_NATIVE_SQL)
def sql_asof_native_parity(spark, sf_dir):
    """As-of join parity against DuckDB's NATIVE `ASOF LEFT JOIN`
    syntax: for every purchase, the user's latest click at or before
    it, plus the gap in exact microseconds. The Spark side is the
    repo's single-shuffle union-sort asof_join operator — this entry
    pins our operator's semantics against an independent first-class
    implementation of the same join type, not just a window-function
    emulation. Plan: one union-sort shuffle on (user, time); no
    join-back."""
    e = _t(spark, sf_dir, "events")
    from etl_mini_spark.operators.joins import asof_join

    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    j = asof_join(
        p, c, on=["user_id"], left_time="ts", right_time="cts",
        right_cols=["cts", "click_id"], tiebreak="click_id",
    )
    return j.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "event_id",
        "click_id",
        F.when(
            F.col("cts").isNotNull(),
            (F.unix_micros("ts") - F.unix_micros("cts")).cast("bigint"),
        ).alias("gap_us"),
    ).orderBy("user_id", "ts", "event_id")


# --- RFM segment migration matrix ------------------------------------------------------------
# Customers segmented per half-period with FIXED thresholds (no
# quantile edges — rank boundaries flip), then the half1→half2
# transition matrix over customers active in both halves. All counts
# exact; shares are single divisions.
_RFMMIG_SQL = """
    WITH halves AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 2 END AS half,
             CAST(count(*) AS BIGINT) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
      FROM orders GROUP BY 1, 2),
    seg AS (
      SELECT o_custkey, half,
             CASE WHEN n_orders >= 6 AND total >= 800000 THEN 'champion'
                  WHEN n_orders >= 6 THEN 'frequent'
                  WHEN total >= 800000 THEN 'big_ticket'
                  ELSE 'standard' END AS s
      FROM halves),
    m AS (
      SELECT a.s AS from_seg, b.s AS to_seg, CAST(count(*) AS BIGINT) AS n
      FROM seg a JOIN seg b ON a.o_custkey = b.o_custkey AND a.half = 1 AND b.half = 2
      GROUP BY 1, 2)
    SELECT from_seg, to_seg, n,
           round(n / (1.0 * sum(n) OVER (PARTITION BY from_seg)), 6) AS row_share
    FROM m ORDER BY from_seg, to_seg
"""


@pq("rfm_migration_matrix", _RFMMIG_SQL)
def rfm_migration_matrix(spark, sf_dir):
    """Customer segment migration: frequency/monetary segments with
    FIXED thresholds per half-period (fixed, not quantile, edges — the
    parity rule), then the half1→half2 transition matrix with row
    shares — the churn-and-upgrade picture a CRM review opens with.
    Plan: one (customer, half) agg, a self-join on the customer key
    (both sides already aggregated — tiny), one matrix agg."""
    o = _t(spark, sf_dir, "orders")
    halves = o.groupBy(
        "o_custkey",
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1)
        .otherwise(2).alias("half"),
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )
    seg = halves.select(
        "o_custkey", "half",
        F.when((F.col("n_orders") >= 6) & (F.col("total") >= 800000), "champion")
        .when(F.col("n_orders") >= 6, "frequent")
        .when(F.col("total") >= 800000, "big_ticket")
        .otherwise("standard").alias("s"),
    )
    a = seg.filter("half = 1").alias("a")
    b = seg.filter("half = 2").alias("b")
    m = (
        a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"))
        .groupBy(F.col("a.s").alias("from_seg"), F.col("b.s").alias("to_seg"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return m.select(
        "from_seg", "to_seg", "n",
        F.round(
            F.col("n") / (1.0 * F.sum("n").over(Window.partitionBy("from_seg"))), 6
        ).alias("row_share"),
    ).orderBy("from_seg", "to_seg")


# --- per-source corpus divergence --------------------------------------------------------------
# Jensen-Shannon divergence between each source's token distribution
# and the GLOBAL distribution (+0.5 Laplace over the global vocab) —
# the corpus-QA screen for off-distribution sources. ln terms
# pre-round 9dp, DECIMAL(28,9) sums per source.
_SRCDIV_SQL = """
    WITH tok AS (
      SELECT source,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    vocab AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tok),
    g AS (SELECT t, CAST(count(*) AS BIGINT) AS cg FROM tok GROUP BY t),
    ng AS (SELECT CAST(sum(cg) AS BIGINT) AS n_g FROM g),
    s AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cs FROM tok GROUP BY source, t),
    ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_s FROM s GROUP BY source),
    joined AS (
      SELECT ns.source, g.t,
             (coalesce(s.cs, 0) + 0.5) / (ns.n_s + 0.5 * vocab.v) AS p,
             (g.cg + 0.5) / (ng.n_g + 0.5 * vocab.v) AS q
      FROM ns CROSS JOIN g
      LEFT JOIN s ON s.source = ns.source AND s.t = g.t
      CROSS JOIN vocab CROSS JOIN ng),
    terms AS (
      SELECT source,
             CAST(round(0.5 * p * ln(p / ((p + q) / 2))
                        + 0.5 * q * ln(q / ((p + q) / 2)), 9) AS DECIMAL(28,9)) AS js_t
      FROM joined)
    SELECT source, round(CAST(sum(js_t) AS DOUBLE), 6) AS js
    FROM terms GROUP BY source ORDER BY source
"""


@pq("corpus_source_divergence", _SRCDIV_SQL)
def corpus_source_divergence(spark, sf_dir):
    """Per-source Jensen-Shannon divergence from the global token
    distribution — the corpus-QA screen that flags a crawl source
    drifting off-distribution before it pollutes a training mix.
    Laplace +0.5 over the global vocabulary keeps absent tokens
    finite; each ln term pre-rounds at 9dp and sums as DECIMAL(28,9)
    per source. Plan: one token agg per grain (global, per-source),
    a source×vocab grid built from the TINY aggregated tables (the
    corpus itself is scanned once), one keyed sum. EVERY other table
    derives from the (source, token) aggregate — global counts roll it
    up over sources, the vocabulary size is the global table's row
    count, n_g/n_s are its sums."""
    from etl_mini_spark.session import pin

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("t"),
    )
    # unpinned: 0.56 s vs 0.43 s at sf0.1 (a pin on g as well did not pay)
    s = pin(tok.groupBy("source", "t").agg(F.count("*").cast("bigint").alias("cs")))
    g = s.groupBy("t").agg(F.sum("cs").cast("bigint").alias("cg"))
    vocab = g.agg(F.count("*").cast("bigint").alias("v"))
    ng = g.agg(F.sum("cg").cast("bigint").alias("n_g"))
    ns = s.groupBy("source").agg(F.sum("cs").cast("bigint").alias("n_s"))
    joined = (
        ns.crossJoin(F.broadcast(g))
        .join(s, ["source", "t"], "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ng))
        .select(
            "source",
            ((F.coalesce(F.col("cs"), F.lit(0)) + 0.5) / (F.col("n_s") + 0.5 * F.col("v"))).alias("p"),
            ((F.col("cg") + 0.5) / (F.col("n_g") + 0.5 * F.col("v"))).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    terms = joined.select(
        "source",
        F.round(
            0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("q") * F.log(F.col("q") / m),
            9,
        ).cast("decimal(28,9)").alias("js_t"),
    )
    return (
        terms.groupBy("source")
        .agg(F.round(F.sum("js_t").cast("double"), 6).alias("js"))
        .orderBy("source")
    )


# --- month-over-month / year-over-year growth ---------------------------------------------------
# Monthly revenue with MoM and YoY growth rates: zero-based month
# indexing, exact decimal revenue, lag offsets on the integer index so
# a MISSING month can never silently masquerade as the previous one.
_GROWTH_SQL = """
    WITH m AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS ym,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    l AS (
      SELECT ym, rev,
             lag(rev) OVER (ORDER BY ym) AS prev_rev,
             lag(ym) OVER (ORDER BY ym) AS prev_ym,
             lag(rev, 12) OVER (ORDER BY ym) AS yoy_rev,
             lag(ym, 12) OVER (ORDER BY ym) AS yoy_ym
      FROM m)
    SELECT CAST(floor(ym / 12) AS BIGINT) AS y, CAST(ym % 12 + 1 AS INT) AS mo,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           CASE WHEN prev_ym = ym - 1
                THEN round(CAST(rev AS DOUBLE) / CAST(prev_rev AS DOUBLE) - 1, 6) END AS mom,
           CASE WHEN yoy_ym = ym - 12
                THEN round(CAST(rev AS DOUBLE) / CAST(yoy_rev AS DOUBLE) - 1, 6) END AS yoy
    FROM l ORDER BY y, mo
"""


@pq("growth_mom_yoy", _GROWTH_SQL)
def growth_mom_yoy(spark, sf_dir):
    """Monthly revenue with month-over-month and year-over-year growth
    rates — the first page of every revenue review. Months use the
    zero-based integer index (y·12+m−1); the lag guards (prev_ym must
    be EXACTLY ym−1 / ym−12) make a missing month yield NULL growth
    instead of silently comparing against an older month. Revenue is
    decimal-exact; each growth rate is one double division. Plan: one
    month agg, two lags over the tiny monthly series."""
    o = _t(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    m = o.groupBy(ym).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("ym")
    l = m.select(
        "ym", "rev",
        F.lag("rev").over(w).alias("prev_rev"),
        F.lag("ym").over(w).alias("prev_ym"),
        F.lag("rev", 12).over(w).alias("yoy_rev"),
        F.lag("ym", 12).over(w).alias("yoy_ym"),
    )
    return l.select(
        F.floor(F.col("ym") / 12).cast("bigint").alias("y"),
        (F.col("ym") % 12 + 1).cast("int").alias("mo"),
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.when(
            F.col("prev_ym") == F.col("ym") - 1,
            F.round(F.col("rev").cast("double") / F.col("prev_rev").cast("double") - 1, 6),
        ).alias("mom"),
        F.when(
            F.col("yoy_ym") == F.col("ym") - 12,
            F.round(F.col("rev").cast("double") / F.col("yoy_rev").cast("double") - 1, 6),
        ).alias("yoy"),
    ).orderBy("y", "mo")


# --- pairwise embedding angle histogram ----------------------------------------------------------
# Embedding-hygiene check: the distribution of pairwise cosines over a
# deterministic id sample (collapse shows as mass near +1, anisotropy
# as a shifted mode). Elements quantize at 6dp DECIMAL, so dot products
# and norms are EXACT decimals; the cosine is one double expression and
# only the fixed bin edges touch it.
_ANGHIST_SQL = """
    WITH samp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 12 = 0),
    q AS (
      SELECT vec_id,
             [CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)) for x in embedding] AS e
      FROM samp),
    withnorm AS (
      SELECT vec_id, e,
             list_sum([CAST(v AS DECIMAL(28,12)) * v for v in e]) AS nsq
      FROM q),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             list_sum([CAST(a.e[i] AS DECIMAL(28,12)) * b.e[i] for i in range(1, 65)]) AS dot,
             a.nsq AS na, b.nsq AS nb
      FROM withnorm a JOIN withnorm b ON a.vec_id < b.vec_id),
    cosb AS (
      SELECT least(greatest(CAST(floor((CAST(dot AS DOUBLE)
                     / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) + 1) * 4) AS INT), 0), 7)
               AS bin
      FROM pairs),
    h AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs FROM cosb GROUP BY bin)
    SELECT bin, n_pairs,
           round(n_pairs / (1.0 * sum(n_pairs) OVER ()), 6) AS share
    FROM h ORDER BY bin
"""


@pq("embedding_angle_histogram", _ANGHIST_SQL)
def embedding_angle_histogram(spark, sf_dir):
    """Pairwise-cosine histogram over a deterministic embedding sample
    (vec_id % 12) — the embedding-hygiene panel: representation
    collapse shows as mass piling near cos = +1, anisotropy as a
    shifted mode. Elements quantize at 6dp DECIMAL so every dot
    product and squared norm is EXACT decimal arithmetic; the cosine
    is one double expression binned on fixed eighth-width edges.
    Plan: the sample is tiny and broadcast against itself (bounded
    |sample|² pairs by construction — the knob that keeps this
    diagnostic off the all-pairs cliff); per-pair work is one in-row
    fold."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 12 == 0)
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))"
        ).alias("e"),
    )
    withnorm = q.select(
        "vec_id", "e",
        F.expr(
            "aggregate(e, CAST(0 AS DECIMAL(28,12)),"
            " (acc, v) -> CAST(acc + CAST(v AS DECIMAL(28,12)) * v AS DECIMAL(28,12)))"
        ).alias("nsq"),
    )
    a = withnorm.alias("a")
    b = withnorm.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.expr(
                "aggregate(zip_with(a.e, b.e, (x, y) -> CAST(CAST(x AS DECIMAL(28,12)) * y"
                " AS DECIMAL(38,18))), CAST(0 AS DECIMAL(38,18)),"
                " (acc, v) -> CAST(acc + v AS DECIMAL(38,18)))"
            ).alias("dot"),
            F.col("a.nsq").alias("na"),
            F.col("b.nsq").alias("nb"),
        )
    )
    cosv = F.col("dot").cast("double") / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
    cosb = pairs.select(
        F.least(
            F.greatest(F.floor((cosv + 1) * 4).cast("int"), F.lit(0)), F.lit(7)
        ).alias("bin")
    )
    h = cosb.groupBy("bin").agg(F.count("*").cast("bigint").alias("n_pairs"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return h.select(
        "bin", "n_pairs",
        F.round(F.col("n_pairs") / (1.0 * F.sum("n_pairs").over(wall)), 6).alias("share"),
    ).orderBy("bin")


# --- winsorized means ------------------------------------------------------------------------------
# Per event type: exact discrete p05/p95 bounds (cross-multiplied
# integer ranks), values CLAMPED to them, and the decimal-exact mean of
# the clamped values — the robust mean that resists the tail without
# discarding rows.
_WINSOR_SQL = """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,2)) AS x FROM events),
    c AS (
      SELECT g, x, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY g, x),
    cum AS (
      SELECT g, x,
             sum(cnt) OVER (PARTITION BY g ORDER BY x) AS cum_n,
             sum(cnt) OVER (PARTITION BY g) AS n
      FROM c),
    bounds AS (
      SELECT g,
             min(CASE WHEN cum_n * 20 >= n THEN x END) AS lo,
             min(CASE WHEN cum_n * 20 >= n * 19 THEN x END) AS hi
      FROM cum GROUP BY g),
    clamped AS (
      SELECT base.g, least(greatest(base.x, b.lo), b.hi) AS cx, b.lo, b.hi
      FROM base JOIN bounds b ON base.g = b.g)
    SELECT g, CAST(count(*) AS BIGINT) AS n,
           round(CAST(max(lo) AS DOUBLE), 2) AS p05,
           round(CAST(max(hi) AS DOUBLE), 2) AS p95,
           round(CAST(sum(cx) AS DOUBLE) / count(*), 6) AS winsor_mean
    FROM clamped GROUP BY g ORDER BY g
"""


@pq("winsorized_mean_trimmed", _WINSOR_SQL)
def winsorized_mean_trimmed(spark, sf_dir):
    """Winsorized mean per event type: exact discrete p05/p95 bounds
    chosen by cross-multiplied INTEGER rank comparisons (no quantile
    interpolation semantics to align), values clamped to the bounds,
    and the decimal-exact mean of the clamped column — the robust
    location estimate that keeps every row but caps the tails' votes.
    Plan: one (type, value) agg collapses the fact table to a value-
    count histogram where the rank windows run; bounds broadcast back
    for the clamp pass."""
    e = _t(spark, sf_dir, "events")
    base = e.select(F.col("event_type").alias("g"), F.col("value").cast("decimal(18,2)").alias("x"))
    c = base.groupBy("g", "x").agg(F.count("*").cast("bigint").alias("cnt"))
    wc = Window.partitionBy("g").orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("g")
    cum = c.select(
        "g", "x", F.sum("cnt").over(wc).alias("cum_n"), F.sum("cnt").over(wp).alias("n")
    )
    bounds = cum.groupBy("g").agg(
        F.min(F.when(F.col("cum_n") * 20 >= F.col("n"), F.col("x"))).alias("lo"),
        F.min(F.when(F.col("cum_n") * 20 >= F.col("n") * 19, F.col("x"))).alias("hi"),
    )
    clamped = base.join(F.broadcast(bounds), "g").select(
        "g", F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi")).alias("cx"), "lo", "hi"
    )
    return (
        clamped.groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.max("lo").cast("double"), 2).alias("p05"),
            F.round(F.max("hi").cast("double"), 2).alias("p95"),
            F.round(F.sum("cx").cast("double") / F.count("*"), 6).alias("winsor_mean"),
        )
        .orderBy("g")
    )
