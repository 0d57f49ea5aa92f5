"""Registry queries: agreement/effect-size/changepoint statistics
(Friedman, Cochran's Q, McNemar, Fleiss' kappa, Cliff's delta,
Jonckheere-Terpstra, Pettitt, Grubbs, Chow), a technical-indicator
family of sequential recursions (Wilder RSI, MACD, stochastic %K/%D,
OBV, Croston, damped Holt, Hurst R/S), SPC charts, and SQL-surface
parity ops (equi-depth NTILE histogram, quantile_disc convention,
UNPIVOT INCLUDE NULLS, calendar-edge date arithmetic, SCD6, MERGE
clause semantics, banker's rounding) plus corpus amplification and a
cursor-paginated HTTP source, each checked against its DuckDB oracle.

Parity rules as in round9/10/11_ops (FIXTURES.md §C): integer/decimal
arithmetic end-to-end (money as exact BIGINT cents; sums of squares
as DECIMAL(38,0)/HUGEINT wide integers past the 2^63 cliff), libm
terms pre-rounded at 9dp and summed as DECIMAL(28,9), ranks via
twice-the-midrank integers, fixed bin edges, md5-bucket portable
randomness, deterministic tie-breaks on every rank/limit,
floor(x*10^k + 0.5)/10^k HALF_UP for display rounding. Sequential
recursions (RSI/MACD/Croston/damped Holt) follow the holt_linear_trend
discipline: exact-integer (or 2dp pre-rounded) seeds and the IDENTICAL
IEEE expression sequence on both engines, so trajectories agree
bit-for-bit. No rank ever rides on a libm value.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import EVENTS_DAILY_SQL, _t, events_daily_cents, half_up
from etl_mini_spark.queries._base import q as pq


# --- Friedman test over day blocks ---------------------------------------------------------
# Blocks = days, treatments = the 5 event types, response = daily
# revenue cents (zero-filled day x type grid so every block is
# complete). Within-block ranks become twice-the-midrank INTEGERS, so
# the per-treatment rank sums and their squares stay BIGINT; the
# statistic Q = 12/(n k (k+1)) SUM R_j^2 - 3 n (k+1) collapses to
# 3*SUM(R2_j^2)/(n k (k+1)) - 3 n (k+1) on the doubled ranks — one
# fixed double expression over exact integers (no tie correction by
# construction: both engines use the same midranks).
_FRIEDMAN_SQL = f"""
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, event_type AS et,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    days AS (SELECT DISTINCT d FROM cells),
    types AS (SELECT DISTINCT event_type AS et FROM events),
    grid AS (
      SELECT days.d, types.et, coalesce(cells.c, 0) AS c
      FROM days CROSS JOIN types
      LEFT JOIN cells ON cells.d = days.d AND cells.et = types.et),
    r AS (
      SELECT d, et,
             2 * rank() OVER (PARTITION BY d ORDER BY c)
               + count(*) OVER (PARTITION BY d, c) - 1 AS r2
      FROM grid),
    rj AS (SELECT et, CAST(sum(r2) AS BIGINT) AS r2j FROM r GROUP BY et),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(r2j * r2j) AS BIGINT) AS sr2 FROM rj),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM days)
    SELECT rj.et, rj.r2j, n.n, s.k,
           floor((3.0 * s.sr2 / (n.n * s.k * (s.k + 1)) - 3.0 * n.n * (s.k + 1))
                 * 1000000 + 0.5) / 1000000 AS q_stat
    FROM rj CROSS JOIN s CROSS JOIN n
    ORDER BY rj.et
"""


@pq("friedman_test_blocks", _FRIEDMAN_SQL)
def friedman_test_blocks(spark, sf_dir):
    """Friedman rank test: do the 5 event types differ in daily revenue
    when each day is its own block? Within-day ranks are
    twice-the-midrank integers over the zero-filled day x type grid, so
    the per-type rank sums — and Q itself — derive from BIGINT sums
    with one double finish. Plan: one day x type agg (calendar-bounded
    grid at any fact scale), one in-block rank window, a k-row finish."""
    from etl_mini_spark.session import pin

    e = _t(spark, sf_dir, "events")
    # cells is calendar-bounded (days x types). types derives from
    # cells: every event row lands in exactly one (d, et) cell, so
    # DISTINCT et over cells is the same set as over the raw table.
    # unpinned: 0.55 s vs 0.49 s at sf0.1 (a pin on rj as well did not pay)
    cells = pin(e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), F.col("event_type").alias("et")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    ))
    days = cells.select("d").distinct()
    types = cells.select("et").distinct()
    grid = (
        days.crossJoin(types)
        .join(cells, ["d", "et"], "left")
        .select("d", "et", F.coalesce("c", F.lit(0)).alias("c"))
    )
    r2 = (
        2 * F.rank().over(Window.partitionBy("d").orderBy("c"))
        + F.count("*").over(Window.partitionBy("d", "c"))
        - 1
    )
    # k rows
    rj = grid.select("et", r2.alias("r2")).groupBy("et").agg(
        F.sum("r2").cast("bigint").alias("r2j")
    )
    s = rj.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("r2j") * F.col("r2j")).cast("bigint").alias("sr2"),
    )
    n = days.agg(F.count("*").cast("bigint").alias("n"))
    q = (
        3.0 * F.col("sr2") / (F.col("n") * F.col("k") * (F.col("k") + 1))
        - 3.0 * F.col("n") * (F.col("k") + 1)
    )
    return (
        rj.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(n))
        .select("et", "r2j", "n", "k", half_up(q).alias("q_stat"))
        .orderBy("et")
    )


# --- Cochran's Q over three binary raters --------------------------------------------------
# Three deterministic document "raters" (length > 350 chars, contains
# 'spark', contains 'join' AND 'merge'); Q = (k-1)(k*SUM G_j^2 -
# (SUM G_j)^2) / (k*SUM L_i - SUM L_i^2) is a ratio of BIGINTs — the
# repeated-measures test that the three screens pass different
# document subsets.
_COCHRAN_SQL = """
    WITH r AS (
      SELECT CASE WHEN length(text) > 350 THEN 1 ELSE 0 END AS a,
             CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS b,
             CASE WHEN text LIKE '%join%' AND text LIKE '%merge%' THEN 1 ELSE 0 END AS cc
      FROM documents),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS g1, CAST(sum(b) AS BIGINT) AS g2,
             CAST(sum(cc) AS BIGINT) AS g3,
             CAST(sum(a + b + cc) AS BIGINT) AS sl,
             CAST(sum((a + b + cc) * (a + b + cc)) AS BIGINT) AS sl2
      FROM r)
    SELECT n, g1, g2, g3,
           floor(2.0 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
                        - (g1 + g2 + g3) * (g1 + g2 + g3))
                 / (3 * sl - sl2) * 1000000 + 0.5) / 1000000 AS q_stat
    FROM s
"""


@pq("cochran_q_raters", _COCHRAN_SQL)
def cochran_q_raters(spark, sf_dir):
    """Cochran's Q for k=3 matched binary raters over the document
    corpus — the screen-agreement test (do three quality filters pass
    the same documents?). Rater totals G_j and per-document sums L_i
    are exact integers; Q = (k-1)(k SUM G^2 - (SUM G)^2)/(k SUM L -
    SUM L^2) is one division. Plan: one corpus scan, a 1-row finish."""
    d = _t(spark, sf_dir, "documents")
    r = d.select(
        F.when(F.length("text") > 350, 1).otherwise(0).alias("a"),
        F.when(F.col("text").contains("spark"), 1).otherwise(0).alias("b"),
        F.when(
            F.col("text").contains("join") & F.col("text").contains("merge"), 1
        ).otherwise(0).alias("cc"),
    )
    li = (F.col("a") + F.col("b") + F.col("cc"))
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("g1"),
        F.sum("b").cast("bigint").alias("g2"),
        F.sum("cc").cast("bigint").alias("g3"),
        F.sum(li).cast("bigint").alias("sl"),
        F.sum(li * li).cast("bigint").alias("sl2"),
    )
    g1, g2, g3 = F.col("g1"), F.col("g2"), F.col("g3")
    q = (
        2.0 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - (g1 + g2 + g3) * (g1 + g2 + g3))
        / (3 * F.col("sl") - F.col("sl2"))
    )
    return s.select("n", "g1", "g2", "g3", half_up(q).alias("q_stat"))


# --- McNemar's test on two paired raters ---------------------------------------------------
# Paired binary screens (contains 'join' vs contains 'merge'); the
# test statistic uses only the DISCORDANT cells b01/b10 — exact
# integers, chi2 = (b01-b10)^2/(b01+b10) plus the continuity-corrected
# variant.
_MCNEMAR_SQL = """
    WITH r AS (
      SELECT CASE WHEN text LIKE '%join%' THEN 1 ELSE 0 END AS a,
             CASE WHEN text LIKE '%merge%' THEN 1 ELSE 0 END AS b
      FROM documents),
    s AS (
      SELECT CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b01,
             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b10,
             CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM r)
    SELECT b01, b10, n11, n00,
           floor(1.0 * (b01 - b10) * (b01 - b10) / (b01 + b10) * 1000000 + 0.5)
             / 1000000 AS chi2,
           floor(1.0 * (abs(b01 - b10) - 1) * (abs(b01 - b10) - 1) / (b01 + b10)
                 * 1000000 + 0.5) / 1000000 AS chi2_cc
    FROM s
"""


@pq("mcnemar_paired_rules", _MCNEMAR_SQL)
def mcnemar_paired_rules(spark, sf_dir):
    """McNemar's test for two paired binary screens on the same
    documents: only the discordant counts b01/b10 matter, and both the
    plain and continuity-corrected chi-square are single divisions of
    exact integers. Plan: one corpus scan, a 1-row finish."""
    d = _t(spark, sf_dir, "documents")
    r = d.select(
        F.when(F.col("text").contains("join"), 1).otherwise(0).alias("a"),
        F.when(F.col("text").contains("merge"), 1).otherwise(0).alias("b"),
    )
    s = r.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint").alias("b01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("b10"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("n11"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint").alias("n00"),
    )
    diff = F.col("b01") - F.col("b10")
    tot = F.col("b01") + F.col("b10")
    adiff = F.abs(diff) - 1
    return s.select(
        "b01", "b10", "n11", "n00",
        half_up(1.0 * diff * diff / tot).alias("chi2"),
        half_up(1.0 * adiff * adiff / tot).alias("chi2_cc"),
    )


# --- Fleiss' kappa over three raters x three categories -------------------------------------
# Three deterministic length-band raters with DIFFERENT cutpoints
# assign each document to {0=short,1=medium,2=long}; n_ij (votes per
# doc per category) are integers 0..3, so P-bar and P_e are exact
# integer ratios: P-bar = (SUM n_ij^2 - N k)/(N k (k-1)),
# P_e = SUM_j C_j^2 / (N k)^2, kappa = (P-bar - P_e)/(1 - P_e).
_FLEISS_SQL = """
    WITH v AS (
      SELECT
        CASE WHEN length(text) < 300 THEN 0 WHEN length(text) < 500 THEN 1 ELSE 2 END AS c1,
        CASE WHEN length(text) < 320 THEN 0 WHEN length(text) < 520 THEN 1 ELSE 2 END AS c2,
        CASE WHEN length(text) < 280 THEN 0 WHEN length(text) < 480 THEN 1 ELSE 2 END AS c3
      FROM documents),
    nij AS (
      SELECT
        (CASE WHEN c1 = 0 THEN 1 ELSE 0 END + CASE WHEN c2 = 0 THEN 1 ELSE 0 END
         + CASE WHEN c3 = 0 THEN 1 ELSE 0 END) AS n0,
        (CASE WHEN c1 = 1 THEN 1 ELSE 0 END + CASE WHEN c2 = 1 THEN 1 ELSE 0 END
         + CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
        (CASE WHEN c1 = 2 THEN 1 ELSE 0 END + CASE WHEN c2 = 2 THEN 1 ELSE 0 END
         + CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2
      FROM v),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS snsq,
             CAST(sum(n0) AS BIGINT) AS c0, CAST(sum(n1) AS BIGINT) AS c1t,
             CAST(sum(n2) AS BIGINT) AS c2t
      FROM nij)
    SELECT n, c0, c1t, c2t,
           floor(((1.0 * (snsq - n * 3) / (n * 3 * 2))
                  - (1.0 * (c0 * c0 + c1t * c1t + c2t * c2t) / ((n * 3) * (n * 3))))
                 / (1.0 - 1.0 * (c0 * c0 + c1t * c1t + c2t * c2t) / ((n * 3) * (n * 3)))
                 * 1000000 + 0.5) / 1000000 AS kappa
    FROM s
"""


@pq("fleiss_kappa_multi", _FLEISS_SQL)
def fleiss_kappa_multi(spark, sf_dir):
    """Fleiss' kappa for three deterministic length-band raters over
    three categories — multi-rater chance-corrected agreement. All
    vote-count statistics (SUM n_ij^2, category column totals) are
    BIGINTs; kappa is one fixed double expression over those exact
    integer ratios. Plan: one corpus scan, a 1-row finish."""
    d = _t(spark, sf_dir, "documents")
    ln = F.length("text")

    def band(lo, hi):
        return F.when(ln < lo, 0).when(ln < hi, 1).otherwise(2)

    v = d.select(band(300, 500).alias("c1"), band(320, 520).alias("c2"),
                 band(280, 480).alias("c3"))
    def votes(cat):
        return sum(
            F.when(F.col(c) == cat, 1).otherwise(0) for c in ("c1", "c2", "c3")
        )

    nij = v.select(votes(0).alias("n0"), votes(1).alias("n1"), votes(2).alias("n2"))
    s = nij.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.col("n0") * F.col("n0") + F.col("n1") * F.col("n1")
            + F.col("n2") * F.col("n2")
        ).cast("bigint").alias("snsq"),
        F.sum("n0").cast("bigint").alias("c0"),
        F.sum("n1").cast("bigint").alias("c1t"),
        F.sum("n2").cast("bigint").alias("c2t"),
    )
    n = F.col("n")
    csq = F.col("c0") * F.col("c0") + F.col("c1t") * F.col("c1t") + F.col("c2t") * F.col("c2t")
    pbar = 1.0 * (F.col("snsq") - n * 3) / (n * 3 * 2)
    pe = 1.0 * csq / ((n * 3) * (n * 3))
    return s.select(
        "n", "c0", "c1t", "c2t", half_up((pbar - pe) / (1.0 - pe)).alias("kappa")
    )


# --- Cliff's delta between purchase and click days ------------------------------------------
# Nonparametric effect size: over all (purchase-day, click-day) cent
# pairs, delta = (#(x>y) - #(x<y)) / (n1*n2). The pair table is
# calendar^2 (bounded at any fact scale because both sides aggregate
# to days first); every statistic is a BIGINT.
_CLIFFS_SQL = """
    WITH dp AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    dc AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'click' GROUP BY 1),
    s AS (
      SELECT CAST(sum(CASE WHEN p.c > q.c THEN 1 WHEN p.c < q.c THEN -1 ELSE 0 END)
               AS BIGINT) AS net,
             CAST(count(*) AS BIGINT) AS np
      FROM dp p CROSS JOIN dc q),
    n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM dp),
    n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM dc)
    SELECT n1.n1, n2.n2, s.net,
           floor(1.0 * s.net / s.np * 1000000 + 0.5) / 1000000 AS delta
    FROM s CROSS JOIN n1 CROSS JOIN n2
"""


@pq("cliffs_delta_effect", _CLIFFS_SQL)
def cliffs_delta_effect(spark, sf_dir):
    """Cliff's delta effect size between purchase-day and click-day
    revenue distributions: the signed dominance count over the bounded
    day x day pair grid divided by n1*n2 — all BIGINTs, one division.
    Plan: two day aggs, a calendar^2 cross of TINY aggregated tables
    (the fact table is scanned twice and never self-joined), 1-row
    finish."""
    e = _t(spark, sf_dir, "events")

    def daily(et):
        return (
            e.filter(F.col("event_type") == et)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
            .agg(
                F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
                .cast("bigint").alias("c")
            )
        )

    dp, dc = daily("purchase"), daily("click")
    s = dp.crossJoin(dc.select(F.col("c").alias("c2"))).agg(
        F.sum(
            F.when(F.col("c") > F.col("c2"), 1)
            .when(F.col("c") < F.col("c2"), -1)
            .otherwise(0)
        ).cast("bigint").alias("net"),
        F.count("*").cast("bigint").alias("np"),
    )
    n1 = dp.agg(F.count("*").cast("bigint").alias("n1"))
    n2 = dc.agg(F.count("*").cast("bigint").alias("n2"))
    return (
        s.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("n1", "n2", "net", half_up(1.0 * F.col("net") / F.col("np")).alias("delta"))
    )


# --- Jonckheere-Terpstra ordered-alternative trend test --------------------------------------
# Ordered groups = the 5 order priorities (1-URGENT < ... < 5-LOW),
# observations = MONTHLY order counts per priority (bounded grid at
# any fact scale). J is accumulated DOUBLED (2*#(x<y) + #(x=y)) so
# ties stay integer; the null mean and variance (no tie correction —
# same convention both engines) are integer formulas, z is one fixed
# double expression.
_JT_SQL = """
    WITH m AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
             strftime(o_orderdate, '%Y-%m') AS ym,
             CAST(count(*) AS BIGINT) AS v
      FROM orders GROUP BY 1, 2),
    j AS (
      SELECT CAST(sum(CASE WHEN a.v < b.v THEN 2 WHEN a.v = b.v THEN 1 ELSE 0 END)
               AS BIGINT) AS j2
      FROM m a JOIN m b ON a.g < b.g),
    sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM m GROUP BY g),
    s AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(ng * ng) AS BIGINT) AS sn2,
             CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sv
      FROM sizes)
    SELECT s.n, j.j2,
           floor((j.j2 - 1.0 * (s.n * s.n - s.sn2) / 2)
                 / (2.0 * sqrt((1.0 * s.n * s.n * (2 * s.n + 3) - s.sv) / 72.0))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM j CROSS JOIN s
"""


@pq("jonckheere_terpstra_trend", _JT_SQL)
def jonckheere_terpstra_trend(spark, sf_dir):
    """Jonckheere-Terpstra test for an ordered trend in monthly order
    volume across the 5 priorities. The doubled statistic J2 counts
    2 per strict dominance + 1 per tie over cross-group month pairs
    (a bounded grid — months x priorities, never the fact table), and
    z = (J2 - 2E[J]) / (2 sqrt(Var)) is one fixed expression over
    integer sums. Plan: one month x priority agg, a tiny grid
    self-join, 1-row finish."""
    from etl_mini_spark.session import pin

    o = _t(spark, sf_dir, "orders")
    # unpinned: 0.38 s vs 0.34 s at sf0.1
    m = pin(o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(F.count("*").cast("bigint").alias("v")))
    a = m.alias("a")
    b = m.select(F.col("g").alias("g2"), F.col("v").alias("v2")).alias("b")
    j = (
        a.join(b, F.col("a.g") < F.col("g2"))
        .agg(
            F.sum(
                F.when(F.col("a.v") < F.col("v2"), 2)
                .when(F.col("a.v") == F.col("v2"), 1)
                .otherwise(0)
            ).cast("bigint").alias("j2")
        )
    )
    sizes = m.groupBy("g").agg(F.count("*").cast("bigint").alias("ng"))
    s = sizes.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(F.col("ng") * F.col("ng")).cast("bigint").alias("sn2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3)).cast("bigint").alias("sv"),
    )
    n = F.col("n")
    z = (
        (F.col("j2") - 1.0 * (n * n - F.col("sn2")) / 2)
        / (2.0 * F.sqrt((1.0 * n * n * (2 * n + 3) - F.col("sv")) / 72.0))
    )
    return j.crossJoin(F.broadcast(s)).select("n", "j2", half_up(z).alias("z"))


# --- Pettitt changepoint on daily revenue -----------------------------------------------------
# U_t = SUM_{i<=t<j} sgn(x_j - x_i) over the bounded day-pair table
# (calendar^2); the changepoint is the earliest day maximizing |U_t|.
# Everything is integer: sgn sums, max, argmax with day tie-break.
_PETTITT_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    idx AS (SELECT d, c, row_number() OVER (ORDER BY d) AS rn FROM daily),
    pairs AS (
      SELECT a.rn AS i, b.rn AS j,
             CAST(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END
               AS BIGINT) AS s
      FROM idx a JOIN idx b ON a.rn < b.rn),
    u AS (
      SELECT t.rn, t.d, CAST(coalesce(sum(p.s), 0) AS BIGINT) AS ut
      FROM idx t LEFT JOIN pairs p ON p.i <= t.rn AND p.j > t.rn
      GROUP BY t.rn, t.d),
    best AS (
      SELECT rn, d, ut, row_number() OVER (ORDER BY abs(ut) DESC, d) AS pick
      FROM u)
    SELECT d AS change_d, CAST(abs(ut) AS BIGINT) AS k_stat, ut
    FROM best WHERE pick = 1
"""


@pq("pettitt_changepoint", _PETTITT_SQL)
def pettitt_changepoint(spark, sf_dir):
    """Pettitt's nonparametric changepoint: the split day t maximizing
    |U_t|, U_t the signed rank-dominance sum between the before/after
    halves. Computed over the bounded day-pair grid (the fact table
    aggregates to days first), so every value is a BIGINT and the
    argmax is integer with an earliest-day tie-break. Plan: one day
    agg, a calendar^2 pair join on TINY tables, one rank pick."""
    daily = events_daily_cents(spark, sf_dir)
    idx = daily.select("d", "c", F.row_number().over(Window.orderBy("d")).alias("rn"))
    a = idx.select(F.col("rn").alias("i"), F.col("c").alias("ci"))
    b = idx.select(F.col("rn").alias("j"), F.col("c").alias("cj"))
    pairs = a.join(b, F.col("i") < F.col("j")).select(
        "i", "j",
        F.when(F.col("cj") > F.col("ci"), 1)
        .when(F.col("cj") < F.col("ci"), -1)
        .otherwise(0).cast("bigint").alias("s"),
    )
    u = (
        idx.join(pairs, (F.col("i") <= F.col("rn")) & (F.col("j") > F.col("rn")), "left")
        .groupBy("rn", "d")
        .agg(F.coalesce(F.sum("s"), F.lit(0)).cast("bigint").alias("ut"))
    )
    best = u.withColumn(
        "pick", F.row_number().over(Window.orderBy(F.abs("ut").desc(), "d"))
    )
    return best.filter("pick = 1").select(
        F.col("d").alias("change_d"),
        F.abs("ut").cast("bigint").alias("k_stat"),
        "ut",
    )


# --- Grubbs' max-outlier test on daily revenue ------------------------------------------------
# The candidate day is picked by the INTEGER deviation |n*x_i - S|
# (same ordering as |x_i - mean|, no libm in the rank — the repo
# convention), with earliest-day tie-break; G = (dev/n)/s is computed
# once for the winner from exact integer sums (sum of squares held
# wide: DECIMAL(38,0)/HUGEINT past the 2^63 cliff).
_GRUBBS_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
             sum(CAST(c AS HUGEINT) * c) AS ssq
      FROM daily),
    dev AS (
      SELECT d.d, d.c, CAST(abs(s.n * d.c - s.sc) AS BIGINT) AS dv, s.n, s.sc, s.ssq,
             row_number() OVER (ORDER BY abs(s.n * d.c - s.sc) DESC, d.d) AS pick
      FROM daily d CROSS JOIN s)
    SELECT d AS outlier_d, CAST(c AS DOUBLE) / 100.0 AS revenue, n,
           floor((1.0 * dv / n)
                 / sqrt((1.0 * n * ssq - 1.0 * sc * sc) / (1.0 * n * (n - 1)))
                 * 1000000 + 0.5) / 1000000 AS g_stat
    FROM dev WHERE pick = 1
"""


@pq("grubbs_max_outlier", _GRUBBS_SQL)
def grubbs_max_outlier(spark, sf_dir):
    """Grubbs' test for the single most extreme day: the candidate is
    ranked by the integer deviation |n*x_i - S| (equivalent ordering to
    |x_i - mean| with no libm in the rank), then G = |x - mean|/s is
    one fixed expression over exact integer sums, the sum of squares
    wide (DECIMAL(38,0)/HUGEINT). Plan: one day agg, one broadcast of
    the 1-row moments, one rank pick."""
    daily = events_daily_cents(spark, sf_dir)
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .alias("ssq"),
    )
    dev = daily.crossJoin(F.broadcast(s)).withColumn(
        "dv", F.abs(F.col("n") * F.col("c") - F.col("sc")).cast("bigint")
    ).withColumn(
        "pick", F.row_number().over(Window.orderBy(F.col("dv").desc(), "d"))
    )
    n, sc, ssq = F.col("n"), F.col("sc"), F.col("ssq")
    g = (1.0 * F.col("dv") / n) / F.sqrt(
        (1.0 * n * ssq - 1.0 * sc * sc) / (1.0 * n * (n - 1))
    )
    return dev.filter("pick = 1").select(
        F.col("d").alias("outlier_d"),
        (F.col("c").cast("double") / 100.0).alias("revenue"),
        "n",
        half_up(g).alias("g_stat"),
    )


# --- Chow test for a structural break at mid-series -------------------------------------------
# Daily revenue regressed on the day index, split at the FIXED
# midpoint nb = n DIV 2. Segment SSEs come from centered sums built
# out of exact integers (Syy wide), combined pooled = seg1 + seg2 raw
# sums (all additive), and F is one fixed double expression — the
# same integer-sums regression discipline as rolling_regression_slope.
_CHOW_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    idx AS (SELECT c, row_number() OVER (ORDER BY d) AS rn FROM daily),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) / 2 AS BIGINT) AS nb FROM idx),
    seg AS (
      SELECT CASE WHEN i.rn <= nn.nb THEN 1 ELSE 2 END AS sg,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(i.rn) AS BIGINT) AS sx, CAST(sum(i.c) AS BIGINT) AS sy,
             CAST(sum(i.rn * i.rn) AS BIGINT) AS sxx,
             CAST(sum(i.rn * i.c) AS BIGINT) AS sxy,
             sum(CAST(i.c AS HUGEINT) * i.c) AS syy
      FROM idx i CROSS JOIN nn GROUP BY 1),
    sse AS (
      SELECT sg, m,
             ((1.0 * m * syy - 1.0 * sy * sy)
              - (1.0 * m * sxy - 1.0 * sx * sy) * (1.0 * m * sxy - 1.0 * sx * sy)
                / (1.0 * m * sxx - 1.0 * sx * sx)) / m AS e
      FROM seg),
    pooled AS (
      SELECT CAST(sum(m) AS BIGINT) AS m,
             CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
             CAST(sum(sxx) AS BIGINT) AS sxx, CAST(sum(sxy) AS BIGINT) AS sxy,
             sum(syy) AS syy
      FROM seg),
    psse AS (
      SELECT m,
             ((1.0 * m * syy - 1.0 * sy * sy)
              - (1.0 * m * sxy - 1.0 * sx * sy) * (1.0 * m * sxy - 1.0 * sx * sy)
                / (1.0 * m * sxx - 1.0 * sx * sx)) / m AS e
      FROM pooled),
    parts AS (
      SELECT max(CASE WHEN sg = 1 THEN e END) AS e1,
             max(CASE WHEN sg = 2 THEN e END) AS e2
      FROM sse)
    SELECT nn.n, nn.nb,
           floor(((psse.e - parts.e1 - parts.e2) / 2.0)
                 / ((parts.e1 + parts.e2) / (nn.n - 4.0)) * 1000000 + 0.5)
             / 1000000 AS f_stat
    FROM psse CROSS JOIN parts CROSS JOIN nn
"""


@pq("chow_structural_break", _CHOW_SQL)
def chow_structural_break(spark, sf_dir):
    """Chow test: does the daily-revenue-vs-time regression break at
    the series midpoint? Segment and pooled SSEs derive from exact
    integer sums (Syy wide), pooled sums are the ADDITIVE combination
    of the segment sums (no second scan), and F is one fixed double
    expression. Plan: one day agg, one 2-group aggregate over the tiny
    indexed series (one row per calendar day), scalar algebra."""
    from etl_mini_spark.session import pin

    daily = events_daily_cents(spark, sf_dir)
    # unpinned: 0.56 s vs 0.51 s at sf0.1
    idx = pin(daily.select("c", F.row_number().over(Window.orderBy("d")).alias("rn")))
    nn = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.count("*") / 2).cast("bigint").alias("nb"),
    )
    seg = (
        idx.crossJoin(F.broadcast(nn))
        .groupBy(F.when(F.col("rn") <= F.col("nb"), 1).otherwise(2).alias("sg"))
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum("rn").cast("bigint").alias("sx"),
            F.sum("c").cast("bigint").alias("sy"),
            F.sum(F.col("rn") * F.col("rn")).cast("bigint").alias("sxx"),
            F.sum(F.col("rn") * F.col("c")).cast("bigint").alias("sxy"),
            F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
            .alias("syy"),
        )
    )

    def sse_expr():
        m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
        sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
        sxyc = 1.0 * m * sxy - 1.0 * sx * sy
        return ((1.0 * m * syy - 1.0 * sy * sy) - sxyc * sxyc
                / (1.0 * m * sxx - 1.0 * sx * sx)) / m

    sse = seg.select("sg", sse_expr().alias("e"))
    pooled = seg.agg(
        F.sum("m").cast("bigint").alias("m"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
        F.sum("sxy").cast("bigint").alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    psse = pooled.select(sse_expr().alias("e"))
    parts = sse.agg(
        F.max(F.when(F.col("sg") == 1, F.col("e"))).alias("e1"),
        F.max(F.when(F.col("sg") == 2, F.col("e"))).alias("e2"),
    )
    f = ((F.col("e") - F.col("e1") - F.col("e2")) / 2.0) / (
        (F.col("e1") + F.col("e2")) / (F.col("n") - 4.0)
    )
    return (
        psse.crossJoin(F.broadcast(parts))
        .crossJoin(F.broadcast(nn))
        .select("n", "nb", half_up(f).alias("f_stat"))
    )


# --- Theil inequality index over customer revenue ----------------------------------------------
# T = SUM (x_i/X) ln(n x_i / X) over customers with orders. Each ln
# argument is an exact-integer ratio (n*x_i BIGINT / X BIGINT), the
# term is pre-rounded at 9dp and summed as DECIMAL(28,9) — the repo's
# order-free libm-sum rule.
_THEIL_SQL = """
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS x
      FROM orders GROUP BY 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS xt FROM cust),
    terms AS (
      SELECT CAST(floor((1.0 * c.x / s.xt) * ln(1.0 * s.n * c.x / s.xt)
                        * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000 AS t9,
             s.n, s.xt
      FROM cust c CROSS JOIN s)
    SELECT max(n) AS n, CAST(max(xt) AS BIGINT) AS total_cents,
           floor(CAST(sum(t9) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS theil
    FROM terms
"""


@pq("theil_inequality_index", _THEIL_SQL)
def theil_inequality_index(spark, sf_dir):
    """Theil's T inequality index of customer revenue concentration —
    the entropy-based complement of the registered Gini/Lorenz and
    Herfindahl screens. Each term's ln argument is an exact integer
    ratio; terms pre-round at 9dp and sum as DECIMAL(28,9) (order-free
    exact), one double finish. Plan: one customer agg, one broadcast
    1-row total, one decimal sum."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("x")
    )
    s = cust.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("xt")
    )
    term = (1.0 * F.col("x") / F.col("xt")) * F.log(
        1.0 * F.col("n") * F.col("x") / F.col("xt")
    )
    t9 = (
        F.floor(term * 1_000_000_000 + F.lit(0.5)).cast("decimal(28,9)")
        / 1_000_000_000
    )
    return (
        cust.crossJoin(F.broadcast(s))
        .select(t9.alias("t9"), "n", "xt")
        .agg(
            F.max("n").alias("n"),
            F.max("xt").cast("bigint").alias("total_cents"),
            half_up(F.sum("t9").cast("double")).alias("theil"),
        )
    )


# --- XmR (individuals + moving range) control chart --------------------------------------------
# Shewhart individuals chart on daily revenue: moving ranges
# |c_t - c_{t-1}| are integers, the center line and the 2.66*MR-bar
# control limits are fixed double expressions over integer sums, and
# each day's out-of-control flags compare the SAME doubles on both
# engines.
_XMR_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    mr AS (
      SELECT d, c,
             abs(c - lag(c) OVER (ORDER BY d)) AS mrv
      FROM daily),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(mrv) AS BIGINT) AS smr,
             CAST(count(mrv) AS BIGINT) AS nmr
      FROM mr)
    SELECT mr.d, CAST(mr.c AS DOUBLE) / 100.0 AS revenue,
           floor((1.0 * s.sc / s.n / 100.0) * 10000 + 0.5) / 10000 AS center,
           floor((1.0 * s.sc / s.n + 2.66 * (1.0 * s.smr / s.nmr)) / 100.0
                 * 10000 + 0.5) / 10000 AS ucl,
           floor((1.0 * s.sc / s.n - 2.66 * (1.0 * s.smr / s.nmr)) / 100.0
                 * 10000 + 0.5) / 10000 AS lcl,
           CAST(mr.c AS DOUBLE) > 1.0 * s.sc / s.n + 2.66 * (1.0 * s.smr / s.nmr)
             AS above_ucl,
           CAST(mr.c AS DOUBLE) < 1.0 * s.sc / s.n - 2.66 * (1.0 * s.smr / s.nmr)
             AS below_lcl
    FROM mr CROSS JOIN s
    ORDER BY mr.d
"""


@pq("xmr_control_chart", _XMR_SQL)
def xmr_control_chart(spark, sf_dir):
    """XmR (individuals / moving-range) control chart on daily revenue:
    MR values are exact integer cent differences, the center and
    2.66*MR-bar limits are fixed expressions over integer sums, and the
    out-of-control booleans compare raw doubles computed identically on
    both engines (the bollinger breach discipline). Plan: one day agg,
    one lag window, one broadcast 1-row moment join."""
    daily = events_daily_cents(spark, sf_dir)
    mr = daily.select(
        "d", "c", F.abs(F.col("c") - F.lag("c").over(Window.orderBy("d"))).alias("mrv")
    )
    s = mr.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum("mrv").cast("bigint").alias("smr"),
        F.count("mrv").cast("bigint").alias("nmr"),
    )
    mean = 1.0 * F.col("sc") / F.col("n")
    mrbar = 1.0 * F.col("smr") / F.col("nmr")
    ucl, lcl = mean + 2.66 * mrbar, mean - 2.66 * mrbar
    return (
        mr.crossJoin(F.broadcast(s))
        .select(
            "d",
            (F.col("c").cast("double") / 100.0).alias("revenue"),
            half_up(mean / 100.0, 4).alias("center"),
            half_up(ucl / 100.0, 4).alias("ucl"),
            half_up(lcl / 100.0, 4).alias("lcl"),
            (F.col("c").cast("double") > ucl).alias("above_ucl"),
            (F.col("c").cast("double") < lcl).alias("below_lcl"),
        )
        .orderBy("d")
    )


# --- record-breaking days (running-max streaks) -------------------------------------------------
# All-time-high bookkeeping: a day is a record when its revenue
# strictly exceeds every prior day's. Running max and the record
# ordinal are integer window aggregates — no floats anywhere.
_RECORD_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    r AS (
      SELECT d, c,
             max(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM daily),
    flags AS (
      SELECT d, c, (prev_max IS NULL OR c > prev_max) AS is_record FROM r)
    SELECT d, CAST(c AS DOUBLE) / 100.0 AS revenue,
           CAST(sum(CASE WHEN is_record THEN 1 ELSE 0 END)
                OVER (ORDER BY d) AS BIGINT) AS record_no
    FROM flags WHERE is_record
    ORDER BY d
"""


@pq("record_breaking_days", _RECORD_SQL)
def record_breaking_days(spark, sf_dir):
    """Days that set a new all-time revenue high, with their record
    ordinal — the running-max streak audit. Strictly integer window
    logic (prev-row running max + a counted flag). Plan: one day agg
    and two ordered windows over the calendar-bounded series."""
    daily = events_daily_cents(spark, sf_dir)
    w_prev = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    r = daily.select("d", "c", F.max("c").over(w_prev).alias("prev_max"))
    flags = r.select(
        "d", "c",
        (F.col("prev_max").isNull() | (F.col("c") > F.col("prev_max"))).alias("is_record"),
    )
    return (
        flags.withColumn(
            "record_no",
            F.sum(F.when(F.col("is_record"), 1).otherwise(0))
            .over(Window.orderBy("d")).cast("bigint"),
        )
        .filter("is_record")
        .select("d", (F.col("c").cast("double") / 100.0).alias("revenue"), "record_no")
        .orderBy("d")
    )


# --- Wilder RSI (14-day) on daily revenue -------------------------------------------------------
# Gains/losses are exact integer cent diffs; the seed averages are one
# division each; the Wilder recursion ag' = (ag*13 + g)/14 is the
# IDENTICAL IEEE sequence on both engines (holt discipline), so RSI
# matches bit-for-bit before the display pin.
_RSI_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    dd AS (
      SELECT s2.i, s2.d,
             CAST(greatest(s2.c - s1.c, 0) AS BIGINT) AS g,
             CAST(greatest(s1.c - s2.c, 0) AS BIGINT) AS l
      FROM ser s1 JOIN ser s2 ON s2.i = s1.i + 1),
    seed AS (
      SELECT CAST(15 AS BIGINT) AS i,
             sum(g) / 14.0 AS ag, sum(l) / 14.0 AS al
      FROM dd WHERE i <= 15),
    rec AS (
      SELECT i, ag, al FROM seed
      UNION ALL
      SELECT r.i + 1,
             (r.ag * 13.0 + dd.g) / 14.0,
             (r.al * 13.0 + dd.l) / 14.0
      FROM rec r JOIN dd ON dd.i = r.i + 1)
    SELECT ser.d,
           floor(CASE WHEN rec.al = 0.0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + rec.ag / rec.al) END
                 * 1000000 + 0.5) / 1000000 AS rsi,
           floor(rec.ag / 100.0 * 1000000 + 0.5) / 1000000 AS avg_gain,
           floor(rec.al / 100.0 * 1000000 + 0.5) / 1000000 AS avg_loss
    FROM rec JOIN ser ON ser.i = rec.i
    ORDER BY ser.d
"""


@pq("rsi_wilder_14", _RSI_SQL)
def rsi_wilder_14(spark, sf_dir):
    """Wilder's 14-day RSI on daily revenue: integer cent gains/losses,
    seed averages over the first 14 diffs, then the smoothing recursion
    (ag*13 + g)/14 — a sequential state update no window frame
    expresses, run as one Arrow pass over the calendar-bounded series
    and replayed by the oracle as a recursive CTE with the identical
    IEEE sequence. Plan: one day agg, one bounded single-series pass."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir)

    def rsi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        c = pdf["c"].to_numpy()
        n = len(c)
        if n < 15:
            return pd.DataFrame(
                {"d": pd.Series([], dtype=str), "rsi": pd.Series([], dtype=float),
                 "avg_gain": pd.Series([], dtype=float),
                 "avg_loss": pd.Series([], dtype=float)}
            )
        g = [max(int(c[i]) - int(c[i - 1]), 0) for i in range(1, n)]
        l = [max(int(c[i - 1]) - int(c[i]), 0) for i in range(1, n)]
        ag, al = sum(g[:14]) / 14.0, sum(l[:14]) / 14.0
        rows = [(pdf["d"][14], ag, al)]
        for i in range(15, n):
            ag = (ag * 13.0 + g[i - 1]) / 14.0
            al = (al * 13.0 + l[i - 1]) / 14.0
            rows.append((pdf["d"][i], ag, al))
        out = pd.DataFrame(rows, columns=["d", "ag", "al"])
        out["rsi"] = [
            100.0 if a2 == 0.0 else 100.0 - 100.0 / (1.0 + a1 / a2)
            for a1, a2 in zip(out["ag"], out["al"])
        ]
        out["avg_gain"] = out["ag"]
        out["avg_loss"] = out["al"]
        return out[["d", "rsi", "avg_gain", "avg_loss"]]

    res = daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        rsi, schema="d string, rsi double, avg_gain double, avg_loss double"
    )
    return res.select(
        "d", half_up(F.col("rsi")).alias("rsi"),
        half_up(F.col("avg_gain") / 100.0).alias("avg_gain"),
        half_up(F.col("avg_loss") / 100.0).alias("avg_loss"),
    ).orderBy("d")


# --- MACD (12/26 EMA + 9-EMA signal) with crossing flags ----------------------------------------
# Three coupled EMAs over daily cents (exact int -> double inputs),
# every alpha written as the same literal division on both engines
# (2.0/13.0, 2.0/27.0, 0.2/0.8). The crossing boolean compares RAW
# consecutive histogram values via a lag over the recursion output —
# engine-identical because the trajectories are.
_MACD_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, CAST(c AS DOUBLE) AS x, row_number() OVER (ORDER BY d) AS i
            FROM daily),
    rec AS (
      SELECT i, x, x AS e12, x AS e26, CAST(0.0 AS DOUBLE) AS sig
      FROM ser WHERE i = 1
      UNION ALL
      SELECT s.i, s.x,
             (2.0 / 13.0) * s.x + (11.0 / 13.0) * r.e12,
             (2.0 / 27.0) * s.x + (25.0 / 27.0) * r.e26,
             0.2 * (((2.0 / 13.0) * s.x + (11.0 / 13.0) * r.e12)
                    - ((2.0 / 27.0) * s.x + (25.0 / 27.0) * r.e26)) + 0.8 * r.sig
      FROM rec r JOIN ser s ON s.i = r.i + 1),
    o AS (
      SELECT i, e12 - e26 AS macd, sig, (e12 - e26) - sig AS hist FROM rec)
    SELECT ser.d,
           floor(o.macd / 100.0 * 1000000 + 0.5) / 1000000 AS macd,
           floor(o.sig / 100.0 * 1000000 + 0.5) / 1000000 AS signal_line,
           floor(o.hist / 100.0 * 1000000 + 0.5) / 1000000 AS histogram,
           coalesce((o.hist > 0 AND lag(o.hist) OVER (ORDER BY o.i) <= 0)
                    OR (o.hist < 0 AND lag(o.hist) OVER (ORDER BY o.i) >= 0),
                    FALSE) AS crossed
    FROM o JOIN ser ON ser.i = o.i
    ORDER BY ser.d
"""


@pq("macd_signal_line", _MACD_SQL)
def macd_signal_line(spark, sf_dir):
    """MACD: fast/slow EMAs of daily revenue, the 9-period signal EMA
    of their difference, and histogram sign-crossing flags — three
    coupled recursions in one sequential pass (Arrow on the Spark side,
    a recursive CTE on the oracle side), alphas written as identical
    literal divisions so the trajectories agree bit-for-bit; the
    crossing boolean compares raw consecutive histogram values. Plan:
    one day agg, one bounded single-series pass, one lag window."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir)

    def macd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = [float(v) for v in pdf["c"]]
        if not xs:
            return pd.DataFrame(
                {"d": pd.Series([], dtype=str), "macd": pd.Series([], dtype=float),
                 "sig": pd.Series([], dtype=float)}
            )
        e12, e26, sig = xs[0], xs[0], 0.0
        rows = [(pdf["d"][0], e12 - e26, sig)]
        for t in range(1, len(xs)):
            e12 = (2.0 / 13.0) * xs[t] + (11.0 / 13.0) * e12
            e26 = (2.0 / 27.0) * xs[t] + (25.0 / 27.0) * e26
            sig = 0.2 * (e12 - e26) + 0.8 * sig
            rows.append((pdf["d"][t], e12 - e26, sig))
        return pd.DataFrame(rows, columns=["d", "macd", "sig"])

    o = daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        macd, schema="d string, macd double, sig double"
    )
    hist = F.col("macd") - F.col("sig")
    w = Window.orderBy("d")
    lagh = F.lag(hist).over(w)
    return o.select(
        "d",
        half_up(F.col("macd") / 100.0).alias("macd"),
        half_up(F.col("sig") / 100.0).alias("signal_line"),
        half_up(hist / 100.0).alias("histogram"),
        F.coalesce(
            ((hist > 0) & (lagh <= 0)) | ((hist < 0) & (lagh >= 0)), F.lit(False)
        ).alias("crossed"),
    ).orderBy("d")


# --- stochastic oscillator %K / %D --------------------------------------------------------------
# Rolling 14-day min/max are integer cents; %K is one integer-ratio
# double (flat window -> the fixed 50.0 convention), pre-rounded at
# 9dp so the 3-term %D average — written as an explicit left-assoc
# lag sum, never a frame aggregate — is order-free.
_STOCH_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    w AS (
      SELECT d, c,
             min(c) OVER (ORDER BY d ROWS 13 PRECEDING) AS mn,
             max(c) OVER (ORDER BY d ROWS 13 PRECEDING) AS mx,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily),
    k AS (
      SELECT d, rn,
             floor(CASE WHEN mx = mn THEN 50.0
                        ELSE 100.0 * (c - mn) / (mx - mn) END
                   * 1000000000 + 0.5) / 1000000000 AS pk
      FROM w WHERE rn >= 14)
    SELECT d, floor(pk * 1000000 + 0.5) / 1000000 AS pct_k,
           floor((pk + lag(pk, 1) OVER (ORDER BY d) + lag(pk, 2) OVER (ORDER BY d))
                 / 3.0 * 1000000 + 0.5) / 1000000 AS pct_d
    FROM k
    ORDER BY d
"""


@pq("stochastic_oscillator_kd", _STOCH_SQL)
def stochastic_oscillator_kd(spark, sf_dir):
    """Stochastic oscillator: %K from rolling 14-day integer min/max of
    daily revenue cents (flat window pinned to 50.0), pre-rounded at
    9dp; %D as the explicit (k + lag1 + lag2)/3 left-associated sum —
    fixed evaluation order, so no frame-aggregation order leaks in.
    Plan: one day agg + three ordered windows over the bounded series."""
    daily = events_daily_cents(spark, sf_dir)
    w14 = Window.orderBy("d").rowsBetween(-13, 0)
    wr = Window.orderBy("d")
    w = daily.select(
        "d", "c",
        F.min("c").over(w14).alias("mn"),
        F.max("c").over(w14).alias("mx"),
        F.row_number().over(wr).alias("rn"),
    )
    pk_raw = F.when(F.col("mx") == F.col("mn"), 50.0).otherwise(
        100.0 * (F.col("c") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    )
    k = w.filter(F.col("rn") >= 14).select(
        "d", (F.floor(pk_raw * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("pk")
    )
    pd3 = (F.col("pk") + F.lag("pk", 1).over(wr) + F.lag("pk", 2).over(wr)) / 3.0
    return k.select(
        "d", half_up(F.col("pk")).alias("pct_k"), half_up(pd3).alias("pct_d")
    ).orderBy("d")


# --- on-balance volume over daily flows ---------------------------------------------------------
# OBV accumulates the day's event count signed by the revenue
# direction — integers end to end (sign, multiply, running sum).
_OBV_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1),
    t AS (
      SELECT d, c, v,
             CASE WHEN c > lag(c) OVER (ORDER BY d) THEN v
                  WHEN c < lag(c) OVER (ORDER BY d) THEN -v
                  ELSE 0 END AS term
      FROM daily)
    SELECT d, CAST(c AS DOUBLE) / 100.0 AS revenue, v,
           CAST(sum(coalesce(term, 0)) OVER (ORDER BY d) AS BIGINT) AS obv
    FROM t ORDER BY d
"""


@pq("obv_daily_flow", _OBV_SQL)
def obv_daily_flow(spark, sf_dir):
    """On-balance volume: the running sum of daily event counts signed
    by the day-over-day revenue direction — integer window logic end to
    end (the OBV accumulation-pressure indicator). Plan: one day agg +
    two ordered windows over the calendar-bounded series."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c"),
        F.count("*").cast("bigint").alias("v"),
    )
    w = Window.orderBy("d")
    lc = F.lag("c").over(w)
    term = (
        F.when(F.col("c") > lc, F.col("v"))
        .when(F.col("c") < lc, -F.col("v"))
        .otherwise(0)
    )
    t = daily.select("d", "c", "v", term.alias("term"))
    return t.select(
        "d",
        (F.col("c").cast("double") / 100.0).alias("revenue"),
        "v",
        F.sum(F.coalesce("term", F.lit(0))).over(
            Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("obv"),
    ).orderBy("d")


# --- Croston's method for intermittent demand ---------------------------------------------------
# Demand = daily signup counts per md5 user bucket (zero-filled grid,
# so zero-demand days genuinely occur at small SF). State (z = demand
# size EMA, p = inter-demand interval EMA, q = periods since demand)
# seeds at the first demand day (z = that demand, p = its index) and
# updates ONLY on demand days — the sequential recursion intermittent
# forecasting needs, run as one Arrow pass per bucket and replayed by
# a bucket-keyed recursive CTE. alpha = 0.2/0.8 (binary-exact).
_CROSTON_SQL = """
    WITH RECURSIVE cells AS (
      SELECT (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':cro'), 1, 15))
               AS BIGINT) % 4) AS b,
             strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS dem
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
    days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d FROM events),
    bks AS (SELECT DISTINCT b FROM cells),
    grid AS (
      SELECT bks.b, days.d, coalesce(cells.dem, 0) AS dem
      FROM bks CROSS JOIN days
      LEFT JOIN cells ON cells.b = bks.b AND cells.d = days.d),
    ser AS (
      SELECT b, d, dem, row_number() OVER (PARTITION BY b ORDER BY d) AS i
      FROM grid),
    f AS (SELECT b, min(i) AS fi FROM ser WHERE dem > 0 GROUP BY b),
    rec AS (
      SELECT s.b, s.i, CAST(s.dem AS DOUBLE) AS z, CAST(f.fi AS DOUBLE) AS p,
             CAST(1 AS BIGINT) AS q
      FROM ser s JOIN f ON f.b = s.b AND s.i = f.fi
      UNION ALL
      SELECT r.b, r.i + 1,
             CASE WHEN s.dem > 0 THEN 0.2 * s.dem + 0.8 * r.z ELSE r.z END,
             CASE WHEN s.dem > 0 THEN 0.2 * r.q + 0.8 * r.p ELSE r.p END,
             CASE WHEN s.dem > 0 THEN CAST(1 AS BIGINT) ELSE r.q + 1 END
      FROM rec r JOIN ser s ON s.b = r.b AND s.i = r.i + 1),
    last AS (
      SELECT b, max(i) AS n FROM ser GROUP BY b),
    dd AS (SELECT b, CAST(count(*) AS BIGINT) AS demand_days FROM ser WHERE dem > 0 GROUP BY b)
    SELECT rec.b AS bucket, dd.demand_days,
           floor(rec.z * 1000000 + 0.5) / 1000000 AS size_ema,
           floor(rec.p * 1000000 + 0.5) / 1000000 AS interval_ema,
           floor(rec.z / rec.p * 1000000 + 0.5) / 1000000 AS forecast
    FROM rec JOIN last ON last.b = rec.b AND rec.i = last.n
    JOIN dd ON dd.b = rec.b
    ORDER BY rec.b
"""


@pq("croston_intermittent", _CROSTON_SQL)
def croston_intermittent(spark, sf_dir):
    """Croston's intermittent-demand forecast per md5 user bucket:
    EMAs of demand size and inter-demand interval updated only on
    demand days, seeded at the first demand (z = size, p = index). One
    Arrow pass per bucket on the zero-filled daily grid; the oracle
    replays the same state machine as a bucket-keyed recursive CTE.
    Plan: one day x bucket agg (bounded grid), series parallel across
    buckets, recursion bounded by the calendar."""
    import pandas as pd

    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    cells = (
        e.filter(F.col("event_type") == "signup")
        .select(
            hash_bucket(F.col("user_id"), salt="cro", buckets=4).alias("b"),
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
        )
        .groupBy("b", "d")
        .agg(F.count("*").cast("bigint").alias("dem"))
    )
    days = e.select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct()
    bks = cells.select("b").distinct()
    grid = (
        bks.crossJoin(days)
        .join(cells, ["b", "d"], "left")
        .select("b", "d", F.coalesce("dem", F.lit(0)).alias("dem"))
    )

    def croston(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        dem = [int(x) for x in pdf["dem"]]
        first = next((i for i, v in enumerate(dem) if v > 0), None)
        if first is None:
            return pd.DataFrame(
                {"b": pd.Series([], dtype="int64"),
                 "demand_days": pd.Series([], dtype="int64"),
                 "size_ema": pd.Series([], dtype=float),
                 "interval_ema": pd.Series([], dtype=float)}
            )
        z, p, q = float(dem[first]), float(first + 1), 1
        for t in range(first + 1, len(dem)):
            if dem[t] > 0:
                z = 0.2 * dem[t] + 0.8 * z
                p = 0.2 * q + 0.8 * p
                q = 1
            else:
                q += 1
        return pd.DataFrame(
            {"b": [int(pdf["b"][0])], "demand_days": [sum(1 for v in dem if v > 0)],
             "size_ema": [z], "interval_ema": [p]}
        )

    res = grid.groupBy("b").applyInPandas(
        croston, schema="b long, demand_days long, size_ema double, interval_ema double"
    )
    return res.select(
        F.col("b").alias("bucket"),
        "demand_days",
        half_up(F.col("size_ema")).alias("size_ema"),
        half_up(F.col("interval_ema")).alias("interval_ema"),
        half_up(F.col("size_ema") / F.col("interval_ema")).alias("forecast"),
    ).orderBy("bucket")


# --- damped-trend Holt smoothing ----------------------------------------------------------------
# holt_linear_trend's phi-damped sibling (phi = 0.9): the trend is
# damped both in the level update and in its own carry — the standard
# fix for runaway linear extrapolation. Identical IEEE sequence on
# both engines (0.9 is a shared literal; 0.5/0.3/0.7 as in holt).
_HDAMP_SQL = """
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
             0.5 * s.x + 0.5 * (r.l + 0.9 * r.b),
             0.3 * ((0.5 * s.x + 0.5 * (r.l + 0.9 * r.b)) - r.l) + 0.7 * (0.9 * r.b),
             r.l + 0.9 * r.b
      FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.i = r.i + 1)
    SELECT rec.event_type AS event_type, ser.d AS d,
           floor(rec.l * 1000000 + 0.5) / 1000000 AS level,
           floor(rec.b * 1000000 + 0.5) / 1000000 AS trend,
           floor(rec.f * 1000000 + 0.5) / 1000000 AS fitted
    FROM rec JOIN ser ON rec.event_type = ser.event_type AND rec.i = ser.i
    ORDER BY 1, 2
"""


@pq("holt_damped_trend", _HDAMP_SQL)
def holt_damped_trend(spark, sf_dir):
    """Phi-damped Holt smoothing (phi=0.9) of each event type's daily
    revenue — the damped-trend member of the exponential family
    (level update and trend carry both damp the trend), completing the
    holt_linear/holt_winters differential set. One Arrow pass per
    series key vs the recursive-CTE replay, identical IEEE sequence.
    Plan: one day agg, one shuffle on the series key, bounded
    per-series recursion."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x"))

    def holt_d(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = pdf["x"].to_numpy()
        if len(xs) < 2:
            return pd.DataFrame(
                {"event_type": pd.Series([], dtype=str), "d": pd.Series([], dtype=str),
                 "level": pd.Series([], dtype=float), "trend": pd.Series([], dtype=float),
                 "fitted": pd.Series([], dtype=float)}
            )
        l = xs[0]
        b = xs[1] - xs[0]
        ls, bs, fs = [l], [b], [xs[0]]
        for t in range(1, len(xs)):
            f = l + 0.9 * b
            l_new = 0.5 * xs[t] + 0.5 * (l + 0.9 * b)
            b_new = 0.3 * (l_new - l) + 0.7 * (0.9 * b)
            l, b = l_new, b_new
            ls.append(l)
            bs.append(b)
            fs.append(f)
        return pd.DataFrame(
            {"event_type": pdf["event_type"], "d": pdf["d"],
             "level": ls, "trend": bs, "fitted": fs}
        )

    res = daily.groupBy("event_type").applyInPandas(
        holt_d,
        schema="event_type string, d string, level double, trend double, fitted double",
    )
    return res.select(
        "event_type", "d",
        half_up(F.col("level")).alias("level"),
        half_up(F.col("trend")).alias("trend"),
        half_up(F.col("fitted")).alias("fitted"),
    ).orderBy("event_type", "d")


# --- Hurst exponent via rescaled-range (R/S) analysis -------------------------------------------
# Hourly event counts on the zero-filled hour grid; window sizes are
# powers of two (16/64/256) so the regression x-coordinates are EXACT
# (log2 = 4/6/8) and the slope collapses to (y3 - y1)/4. Within each
# full window the range of the mean-adjusted cumsum is held integer by
# scaling through the window size (sz*C_j - j*S), and R/S reduces to
# range_int / sqrt(sz*SSq - S^2) — one IEEE sqrt of an exact integer.
# Per-size means pre-round each R/S at 9dp and sum as DECIMAL(28,9).
_HURST_SQL = """
    WITH hours AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    spine AS (
      SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)),
                      '%Y-%m-%d %H:00:00') AS h
      FROM bounds),
    ser AS (
      SELECT spine.h, coalesce(hours.x, 0) AS x,
             row_number() OVER (ORDER BY spine.h) AS i
      FROM spine LEFT JOIN hours ON hours.h = spine.h),
    sized AS (
      SELECT sz, (i - 1) // sz AS w, (i - 1) % sz + 1 AS j, x
      FROM ser CROSS JOIN (SELECT unnest([16, 64, 256]) AS sz)),
    full_w AS (
      SELECT sz, w FROM sized GROUP BY sz, w HAVING count(*) = sz),
    stats AS (
      SELECT s.sz, s.w, s.j, s.x,
             CAST(sum(s.x) OVER (PARTITION BY s.sz, s.w) AS BIGINT) AS sw,
             sum(CAST(s.x AS HUGEINT) * s.x) OVER (PARTITION BY s.sz, s.w) AS ssq,
             CAST(sum(s.x) OVER (PARTITION BY s.sz, s.w ORDER BY s.j) AS BIGINT) AS cj
      FROM sized s JOIN full_w f ON f.sz = s.sz AND f.w = s.w),
    rng AS (
      SELECT sz, w, max(sw) AS sw, max(ssq) AS ssq,
             CAST(max(sz * cj - j * sw) - min(sz * cj - j * sw) AS BIGINT) AS r_int
      FROM stats GROUP BY sz, w),
    rs AS (
      SELECT sz,
             CAST(floor(r_int / sqrt(CAST(sz * ssq - CAST(sw AS HUGEINT) * sw AS DOUBLE))
                        * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000 AS rs9
      FROM rng WHERE sz * ssq - CAST(sw AS HUGEINT) * sw > 0),
    m AS (
      SELECT sz, CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(rs9) AS DOUBLE) / count(*) AS mean_rs
      FROM rs GROUP BY sz),
    y AS (
      SELECT sz, n_windows, mean_rs,
             floor(ln(mean_rs) / ln(2.0) * 1000000000 + 0.5) / 1000000000 AS y9
      FROM m),
    hurst AS (
      SELECT (max(CASE WHEN sz = 256 THEN y9 END)
              - max(CASE WHEN sz = 16 THEN y9 END)) / 4.0 AS h_exp
      FROM y)
    SELECT y.sz, y.n_windows,
           floor(y.mean_rs * 1000000 + 0.5) / 1000000 AS mean_rs,
           floor(hurst.h_exp * 1000000 + 0.5) / 1000000 AS hurst
    FROM y CROSS JOIN hurst
    ORDER BY y.sz
"""


@pq("hurst_rescaled_range", _HURST_SQL)
def hurst_rescaled_range(spark, sf_dir):
    """Hurst exponent of hourly event volume by rescaled-range
    analysis: per power-of-two window size, R/S = range_int /
    sqrt(sz*SSq - S^2) with the mean-adjusted cumsum range held
    INTEGER (scaled through the window size), per-size means as
    9dp-pinned DECIMAL sums, and the slope over exact x = log2(sz) in
    {4,6,8} collapsing to (y3-y1)/4. Flat (all-equal) windows are
    excluded by the same zero-variance rule on both engines. Plan: one
    hour agg, a 3-size grid explode of the bounded hourly series,
    keyed window stats."""
    e = _t(spark, sf_dir, "events")
    hours = e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("h")
    ).agg(F.count("*").cast("bigint").alias("x"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hh")
    ).select(F.date_format("hh", "yyyy-MM-dd HH:00:00").alias("h"))

    # calendar-bounded hourly series
    ser = (
        spine.join(hours, "h", "left")
        .select("h", F.coalesce("x", F.lit(0)).alias("x"))
        .withColumn("i", F.row_number().over(Window.orderBy("h")))
    )
    sizes = ser.sparkSession.createDataFrame([(16,), (64,), (256,)], "sz int")
    sized = ser.crossJoin(F.broadcast(sizes)).select(
        "sz",
        ((F.col("i") - 1) / F.col("sz")).cast("long").alias("w"),
        ((F.col("i") - 1) % F.col("sz") + 1).alias("j"),
        "x",
    )
    full_w = sized.groupBy("sz", "w").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") == F.col("sz")
    ).select("sz", "w")
    wp = Window.partitionBy("sz", "w")
    wo = wp.orderBy("j")
    stats = sized.join(full_w, ["sz", "w"]).select(
        "sz", "w", "j", "x",
        F.sum("x").over(wp).cast("bigint").alias("sw"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .over(wp).alias("ssq"),
        F.sum("x").over(wo).cast("bigint").alias("cj"),
    )
    dev = F.col("sz") * F.col("cj") - F.col("j") * F.col("sw")
    rng = stats.groupBy("sz", "w").agg(
        F.max("sw").alias("sw"),
        F.max("ssq").alias("ssq"),
        (F.max(dev) - F.min(dev)).cast("bigint").alias("r_int"),
    )
    denom = F.col("sz") * F.col("ssq") - F.col("sw").cast("decimal(19,0)") * F.col("sw").cast("decimal(19,0)")
    rs9 = (
        F.floor(F.col("r_int") / F.sqrt(denom.cast("double")) * 1_000_000_000 + F.lit(0.5))
        .cast("decimal(28,9)") / 1_000_000_000
    )
    rs = rng.filter(denom > 0).select("sz", rs9.alias("rs9"))
    m = rs.groupBy("sz").agg(
        F.count("*").cast("bigint").alias("n_windows"),
        (F.sum("rs9").cast("double") / F.count("*")).alias("mean_rs"),
    )
    # 3 rows
    y = m.select(
        "sz", "n_windows", "mean_rs",
        (F.floor(F.log("mean_rs") / F.log(F.lit(2.0)) * 1_000_000_000 + F.lit(0.5))
         / 1_000_000_000).alias("y9"),
    )
    hurst = y.agg(
        (
            (F.max(F.when(F.col("sz") == 256, F.col("y9")))
             - F.max(F.when(F.col("sz") == 16, F.col("y9")))) / 4.0
        ).alias("h_exp")
    )
    return (
        y.crossJoin(F.broadcast(hurst))
        .select(
            "sz", "n_windows",
            half_up(F.col("mean_rs")).alias("mean_rs"),
            half_up(F.col("h_exp")).alias("hurst"),
        )
        .orderBy("sz")
    )


# --- XYZ demand-volatility classes per brand ----------------------------------------------------
# The forecastability complement of the registered ABC classes:
# monthly shipped quantity per brand on the zero-filled month grid,
# CV = sqrt((m*SSq - S^2)/(m*(m-1))) / (S/m) from exact integer sums,
# fixed class cutpoints (no quantile-derived edges). The class
# comparison rides on CVs that are bit-identical across engines
# (IEEE sqrt of identical exact-integer expressions).
_XYZ_SQL = """
    WITH cells AS (
      SELECT p.p_brand AS b, strftime(l.l_shipdate, '%Y-%m') AS ym,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS v
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    months AS (SELECT DISTINCT ym FROM cells),
    brands AS (SELECT DISTINCT p_brand AS b FROM part),
    grid AS (
      SELECT brands.b, months.ym, coalesce(cells.v, 0) AS v
      FROM brands CROSS JOIN months
      LEFT JOIN cells ON cells.b = brands.b AND cells.ym = months.ym),
    s AS (
      SELECT b, CAST(count(*) AS BIGINT) AS m, CAST(sum(v) AS BIGINT) AS sv,
             sum(CAST(v AS HUGEINT) * v) AS ssq
      FROM grid GROUP BY b),
    cv AS (
      SELECT b, m, sv,
             sqrt((1.0 * m * ssq - 1.0 * sv * sv) / (1.0 * m * (m - 1)))
               / (1.0 * sv / m) AS cv
      FROM s WHERE sv > 0)
    SELECT b AS brand, m, sv AS total_qty,
           floor(cv * 1000000 + 0.5) / 1000000 AS cv,
           CASE WHEN cv < 0.21 THEN 'X' WHEN cv < 0.25 THEN 'Y' ELSE 'Z' END AS xyz_class
    FROM cv
    ORDER BY brand
"""


@pq("xyz_volatility_classes", _XYZ_SQL)
def xyz_volatility_classes(spark, sf_dir):
    """XYZ demand-volatility classification per brand (the
    forecastability axis that pairs with the registered ABC value
    axis): coefficient of variation of monthly shipped quantity on the
    zero-filled month grid, from exact integer sums (sum of squares
    wide), with FIXED class cutpoints 0.21/0.25 — never
    quantile-derived edges. Plan: one month x brand agg, grid fill
    against tiny dimension tables, per-brand scalar algebra."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cells = (
        l.join(F.broadcast(p.select("p_partkey", "p_brand")), l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("b"), F.date_format("l_shipdate", "yyyy-MM").alias("ym"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("v"))
    )
    months = cells.select("ym").distinct()
    brands = p.select(F.col("p_brand").alias("b")).distinct()
    grid = (
        brands.crossJoin(months)
        .join(cells, ["b", "ym"], "left")
        .select("b", "ym", F.coalesce("v", F.lit(0)).alias("v"))
    )
    s = grid.groupBy("b").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v").cast("decimal(19,0)"))
        .alias("ssq"),
    )
    m, sv, ssq = F.col("m"), F.col("sv"), F.col("ssq")
    cv = F.sqrt((1.0 * m * ssq - 1.0 * sv * sv) / (1.0 * m * (m - 1))) / (1.0 * sv / m)
    return (
        s.filter(sv > 0)
        .select(
            F.col("b").alias("brand"), "m", sv.alias("total_qty"),
            half_up(cv).alias("cv"),
            F.when(cv < 0.21, "X").when(cv < 0.25, "Y").otherwise("Z").alias("xyz_class"),
        )
        .orderBy("brand")
    )


# --- equi-depth histogram via NTILE --------------------------------------------------------------
# Eight equal-frequency buckets of order value: NTILE's floor-division
# fill rule is identical on both engines given the same total order
# (cents, then order key), and every per-bucket statistic is integer.
_EQUIDEPTH_SQL = """
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             o_orderkey AS k
      FROM orders),
    b AS (SELECT c, ntile(8) OVER (ORDER BY c, k) AS bucket FROM v)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(c) AS DOUBLE) / 100.0 AS lo,
           CAST(max(c) AS DOUBLE) / 100.0 AS hi,
           CAST(sum(c) AS DOUBLE) / 100.0 AS total
    FROM b GROUP BY bucket ORDER BY bucket
"""


@pq("equi_depth_histogram", _EQUIDEPTH_SQL)
def equi_depth_histogram(spark, sf_dir):
    """Equal-frequency (equi-depth) 8-bucket histogram of order value
    via NTILE over the deterministic (cents, order key) total order —
    both engines share NTILE's floor-division fill rule, so bucket
    boundaries are exact, and every per-bucket statistic is a BIGINT.
    The Spark side computes the global rank DISTRIBUTED
    (exact_global_rank: range repartition + within-partition
    row_number + per-partition offsets) and replays NTILE's integer
    fill rule from it — no single-partition window anywhere, the
    100-TB-safe exact equi-depth. Plan: one range shuffle, one tiny
    counts gather, one bucket agg."""
    from etl_mini_spark.operators.layout import exact_global_rank

    o = _t(spark, sf_dir, "orders")
    v = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    ranked, n_total = exact_global_rank(v, ["c", "k"], with_total=True)
    # NTILE(8) fill rule from the exact global rank: the first n%8
    # buckets carry ceil(n/8) rows — pure integer arithmetic, identical
    # to both engines' NTILE definition. n comes free from the bucket
    # counts exact_global_rank already gathered, embedded as a literal —
    # the old count(*) subplan re-scanned orders and attached it with a
    # BroadcastNestedLoopJoin (one extra scan + broadcast per run).
    qf, r8 = n_total // 8, n_total % 8
    big = F.col("rn") <= (qf + 1) * r8
    bucket = F.when(big, F.floor((F.col("rn") - 1) / (qf + 1)) + 1).otherwise(
        r8 + F.floor((F.col("rn") - (qf + 1) * r8 - 1) / F.lit(qf)) + 1
    )
    b = ranked.select("c", bucket.cast("int").alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.min("c").cast("double") / 100.0).alias("lo"),
            (F.max("c").cast("double") / 100.0).alias("hi"),
            (F.sum("c").cast("double") / 100.0).alias("total"),
        )
        .orderBy("bucket")
    )


# --- quantile_disc convention parity -------------------------------------------------------------
# DuckDB's native quantile_disc picks the 1-based element at
# floor(q*n + 0.5) (verified empirically across discriminating n/q);
# the Spark side reconstructs EXACTLY that rank in pure integer
# arithmetic ((2*qn*n + qd) DIV (2*qd)) and selects by row_number —
# native implementation vs integer-rank rewrite, two independent
# routes to the same order statistic.
_QDISC_SQL = """
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders),
    qq AS (
      SELECT quantile_disc(c, 0.10) AS p10, quantile_disc(c, 0.25) AS p25,
             quantile_disc(c, 0.50) AS p50, quantile_disc(c, 0.75) AS p75,
             quantile_disc(c, 0.90) AS p90
      FROM v)
    SELECT 'p10' AS q, CAST(p10 AS DOUBLE) / 100.0 AS value FROM qq
    UNION ALL SELECT 'p25', CAST(p25 AS DOUBLE) / 100.0 FROM qq
    UNION ALL SELECT 'p50', CAST(p50 AS DOUBLE) / 100.0 FROM qq
    UNION ALL SELECT 'p75', CAST(p75 AS DOUBLE) / 100.0 FROM qq
    UNION ALL SELECT 'p90', CAST(p90 AS DOUBLE) / 100.0 FROM qq
    ORDER BY q
"""


@pq("quantile_disc_parity", _QDISC_SQL)
def quantile_disc_parity(spark, sf_dir):
    """Discrete (non-interpolating) quantiles of order value: DuckDB
    runs its NATIVE quantile_disc; Spark reconstructs the same order
    statistic by integer rank selection rank = floor(q*n + 1/2) =
    (2*qn*n + qd) DIV (2*qd) over the (cents, key) total order — the
    convention pinned empirically against discriminating n/q probes —
    computed over the DISTRIBUTED exact global rank (range repartition
    + offsets, no single-partition window). Two independent
    implementations of the same statistic; exact integer arithmetic
    end to end. Plan: one range shuffle + a tiny counts gather + one
    broadcast rank-grid join."""
    from etl_mini_spark.operators.layout import exact_global_rank

    o = _t(spark, sf_dir, "orders")
    v = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    qs = v.sparkSession.createDataFrame(
        [("p10", 1, 10), ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
        "q string, qn long, qd long",
    )
    ranked, n_total = exact_global_rank(v, ["c", "k"], with_total=True)
    # n comes free from the bucket counts exact_global_rank already
    # gathered (same integer count(*) the old agg+crossJoin subtree
    # re-derived with an extra scan of orders per run).
    ranks = qs.select(
        "q",
        F.floor((2 * F.col("qn") * F.lit(n_total) + F.col("qd")) / (2 * F.col("qd")))
        .cast("bigint").alias("rk"),
    )
    rn = ranked.select("c", "rn")
    return (
        rn.join(F.broadcast(ranks), rn.rn == ranks.rk)
        .select("q", (F.col("c").cast("double") / 100.0).alias("value"))
        .orderBy("q")
    )


# --- UNPIVOT INCLUDE NULLS parity ----------------------------------------------------------------
# Spark's native SQL UNPIVOT ... INCLUDE NULLS over per-customer
# metrics where one metric is NULL by construction (customers with no
# 1998+ order); the oracle builds the same long table explicitly with
# UNION ALL — native generator vs explicit construction, and the
# include-nulls semantics (the row SURVIVES with a NULL value) is the
# point under test.
_UNPIVOTN_SQL = """
    WITH base AS (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS DOUBLE) AS order_cnt,
             CAST(sum(CASE WHEN o.o_orderdate >= DATE '2001-01-01'
                           THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                           END) AS DOUBLE) / 100.0 AS recent_dollars
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1)
    SELECT c_custkey, 'order_cnt' AS metric, order_cnt AS value FROM base
    UNION ALL
    SELECT c_custkey, 'recent_dollars', recent_dollars FROM base
    ORDER BY c_custkey, metric
"""


@pq("unpivot_include_nulls", _UNPIVOTN_SQL)
def unpivot_include_nulls(spark, sf_dir):
    """UNPIVOT with INCLUDE NULLS semantics: the wide per-customer
    metric table goes long through Spark's NATIVE SQL UNPIVOT clause
    (INCLUDE NULLS keeps the rows whose metric is NULL — customers
    with no 2001+ orders), while the oracle constructs the identical
    long table with explicit UNION ALL arms. Plan: one agg + a
    generator (no shuffle beyond the agg)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("double").alias("order_cnt"),
            (
                F.sum(
                    F.when(
                        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"),
                        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"),
                    )
                ).cast("double") / 100.0
            ).alias("recent_dollars"),
        )
    )
    base.createOrReplaceTempView("unpivot_base_r12")
    return base.sparkSession.sql(
        """
        SELECT c_custkey, metric, value
        FROM unpivot_base_r12
        UNPIVOT INCLUDE NULLS (value FOR metric IN (order_cnt, recent_dollars))
        ORDER BY c_custkey, metric
        """
    )


# --- calendar-edge date arithmetic parity ---------------------------------------------------------
# Month-end clamping (add_months lands 1996-01-31 on 1996-02-29),
# last_day, quarter/year truncation and day-of-year across every
# distinct order date — the two engines' independent calendar
# implementations must agree on every edge (leap Feb 29 order dates
# exist in the data).
_DATEARITH_SQL = """
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders)
    SELECT strftime(dt, '%Y-%m-%d') AS d,
           strftime(CAST(dt + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS plus_1m,
           strftime(CAST(dt - INTERVAL 13 MONTH AS DATE), '%Y-%m-%d') AS minus_13m,
           strftime(last_day(dt), '%Y-%m-%d') AS month_end,
           strftime(CAST(date_trunc('quarter', dt) AS DATE), '%Y-%m-%d') AS q_start,
           strftime(CAST(date_trunc('year', dt) AS DATE), '%Y-%m-%d') AS y_start,
           CAST(dayofyear(dt) AS BIGINT) AS doy,
           CAST(dt = last_day(dt) AS BOOLEAN) AS is_month_end
    FROM d ORDER BY d
"""


@pq("date_arith_edges", _DATEARITH_SQL)
def date_arith_edges(spark, sf_dir):
    """Calendar-edge date arithmetic over every distinct order date:
    add_months month-end clamping (incl. leap-year Feb 29 targets,
    which exist in the data), last_day, quarter/year truncation,
    day-of-year, and the is-month-end predicate — two independent
    calendar implementations agreeing edge for edge. Plan: one
    distinct over a bounded date domain; pure codegen expressions."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").cast("date").alias("dt")).distinct()
    return d.select(
        F.date_format("dt", "yyyy-MM-dd").alias("d"),
        F.date_format(F.add_months("dt", 1), "yyyy-MM-dd").alias("plus_1m"),
        F.date_format(F.add_months("dt", -13), "yyyy-MM-dd").alias("minus_13m"),
        F.date_format(F.last_day("dt"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", "dt"), "yyyy-MM-dd").alias("q_start"),
        F.date_format(F.date_trunc("year", "dt"), "yyyy-MM-dd").alias("y_start"),
        F.dayofyear("dt").cast("bigint").alias("doy"),
        (F.col("dt") == F.last_day("dt")).alias("is_month_end"),
    ).orderBy("d")


# --- SCD type-6 hybrid dimension -----------------------------------------------------------------
# The 1+2+3 hybrid: from each customer's priority-change log (orders
# ordered by date+key, consecutive duplicates collapsed), emit the
# type-2 effective-dated rows, the type-3 previous-value column, and
# the type-1 current value repeated on every row. Pure window logic —
# lag for change detection and prev value, lead for the validity
# horizon, last for the current value.
_SCD6_SQL = """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority AS pr,
             strftime(o_orderdate, '%Y-%m-%d') AS d,
             lag(o_orderpriority) OVER w AS prev_any
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    chg AS (
      SELECT o_custkey, pr, d
      FROM seq WHERE prev_any IS NULL OR pr <> prev_any),
    dim AS (
      SELECT o_custkey, pr, d,
             row_number() OVER w AS change_seq,
             lag(pr) OVER w AS prev_pr,
             lead(d) OVER w AS valid_to,
             last_value(pr) OVER (PARTITION BY o_custkey ORDER BY d, pr
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING) AS cur_pr
      FROM chg
      WINDOW w AS (PARTITION BY o_custkey ORDER BY d, pr))
    SELECT o_custkey, change_seq, pr AS priority, prev_pr AS prev_priority,
           d AS valid_from, valid_to, valid_to IS NULL AS is_current,
           cur_pr AS current_priority
    FROM dim ORDER BY o_custkey, change_seq
"""


@pq("scd6_hybrid_dim", _SCD6_SQL)
def scd6_hybrid_dim(spark, sf_dir):
    """SCD type-6 hybrid dimension from the per-customer priority
    change log: type-2 effective-dated rows (valid_from/valid_to via
    lead), type-3 previous value (lag over changes), and type-1
    current value (unbounded last_value) on every row — the windowed
    MERGE/SCD6 shape. Change detection collapses consecutive
    duplicates with a deterministic (date, order key) sequence. Plan:
    one shuffle on the dimension key, three windows over it."""
    o = _t(spark, sf_dir, "orders")
    w_any = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.col("o_orderpriority").alias("pr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.lag("o_orderpriority").over(w_any).alias("prev_any"),
    )
    chg = seq.filter(
        F.col("prev_any").isNull() | (F.col("pr") != F.col("prev_any"))
    ).select("o_custkey", "pr", "d")
    w = Window.partitionBy("o_custkey").orderBy("d", "pr")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dim = chg.select(
        "o_custkey", "pr", "d",
        F.row_number().over(w).alias("change_seq"),
        F.lag("pr").over(w).alias("prev_pr"),
        F.lead("d").over(w).alias("valid_to"),
        F.last("pr").over(w_all).alias("cur_pr"),
    )
    return dim.select(
        "o_custkey", "change_seq",
        F.col("pr").alias("priority"),
        F.col("prev_pr").alias("prev_priority"),
        F.col("d").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        F.col("cur_pr").alias("current_priority"),
    ).orderBy("o_custkey", "change_seq")


# --- MERGE with full WHEN-clause semantics --------------------------------------------------------
# Classic warehouse MERGE replayed relationally (Spark-on-parquet has
# no writable MERGE target, so the clause semantics ARE the query):
# target = the established pre-2000 customer dim (>= 6 prior orders,
# so NOT-MATCHED inserts genuinely occur at every SF), source = 2000+
# activity;
# WHEN MATCHED AND tombstone THEN DELETE / WHEN MATCHED THEN UPDATE /
# WHEN NOT MATCHED THEN INSERT, with a deterministic latest-by
# (date, key) pick on both sides.
_MERGE_SQL = """
    WITH tgt AS (
      SELECT o_custkey, pr, n FROM (
        SELECT o_custkey, o_orderpriority AS pr,
               CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < DATE '2000-01-01')
      WHERE rn = 1 AND n >= 6),
    src AS (
      SELECT o_custkey, pr, n FROM (
        SELECT o_custkey, o_orderpriority AS pr,
               CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate >= DATE '2000-01-01')
      WHERE rn = 1),
    merged AS (
      SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
             CASE
               WHEN t.o_custkey IS NOT NULL AND s.o_custkey IS NOT NULL
                    AND s.pr = '5-LOW' THEN 'delete'
               WHEN t.o_custkey IS NOT NULL AND s.o_custkey IS NOT NULL THEN 'update'
               WHEN t.o_custkey IS NULL THEN 'insert'
               ELSE 'keep' END AS action,
             coalesce(s.pr, t.pr) AS priority,
             CAST(coalesce(t.n, 0) + coalesce(s.n, 0) AS BIGINT) AS order_cnt
      FROM tgt t FULL OUTER JOIN src s ON s.o_custkey = t.o_custkey)
    SELECT o_custkey, action, priority, order_cnt
    FROM merged WHERE action <> 'delete'
    ORDER BY o_custkey
"""


@pq("merge_when_clauses", _MERGE_SQL)
def merge_when_clauses(spark, sf_dir):
    """MERGE with the full WHEN-clause ladder — MATCHED+condition
    DELETE, MATCHED UPDATE, NOT MATCHED INSERT, NOT-MATCHED-BY-SOURCE
    keep — replayed as one full outer join + CASE (the relational core
    of warehouse MERGE; both sides pick the latest value
    deterministically by (date, key) — max_by on Spark, a row_number
    pick on the oracle). Tombstoned rows ('5-LOW' latest
    priority) are deleted from the result. Plan: two keyed aggs, one
    key-coalesced full outer join — shuffle on the merge key only."""
    o = _t(spark, sf_dir, "orders")
    # Both MERGE sides partition the same fact on the same key by a
    # date predicate, so ONE scan + ONE o_custkey shuffle computes both
    # via FILTER-ed aggregates; side existence becomes a flag (target:
    # any pre-2000 row AND n >= 6; source: any 2000+ row) and the full
    # outer join disappears. Row-identical to the two-aggregate + full
    # outer join formulation (the oracle still runs that shape), at
    # half the scans and a third of the exchanges.
    cut = "DATE '2000-01-01'"
    both = o.groupBy("o_custkey").agg(
        F.expr(
            "max_by(o_orderpriority, struct(o_orderdate, o_orderkey)) "
            f"FILTER (WHERE o_orderdate < {cut})"
        ).alias("tpr"),
        F.expr(f"count(*) FILTER (WHERE o_orderdate < {cut})")
        .cast("bigint").alias("tn"),
        F.expr(
            "max_by(o_orderpriority, struct(o_orderdate, o_orderkey)) "
            f"FILTER (WHERE o_orderdate >= {cut})"
        ).alias("spr"),
        F.expr(f"count(*) FILTER (WHERE o_orderdate >= {cut})")
        .cast("bigint").alias("sn"),
    )
    t_in = F.col("tn") >= 6  # target existence: established pre-2000 dim
    s_in = F.col("sn") > 0   # source existence: any 2000+ activity
    merged = both.filter(t_in | s_in).select(
        "o_custkey",
        F.when(t_in & s_in & (F.col("spr") == "5-LOW"), "delete")
        .when(t_in & s_in, "update")
        .when(~t_in, "insert")
        .otherwise("keep")
        .alias("action"),
        F.coalesce(
            F.when(s_in, F.col("spr")), F.when(t_in, F.col("tpr"))
        ).alias("priority"),
        (F.when(t_in, F.col("tn")).otherwise(F.lit(0))
         + F.when(s_in, F.col("sn")).otherwise(F.lit(0)))
        .cast("bigint").alias("order_cnt"),
    )
    return merged.filter(F.col("action") != "delete").orderBy("o_custkey")


# --- banker's (half-even) rounding ledger ---------------------------------------------------------
# Tax charges at 4 decimal places (exact DECIMAL products) rounded to
# cents HALF_EVEN: Spark uses its NATIVE bround; the oracle emulates
# half-even with integer quotient/remainder arithmetic — two
# independent implementations, and the tie rows (remainder exactly 50)
# are counted so the test can't pass vacuously on tie-free data.
_BANKERS_SQL = """
    WITH x AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_tax AS DECIMAL(8,2)) AS DECIMAL(28,4)) AS tax4
      FROM lineitem),
    q AS (
      SELECT l_returnflag,
             CAST(tax4 * 10000 AS BIGINT) // 100 AS qt,
             CAST(tax4 * 10000 AS BIGINT) % 100 AS r
      FROM x),
    he AS (
      SELECT l_returnflag,
             CASE WHEN r > 50 THEN qt + 1
                  WHEN r < 50 THEN qt
                  ELSE qt + (qt % 2) END AS cents,
             CASE WHEN r = 50 THEN 1 ELSE 0 END AS is_tie
      FROM q)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS tax_cents_half_even,
           CAST(sum(is_tie) AS BIGINT) AS tie_rows
    FROM he GROUP BY l_returnflag ORDER BY l_returnflag
"""


@pq("bankers_rounding_ledger", _BANKERS_SQL)
def bankers_rounding_ledger(spark, sf_dir):
    """Half-even (banker's) rounding of 4dp tax charges to cents,
    summed per return flag: Spark rounds with its NATIVE bround on the
    exact DECIMAL product, the oracle emulates half-even by integer
    quotient/remainder — two independent implementations whose ledgers
    must agree to the cent, with the exact-tie rows (remainder 50)
    counted to prove the half-even branch is actually exercised.
    Plan: one scan, one keyed agg; everything decimal/integer."""
    l = _t(spark, sf_dir, "lineitem")
    tax4 = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_tax").cast("decimal(8,2)")
    ).cast("decimal(28,4)")
    c4 = (tax4 * 10000).cast("bigint")
    r = c4 % 100
    he = l.select(
        "l_returnflag",
        (F.bround(tax4, 2) * 100).cast("bigint").alias("cents"),
        F.when(r == 50, 1).otherwise(0).alias("is_tie"),
    )
    return (
        he.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("tax_cents_half_even"),
            F.sum("is_tie").cast("bigint").alias("tie_rows"),
        )
        .orderBy("l_returnflag")
    )


# --- decision-stump split by information gain ------------------------------------------------------
# Best single-threshold split of event value (FIXED cent-threshold
# grid) for predicting purchases: split counts are integers, each
# entropy term's argument is an exact integer ratio, and the winner is
# ranked on the 9dp-PINNED gain with threshold tie-break — never on
# the raw libm value.
_STUMP_SQL = """
    WITH e AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    th AS (SELECT unnest([4000, 8000, 12000, 16000, 20000, 24000, 28000]) AS t),
    s AS (
      SELECT th.t,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(e.y) AS BIGINT) AS p,
             CAST(sum(CASE WHEN e.c <= th.t THEN 1 ELSE 0 END) AS BIGINT) AS nl,
             CAST(sum(CASE WHEN e.c <= th.t THEN e.y ELSE 0 END) AS BIGINT) AS pl
      FROM e CROSS JOIN th GROUP BY th.t),
    h AS (
      SELECT t, n, p, nl, pl, n - nl AS nr, p - pl AS pr,
             (CASE WHEN p = 0 OR p = n THEN 0.0
                   ELSE -(1.0 * p / n) * ln(1.0 * p / n)
                        - (1.0 * (n - p) / n) * ln(1.0 * (n - p) / n) END) AS h_root,
             (CASE WHEN nl = 0 OR pl = 0 OR pl = nl THEN 0.0
                   ELSE -(1.0 * pl / nl) * ln(1.0 * pl / nl)
                        - (1.0 * (nl - pl) / nl) * ln(1.0 * (nl - pl) / nl) END) AS h_l,
             (CASE WHEN n - nl = 0 OR p - pl = 0 OR p - pl = n - nl THEN 0.0
                   ELSE -(1.0 * (p - pl) / (n - nl)) * ln(1.0 * (p - pl) / (n - nl))
                        - (1.0 * ((n - nl) - (p - pl)) / (n - nl))
                          * ln(1.0 * ((n - nl) - (p - pl)) / (n - nl)) END) AS h_r
      FROM s),
    g AS (
      SELECT t, n, nl, nr, pl, pr,
             floor((h_root - (1.0 * nl / n) * h_l - (1.0 * nr / n) * h_r)
                   * 1000000000 + 0.5) / 1000000000 AS ig9
      FROM h)
    SELECT CAST(t AS DOUBLE) / 100.0 AS threshold, nl, nr, pl, pr,
           floor(ig9 * 1000000 + 0.5) / 1000000 AS info_gain,
           row_number() OVER (ORDER BY ig9 DESC, t) = 1 AS is_best
    FROM g ORDER BY threshold
"""


@pq("decision_stump_gain", _STUMP_SQL)
def decision_stump_gain(spark, sf_dir):
    """Decision-stump feature evaluation: information gain of each
    fixed cent-threshold split of event value for predicting the
    purchase label. Split counts are BIGINTs, entropy terms are fixed
    expressions over exact integer ratios (empty/pure branches pinned
    to 0.0 by the same CASE on both engines), and the best-split flag
    ranks on the 9dp-pinned gain with threshold tie-break. Plan: one
    scan x 7-threshold broadcast grid, one agg, scalar algebra."""
    e = _t(spark, sf_dir, "events")
    ev = e.select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    th = ev.sparkSession.createDataFrame(
        [(4000,), (8000,), (12000,), (16000,), (20000,), (24000,), (28000,)], "t long"
    )
    s = (
        ev.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("p"),
            F.sum(F.when(F.col("c") <= F.col("t"), 1).otherwise(0))
            .cast("bigint").alias("nl"),
            F.sum(F.when(F.col("c") <= F.col("t"), F.col("y")).otherwise(0))
            .cast("bigint").alias("pl"),
        )
    )

    def ent(p, n):
        frac, cofrac = 1.0 * p / n, 1.0 * (n - p) / n
        return F.when((p == 0) | (p == n), 0.0).otherwise(
            -frac * F.log(frac) - cofrac * F.log(cofrac)
        )

    n, p, nl, pl = F.col("n"), F.col("p"), F.col("nl"), F.col("pl")
    nr, pr = n - nl, p - pl
    ig = ent(p, n) - (1.0 * nl / n) * ent(pl, nl) - (1.0 * nr / n) * ent(pr, nr)
    g = s.select(
        "t", "nl", "pl",
        nr.alias("nr"), pr.alias("pr"),
        (F.floor(ig * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("ig9"),
    )
    return g.select(
        (F.col("t").cast("double") / 100.0).alias("threshold"),
        "nl", "nr", "pl", "pr",
        half_up(F.col("ig9")).alias("info_gain"),
        (F.row_number().over(Window.orderBy(F.col("ig9").desc(), "t")) == 1).alias("is_best"),
    ).orderBy("threshold")


# --- Jaro similarity over blocked part-name pairs ---------------------------------------------------
# Fuzzy-match differential with two INDEPENDENT implementations:
# DuckDB scores pairs with its native jaro_similarity; the Spark side
# scores the same (brand, size)-blocked pairs with a from-scratch Jaro
# kernel in an Arrow batch pass. 6dp-pin flip-safety needs the exact
# jaro rational to never sit ON a half-boundary (odd/(2e6) — reduced
# denominator exactly 2^7*5^a): for strings < 64 chars the reduced
# denominator's 2-adic valuation is <= max(v2(m), max(v2(l1),v2(l2))
# - v2(m)) <= 5 < 7, so both the query and the oracle bound
# length < 64 STRUCTURALLY (256-char names could hit 85/128 =
# 0.6640625 exactly — see operators/text.jaro). Off the boundary the
# rational is >= ~7e-13 away vs ~1e-15 IEEE drift per engine, so the
# 6dp pin and the pinned-value >= 0.60 filter are flip-free.
_JARO_SQL = """
    WITH pr AS (
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             floor(jaro_similarity(a.p_name, b.p_name) * 1000000 + 0.5)
               / 1000000 AS jaro
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE length(a.p_name) < 64 AND length(b.p_name) < 64)
    SELECT a_key, b_key, jaro FROM pr
    WHERE jaro >= 0.60
    ORDER BY a_key, b_key
"""


@pq("jaro_blocked_pairs", _JARO_SQL)
def jaro_blocked_pairs(spark, sf_dir):
    """Near-duplicate part names by Jaro similarity over
    (brand, size)-blocked pairs: the oracle scores with DuckDB's
    NATIVE jaro_similarity, Spark re-implements the Jaro kernel from
    its definition in an Arrow batch pass — two independent
    implementations agreeing at 6dp, with the >=0.60 threshold filter
    applied to the PINNED value (flip-free because the structural
    length<64 bound keeps jaro rationals off every 6dp half-boundary
    — see operators/text.jaro for the valuation argument). Plan:
    dimension-only blocked self-join (bounded blocks), Arrow kernel
    over candidate pairs only — the LSH-philosophy shape, never
    all-pairs."""
    from collections.abc import Iterator

    import pandas as pd

    from etl_mini_spark.operators.text import jaro

    p = _t(spark, sf_dir, "part")
    a = p.select("p_brand", "p_size", F.col("p_partkey").alias("a_key"),
                 F.col("p_name").alias("a_name"))
    b = p.select("p_brand", "p_size", F.col("p_partkey").alias("b_key"),
                 F.col("p_name").alias("b_name"))
    pairs = (
        a.filter(F.length("a_name") < 64)
        .join(b.filter(F.length("b_name") < 64), ["p_brand", "p_size"])
        .filter(F.col("a_key") < F.col("b_key"))
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "a_key": pdf["a_key"],
                    "b_key": pdf["b_key"],
                    "jaro": [
                        jaro(x, y) for x, y in zip(pdf["a_name"], pdf["b_name"])
                    ],
                }
            )

    scored = pairs.select("a_key", "b_key", "a_name", "b_name").mapInPandas(
        score, schema="a_key long, b_key long, jaro double"
    )
    j6 = F.floor(F.col("jaro") * 1_000_000 + F.lit(0.5)) / 1_000_000
    return (
        scored.select("a_key", "b_key", j6.alias("jaro"))
        .filter(F.col("jaro") >= 0.60)
        .orderBy("a_key", "b_key")
    )


# --- deterministic corpus amplification + dedup gate -------------------------------------------------
# Regenerates a 10x corpus from `documents` entirely inside the query
# (variant v of a doc drops each token where md5(doc:v:pos) % 100 <
# 3*v, then reassembles the text in token order), then reports the
# exact-duplicate structure per variant level. This keeps the corpus
# tier's correctness gate meaningful at the driver's small SF — the
# dedup runs over 10x the documents rows with REAL collisions (v=0 is
# always a dup of the original vocabulary-complete doc; high-v
# variants mostly diverge).
_AMPLIFY_SQL = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS tok,
             unnest(range(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))))
               AS pos
      FROM documents),
    grid AS (
      SELECT t.doc_id, v.v, t.tok, t.pos
      FROM toks t CROSS JOIN (SELECT unnest(range(10)) AS v) v
      WHERE (CAST(concat('0x', substr(md5(CAST(t.doc_id AS VARCHAR) || ':' ||
                                      CAST(v.v AS VARCHAR) || ':' ||
                                      CAST(t.pos AS VARCHAR) || ':amp'), 1, 15))
               AS BIGINT) % 100) >= 3 * v.v),
    amplified AS (
      SELECT doc_id, v, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
      FROM grid GROUP BY doc_id, v)
    SELECT v, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_rows
    FROM amplified GROUP BY v ORDER BY v
"""


@pq("corpus_amplified_gate", _AMPLIFY_SQL)
def corpus_amplified_gate(spark, sf_dir):
    """Deterministic 10x corpus amplification + exact-dedup audit: each
    variant v of a document drops tokens by the md5(doc:v:pos) bucket
    rule (drop rate 3v%), texts reassemble in token order, and the
    exact-duplicate structure (docs vs distinct md5 fingerprints) is
    reported per variant level — so the corpus dedup path is exercised
    on 10x the document count with real collisions even at the
    driver's 500-doc gate SF. Plan: one posexplode, a 10-variant
    generator (explode, not a join), one (doc, v) reassembly agg, one
    fingerprint agg — all keyed shuffles."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("pos", "tok"),
    )
    vgrid = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("v")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("v").cast("string"),
                        F.col("pos").cast("string"),
                        F.lit("amp"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % 100
    )
    grid = toks.select("doc_id", "tok", "pos", vgrid).filter(bucket >= 3 * F.col("v"))
    amplified = grid.groupBy("doc_id", "v").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("fp")
    )
    return (
        amplified.groupBy("v")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_distinct"),
            (F.count("*") - F.countDistinct("fp")).cast("bigint").alias("n_dup_rows"),
        )
        .orderBy("v")
    )


# --- cursor-paginated HTTP scan (ES sliced-scroll shape) ----------------------------------------------
# The registered Python DataSource grows cursor pagination: four
# slices run partition-parallel, each FOLLOWING its own next_cursor
# chain (3 pages of 10) — the reference's Elasticsearch scroll
# semantics (elasticsearch_service.py:63-136: scroll id + repeated
# fetch until exhausted) re-expressed as a Spark source. The oracle
# regenerates the full id range.
_HTTPSCROLL_SQL = """
    SELECT CAST(range AS BIGINT) AS id,
           'row_' || range AS name,
           round(range * 1.5, 2) AS value
    FROM range(120)
"""


@pq("http_paginated_extract", _HTTPSCROLL_SQL)
def http_paginated_extract(spark, sf_dir):
    """Cursor-paginated HTTP extract through the registered Python
    DataSource: 4 slices = 4 InputPartitions running parallel on
    executors, each following its own next_cursor chain (3 pages x 10
    rows) until the stub transport reports exhaustion — the
    Elasticsearch sliced-scroll contract (reference
    elasticsearch_service.py:63-136) as a first-class Spark scan. The
    oracle regenerates the id range; the union of slices must cover it
    exactly (a dropped page or double-fetched cursor breaks parity).
    Plan: partition-parallel slices, sequential pages inside a slice —
    the scale shape for bulk API ingestion."""
    import json as _json

    from etl_mini_spark.sources.pyds import HttpApiDataSource

    spark.dataSource.register(HttpApiDataSource)
    templates = {
        "scroll": {
            "url": ("stub://scroll/{TABLE}?total={TOTAL}&n_slices={NS}"
                    "&slice={SLICE}&page_size={PS}&cursor={CURSOR}"),
            "headers": {"Authorization": "Bearer {TOKEN}"},
            "method": "GET",
        }
    }
    param_sets = [
        {"TABLE": "events", "TOTAL": "120", "NS": "4", "SLICE": str(s),
         "PS": "10", "CURSOR": "0", "TOKEN": "tok0"}
        for s in range(4)
    ]
    return (
        spark.read.format("http_api")
        .schema("id long, name string, value double")
        .option("templates", _json.dumps(templates))
        .option("template_key", "scroll")
        .option("param_sets", _json.dumps(param_sets))
        .option("transport", "stub_scroll")
        .option("cursor_param", "CURSOR")
        .load()
        .orderBy("id")
    )


# --- partial autocorrelation via Durbin-Levinson (lags 1-3) ---------------------------------------
# Standard biased ACF of the zero-filled hourly revenue series, with
# every covariance term scaled through n so the sufficient statistics
# are exact WIDE integers (sum of (n*x_t - S)(n*x_{t-k} - S) products
# as HUGEINT/DECIMAL(38,0)); r_k pre-rounds at 9dp, and the
# Durbin-Levinson recursion to lag 3 is spelled out as the identical
# fixed algebra on both engines.
_PACF_SQL = """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    spine AS (
      SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)),
                      '%Y-%m-%d %H:00:00') AS h
      FROM bounds),
    hours AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1),
    ser AS (
      SELECT spine.h, coalesce(hours.c, 0) AS c,
             row_number() OVER (ORDER BY spine.h) AS i
      FROM spine LEFT JOIN hours ON hours.h = spine.h),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s FROM ser),
    dev AS (
      SELECT i, CAST(st.n * c - st.s AS HUGEINT) AS d FROM ser CROSS JOIN st),
    den AS (SELECT sum(d * d) AS d0 FROM dev),
    num AS (
      SELECT k.k, sum(a.d * b.d) AS nk
      FROM (SELECT unnest([1, 2, 3]) AS k) k
      JOIN dev a ON TRUE
      JOIN dev b ON b.i = a.i - k.k
      GROUP BY k.k),
    r AS (
      SELECT
        max(CASE WHEN k = 1 THEN floor(CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE)
                                       * 1000000000 + 0.5) / 1000000000 END) AS r1,
        max(CASE WHEN k = 2 THEN floor(CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE)
                                       * 1000000000 + 0.5) / 1000000000 END) AS r2,
        max(CASE WHEN k = 3 THEN floor(CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE)
                                       * 1000000000 + 0.5) / 1000000000 END) AS r3
      FROM num CROSS JOIN den),
    dl AS (
      SELECT r1, r2, r3,
             r1 AS p1,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
      FROM r),
    dl2 AS (
      SELECT r1, r2, r3, p1, p2,
             r1 - p2 * r1 AS a21
      FROM dl),
    dl3 AS (
      SELECT r1, r2, r3, p1, p2,
             (r3 - a21 * r2 - p2 * r1) / (1.0 - a21 * r1 - p2 * r2) AS p3
      FROM dl2)
    SELECT 1 AS lag, floor(r1 * 1000000 + 0.5) / 1000000 AS acf,
           floor(p1 * 1000000 + 0.5) / 1000000 AS pacf FROM dl3
    UNION ALL
    SELECT 2, floor(r2 * 1000000 + 0.5) / 1000000,
           floor(p2 * 1000000 + 0.5) / 1000000 FROM dl3
    UNION ALL
    SELECT 3, floor(r3 * 1000000 + 0.5) / 1000000,
           floor(p3 * 1000000 + 0.5) / 1000000 FROM dl3
    ORDER BY lag
"""


@pq("pacf_durbin_levinson", _PACF_SQL)
def pacf_durbin_levinson(spark, sf_dir):
    """Partial autocorrelation of hourly revenue at lags 1-3 via the
    Durbin-Levinson recursion over the standard biased ACF — the AR
    order-selection diagnostic that complements the registered
    acf_hourly_lags. Covariances are exact wide-integer sums of
    (n*x_t - S) deviation products on the zero-filled hourly spine,
    each r_k pre-rounds at 9dp, and the DL algebra to lag 3 is the
    identical fixed expression sequence on both engines. Plan: one
    hour agg, three keyed lag joins on the bounded hourly series,
    scalar algebra."""
    e = _t(spark, sf_dir, "events")
    hours = e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("h")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hh")
    ).select(F.date_format("hh", "yyyy-MM-dd HH:00:00").alias("h"))
    ser = (
        spine.join(hours, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("i", F.row_number().over(Window.orderBy("h")))
    )
    st = ser.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("s")
    )
    # calendar-bounded: one row per hour of the dataset
    dev = ser.crossJoin(F.broadcast(st)).select(
        "i", (F.col("n") * F.col("c") - F.col("s")).cast("decimal(19,0)").alias("d")
    )
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("d0"))
    ks = ser.sparkSession.createDataFrame([(1,), (2,), (3,)], "k int")
    a = dev.select(F.col("i").alias("ia"), F.col("d").alias("da"))
    b = dev.select(F.col("i").alias("ib"), F.col("d").alias("db"))
    num = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("ib") == F.col("ia") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("da") * F.col("db")).alias("nk"))
    )
    r9 = (
        F.floor(F.col("nk").cast("double") / F.col("d0").cast("double")
                * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000
    )
    r = (
        num.crossJoin(F.broadcast(den))
        .agg(
            F.max(F.when(F.col("k") == 1, r9)).alias("r1"),
            F.max(F.when(F.col("k") == 2, r9)).alias("r2"),
            F.max(F.when(F.col("k") == 3, r9)).alias("r3"),
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    dl2 = r.select("r1", "r2", "r3", p2.alias("p2"), (r1 - p2 * r1).alias("a21"))
    p3 = (r3 - F.col("a21") * r2 - F.col("p2") * r1) / (
        1.0 - F.col("a21") * r1 - F.col("p2") * r2
    )
    dl3 = dl2.select("r1", "r2", "r3", "p2", p3.alias("p3"))
    # stack the three lags by exploding an inline struct array instead
    # of unionAll-ing three selects over the SAME 1-row subtree -- the
    # union re-ran the whole lag-join + aggregate chain once per branch
    # (36 exchanges in the captured r19 before-plan; guide 2.4)
    out = dl3.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("lag"), half_up(r1).alias("acf"), half_up(r1).alias("pacf")),
                F.struct(F.lit(2).alias("lag"), half_up(r2).alias("acf"), half_up(F.col("p2")).alias("pacf")),
                F.struct(F.lit(3).alias("lag"), half_up(r3).alias("acf"), half_up(F.col("p3")).alias("pacf")),
            )
        ).alias("s")
    ).select("s.lag", "s.acf", "s.pacf")
    return out.orderBy("lag")


# --- order-key gap audit (missing invoice numbers) -------------------------------------------------
# The classic sequence-integrity audit over the OPEN-order key
# sequence (the generator's full key domain is dense, so the audit
# runs on the status='O' subset, where missing runs genuinely exist):
# contiguous runs of missing keys as (gap_start, gap_end, gap_len).
# Neighbor pairing rides the distributed exact global rank (rank k
# joins rank k+1 — a keyed equi join), so there is no
# single-partition lag window even though the sequence is global.
_KEYGAP_SQL = """
    WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'O'),
    r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM k),
    pairs AS (
      SELECT a.k AS k, b.k AS next_k
      FROM r a JOIN r b ON b.rn = a.rn + 1)
    SELECT CAST(k + 1 AS BIGINT) AS gap_start,
           CAST(next_k - 1 AS BIGINT) AS gap_end,
           CAST(next_k - k - 1 AS BIGINT) AS gap_len
    FROM pairs WHERE next_k > k + 1
    ORDER BY gap_start
"""


@pq("orderkey_gap_audit", _KEYGAP_SQL)
def orderkey_gap_audit(spark, sf_dir):
    """Missing-key ranges in the open-order key sequence (the
    invoice-gap audit; the open-status subset is where absent runs
    exist — the full key domain is dense by construction): every
    maximal run of absent keys as (start, end, length).
    The Spark side pairs each key with its successor through
    exact_global_rank + a rank k = k+1 equi join — distributed, no
    global lag window; the oracle uses the plain window since DuckDB
    is the single-node referee. Integer end to end. Plan: one
    distinct, one range-bucketed rank, one keyed self-join."""
    from etl_mini_spark.operators.layout import exact_global_rank

    o = _t(spark, sf_dir, "orders")
    k = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    r = exact_global_rank(k, ["k"])
    a = r.select(F.col("k").alias("ka"), F.col("rn").alias("rna"))
    b = r.select(F.col("k").alias("kb"), (F.col("rn") - 1).alias("rnb"))
    pairs = a.join(b, F.col("rna") == F.col("rnb"))
    return (
        pairs.filter(F.col("kb") > F.col("ka") + 1)
        .select(
            (F.col("ka") + 1).cast("bigint").alias("gap_start"),
            (F.col("kb") - 1).cast("bigint").alias("gap_end"),
            (F.col("kb") - F.col("ka") - 1).cast("bigint").alias("gap_len"),
        )
        .orderBy("gap_start")
    )


# --- Pythagorean mean family per event type ---------------------------------------------------------
# Arithmetic / geometric / harmonic / quadratic means of positive
# event values per type: AM and RMS from exact integer sums (sum of
# squares wide), GM as exp of a DECIMAL(28,9) mean of 9dp-pinned ln
# terms, HM from a DECIMAL(28,9) sum of 9dp-pinned reciprocals — the
# order-free libm-sum rule applied to each family member; the
# AM >= GM >= HM chain is asserted by the pins.
_MEANS_SQL = """
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events
      WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             sum(CAST(c AS HUGEINT) * c) AS ssq,
             sum(CAST(floor(ln(CAST(c AS DOUBLE) / 100.0) * 1000000000 + 0.5)
                      AS DECIMAL(28,9)) / 1000000000) AS sln,
             sum(CAST(floor(100.0 / CAST(c AS DOUBLE) * 1000000000 + 0.5)
                      AS DECIMAL(28,9)) / 1000000000) AS srec
      FROM v GROUP BY event_type)
    SELECT event_type, n,
           floor(1.0 * sc / n / 100.0 * 1000000 + 0.5) / 1000000 AS mean_arith,
           floor(exp(CAST(sln AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 AS mean_geo,
           floor(n / CAST(srec AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_harm,
           floor(sqrt(CAST(ssq AS DOUBLE) / n) / 100.0 * 1000000 + 0.5) / 1000000
             AS mean_rms
    FROM s ORDER BY event_type
"""


@pq("mean_family_suite", _MEANS_SQL)
def mean_family_suite(spark, sf_dir):
    """The Pythagorean mean family (arithmetic, geometric, harmonic,
    quadratic) of positive event values per type: AM/RMS from exact
    integer sums (squares held wide), GM and HM through 9dp-pinned
    ln/reciprocal terms summed as DECIMAL(28,9) (order-free exact),
    one double finish each — and the AM >= GM >= HM inequality pinned
    by the tests. Plan: one scan, one keyed agg."""
    e = _t(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    v = e.select("event_type", c.alias("c")).filter(F.col("c") > 0)
    ln9 = (
        F.floor(F.log(F.col("c").cast("double") / 100.0) * 1_000_000_000 + F.lit(0.5))
        .cast("decimal(28,9)") / 1_000_000_000
    )
    rec9 = (
        F.floor(100.0 / F.col("c").cast("double") * 1_000_000_000 + F.lit(0.5))
        .cast("decimal(28,9)") / 1_000_000_000
    )
    s = v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .alias("ssq"),
        F.sum(ln9).alias("sln"),
        F.sum(rec9).alias("srec"),
    )
    n = F.col("n")
    return s.select(
        "event_type", "n",
        half_up(1.0 * F.col("sc") / n / 100.0).alias("mean_arith"),
        half_up(F.exp(F.col("sln").cast("double") / n)).alias("mean_geo"),
        half_up(n / F.col("srec").cast("double")).alias("mean_harm"),
        half_up(F.sqrt(F.col("ssq").cast("double") / n) / 100.0).alias("mean_rms"),
    ).orderBy("event_type")


# --- Page's L test for an ordered treatment trend ---------------------------------------------------
# Friedman's ordered-alternative sibling: blocks = months, treatments
# = the 5 priorities in their natural order, response = monthly order
# count on the zero-filled grid. Within-block twice-midranks keep
# every rank sum BIGINT; L2 = SUM j*R2_j is the doubled Page statistic
# and z uses the classical no-tie moments (identical convention on
# both engines).
_PAGES_SQL = """
    WITH cells AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
             strftime(o_orderdate, '%Y-%m') AS ym,
             CAST(count(*) AS BIGINT) AS v
      FROM orders GROUP BY 1, 2),
    months AS (SELECT DISTINCT ym FROM cells),
    gs AS (SELECT DISTINCT g FROM cells),
    grid AS (
      SELECT gs.g, months.ym, coalesce(cells.v, 0) AS v
      FROM gs CROSS JOIN months
      LEFT JOIN cells ON cells.g = gs.g AND cells.ym = months.ym),
    r AS (
      SELECT g, ym,
             2 * rank() OVER (PARTITION BY ym ORDER BY v)
               + count(*) OVER (PARTITION BY ym, v) - 1 AS r2
      FROM grid),
    rj AS (SELECT g, CAST(sum(r2) AS BIGINT) AS r2j FROM r GROUP BY g),
    s AS (
      SELECT CAST(sum(g * r2j) AS BIGINT) AS l2,
             CAST(count(*) AS BIGINT) AS k
      FROM rj),
    b AS (SELECT CAST(count(*) AS BIGINT) AS b FROM months)
    SELECT rj.g, rj.r2j, s.l2, b.b,
           floor((s.l2 / 2.0 - b.b * s.k * (s.k + 1) * (s.k + 1) / 4.0)
                 / sqrt(1.0 * b.b * s.k * s.k * (s.k + 1)
                        * (s.k * s.k - 1) / 144.0)
                 * 1000000 + 0.5) / 1000000 AS z
    FROM rj CROSS JOIN s CROSS JOIN b
    ORDER BY rj.g
"""


@pq("pages_l_trend", _PAGES_SQL)
def pages_l_trend(spark, sf_dir):
    """Page's L test for a monotone trend across the ORDERED order
    priorities, blocked by month: within-month twice-midranks (exact
    integers on the zero-filled grid), the doubled statistic
    L2 = SUM j*R2_j, and z from the classical moments
    (E = bk(k+1)^2/4, Var = bk^2(k+1)(k^2-1)/144) — the ordered
    sibling of the Friedman test, sharing its grid machinery.
    Plan: one month x priority agg, one in-block rank window over the
    bounded grid, a k-row finish."""
    o = _t(spark, sf_dir, "orders")
    # the bounded month x priority cell table feeds five subtrees of
    # the final plan
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(F.count("*").cast("bigint").alias("v"))
    months = cells.select("ym").distinct()
    gs = cells.select("g").distinct()
    grid = (
        gs.crossJoin(months)
        .join(cells, ["g", "ym"], "left")
        .select("g", "ym", F.coalesce("v", F.lit(0)).alias("v"))
    )
    r2 = (
        2 * F.rank().over(Window.partitionBy("ym").orderBy("v"))
        + F.count("*").over(Window.partitionBy("ym", "v"))
        - 1
    )
    rj = grid.select("g", r2.alias("r2")).groupBy("g").agg(
        F.sum("r2").cast("bigint").alias("r2j")
    )  # k rows
    s = rj.agg(
        F.sum(F.col("g") * F.col("r2j")).cast("bigint").alias("l2"),
        F.count("*").cast("bigint").alias("k"),
    )
    b = months.agg(F.count("*").cast("bigint").alias("b"))
    k, bb, l2 = F.col("k"), F.col("b"), F.col("l2")
    z = (l2 / 2.0 - bb * k * (k + 1) * (k + 1) / 4.0) / F.sqrt(
        1.0 * bb * k * k * (k + 1) * (k * k - 1) / 144.0
    )
    return (
        rj.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(b))
        .select("g", "r2j", "l2", F.col("b").alias("b"), half_up(z).alias("z"))
        .orderBy("g")
    )


# --- turning-points randomness test --------------------------------------------------------------
# Counts strict local maxima/minima of the daily revenue series
# (integer comparisons; a tie on either side is NOT a turning point —
# the same rule on both engines) against the i.i.d. null moments
# E = 2(n-2)/3, Var = (16n-29)/90.
_TURNING_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    w AS (
      SELECT c,
             lag(c) OVER (ORDER BY d) AS p,
             lead(c) OVER (ORDER BY d) AS nx
      FROM daily),
    t AS (
      SELECT CAST(sum(CASE WHEN (c > p AND c > nx) OR (c < p AND c < nx)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM w WHERE p IS NOT NULL AND nx IS NOT NULL),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT n.n, t.tp,
           floor((t.tp - 2.0 * (n.n - 2) / 3.0)
                 / sqrt((16.0 * n.n - 29.0) / 90.0) * 1000000 + 0.5) / 1000000 AS z
    FROM t CROSS JOIN n
"""


@pq("turning_points_test", _TURNING_SQL)
def turning_points_test(spark, sf_dir):
    """Turning-points randomness screen on daily revenue: the count of
    strict local extrema (pure integer comparisons; boundary ties
    excluded by the same rule on both engines) z-scored against the
    i.i.d. null E = 2(n-2)/3, Var = (16n-29)/90. Plan: one day agg and
    one lag/lead window over the calendar-bounded series."""
    daily = events_daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    t = daily.select(
        "c", F.lag("c").over(w).alias("p"), F.lead("c").over(w).alias("nx")
    ).filter(F.col("p").isNotNull() & F.col("nx").isNotNull()).agg(
        F.sum(
            F.when(
                ((F.col("c") > F.col("p")) & (F.col("c") > F.col("nx")))
                | ((F.col("c") < F.col("p")) & (F.col("c") < F.col("nx"))),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("tp")
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    z = (F.col("tp") - 2.0 * (F.col("n") - 2) / 3.0) / F.sqrt(
        (16.0 * F.col("n") - 29.0) / 90.0
    )
    return t.crossJoin(F.broadcast(n)).select("n", "tp", half_up(z).alias("z"))


# --- Bartels' rank von Neumann ratio --------------------------------------------------------------
# Rank-based serial randomness: RVN = n * SUM (R_i - R_{i+1})^2 /
# (n*SUM R^2 - (SUM R)^2) over the daily series' twice-midranks — the
# doubling cancels between numerator and denominator, so the whole
# statistic is a single division of exact BIGINTs.
_BARTELS_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    r AS (
      SELECT d,
             2 * rank() OVER (ORDER BY c) + count(*) OVER (PARTITION BY c) - 1 AS r2
      FROM daily),
    dsq AS (
      SELECT CAST(sum((r2 - nxt) * (r2 - nxt)) AS BIGINT) AS sd2
      FROM (SELECT r2, lead(r2) OVER (ORDER BY d) AS nxt FROM r)
      WHERE nxt IS NOT NULL),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(r2) AS BIGINT) AS sr,
             CAST(sum(r2 * r2) AS BIGINT) AS srr
      FROM r)
    SELECT s.n, dsq.sd2,
           floor(1.0 * s.n * dsq.sd2 / (1.0 * s.n * s.srr - 1.0 * s.sr * s.sr)
                 * 1000000 + 0.5) / 1000000 AS rvn
    FROM dsq CROSS JOIN s
"""


@pq("bartels_rank_vonneumann", _BARTELS_SQL)
def bartels_rank_vonneumann(spark, sf_dir):
    """Bartels' rank von Neumann ratio on daily revenue — the
    rank-based serial-randomness screen (RVN near 2 = random, small =
    trending). Both the successive-difference sum and the centered
    rank variance use twice-midrank integers (the doubling cancels in
    the ratio), so RVN is one division of exact BIGINTs. Plan: one day
    agg, one rank + one lead window over the bounded series."""
    daily = events_daily_cents(spark, sf_dir)
    r2 = (
        2 * F.rank().over(Window.orderBy("c"))
        + F.count("*").over(Window.partitionBy("c"))
        - 1
    )
    r = daily.select("d", r2.alias("r2"))
    w = Window.orderBy("d")
    dsq = (
        r.select("r2", F.lead("r2").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .agg(
            F.sum((F.col("r2") - F.col("nxt")) * (F.col("r2") - F.col("nxt")))
            .cast("bigint").alias("sd2")
        )
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r2").cast("bigint").alias("sr"),
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("srr"),
    )
    rvn = (
        1.0 * F.col("n") * F.col("sd2")
        / (1.0 * F.col("n") * F.col("srr") - 1.0 * F.col("sr") * F.col("sr"))
    )
    return dsq.crossJoin(F.broadcast(s)).select("n", "sd2", half_up(rvn).alias("rvn"))


# --- Cox-Stuart trend sign test --------------------------------------------------------------------
# Pairs day i with day i + n/2 and sign-tests the second half against
# the first: all counts integer, ties dropped (same rule both
# engines), z the binomial normal approximation.
_COXSTUART_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    idx AS (SELECT c, row_number() OVER (ORDER BY d) AS i FROM daily),
    nn AS (SELECT CAST(count(*) / 2 AS BIGINT) AS h FROM idx),
    pairs AS (
      SELECT a.c AS x, b.c AS y
      FROM idx a JOIN nn ON a.i <= nn.h
      JOIN idx b ON b.i = a.i + nn.h),
    s AS (
      SELECT CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
             CAST(sum(CASE WHEN y <> x THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM pairs)
    SELECT m, n_plus,
           floor((n_plus - m / 2.0) / sqrt(m / 4.0) * 1000000 + 0.5) / 1000000 AS z
    FROM s
"""


@pq("cox_stuart_trend", _COXSTUART_SQL)
def cox_stuart_trend(spark, sf_dir):
    """Cox-Stuart trend test on daily revenue: each first-half day
    pairs with its second-half counterpart (offset n/2), the
    upward-sign count is binomial under no-trend, ties drop by the
    same rule on both engines, z is the normal approximation — all
    integer until the final two divisions. Plan: one day agg, one
    bounded self-join on the indexed series."""
    daily = events_daily_cents(spark, sf_dir)
    idx = daily.select("c", F.row_number().over(Window.orderBy("d")).alias("i"))
    nn = idx.agg((F.count("*") / 2).cast("bigint").alias("h"))
    a = idx.select(F.col("c").alias("x"), F.col("i").alias("ia"))
    bdf = idx.select(F.col("c").alias("y"), F.col("i").alias("ib"))
    pairs = (
        a.crossJoin(F.broadcast(nn))
        .filter(F.col("ia") <= F.col("h"))
        .join(bdf, F.col("ib") == F.col("ia") + F.col("h"))
    )
    s = pairs.agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0))
        .cast("bigint").alias("n_plus"),
        F.sum(F.when(F.col("y") != F.col("x"), 1).otherwise(0))
        .cast("bigint").alias("m"),
    )
    z = (F.col("n_plus") - F.col("m") / 2.0) / F.sqrt(F.col("m") / 4.0)
    return s.select("m", "n_plus", half_up(z).alias("z"))


@pq("stream_rsi_incremental", _RSI_SQL)
def stream_rsi_incremental(spark, sf_dir):
    """Wilder RSI maintained INCREMENTALLY: the daily series streams in
    as three date-chunked files (one micro-batch each,
    maxFilesPerTrigger=1), a foreachBatch sink folds each batch from a
    persisted (last_close, diff_count, seed sums, avg_gain, avg_loss)
    state row and appends per-day outputs, and the final table must
    equal the one-pass batch recursion bit-for-bit — the 14-diff seed
    accumulates ACROSS batch boundaries as exact integer sums, and the
    persisted float64 smoothing state restarts the exact IEEE
    sequence. Streaming counterpart of rsi_wilder_14, same oracle.
    Plan: the day aggregation happens once upstream; per batch the
    fold touches one state row and |batch days| outputs — the
    incremental shape that never rescans history."""
    from pathlib import Path

    import pandas as pd

    from etl_mini_spark.streaming.stream import replay

    daily = events_daily_cents(spark, sf_dir)
    cuts = ["0000-00-00", "2024-01-11", "2024-01-21", "9999-12-31"]

    def sink(batch_df, batch_id):
        pdf = batch_df.toPandas().sort_values("d")
        if pdf.empty:
            return
        try:
            st = pd.read_parquet(state / "state.parquet").iloc[0]
            last_c, nd = int(st["last_c"]), int(st["nd"])
            sg, sl = int(st["sg"]), int(st["sl"])
            ag, al = float(st["ag"]), float(st["al"])
            seen_any = True
        except (FileNotFoundError, OSError):
            last_c = nd = sg = sl = 0
            ag = al = float("nan")
            seen_any = False
        outs = []
        for _, r in pdf.iterrows():
            c, d = int(r["c"]), r["d"]
            if not seen_any:
                last_c, seen_any = c, True
                continue
            g, l = max(c - last_c, 0), max(last_c - c, 0)
            last_c = c
            nd += 1
            if nd < 14:
                sg += g
                sl += l
            elif nd == 14:
                sg += g
                sl += l
                ag, al = sg / 14.0, sl / 14.0  # exact-integer seed
                outs.append((d, ag, al))
            else:
                ag = (ag * 13.0 + g) / 14.0
                al = (al * 13.0 + l) / 14.0
                outs.append((d, ag, al))
        out.mkdir(parents=True, exist_ok=True)
        state.mkdir(parents=True, exist_ok=True)
        if outs:
            pd.DataFrame(outs, columns=["d", "ag", "al"]).to_parquet(
                out / f"batch_{batch_id}.parquet", index=False
            )
        pd.DataFrame(
            [{"last_c": last_c, "nd": nd, "sg": sg, "sl": sl, "ag": ag, "al": al}]
        ).to_parquet(state / "state.parquet", index=False)

    with replay(spark, "srsi") as r:
        out, state = Path(r.out), Path(r.root) / "state"
        for i in range(3):
            r.stage(daily.filter((F.col("d") >= cuts[i]) & (F.col("d") < cuts[i + 1])))
        r.run(r.stream(), sink)
    res = r.output
    rsi = F.when(F.col("al") == 0.0, 100.0).otherwise(
        100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al"))
    )
    return res.select(
        "d",
        half_up(rsi).alias("rsi"),
        half_up(F.col("ag") / 100.0).alias("avg_gain"),
        half_up(F.col("al") / 100.0).alias("avg_loss"),
    ).orderBy("d")
