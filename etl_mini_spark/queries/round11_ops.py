"""Registry queries: concordance/trend statistics, Holt-Winters
seasonal smoothing + forecast, incremental sketch maintenance, classic
relational/BI ops (division, largest-remainder allocation,
survivorship), a DQ profiling block, and retrieval eval, each checked
against its DuckDB oracle.

Parity rules as in round9/10_ops (FIXTURES.md §C): integer/decimal
arithmetic end-to-end (money as exact BIGINT cents where a recursion
or rolling window needs doubles — one exact int→double conversion +
one IEEE division is engine-identical), libm terms pre-rounded at 9dp
and summed as DECIMAL(28,9), ranks via twice-the-midrank integers,
fixed bin edges, md5-bucket portable randomness, deterministic
tie-breaks on every rank/limit, floor(x*10^k + 0.5)/10^k HALF_UP for
display rounding. sqrt() is IEEE-exact (correctly rounded) on both
engines, so sqrt of exact-integer doubles needs no pre-rounding; pow/
ln/cos do.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t, half_up
from etl_mini_spark.queries._base import q as pq


# --- Kendall's tau-b over daily order aggregates --------------------------------------
# Daily (revenue, order count) pairs; concordant/discordant counted by
# INTEGER comparisons over the bounded day-pair self-join (calendar² —
# ~2.9M pairs at ANY fact scale, because the fact table aggregates to
# days first). tau_b's denominator is sqrt of exact-integer doubles
# (n0 stays < 2^26, so (n0-n1)(n0-n2) < 2^53 — exactly representable),
# and IEEE sqrt is correctly rounded, so no libm divergence exists.
_KENDALL_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    p AS (
      SELECT
        CAST(sum(CASE WHEN (a.rev_c - b.rev_c) * (a.cnt - b.cnt) > 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS nc,
        CAST(sum(CASE WHEN (a.rev_c - b.rev_c) * (a.cnt - b.cnt) < 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS nd
      FROM daily a JOIN daily b ON a.d < b.d),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    tx AS (
      SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n1
      FROM (SELECT count(*) AS t FROM daily GROUP BY rev_c) g),
    ty AS (
      SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n2
      FROM (SELECT count(*) AS t FROM daily GROUP BY cnt) g)
    SELECT n.n, p.nc, p.nd,
           floor((p.nc - p.nd) /
                 sqrt(CAST((n.n * (n.n - 1) / 2 - tx.n1) AS DOUBLE)
                      * CAST((n.n * (n.n - 1) / 2 - ty.n2) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS tau_b
    FROM n, p, tx, ty
"""


@pq("kendall_tau_daily", _KENDALL_SQL)
def kendall_tau_daily(spark, sf_dir):
    """Kendall's tau-b between daily revenue and daily order count:
    concordant/discordant pairs counted with pure INTEGER sign tests
    over the day-pair self-join, tie corrections from integer
    tie-group counts, and a single IEEE-exact sqrt in the denominator.
    Plan: the fact table aggregates to days FIRST, so the pair join is
    calendar-bounded (~2.9M pairs over 7 years) regardless of fact
    scale — the O(n²) stays off the 100-TB table."""
    o = _t(spark, sf_dir, "orders")
    # calendar-bounded daily table referenced FIVE times (both pair-join
    # sides, n, and the two tie aggregates)
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("rev_c"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (F.col("a.rev_c") - F.col("b.rev_c")) * (F.col("a.cnt") - F.col("b.cnt"))
    p = a.join(b, F.col("a.d") < F.col("b.d")).agg(
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("bigint").alias("nd"),
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    tx = (
        daily.groupBy("rev_c").agg(F.count("*").alias("t"))
        .agg(F.coalesce(F.sum(F.expr("t * (t - 1) / 2")), F.lit(0)).cast("bigint").alias("n1"))
    )
    ty = (
        daily.groupBy("cnt").agg(F.count("*").alias("t"))
        .agg(F.coalesce(F.sum(F.expr("t * (t - 1) / 2")), F.lit(0)).cast("bigint").alias("n2"))
    )
    j = n.crossJoin(p).crossJoin(tx).crossJoin(ty)
    n0 = F.col("n") * (F.col("n") - 1) / 2
    tau = (F.col("nc") - F.col("nd")) / F.sqrt(
        (n0 - F.col("n1")).cast("double") * (n0 - F.col("n2")).cast("double")
    )
    return j.select("n", "nc", "nd", half_up(tau).alias("tau_b"))


# --- Mann-Kendall trend test per event type ---------------------------------------------
# S = sum of integer signs over day pairs; Var(S) has the exact
# integer tie correction; z applies the standard continuity
# correction. Everything before the final division/sqrt is BIGINT.
_MK_SQL = """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
               AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY a.event_type),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY event_type),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY event_type, x) g
      WHERE t > 1
      GROUP BY event_type),
    v AS (
      SELECT n.event_type, n.n, s.s,
             (n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_term, 0)) / 18.0 AS var_s
      FROM n JOIN s USING (event_type) LEFT JOIN ties t USING (event_type))
    SELECT event_type, n, s,
           floor((CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                       WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                       ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS z
    FROM v ORDER BY event_type
"""


@pq("mann_kendall_trend", _MK_SQL)
def mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall monotone-trend test on each event type's daily
    revenue: S from integer sign comparisons over the calendar-bounded
    day-pair join, the exact Σt(t−1)(2t+5) tie correction, and the
    continuity-corrected z — the nonparametric "is this series
    trending" check that pairs with trend_theil_sen's slope estimate.
    Plan: day-aggregate first (one shuffle), 435 pairs per series —
    invariant to fact scale."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("x")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s")
        )
    )
    n = daily.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        daily.groupBy("event_type", "x").agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0))
            .cast("bigint").alias("tie_term")
        )
    )
    v = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type", "n", "s",
            (
                (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                 - F.coalesce(F.col("tie_term"), F.lit(0))) / 18.0
            ).alias("var_s"),
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return v.select("event_type", "n", "s", half_up(z).alias("z")).orderBy("event_type")


# --- Kruskal-Wallis H across event types --------------------------------------------------
# Pooled twice-the-midrank integers (2·rank + ties − 1 — exact under
# ties); each group's (S_g/2)²/n_g term is pre-rounded at 9dp and
# summed as DECIMAL(28,9) so the 5-term sum is order-free; the tie
# correction is a ratio of exact BIGINTs.
_KW_SQL = """
    WITH r AS (
      SELECT event_type,
             2 * rank() OVER (ORDER BY value) + count(*) OVER (PARTITION BY value) - 1 AS rr
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(rr) AS BIGINT) AS s_g
      FROM r GROUP BY event_type),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(CAST(round((s_g / 2.0) * (s_g / 2.0) / n_g, 9) AS DECIMAL(28,9)))
               AS DOUBLE) AS rterm,
             CAST(count(*) AS BIGINT) AS k
      FROM g),
    ties AS (
      SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie_cubes
      FROM (SELECT count(*) AS t FROM events GROUP BY value) v
      WHERE t > 1)
    SELECT tot.k, tot.n,
           floor((12.0 / (tot.n * (tot.n + 1.0)) * tot.rterm - 3.0 * (tot.n + 1.0))
                 / (1.0 - CAST(ties.tie_cubes AS DOUBLE)
                          / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n))
                 * 1000000 + 0.5) / 1000000 AS h_stat
    FROM tot, ties
"""


@pq("kruskal_wallis_h", _KW_SQL)
def kruskal_wallis_h(spark, sf_dir):
    """Kruskal-Wallis rank test: do the five event types share a value
    distribution? Pooled ranks as twice-the-midrank INTEGERS (the
    spearman/mann-whitney idiom) — computed from the VALUE HISTOGRAM
    (operators/ranks.value_midranks: one keyed agg + a cumulative
    window over the bounded distinct-value domain), never by ranking
    raw rows through a single-partition sort; the per-group rank sums
    fold the (type, value) counts against the histogram's r2 directly.
    Per-group rank-sum terms pre-rounded at 9dp and decimal-summed
    (order-free), exact Σ(t³−t) tie correction. Plan: two keyed aggs +
    one broadcast histogram join — n³ exceeds 2^53 at scale but the
    BIGINT→DOUBLE conversion is round-to-nearest on both engines, so
    parity holds."""
    from etl_mini_spark.operators.ranks import value_midranks

    e = _t(spark, sf_dir, "events")
    gv = e.groupBy("event_type", "value").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    hv = value_midranks(e, "value")
    g = (
        gv.join(F.broadcast(hv.select("value", "r2")), "value")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            F.sum(F.col("cnt") * F.col("r2")).cast("bigint").alias("s_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(
            F.round((F.col("s_g") / 2.0) * (F.col("s_g") / 2.0) / F.col("n_g"), 9)
            .cast("decimal(28,9)")
        ).cast("double").alias("rterm"),
        F.count("*").cast("bigint").alias("k"),
    )
    ties = (
        hv.filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.expr("t * t * t - t")), F.lit(0))
            .cast("bigint").alias("tie_cubes")
        )
    )
    j = tot.crossJoin(ties)
    h_raw = 12.0 / (F.col("n") * (F.col("n") + 1.0)) * F.col("rterm") - 3.0 * (F.col("n") + 1.0)
    corr = 1.0 - F.col("tie_cubes").cast("double") / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    return j.select("k", "n", half_up(h_raw / corr).alias("h_stat"))


# --- Cohen's kappa between two deterministic document raters ------------------------------
# Rater A: n_chars > 300; rater B: whitespace token count > 60. The
# agreement matrix is four exact BIGINTs; kappa is one mirrored double
# expression over them.
_KAPPA_SQL = """
    WITH j AS (
      SELECT CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                        ' ')) > 60 THEN 1 ELSE 0 END AS b
      FROM documents),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM j)
    SELECT n, n11, n10, n01, n00,
           floor(((n11 + n00) / (1.0 * n)
                  - ((n11 + n10) * (1.0 * (n11 + n01)) + (n01 + n00) * (1.0 * (n10 + n00)))
                    / (1.0 * n * n))
                 / (1.0 - ((n11 + n10) * (1.0 * (n11 + n01)) + (n01 + n00) * (1.0 * (n10 + n00)))
                          / (1.0 * n * n))
                 * 1000000 + 0.5) / 1000000 AS kappa
    FROM c
"""


@pq("cohens_kappa_rules", _KAPPA_SQL)
def cohens_kappa_rules(spark, sf_dir):
    """Cohen's kappa agreement between two deterministic document
    quality raters (char-length rule vs token-count rule): the
    chance-corrected agreement a labeling pipeline reports when two
    heuristic annotators vote. Confusion cells are exact BIGINTs; po
    and pe are mirrored double expressions. Plan: one narrow map + one
    1-row agg — no shuffle wider than four counters."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    )
    j = d.select(
        F.when(F.col("n_chars") > 300, 1).otherwise(0).alias("a"),
        F.when(toks > 60, 1).otherwise(0).alias("b"),
    )
    c = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    pe = (
        (F.col("n11") + F.col("n10")) * (1.0 * (F.col("n11") + F.col("n01")))
        + (F.col("n01") + F.col("n00")) * (1.0 * (F.col("n10") + F.col("n00")))
    ) / (1.0 * F.col("n") * F.col("n"))
    po = (F.col("n11") + F.col("n00")) / (1.0 * F.col("n"))
    return c.select(
        "n", "n11", "n10", "n01", "n00", half_up((po - pe) / (1.0 - pe)).alias("kappa")
    )


# --- Matthews correlation coefficient at a fixed threshold ---------------------------------
# Classifier "value > 200" predicting event_type = 'purchase'. The
# numerator stays BIGINT (products < 2^53 territory is irrelevant —
# BIGINT holds them exactly); the denominator's 4-factor product is
# computed in DOUBLE with one fixed left-to-right parenthesization on
# both engines because the BIGINT product would overflow at scale.
_MCC_SQL = """
    WITH c AS (
      SELECT
        CAST(sum(CASE WHEN value > 200 AND event_type = 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(sum(CASE WHEN value > 200 AND event_type <> 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS fp,
        CAST(sum(CASE WHEN value <= 200 AND event_type = 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS fn,
        CAST(sum(CASE WHEN value <= 200 AND event_type <> 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS tn
      FROM events)
    SELECT tp, fp, fn, tn,
           floor((tp * tn - fp * fn)
                 / sqrt(((CAST(tp + fp AS DOUBLE) * (tp + fn)) * (tn + fp)) * (tn + fn))
                 * 1000000 + 0.5) / 1000000 AS mcc
    FROM c
"""


@pq("mcc_threshold", _MCC_SQL)
def mcc_threshold(spark, sf_dir):
    """Matthews correlation coefficient of the fixed-threshold
    classifier "value > 200 ⇒ purchase" — the single-number confusion
    summary that stays honest under class imbalance (unlike accuracy).
    Cells are exact BIGINTs; the denominator multiplies the four
    marginals as DOUBLEs in one fixed parenthesization (the BIGINT
    product would overflow past ~55k rows per cell under ANSI mode),
    and IEEE sqrt/division are engine-exact. Plan: one narrow map +
    one 1-row agg."""
    e = _t(spark, sf_dir, "events")
    pred = F.col("value") > 200
    actual = F.col("event_type") == "purchase"
    c = e.agg(
        F.sum(F.when(pred & actual, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(pred & ~actual, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~pred & actual, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~pred & ~actual, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    denom = F.sqrt(
        (
            (F.col("tp") + F.col("fp")).cast("double")
            * (F.col("tp") + F.col("fn"))
            * (F.col("tn") + F.col("fp"))
        )
        * (F.col("tn") + F.col("fn"))
    )
    mcc = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")) / denom
    return c.select("tp", "fp", "fn", "tn", half_up(mcc).alias("mcc"))


# --- two-proportion z-test: purchase rate, first vs second half of the month ---------------
_ZTEST_SQL = """
    WITH c AS (
      SELECT
        CAST(sum(CASE WHEN strftime(ts, '%d') <= '15' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN strftime(ts, '%d') <= '15'
                       AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        CAST(sum(CASE WHEN strftime(ts, '%d') > '15' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN strftime(ts, '%d') > '15'
                       AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x2
      FROM events)
    SELECT n1, x1, n2, x2,
           floor((x1 / (1.0 * n1) - x2 / (1.0 * n2))
                 / sqrt(((x1 + x2) / (1.0 * (n1 + n2)))
                        * (1.0 - (x1 + x2) / (1.0 * (n1 + n2)))
                        * (1.0 / n1 + 1.0 / n2))
                 * 1000000 + 0.5) / 1000000 AS z
    FROM c
"""


@pq("two_proportion_ztest", _ZTEST_SQL)
def two_proportion_ztest(spark, sf_dir):
    """Pooled two-proportion z-test: did the purchase rate shift
    between the first and second half of the month? — the A/B
    significance arithmetic on exact integer counts, with the pooled
    variance expression mirrored term-for-term on both engines. Plan:
    one narrow map + one 1-row agg; the day-of-month split is a string
    comparison on the zero-padded day so no tz/locale surface is
    touched."""
    e = _t(spark, sf_dir, "events")
    first = F.date_format("ts", "dd") <= "15"
    purch = F.col("event_type") == "purchase"
    c = e.agg(
        F.sum(F.when(first, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(first & purch, 1).otherwise(0)).cast("bigint").alias("x1"),
        F.sum(F.when(~first, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(~first & purch, 1).otherwise(0)).cast("bigint").alias("x2"),
    )
    p1 = F.col("x1") / (1.0 * F.col("n1"))
    p2 = F.col("x2") / (1.0 * F.col("n2"))
    pp = (F.col("x1") + F.col("x2")) / (1.0 * (F.col("n1") + F.col("n2")))
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return c.select("n1", "x1", "n2", "x2", half_up(z).alias("z"))


# --- Holt-Winters additive smoothing with weekly seasonality --------------------------------
# The level+trend+7-seasonal-state recursion — the seasonal extension
# of holt_linear_trend and the hardest "custom stateful op"
# differential in the registry: Spark runs one applyInPandas pass per
# series; the oracle replays it as a recursive CTE whose state row
# carries SEVEN seasonal columns updated by CASE on (i-1)%7. Both
# sides evaluate the IDENTICAL IEEE sequence (α=0.3, β=0.2, γ=0.4):
#   s_old = s[(t-1)%7];  f = (l+b) + s_old
#   l' = 0.3·(x − s_old) + 0.7·(l+b)
#   b' = 0.2·(l' − l) + 0.8·b
#   s[(t-1)%7] = 0.4·(x − l') + 0.6·s_old
# Initialization is EXACT-INTEGER seeded: daily revenue as BIGINT
# cents; l0 = w1_cents/700.0, b0 = (w2_cents/700.0 − w1_cents/700.0)/7,
# s_j = c_j/100.0 − l0 — every double is one exact int→double
# conversion + a fixed op sequence, so the trajectories agree
# bit-for-bit. Series shorter than 14 days are dropped on both sides
# (the init needs two full weeks).
_HW_STATE_COLS = ", ".join(f"s{k}" for k in range(7))
_HW_SNEW = (
    "0.4 * (CAST(s.c AS DOUBLE) / 100.0"
    " - (0.3 * (CAST(s.c AS DOUBLE) / 100.0 - {sold}) + 0.7 * (r.l + r.b)))"
    " + 0.6 * {sold}"
)
_HW_SOLD = (
    "CASE (s.i - 1) % 7 "
    + " ".join(f"WHEN {k} THEN r.s{k}" for k in range(7))
    + " END"
)
_HW_LNEW = "0.3 * (CAST(s.c AS DOUBLE) / 100.0 - {sold}) + 0.7 * (r.l + r.b)"
_HW_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, d, c,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily),
    base AS (
      SELECT event_type,
             CAST(sum(CASE WHEN i <= 7 THEN c ELSE 0 END) AS BIGINT) AS w1c,
             CAST(sum(CASE WHEN i BETWEEN 8 AND 14 THEN c ELSE 0 END) AS BIGINT) AS w2c,
             {", ".join(f"CAST(max(CASE WHEN i = {k + 1} THEN c END) AS BIGINT) AS c{k + 1}"
                        for k in range(7))},
             CAST(count(*) AS BIGINT) AS n
      FROM ser GROUP BY event_type),
    init AS (
      SELECT event_type, CAST(7 AS BIGINT) AS i,
             CAST(w1c AS DOUBLE) / 700.0 AS l,
             (CAST(w2c AS DOUBLE) / 700.0 - CAST(w1c AS DOUBLE) / 700.0) / 7.0 AS b,
             {", ".join(f"CAST(c{k + 1} AS DOUBLE) / 100.0"
                        f" - CAST(w1c AS DOUBLE) / 700.0 AS s{k}" for k in range(7))},
             CAST(NULL AS DOUBLE) AS f, CAST(NULL AS DOUBLE) AS snew
      FROM base WHERE n >= 14),
    rec AS (
      SELECT event_type, i, l, b, {_HW_STATE_COLS}, f, snew FROM init
      UNION ALL
      SELECT r.event_type, r.i + 1,
             {_HW_LNEW.format(sold=_HW_SOLD)},
             0.2 * (({_HW_LNEW.format(sold=_HW_SOLD)}) - r.l) + 0.8 * r.b,
             {", ".join(
                 f"CASE WHEN (s.i - 1) % 7 = {k} THEN {_HW_SNEW.format(sold=_HW_SOLD)}"
                 f" ELSE r.s{k} END" for k in range(7))},
             (r.l + r.b) + {_HW_SOLD},
             {_HW_SNEW.format(sold=_HW_SOLD)}
      FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.i = r.i + 1)
    SELECT rec.event_type AS event_type, ser.d AS d,
           floor(rec.l * 1000000 + 0.5) / 1000000 AS level,
           floor(rec.b * 1000000 + 0.5) / 1000000 AS trend,
           floor(rec.snew * 1000000 + 0.5) / 1000000 AS seasonal,
           floor(rec.f * 1000000 + 0.5) / 1000000 AS fitted
    FROM rec JOIN ser ON rec.event_type = ser.event_type AND rec.i = ser.i
    WHERE rec.i >= 8
    ORDER BY 1, 2
"""


@pq("holt_winters_weekly", _HW_SQL)
def holt_winters_weekly(spark, sf_dir):
    """Holt-Winters additive level+trend+weekly-seasonal smoothing of
    each event type's daily revenue (α=0.3 β=0.2 γ=0.4), fitted from
    day 8 on with exact-integer-seeded initialization (two-week warm
    start on BIGINT cents). Spark side: one Arrow-batched
    applyInPandas recursion per series; oracle side: a recursive CTE
    carrying the seven seasonal states as columns — both evaluate the
    identical IEEE sequence, so the trajectories agree bit-for-bit.
    Series with <14 days are dropped on both sides. Plan: one day agg,
    one shuffle on the series key, O(days) sequential work per key —
    series parallelize across the cluster; the recursion length is
    calendar-bounded."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        cs = [int(v) for v in pdf["c"]]
        n = len(cs)
        if n < 14:
            return pd.DataFrame(
                {"event_type": pd.Series([], dtype=str), "d": pd.Series([], dtype=str),
                 "level": pd.Series([], dtype=float), "trend": pd.Series([], dtype=float),
                 "seasonal": pd.Series([], dtype=float), "fitted": pd.Series([], dtype=float)}
            )
        w1c = sum(cs[:7])
        w2c = sum(cs[7:14])
        l = w1c / 700.0
        b = (w2c / 700.0 - w1c / 700.0) / 7.0
        s = [cs[k] / 100.0 - w1c / 700.0 for k in range(7)]
        rows = []
        for t in range(8, n + 1):
            j = (t - 1) % 7
            x = cs[t - 1] / 100.0
            s_old = s[j]
            f = (l + b) + s_old
            l_new = 0.3 * (x - s_old) + 0.7 * (l + b)
            b_new = 0.2 * (l_new - l) + 0.8 * b
            s_new = 0.4 * (x - l_new) + 0.6 * s_old
            s[j] = s_new
            l, b = l_new, b_new
            rows.append((pdf["event_type"].iloc[0], pdf["d"].iloc[t - 1], l, b, s_new, f))
        return pd.DataFrame(
            rows, columns=["event_type", "d", "level", "trend", "seasonal", "fitted"]
        )

    out = daily.groupBy("event_type").applyInPandas(
        hw,
        schema="event_type string, d string, level double, trend double, "
               "seasonal double, fitted double",
    )
    return out.select(
        "event_type", "d",
        half_up(F.col("level")).alias("level"),
        half_up(F.col("trend")).alias("trend"),
        half_up(F.col("seasonal")).alias("seasonal"),
        half_up(F.col("fitted")).alias("fitted"),
    ).orderBy("event_type", "d")


# --- maximum drawdown of the daily purchase-minus-click net flow ---------------------------
# The net series is signed (difference of two positive daily sums), so
# the cumulative path actually draws down; everything up to the final
# /100.0 renders is BIGINT-exact (cumsum, running max, argmax).
_MDD_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                           ELSE 0 END)
                  - sum(CASE WHEN event_type = 'click'
                             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS net_c
      FROM events GROUP BY 1),
    c AS (
      SELECT d, net_c,
             sum(net_c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM daily),
    p AS (
      SELECT d, cum_c,
             max(cum_c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak_c
      FROM c),
    r AS (
      SELECT d, cum_c, peak_c, peak_c - cum_c AS dd_c,
             row_number() OVER (ORDER BY peak_c - cum_c DESC, d) AS rn
      FROM p)
    SELECT d AS trough_d,
           CAST(dd_c AS DOUBLE) / 100.0 AS max_drawdown,
           CAST(peak_c AS DOUBLE) / 100.0 AS peak,
           CAST(cum_c AS DOUBLE) / 100.0 AS trough
    FROM r WHERE rn = 1
"""


@pq("max_drawdown_daily", _MDD_SQL)
def max_drawdown_daily(spark, sf_dir):
    """Maximum drawdown of the cumulative daily purchase-minus-click
    net flow: cumsum → running peak → peak−cum, all BIGINT-exact in
    cents, argmax broken earliest-day-first; only the final dollar
    render divides. The classic risk metric, computed the
    integer-exact way. Plan: one day agg, then three window passes
    over the calendar-bounded daily series — a single tiny partition
    regardless of fact scale (and the day agg is the only shuffle)."""
    e = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
            - F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        ).cast("bigint").alias("net_c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select("d", F.sum("net_c").over(w).alias("cum_c"))
    p = c.select("d", "cum_c", F.max("cum_c").over(w).alias("peak_c"))
    r = p.select(
        "d", "cum_c", "peak_c", (F.col("peak_c") - F.col("cum_c")).alias("dd_c")
    ).withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("dd_c").desc(), F.col("d")))
    )
    return r.filter("rn = 1").select(
        F.col("d").alias("trough_d"),
        (F.col("dd_c").cast("double") / 100.0).alias("max_drawdown"),
        (F.col("peak_c").cast("double") / 100.0).alias("peak"),
        (F.col("cum_c").cast("double") / 100.0).alias("trough"),
    )


# --- Bollinger bands (7-day, ±2σ) on daily revenue ------------------------------------------
# Rolling sum stays BIGINT; the rolling sum-of-squares is exact WIDE
# integer (DECIMAL(38,0) in Spark, HUGEINT in DuckDB — cents²·7 passes
# 2^63 around sf1, so BIGINT would ANSI-throw there; the wide types
# are exact to 10^38 ≈ sf10^10). Both engines convert the identical
# exact integer to double at q/7.0 (correctly-rounded int→double), so
# mean/σ are fixed IEEE expressions and the band edges — and the
# breach BOOLEANS computed from the raw unrounded doubles — are
# bit-identical across engines before the 4dp display pin.
_BOLL_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1),
    w AS (
      SELECT d, c,
             sum(c) OVER (ORDER BY d ROWS 6 PRECEDING) AS s,
             sum(CAST(c AS HUGEINT) * c) OVER (ORDER BY d ROWS 6 PRECEDING) AS q,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily)
    SELECT d,
           CAST(c AS DOUBLE) / 100.0 AS revenue,
           floor(s / 7.0 / 100.0 * 10000 + 0.5) / 10000 AS mid,
           floor((s / 7.0 + 2.0 * sqrt(greatest(q / 7.0 - (s / 7.0) * (s / 7.0), 0.0)))
                 / 100.0 * 10000 + 0.5) / 10000 AS upper,
           floor((s / 7.0 - 2.0 * sqrt(greatest(q / 7.0 - (s / 7.0) * (s / 7.0), 0.0)))
                 / 100.0 * 10000 + 0.5) / 10000 AS lower,
           CAST(c AS DOUBLE) >
             s / 7.0 + 2.0 * sqrt(greatest(q / 7.0 - (s / 7.0) * (s / 7.0), 0.0)) AS breach_hi,
           CAST(c AS DOUBLE) <
             s / 7.0 - 2.0 * sqrt(greatest(q / 7.0 - (s / 7.0) * (s / 7.0), 0.0)) AS breach_lo
    FROM w WHERE rn >= 7 ORDER BY d
"""


@pq("bollinger_bands_7d", _BOLL_SQL)
def bollinger_bands_7d(spark, sf_dir):
    """Bollinger bands over daily revenue: trailing-7-day mean ±2
    population σ, with breach flags. The rolling sum is exact BIGINT
    cents; the rolling sum-of-squares is exact DECIMAL(38,0) (HUGEINT
    on the oracle side) because cents²·7 crosses 2^63 near sf1 and
    would ANSI-throw as BIGINT — the wide integer removes that scale
    cliff while staying exact to 10^38. Both engines correctly round
    the identical exact integer at q/7.0, so the band edges are fixed
    IEEE expressions and the breach booleans — compared on the RAW
    doubles, before display rounding — are engine-identical. Plan: one
    day agg + one ordered window over the calendar-bounded series."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wr = Window.orderBy("d")
    b = daily.select(
        "d", "c",
        F.sum("c").over(w7).alias("s"),
        # cents² as DECIMAL(38,0): exact wide integer, no 2^63 cliff
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .over(w7).alias("q"),
        F.row_number().over(wr).alias("rn"),
    )
    mean_c = F.col("s") / 7.0
    sd_c = F.sqrt(F.greatest(F.col("q") / 7.0 - mean_c * mean_c, F.lit(0.0)))
    up_c = mean_c + 2.0 * sd_c
    lo_c = mean_c - 2.0 * sd_c
    return (
        b.filter(F.col("rn") >= 7)
        .select(
            "d",
            (F.col("c").cast("double") / 100.0).alias("revenue"),
            half_up(mean_c / 100.0, 4).alias("mid"),
            half_up(up_c / 100.0, 4).alias("upper"),
            half_up(lo_c / 100.0, 4).alias("lower"),
            (F.col("c").cast("double") > up_c).alias("breach_hi"),
            (F.col("c").cast("double") < lo_c).alias("breach_lo"),
        )
        .orderBy("d")
    )


# --- incremental Misra-Gries heavy hitters via foreachBatch -------------------------------
# The streaming counterpart of heavy_hitters_mg: the corpus streams in
# three chunks, a foreachBatch sink folds each chunk's token counts
# into ONE persisted 64-counter MG state (mg_fold is the mergeable-
# summaries MERGE — the error bound total ≤ N/(k+1) holds under ANY
# fold order, so sequential batch folding preserves the superset
# guarantee), and the final answer is an EXACT Spark recount over only
# the surviving candidates. The oracle is the naive exact GROUP BY —
# same as the batch sketch, which is the whole point: incremental
# sketch maintenance must not change the answer.
_SMG_SQL = """
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


@pq("stream_mg_incremental", _SMG_SQL)
def stream_mg_incremental(spark, sf_dir):
    """Heavy hitters maintained INCREMENTALLY: documents stream in as
    three chunk files (one micro-batch each, maxFilesPerTrigger=1), a
    foreachBatch sink folds each batch's token counts into a persisted
    64-counter Misra-Gries state (``mg_fold`` — the mergeable-summaries
    MERGE, whose N/(k+1) error bound is fold-order-independent, so the
    candidate superset survives batch boundaries), and the final
    report is an exact Spark recount restricted to the candidates.
    Must equal the naive exact GROUP BY — incremental maintenance
    changes the cost, never the answer. Plan: per batch ONE distributed
    Arrow pass (per-partition MG summaries via ``mapInPandas``, the
    same kernel shape as ``operators/sketches.mg_candidates``); only
    the ≤64×P summary counter rows reach the driver, where one
    mergeable-summaries MERGE (pointwise add + single compress —
    exactly the k-way merge of Agarwal et al., bound Σ N_p/(k+1))
    folds them into the persisted state. The raw batch text is never
    collected, so the sink stays driver-light at any micro-batch size;
    the exact pass touches only candidate tokens — the incremental-
    sketch shape that avoids re-scanning history at 100 TB."""
    from collections.abc import Iterator
    from pathlib import Path

    import pandas as pd

    from etl_mini_spark.operators.sketches import mg_fold
    from etl_mini_spark.streaming.stream import replay

    d = _t(spark, sf_dir, "documents")

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            counters = mg_fold(
                counters,
                {t: int(c) for t, c in pdf["t"].value_counts().items()},
                k=64,
            )
        if counters:
            yield pd.DataFrame(
                {"t": list(counters.keys()), "cnt": list(counters.values())}
            )

    def sink(batch_df, batch_id):
        # distributed: tokenize + per-partition MG summary executor-side;
        # only ≤64 counter rows per partition come back
        toks_b = batch_df.select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
                )
            ).alias("t")
        )
        rows = toks_b.mapInPandas(mg_partition, schema="t string, cnt long").collect()
        if not rows:
            return
        summary: dict[str, int] = {}
        for r in rows:  # pointwise add across partitions
            summary[r["t"]] = summary.get(r["t"], 0) + int(r["cnt"])
        try:
            st_pdf = pd.read_parquet(state)
            counters = dict(zip(st_pdf["t"], (int(c) for c in st_pdf["cnt"])))
        except (FileNotFoundError, OSError):
            counters = {}
        counters = mg_fold(counters, summary, k=64)  # add + one compress = MERGE
        state.parent.mkdir(parents=True, exist_ok=True)
        pd.DataFrame(
            {"t": list(counters.keys()), "cnt": list(counters.values())}
        ).to_parquet(state, index=False)

    # the final state is the output: the candidate tokens
    with replay(spark, "smg") as r:
        state = Path(r.out) / "state.parquet"
        for i in range(3):
            r.stage(d.filter(F.pmod("doc_id", F.lit(3)) == i).select("doc_id", "text"))
        r.run(r.stream(), sink)
    cand = r.output.select("t")
    toks = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("t")
    )
    total = toks.agg(F.count("*").cast("bigint").alias("n_total"))
    share = F.col("freq") / (1.0 * F.col("n_total"))
    return (
        toks.join(F.broadcast(cand), "t")
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * 31 > F.col("n_total"))
        .select("t", "freq", half_up(share).alias("share"))
        .orderBy("t")
    )


# --- relational division: suppliers covering every part type -------------------------------
# The classic "÷" operator (suppliers who shipped at least one part of
# EVERY distinct p_type) expressed the scalable way: per-supplier
# distinct-type counts compared to the divisor cardinality — no
# NOT EXISTS double negation, one pair of exact integer counts.
_RDIV_SQL = """
    WITH divisor AS (SELECT CAST(count(DISTINCT p_type) AS BIGINT) AS n_types FROM part),
    cov AS (
      SELECT l.l_suppkey AS s_suppkey,
             CAST(count(DISTINCT p.p_type) AS BIGINT) AS n_covered
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY l.l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered, d.n_types,
           coalesce(c.n_covered, 0) = d.n_types AS divides_all
    FROM supplier s LEFT JOIN cov c ON c.s_suppkey = s.s_suppkey
    CROSS JOIN divisor d
    ORDER BY s.s_suppkey
"""


@pq("relational_division", _RDIV_SQL)
def relational_division(spark, sf_dir):
    """Relational division — which suppliers shipped at least one part
    of EVERY distinct part type — expressed as the scale-friendly
    count-comparison rewrite (distinct-type count per supplier vs the
    divisor's cardinality) instead of the textbook NOT EXISTS double
    negation that would correlate a subquery per supplier. The report
    LEFT-joins FROM supplier (coverage coalesced to 0) so a supplier
    with no shipments at all surfaces as n_covered=0 instead of
    silently vanishing — the erasure-audit completeness rule. Plan:
    one distinct-agg on (supplier, type) after a part-dim join AQE can
    broadcast, one 1-row divisor, one supplier-dim join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    divisor = p.agg(F.countDistinct("p_type").cast("bigint").alias("n_types"))
    cov = (
        li.join(p.select("p_partkey", "p_type"), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.countDistinct("p_type").cast("bigint").alias("n_covered"))
    )
    return (
        s.select("s_suppkey", "s_name")
        .join(cov, "s_suppkey", "left")
        .crossJoin(F.broadcast(divisor))
        .select(
            "s_suppkey", "s_name",
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
            "n_types",
            (F.coalesce(F.col("n_covered"), F.lit(0)) == F.col("n_types")).alias("divides_all"),
        )
        .orderBy("s_suppkey")
    )


# --- largest-remainder (Hamilton) allocation -------------------------------------------------
# Allocate a fixed budget of 10000 slots across event types
# proportionally to exact counts: base = floor shares via integer
# division, the leftover distributed by remainder rank — pure integer
# arithmetic end-to-end, and Σ alloc == budget BY CONSTRUCTION (the
# conservation law the pin asserts).
_LRA_SQL = """
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
    b AS (
      SELECT c.event_type, c.cnt,
             CAST(10000 * c.cnt // n.n AS BIGINT) AS base,
             CAST(10000 * c.cnt % n.n AS BIGINT) AS rem,
             n.n AS n
      FROM c CROSS JOIN n),
    r AS (
      SELECT event_type, cnt, base, rem,
             row_number() OVER (ORDER BY rem DESC, event_type) AS rk,
             CAST(10000 - sum(base) OVER () AS BIGINT) AS leftover
      FROM b)
    SELECT event_type, cnt, base, rem,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r ORDER BY event_type
"""


@pq("largest_remainder_allocation", _LRA_SQL)
def largest_remainder_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a fixed
    10000-slot budget across event types: integer floor shares plus
    leftover slots by remainder rank (ties broken by name) — the
    rounding-safe allocation every quota/sampling plan needs, with
    Σ alloc == budget exactly, by construction, not by float luck.
    Plan: one 5-row agg, window over 5 rows — nothing scales with the
    fact table beyond the first count."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(F.count("*").cast("bigint").alias("cnt"))
    n = c.agg(F.sum("cnt").cast("bigint").alias("n"))
    b = c.crossJoin(F.broadcast(n)).select(
        "event_type", "cnt",
        F.expr("CAST(10000 * cnt DIV n AS BIGINT)").alias("base"),
        F.expr("CAST(10000 * cnt % n AS BIGINT)").alias("rem"),
    )
    r = b.select(
        "event_type", "cnt", "base", "rem",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "event_type")).alias("rk"),
        (10000 - F.sum("base").over(Window.partitionBy())).cast("bigint").alias("leftover"),
    )
    return r.select(
        "event_type", "cnt", "base", "rem",
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint").alias("alloc"),
    ).orderBy("event_type")


# --- golden-record survivorship per user ---------------------------------------------------
# MDM-style merge: one surviving record per user assembled by
# survivorship rules — latest event wins for type, latest NON-NULL
# wins for the nested k attribute (IGNORE NULLS window), plus exact
# first/last timestamps, counts, and decimal value totals.
_GOLD_SQL = """
    WITH e AS (
      SELECT user_id, event_type, event_id, ts,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events),
    w AS (
      SELECT user_id,
             first_value(event_type) OVER
               (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS last_type,
             last_value(k IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_k,
             ts, v
      FROM e)
    SELECT user_id,
           any_value(last_type) AS last_type,
           max(last_k) AS last_k,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(v) AS DOUBLE), 2) AS total_value
    FROM w GROUP BY user_id ORDER BY user_id
"""


@pq("golden_record_survivorship", _GOLD_SQL)
def golden_record_survivorship(spark, sf_dir):
    """Golden-record (MDM survivorship) merge: collapse each user's
    event history to one surviving record — latest event wins the type
    field, latest NON-NULL wins the sparse nested k attribute (IGNORE
    NULLS window), exact first/last seen timestamps, and a decimal
    value total. The entity-consolidation step every 100-TB identity
    pipeline runs after matching. Plan: one user-keyed window pass +
    one user agg — a single shuffle on the entity key."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    w_last = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    w_all = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = e.select(
        "user_id",
        F.first("event_type").over(w_last).alias("last_type"),
        F.last("k", ignorenulls=True).over(w_all).alias("last_k"),
        "ts", "v",
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.any_value("last_type").alias("last_type"),
            F.max("last_k").alias("last_k"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_seen"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_seen"),
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


# --- per-column completeness matrix -----------------------------------------------------
# The first profiling pass any DQ tool runs: per column, rows / nulls /
# blanks / completeness. Fixed column list (schema-driven profiling is
# a driver-side loop over this same shape); one wide aggregate row,
# unpivoted to (column, metric) form on both engines.
_COMPLETE_SQL = """
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count(event_id) AS BIGINT) AS null_event_id,
             CAST(count(*) - count(ts) AS BIGINT) AS null_ts,
             CAST(count(*) - count(user_id) AS BIGINT) AS null_user_id,
             CAST(count(*) - count(event_type) AS BIGINT) AS null_event_type,
             CAST(count(*) - count(value) AS BIGINT) AS null_value,
             CAST(count(*) - count(props) AS BIGINT) AS null_props,
             CAST(sum(CASE WHEN trim(coalesce(event_type, '')) = '' THEN 1 ELSE 0 END)
               AS BIGINT) AS blank_event_type,
             CAST(sum(CASE WHEN trim(coalesce(props, '')) = '' THEN 1 ELSE 0 END)
               AS BIGINT) AS blank_props
      FROM events)
    SELECT col, n, n_null, n_blank,
           floor((n - n_null) / (1.0 * n) * 1000000 + 0.5) / 1000000 AS completeness
    FROM (
      SELECT 'event_id' AS col, n, null_event_id AS n_null, CAST(0 AS BIGINT) AS n_blank FROM a
      UNION ALL SELECT 'event_type', n, null_event_type, blank_event_type FROM a
      UNION ALL SELECT 'props', n, null_props, blank_props FROM a
      UNION ALL SELECT 'ts', n, null_ts, CAST(0 AS BIGINT) FROM a
      UNION ALL SELECT 'user_id', n, null_user_id, CAST(0 AS BIGINT) FROM a
      UNION ALL SELECT 'value', n, null_value, CAST(0 AS BIGINT) FROM a
    ) ORDER BY col
"""


@pq("null_completeness_matrix", _COMPLETE_SQL)
def null_completeness_matrix(spark, sf_dir):
    """Column completeness profile of the events table: rows, nulls,
    blank strings, and the completeness ratio per column — the first
    pass of any data-quality profiler, computed in ONE wide aggregate
    (all counters in a single scan) and then unpivoted to tidy
    (column, metric) rows. Plan: one scan, one 1-row agg, a 6-row
    unpivot — profiling cost is a single pass regardless of width
    because the counters share the scan."""
    e = _t(spark, sf_dir, "events")
    a = e.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.count("*") - F.count("event_id")).cast("bigint").alias("null_event_id"),
        (F.count("*") - F.count("ts")).cast("bigint").alias("null_ts"),
        (F.count("*") - F.count("user_id")).cast("bigint").alias("null_user_id"),
        (F.count("*") - F.count("event_type")).cast("bigint").alias("null_event_type"),
        (F.count("*") - F.count("value")).cast("bigint").alias("null_value"),
        (F.count("*") - F.count("props")).cast("bigint").alias("null_props"),
        F.sum(F.when(F.trim(F.coalesce("event_type", F.lit(""))) == "", 1).otherwise(0))
        .cast("bigint").alias("blank_event_type"),
        F.sum(F.when(F.trim(F.coalesce("props", F.lit(""))) == "", 1).otherwise(0))
        .cast("bigint").alias("blank_props"),
    )
    rows = a.selectExpr(
        """stack(6,
             'event_id', null_event_id, CAST(0 AS BIGINT),
             'event_type', null_event_type, blank_event_type,
             'props', null_props, blank_props,
             'ts', null_ts, CAST(0 AS BIGINT),
             'user_id', null_user_id, CAST(0 AS BIGINT),
             'value', null_value, CAST(0 AS BIGINT)
           ) AS (col, n_null, n_blank)""",
        "n",
    )
    return rows.select(
        "col", "n", "n_null", "n_blank",
        half_up((F.col("n") - F.col("n_null")) / (1.0 * F.col("n"))).alias("completeness"),
    ).orderBy("col")


# --- per-column distinctness + top-value profile ---------------------------------------------
# The second profiling pass: exact distinct counts, distinct ratio,
# and the modal value per column (ties broken by the smaller rendered
# value). Values are rendered through DECIMAL/string casts so both
# engines print identically.
_DISTPROF_SQL = """
    WITH u AS (
      SELECT 'event_type' AS col, event_type AS v FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL SELECT 'value', CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) FROM events
    ),
    c AS (
      SELECT col, v, CAST(count(*) AS BIGINT) AS freq FROM u GROUP BY col, v),
    d AS (
      SELECT col, CAST(count(*) AS BIGINT) AS n_distinct, CAST(sum(freq) AS BIGINT) AS n
      FROM c GROUP BY col),
    top AS (
      SELECT col, v AS top_value, freq AS top_freq,
             row_number() OVER (PARTITION BY col ORDER BY freq DESC, v) AS rk
      FROM c)
    SELECT d.col, d.n, d.n_distinct,
           floor(d.n_distinct / (1.0 * d.n) * 1000000 + 0.5) / 1000000 AS distinct_ratio,
           t.top_value, t.top_freq
    FROM d JOIN top t ON d.col = t.col AND t.rk = 1
    ORDER BY d.col
"""


@pq("distinct_ratio_profile", _DISTPROF_SQL)
def distinct_ratio_profile(spark, sf_dir):
    """Distinctness profile: exact distinct count, distinct ratio, and
    the modal value (smallest-value tie-break) for each profiled
    column, with values rendered through DECIMAL/string casts so both
    engines print bit-identical text. Plan: one unpivoted scan, one
    (col, value) agg — the profiling shuffle is keyed on (column,
    value) so hot columns spread across reducers instead of serializing
    per-column."""
    e = _t(spark, sf_dir, "events")
    # one unpivoted scan: the 3-way unionAll re-scanned events once per
    # profiled column (guide 2.4); explode stacks the three (col, v)
    # projections from a single pass
    u = e.select(
        F.explode(
            F.array(
                F.struct(F.lit("event_type").alias("col"),
                         F.col("event_type").alias("v")),
                F.struct(F.lit("user_id").alias("col"),
                         F.col("user_id").cast("string").alias("v")),
                F.struct(F.lit("value").alias("col"),
                         F.col("value").cast("decimal(18,2)").cast("string").alias("v")),
            )
        ).alias("s")
    ).select("s.col", "s.v")
    c = u.groupBy("col", "v").agg(F.count("*").cast("bigint").alias("freq"))
    # per-column stats and the modal row from ONE evaluation of c: the
    # old d-aggregate + top-window pair referenced c twice, re-running
    # the (col, v) aggregate per reference (guide 2.4). Both windows
    # share the hash(col) partitioning, so this is one extra exchange
    # over the tiny distinct-value table instead of a second full pass.
    wp = Window.partitionBy("col")
    prof = c.select(
        "col",
        F.col("v").alias("top_value"),
        F.col("freq").alias("top_freq"),
        F.count("*").over(wp).cast("bigint").alias("n_distinct"),
        F.sum("freq").over(wp).cast("bigint").alias("n"),
        F.row_number()
        .over(wp.orderBy(F.col("freq").desc(), "v"))
        .alias("rk"),
    ).filter("rk = 1")
    return (
        prof.select(
            "col", "n", "n_distinct",
            half_up(F.col("n_distinct") / (1.0 * F.col("n"))).alias("distinct_ratio"),
            "top_value", "top_freq",
        )
        .orderBy("col")
    )


# --- cross-field / cross-table consistency rules ---------------------------------------------
# Expectations that span columns and tables: ship-after-order timing,
# value bounds, nested-attribute presence, price positivity. Each rule
# reports checked/violations/rate — the report is non-vacuous because
# n_checked is part of the contract.
_XFIELD_SQL = """
    SELECT 'events_value_bounds' AS rule,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           floor(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
                 / (1.0 * count(*)) * 1000000 + 0.5) / 1000000 AS rate
    FROM events
    UNION ALL
    SELECT 'events_props_has_k',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT),
           floor(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END)
                 / (1.0 * count(*)) * 1000000 + 0.5) / 1000000
    FROM events
    UNION ALL
    SELECT 'lineitem_ship_after_order',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN CAST(l.l_shipdate AS DATE) < CAST(o.o_orderdate AS DATE)
                         THEN 1 ELSE 0 END) AS BIGINT),
           floor(sum(CASE WHEN CAST(l.l_shipdate AS DATE) < CAST(o.o_orderdate AS DATE)
                          THEN 1 ELSE 0 END) / (1.0 * count(*)) * 1000000 + 0.5) / 1000000
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           floor(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                 / (1.0 * count(*)) * 1000000 + 0.5) / 1000000
    FROM orders
    ORDER BY rule
"""


@pq("cross_field_consistency", _XFIELD_SQL)
def cross_field_consistency(spark, sf_dir):
    """Cross-field and cross-table consistency rules — the
    expectations a contract suite runs BETWEEN columns and tables
    (ship-date not before order-date, value bounds, nested-attribute
    presence, price positivity), each reported as
    checked/violations/rate so a rule can never pass vacuously. Plan:
    each rule is one scan-local aggregate; the only join (ship vs
    order date) is an equi join on the order key that AQE can
    broadcast at dim-like sizes. The two events rules share ONE scan:
    a single aggregate computes both violation counts and the rows
    explode into the two report rows (the union re-scanned events per
    rule; guide 2.4)."""
    e = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")

    def rule(df, name, viol_col):
        return df.agg(
            F.lit(name).alias("rule"),
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(viol_col, 1).otherwise(0)).cast("bigint").alias("n_violations"),
            half_up(
                F.sum(F.when(viol_col, 1).otherwise(0)) / (1.0 * F.count("*"))
            ).alias("rate"),
        )

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    e_rules = [
        ("events_value_bounds", (F.col("value") < 0) | (F.col("value") > 1000)),
        ("events_props_has_k", F.get_json_object("props", "$.k").isNull()),
    ]
    e_agg = e.agg(
        F.count("*").cast("bigint").alias("n"),
        *[viol(cond).alias(f"v{i}") for i, (_, cond) in enumerate(e_rules)],
    )
    e_rows = e_agg.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("n").alias("n_checked"),
                F.col(f"v{i}").alias("n_violations"),
                half_up(F.col(f"v{i}") / (1.0 * F.col("n"))).alias("rate"),
            )
            for i, (name, _) in enumerate(e_rules)
        ])).alias("__r")
    ).select("__r.*")
    ship = rule(
        li.join(o, li.l_orderkey == o.o_orderkey),
        "lineitem_ship_after_order",
        F.to_date("l_shipdate") < F.to_date("o_orderdate"),
    )
    price = rule(o, "orders_price_positive", F.col("o_totalprice") <= 0)
    return e_rows.unionAll(ship).unionAll(price).orderBy("rule")


# --- binary encoding suite: md5 / sha256 / base64 round-trip ----------------------------------
# The fingerprint-and-transport block every ingest pipeline leans on,
# checked for cross-engine parity on a bounded doc subset: hex digests
# and padded standard base64 agree byte-for-byte, and the base64
# round-trip re-decodes to the original prefix ON BOTH ENGINES.
_B64_SQL = """
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           to_base64(encode(substr(text, 1, 24))) AS prefix_b64,
           decode(from_base64(to_base64(encode(substr(text, 1, 24))))) = substr(text, 1, 24)
             AS roundtrip_ok
    FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id
"""


@pq("binary_encoding_suite", _B64_SQL)
def binary_encoding_suite(spark, sf_dir):
    """Digest + transport-encoding parity: md5/sha-256 hex and padded
    standard base64 of a text prefix, plus an actual decode-and-compare
    round-trip executed independently on each engine. The content-
    addressing primitives deduplication and shard-routing rely on.
    Plan: narrow per-row expressions, no shuffle except the final
    bounded sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    prefix = F.substring(F.col("text"), 1, 24)
    b64 = F.base64(prefix.cast("binary"))
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_hex"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        b64.alias("prefix_b64"),
        (F.decode(F.unbase64(b64), "UTF-8") == prefix).alias("roundtrip_ok"),
    ).orderBy("doc_id")


# --- ISO week via the Thursday rule vs the engine's native ISO functions ----------------------
# Our side derives ISO year/week from FIRST PRINCIPLES with pure
# integer calendar math (shift every date to its week's Thursday:
# Monday-0 dow = (epoch_days + 3) % 7 because 1970-01-01 was a
# Thursday; then iso_year = year(thursday), iso_week =
# (doy(thursday)-1)//7 + 1). The oracle uses DuckDB's NATIVE isoyear()
# / weekofyear() — an independent first-class implementation, the same
# differential structure as sql_asof_native_parity. Year-boundary
# weeks (Dec 29 – Jan 3) are exactly where naive week math breaks, and
# the orders table spans seven of them.
_ISOW_SQL = """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders)
    SELECT CAST(isoyear(d) AS BIGINT) AS iso_year,
           CAST(weekofyear(d) AS BIGINT) AS iso_week,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(c) AS DOUBLE) / 100.0, 2) AS revenue
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
"""


@pq("iso_week_thursday_rule", _ISOW_SQL)
def iso_week_thursday_rule(spark, sf_dir):
    """ISO-8601 week rollup where the Spark side CONSTRUCTS iso
    year/week from pure integer calendar math (the Thursday rule: a
    date's ISO week is the ISO week of its week's Thursday) and the
    oracle uses DuckDB's native isoyear()/weekofyear() — an
    independent reference implementation, so an off-by-one at any of
    the seven year boundaries in the orders calendar fails the hash.
    Avoids Spark's banned week-based datetime patterns entirely. Plan:
    narrow integer expressions + one (year, week)-keyed agg."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    epoch_days = F.datediff(d, F.to_date(F.lit("1970-01-01")))
    dow_mon0 = (epoch_days + 3) % 7
    thursday = F.date_add(d, (F.lit(3) - dow_mon0).cast("int"))
    iso_year = F.year(thursday).cast("bigint")
    iso_week = (F.floor((F.dayofyear(thursday) - 1) / 7) + 1).cast("bigint")
    return (
        o.select(
            iso_year.alias("iso_year"),
            iso_week.alias("iso_week"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("c").cast("double") / 100.0, 2).alias("revenue"),
        )
        .orderBy("iso_year", "iso_week")
    )


# --- array set-operation suite over token halves ----------------------------------------------
# Each document's token list split in half; the halves compared as
# SETS (distinct) with intersect / union / except cardinalities and
# Jaccard — the array-function surface (slice, distinct, set ops)
# checked against DuckDB's list functions, which have independently
# implemented semantics.
_ARRSET_SQL = """
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents WHERE doc_id % 13 = 0),
    h AS (
      SELECT doc_id,
             list_distinct(toks[1 : CAST(len(toks) // 2 AS INT)]) AS da,
             list_distinct(toks[CAST(len(toks) // 2 AS INT) + 1 : len(toks)]) AS db
      FROM t),
    s AS (
      SELECT doc_id,
             CAST(len(da) AS BIGINT) AS n_a,
             CAST(len(db) AS BIGINT) AS n_b,
             CAST(len(list_filter(da, x -> list_contains(db, x))) AS BIGINT) AS n_inter,
             CAST(len(list_distinct(list_concat(da, db))) AS BIGINT) AS n_union,
             CAST(len(list_filter(da, x -> NOT list_contains(db, x))) AS BIGINT) AS n_a_only
      FROM h)
    SELECT doc_id, n_a, n_b, n_inter, n_union, n_a_only,
           floor(n_inter / (1.0 * n_union) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s ORDER BY doc_id
"""


@pq("array_set_ops_suite", _ARRSET_SQL)
def array_set_ops_suite(spark, sf_dir):
    """Array set operations on each document's token halves:
    slice → distinct → intersect/union/except cardinalities → Jaccard,
    Spark's array_* functions checked against DuckDB's independently
    implemented list_* functions (set semantics only — element ORDER
    of the set ops is engine-specific, so the contract compares
    cardinalities, not layouts). Plan: narrow higher-order expressions
    per row, no shuffle except the bounded sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    t = d.select("doc_id", toks.alias("toks"))
    half = F.floor(F.size("toks") / 2).cast("int")
    h = t.select(
        "doc_id",
        F.array_distinct(F.slice("toks", F.lit(1), half)).alias("da"),
        F.array_distinct(
            F.slice("toks", half + 1, (F.size("toks") - half).cast("int"))
        ).alias("db"),
    )
    s = h.select(
        "doc_id",
        F.size("da").cast("bigint").alias("n_a"),
        F.size("db").cast("bigint").alias("n_b"),
        F.size(F.array_intersect("da", "db")).cast("bigint").alias("n_inter"),
        F.size(F.array_distinct(F.concat("da", "db"))).cast("bigint").alias("n_union"),
        F.size(F.array_except("da", "db")).cast("bigint").alias("n_a_only"),
    )
    return s.select(
        "doc_id", "n_a", "n_b", "n_inter", "n_union", "n_a_only",
        half_up(F.col("n_inter") / (1.0 * F.col("n_union"))).alias("jaccard"),
    ).orderBy("doc_id")


# --- hour-of-week activity heatmap ------------------------------------------------------------
# The 7x24 BI heatmap with the day-of-week derived from pure integer
# epoch math ((epoch_days + 3) % 7, Monday=0) so no engine dow()
# convention (Sunday-0 vs Monday-1) is in the hash path.
_HOW_SQL = """
    WITH x AS (
      SELECT (CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) + 3) % 7
               AS dow_mon0,
             CAST(strftime(ts, '%H') AS BIGINT) AS hr
      FROM events),
    c AS (
      SELECT dow_mon0, hr, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1, 2),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT c.dow_mon0, c.hr, c.n,
           floor(c.n / (1.0 * t.total) * 1000000 + 0.5) / 1000000 AS share
    FROM c CROSS JOIN t ORDER BY c.dow_mon0, c.hr
"""


@pq("hour_of_week_heatmap", _HOW_SQL)
def hour_of_week_heatmap(spark, sf_dir):
    """Hour-of-week activity heatmap (7x24 counts + share of total)
    with day-of-week computed by integer epoch arithmetic — Monday=0
    via (epoch_days+3)%7 — instead of either engine's dow() function,
    whose Sunday-0 vs Monday-1 conventions disagree. The BI rollup
    that feeds staffing/capacity dashboards. Plan: one narrow map, one
    168-cell agg, a 1-row total broadcast."""
    e = _t(spark, sf_dir, "events")
    dow = (
        (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))) + 3) % 7
    ).cast("bigint")
    x = e.select(
        dow.alias("dow_mon0"),
        F.date_format("ts", "HH").cast("bigint").alias("hr"),
    )
    c = x.groupBy("dow_mon0", "hr").agg(F.count("*").cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "dow_mon0", "hr", "n",
            half_up(F.col("n") / (1.0 * F.col("total"))).alias("share"),
        )
        .orderBy("dow_mon0", "hr")
    )


# --- inter-order gap percentiles per market segment ---------------------------------------
# Days between a customer's consecutive orders (integer date diffs via
# lag), rolled up to exact discrete p50/p90 per segment with the
# cum-count order-statistic idiom — repeat-purchase cadence, the
# retention planner's number.
_IOG_SQL = """
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(CAST(o_orderdate AS DATE))
                         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                       CAST(o_orderdate AS DATE)) AS gap
      FROM orders),
    gg AS (
      SELECT c.c_mktsegment AS segment, g.gap
      FROM g JOIN customer c ON g.o_custkey = c.c_custkey
      WHERE g.gap IS NOT NULL),
    cnt AS (
      SELECT segment, gap, CAST(count(*) AS BIGINT) AS cnt FROM gg GROUP BY segment, gap),
    cum AS (
      SELECT segment, gap,
             sum(cnt) OVER (PARTITION BY segment ORDER BY gap) AS cum_n,
             sum(cnt) OVER (PARTITION BY segment) AS n
      FROM cnt)
    SELECT segment, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN cum_n * 2 >= n THEN gap END) AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN cum_n * 10 >= n * 9 THEN gap END) AS BIGINT) AS p90_days
    FROM cum GROUP BY segment ORDER BY segment
"""


@pq("interorder_gap_percentiles", _IOG_SQL)
def interorder_gap_percentiles(spark, sf_dir):
    """Repeat-purchase cadence: integer day gaps between each
    customer's consecutive orders (lag over the customer timeline),
    rolled to EXACT discrete p50/p90 per market segment via the
    cumulative-count order statistic — no interpolation semantics to
    align between engines. Plan: one customer-keyed window shuffle,
    one (segment, gap) agg, percentiles over the bounded distinct-gap
    domain."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gg = g.join(
        cst.select(F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")),
        "o_custkey",
    )
    cnt = gg.groupBy("segment", "gap").agg(F.count("*").cast("bigint").alias("cnt"))
    wc = Window.partitionBy("segment").orderBy("gap")
    wn = Window.partitionBy("segment")
    cum = cnt.select(
        "segment", "gap",
        F.sum("cnt").over(wc).alias("cum_n"),
        F.sum("cnt").over(wn).alias("n"),
    )
    return (
        cum.groupBy("segment")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            F.min(F.when(F.col("cum_n") * 2 >= F.col("n"), F.col("gap")))
            .cast("bigint").alias("p50_days"),
            F.min(F.when(F.col("cum_n") * 10 >= F.col("n") * 9, F.col("gap")))
            .cast("bigint").alias("p90_days"),
        )
        .orderBy("segment")
    )


# --- weekly Fourier coefficient of the revenue-share series -----------------------------------
# First-harmonic (period-7) Fourier coefficients of each event type's
# DAILY REVENUE SHARE (share, not dollars, keeps every cos/sin term
# ~1e-2 so a 1-ulp libm difference sits ~8 orders below the 9dp
# pre-round — the FIXTURES C libm rule with margin). Terms pre-round
# at 9dp, sum as DECIMAL(28,9); the amplitude is one sqrt of the two
# decimal sums.
_FOURIER_SQL = """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, d, c,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
             sum(c) OVER (PARTITION BY event_type) AS tot
      FROM daily),
    terms AS (
      SELECT event_type,
             CAST(round((CAST(c AS DOUBLE) / tot) * cos(2 * pi() * t / 7.0), 9)
               AS DECIMAL(28,9)) AS a_t,
             CAST(round((CAST(c AS DOUBLE) / tot) * sin(2 * pi() * t / 7.0), 9)
               AS DECIMAL(28,9)) AS b_t
      FROM ser),
    s AS (
      SELECT event_type,
             CAST(sum(a_t) AS DOUBLE) AS a1,
             CAST(sum(b_t) AS DOUBLE) AS b1
      FROM terms GROUP BY event_type)
    SELECT event_type,
           floor(a1 * 1000000 + 0.5) / 1000000 AS a1,
           floor(b1 * 1000000 + 0.5) / 1000000 AS b1,
           floor(sqrt(a1 * a1 + b1 * b1) * 1000000 + 0.5) / 1000000 AS amplitude
    FROM s ORDER BY event_type
"""


@pq("fourier_weekly_coeffs", _FOURIER_SQL)
def fourier_weekly_coeffs(spark, sf_dir):
    """First-harmonic weekly Fourier coefficients (period 7) of each
    event type's daily revenue-SHARE series — the spectral test for
    weekly seasonality that complements seasonal_strength_eta's ANOVA
    form. Using shares keeps every cos/sin term ~1e-2, so the 9dp
    pre-round + DECIMAL(28,9) sum (the FIXTURES C libm idiom) has ~8
    orders of margin over a 1-ulp cos() difference. Plan: one day agg,
    two windows over the calendar-bounded series, one 5-row reduce."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    wtot = Window.partitionBy("event_type")
    ser = daily.select(
        "event_type", "c",
        F.row_number().over(wt).alias("t"),
        F.sum("c").over(wtot).alias("tot"),
    )
    share = F.col("c").cast("double") / F.col("tot")
    angle = 2 * F.lit(3.141592653589793) * F.col("t") / 7.0
    terms = ser.select(
        "event_type",
        F.round(share * F.cos(angle), 9).cast("decimal(28,9)").alias("a_t"),
        F.round(share * F.sin(angle), 9).cast("decimal(28,9)").alias("b_t"),
    )
    s = terms.groupBy("event_type").agg(
        F.sum("a_t").cast("double").alias("a1"),
        F.sum("b_t").cast("double").alias("b1"),
    )
    return s.select(
        "event_type",
        half_up(F.col("a1")).alias("a1"),
        half_up(F.col("b1")).alias("b1"),
        half_up(F.sqrt(F.col("a1") * F.col("a1") + F.col("b1") * F.col("b1"))).alias("amplitude"),
    ).orderBy("event_type")


# --- interpolated continuous quantiles: Spark percentile vs DuckDB quantile_cont --------------
# Both engines implement the same (n-1)·q linear interpolation over the
# sorted values; q ∈ {.25, .5, .75} makes the fractional position exact
# in binary, so the interpolated doubles differ by ≤1 ulp between the
# two formula parenthesizations — far inside the 6dp pin, and a 2dp
# input can never land on a 6dp half.
_QCONT_SQL = """
    SELECT event_type,
           floor(quantile_cont(value, 0.25) * 1000000 + 0.5) / 1000000 AS p25,
           floor(quantile_cont(value, 0.50) * 1000000 + 0.5) / 1000000 AS p50,
           floor(quantile_cont(value, 0.75) * 1000000 + 0.5) / 1000000 AS p75
    FROM events GROUP BY event_type ORDER BY event_type
"""


@pq("quantile_cont_parity", _QCONT_SQL)
def quantile_cont_parity(spark, sf_dir):
    """Interpolated (continuous) quartiles per event type: Spark's
    exact `percentile` aggregate against DuckDB's `quantile_cont` —
    two independent implementations of the (n−1)·q linear
    interpolation, a true cross-engine differential for the quantile
    semantics approx sketches are later compared against. Plan: one
    type-keyed sort-based aggregate; at scale this is the exact-sort
    path one runs on samples while percentile_approx serves the full
    table."""
    e = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75))")
    g = e.groupBy("event_type").agg(pct.alias("p"))
    return g.select(
        "event_type",
        half_up(F.col("p")[0]).alias("p25"),
        half_up(F.col("p")[1]).alias("p50"),
        half_up(F.col("p")[2]).alias("p75"),
    ).orderBy("event_type")


# --- moving-average crossover signals ----------------------------------------------------
# Golden/death crosses of the 7d vs 14d rolling revenue means, decided
# by the INTEGER comparison 2·S7 vs S14 (S7/7 > S14/14 ⟺ 2·S7 > S14
# on exact cent sums) — no float ever picks a crossing day. Output
# starts at day 15 so both the state and its lag ride full windows.
_MAX_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1),
    w AS (
      SELECT d, c,
             sum(c) OVER (ORDER BY d ROWS 6 PRECEDING) AS s7,
             sum(c) OVER (ORDER BY d ROWS 13 PRECEDING) AS s14,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily),
    st AS (
      SELECT d, s7, s14, rn,
             CASE WHEN 2 * s7 > s14 THEN 1 WHEN 2 * s7 < s14 THEN -1 ELSE 0 END AS state
      FROM w),
    sig AS (
      SELECT d, s7, s14, rn, state,
             lag(state) OVER (ORDER BY d) AS prev_state
      FROM st)
    SELECT d,
           floor(s7 / 700.0 * 10000 + 0.5) / 10000 AS fast,
           floor(s14 / 1400.0 * 10000 + 0.5) / 10000 AS slow,
           CAST(state AS BIGINT) AS state,
           CASE WHEN state = 1 AND prev_state = -1 THEN 'golden'
                WHEN state = -1 AND prev_state = 1 THEN 'death' END AS signal
    FROM sig WHERE rn >= 15 ORDER BY d
"""


@pq("ma_crossover_signals", _MAX_SQL)
def ma_crossover_signals(spark, sf_dir):
    """Moving-average crossover detector (7d fast vs 14d slow daily
    revenue means): the above/below state is the integer comparison
    2·S7 vs S14 over exact cent sums, so the crossing days — golden
    and death crosses from the state's lag — are decided without any
    float boundary. Plan: one day agg, one ordered window pass over
    the calendar-bounded series."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )
    wd = Window.orderBy("d")
    w = daily.select(
        "d", "c",
        F.sum("c").over(wd.rowsBetween(-6, 0)).alias("s7"),
        F.sum("c").over(wd.rowsBetween(-13, 0)).alias("s14"),
        F.row_number().over(wd).alias("rn"),
    )
    state = (
        F.when(2 * F.col("s7") > F.col("s14"), 1)
        .when(2 * F.col("s7") < F.col("s14"), -1)
        .otherwise(0)
    )
    st = w.select("d", "s7", "s14", "rn", state.alias("state"))
    sig = st.select(
        "d", "s7", "s14", "rn", "state", F.lag("state").over(wd).alias("prev_state")
    )
    return (
        sig.filter(F.col("rn") >= 15)
        .select(
            "d",
            half_up(F.col("s7") / 700.0, 4).alias("fast"),
            half_up(F.col("s14") / 1400.0, 4).alias("slow"),
            F.col("state").cast("bigint").alias("state"),
            F.when((F.col("state") == 1) & (F.col("prev_state") == -1), "golden")
            .when((F.col("state") == -1) & (F.col("prev_state") == 1), "death")
            .alias("signal"),
        )
        .orderBy("d")
    )


# --- customer lifecycle accounting by year ----------------------------------------------------
# new / retained (active in y-1) / reactivated (gap > 1y) per order
# year, plus churn-out of the previous year's actives — pure integer
# state logic on lagged activity years.
_LIFE_SQL = """
    WITH cy AS (
      SELECT DISTINCT o_custkey, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y
      FROM orders),
    st AS (
      SELECT y,
             lag(y) OVER (PARTITION BY o_custkey ORDER BY y) AS prev_y
      FROM cy),
    agg AS (
      SELECT y,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN prev_y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN prev_y = y - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev_y < y - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reactivated
      FROM st GROUP BY y)
    SELECT y, n_active, n_new, n_retained, n_reactivated,
           CAST(lag(n_active) OVER (ORDER BY y) - n_retained AS BIGINT) AS n_churned_out
    FROM agg ORDER BY y
"""


@pq("customer_lifecycle_yearly", _LIFE_SQL)
def customer_lifecycle_yearly(spark, sf_dir):
    """Customer lifecycle ledger per order year: new vs retained vs
    reactivated (from each customer's lagged activity year) plus the
    churn-out of the previous year's actives (lag(n_active) −
    n_retained; NULL for the first year where no previous cohort
    exists) — the subscription-style accounting identity every growth
    dashboard reconciles. Plan: one distinct on (customer, year), one
    customer-keyed lag, one 7-row year agg."""
    o = _t(spark, sf_dir, "orders")
    cy = o.select(
        "o_custkey", F.year(F.to_date("o_orderdate")).cast("bigint").alias("y")
    ).distinct()
    st = cy.select(
        "y", F.lag("y").over(Window.partitionBy("o_custkey").orderBy("y")).alias("prev_y")
    )
    agg = st.groupBy("y").agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("prev_y").isNull(), 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("prev_y") == F.col("y") - 1, 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("prev_y") < F.col("y") - 1, 1).otherwise(0))
        .cast("bigint").alias("n_reactivated"),
    )
    return agg.select(
        "y", "n_active", "n_new", "n_retained", "n_reactivated",
        (F.lag("n_active").over(Window.orderBy("y")) - F.col("n_retained"))
        .cast("bigint").alias("n_churned_out"),
    ).orderBy("y")


# --- rapid repeat events audit -----------------------------------------------------------
# Same user, same event type, within 30 minutes — the double-fire /
# retry-storm audit. The time-range self-join runs as an EQUI join on
# (user, type, 30-minute bucket) with a 2-bucket explode on the probe
# side (pair ordered a≤b ⇒ bucket_b ∈ {bucket_a, bucket_a+1}), then
# the exact integer-µs band filter — no quadratic join, candidates are
# bucket-local.
_RAPID_SQL = """
    WITH e AS (
      SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us
      FROM events)
    SELECT a.user_id, a.event_type,
           a.event_id AS event_a, b.event_id AS event_b,
           CAST(b.us - a.us AS BIGINT) AS delta_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_type = b.event_type
     AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
     AND b.us - a.us <= 1800000000
    ORDER BY a.user_id, event_a, event_b
"""


@pq("rapid_repeat_events", _RAPID_SQL)
def rapid_repeat_events(spark, sf_dir):
    """Rapid repeat events (same user, same type, ≤30 minutes apart) —
    the double-fire/retry-storm audit a dedup policy is tuned on. The
    range self-join is rewritten as an equi join on (user, type,
    30-min time bucket) with a 2-bucket explode on the earlier side,
    so candidates stay bucket-local instead of quadratic; the final
    band check is exact integer microseconds. Plan: one hash-partition
    on the bucketed key, no sort-merge on user alone (a hot user would
    serialize), bounded pairs per bucket."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", F.unix_micros("ts").alias("us")
    )
    bkt = F.floor(F.col("us") / 1_800_000_000).cast("long")
    home = e.select(
        F.col("event_id").alias("event_b"), "user_id", "event_type",
        F.col("ts").alias("ts_b"), F.col("us").alias("us_b"), bkt.alias("bkt"),
    )
    # 2-bucket expansion as a generator (explode of a literal array) —
    # stays inside the scan stage instead of compiling to a bounded
    # BroadcastNestedLoopJoin like a range() crossJoin would
    probe = e.select(
        F.col("event_id").alias("event_a"), "user_id", "event_type",
        F.col("ts").alias("ts_a"), F.col("us").alias("us_a"),
        F.explode(F.array(bkt, bkt + 1)).alias("bkt"),
    )
    return (
        probe.join(home, ["user_id", "event_type", "bkt"])
        .filter(
            (
                (F.col("ts_a") < F.col("ts_b"))
                | ((F.col("ts_a") == F.col("ts_b")) & (F.col("event_a") < F.col("event_b")))
            )
            & (F.col("us_b") - F.col("us_a") <= 1_800_000_000)
        )
        .select(
            "user_id", "event_type", "event_a", "event_b",
            (F.col("us_b") - F.col("us_a")).cast("bigint").alias("delta_us"),
        )
        .orderBy("user_id", "event_a", "event_b")
    )


# --- 3-NN label prediction accuracy over embeddings ---------------------------------------
# Majority label of the exact top-3 cosine neighbors vs the vector's
# own label, per true label — the retrieval-quality eval that uses the
# SAME brute-force kernel similarity_topk pins (GEMM per batch, rank on
# the 6dp-rounded similarity with neighbor-id tie-break), with the
# majority vote broken deterministically by (count DESC, label ASC).
_KNN_SQL = """
    WITH nn AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label AS nlabel,
             round(list_cosine_similarity(c.embedding::DOUBLE[], p.embedding::DOUBLE[]), 6)
               AS cosine
      FROM embeddings c JOIN embeddings p
        ON p.vec_id % 31 = 0 AND c.vec_id <> p.vec_id
      QUALIFY row_number() OVER (PARTITION BY p.vec_id
                                 ORDER BY cosine DESC, c.vec_id) <= 3),
    votes AS (
      SELECT probe_id, nlabel, count(*) AS cnt FROM nn GROUP BY 1, 2),
    pred AS (
      SELECT probe_id, nlabel AS pred_label FROM votes
      QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cnt DESC, nlabel) = 1)
    SELECT CAST(e.label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM pred p JOIN embeddings e ON p.probe_id = e.vec_id
    GROUP BY 1 ORDER BY 1
"""


@pq("knn_label_accuracy", _KNN_SQL)
def knn_label_accuracy(spark, sf_dir):
    """3-NN label prediction accuracy: for each probe vector
    (vec_id % 31 = 0), the majority label of its exact top-3 cosine
    neighbors (vote ties broken by count DESC, label ASC) compared to
    its own label, reported per true label — the standard embedding-
    quality eval, sharing the GEMM brute-force kernel and the
    6dp-rounded rank discipline with similarity_topk. Plan: broadcast
    probe matrix, per-batch GEMM + partial top-k, one tiny global
    window — the corpus is scanned once, never self-joined."""
    from etl_mini_spark.operators import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 31 == 0)
    nn = cosine_topk_bruteforce(emb, probes, k=3)
    votes = (
        nn.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")),
            "neighbor_id",
        )
        .groupBy("probe_id", "nlabel")
        .agg(F.count("*").alias("cnt"))
    )
    pred = (
        votes.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(F.col("cnt").desc(), "nlabel")
            ),
        )
        .filter("rk = 1")
        .select("probe_id", F.col("nlabel").alias("pred_label"))
    )
    truth = emb.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label"))
    return (
        pred.join(truth, "probe_id")
        .groupBy(F.col("true_label").cast("bigint").alias("true_label"))
        .agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
            .cast("bigint").alias("n_correct"),
        )
        .orderBy("true_label")
    )


# --- Holt-Winters 7-day forecast from the terminal state ---------------------------------------
# The forecasting counterpart of holt_winters_weekly: run the identical
# recursion to the last observed day, then project h = 1..7 as
# f_h = l_n + h·b_n + s_{(n+h-1) mod 7} — a pure read of the terminal
# (level, trend, seasonal[7]) state, so the differential proves state
# HANDOFF, not just in-sample fit. Shares the recursive-CTE oracle and
# the exact-integer seeding with the fit entry.
_HWF_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type, d, c,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily),
    base AS (
      SELECT event_type,
             CAST(sum(CASE WHEN i <= 7 THEN c ELSE 0 END) AS BIGINT) AS w1c,
             CAST(sum(CASE WHEN i BETWEEN 8 AND 14 THEN c ELSE 0 END) AS BIGINT) AS w2c,
             {", ".join(f"CAST(max(CASE WHEN i = {k + 1} THEN c END) AS BIGINT) AS c{k + 1}"
                        for k in range(7))},
             CAST(count(*) AS BIGINT) AS n,
             max(d) AS d_last
      FROM ser GROUP BY event_type),
    init AS (
      SELECT event_type, CAST(7 AS BIGINT) AS i,
             CAST(w1c AS DOUBLE) / 700.0 AS l,
             (CAST(w2c AS DOUBLE) / 700.0 - CAST(w1c AS DOUBLE) / 700.0) / 7.0 AS b,
             {", ".join(f"CAST(c{k + 1} AS DOUBLE) / 100.0"
                        f" - CAST(w1c AS DOUBLE) / 700.0 AS s{k}" for k in range(7))}
      FROM base WHERE n >= 14),
    rec AS (
      SELECT event_type, i, l, b, {_HW_STATE_COLS} FROM init
      UNION ALL
      SELECT r.event_type, r.i + 1,
             {_HW_LNEW.format(sold=_HW_SOLD)},
             0.2 * (({_HW_LNEW.format(sold=_HW_SOLD)}) - r.l) + 0.8 * r.b,
             {", ".join(
                 f"CASE WHEN (s.i - 1) % 7 = {k} THEN {_HW_SNEW.format(sold=_HW_SOLD)}"
                 f" ELSE r.s{k} END" for k in range(7))}
      FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.i = r.i + 1),
    term AS (
      SELECT rec.* FROM rec JOIN base ON rec.event_type = base.event_type
      WHERE rec.i = base.n),
    hh AS (SELECT unnest(generate_series(1, 7)) AS h)
    SELECT t.event_type, CAST(hh.h AS BIGINT) AS h,
           strftime(CAST(b.d_last AS DATE) + CAST(hh.h AS INT), '%Y-%m-%d') AS f_d,
           floor((t.l + hh.h * t.b +
                  (CASE CAST((t.i + hh.h - 1) % 7 AS INT)
                        {" ".join(f"WHEN {k} THEN t.s{k}" for k in range(7))} END))
                 * 1000000 + 0.5) / 1000000 AS forecast
    FROM term t JOIN base b ON t.event_type = b.event_type
    CROSS JOIN hh
    ORDER BY t.event_type, h
"""


@pq("holt_winters_forecast", _HWF_SQL)
def holt_winters_forecast(spark, sf_dir):
    """7-day-ahead Holt-Winters forecast: the identical recursion as
    holt_winters_weekly runs to the last observed day, and each
    horizon h projects l_n + h·b_n + s_{(n+h-1) mod 7} from the
    TERMINAL state — proving the persisted state hands off to
    forecasting exactly (the property an incremental forecaster
    restarts from). Plan: same one-shuffle recursion per series key +
    a 7-row projection."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("c")
    )

    def hwf(pdf: pd.DataFrame) -> pd.DataFrame:
        import datetime as dt

        pdf = pdf.sort_values("d").reset_index(drop=True)
        cs = [int(v) for v in pdf["c"]]
        n = len(cs)
        if n < 14:
            return pd.DataFrame(
                {"event_type": pd.Series([], dtype=str), "h": pd.Series([], dtype="int64"),
                 "f_d": pd.Series([], dtype=str), "forecast": pd.Series([], dtype=float)}
            )
        w1c, w2c = sum(cs[:7]), sum(cs[7:14])
        l = w1c / 700.0
        b = (w2c / 700.0 - w1c / 700.0) / 7.0
        s = [cs[k] / 100.0 - w1c / 700.0 for k in range(7)]
        for t in range(8, n + 1):
            j = (t - 1) % 7
            x = cs[t - 1] / 100.0
            s_old = s[j]
            l_new = 0.3 * (x - s_old) + 0.7 * (l + b)
            b_new = 0.2 * (l_new - l) + 0.8 * b
            s[j] = 0.4 * (x - l_new) + 0.6 * s_old
            l, b = l_new, b_new
        d_last = dt.date.fromisoformat(pdf["d"].iloc[-1])
        rows = []
        for h in range(1, 8):
            f = l + h * b + s[(n + h - 1) % 7]
            rows.append(
                (pdf["event_type"].iloc[0], h,
                 (d_last + dt.timedelta(days=h)).isoformat(), f)
            )
        return pd.DataFrame(rows, columns=["event_type", "h", "f_d", "forecast"])

    out = daily.groupBy("event_type").applyInPandas(
        hwf, schema="event_type string, h long, f_d string, forecast double"
    )
    return out.select(
        "event_type", F.col("h").cast("bigint").alias("h"), "f_d",
        half_up(F.col("forecast")).alias("forecast"),
    ).orderBy("event_type", "h")


# --- keyset (seek-method) pagination parity ---------------------------------------------------
# Page 3 of the order book (rows 201-300 by (o_orderdate, o_orderkey)):
# the oracle uses DuckDB's native ROW-VALUE comparison
# (d, k) > (anchor_d, anchor_k); the Spark side uses the canonical
# OR-chain rewrite. Keyset is the pagination that SCALES — the anchor
# predicate pushes to the scan, while OFFSET must always materialize
# and discard every earlier row.
_KEYSET_SQL = """
    WITH anchor AS (
      SELECT o_orderdate AS ad, o_orderkey AS ak
      FROM orders ORDER BY o_orderdate, o_orderkey
      LIMIT 1 OFFSET 199)
    SELECT o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
           round(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS o_totalprice
    FROM orders o CROSS JOIN anchor
    WHERE (o.o_orderdate, o.o_orderkey) > (anchor.ad, anchor.ak)
    ORDER BY o.o_orderdate, o.o_orderkey
    LIMIT 100
"""


@pq("sql_keyset_pagination", _KEYSET_SQL)
def sql_keyset_pagination(spark, sf_dir):
    """Keyset (seek-method) pagination: fetch page 3 of the order book
    by anchoring on row 200's (o_orderdate, o_orderkey) and seeking
    STRICTLY PAST it — DuckDB's native row-value comparison vs Spark's
    canonical OR-chain rewrite, so the tuple-ordering semantics are
    cross-checked by two independent implementations. At scale keyset
    is the only pagination that works: the anchor predicate prunes at
    the scan, while OFFSET pays for every skipped row on every page.
    Plan: TakeOrderedAndProject for the anchor, broadcast 1-row anchor,
    pushable range predicate + top-k — no global sort."""
    o = _t(spark, sf_dir, "orders")
    anchor = (
        o.select("o_orderdate", "o_orderkey")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(200)
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(F.col("o_orderdate").alias("ad"), F.col("o_orderkey").alias("ak"))
    )
    seek = (F.col("o_orderdate") > F.col("ad")) | (
        (F.col("o_orderdate") == F.col("ad")) & (F.col("o_orderkey") > F.col("ak"))
    )
    return (
        o.crossJoin(F.broadcast(anchor))
        .filter(seek)
        .select(
            "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2)
            .alias("o_totalprice"),
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


# --- EOQ + reorder-point inventory policy per brand --------------------------------------------
# Classic operations formulas over exact aggregates: EOQ =
# sqrt(2·D·S / H) with D = total demanded quantity (exact BIGINT from
# decimal sums), S = 100 fixed ordering cost, H = 20% of the brand's
# average retail price; reorder point = daily demand × 7-day lead.
# sqrt is IEEE-exact; every input is one exact conversion.
_EOQ_SQL = """
    WITH d AS (
      SELECT p.p_brand AS brand,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS d_c,
             CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS price_c,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand)
    SELECT brand, CAST(d_c / 100 AS BIGINT) AS demand_units, n_lines,
           floor(sqrt(2.0 * (CAST(d_c AS DOUBLE) / 100.0) * 100.0
                      / (0.2 * (CAST(price_c AS DOUBLE) / 100.0 / n_lines)))
                 * 10000 + 0.5) / 10000 AS eoq_units,
           floor((CAST(d_c AS DOUBLE) / 100.0) / 365.0 * 7.0 * 10000 + 0.5) / 10000
             AS reorder_point_units
    FROM d ORDER BY brand
"""


@pq("eoq_inventory_policy", _EOQ_SQL)
def eoq_inventory_policy(spark, sf_dir):
    """Economic-order-quantity policy per brand: EOQ = sqrt(2DS/H)
    with exact-integer demand (BIGINT centi-units), a fixed ordering
    cost, and holding cost as 20% of the brand's LINE-WEIGHTED average
    retail price (parts ordered more often weigh more — the carrying
    cost of the units actually flowing, not of the catalog),
    plus the 7-day-lead reorder point — the inventory-planning formula
    block, every input one exact conversion and sqrt IEEE-exact. Plan:
    one fact-dim equi join (AQE-broadcastable part dim), one
    brand-keyed agg, 25 output rows."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    d = (
        li.join(p.select("p_partkey", "p_brand", "p_retailprice"),
                li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("bigint").alias("d_c"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("bigint").alias("price_c"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )
    d_units = F.col("d_c").cast("double") / 100.0
    avg_price = F.col("price_c").cast("double") / 100.0 / F.col("n_lines")
    eoq = F.sqrt(2.0 * d_units * 100.0 / (0.2 * avg_price))
    return d.select(
        "brand",
        F.expr("CAST(d_c DIV 100 AS BIGINT)").alias("demand_units"),
        "n_lines",
        half_up(eoq, 4).alias("eoq_units"),
        half_up(d_units / 365.0 * 7.0, 4).alias("reorder_point_units"),
    ).orderBy("brand")


# --- open-order backlog aging ------------------------------------------------------------------
# Open/partial orders aged against the fixed reference date 2002-01-01
# (strictly AFTER the calendar's last order, 2001-08-01, so every age
# is positive and every bucket is reachable — a mid-calendar reference
# would silently bin future-dated orders as freshest) into fixed day
# buckets, by priority — integer date arithmetic, decimal value sums;
# the ops report a fulfillment team reads every morning.
_BACKLOG_SQL = """
    WITH b AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS age_days,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders WHERE o_orderstatus IN ('O', 'P')),
    k AS (
      SELECT priority,
             CASE WHEN age_days <= 365 THEN 'a_0_1y'
                  WHEN age_days <= 730 THEN 'b_1_2y'
                  WHEN age_days <= 1460 THEN 'c_2_4y'
                  ELSE 'd_4y_plus' END AS bucket,
             v
      FROM b)
    SELECT priority, bucket, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(v) AS DOUBLE), 2) AS backlog_value
    FROM k GROUP BY priority, bucket ORDER BY priority, bucket
"""


@pq("orders_backlog_aging", _BACKLOG_SQL)
def orders_backlog_aging(spark, sf_dir):
    """Open-order backlog aging: orders still open or partially
    fulfilled (status O/P), aged against the fixed 2002-01-01
    reference date (past the calendar's last order, so ages are always
    positive and every bucket is reachable) into fixed year buckets
    per priority, with exact decimal value totals — the
    fulfillment-ops report. Plan: a
    status-filter that pushes to the scan, one (priority, bucket)
    agg — 20 output cells."""
    o = _t(spark, sf_dir, "orders")
    b = o.filter(F.col("o_orderstatus").isin("O", "P")).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date(F.lit("2002-01-01")), F.to_date("o_orderdate")).alias("age_days"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    k = b.select(
        "priority",
        F.when(F.col("age_days") <= 365, "a_0_1y")
        .when(F.col("age_days") <= 730, "b_1_2y")
        .when(F.col("age_days") <= 1460, "c_2_4y")
        .otherwise("d_4y_plus")
        .alias("bucket"),
        "v",
    )
    return (
        k.groupBy("priority", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("v").cast("double"), 2).alias("backlog_value"),
        )
        .orderBy("priority", "bucket")
    )


# --- bitmap presence rollup --------------------------------------------------------------------
# Each user's activity month as ONE 31-bit mask (bit i set ⟺ active on
# day i+1) built with bit_or over shifted BIGINT ones — the bitmap-
# index technique that turns presence/retention set algebra into
# bitwise ops at scale — then rolled up to users-per-active-day-count
# with an exact mask checksum.
_BITMAP_SQL = """
    WITH m AS (
      SELECT user_id,
             bit_or(1::BIGINT << (CAST(strftime(ts, '%d') AS INT) - 1)) AS mask
      FROM events GROUP BY user_id),
    k AS (
      SELECT user_id, mask, CAST(bit_count(mask) AS BIGINT) AS n_days FROM m)
    SELECT n_days, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(mask) AS BIGINT) AS mask_checksum
    FROM k GROUP BY n_days ORDER BY n_days
"""


@pq("bitmap_presence_rollup", _BITMAP_SQL)
def bitmap_presence_rollup(spark, sf_dir):
    """Bitmap presence index: each user's month of activity packed
    into one 31-bit mask (bit_or of shifted ones), rolled up to a
    users-per-active-day-count histogram with an exact summed-mask
    checksum — the bitmap-index representation that makes
    presence/retention set algebra (AND/OR/XOR of user populations)
    bitwise-cheap at warehouse scale. Plan: one user-keyed bit_or agg
    (map-side combinable), one 31-row rollup."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(date_format(ts, 'dd') AS INT) - 1))")
        .alias("mask")
    )
    k = m.select("user_id", "mask", F.bit_count("mask").cast("bigint").alias("n_days"))
    return (
        k.groupBy("n_days")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("mask").cast("bigint").alias("mask_checksum"),
        )
        .orderBy("n_days")
    )
