"""Round-20 staged tier (the final pre-stage): exact integer numerics
and schedulers — Newton integer square root with the r² ≤ n < (r+1)²
certificate, the Euclidean continued-fraction expansion of a revenue
ratio, nginx-style smooth weighted round-robin replayed step by step,
an EWMA control chart under the pre-pinned-recursion discipline,
the Josephus survivor recurrence, and Tukey-fences outlier counts on
exact discrete quartiles — authored in round 14 so every remaining
round has a ready tier. DELIBERATELY 6 entries.

Module-local PENDING20_QUERIES/PENDING20_ORACLE, swept by
sweep_oracle.py alongside the registry and the 15-19 tiers.

Parity rules as in round9..19 (FIXTURES.md §C). One cross-engine rule
this tier leans on twice (learned at round-19 staging): DuckDB's `//`
TRUNCATES toward zero while Python's floors — all quantities divided
here are non-negative by construction, so the two agree.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t

PENDING20_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
PENDING20_ORACLE: dict[str, str] = {}


def pq(name: str, sql: str | None = None):
    def deco(fn):
        PENDING20_QUERIES[name] = fn
        if sql is not None:
            PENDING20_ORACLE[name] = sql
        return fn

    return deco


# =====================================================================
# Block A — Newton integer square root (exact floor-sqrt certificate)
# =====================================================================

# isqrt of the total revenue cents via the integer Newton iteration
# x' = (x + n // x) // 2 from the power-of-two seed 2^ceil(bits/2)
# (bit length from bin(), no floats anywhere); converges in ≤ 35
# steps for n < 2^63, detected by x' >= x. The certificate columns
# r² ≤ n < (r+1)² make the exactness self-evident.
_ISQRT_SQL = """
    WITH RECURSIVE n AS (
      SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS n
      FROM orders),
    seed AS (
      SELECT n, CAST(power(2.0, (length(bin(n)) + 1) // 2) AS BIGINT) AS x0 FROM n),
    it AS (
      SELECT 0 AS i, x0 AS x, n FROM seed
      UNION ALL
      SELECT i + 1, (x + n // x) // 2, n
      FROM it WHERE (x + n // x) // 2 < x),
    fin AS (SELECT n, x AS r, i FROM it ORDER BY i DESC LIMIT 1)
    SELECT n, r, CAST(i AS BIGINT) AS n_iterations,
           r * r <= n AND n < (r + 1) * (r + 1) AS certified
    FROM fin
"""


@pq("isqrt_newton_exact", _ISQRT_SQL)
def isqrt_newton_exact(spark, sf_dir):
    """Exact integer square root of total revenue cents by Newton's
    method in pure BIGINTs (power-of-two seed from the bit length,
    monotone-descent termination), with the r² ≤ n < (r+1)²
    certificate in the output. One corpus pass, one bounded scalar
    recursion."""
    o = _t(spark, sf_dir, "orders")
    n = int(
        o.agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
              .cast("bigint").alias("n")).collect()[0]["n"]
    )  # bounded: one scalar seeds the driver-side replay of the recursion
    x = 2 ** ((n.bit_length() + 1) // 2)
    i = 0
    while (x + n // x) // 2 < x:
        x = (x + n // x) // 2
        i += 1
    return spark.createDataFrame(
        [(n, x, i, x * x <= n < (x + 1) * (x + 1))],
        "n long, r long, n_iterations long, certified boolean",
    )


# =====================================================================
# Block B — Euclidean continued fraction of a revenue ratio
# =====================================================================

# The continued-fraction expansion of click/view total cents IS the
# Euclidean algorithm's quotient sequence — exact integers, bounded
# by O(log) steps (Fibonacci worst case), and the final remainder is
# gcd. Convergents are replayed alongside (p, q recurrences) with the
# |ratio − p/q| < 1/q² certificate on the last convergent.
_CF_SQL = """
    WITH RECURSIVE t AS (
      SELECT CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN event_type = 'view'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
      FROM events),
    cf AS (
      SELECT 0 AS k, a, b, CAST(NULL AS BIGINT) AS q,
             CAST(1 AS BIGINT) AS p_prev, CAST(0 AS BIGINT) AS p_cur,
             CAST(0 AS BIGINT) AS q_prev, CAST(1 AS BIGINT) AS q_cur
      FROM t
      UNION ALL
      SELECT k + 1, b, a % b, a // b,
             p_cur, (a // b) * p_cur + p_prev,
             q_cur, (a // b) * q_cur + q_prev
      FROM cf WHERE b > 0 AND k < 40)
    SELECT CAST(k AS BIGINT) AS k, q AS quotient,
           p_cur AS conv_p, q_cur AS conv_q
    FROM cf WHERE k >= 1 ORDER BY k
"""


@pq("euclid_continued_fraction", _CF_SQL)
def euclid_continued_fraction(spark, sf_dir):
    """Continued-fraction expansion of the click/view revenue ratio:
    Euclid's quotient sequence with the convergent recurrences riding
    along — one corpus pass, one O(log) scalar recursion, pure
    BIGINT."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    row = e.agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
        .cast("bigint").alias("b"),
    ).collect()[0]  # bounded: two scalars seed the replay
    a, b = int(row["a"]), int(row["b"])
    p_prev, p_cur, q_prev, q_cur = 1, 0, 0, 1
    out = []
    k = 0
    while b > 0 and k < 40:
        q = a // b
        a, b = b, a % b
        p_prev, p_cur = p_cur, q * p_cur + p_prev
        q_prev, q_cur = q_cur, q * q_cur + q_prev
        k += 1
        out.append((k, q, p_cur, q_cur))
    return spark.createDataFrame(
        out, "k long, quotient long, conv_p long, conv_q long"
    ).orderBy("k")


# =====================================================================
# Block C — smooth weighted round-robin scheduler replay
# =====================================================================

# The nginx SWRR discipline over the 5 event types weighted by their
# corpus row counts: each tick every server's current weight grows by
# its weight, the max (ties to the smaller name) is selected and
# docked by the weight total. Replayed for 200 ticks; selection
# counts must track the weights exactly (SWRR's bounded-deviation
# property, pinned). Pure integers.
_SWRR_SQL = """
    WITH RECURSIVE w AS (
      SELECT event_type AS et, CAST(count(*) AS BIGINT) AS wt
      FROM events GROUP BY 1),
    arrs AS (
      SELECT list(et ORDER BY et) AS ets, list(wt ORDER BY et) AS wts,
             CAST(sum(wt) AS BIGINT) AS tot
      FROM w),
    rec AS (
      SELECT 0 AS t, list_transform(wts, x -> CAST(0 AS BIGINT)) AS cur,
             list_transform(wts, x -> CAST(0 AS BIGINT)) AS picks
      FROM arrs
      UNION ALL
      SELECT t + 1,
             list_transform(generate_series(1, len(grown)), i ->
               CASE WHEN i = sel THEN grown[i] - a.tot ELSE grown[i] END),
             list_transform(generate_series(1, len(r.picks)), i ->
               r.picks[i] + CASE WHEN i = sel THEN 1 ELSE 0 END)
      FROM (
        SELECT r0.t, r0.picks, g.grown,
               CAST(list_position(g.grown, list_max(g.grown)) AS INT) AS sel
        FROM (SELECT * FROM rec) r0, arrs a0,
             LATERAL (SELECT list_transform(generate_series(1, len(r0.cur)), i ->
                        r0.cur[i] + a0.wts[i]) AS grown) g) r,
        arrs a
      WHERE r.t < 200)
    SELECT a.ets[i] AS et, a.wts[i] AS weight, r.picks[i] AS n_picked
    FROM (SELECT * FROM rec ORDER BY t DESC LIMIT 1) r, arrs a,
         unnest(generate_series(1, CAST(len(a.wts) AS INT))) AS g(i)
    ORDER BY et
"""


@pq("swrr_scheduler_replay", _SWRR_SQL)
def swrr_scheduler_replay(spark, sf_dir):
    """Smooth weighted round-robin over the event types (weights =
    corpus counts), replayed 200 ticks: ties go to the FIRST position
    (list_position of the max / python index of max — same rule). One
    corpus pass for weights, one bounded scalar recursion."""
    e = _t(spark, sf_dir, "events")
    w = sorted(
        (r["et"], int(r["wt"]))
        for r in e.groupBy(F.col("event_type").alias("et"))
        .agg(F.count("*").cast("bigint").alias("wt")).collect()
    )  # bounded: the type dimension
    ets = [x[0] for x in w]
    wts = [x[1] for x in w]
    tot = sum(wts)
    cur = [0] * len(wts)
    picks = [0] * len(wts)
    for _ in range(200):
        grown = [c + wt for c, wt in zip(cur, wts)]
        sel = grown.index(max(grown))
        cur = [g - tot if i == sel else g for i, g in enumerate(grown)]
        picks[sel] += 1
    return spark.createDataFrame(
        list(zip(ets, wts, picks)), "et string, weight long, n_picked long"
    ).orderBy("et")


# =====================================================================
# Block D — EWMA control chart (pre-pinned recursion, offline L)
# =====================================================================

# EWMA z_t = z_{t-1} + λ(x_t − z_{t-1}) over daily revenue in
# 100-dollar units, λ = 0.2, each step 6dp-pre-pinned (the Holt
# discipline). Control limits use the asymptotic sigma_z =
# sigma·sqrt(λ/(2−λ)) with sigma from exact integer moments and
# L = 2.7 as the offline literal; out-of-control days are flagged.
_EWMA_SQL = """
    WITH RECURSIVE daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 10000
                  AS BIGINT) AS c
      FROM orders GROUP BY 1),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS q
      FROM ser),
    base AS (
      SELECT n, CAST(s AS DOUBLE) / n AS mu,
             sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
                  * (0.2 / 1.8)) AS sig_z
      FROM mom),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i, mu AS z FROM base
      UNION ALL
      SELECT r.i + 1,
             floor((r.z + 0.2 * (s.c - r.z)) * 1000000 + 0.5) / 1000000
      FROM rec r JOIN ser s ON s.i = r.i + 1)
    SELECT s.d, floor(r.z * 100 + 0.5) / 100 AS ewma_hundreds,
           abs(r.z - b.mu) > 2.7 * b.sig_z AS out_of_control
    FROM rec r JOIN ser s ON s.i = r.i CROSS JOIN base b
    WHERE r.i >= 1
    ORDER BY s.d
"""


@pq("ewma_control_chart", _EWMA_SQL)
def ewma_control_chart(spark, sf_dir):
    """EWMA control chart over daily revenue: the smoothing recursion
    is one Arrow pass with 6dp pre-pins per step; limits use exact
    integer moments and the offline L = 2.7 literal."""
    import math

    import pandas as pd

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.expr(
            "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) div 10000"
            " AS BIGINT)").alias("c"))
    )

    def chart(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        c = pdf["c"].tolist()
        n = len(c)
        s, q = sum(c), sum(v * v for v in c)
        mu = s / n
        sig_z = math.sqrt((q - s * s / n) / (n - 1) * (0.2 / 1.8))
        z = mu
        out = []
        for d, x in zip(pdf["d"], c):
            z = math.floor((z + 0.2 * (x - z)) * 1000000 + 0.5) / 1000000
            out.append((d, math.floor(z * 100 + 0.5) / 100, abs(z - mu) > 2.7 * sig_z))
        return pd.DataFrame(out, columns=["d", "ewma_hundreds", "out_of_control"])

    return daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        chart, schema="d string, ewma_hundreds double, out_of_control boolean"
    ).orderBy("d")


# =====================================================================
# Block E — Josephus survivor (the J(n, k) recurrence)
# =====================================================================

# n = the distinct user count, k = 7; J(1) = 0, J(m) = (J(m−1) + k)
# mod m — the classic O(n) recurrence, replayed exactly. The survivor
# index maps back to the n-th smallest user id. Pure integers.
_JOSEPHUS_SQL = """
    WITH RECURSIVE u AS (
      SELECT user_id, row_number() OVER (ORDER BY user_id) AS i
      FROM (SELECT DISTINCT user_id FROM events)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
    rec AS (
      SELECT CAST(1 AS BIGINT) AS m, CAST(0 AS BIGINT) AS j FROM n
      UNION ALL
      SELECT m + 1, (j + 7) % (m + 1) FROM rec, n WHERE m < n.n)
    SELECT n.n AS n_users, r.j AS survivor_idx0, u.user_id AS survivor_uid
    FROM rec r JOIN n ON r.m = n.n
    JOIN u ON u.i = r.j + 1
"""


@pq("josephus_survivor", _JOSEPHUS_SQL)
def josephus_survivor(spark, sf_dir):
    """Josephus survivor with k = 7 over the user circle (ordered by
    id): the O(n) recurrence J(m) = (J(m−1) + 7) mod m replayed on
    both engines; output joins the index back to the surviving id."""
    e = _t(spark, sf_dir, "events")
    u = e.select("user_id").distinct().orderBy("user_id")
    ids = [r["user_id"] for r in u.collect()]  # bounded: the user dimension
    j = 0
    for m in range(2, len(ids) + 1):
        j = (j + 7) % m
    return spark.createDataFrame(
        [(len(ids), j, ids[j])], "n_users long, survivor_idx0 long, survivor_uid long"
    )


# =====================================================================
# Block F — Tukey fences outliers on exact discrete quartiles
# =====================================================================

# Q1/Q3 = the exact lower-median order statistics (quantile_disc
# semantics replayed via row_number against ceil(0.25·n) / ceil(0.75·n)
# — identical integer rank picks on both engines), fences at
# Q1 − 3(Q3−Q1)/2 and Q3 + 3(Q3−Q1)/2 in exact HALF-cents (×2 so the
# 1.5 multiplier stays integer). Counts per event type.
_FENCES_SQL = """
    WITH x AS (
      SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    ranked AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM x),
    qs AS (
      SELECT g,
             CAST(max(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT) THEN v END)
                  AS BIGINT) AS q1,
             CAST(max(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT) THEN v END)
                  AS BIGINT) AS q3,
             CAST(max(n) AS BIGINT) AS n
      FROM ranked GROUP BY g)
    SELECT x.g, q.n, q.q1, q.q3,
           CAST(sum(CASE WHEN 2 * x.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * x.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM x JOIN qs q ON q.g = x.g
    GROUP BY x.g, q.n, q.q1, q.q3
    ORDER BY x.g
"""


@pq("tukey_fences_outliers", _FENCES_SQL)
def tukey_fences_outliers(spark, sf_dir):
    """Tukey 1.5·IQR fences per event type with EXACT arithmetic: the
    quartiles are discrete order statistics at identical integer
    ranks, and the fence comparison runs in half-cents so the 1.5
    multiplier never touches a float."""
    e = _t(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    wg = Window.partitionBy("g")
    ranked = x.select(
        "g", "v",
        F.row_number().over(wg.orderBy("v")).alias("r"),
        F.count("*").over(wg).alias("n"),
    )
    qs = ranked.groupBy("g").agg(
        F.max(F.when(F.col("r") == F.ceil(0.25 * F.col("n")).cast("bigint"), F.col("v")))
        .cast("bigint").alias("q1"),
        F.max(F.when(F.col("r") == F.ceil(0.75 * F.col("n")).cast("bigint"), F.col("v")))
        .cast("bigint").alias("q3"),
        F.max("n").cast("bigint").alias("n"),
    )
    return (
        x.join(qs, "g")
        .groupBy("g", "n", "q1", "q3")
        .agg(
            F.sum(F.when(2 * F.col("v") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")),
                         1).otherwise(0)).cast("bigint").alias("n_low"),
            F.sum(F.when(2 * F.col("v") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")),
                         1).otherwise(0)).cast("bigint").alias("n_high"),
        )
        .orderBy("g")
    )
