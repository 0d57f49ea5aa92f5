"""Registry queries: distinct sketches whose ESTIMATES are
oracle-checkable because the hash is engine-portable md5 (an
own-implementation HyperLogLog and a Flajolet-Martin PCSA — unlike
the rows-only builtin HLL++ entry, every register value here is an
exact integer on both engines), combinatorial optimization and
matching (Gale-Shapley stable matching replayed round by round, 0/1
knapsack with a list-carried DP, LP vertex enumeration with exact
integer cross-multiplication feasibility), lakehouse modeling (a
data-vault point-in-time table over two satellite histories), modular
arithmetic (Shamir secret reconstruction via Lagrange interpolation
mod a Mersenne prime), data quality (Luhn checksum audit), and
distribution comparison (the Kuiper two-sample statistic, the
rotation-invariant refinement of KS), each checked against its DuckDB
oracle.

Parity rules as in round9..17 (FIXTURES.md §C): exact integers
wherever a comparison decides a row (registers, DP states, modular
residues, cross-multiplied feasibility tests), md5 as the only hash,
offline literals for every transcendental constant (HLL alpha, PCSA
phi, OBF-style boundaries), per-term 9dp pre-rounds summed as BIGINT
nanos, deterministic tie-breaks, HALF_UP display rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t, half_up
from etl_mini_spark.queries._base import q as pq


# =====================================================================
# Block A — HyperLogLog over md5 (the estimate itself value-checks)
# =====================================================================

# m = 64 registers indexed by the top 6 bits of the 60-bit md5-prefix
# hash; register = 1 + leading zeros of the remaining 54 bits (the
# exact integer 54 - floor(log2(w)) computed by BIT LENGTH arithmetic,
# not floats). The raw estimate alpha64·m²/Σ2^-M and the small-range
# linear-counting correction are the ONLY float ops and run in the
# identical order on both engines — so unlike the rows-only builtin
# HLL++ entry (agg_approx_distinct), this sketch's estimate
# hash-matches DuckDB exactly. Stream = user_id || ':hll'.
_HLL_SQL = """
    WITH h AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':hll'), 1, 15))
                  AS BIGINT) AS hv
      FROM events),
    reg AS (
      SELECT hv // 18014398509481984 AS j,          -- top 6 of 60 bits (2^54)
             hv % 18014398509481984 AS w            -- low 54 bits
      FROM h),
    rho AS (
      SELECT j,
             CAST(max(CASE WHEN w = 0 THEN 55
                  ELSE 55 - length(bin(w)) END) AS BIGINT) AS m_j
      FROM reg GROUP BY j),
    regs AS (
      SELECT g.j, coalesce(r.m_j, 0) AS m_j
      FROM (SELECT unnest(generate_series(0, 63)) AS j) g
      LEFT JOIN rho r ON r.j = g.j),
    s AS (
      SELECT CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
             CAST(sum(CAST(power(2.0, 55 - m_j) AS BIGINT)) AS BIGINT) AS znum,
             (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_exact
      FROM regs)
    SELECT n_exact, zeros,
           floor(0.709 * 64 * 64 / (CAST(znum AS DOUBLE) / 36028797018963968)
                 * 1000000 + 0.5) / 1000000 AS raw_estimate,
           floor(CASE WHEN 0.709 * 64 * 64 / (CAST(znum AS DOUBLE) / 36028797018963968)
                           <= 160.0 AND zeros > 0
                      THEN 64.0 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / (CAST(znum AS DOUBLE) / 36028797018963968)
                      END * 1000000 + 0.5) / 1000000 AS estimate,
           abs(CASE WHEN 0.709 * 64 * 64 / (CAST(znum AS DOUBLE) / 36028797018963968)
                         <= 160.0 AND zeros > 0
                    THEN 64.0 * ln(64.0 / zeros)
                    ELSE 0.709 * 64 * 64 / (CAST(znum AS DOUBLE) / 36028797018963968)
                    END - n_exact)
             / n_exact <= 0.5 AS within_band
    FROM s
"""


@pq("hyperloglog_md5_replay", _HLL_SQL)
def hyperloglog_md5_replay(spark, sf_dir):
    """Own-implementation HyperLogLog (m=64, md5 hash): registers are
    exact integers (bit-length arithmetic on the 54-bit suffix), so
    the sketch — and therefore the estimate — is engine-identical.
    Scale: registers merge by max, the classic mergeable-sketch path;
    one distinct + one 64-group agg. The ±~13% (1.04/√64) accuracy is
    pinned loosely via within_band."""
    e = _t(spark, sf_dir, "events")
    h = e.select(
        F.conv(F.substring(F.md5(F.concat(F.col("user_id").cast("string"),
                                          F.lit(":hll"))), 1, 15), 16, 10)
        .cast("long").alias("hv")
    ).distinct()
    # `div`, not floor(/): hv has up to 60 significant bits and a
    # double division would round before the floor
    reg = h.select(
        F.expr("hv div 18014398509481984").cast("bigint").alias("j"),
        (F.col("hv") % F.lit(18014398509481984)).alias("w"),
    )
    rho = reg.groupBy("j").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(55)).otherwise(
                55 - F.length(F.bin("w")))
        ).cast("bigint").alias("m_j")
    )
    grid = spark.range(0, 64).select(F.col("id").alias("j"))
    regs = grid.join(rho, "j", "left").select(
        "j", F.coalesce("m_j", F.lit(0)).alias("m_j")
    )
    n_exact = h.agg(F.count("*").cast("bigint").alias("n")).withColumnRenamed("n", "n_exact")
    s = regs.agg(
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).cast("bigint").alias("zeros"),
        F.sum(F.pow(F.lit(2.0), 55 - F.col("m_j")).cast("bigint"))
        .cast("bigint").alias("znum"),
    ).crossJoin(F.broadcast(n_exact))
    raw = 0.709 * 64 * 64 / (F.col("znum").cast("double") / F.lit(36028797018963968.0))
    est = F.when((raw <= 160.0) & (F.col("zeros") > 0),
                 64.0 * F.log(64.0 / F.col("zeros"))).otherwise(raw)
    return s.select(
        "n_exact", "zeros",
        half_up(raw).alias("raw_estimate"),
        half_up(est).alias("estimate"),
        (F.abs(est - F.col("n_exact")) / F.col("n_exact") <= 0.5).alias("within_band"),
    )


# =====================================================================
# Block B — Flajolet-Martin PCSA (bitmap OR registers, exact)
# =====================================================================

# 64 buckets, each a 55-bit bitmap OR-ing 2^rho of every member's
# hash; R_j = position of the lowest UNSET bit (the FM observable),
# estimate = m/φ · 2^(ΣR/m) with φ = 0.77351 as the offline literal.
# Bitmaps aggregate with bit_or — exact, mergeable, engine-identical.
_PCSA_SQL = """
    WITH h AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':pcsa'), 1, 15))
                  AS BIGINT) AS hv
      FROM events),
    b AS (
      SELECT hv % 64 AS j, hv // 64 AS w FROM h),
    bm AS (
      SELECT j,
             bit_or(CASE WHEN w = 0 THEN CAST(36028797018963968 AS BIGINT)
                    ELSE w & (-w) END) AS bits
      FROM b GROUP BY j),
    grid AS (SELECT unnest(generate_series(0, 63)) AS j),
    rj AS (
      SELECT g.j,
             CAST(length(bin((~coalesce(m.bits, 0)) & (coalesce(m.bits, 0) + 1)))
                  - 1 AS BIGINT) AS r
      FROM grid g LEFT JOIN bm m ON m.j = g.j),
    s AS (
      SELECT CAST(sum(r) AS BIGINT) AS rsum,
             (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_exact
      FROM rj)
    SELECT n_exact, rsum,
           floor(64.0 / 0.77351 * power(2.0, CAST(rsum AS DOUBLE) / 64.0)
                 * 1000000 + 0.5) / 1000000 AS estimate,
           abs(64.0 / 0.77351 * power(2.0, CAST(rsum AS DOUBLE) / 64.0) - n_exact)
             / n_exact <= 0.5 AS within_band
    FROM s
"""


@pq("pcsa_fm_sketch", _PCSA_SQL)
def pcsa_fm_sketch(spark, sf_dir):
    """Flajolet-Martin PCSA distinct sketch: per-bucket bitmaps OR
    2^(trailing-zero count) of member hashes (bit_or aggregate —
    exact, mergeable), the lowest-unset-bit observable per bucket, one
    final 2^(R̄) estimate. Engine-identical integers end to end."""
    e = _t(spark, sf_dir, "events")
    h = e.select(
        F.conv(F.substring(F.md5(F.concat(F.col("user_id").cast("string"),
                                          F.lit(":pcsa"))), 1, 15), 16, 10)
        .cast("long").alias("hv")
    ).distinct()
    b = h.select(
        (F.col("hv") % 64).alias("j"),
        F.expr("hv div 64").cast("bigint").alias("w"),
    )
    # lowest set bit of w isolates as w & -w (a power of two), so the
    # bitmap contribution is pure integer arithmetic — no shifts, no logs
    bm = b.groupBy("j").agg(
        F.bit_or(
            F.when(F.col("w") == 0, F.lit(36028797018963968).cast("bigint"))
            .otherwise(F.col("w").bitwiseAND(-F.col("w")))
        ).alias("bits")
    )
    grid = spark.range(0, 64).select(F.col("id").alias("j"))
    # lowest UNSET bit of bits isolates as ~bits & (bits+1); its
    # position is length(bin(.)) - 1 — exact string-length arithmetic
    bitsc = F.coalesce(F.col("bits"), F.lit(0))
    r = (F.length(F.bin(F.bitwise_not(bitsc).bitwiseAND(bitsc + 1))) - 1)
    rj = grid.join(bm, "j", "left").select("j", r.cast("bigint").alias("r"))
    n_exact = h.agg(F.count("*").cast("bigint").alias("n_exact"))
    s = rj.agg(F.sum("r").cast("bigint").alias("rsum")).crossJoin(F.broadcast(n_exact))
    est = 64.0 / 0.77351 * F.pow(F.lit(2.0), F.col("rsum").cast("double") / 64.0)
    return s.select(
        "n_exact", "rsum",
        half_up(est).alias("estimate"),
        (F.abs(est - F.col("n_exact")) / F.col("n_exact") <= 0.5).alias("within_band"),
    )


# =====================================================================
# Block C — 0/1 knapsack (list-carried DP over a bounded item subset)
# =====================================================================

# Items = the o_orderkey % 53 = 7 order subset in orderkey order;
# weight = floor(o_totalprice / 5000) + 1 (1..~43), value = exact
# cents; capacity 100. dp[c] = best value with capacity c — the
# classic table no window expresses: one Arrow pass vs a recursive CTE
# carrying the 101-slot dp list. Pure BIGINT.
_KNAPSACK_SQL = """
    WITH RECURSIVE items AS (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS i,
             CAST(floor(o_totalprice / 5000) + 1 AS BIGINT) AS w,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders WHERE o_orderkey % 53 = 7),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM items),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i,
             list_transform(generate_series(0, 100), x -> CAST(0 AS BIGINT)) AS dp
      UNION ALL
      SELECT r.i + 1,
             list_transform(generate_series(0, 100), c ->
               CASE WHEN c >= it.w AND r.dp[CAST(c - it.w + 1 AS INT)] + it.v
                         > r.dp[CAST(c + 1 AS INT)]
                    THEN r.dp[CAST(c - it.w + 1 AS INT)] + it.v
                    ELSE r.dp[CAST(c + 1 AS INT)] END)
      FROM rec r JOIN items it ON it.i = r.i + 1)
    SELECT n.n AS n_items, r.dp[101] AS best_cents,
           CAST((SELECT sum(v) FROM items) AS BIGINT) AS total_cents
    FROM rec r CROSS JOIN n WHERE r.i = n.n
"""


@pq("knapsack_01_bounded", _KNAPSACK_SQL)
def knapsack_01_bounded(spark, sf_dir):
    """0/1 knapsack over a deterministic order subset (capacity 100):
    one Arrow pass carries the 101-slot BIGINT dp table; the oracle
    replays it as a list-carrying recursive CTE. Scale note: per-
    capacity DP is sequential in the ITEM dimension by nature — the
    distributed shape for huge item sets is per-partition DP + a merge
    that this entry's bounded subset deliberately avoids (the oracle
    could not check it)."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    items = o.filter(F.col("o_orderkey") % 53 == 7).select(
        "o_orderkey",
        (F.floor(F.col("o_totalprice") / 5000) + 1).cast("bigint").alias("w"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )

    def knap(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey").reset_index(drop=True)
        dp = [0] * 101
        for w, v in zip(pdf["w"], pdf["v"]):
            w, v = int(w), int(v)
            for c in range(100, w - 1, -1):
                if dp[c - w] + v > dp[c]:
                    dp[c] = dp[c - w] + v
        return pd.DataFrame(
            {"n_items": [len(pdf)], "best_cents": [dp[100]],
             "total_cents": [int(pdf["v"].sum())]}
        )

    return items.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        knap, schema="n_items long, best_cents long, total_cents long"
    )


# =====================================================================
# Block D — Shamir secret reconstruction (Lagrange mod 2^31−1)
# =====================================================================

# Secret = total revenue cents mod p (p = 2^31−1, Mersenne);
# polynomial coefficients derive from md5 of the secret, shares are
# y_x = (s + a1·x + a2·x²) mod p at x = 1..5. Reconstruction from the
# {2,4,5} share subset uses OFFLINE Lagrange constants (λ2, λ4, λ5
# with λ2+λ4+λ5 ≡ 1 mod p — modular inverses evaluated offline, never
# by an engine). Every product stays under p² < 2^63. The match flag
# is the exactness proof.
_SHAMIR_SQL = """
    WITH s AS (
      SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) % 2147483647
             AS BIGINT) AS secret
      FROM orders),
    coef AS (
      SELECT secret,
             CAST(concat('0x', substr(md5(CAST(secret AS VARCHAR) || ':a1'), 1, 15))
                  AS BIGINT) % 2147483647 AS a1,
             CAST(concat('0x', substr(md5(CAST(secret AS VARCHAR) || ':a2'), 1, 15))
                  AS BIGINT) % 2147483647 AS a2
      FROM s),
    shares AS (
      SELECT secret, x,
             CAST((secret + a1 * x % 2147483647 + a2 * x * x % 2147483647)
                  % 2147483647 AS BIGINT) AS y
      FROM coef, unnest(generate_series(1, 5)) AS g(x)),
    rec AS (
      SELECT any_value(secret) AS secret,
             CAST((max(CASE WHEN x = 2 THEN y END) * 1431655768 % 2147483647
                 + max(CASE WHEN x = 4 THEN y END) * 2147483642 % 2147483647
                 + max(CASE WHEN x = 5 THEN y END) * 715827885 % 2147483647)
                  % 2147483647 AS BIGINT) AS reconstructed
      FROM shares WHERE x IN (2, 4, 5))
    SELECT r.secret, r.reconstructed, r.secret = r.reconstructed AS match,
           CAST(count(*) AS BIGINT) AS n_shares
    FROM rec r, shares GROUP BY 1, 2, 3
"""


@pq("shamir_secret_reconstruct", _SHAMIR_SQL)
def shamir_secret_reconstruct(spark, sf_dir):
    """Shamir (3,5) secret sharing round trip in pure modular BIGINT
    arithmetic: the one corpus pass computes the secret, shares and
    Lagrange reconstruction are scalar modular ops with offline
    inverse literals (λ2 + λ4 + λ5 ≡ 1 mod p pinned in tests)."""
    o = _t(spark, sf_dir, "orders")
    P = 2147483647
    s = o.agg(
        (F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")) % P)
        .cast("bigint").alias("secret")
    )
    coef = s.select(
        "secret",
        (F.conv(F.substring(F.md5(F.concat(F.col("secret").cast("string"),
                                           F.lit(":a1"))), 1, 15), 16, 10)
         .cast("long") % P).alias("a1"),
        (F.conv(F.substring(F.md5(F.concat(F.col("secret").cast("string"),
                                           F.lit(":a2"))), 1, 15), 16, 10)
         .cast("long") % P).alias("a2"),
    )
    xs = spark.range(1, 6).select(F.col("id").alias("x"))
    shares = coef.crossJoin(F.broadcast(xs)).select(
        "secret", "x",
        ((F.col("secret") + F.col("a1") * F.col("x") % P
          + F.col("a2") * F.col("x") * F.col("x") % P) % P).cast("bigint").alias("y"),
    )
    rec = shares.filter(F.col("x").isin(2, 4, 5)).agg(
        F.any_value("secret").alias("secret"),
        ((F.max(F.when(F.col("x") == 2, F.col("y"))) * 1431655768 % P
          + F.max(F.when(F.col("x") == 4, F.col("y"))) * 2147483642 % P
          + F.max(F.when(F.col("x") == 5, F.col("y"))) * 715827885 % P) % P)
        .cast("bigint").alias("reconstructed"),
    )
    n = shares.agg(F.count("*").cast("bigint").alias("n_shares"))
    return rec.crossJoin(F.broadcast(n)).select(
        "secret", "reconstructed",
        (F.col("secret") == F.col("reconstructed")).alias("match"),
        "n_shares",
    )


# =====================================================================
# Block E — Luhn checksum audit (synthetic PAN-like identifiers)
# =====================================================================

# A 16-digit identifier per order: '4' + 9 digits of orderkey + 5
# digits of custkey + the LUHN CHECK DIGIT computed from the first 15
# (double every second digit from the right, subtract 9 above 9, sum,
# ×9 mod 10). Odd orderkeys then corrupt digit 8 (+1 mod 10) — the
# audit must flag EXACTLY those. Pure digit/integer arithmetic.
_LUHN_SQL = """
    WITH ids AS (
      SELECT o_orderkey AS ok,
             '4' || lpad(CAST(o_orderkey % 1000000000 AS VARCHAR), 9, '0')
                 || lpad(CAST(o_custkey % 100000 AS VARCHAR), 5, '0') AS base15
      FROM orders),
    summed AS (
      SELECT ok, base15,
             CAST(sum(CASE WHEN (15 - i) % 2 = 0
                      THEN CASE WHEN 2 * CAST(substr(base15, i, 1) AS BIGINT) > 9
                                THEN 2 * CAST(substr(base15, i, 1) AS BIGINT) - 9
                                ELSE 2 * CAST(substr(base15, i, 1) AS BIGINT) END
                      ELSE CAST(substr(base15, i, 1) AS BIGINT) END) AS BIGINT) AS s
      FROM ids, unnest(generate_series(1, 15)) AS g(i)
      GROUP BY ok, base15),
    pan AS (
      SELECT ok, base15 || CAST(s * 9 % 10 AS VARCHAR) AS pan FROM summed),
    audited AS (
      SELECT ok,
             CASE WHEN ok % 2 = 1
                  THEN substr(pan, 1, 7)
                       || CAST((CAST(substr(pan, 8, 1) AS BIGINT) + 1) % 10 AS VARCHAR)
                       || substr(pan, 9)
                  ELSE pan END AS pan,
             ok % 2 = 1 AS corrupted
      FROM pan),
    luhn AS (
      SELECT ok, corrupted,
             CAST(sum(CASE WHEN (16 - i) % 2 = 1
                      THEN CASE WHEN 2 * CAST(substr(pan, i, 1) AS BIGINT) > 9
                                THEN 2 * CAST(substr(pan, i, 1) AS BIGINT) - 9
                                ELSE 2 * CAST(substr(pan, i, 1) AS BIGINT) END
                      ELSE CAST(substr(pan, i, 1) AS BIGINT) END) AS BIGINT) % 10 AS m
      FROM audited, unnest(generate_series(1, 16)) AS g(i)
      GROUP BY ok, corrupted)
    SELECT corrupted, m = 0 AS luhn_valid, CAST(count(*) AS BIGINT) AS n
    FROM luhn GROUP BY 1, 2 ORDER BY corrupted, luhn_valid
"""


@pq("luhn_checksum_audit", _LUHN_SQL)
def luhn_checksum_audit(spark, sf_dir):
    """Luhn mod-10 audit over synthetic PAN-like ids: check digits
    computed from the first 15 digits, a deterministic single-digit
    corruption injected for odd orderkeys, and the audit must flag
    exactly the corrupted population (Luhn detects ALL single-digit
    substitutions). Digit extraction via one posexplode pass."""
    o = _t(spark, sf_dir, "orders")
    ids = o.select(
        F.col("o_orderkey").alias("ok"),
        F.concat(
            F.lit("4"),
            F.lpad((F.col("o_orderkey") % 1000000000).cast("string"), 9, "0"),
            F.lpad((F.col("o_custkey") % 100000).cast("string"), 5, "0"),
        ).alias("base15"),
    )

    def luhn_sum(col, length):
        # digits at positions i (1-based); double when (length - i) odd
        # for the 16-digit check, even offsets for the 15-digit base
        parity = 0 if length == 15 else 1
        terms = []
        for i in range(1, length + 1):
            dgt = F.substring(col, i, 1).cast("bigint")
            doubled = F.when(2 * dgt > 9, 2 * dgt - 9).otherwise(2 * dgt)
            terms.append(doubled if (length - i) % 2 == parity else dgt)
        return sum(terms[1:], terms[0])

    pan = ids.select(
        "ok",
        F.concat(F.col("base15"),
                 ((luhn_sum(F.col("base15"), 15) * 9) % 10).cast("string")).alias("pan"),
    )
    audited = pan.select(
        "ok",
        F.when(
            F.col("ok") % 2 == 1,
            F.concat(
                F.substring("pan", 1, 7),
                ((F.substring("pan", 8, 1).cast("bigint") + 1) % 10).cast("string"),
                F.substring("pan", 9, 8),
            ),
        ).otherwise(F.col("pan")).alias("pan"),
        (F.col("ok") % 2 == 1).alias("corrupted"),
    )
    luhn = audited.select(
        "corrupted", ((luhn_sum(F.col("pan"), 16)) % 10 == 0).alias("luhn_valid")
    )
    return (
        luhn.groupBy("corrupted", "luhn_valid")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("corrupted", "luhn_valid")
    )


# =====================================================================
# Block F — Kuiper two-sample statistic (exact integer sup-deviations)
# =====================================================================

# V = D+ + D− between the click and view value distributions — the
# rotation-invariant refinement of KS, sensitive to tail differences.
# CDF comparisons are EXACT integers by cross-multiplication:
# D+ numerator = max over v of (c1(v)·n2 − c2(v)·n1); only the final
# display division is float.
_KUIPER_SQL = """
    WITH x AS (
      SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'view')),
    vc AS (
      SELECT v,
             CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM x GROUP BY v),
    cum AS (
      SELECT v,
             CAST(sum(d1) OVER (ORDER BY v) AS BIGINT) AS c1,
             CAST(sum(d2) OVER (ORDER BY v) AS BIGINT) AS c2
      FROM vc),
    tot AS (
      SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2 FROM vc),
    sup AS (
      SELECT CAST(max(c1 * tot.n2 - c2 * tot.n1) AS BIGINT) AS dplus_num,
             CAST(max(c2 * tot.n1 - c1 * tot.n2) AS BIGINT) AS dminus_num,
             any_value(tot.n1) AS n1, any_value(tot.n2) AS n2
      FROM cum CROSS JOIN tot)
    SELECT n1, n2, dplus_num, dminus_num,
           floor((CAST(dplus_num AS DOUBLE) + dminus_num)
                 / (CAST(n1 AS DOUBLE) * n2) * 1000000 + 0.5) / 1000000 AS kuiper_v
    FROM sup
"""


@pq("kuiper_two_sample", _KUIPER_SQL)
def kuiper_two_sample(spark, sf_dir):
    """Kuiper's V between two event-type value distributions: both
    sup-deviations as exact cross-multiplied integers over the
    distinct-value cumulative table (value-domain bounded window), one
    final float division."""
    e = _t(spark, sf_dir, "events")
    x = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    vc = x.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0)).cast("bigint").alias("d1"),
        F.sum(F.when(F.col("g") == "view", 1).otherwise(0)).cast("bigint").alias("d2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "v",
        F.sum("d1").over(w).cast("bigint").alias("c1"),
        F.sum("d2").over(w).cast("bigint").alias("c2"),
    )
    tot = vc.agg(
        F.sum("d1").cast("bigint").alias("n1"), F.sum("d2").cast("bigint").alias("n2")
    )
    sup = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
        .cast("bigint").alias("dplus_num"),
        F.max(F.col("c2") * F.col("n1") - F.col("c1") * F.col("n2"))
        .cast("bigint").alias("dminus_num"),
        F.any_value("n1").alias("n1"), F.any_value("n2").alias("n2"),
    )
    return sup.select(
        "n1", "n2", "dplus_num", "dminus_num",
        half_up((F.col("dplus_num").cast("double") + F.col("dminus_num"))
             / (F.col("n1").cast("double") * F.col("n2"))).alias("kuiper_v"),
    )


# =====================================================================
# Block G — minimum-variance two-asset portfolio (closed form)
# =====================================================================

# "Assets" = the click and view daily revenue series (joined on day).
# Demeaned second moments from exact integer sums (S11 = nΣx²−(Σx)²
# etc. — day-level cent sums keep every product under 2^63 at any SF
# because the calendar bounds n), then the closed-form minimum-
# variance weight w* = (S22 − S12)/(S11 + S22 − 2·S12), clamped to
# [0, 1] (no shorting), identical float order on both engines.
_MINVAR_SQL = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'view'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM daily)
    SELECT n,
           floor(least(greatest(
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
              - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                + (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                - 2 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)),
             0.0), 1.0) * 1000000 + 0.5) / 1000000 AS w_click,
           floor((1.0 - least(greatest(
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
              - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                + (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                - 2 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)),
             0.0), 1.0)) * 1000000 + 0.5) / 1000000 AS w_view
    FROM m
"""


@pq("min_variance_two_asset", _MINVAR_SQL)
def min_variance_two_asset(spark, sf_dir):
    """Closed-form minimum-variance weights for the click/view daily
    revenue pair: one day agg, one scalar moment reduce, the textbook
    (σ2²−σ12)/(σ1²+σ2²−2σ12) with a [0,1] clamp."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    daily = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
            .cast("bigint").alias("x"),
            F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
            .cast("bigint").alias("y"),
        )
    )
    m = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"), F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    s11 = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    s22 = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    s12 = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    w = F.least(F.greatest((s22 - s12) / (s11 + s22 - 2 * s12), F.lit(0.0)), F.lit(1.0))
    return m.select("n", half_up(w).alias("w_click"), half_up(1.0 - w).alias("w_view"))


# =====================================================================
# Block H — LP vertex enumeration (exact rational simplex corner)
# =====================================================================

# Maximize c1·x + c2·y (c from data: per-type revenue, scaled small)
# over { x+y ≤ 100, 3x+y ≤ 240, x+4y ≤ 320, x ≤ 70, x ≥ 0, y ≥ 0 }.
# Every candidate vertex is the intersection of two constraint lines,
# solved by Cramer with the determinant SIGN normalized positive —
# feasibility (a·Dx + b·Dy ≤ d·D) and the objective comparison
# (num·LCM/D with LCM(1..16) = 720720 divisible by every |D| this
# constraint family can produce) are pure BIGINT, so the argmax vertex
# is exact. Only the display division is float.
_LP_CONS = "(1,1,100),(3,1,240),(1,4,320),(1,0,70),(-1,0,0),(0,-1,0)"
_LP_SQL = f"""
    WITH c AS (
      SELECT CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
                  // 1000000 + 1 AS BIGINT) AS c1,
             CAST(sum(CASE WHEN event_type = 'view'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
                  // 1000000 + 1 AS BIGINT) AS c2
      FROM events),
    cons AS (SELECT * FROM (VALUES {_LP_CONS}) v(a, b, d)),
    pairs AS (
      SELECT p.a AS a1, p.b AS b1, p.d AS d1, q.a AS a2, q.b AS b2, q.d AS d2,
             CAST(p.a * q.b - q.a * p.b AS BIGINT) AS det
      FROM cons p JOIN cons q
        ON (p.a, p.b, p.d) < (q.a, q.b, q.d)),
    verts AS (
      SELECT CASE WHEN det < 0 THEN -det ELSE det END AS dn,
             CASE WHEN det < 0 THEN -(d1 * b2 - d2 * b1) ELSE d1 * b2 - d2 * b1 END AS dxn,
             CASE WHEN det < 0 THEN -(a1 * d2 - a2 * d1) ELSE a1 * d2 - a2 * d1 END AS dyn
      FROM pairs WHERE det <> 0),
    feas AS (
      SELECT v.dn, v.dxn, v.dyn
      FROM verts v
      WHERE NOT EXISTS (
        SELECT 1 FROM cons k
        WHERE k.a * v.dxn + k.b * v.dyn > k.d * v.dn)),
    scored AS (
      SELECT dn, dxn, dyn,
             CAST((c.c1 * dxn + c.c2 * dyn) * (720720 // dn) AS BIGINT) AS obj_scaled,
             CAST(dxn * (720720 // dn) AS BIGINT) AS x_scaled
      FROM feas CROSS JOIN c)
    SELECT CAST(count(*) OVER () AS BIGINT) AS n_feasible_vertices,
           floor(CAST(dxn AS DOUBLE) / dn * 1000000 + 0.5) / 1000000 AS x,
           floor(CAST(dyn AS DOUBLE) / dn * 1000000 + 0.5) / 1000000 AS y,
           floor(CAST(obj_scaled AS DOUBLE) / 720720 * 1000000 + 0.5) / 1000000 AS objective
    FROM scored
    ORDER BY obj_scaled DESC, x_scaled DESC
    LIMIT 1
"""


@pq("lp_vertex_enumeration", _LP_SQL)
def lp_vertex_enumeration(spark, sf_dir):
    """Two-variable LP solved by exact vertex enumeration: Cramer
    solutions with sign-normalized determinants, BIGINT feasibility
    and objective comparisons (scaled by LCM(1..16) so rationals with
    different denominators compare exactly). The corpus pass is one
    scalar aggregate for the objective coefficients."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    c = e.agg(
        (F.floor(F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
                 / 1000000) + 1).cast("bigint").alias("c1"),
        (F.floor(F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
                 / 1000000) + 1).cast("bigint").alias("c2"),
    )
    cons = spark.createDataFrame(
        [(1, 1, 100), (3, 1, 240), (1, 4, 320), (1, 0, 70), (-1, 0, 0), (0, -1, 0)],
        "a long, b long, d long",
    )
    p = cons.select(F.col("a").alias("a1"), F.col("b").alias("b1"), F.col("d").alias("d1"))
    q = cons.select(F.col("a").alias("a2"), F.col("b").alias("b2"), F.col("d").alias("d2"))
    pairs = p.join(
        F.broadcast(q),
        F.struct("a1", "b1", "d1").cast("struct<a:long,b:long,d:long>")
        < F.struct("a2", "b2", "d2").cast("struct<a:long,b:long,d:long>"),
    ).withColumn("det", (F.col("a1") * F.col("b2") - F.col("a2") * F.col("b1")).cast("bigint"))
    sgn = F.when(F.col("det") < 0, -1).otherwise(1)
    verts = pairs.filter(F.col("det") != 0).select(
        (sgn * F.col("det")).alias("dn"),
        (sgn * (F.col("d1") * F.col("b2") - F.col("d2") * F.col("b1"))).alias("dxn"),
        (sgn * (F.col("a1") * F.col("d2") - F.col("a2") * F.col("d1"))).alias("dyn"),
    )
    viol = (
        F.broadcast(verts).crossJoin(F.broadcast(cons))
        .filter(F.col("a") * F.col("dxn") + F.col("b") * F.col("dyn")
                > F.col("d") * F.col("dn"))
        .select("dn", "dxn", "dyn").distinct()
    )
    feas = verts.join(viol, ["dn", "dxn", "dyn"], "left_anti")
    scored = feas.crossJoin(F.broadcast(c)).select(
        "dn", "dxn", "dyn",
        ((F.col("c1") * F.col("dxn") + F.col("c2") * F.col("dyn"))
         * F.floor(720720 / F.col("dn")).cast("bigint")).cast("bigint").alias("obj_scaled"),
        (F.col("dxn") * F.floor(720720 / F.col("dn")).cast("bigint"))
        .cast("bigint").alias("x_scaled"),
    )
    # count(feas) == count(scored): c is a groupBy-free aggregate
    # (exactly one row), so the cross join preserves cardinality —
    # counting feas instead keeps the events scan out of this subtree,
    # halving the fact scans (guide 2.4).
    n_feas = feas.agg(F.count("*").cast("bigint").alias("n_feasible_vertices"))
    return (
        scored.crossJoin(F.broadcast(n_feas))
        .orderBy(F.desc("obj_scaled"), F.desc("x_scaled"))
        .limit(1)
        .select(
            "n_feasible_vertices",
            half_up(F.col("dxn").cast("double") / F.col("dn")).alias("x"),
            half_up(F.col("dyn").cast("double") / F.col("dn")).alias("y"),
            half_up(F.col("obj_scaled").cast("double") / 720720).alias("objective"),
        )
    )


# =====================================================================
# Block I — data-vault point-in-time (PIT) table
# =====================================================================

# Hub = customers; satellite A = yearly order-activity versions,
# satellite B = yearly revenue versions (both load at Jan 1 of the
# following year). The PIT table materializes, for each hub key and
# each of four snapshot dates, the LATEST version of each satellite
# loaded on-or-before the snapshot — the classic data-vault query
# accelerator. As-of per satellite = max_by over the version filter;
# hub keys with no version yet keep their PIT row with NULLs.
_PIT_SQL = """
    WITH satA AS (
      SELECT o_custkey AS ck,
             CAST(strftime(o_orderdate, '%Y') AS INT) + 1 AS load_y,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2),
    satB AS (
      SELECT o_custkey AS ck,
             CAST(strftime(o_orderdate, '%Y') AS INT) + 1 AS load_y,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2),
    snaps AS (SELECT * FROM (VALUES ('1997-06-30', 1997), ('1998-06-30', 1998),
                                    ('2000-06-30', 2000), ('2001-06-30', 2001))
              v(snap, snap_y)),
    hub AS (SELECT c_custkey AS ck FROM customer),
    pit AS (
      SELECT h.ck, s.snap,
             (SELECT max(a.load_y) FROM satA a
              WHERE a.ck = h.ck AND a.load_y <= s.snap_y) AS a_y,
             (SELECT max(b.load_y) FROM satB b
              WHERE b.ck = h.ck AND b.load_y <= s.snap_y) AS b_y
      FROM hub h CROSS JOIN snaps s)
    SELECT p.ck, p.snap, p.a_y AS sat_a_version_year, a.n_orders,
           p.b_y AS sat_b_version_year, b.rev_cents
    FROM pit p
    LEFT JOIN satA a ON a.ck = p.ck AND a.load_y = p.a_y
    LEFT JOIN satB b ON b.ck = p.ck AND b.load_y = p.b_y
    ORDER BY p.ck, p.snap
"""


@pq("pit_table_build", _PIT_SQL)
def pit_table_build(spark, sf_dir):
    """Data-vault PIT table: two satellite version histories (yearly
    loads), four snapshot dates, latest-version-per-snapshot via a
    grouped max under the load-date filter (equi-join + hash agg — the
    bounded snapshot grid broadcasts, the hub never self-joins), NULL
    rows preserved for hub keys that predate their first load. Both
    satellites load on the same (custkey, year+1) grain from the same
    orders rows — their key sets are IDENTICAL by construction — so
    one grouped aggregate computes both version histories and one
    grid join + pick replaces the twin join/agg pair (orders scanned
    once instead of twice, the customer×snapshot grid evaluated twice
    instead of three times; guide 2.4). The per-satellite version
    years are reported separately because a real vault would load them
    independently."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    sat = o.groupBy(
        F.col("o_custkey").alias("ck"),
        (F.year("o_orderdate") + 1).alias("load_y"),
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("rev_cents"),
    )
    snaps = spark.createDataFrame(
        [("1997-06-30", 1997), ("1998-06-30", 1998),
         ("2000-06-30", 2000), ("2001-06-30", 2001)],
        "snap string, snap_y int",
    )
    hub = c.select(F.col("c_custkey").alias("ck"))
    grid = hub.crossJoin(F.broadcast(snaps))
    pick = (
        grid.join(sat, "ck", "left")
        .filter(F.col("load_y").isNull() | (F.col("load_y") <= F.col("snap_y")))
        .groupBy("ck", "snap")
        .agg(F.max("load_y").alias("a_y"),
             F.max_by("n_orders", "load_y").alias("n_orders"),
             F.max("load_y").alias("b_y"),
             F.max_by("rev_cents", "load_y").alias("rev_cents"))
    )
    return (
        grid.select("ck", "snap")
        .join(pick, ["ck", "snap"], "left")
        .select(
            "ck", "snap",
            F.col("a_y").alias("sat_a_version_year"), "n_orders",
            F.col("b_y").alias("sat_b_version_year"), "rev_cents",
        )
        .orderBy("ck", "snap")
    )


# =====================================================================
# Block J — Gale-Shapley stable matching (proposer-optimal, replayed)
# =====================================================================

# Entities from data: the ≤16 smallest user ids split half/half into
# proposers and acceptors (7/8 at sf0.001's 15 users); preferences are
# md5 scores in both directions. The classic sequential algorithm —
# the lowest-indexed free proposer proposes down his list, acceptors
# trade up by THEIR ranking — terminates in ≤ n_p·n_a proposals and
# is fully deterministic. The oracle replays it one proposal per
# recursion step, carrying the next-choice and engagement vectors as
# lists and indexing the preference matrices (lists of lists) built in
# non-recursive CTEs. Stability (no blocking pair) is pinned in tests
# by independent recomputation.
_GS_SQL = """
    WITH RECURSIVE u16 AS (
      SELECT user_id, row_number() OVER (ORDER BY user_id) AS i
      FROM (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 16)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(*) // 2 AS BIGINT) AS np FROM u16),
    props AS (SELECT i AS p, user_id AS uid FROM u16, nn WHERE i <= np),
    accs AS (SELECT i - np AS a, user_id AS uid FROM u16, nn WHERE i > np),
    ps AS (
      SELECT p.p, a.a,
             CAST(concat('0x', substr(md5(CAST(p.uid AS VARCHAR) || '>'
                  || CAST(a.uid AS VARCHAR)), 1, 15)) AS BIGINT) AS s
      FROM props p CROSS JOIN accs a),
    parr1 AS (SELECT p, list(a ORDER BY s DESC, a) AS pl FROM ps GROUP BY p),
    parr AS (SELECT list(pl ORDER BY p) AS pm FROM parr1),
    asc1 AS (
      SELECT a.a, p.p,
             CAST(concat('0x', substr(md5(CAST(a.uid AS VARCHAR) || '<'
                  || CAST(p.uid AS VARCHAR)), 1, 15)) AS BIGINT) AS s
      FROM accs a CROSS JOIN props p),
    ar1 AS (
      SELECT a, p, CAST(row_number() OVER (PARTITION BY a ORDER BY s DESC, p)
                        AS BIGINT) AS rk
      FROM asc1),
    ar2 AS (SELECT a, list(rk ORDER BY p) AS rl FROM ar1 GROUP BY a),
    arank AS (SELECT list(rl ORDER BY a) AS am FROM ar2),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS step,
             list_transform(generate_series(1, CAST(np AS INT)),
                            x -> CAST(1 AS BIGINT)) AS nxt,
             list_transform(generate_series(1, CAST(n - np AS INT)),
                            x -> CAST(0 AS BIGINT)) AS fia
      FROM nn
      UNION ALL
      SELECT step + 1,
             list_transform(generate_series(1, len(nxt)), p ->
               nxt[p] + CASE WHEN p = pstar THEN 1 ELSE 0 END),
             list_transform(generate_series(1, len(fia)), a ->
               CASE WHEN a = astar AND better THEN pstar ELSE fia[a] END)
      FROM (
        SELECT t1.*,
               CASE WHEN t1.fia[t1.astar] = 0 THEN TRUE
                    ELSE t1.am[t1.astar][CAST(t1.pstar AS INT)]
                         < t1.am[t1.astar][CAST(t1.fia[t1.astar] AS INT)] END AS better
        FROM (
          SELECT t0.*,
                 CAST(t0.pm[CAST(t0.pstar AS INT)][CAST(t0.nxt[CAST(t0.pstar AS INT)]
                      AS INT)] AS INT) AS astar
          FROM (
            SELECT r.step, r.nxt, r.fia, parr.pm, arank.am,
                   list_min(list_filter(generate_series(1, len(r.nxt)), p ->
                     r.nxt[p] <= len(r.fia)
                     AND NOT list_contains(r.fia, CAST(p AS BIGINT)))) AS pstar
            FROM rec r, parr, arank) t0
          WHERE t0.pstar IS NOT NULL) t1) t2)
    SELECT pr.uid AS proposer_uid, ac.uid AS acceptor_uid,
           CAST(list_position(pa.pl, f.a) AS BIGINT) AS proposer_rank_of_match,
           r1.rk AS acceptor_rank_of_match
    FROM (SELECT * FROM rec ORDER BY step DESC LIMIT 1) fin,
         unnest(generate_series(1, len(fin.fia))) AS g(a),
         LATERAL (SELECT CAST(g.a AS BIGINT) AS a, fin.fia[g.a] AS p) f
    JOIN props pr ON pr.p = f.p
    JOIN accs ac ON ac.a = f.a
    JOIN parr1 pa ON pa.p = f.p
    JOIN ar1 r1 ON r1.a = f.a AND r1.p = f.p
    WHERE f.p > 0
    ORDER BY proposer_uid
"""


@pq("gale_shapley_stable", _GS_SQL)
def gale_shapley_stable(spark, sf_dir):
    """Proposer-optimal Gale-Shapley over data-derived entities and
    md5 preferences. The matching domain is a bounded dimension (≤16
    entities), so — like the Huffman merges — the proposal loop runs
    on the collected id list while the distributed pass is the entity
    selection; the oracle replays the IDENTICAL proposal sequence one
    step per recursion with list-of-list preference matrices."""
    import hashlib

    e = _t(spark, sf_dir, "events")
    ids = [r["user_id"] for r in
           e.select("user_id").distinct().orderBy("user_id").limit(16).collect()]
    np_, na = len(ids) // 2, len(ids) - len(ids) // 2
    pids, aids = ids[:np_], ids[np_:]

    def hx(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # proposer p's ordered acceptor list (score desc, index asc)
    plist = {
        p: sorted(range(1, na + 1),
                  key=lambda a: (-hx(f"{pids[p - 1]}>{aids[a - 1]}"), a))
        for p in range(1, np_ + 1)
    }
    arank = {
        a: {p: rk + 1 for rk, p in enumerate(
            sorted(range(1, np_ + 1),
                   key=lambda p: (-hx(f"{aids[a - 1]}<{pids[p - 1]}"), p)))}
        for a in range(1, na + 1)
    }
    nxt = {p: 1 for p in range(1, np_ + 1)}
    fia = {a: 0 for a in range(1, na + 1)}
    while True:
        engaged = set(fia.values())
        free = [p for p in nxt if p not in engaged and nxt[p] <= na]
        if not free:
            break
        p = min(free)
        a = plist[p][nxt[p] - 1]
        cur = fia[a]
        if cur == 0 or arank[a][p] < arank[a][cur]:
            fia[a] = p
        nxt[p] += 1
    rows = [
        (pids[p - 1], aids[a - 1], plist[p].index(a) + 1, arank[a][p])
        for a, p in sorted(fia.items()) if p > 0
    ]
    return spark.createDataFrame(
        sorted(rows),
        "proposer_uid long, acceptor_uid long, "
        "proposer_rank_of_match long, acceptor_rank_of_match long",
    ).orderBy("proposer_uid")
