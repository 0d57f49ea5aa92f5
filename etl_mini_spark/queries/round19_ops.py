"""Registry queries: time-series alignment (banded dynamic time
warping via a flat-scan recursion — the 2-D DP linearized row-major
with a sliding value window, since a list_transform cannot express
the within-row left dependency), AR(1) by Yule-Walker with an exact
integer-moment slope and a replayed forecast recursion, sequential
experimentation (O'Brien-Fleming group-sequential looks against
offline boundary literals), robust two-way decomposition (Tukey
median polish with exact cent medians), infrastructure math
(consistent-hash ring rebalancing with the movement-fraction
guarantee as the audited invariant), multiple-testing estimation
(Storey's π₀ from the p-value tail), and two independent-path
calendar/checksum differentials (Zeller's congruence vs the engine's
native day-of-week; IBAN-style mod-97 with streamed modular
reduction), each checked against its DuckDB oracle.

Parity rules as in round9..18 (FIXTURES.md §C).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import _t, half_up
from etl_mini_spark.queries._base import q as pq


# =====================================================================
# Block A — banded DTW (flat-scan 2-D DP with a sliding value window)
# =====================================================================

# Series: click vs view daily cents (calendar-bounded). Sakoe-Chiba
# band |i−j| ≤ 5, cost |x_i − y_j| in exact cents, sentinel 2^60 for
# out-of-band/boundary cells. The 2-D table is computed row-major as
# ONE recursion over flat cell index, carrying the last ny+2 dp values
# as a list: diag = w[1], up = w[2], left = w[ny+2] — the only way a
# recursive CTE expresses the within-row left dependency exactly.
_DTW_SQL = """
    WITH RECURSIVE daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, event_type AS et,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
    m AS (
      SELECT (SELECT list(c ORDER BY d) FROM daily WHERE et = 'click') AS xv,
             (SELECT list(c ORDER BY d) FROM daily WHERE et = 'view') AS yv),
    dims AS (SELECT len(xv) AS nx, len(yv) AS ny, xv, yv FROM m),
    -- row 0: dp(0,0)=0, dp(0,j)=INF; window = the whole row 0 plus a
    -- leading INF pad so position 1 is always the diag of the next cell
    rec AS (
      SELECT CAST(0 AS BIGINT) AS t,
             list_concat([CAST(1152921504606846976 AS BIGINT)],
               list_transform(generate_series(0, CAST(ny AS INT)), j ->
                 CASE WHEN j = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(1152921504606846976 AS BIGINT) END)) AS w
      FROM dims
      UNION ALL
      SELECT r.t + 1,
             list_concat(
               list_transform(generate_series(2, CAST(d.ny + 2 AS INT)), k -> r.w[k]),
               [CASE
                  WHEN (r.t % (d.ny + 1)) = 0
                    THEN CAST(1152921504606846976 AS BIGINT)
                  WHEN abs((r.t // (d.ny + 1)) + 1 - (r.t % (d.ny + 1))) > 5
                    THEN CAST(1152921504606846976 AS BIGINT)
                  ELSE abs(d.xv[CAST((r.t // (d.ny + 1)) + 1 AS INT)]
                           - d.yv[CAST(r.t % (d.ny + 1) AS INT)])
                       + least(r.w[1], r.w[2], r.w[CAST(d.ny + 2 AS INT)])
                END])
      FROM rec r, dims d WHERE r.t < d.nx * (d.ny + 1)),
    fin AS (
      SELECT r.w[CAST(d.ny + 2 AS INT)] AS dtw_cents, d.nx, d.ny
      FROM rec r, dims d WHERE r.t = d.nx * (d.ny + 1))
    SELECT CAST(nx AS BIGINT) AS nx, CAST(ny AS BIGINT) AS ny,
           CAST(dtw_cents AS BIGINT) AS dtw_cents
    FROM fin
"""


@pq("dtw_banded_daily", _DTW_SQL)
def dtw_banded_daily(spark, sf_dir):
    """Banded DTW distance between the click and view daily revenue
    profiles: one day agg (the only corpus pass), one Arrow kernel
    over the two calendar-bounded series; the oracle linearizes the
    same DP row-major with a sliding window so every cell — including
    the within-row left dependency — replays exactly. Pure BIGINT."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"),
                 F.col("event_type").alias("et"))
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
             .cast("bigint").alias("c"))
    )
    INF = 1152921504606846976

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        xs = [int(v) for v in pdf[pdf["et"] == "click"]["c"]]
        ys = [int(v) for v in pdf[pdf["et"] == "view"]["c"]]
        nx, ny = len(xs), len(ys)
        prev = [0] + [INF] * ny
        for i in range(1, nx + 1):
            cur = [INF] * (ny + 1)
            for j in range(1, ny + 1):
                if abs(i - j) > 5:
                    continue
                best = min(prev[j - 1], prev[j], cur[j - 1])
                cur[j] = abs(xs[i - 1] - ys[j - 1]) + best if best < INF else INF
            prev = cur
        return pd.DataFrame({"nx": [nx], "ny": [ny], "dtw_cents": [prev[ny]]})

    return daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        dtw, schema="nx long, ny long, dtw_cents long"
    )


# =====================================================================
# Block B — AR(1) by Yule-Walker + exact forecast recursion
# =====================================================================

# phi = lag-1 autocovariance / variance from exact integer sums over
# the demeaned daily series in 100-DOLLAR units (cents // 10000 —
# cent-scale squares overflow BIGINT beyond sf0.01, and DuckDB's
# silent INT128 promotion would diverge from Spark's ANSI overflow;
# the coarser unit keeps n·Σc² < 2^63 with orders of magnitude to
# spare at any SF), then a 7-step
# forecast recursion x̂_{t+1} = mean + phi·(x̂_t − mean), each step
# 6dp-pre-pinned so the trajectory is engine-identical (the Holt/RSI
# discipline).
_AR1_SQL = """
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
    lag1 AS (
      SELECT CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
             CAST(sum(a.c) AS BIGINT) AS sx, CAST(sum(b.c) AS BIGINT) AS sy,
             CAST(count(*) AS BIGINT) AS m
      FROM ser a JOIN ser b ON b.i = a.i + 1),
    phi AS (
      SELECT (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST((SELECT n FROM mom) AS DOUBLE) * (SELECT q FROM mom)
                - CAST((SELECT s FROM mom) AS DOUBLE) * (SELECT s FROM mom)
                  / (SELECT n FROM mom) * (SELECT n FROM mom)) AS phi_raw
      FROM lag1),
    base AS (
      SELECT floor(phi_raw * 1000000 + 0.5) / 1000000 AS phi,
             (SELECT CAST(s AS DOUBLE) / n FROM mom) AS mu,
             (SELECT CAST(c AS DOUBLE) FROM ser
              WHERE i = (SELECT n FROM mom)) AS last_c
      FROM phi),
    fc AS (
      SELECT 0 AS h, last_c AS xhat, phi, mu FROM base
      UNION ALL
      SELECT h + 1,
             floor((mu + phi * (xhat - mu)) * 1000000 + 0.5) / 1000000,
             phi, mu
      FROM fc WHERE h < 7)
    SELECT h, floor(phi * 1000000 + 0.5) / 1000000 AS phi,
           floor(xhat * 10000 + 0.5) / 10000 AS forecast
    FROM fc WHERE h >= 1 ORDER BY h
"""


@pq("ar1_yule_walker", _AR1_SQL)
def ar1_yule_walker(spark, sf_dir):
    """AR(1) via Yule-Walker on daily revenue: integer moments, one
    float ratio for phi (6dp-pinned BEFORE the recursion so both
    engines iterate the identical coefficient), 7 pre-pinned forecast
    steps. Plan: one day agg, one lag join on the bounded series."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.expr(
            "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) div 10000"
            " AS BIGINT)").alias("c"))
    )
    ser = daily.select("d", "c", F.row_number().over(Window.orderBy("d")).alias("i"))
    mom = ser.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    a, b = ser.alias("a"), ser.alias("b")
    lag1 = a.join(b, F.col("b.i") == F.col("a.i") + 1).agg(
        F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("sxy"),
        F.sum(F.col("a.c")).cast("bigint").alias("sx"),
        F.sum(F.col("b.c")).cast("bigint").alias("sy"),
        F.count("*").cast("bigint").alias("m"),
    )
    last = ser.crossJoin(F.broadcast(mom.select(F.col("n").alias("nn")))).filter(
        F.col("i") == F.col("nn")
    ).select(F.col("c").cast("double").alias("last_c"))
    base = (
        lag1.crossJoin(F.broadcast(mom)).crossJoin(F.broadcast(last))
        .select(
            (F.floor(
                (F.col("m").cast("double") * F.col("sxy")
                 - F.col("sx").cast("double") * F.col("sy"))
                / (F.col("n").cast("double") * F.col("q")
                   - F.col("s").cast("double") * F.col("s") / F.col("n") * F.col("n"))
                * 1000000 + F.lit(0.5)) / 1000000).alias("phi"),
            (F.col("s").cast("double") / F.col("n")).alias("mu"),
            "last_c",
        )
    )
    row = base.collect()[0]  # bounded: three scalars seed the recursion
    phi, mu, xhat = row["phi"], row["mu"], row["last_c"]
    import math

    out = []
    for h in range(1, 8):
        xhat = math.floor((mu + phi * (xhat - mu)) * 1000000 + 0.5) / 1000000
        out.append((h, math.floor(phi * 1000000 + 0.5) / 1000000,
                    math.floor(xhat * 10000 + 0.5) / 10000))
    return spark.createDataFrame(out, "h int, phi double, forecast double").orderBy("h")


# =====================================================================
# Block C — O'Brien-Fleming group-sequential looks
# =====================================================================

# Arms = odd/even orderkey; outcome = order status 'F'; four interim
# looks at the quartiles of the ORDER SEQUENCE (row_number by date +
# key — deterministic), two-proportion z at each cumulative look, and
# the OBF boundaries for K=4 at two-sided α=.05 as offline literals
# (4.333, 2.963, 2.359, 2.014). Counts exact; z is one identical
# float chain per look.
_OBF_SQL = """
    WITH seq AS (
      SELECT o_orderkey % 2 = 1 AS arm1,
             o_orderstatus = 'F' AS hit,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS i,
             count(*) OVER () AS n
      FROM orders),
    looks AS (
      SELECT k, CAST(ceil(CAST(n AS DOUBLE) * k / 4) AS BIGINT) AS cut,
             CASE k WHEN 1 THEN 4.333 WHEN 2 THEN 2.963
                    WHEN 3 THEN 2.359 ELSE 2.014 END AS bound
      FROM (SELECT DISTINCT n FROM seq), unnest(generate_series(1, 4)) AS g(k)),
    agg AS (
      SELECT l.k, l.bound,
             CAST(sum(CASE WHEN s.arm1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN NOT s.arm1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN s.arm1 AND s.hit THEN 1 ELSE 0 END) AS BIGINT) AS h1,
             CAST(sum(CASE WHEN NOT s.arm1 AND s.hit THEN 1 ELSE 0 END) AS BIGINT) AS h2
      FROM looks l JOIN seq s ON s.i <= l.cut
      GROUP BY l.k, l.bound)
    SELECT k, n1, n2, h1, h2,
           floor((CAST(h1 AS DOUBLE) / n1 - CAST(h2 AS DOUBLE) / n2)
                 / sqrt((CAST(h1 + h2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(h1 + h2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2))
                 * 1000000 + 0.5) / 1000000 AS z,
           abs((CAST(h1 AS DOUBLE) / n1 - CAST(h2 AS DOUBLE) / n2)
               / sqrt((CAST(h1 + h2 AS DOUBLE) / (n1 + n2))
                      * (1.0 - CAST(h1 + h2 AS DOUBLE) / (n1 + n2))
                      * (1.0 / n1 + 1.0 / n2))) >= bound AS crossed
    FROM agg ORDER BY k
"""


@pq("group_sequential_obf", _OBF_SQL)
def group_sequential_obf(spark, sf_dir):
    """Group-sequential monitoring with O'Brien-Fleming boundaries:
    four cumulative looks over the deterministic order sequence,
    two-proportion z per look, offline boundary literals. A null
    comparison (odd vs even keys) should rarely cross — pinned."""
    o = _t(spark, sf_dir, "orders")
    seq = o.select(
        (F.col("o_orderkey") % 2 == 1).alias("arm1"),
        (F.col("o_orderstatus") == "F").alias("hit"),
        F.row_number().over(Window.orderBy("o_orderdate", "o_orderkey")).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    looks = (
        seq.select("n").distinct()
        .crossJoin(F.broadcast(spark.range(1, 5).select(F.col("id").alias("k"))))
        .select(
            "k",
            F.ceil(F.col("n").cast("double") * F.col("k") / 4).cast("bigint").alias("cut"),
            F.when(F.col("k") == 1, 4.333).when(F.col("k") == 2, 2.963)
            .when(F.col("k") == 3, 2.359).otherwise(2.014).alias("bound"),
        )
    )
    agg = (
        F.broadcast(looks).join(seq, seq["i"] <= looks["cut"])
        .groupBy("k", "bound")
        .agg(
            F.sum(F.when(F.col("arm1"), 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(~F.col("arm1"), 1).otherwise(0)).cast("bigint").alias("n2"),
            F.sum(F.when(F.col("arm1") & F.col("hit"), 1).otherwise(0))
            .cast("bigint").alias("h1"),
            F.sum(F.when(~F.col("arm1") & F.col("hit"), 1).otherwise(0))
            .cast("bigint").alias("h2"),
        )
    )
    p1 = F.col("h1").cast("double") / F.col("n1")
    p2 = F.col("h2").cast("double") / F.col("n2")
    pp = (F.col("h1") + F.col("h2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return agg.select(
        "k", "n1", "n2", "h1", "h2", half_up(z).alias("z"),
        (F.abs(z) >= F.col("bound")).alias("crossed"),
    ).orderBy("k")


# =====================================================================
# Block D — Tukey median polish (year × month, exact quarter-cents)
# =====================================================================

# Matrix = yearly×monthly revenue in QUARTER-cents (×4 so both the
# even-count row medians — averages of two middle values — and the
# odd-count column medians stay exact integers through two polish
# iterations). The matrix is a bounded dimension (≤ 7×12), so the
# polish runs on the collected cells (the Huffman discipline) while
# the oracle replays it with list-sorted medians in chained CTEs.
def _mp_sql() -> str:
    # helpers expanded inline: med2(list) = twice the median of a
    # sorted BIGINT list (exact for even and odd counts)
    def med2(lst):
        return (f"(list_sort({lst})[CAST((len({lst}) + 1) // 2 AS INT)]"
                f" + list_sort({lst})[CAST(len({lst}) // 2 + 1 AS INT)])")

    parts = ["""WITH cells0 AS MATERIALIZED (
      SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS y,
             CAST(strftime(o_orderdate, '%m') AS INT) AS mo,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) * 4 AS BIGINT) AS v
      FROM orders GROUP BY 1, 2)"""]
    prev = "cells0"
    for it in (1, 2):
        parts.append(f"""rmed{it} AS (SELECT y, {med2(f'list(v)')} // 2 AS rm
      FROM {prev} GROUP BY y),
    rsub{it} AS MATERIALIZED (
      SELECT c.y, c.mo, c.v - r.rm AS v FROM {prev} c JOIN rmed{it} r ON r.y = c.y),
    cmed{it} AS (SELECT mo, {med2(f'list(v)')} // 2 AS cm
      FROM rsub{it} GROUP BY mo),
    csub{it} AS MATERIALIZED (
      SELECT c.y, c.mo, c.v - m.cm AS v FROM rsub{it} c JOIN cmed{it} m ON m.mo = c.mo)""")
        prev = f"csub{it}"
    parts.append(f"""stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(max(abs(v)) AS BIGINT) AS max_abs_resid_q,
             CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM {prev})""")
    return (",\n    ".join(parts)
            + "\n    SELECT n_cells, max_abs_resid_q, n_zero FROM stats")


@pq("median_polish_residuals", _mp_sql())
def median_polish_residuals(spark, sf_dir):
    """Two median-polish sweeps over the year×month revenue matrix in
    exact quarter-cents; the output pins the residual summary. The
    corpus pass is the month agg; the polish itself runs on the
    bounded collected matrix, replayed by the oracle with list-sorted
    medians."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("mo")
    ).agg((F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")) * 4)
          .cast("bigint").alias("v"))
    rows = [(r["y"], r["mo"], int(r["v"])) for r in cells.collect()]  # bounded matrix

    def med2(vals):
        s = sorted(vals)
        n = len(s)
        return s[(n + 1) // 2 - 1] + s[n // 2]

    def trunc_half(v):
        # DuckDB's // truncates toward zero; Python's floors — the
        # residuals go negative in iteration 2, so match truncation
        return abs(v) // 2 * (1 if v >= 0 else -1)

    vals = {(y, mo): v for y, mo, v in rows}
    for _ in range(2):
        for y in sorted({y for y, _ in vals}):
            rm = trunc_half(med2([v for (yy, _), v in vals.items() if yy == y]))
            for k in list(vals):
                if k[0] == y:
                    vals[k] -= rm
        for mo in sorted({mo for _, mo in vals}):
            cm = trunc_half(med2([v for (_, mm), v in vals.items() if mm == mo]))
            for k in list(vals):
                if k[1] == mo:
                    vals[k] -= cm
    resid = list(vals.values())
    return spark.createDataFrame(
        [(len(resid), max(abs(v) for v in resid), sum(1 for v in resid if v == 0))],
        "n_cells long, max_abs_resid_q long, n_zero long",
    )


# =====================================================================
# Block E — consistent-hash ring rebalance audit
# =====================================================================

# 4 nodes × 4 vnodes on an md5 ring; documents map to the first vnode
# clockwise (wrap to the minimum). Adding a 5th node must move ONLY
# the docs captured by its vnodes — the consistent-hashing guarantee,
# audited exactly: moved docs all move TO n5, and nobody else gains.
# Spark resolves the ring with its union-sort as-of operator
# (direction='forward'); DuckDB uses native ASOF — independent as-of
# paths, as in the round-16 eviction twin.
_RING_SQL = """
    WITH docsh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':ring'), 1, 15))
                  AS BIGINT) AS pos
      FROM documents),
    vn AS (
      SELECT 'n' || CAST(n AS VARCHAR) AS node,
             CAST(concat('0x', substr(md5('node' || CAST(n AS VARCHAR) || '#'
                  || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS vpos,
             n <= 4 AS in_before
      FROM unnest(generate_series(1, 5)) AS a(n),
           unnest(generate_series(1, 4)) AS b(v)),
    owner_before AS (
      SELECT d.doc_id,
             coalesce(
               (SELECT min_by(node, vpos) FROM vn
                WHERE in_before AND vpos >= d.pos),
               (SELECT min_by(node, vpos) FROM vn WHERE in_before)) AS node
      FROM docsh d),
    owner_after AS (
      SELECT d.doc_id,
             coalesce(
               (SELECT min_by(node, vpos) FROM vn WHERE vpos >= d.pos),
               (SELECT min_by(node, vpos) FROM vn)) AS node
      FROM docsh d)
    SELECT b.node AS before_node, a.node AS after_node,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM owner_before b JOIN owner_after a ON a.doc_id = b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@pq("consistent_hash_rebalance", _RING_SQL)
def consistent_hash_rebalance(spark, sf_dir):
    """Consistent-hash ring rebalance: before/after owner matrix when
    a 5th node joins a 4-node ring (4 vnodes each). Every transition
    row with before ≠ after must land on the new node — the movement
    guarantee is pinned. Spark resolves ring ownership with the
    union-sort forward as-of; the oracle with correlated min_by
    lookups on the bounded vnode table."""
    import hashlib

    from etl_mini_spark.operators.joins import asof_join

    d = _t(spark, sf_dir, "documents")
    docsh = d.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit(":ring"))), 1, 15), 16, 10)
        .cast("long").alias("pos"),
    ).withColumn("k", F.lit(1)).withColumn("pos_ts", F.timestamp_micros(F.col("pos") % (2**60)))
    vrows = []
    for n in range(1, 6):
        for v in range(1, 5):
            vpos = int(hashlib.md5(f"node{n}#{v}".encode()).hexdigest()[:15], 16)
            vrows.append((f"n{n}", vpos, n <= 4))
    vn = docsh.sparkSession.createDataFrame(vrows, "node string, vpos long, in_before boolean")

    def owners(ring):
        ring = ring.withColumn("k", F.lit(1)).withColumn(
            "vpos_ts", F.timestamp_micros(F.col("vpos") % (2**60)))
        hit = asof_join(
            docsh, ring.select("k", "vpos_ts", "node", "vpos"),
            on=["k"], left_time="pos_ts", right_time="vpos_ts",
            right_cols=["node"], tiebreak="vpos", direction="forward",
        )
        wrap = ring.orderBy("vpos").limit(1).collect()[0]["node"]  # bounded ring
        return hit.select("doc_id", F.coalesce("node", F.lit(wrap)).alias("node"))

    before = owners(vn.filter("in_before")).withColumnRenamed("node", "before_node")
    after = owners(vn).withColumnRenamed("node", "after_node")
    return (
        before.join(after, "doc_id")
        .groupBy("before_node", "after_node")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("before_node", "after_node")
    )


# =====================================================================
# Block F — Storey's π₀ (null-proportion estimate from the tail)
# =====================================================================

# Planted p-values: uniform md5 fractions, shrunk ×1/50 for the 10%
# signal stratum (partkey % 10 = 0). π₀(λ=0.5) = #{p > λ}/((1−λ)·m).
# p-values are exact rationals (BIGINT numerators over 16^15);
# everything until the final ratio is integer.
_STOREY_SQL = """
    WITH pv AS (
      SELECT p_partkey,
             CASE WHEN p_partkey % 10 = 0
                  THEN CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR) || ':pv'),
                       1, 15)) AS BIGINT) // 50
                  ELSE CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR) || ':pv'),
                       1, 15)) AS BIGINT) END AS num
      FROM part),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN num * 2 > 1152921504606846976 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_above
      FROM pv)
    SELECT m, n_above,
           floor(CAST(n_above AS DOUBLE) / (0.5 * m) * 1000000 + 0.5) / 1000000 AS pi0
    FROM s
"""


@pq("storey_pi0_estimate", _STOREY_SQL)
def storey_pi0_estimate(spark, sf_dir):
    """Storey's π₀ at λ = 0.5 over planted p-values (90% uniform null,
    10% signal shrunk ×1/50): the tail count is an exact integer
    comparison of BIGINT numerators against λ·16^15; expected ≈ 0.9
    (pinned with a sampling band)."""
    p = _t(spark, sf_dir, "part")
    num = F.conv(F.substring(F.md5(F.concat(F.col("p_partkey").cast("string"),
                                            F.lit(":pv"))), 1, 15), 16, 10).cast("long")
    pv = p.select(
        F.when(F.col("p_partkey") % 10 == 0, F.expr(
            "CAST(conv(substring(md5(concat(cast(p_partkey AS string), ':pv')), 1, 15),"
            " 16, 10) AS BIGINT) div 50"
        )).otherwise(num).alias("num")
    )
    s = pv.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.when(F.col("num") * 2 > F.lit(1152921504606846976), 1).otherwise(0))
        .cast("bigint").alias("n_above"),
    )
    return s.select(
        "m", "n_above",
        half_up(F.col("n_above").cast("double") / (0.5 * F.col("m"))).alias("pi0"),
    )


# =====================================================================
# Block G — Zeller's congruence vs native day-of-week
# =====================================================================

# TRUE independent paths: Spark renders ISO day-of-week with its
# native weekday(); the oracle derives it from Zeller's congruence in
# pure integer arithmetic (Jan/Feb as months 13/14 of the prior year,
# h = (q + 13(m+1)/5 + K + K/4 + J/4 + 5J) mod 7, 0 = Saturday,
# remapped to ISO 1 = Monday). Identical output ⇒ two unrelated
# calendar implementations agree on every order date.
_ZELLER_SQL = """
    WITH d AS (
      SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS yy,
             CAST(strftime(o_orderdate, '%m') AS BIGINT) AS mm,
             CAST(strftime(o_orderdate, '%d') AS BIGINT) AS q
      FROM orders),
    z AS (
      SELECT CASE WHEN mm <= 2 THEN yy - 1 ELSE yy END AS zy,
             CASE WHEN mm <= 2 THEN mm + 12 ELSE mm END AS zm, q
      FROM d),
    h AS (
      SELECT (q + (13 * (zm + 1)) // 5 + (zy % 100) + (zy % 100) // 4
              + (zy // 100) // 4 + 5 * (zy // 100)) % 7 AS h
      FROM z)
    SELECT CAST(CASE h WHEN 0 THEN 6 WHEN 1 THEN 7 ELSE h - 1 END AS BIGINT) AS iso_dow,
           CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY 1 ORDER BY iso_dow
"""


@pq("zeller_congruence_audit", _ZELLER_SQL)
def zeller_congruence_audit(spark, sf_dir):
    """Order-date day-of-week histogram via Spark's NATIVE calendar
    (weekday() + 1 = ISO) — the oracle recomputes every date with
    Zeller's congruence instead. A hash match proves two unrelated
    calendar implementations agree across the 2,400-day span."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select((F.weekday("o_orderdate") + 1).cast("bigint").alias("iso_dow"))
        .groupBy("iso_dow")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("iso_dow")
    )


# =====================================================================
# Block H — mod-97 (IBAN-style) checksum audit, streamed reduction
# =====================================================================

# 20-digit identifiers from order/customer keys with a 2-digit check
# making the whole number ≡ 1 (mod 97). The 18-digit payload exceeds
# BIGINT-safe direct parsing at a glance but NOT the streamed
# reduction: fold 5-digit chunks as r = (r·100000 + chunk) % 97 —
# every intermediate < 97·100000. Odd orderkeys get a single-digit
# corruption; mod-97 detects ALL of them (unlike Luhn, it also
# catches most transpositions).
_MOD97_SQL = """
    WITH ids AS (
      SELECT o_orderkey AS ok,
             lpad(CAST(o_orderkey % 1000000000 AS VARCHAR), 9, '0')
               || lpad(CAST(o_custkey % 1000000000 AS VARCHAR), 9, '0') AS base18
      FROM orders),
    withchk AS (
      SELECT ok, base18,
             ((98 - ((((((((CAST(substr(base18, 1, 5) AS BIGINT) % 97) * 100000 + CAST(substr(base18, 6, 5) AS BIGINT)) % 97) * 100000 + CAST(substr(base18, 11, 5) AS BIGINT)) % 97) * 1000 + CAST(substr(base18, 16, 3) AS BIGINT)) % 97) * 100) % 97) % 97)
               AS chk
      FROM ids),
    pan AS (
      SELECT ok, base18 || lpad(CAST(chk AS VARCHAR), 2, '0') AS id20 FROM withchk),
    audited AS (
      SELECT ok, ok % 2 = 1 AS corrupted,
             CASE WHEN ok % 2 = 1
                  THEN substr(id20, 1, 4)
                       || CAST((CAST(substr(id20, 5, 1) AS BIGINT) + 3) % 10 AS VARCHAR)
                       || substr(id20, 6)
                  ELSE id20 END AS id20
      FROM pan),
    checked AS (
      SELECT corrupted,
             ((((((((CAST(substr(id20, 1, 5) AS BIGINT) % 97) * 100000 + CAST(substr(id20, 6, 5) AS BIGINT)) % 97) * 100000 + CAST(substr(id20, 11, 5) AS BIGINT)) % 97) * 100000 + CAST(substr(id20, 16, 5) AS BIGINT)) % 97) = 1) AS valid
      FROM audited)
    SELECT corrupted, valid, CAST(count(*) AS BIGINT) AS n
    FROM checked GROUP BY 1, 2 ORDER BY corrupted, valid
"""


@pq("mod97_checksum_audit", _MOD97_SQL)
def mod97_checksum_audit(spark, sf_dir):
    """IBAN-style mod-97 audit with streamed 5-digit-chunk modular
    reduction (every intermediate < 97·10^5), check digits = 98 − the
    payload·100 residue, and a deterministic corruption that the audit
    must flag exactly."""
    o = _t(spark, sf_dir, "orders")
    ids = o.select(
        F.col("o_orderkey").alias("ok"),
        F.concat(
            F.lpad((F.col("o_orderkey") % 1000000000).cast("string"), 9, "0"),
            F.lpad((F.col("o_custkey") % 1000000000).cast("string"), 9, "0"),
        ).alias("base18"),
    )

    def fold(col, chunks):
        r = F.lit(0).cast("bigint")
        for start, width in chunks:
            r = (r * (10 ** width) + F.substring(col, start, width).cast("bigint")) % 97
        return r

    withchk = ids.select(
        "ok", "base18",
        ((98 - (fold(F.col("base18"), [(1, 5), (6, 5), (11, 5), (16, 3)]) * 100) % 97)
         % 97).alias("chk"),
    )
    pan = withchk.select(
        "ok",
        F.concat(F.col("base18"), F.lpad(F.col("chk").cast("string"), 2, "0")).alias("id20"),
    )
    audited = pan.select(
        (F.col("ok") % 2 == 1).alias("corrupted"),
        F.when(
            F.col("ok") % 2 == 1,
            F.concat(
                F.substring("id20", 1, 4),
                ((F.substring("id20", 5, 1).cast("bigint") + 3) % 10).cast("string"),
                F.substring("id20", 6, 15),
            ),
        ).otherwise(F.col("id20")).alias("id20"),
    )
    checked = audited.select(
        "corrupted",
        (fold(F.col("id20"), [(1, 5), (6, 5), (11, 5), (16, 5)]) == 1).alias("valid"),
    )
    return (
        checked.groupBy("corrupted", "valid")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("corrupted", "valid")
    )
