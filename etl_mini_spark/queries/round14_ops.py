"""Registry queries: geospatial beyond geohash blocking (equirect
k-NN, bbox containment via grid cells, polyline track length, density
hotspots), window-frame SQL parity follow-ons (EXCLUDE GROUP/TIES,
GROUPS frames, second-order QUALIFY, IGNORE NULLS gap-fill),
quantified/FILTER/GROUPING-ID/PIVOT SQL-surface differentials,
retrieval & text analysis (Dirichlet query likelihood, RAKE keywords,
suffix-stripping stems, Rocchio feedback, sentence stats),
finance/ops recursions (anchored VWAP, RiskMetrics EWMA volatility,
CPR prepayment schedule, cash-conversion cycle, CVP break-even),
DQ profiling (second-digit Benford, column entropy, composite-key
candidates), graph link prediction & local clustering, lakehouse
maintenance (next-fit-decreasing compaction bins, snapshot retention
expiry, partition-spec evolution routing), time-series symbolization
(two-state Markov stationary, SAX/PAA, Theta forecast), and a
streaming state-TTL eviction differential, each checked against its
DuckDB oracle.

Parity rules as in round9..13_ops (FIXTURES.md §C): integer/decimal
arithmetic end-to-end (money as exact BIGINT cents), libm terms
pre-rounded at 9dp and summed as DECIMAL(28,9), no trig/pow in any
comparison that decides a row (equirectangular distance uses a FIXED
cos literal, never engine libm cos), ranks via deterministic
tie-breaks on 6dp-rounded scores, fixed bin edges and breakpoint
literals, floor(x*10^k + 0.5)/10^k HALF_UP display rounding.
Sequential recursions (EWMA, CPR schedule, Theta, NFD bin packing)
follow the RSI/Holt discipline: exact-integer (or pre-rounded) seeds
and the IDENTICAL IEEE expression sequence on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import EVENTS_DAILY_SQL, _t, events_daily_cents, half_up, md5_mod
from etl_mini_spark.queries._base import q as pq


# =====================================================================
# Block A — geospatial beyond geohash blocking
# =====================================================================

# Deterministic synthetic coordinates (the geo_radius_pairs LCG recipe
# with fresh multipliers): both engines derive IDENTICAL doubles, and
# the int/DOUBLE division keeps the math out of DECIMAL (round-5
# lesson). Longitude compression at the working latitude uses a FIXED
# literal 0.7604 (≈cos 40.5°) — never engine libm cos, so no trig
# decides any comparison.
_LAT14 = "40.0 + ((user_id + 29) * 48271 % 65537) / CAST(65537 AS DOUBLE)"
_LON14 = "-74.0 + ((user_id + 7) * 25253 % 65521) / CAST(65521 AS DOUBLE)"
_COSLAT = "0.7604"

# --- equirectangular k-NN ------------------------------------------------------------------------
# 3 nearest neighbors for each probe user (user_id % 97 == 0) under
# the equirectangular metric d2 = dlat^2 + (cos0*dlon)^2 — pure IEEE
# +,*,- so both engines agree bit-for-bit before the 9dp rank key.
# Plan: the probe set is tiny by construction -> broadcast it against
# the point table (ONE scan, no n^2); rank per probe with the
# (rounded d2, id) deterministic cut. The oracle is the naive
# cross join.
_GEOKNN_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    pt AS (SELECT user_id, {_LAT14} AS lat, {_LON14} AS lon FROM u),
    pr AS (SELECT * FROM pt WHERE user_id % 97 = 0),
    d AS (
      SELECT pr.user_id AS probe_id, pt.user_id AS neighbor_id,
             floor(((pr.lat - pt.lat) * (pr.lat - pt.lat)
                    + ({_COSLAT} * (pr.lon - pt.lon)) * ({_COSLAT} * (pr.lon - pt.lon)))
                   * 1000000000 + 0.5) / 1000000000 AS d2
      FROM pr JOIN pt ON pr.user_id <> pt.user_id)
    SELECT probe_id, neighbor_id, d2
    FROM (SELECT *, row_number() OVER (ORDER BY probe_id, d2, neighbor_id) AS g,
                 row_number() OVER (PARTITION BY probe_id ORDER BY d2, neighbor_id) AS rn
          FROM d)
    WHERE rn <= 3
    ORDER BY probe_id, rn
"""


@pq("geo_knn_topk_equirect", _GEOKNN_SQL)
def geo_knn_topk_equirect(spark, sf_dir):
    """Equirectangular 3-NN per probe point. The probe side is bounded
    by construction (user_id % 97) and broadcast against the point
    table — one scan of the big side, no quadratic anywhere; at
    corpus scale the same shape holds for any bounded probe set (the
    similarity_topk discipline applied to coordinates). Distance is
    pure IEEE arithmetic with a FIXED 0.7604 longitude-compression
    literal (no engine cos), pre-rounded at 9dp before the rank so
    ties cut identically on both engines."""
    ev = _t(spark, sf_dir, "events")
    pt = (
        ev.select("user_id").distinct()
        .withColumn("lat", F.expr(_LAT14))
        .withColumn("lon", F.expr(_LON14))
    )
    pr = pt.filter(F.col("user_id") % 97 == 0).select(
        F.col("user_id").alias("probe_id"), F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
    )
    dlat = F.col("plat") - F.col("lat")
    dlon = (F.lit(0.7604) * (F.col("plon") - F.col("lon")))
    d2 = dlat * dlat + dlon * dlon
    scored = (
        pt.join(F.broadcast(pr), F.col("probe_id") != F.col("user_id"))
        .select(
            "probe_id", F.col("user_id").alias("neighbor_id"),
            (F.floor(d2 * 1000000000 + F.lit(0.5)) / 1000000000).alias("d2"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("probe_id", "neighbor_id", "d2")
        .orderBy("probe_id", "d2", "neighbor_id")
    )


# --- bbox containment via grid cells ------------------------------------------------------------
# Boxes derived from part keys (center + half-extent, same LCG
# recipe); count the user points each box contains. The Spark plan is
# the scale path the naive oracle is NOT: each box explodes to the
# grid cells it overlaps (bounded because extents are bounded by
# construction), points key to their home cell, and the join is EQUI
# on the cell — O(points + boxes*cells_per_box) candidates instead of
# O(points*boxes).
_GEOBOX_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    pt AS (SELECT user_id, {_LAT14} AS lat, {_LON14} AS lon FROM u),
    bx AS (
      SELECT p_partkey AS box_id,
             40.0 + ((p_partkey + 3) * 48271 % 65537) / CAST(65537 AS DOUBLE) AS cx,
             -74.0 + ((p_partkey + 11) * 25253 % 65521) / CAST(65521 AS DOUBLE) AS cy,
             0.02 + (p_partkey % 7) / CAST(100 AS DOUBLE) AS hw
      FROM part WHERE p_partkey % 13 = 0)
    SELECT b.box_id, CAST(count(p.user_id) AS BIGINT) AS n_points
    FROM bx b LEFT JOIN pt p
      ON p.lat >= b.cx - b.hw AND p.lat <= b.cx + b.hw
     AND p.lon >= b.cy - b.hw AND p.lon <= b.cy + b.hw
    GROUP BY 1 ORDER BY 1
"""


@pq("geo_bbox_containment_join", _GEOBOX_SQL)
def geo_bbox_containment_join(spark, sf_dir):
    """Point-in-bbox containment counts via grid-cell blocking: boxes
    explode to the 0.05°-grid cells their extent overlaps (≤ 4 cells
    per box at the max 0.08° half-width), points key to one home cell,
    and candidates come from an EQUI join on the cell — the range
    predicate only verifies. Candidate mass is O(density), not
    O(n·m); the naive-join oracle proves the blocking lossless."""
    ev = _t(spark, sf_dir, "events")
    pt = (
        ev.select("user_id").distinct()
        .withColumn("lat", F.expr(_LAT14))
        .withColumn("lon", F.expr(_LON14))
    )
    parts = _t(spark, sf_dir, "part")
    bx = parts.filter(F.col("p_partkey") % 13 == 0).select(
        F.col("p_partkey").alias("box_id"),
        F.expr("40.0 + ((p_partkey + 3) * 48271 % 65537) / CAST(65537 AS DOUBLE)").alias("cx"),
        F.expr("-74.0 + ((p_partkey + 11) * 25253 % 65521) / CAST(65521 AS DOUBLE)").alias("cy"),
        F.expr("0.02 + (p_partkey % 7) / CAST(100 AS DOUBLE)").alias("hw"),
    )
    G = 0.05  # grid pitch ≥ 2*max half-width would be 0.16; 0.05 keeps
    # cells tight, boxes just span a few — both sides enumerate, so any
    # pitch is lossless; this one measured fewest candidates at sf0.01
    cell = lambda c: F.floor(c / G).cast("long")  # noqa: E731
    p_cell = pt.select("user_id", "lat", "lon", cell(F.col("lat")).alias("gx"), cell(F.col("lon")).alias("gy"))
    b_span = bx.select(
        "box_id", "cx", "cy", "hw",
        cell(F.col("cx") - F.col("hw")).alias("gx0"), cell(F.col("cx") + F.col("hw")).alias("gx1"),
        cell(F.col("cy") - F.col("hw")).alias("gy0"), cell(F.col("cy") + F.col("hw")).alias("gy1"),
    )
    b_cells = b_span.select(
        "box_id", "cx", "cy", "hw",
        F.explode(F.sequence("gx0", "gx1")).alias("gx"), "gy0", "gy1",
    ).select(
        "box_id", "cx", "cy", "hw", "gx",
        F.explode(F.sequence("gy0", "gy1")).alias("gy"),
    )
    hits = (
        b_cells.join(p_cell, ["gx", "gy"])
        .filter(
            (F.col("lat") >= F.col("cx") - F.col("hw"))
            & (F.col("lat") <= F.col("cx") + F.col("hw"))
            & (F.col("lon") >= F.col("cy") - F.col("hw"))
            & (F.col("lon") <= F.col("cy") + F.col("hw"))
        )
        .groupBy("box_id")
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )
    return (
        bx.select("box_id").join(hits, "box_id", "left")
        .select("box_id", F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"))
        .orderBy("box_id")
    )


# --- polyline track length -----------------------------------------------------------------------
# Per-user GPS-track proxy: events ordered by (ts, event_id), each
# consecutive-fix equirectangular segment length pre-rounded at 9dp
# and summed as DECIMAL(28,9) — fold-order-free, so partitioned
# window order vs oracle window order cannot drift.
_GEOTRACK_SQL = f"""
    WITH fx AS (
      SELECT user_id, event_id,
             40.0 + ((event_id + 29) * 48271 % 65537) / CAST(65537 AS DOUBLE) AS lat,
             -74.0 + ((event_id + 7) * 25253 % 65521) / CAST(65521 AS DOUBLE) AS lon,
             ts
      FROM events),
    seg AS (
      SELECT user_id,
             lat - lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dlat,
             lon - lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dlon
      FROM fx)
    SELECT user_id,
           CAST(count(dlat) AS BIGINT) AS n_segments,
           CAST(sum(CAST(floor(sqrt(dlat * dlat + ({_COSLAT} * dlon) * ({_COSLAT} * dlon))
                               * 1000000000 + 0.5) / 1000000000 AS DECIMAL(28,9)))
                AS DOUBLE) AS track_deg
    FROM seg WHERE dlat IS NOT NULL
    GROUP BY 1 HAVING count(dlat) >= 5
    ORDER BY 1
"""


@pq("geo_polyline_track_length", _GEOTRACK_SQL)
def geo_polyline_track_length(spark, sf_dir):
    """Per-user polyline track length: lag over the (ts, event_id)
    order within each user partition (never a global sort), segment
    lengths pre-rounded at 9dp (sqrt is the only libm call and it IS
    correctly rounded by IEEE — the 9dp pin guards the inputs' last
    ulp anyway), summed as DECIMAL(28,9) so fold order is moot."""
    ev = _t(spark, sf_dir, "events")
    fx = ev.select(
        "user_id", "event_id", "ts",
        F.expr("40.0 + ((event_id + 29) * 48271 % 65537) / CAST(65537 AS DOUBLE)").alias("lat"),
        F.expr("-74.0 + ((event_id + 7) * 25253 % 65521) / CAST(65521 AS DOUBLE)").alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = fx.select(
        "user_id",
        (F.col("lat") - F.lag("lat").over(w)).alias("dlat"),
        (F.col("lon") - F.lag("lon").over(w)).alias("dlon"),
    ).filter(F.col("dlat").isNotNull())
    slen = F.sqrt(
        F.col("dlat") * F.col("dlat")
        + (F.lit(0.7604) * F.col("dlon")) * (F.lit(0.7604) * F.col("dlon"))
    )
    return (
        seg.select(
            "user_id",
            (F.floor(slen * 1000000000 + F.lit(0.5)) / 1000000000)
            .cast("decimal(28,9)").alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("s").cast("bigint").alias("n_segments"),
            F.sum("s").cast("double").alias("track_deg"),
        )
        .filter(F.col("n_segments") >= 5)
        .orderBy("user_id")
    )


# --- grid density hotspots -----------------------------------------------------------------------
# Top-10 densest 3x3 grid neighborhoods: per-cell counts, then the
# 3x3 smoothed mass from a bounded 9-way offset self-join on cell
# keys (the geo_radius_pairs expansion trick re-used for density) —
# the oracle recomputes the neighborhood sum naively per cell.
_GEOHOT_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    pt AS (SELECT user_id, {_LAT14} AS lat, {_LON14} AS lon FROM u),
    cells AS (
      SELECT CAST(floor(lat / 0.1) AS BIGINT) AS gx,
             CAST(floor(lon / 0.1) AS BIGINT) AS gy,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pt GROUP BY 1, 2),
    sm AS (
      SELECT a.gx, a.gy,
             CAST(sum(b.cnt) AS BIGINT) AS mass
      FROM cells a JOIN cells b
        ON b.gx BETWEEN a.gx - 1 AND a.gx + 1
       AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
      GROUP BY 1, 2)
    SELECT gx, gy, mass
    FROM sm
    ORDER BY mass DESC, gx, gy
    LIMIT 10
"""


@pq("geo_grid_density_hotspots", _GEOHOT_SQL)
def geo_grid_density_hotspots(spark, sf_dir):
    """Density hotspots: one keyed agg to per-cell counts (tiny — the
    cell domain, not the point count), a broadcast 9-offset expansion
    joined EQUI on cell keys for the 3x3 smoothed mass, and a
    deterministic (mass desc, gx, gy) top-10. All integers."""
    ev = _t(spark, sf_dir, "events")
    pt = (
        ev.select("user_id").distinct()
        .withColumn("lat", F.expr(_LAT14))
        .withColumn("lon", F.expr(_LON14))
    )
    cells = pt.groupBy(
        F.floor(F.col("lat") / 0.1).cast("long").alias("gx"),
        F.floor(F.col("lon") / 0.1).cast("long").alias("gy"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    off = spark.range(-1, 2).select(F.col("id").alias("dx")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dy"))
    )
    exp = cells.crossJoin(F.broadcast(off)).select(
        (F.col("gx") + F.col("dx")).alias("gx"),
        (F.col("gy") + F.col("dy")).alias("gy"),
        F.col("cnt"),
    )
    sm = (
        exp.join(cells.select("gx", "gy"), ["gx", "gy"])  # only real cells emit
        .groupBy("gx", "gy")
        .agg(F.sum("cnt").cast("bigint").alias("mass"))
    )
    return sm.orderBy(F.desc("mass"), "gx", "gy").limit(10)


# =====================================================================
# Block B — window-frame SQL parity follow-ons
# =====================================================================

# --- GROUPS frames --------------------------------------------------------------------------------
# SQL:2011 GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING: DuckDB runs the
# native frame; Spark has no GROUPS mode, so the engine re-expresses
# it at the VALUE level — per-ord totals (one keyed agg, domain-sized)
# windowed rowsBetween(-2, +1) over the ord table (each peer group IS
# one row there), broadcast-joined back to the fact rows. Exact
# BIGINT cents everywhere.
# (DuckDB 1.x has no GROUPS frame mode either — its parser rejects it —
# so the oracle derives the frame from dense_rank: for each peer group
# g, aggregate every row whose group index falls in [g-2, g+1] via a
# bounded range join over the GROUP table. A different formulation
# than Spark's value-table rowsBetween window, so the differential
# still cross-checks two independent evaluations of SQL:2011 GROUPS
# semantics.)
_GROUPSF_SQL = """
    WITH pe AS (
      SELECT event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 * 1000
                  AS BIGINT) AS ord
      FROM events WHERE event_type = 'purchase'),
    grp AS (
      SELECT ord, CAST(sum(v) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (ORDER BY ord) AS g
      FROM pe GROUP BY 1),
    fr AS (
      SELECT a.ord,
             CAST(sum(b.t) AS BIGINT) AS gsum,
             CAST(sum(b.n) AS BIGINT) AS gcnt
      FROM grp a JOIN grp b ON b.g BETWEEN a.g - 2 AND a.g + 1
      GROUP BY 1)
    SELECT pe.event_id, pe.v, pe.ord, fr.gsum, fr.gcnt
    FROM pe JOIN fr ON fr.ord = pe.ord
    ORDER BY pe.event_id
"""


@pq("window_groups_frame_parity", _GROUPSF_SQL)
def window_groups_frame_parity(spark, sf_dir):
    """GROUPS-frame differential (the EXCLUDE entry's sibling): Spark
    aggregates once to the ord-value table (bounded by the value
    domain), runs the frame as rowsBetween(-2, +1) THERE — a peer
    group is exactly one row of that table — and broadcast-joins the
    per-ord frame aggregates back to the events. No fact-table window
    at all, so the rewrite is also the 100 TB plan."""
    pe = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
        )
        .withColumn("ord", F.expr("CAST(v DIV 1000 * 1000 AS BIGINT)"))
    )
    per_ord = pe.groupBy("ord").agg(
        F.sum("v").cast("bigint").alias("t"), F.count("*").cast("bigint").alias("n")
    )
    wv = Window.orderBy("ord").rowsBetween(-2, 1)
    frames = per_ord.select(
        "ord",
        F.sum("t").over(wv).cast("bigint").alias("gsum"),
        F.sum("n").over(wv).cast("bigint").alias("gcnt"),
    )
    return (
        pe.join(F.broadcast(frames), "ord")
        .select("event_id", "v", "ord", "gsum", "gcnt")
        .orderBy("event_id")
    )


# --- second-order QUALIFY -----------------------------------------------------------------------
# QUALIFY filtering on TWO windows at once (a rank and a partition
# mean): DuckDB evaluates the native QUALIFY clause; Spark computes
# both windows and filters — the decorrelated form Catalyst would
# produce for QUALIFY anyway. Revenue in exact cents; rank tie-broken
# on priority text.
_QUAL2_SQL = """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month_,
             o_orderpriority AS prio,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2)
    SELECT month_, prio, rev, rnk
    FROM (
      SELECT month_, prio, rev,
             rank() OVER (PARTITION BY month_ ORDER BY rev DESC, prio) AS rnk,
             CAST(avg(rev) OVER (PARTITION BY month_) AS DOUBLE) AS mavg
      FROM m)
    WHERE rnk <= 2 AND CAST(rev AS DOUBLE) >= mavg
    ORDER BY month_, rnk, prio
"""


@pq("qualify_rank_of_rank", _QUAL2_SQL)
def qualify_rank_of_rank(spark, sf_dir):
    """Two-window QUALIFY: keep per-month priority revenues that are
    both top-2 ranked AND at/above the month mean. Spark evaluates the
    rank and the partition mean in one window pass over the month
    aggregate (domain-sized, not fact-sized) and filters; the mean
    comparison is exact-int-sum-derived double on both engines."""
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month_"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("bigint").alias("rev")
        )
    )
    wr = Window.partitionBy("month_").orderBy(F.desc("rev"), "prio")
    wm = Window.partitionBy("month_")
    return (
        m.select(
            "month_", "prio", "rev",
            F.rank().over(wr).alias("rnk"),
            F.avg("rev").over(wm).cast("double").alias("mavg"),
        )
        .filter((F.col("rnk") <= 2) & (F.col("rev").cast("double") >= F.col("mavg")))
        .select("month_", "prio", "rev", "rnk")
        .orderBy("month_", "rnk", "prio")
    )


# =====================================================================
# Block D — SQL-surface differentials
# =====================================================================

# --- quantified comparisons (ANY / ALL) ----------------------------------------------------------
# DuckDB evaluates the native correlated `> ALL` / `< ANY`; Spark SQL
# has no quantified comparisons, so the engine uses the textbook
# decorrelation — per-nation customer extrema (one keyed agg) joined
# back, with the empty-group semantics (`> ALL {} = true`,
# `< ANY {} = false`) carried by the left join's NULL.
_QUANT_SQL = """
    SELECT s_suppkey,
           (s_acctbal > ALL (SELECT c_acctbal FROM customer c
                             WHERE c.c_nationkey = s.s_nationkey
                               AND c_acctbal IS NOT NULL)) AS beats_all,
           (s_acctbal < ANY (SELECT c_acctbal FROM customer c
                             WHERE c.c_nationkey = s.s_nationkey
                               AND c_acctbal IS NOT NULL)) AS below_some
    FROM supplier s
    ORDER BY s_suppkey
"""


@pq("sql_quantified_any_all", _QUANT_SQL)
def sql_quantified_any_all(spark, sf_dir):
    """Quantified-comparison parity: `> ALL` / `< ANY` correlated
    subqueries decorrelated into per-nation max/min (one keyed agg
    over customers, broadcast back to suppliers) — including the empty
    domain: a nation with no customers makes `> ALL` TRUE and `< ANY`
    FALSE, carried by coalesce over the left join."""
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    ext = cust.filter(F.col("c_acctbal").isNotNull()).groupBy("c_nationkey").agg(
        F.max("c_acctbal").alias("cmax"), F.min("c_acctbal").alias("cmin")
    )
    return (
        sup.join(F.broadcast(ext), sup.s_nationkey == ext.c_nationkey, "left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("s_acctbal") > F.col("cmax"), F.lit(True)).alias("beats_all"),
            F.coalesce(F.col("s_acctbal") < F.col("cmax"), F.lit(False)).alias("below_some"),
        )
        .orderBy("s_suppkey")
    )


# --- GROUPING SETS + grouping bits ----------------------------------------------------------------
# grouping_id bit-composition parity: both engines compose the bits
# EXPLICITLY (2*GROUPING(status) + GROUPING(prio)) so neither side
# depends on its engine's native grouping_id bit order.
_GRPID_SQL = """
    SELECT coalesce(o_orderstatus, '(all)') AS status_,
           coalesce(o_orderpriority, '(all)') AS prio_,
           2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS rev
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY gid, status_, prio_
"""


@pq("sql_grouping_id_sets", _GRPID_SQL)
def sql_grouping_id_sets(spark, sf_dir):
    """GROUPING SETS with explicit grouping-bit composition. The
    '(all)' coalesce disambiguates real NULL keys from the rollup's
    generated NULLs — the classic grouping() use. One shuffle, three
    grouping sets computed in the same pass on both engines."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_r14_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '(all)') AS status_,
               coalesce(o_orderpriority, '(all)') AS prio_,
               2 * grouping(o_orderstatus) + grouping(o_orderpriority) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS rev
        FROM _r14_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, status_, prio_
        """
    ).select(
        "status_", "prio_", F.col("gid").cast("int").alias("gid"), "n", "rev"
    )


# --- aggregate FILTER clause ----------------------------------------------------------------------
_AGGFILT_SQL = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month_,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS urgent_rev,
           CAST(count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus <> 'F')
                AS BIGINT) AS open_custs
    FROM orders
    GROUP BY 1 ORDER BY 1
"""


@pq("sql_agg_filter_clause", _AGGFILT_SQL)
def sql_agg_filter_clause(spark, sf_dir):
    """SQL:2003 aggregate FILTER clause parity, run as literal SQL on
    BOTH engines (Spark supports FILTER since 3.0) — count, filtered
    count, filtered exact-cents sum, and a filtered COUNT(DISTINCT)
    in one grouped pass. NULL-when-empty semantics carried by the sum
    (a month with no urgent orders yields NULL, both engines)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_r14_orders_f")
    return spark.sql(
        """
        SELECT date_format(o_orderdate, 'yyyy-MM') AS month_,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                        FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS urgent_rev,
               CAST(count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus <> 'F')
                    AS BIGINT) AS open_custs
        FROM _r14_orders_f
        GROUP BY 1 ORDER BY 1
        """
    )


# --- mixed NULLS FIRST/LAST multi-key ordering ---------------------------------------------------
# Planted NULLs (urgent priority nulled out), then a PER-MONTH
# row_number under ASC NULLS LAST + DESC NULLS FIRST mixed keys — the
# partitioned form of the ordering surface (never a global sort; the
# order-checksum entry already covers whole-table ordering).
_NULLORD_SQL = """
    WITH o AS (
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m') AS month_,
             nullif(o_orderpriority, '1-URGENT') AS prio_n,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders)
    SELECT month_,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(rn * o_orderkey % 1000003) AS BIGINT) AS ord_checksum
    FROM (
      SELECT month_, o_orderkey,
             row_number() OVER (PARTITION BY month_
                                ORDER BY prio_n ASC NULLS LAST,
                                         cents DESC,
                                         o_orderkey) AS rn
      FROM o)
    GROUP BY 1 ORDER BY 1
"""


@pq("sql_order_nulls_mixed", _NULLORD_SQL)
def sql_order_nulls_mixed(spark, sf_dir):
    """Mixed NULLS FIRST/LAST ordering parity: planted NULL priorities
    must sort LAST under ASC (overriding Spark's asc-nulls-first
    default) while cents sort DESC, o_orderkey completing the total
    order; the per-month rank checksum catches any divergence without
    materializing the permutation."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month_"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_n"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("month_").orderBy(
        F.col("prio_n").asc_nulls_last(), F.col("cents").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .groupBy("month_")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("rn") * F.col("o_orderkey") % 1000003)
            .cast("bigint").alias("ord_checksum"),
        )
        .orderBy("month_")
    )


# --- PIVOT statement ------------------------------------------------------------------------------
# The SQL PIVOT statement (not the DataFrame API — pivot_type_counts
# covers that): both engines pivot month x status into wide columns
# with exact-cents sums. Spark's PIVOT ... IN requires the explicit
# value list; DuckDB's dedicated PIVOT syntax takes the same list so
# neither engine infers columns.
_PIVOTS_SQL = """
    SELECT month_,
           CAST(coalesce("F", 0) AS BIGINT) AS rev_f,
           CAST(coalesce("O", 0) AS BIGINT) AS rev_o,
           CAST(coalesce("P", 0) AS BIGINT) AS rev_p
    FROM (
      PIVOT (SELECT strftime(o_orderdate, '%Y-%m') AS month_,
                    o_orderstatus AS st,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             FROM orders)
      ON st IN ('F', 'O', 'P')
      USING sum(cents)
      GROUP BY month_)
    ORDER BY month_
"""


@pq("sql_pivot_statement", _PIVOTS_SQL)
def sql_pivot_statement(spark, sf_dir):
    """SQL PIVOT statement parity with an explicit value list (month x
    order status -> wide revenue columns, exact cents, absent cells
    coalesced to 0). One shuffle on month — the pivot aggregates
    map-side per status like any hash agg."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_r14_orders_p")
    return spark.sql(
        """
        SELECT month_,
               CAST(coalesce(F, 0) AS BIGINT) AS rev_f,
               CAST(coalesce(O, 0) AS BIGINT) AS rev_o,
               CAST(coalesce(P, 0) AS BIGINT) AS rev_p
        FROM (
          SELECT * FROM (
            SELECT date_format(o_orderdate, 'yyyy-MM') AS month_,
                   o_orderstatus AS st,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM _r14_orders_p)
          PIVOT (sum(cents) FOR st IN ('F' AS F, 'O' AS O, 'P' AS P)))
        ORDER BY month_
        """
    )


# =====================================================================
# Block E — retrieval & text analysis
# =====================================================================

# Shared tokenization contract (the setjoin/corpus discipline): lower,
# whitespace-normalized split, token length >= 3.
_TOK14 = """
      SELECT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
      WHERE length(t) >= 3
"""


def _tok14(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    return (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") >= 3)
    )


# --- Dirichlet-smoothed query likelihood ----------------------------------------------------------
# LM retrieval scoring (Zhai & Lafferty): score(d, q) = sum over query
# terms of ln((tf + MU*cf/|C|) / (|d| + MU)), MU = 2000. Query terms
# are the corpus's own top-3 df tokens (deterministic on both
# engines: df desc, tok asc), so the query exists at every SF. Each
# ln term is pre-rounded at 9dp and summed as DECIMAL(28,9) —
# fold-order-free; every input to ln is the same IEEE double on both
# engines (integer counts + one division sequence).
_QLDIR_SQL = f"""
    WITH tok AS ({_TOK14}),
    qt AS (
      SELECT tok AS q_tok FROM (
        SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
      ORDER BY df DESC, tok LIMIT 3),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM tok GROUP BY 1),
    cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY 1),
    ctot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM tok),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
    terms AS (
      SELECT d.doc_id, q.q_tok,
             floor(ln((coalesce(t.tf, 0) + 2000.0 * cf.cf / ct.ct)
                      / (d.dlen + 2000.0)) * 1000000000 + 0.5) / 1000000000 AS lt
      FROM dl d
      CROSS JOIN qt q
      JOIN cf ON cf.tok = q.q_tok
      CROSS JOIN ctot ct
      LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.tok = q.q_tok)
    SELECT doc_id, score FROM (
      SELECT doc_id,
             CAST(sum(CAST(lt AS DECIMAL(28,9))) AS DOUBLE) AS score,
             row_number() OVER (
               ORDER BY sum(CAST(lt AS DECIMAL(28,9))) DESC, doc_id) AS rn
      FROM terms GROUP BY 1)
    WHERE rn <= 10
    ORDER BY score DESC, doc_id
"""


@pq("query_likelihood_dirichlet", _QLDIR_SQL)
def query_likelihood_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood top-10: postings aggregate
    once to tf/df/cf/doclen tables, the 3-term query (top-df tokens,
    derived identically on both engines) broadcasts against the
    doc-length table — 3 rows per doc, never |V| per doc — and each
    ln term pre-rounds at 9dp before the DECIMAL(28,9) fold. Smoothing
    means unmatched terms still contribute ln(MU*p(w|C)/(|d|+MU)), so
    the scoring join is dl x qt with tf LEFT-joined, exactly the
    streaming-scorer shape a 100 TB corpus wants. Every other statistic
    DERIVES from the (doc, tok) tf table — df is its per-token row
    count, dlen/cf/ct are its partial sums (same counts by
    construction: tf rows are unique per (doc, tok))."""
    tok = _tok14(spark, sf_dir)
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    qt = (
        tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
        .orderBy(F.desc("df"), "tok").limit(3)
        .select(F.col("tok").alias("q_tok"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dlen"))
    cf = tf.groupBy("tok").agg(F.sum("tf").cast("bigint").alias("cf"))
    ct = tf.agg(F.sum("tf").cast("bigint").alias("ct"))
    terms = (
        dl.crossJoin(F.broadcast(qt))
        .join(F.broadcast(cf), F.col("tok") == F.col("q_tok"))
        .crossJoin(F.broadcast(ct))
        .join(
            tf.withColumnsRenamed({"doc_id": "t_doc", "tok": "t_tok"}),
            (F.col("t_doc") == F.col("doc_id")) & (F.col("t_tok") == F.col("q_tok")),
            "left",
        )
        .select(
            "doc_id",
            (
                F.floor(
                    F.log(
                        (F.coalesce("tf", F.lit(0)) + 2000.0 * F.col("cf") / F.col("ct"))
                        / (F.col("dlen") + 2000.0)
                    ) * 1000000000 + F.lit(0.5)
                ) / 1000000000
            ).cast("decimal(28,9)").alias("lt"),
        )
    )
    scored = terms.groupBy("doc_id").agg(F.sum("lt").alias("s"))
    w = Window.orderBy(F.desc("s"), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", F.col("s").cast("double").alias("score"))
        .orderBy(F.desc("score"), "doc_id")
    )


# --- RAKE keyword extraction ----------------------------------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs (gaps-and-islands on
# the token stream), word score = degree/frequency where degree sums
# the lengths of phrases containing the word, phrase score = sum of
# its words' scores. Each deg/freq ratio pre-rounds at 9dp before the
# DECIMAL fold; top-3 phrases per doc on (score desc, phrase).
_STOPW = "('the','and','for','with','that','this','from','are','was','has','have','not')"
_RAKE_SQL = f"""
    WITH tk AS (
      SELECT doc_id, idx, tok,
             CASE WHEN tok IN {_STOPW} OR length(tok) < 3 THEN 1 ELSE 0 END AS is_stop
      FROM (
        SELECT doc_id,
               generate_subscripts(toks, 1) AS idx,
               unnest(toks) AS tok
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' ') AS toks
              FROM documents))
      WHERE tok <> ''),
    isl AS (
      SELECT doc_id, idx, tok, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY idx) AS island
      FROM tk),
    ph AS (
      SELECT doc_id, island,
             string_agg(tok, ' ' ORDER BY idx) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM isl WHERE is_stop = 0
      GROUP BY 1, 2
      HAVING count(*) <= 4),
    pw AS (
      SELECT doc_id, island, phrase, plen,
             unnest(string_split(phrase, ' ')) AS w
      FROM ph),
    ws AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM pw GROUP BY 1),
    psc AS (
      SELECT p.doc_id, p.island, p.phrase,
             CAST(sum(CAST(floor(CAST(ws.deg AS DOUBLE) / ws.freq * 1000000000 + 0.5)
                           / 1000000000 AS DECIMAL(28,9))) AS DOUBLE) AS score
      FROM pw p JOIN ws ON ws.w = p.w
      GROUP BY 1, 2, 3)
    SELECT doc_id, phrase, floor(score * 1000000 + 0.5) / 1000000 AS score
    FROM (SELECT doc_id, phrase, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, phrase) AS rn
          FROM (SELECT doc_id, phrase, max(score) AS score
                FROM psc GROUP BY 1, 2))
    WHERE rn <= 3
    ORDER BY doc_id, score DESC, phrase
"""


@pq("text_rake_keywords", _RAKE_SQL)
def text_rake_keywords(spark, sf_dir):
    """RAKE keywords: stopword gaps-and-islands (posexplode + a
    running stop count per doc — partitioned window, never global),
    phrase table grouped per island, corpus-wide word degree/freq from
    ONE keyed agg over phrase words, scores joined back postings-style
    on the word key (Catalyst broadcasts it while the vocabulary is
    small; at corpus scale the same plan shuffles — the BM25
    discipline, never a driver-side vocabulary). deg/freq pre-rounds
    at 9dp; per-doc top-3 on (score desc, phrase)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " ")), " "
    )
    tk = (
        docs.select("doc_id", F.posexplode(toks).alias("idx0", "tok"))
        .filter(F.col("tok") != "")
        .select(
            "doc_id", (F.col("idx0") + 1).alias("idx"), "tok",
            F.when(
                F.col("tok").isin(
                    "the", "and", "for", "with", "that", "this", "from",
                    "are", "was", "has", "have", "not",
                ) | (F.length("tok") < 3),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("is_stop"),
        )
    )
    wisl = Window.partitionBy("doc_id").orderBy("idx")
    isl = tk.withColumn("island", F.sum("is_stop").over(wisl))
    ph = (
        isl.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
    )
    pw = ph.select("doc_id", "island", "phrase", "plen", F.explode(F.split("phrase", " ")).alias("w"))
    ws = pw.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    term = (
        F.floor(F.col("deg").cast("double") / F.col("freq") * 1000000000 + F.lit(0.5))
        / 1000000000
    ).cast("decimal(28,9)")
    psc = (
        pw.join(ws, "w")
        .groupBy("doc_id", "island", "phrase")
        .agg(F.sum(term).cast("double").alias("score"))
        .groupBy("doc_id", "phrase")
        .agg(F.max("score").alias("score"))
    )
    wtop = Window.partitionBy("doc_id").orderBy(F.desc("score"), "phrase")
    return (
        psc.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "phrase", half_up(F.col("score")).alias("score"))
        .orderBy("doc_id", F.desc("score"), "phrase")
    )


# --- suffix-stripping stems (Porter step-1 "lite") ------------------------------------------------
# A fixed, documented 6-rule suffix chain (sses->ss, ies->i, trailing
# s after a non-s, ing/ed dropped when a vowel remains, trailing
# doubled consonant collapsed after ing/ed removal) — deterministic
# string logic both engines express with the same CASE/regexp chain.
# NOT full Porter (no measure m); the differential pins the rule
# chain, which is the part an engine can get wrong.
_STEM_CASE = """
      CASE
        WHEN tok LIKE '%sses' THEN substr(tok, 1, length(tok) - 2)
        WHEN tok LIKE '%ies' THEN substr(tok, 1, length(tok) - 2)
        WHEN tok LIKE '%ss' THEN tok
        WHEN tok LIKE '%s' AND length(tok) > 3 THEN substr(tok, 1, length(tok) - 1)
        ELSE tok
      END
"""
_STEM2_TMPL = """
      CASE
        WHEN {s} LIKE '%ing' AND length({s}) > 5
             AND regexp_matches(substr({s}, 1, length({s}) - 3), '[aeiou]')
          THEN substr({s}, 1, length({s}) - 3)
        WHEN {s} LIKE '%ed' AND length({s}) > 4
             AND regexp_matches(substr({s}, 1, length({s}) - 2), '[aeiou]')
          THEN substr({s}, 1, length({s}) - 2)
        ELSE {s}
      END
"""
_STEM_SQL = f"""
    WITH tok AS ({_TOK14}),
    s1 AS (SELECT doc_id, {_STEM_CASE} AS s FROM tok),
    s2 AS (SELECT doc_id, {_STEM2_TMPL.format(s='s')} AS s FROM s1),
    s3 AS (
      SELECT doc_id,
             CASE WHEN length(s) > 3
                       AND substr(s, length(s), 1) = substr(s, length(s) - 1, 1)
                       AND NOT regexp_matches(substr(s, length(s), 1), '[aeiouls]')
                  THEN substr(s, 1, length(s) - 1) ELSE s END AS stem
      FROM s2)
    SELECT stem,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM s3 GROUP BY 1
    ORDER BY n DESC, stem LIMIT 25
"""


@pq("text_porter_stems_lite", _STEM_SQL)
def text_porter_stems_lite(spark, sf_dir):
    """Suffix-stripping stem profile (top-25 stems): the 6-rule chain
    runs inside one whole-stage-codegen projection — string CASE +
    substr + one vowel regexp per rule, no UDF — then a single keyed
    agg. The chain is applied in three explicit stages exactly as the
    oracle's CTEs sequence them (plural, ing/ed, doubled consonant)."""
    tok = _tok14(spark, sf_dir)
    t = F.col("tok")
    s1 = (
        F.when(t.rlike("sses$"), F.expr("substr(tok, 1, length(tok) - 2)"))
        .when(t.rlike("ies$"), F.expr("substr(tok, 1, length(tok) - 2)"))
        .when(t.rlike("ss$"), t)
        .when(t.rlike("s$") & (F.length(t) > 3), F.expr("substr(tok, 1, length(tok) - 1)"))
        .otherwise(t)
    )
    st1 = tok.select("doc_id", s1.alias("s"))
    s = F.col("s")
    s2 = (
        F.when(
            s.rlike("ing$") & (F.length(s) > 5)
            & F.expr("substr(s, 1, length(s) - 3)").rlike("[aeiou]"),
            F.expr("substr(s, 1, length(s) - 3)"),
        )
        .when(
            s.rlike("ed$") & (F.length(s) > 4)
            & F.expr("substr(s, 1, length(s) - 2)").rlike("[aeiou]"),
            F.expr("substr(s, 1, length(s) - 2)"),
        )
        .otherwise(s)
    )
    st2 = st1.select("doc_id", s2.alias("s"))
    last = F.expr("substr(s, length(s), 1)")
    prev = F.expr("substr(s, length(s) - 1, 1)")
    s3 = F.when(
        (F.length(s) > 3) & (last == prev) & ~last.rlike("[aeiouls]"),
        F.expr("substr(s, 1, length(s) - 1)"),
    ).otherwise(s)
    return (
        st2.select("doc_id", s3.alias("stem"))
        .groupBy("stem")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_distinct("doc_id").cast("bigint").alias("df"),
        )
        .orderBy(F.desc("n"), "stem")
        .limit(25)
    )


# --- Rocchio relevance feedback -------------------------------------------------------------------
# q' = a*q0 + b*mean(rel) - g*mean(nonrel) per dimension, with q0 the
# min-id vector, rel = its label. Component means derive from 9dp
# pre-rounded DECIMAL sums (fold-order-free — the float components
# themselves are engine-identical parquet values) and ONE double
# division; a/b/g are 2dp literals.
_ROCCHIO_SQL = """
    WITH q0 AS (
      SELECT embedding, label FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    comp AS (
      SELECT e.vec_id,
             CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS rel,
             i.i AS dim,
             CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1000000000 + 0.5)
                  / 1000000000 AS DECIMAL(28,9)) AS x
      FROM embeddings e
      CROSS JOIN q0 q
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
      WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)),
    agg AS (
      SELECT dim,
             CAST(sum(x) FILTER (WHERE rel = 1) AS DOUBLE)
               / count(*) FILTER (WHERE rel = 1) AS mrel,
             CAST(sum(x) FILTER (WHERE rel = 0) AS DOUBLE)
               / count(*) FILTER (WHERE rel = 0) AS mnon
      FROM comp GROUP BY 1),
    qv AS (
      SELECT i.i AS dim,
             CAST(q.embedding[i.i] AS DOUBLE) AS q0c
      FROM q0 q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i)
    SELECT a.dim,
           floor((1.0 * qv.q0c + 0.75 * a.mrel - 0.15 * a.mnon) * 1000000 + 0.5)
             / 1000000 AS q_new
    FROM agg a JOIN qv ON qv.dim = a.dim
    ORDER BY a.dim
"""


@pq("rocchio_relevance_vector", _ROCCHIO_SQL)
def rocchio_relevance_vector(spark, sf_dir):
    """Rocchio feedback vector (a=1, b=0.75, g=0.15): components
    posexplode to (vec_id, dim, x) rows, ONE keyed agg per dim over
    9dp-pre-rounded DECIMAL sums splits rel/nonrel via FILTER-style
    conditional aggregates, and the 64-row result joins the broadcast
    q0 components. Dim-partitioned all the way — no vector ever
    gathers to one task."""
    emb = _t(spark, sf_dir, "embeddings")
    q0id = emb.agg(F.min("vec_id").alias("m"))
    q0 = emb.join(F.broadcast(q0id), emb.vec_id == F.col("m")).select(
        F.col("embedding").alias("q_emb"), F.col("label").alias("q_label")
    )
    comp = (
        emb.join(F.broadcast(q0id), emb.vec_id != F.col("m"))
        .crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
            F.posexplode(F.col("embedding")).alias("dim0", "x0"),
        )
        .select(
            "vec_id", "rel", (F.col("dim0") + 1).alias("dim"),
            (
                F.floor(F.col("x0").cast("double") * 1000000000 + F.lit(0.5))
                / 1000000000
            ).cast("decimal(28,9)").alias("x"),
        )
    )
    agg = comp.groupBy("dim").agg(
        (
            F.sum(F.when(F.col("rel") == 1, F.col("x"))).cast("double")
            / F.count(F.when(F.col("rel") == 1, F.lit(1)))
        ).alias("mrel"),
        (
            F.sum(F.when(F.col("rel") == 0, F.col("x"))).cast("double")
            / F.count(F.when(F.col("rel") == 0, F.lit(1)))
        ).alias("mnon"),
    )
    qv = q0.select(F.posexplode(F.col("q_emb")).alias("dim0", "q0c")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("q0c").cast("double").alias("q0c")
    )
    return (
        agg.join(F.broadcast(qv), "dim")
        .select(
            "dim",
            (
                F.floor(
                    (1.0 * F.col("q0c") + 0.75 * F.col("mrel") - 0.15 * F.col("mnon"))
                    * 1000000 + F.lit(0.5)
                ) / 1000000
            ).alias("q_new"),
        )
        .orderBy("dim")
    )


# --- sentence statistics --------------------------------------------------------------------------
_SENT_SQL = """
    WITH sen AS (
      SELECT doc_id, trim(s) AS s
      FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents)
      WHERE trim(s) <> '')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(length(s)) AS BIGINT) AS total_chars,
           CAST(max(length(s)) AS BIGINT) AS max_chars,
           floor(CAST(sum(length(s)) AS DOUBLE) / count(*) * 1000000 + 0.5)
             / 1000000 AS mean_chars
    FROM sen GROUP BY 1 ORDER BY 1
"""


@pq("text_sentence_stats", _SENT_SQL)
def text_sentence_stats(spark, sf_dir):
    """Rule-based sentence segmentation ([.!?]+ boundaries, trimmed,
    empties dropped) with per-doc count/total/max/mean — integers plus
    ONE pinned division. Splitting is a codegen projection; stats are
    one keyed agg."""
    docs = _t(spark, sf_dir, "documents")
    sen = (
        docs.select("doc_id", F.explode(F.split("text", r"[.!?]+")).alias("s0"))
        .select("doc_id", F.trim("s0").alias("s"))
        .filter(F.col("s") != "")
    )
    return (
        sen.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sentences"),
            F.sum(F.length("s")).cast("bigint").alias("total_chars"),
            F.max(F.length("s")).cast("bigint").alias("max_chars"),
            (
                F.floor(
                    F.sum(F.length("s")).cast("double") / F.count("*") * 1000000
                    + F.lit(0.5)
                ) / 1000000
            ).alias("mean_chars"),
        )
        .orderBy("doc_id")
    )


# =====================================================================
# Block F — finance / ops-research
# =====================================================================

# --- anchored VWAP ---------------------------------------------------------------------------------
# Month-anchored VWAP over purchase events: price in exact cents, a
# deterministic integer quantity (event_id % 5 + 1), cumulative
# price*qty and qty as BIGINT windows within the month partition, ONE
# pinned division at month end. Output = month-end VWAP per month.
_VWAP_SQL = """
    WITH pe AS (
      SELECT strftime(ts, '%Y-%m') AS month_, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CAST(event_id % 5 + 1 AS BIGINT) AS qty
      FROM events WHERE event_type = 'purchase'),
    cum AS (
      SELECT month_, ts, event_id,
             CAST(sum(cents * qty) OVER (PARTITION BY month_
                  ORDER BY ts, event_id) AS BIGINT) AS pv,
             CAST(sum(qty) OVER (PARTITION BY month_
                  ORDER BY ts, event_id) AS BIGINT) AS q,
             row_number() OVER (PARTITION BY month_
                  ORDER BY ts DESC, event_id DESC) AS rn
      FROM pe)
    SELECT month_, pv, q,
           floor(CAST(pv AS DOUBLE) / q / 100.0 * 1000000 + 0.5) / 1000000 AS vwap
    FROM cum WHERE rn = 1 ORDER BY month_
"""


@pq("vwap_anchored_monthly", _VWAP_SQL)
def vwap_anchored_monthly(spark, sf_dir):
    """Anchored VWAP: per-month partitioned cumulative BIGINT windows
    (never a global sort), the month-end row picked by a reverse
    row_number in the same partition pass, one pinned double division
    at the very end. The anchor IS the partition key, so 100 TB of
    ticks still spread across months x hash buckets."""
    pe = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_format("ts", "yyyy-MM").alias("month_"), "ts", "event_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
            (F.col("event_id") % 5 + 1).cast("long").alias("qty"),
        )
    )
    wf = Window.partitionBy("month_").orderBy("ts", "event_id")
    wr = Window.partitionBy("month_").orderBy(F.desc("ts"), F.desc("event_id"))
    cum = pe.select(
        "month_",
        F.sum(F.col("cents") * F.col("qty")).over(wf).cast("bigint").alias("pv"),
        F.sum("qty").over(wf).cast("bigint").alias("q"),
        F.row_number().over(wr).alias("rn"),
    )
    return (
        cum.filter(F.col("rn") == 1)
        .select(
            "month_", "pv", "q",
            (
                F.floor(F.col("pv").cast("double") / F.col("q") / 100.0 * 1000000 + F.lit(0.5))
                / 1000000
            ).alias("vwap"),
        )
        .orderBy("month_")
    )


# --- RiskMetrics EWMA volatility -------------------------------------------------------------------
# Daily simple returns from the exact-cents revenue series (one
# int->double conversion + one division each), then the classic
# lambda=0.94 EWMA variance recursion seeded with r1^2 — the identical
# IEEE multiply/add chain on both engines (RSI/Holt discipline),
# bounded by the calendar.
_EWMAV_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (
      SELECT d, CAST(c AS DOUBLE) / 100.0 AS z,
             row_number() OVER (ORDER BY d) AS i
      FROM daily),
    ret AS (
      SELECT b.i - 1 AS i, b.d, b.z / a.z - 1.0 AS r
      FROM ser a JOIN ser b ON b.i = a.i + 1),
    rec AS (
      SELECT i, d, r, r * r AS v FROM ret WHERE i = 1
      UNION ALL
      SELECT t.i, t.d, t.r, 0.94 * rec.v + 0.06 * t.r * t.r
      FROM rec JOIN ret t ON t.i = rec.i + 1)
    SELECT d,
           floor(r * 1000000 + 0.5) / 1000000 AS ret,
           floor(sqrt(v) * 1000000 + 0.5) / 1000000 AS vol
    FROM rec ORDER BY d
"""


@pq("ewma_volatility_riskmetrics", _EWMAV_SQL)
def ewma_volatility_riskmetrics(spark, sf_dir):
    """RiskMetrics EWMA volatility: the day aggregation is distributed
    (exact BIGINT cents); the recursion itself is bounded by the
    CALENDAR, not the data volume, so the driver-side fold over ~30
    day rows replays the oracle CTE's IEEE sequence bit-for-bit."""
    import pandas as pd

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("bigint").alias("c")
        )
        .orderBy("d")
        .collect()
    )
    zs = [(r["d"], r["c"] / 100.0) for r in daily]
    rows, v = [], None
    for k in range(1, len(zs)):
        d, z = zs[k]
        r = z / zs[k - 1][1] - 1.0
        v = r * r if v is None else 0.94 * v + 0.06 * r * r
        rows.append((d, r, v))
    out = spark.createDataFrame(pd.DataFrame(rows, columns=["d", "r", "v"]))
    return out.select(
        "d", half_up(F.col("r")).alias("ret"), half_up(F.sqrt(F.col("v"))).alias("vol")
    ).orderBy("d")


# --- cash conversion cycle (proxy components) ------------------------------------------------------
# Monthly CCC = DSO + DIO - DPO from documented PROXIES, every
# component 30x a ratio of exact integer sums pinned at 6dp:
# DSO ~ open-order revenue share, DIO ~ slow-shipping line share
# (ship > 60 days after order), DPO ~ discounted-line share.
_CCC_SQL = """
    WITH om AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month_,
             o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    rev AS (
      SELECT month_,
             CAST(sum(cents) AS BIGINT) AS total_rev,
             CAST(coalesce(sum(cents) FILTER (WHERE o_orderstatus = 'O'), 0)
                  AS BIGINT) AS open_rev
      FROM om GROUP BY 1),
    ln_ AS (
      SELECT om.month_,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(coalesce(sum(CASE WHEN l.l_shipdate > om.o_orderdate + INTERVAL 60 DAY
                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS slow_lines,
             CAST(coalesce(sum(CASE WHEN l.l_discount > 0.05 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS disc_lines
      FROM om JOIN lineitem l ON l.l_orderkey = om.o_orderkey
      GROUP BY 1)
    SELECT r.month_,
           floor(30.0 * r.open_rev / r.total_rev * 1000000 + 0.5) / 1000000 AS dso,
           floor(30.0 * ln_.slow_lines / ln_.n_lines * 1000000 + 0.5) / 1000000 AS dio,
           floor(30.0 * ln_.disc_lines / ln_.n_lines * 1000000 + 0.5) / 1000000 AS dpo,
           floor((30.0 * r.open_rev / r.total_rev
                  + 30.0 * ln_.slow_lines / ln_.n_lines
                  - 30.0 * ln_.disc_lines / ln_.n_lines) * 1000000 + 0.5) / 1000000 AS ccc
    FROM rev r JOIN ln_ ON ln_.month_ = r.month_
    ORDER BY r.month_
"""


@pq("cash_conversion_cycle", _CCC_SQL)
def cash_conversion_cycle(spark, sf_dir):
    """Cash-conversion-cycle proxies: two keyed aggs (orders by month;
    order-lines joined once on the order key, aggregated by month) and
    pinned ratio arithmetic. The order-line join is the usual
    orderkey-bucketed shuffle; no month ever concentrates into one
    task beyond its own rows."""
    om = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month_"),
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )
    rev = om.groupBy("month_").agg(
        F.sum("cents").cast("bigint").alias("total_rev"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("cents"))), F.lit(0)
        ).cast("bigint").alias("open_rev"),
    )
    li = _t(spark, sf_dir, "lineitem")
    ln = (
        om.join(li, om.o_orderkey == li.l_orderkey)
        .groupBy("month_")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60), 1
                ).otherwise(0)
            ).cast("bigint").alias("slow_lines"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
            .cast("bigint").alias("disc_lines"),
        )
    )
    dso = 30.0 * F.col("open_rev") / F.col("total_rev")
    dio = 30.0 * F.col("slow_lines") / F.col("n_lines")
    dpo = 30.0 * F.col("disc_lines") / F.col("n_lines")
    return (
        rev.join(ln, "month_")
        .select(
            "month_", half_up(dso).alias("dso"), half_up(dio).alias("dio"),
            half_up(dpo).alias("dpo"), half_up(dso + dio - dpo).alias("ccc"),
        )
        .orderBy("month_")
    )


# --- CPR prepayment amortization schedule ----------------------------------------------------------
# Level-payment loan with constant prepayment: principal = the first
# month's exact revenue cents (data-tied), i = 0.005/month, n = 36,
# SMM = 0.005 (given as a literal — deriving it from CPR needs pow).
# The annuity factor f = (1+i)^n comes from the same multiply CHAIN in
# both engines (never pow), then B_t = B_{t-1}*(1+i) - A - SMM*(...)
# replays identically. Amounts floored to cents per step so the
# trajectory stays on the integer grid.
_CPR_SQL = """
    WITH RECURSIVE m0 AS (
      SELECT CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS p0
      FROM events WHERE strftime(ts, '%Y-%m') = (SELECT min(strftime(ts, '%Y-%m')) FROM events)),
    fchain AS (
      SELECT 0 AS k, CAST(1.0 AS DOUBLE) AS f
      UNION ALL
      SELECT k + 1, f * 1.005 FROM fchain WHERE k < 36),
    ann AS (
      SELECT m0.p0,
             CAST(m0.p0 AS DOUBLE) * 0.005 * f.f / (f.f - 1.0) AS pay
      FROM m0, (SELECT f FROM fchain WHERE k = 36) f),
    sched AS (
      SELECT 0 AS t, CAST(p0 AS DOUBLE) AS bal, pay,
             CAST(0.0 AS DOUBLE) AS interest, CAST(0.0 AS DOUBLE) AS prepay
      FROM ann
      UNION ALL
      SELECT t + 1,
             floor(((bal + bal * 0.005 - pay)
                    - 0.005 * (bal + bal * 0.005 - pay)) * 100 + 0.5) / 100,
             pay,
             bal * 0.005,
             0.005 * (bal + bal * 0.005 - pay)
      FROM sched WHERE t < 12 AND bal > 0)
    SELECT t,
           floor(bal * 1000000 + 0.5) / 1000000 AS balance,
           floor(interest * 1000000 + 0.5) / 1000000 AS interest,
           floor(prepay * 1000000 + 0.5) / 1000000 AS prepay
    FROM sched WHERE t >= 1 ORDER BY t
"""


@pq("loan_prepay_cpr_schedule", _CPR_SQL)
def loan_prepay_cpr_schedule(spark, sf_dir):
    """12-month prepayment-adjusted amortization: the annuity factor
    comes from a 36-step multiply chain (pow is libm and engines
    disagree in the last ulp — the chain is exact IEEE), each month's
    ending balance floors to cents so the state re-anchors to the
    integer grid every step. Data-tied principal; recursion bounded by
    the term, not data."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM").alias("m"), "value"
    )
    mm = ev.agg(F.min("m").alias("mm"))  # 1-row scalar, broadcast
    m0 = (
        ev.join(F.broadcast(mm), F.col("m") == F.col("mm"))
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("bigint").alias("p0")
        )
        .collect()[0]["p0"]
    )
    f = 1.0
    for _ in range(36):
        f = f * 1.005
    pay = float(m0) * 0.005 * f / (f - 1.0)
    rows, bal = [], float(m0)
    import math

    for t in range(1, 13):
        if bal <= 0:
            break
        interest = bal * 0.005
        after = bal + bal * 0.005 - pay
        prepay = 0.005 * after
        bal = math.floor((after - prepay) * 100 + 0.5) / 100
        rows.append((t, bal, interest, prepay))
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["t", "bal", "interest", "prepay"])
    )
    return out.select(
        "t", half_up(F.col("bal")).alias("balance"),
        half_up(F.col("interest")).alias("interest"),
        half_up(F.col("prepay")).alias("prepay"),
    ).orderBy("t")


# --- CVP break-even --------------------------------------------------------------------------------
# Per-brand cost-volume-profit: ALL-INTEGER arithmetic — unit price =
# brand mean retail cents (exact integer division is avoided: price
# stays a SUM and a COUNT), variable cost = 3/5 of the summed cents,
# contribution = 2/5, fixed cost = total/10, break-even units =
# ceil-division on integers.
_CVP_SQL = """
    WITH b AS (
      SELECT p_brand,
             CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY 1)
    SELECT p_brand,
           cents, n,
           CAST((2 * cents) // (5 * n) AS BIGINT) AS unit_contrib_cents,
           CAST(cents // 10 AS BIGINT) AS fixed_cents,
           CAST((cents // 10 + (2 * cents) // (5 * n) - 1)
                // ((2 * cents) // (5 * n)) AS BIGINT) AS breakeven_units
    FROM b ORDER BY p_brand
"""


@pq("break_even_cvp", _CVP_SQL)
def break_even_cvp(spark, sf_dir):
    """CVP break-even per brand, end-to-end on the integer grid: unit
    contribution = floor(2*sum/5n) cents, fixed = floor(sum/10),
    break-even = ceil(F/c) via the (F + c - 1) DIV c identity. One
    keyed agg; zero float anywhere."""
    b = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.sum((F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("bigint").alias("cents"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    contrib = F.expr("CAST((2 * cents) DIV (5 * n) AS BIGINT)")
    fixed = F.expr("CAST(cents DIV 10 AS BIGINT)")
    return b.select(
        "p_brand", "cents", "n",
        contrib.alias("unit_contrib_cents"),
        fixed.alias("fixed_cents"),
        ((fixed + contrib - 1) / contrib).cast("bigint").alias("breakeven_units"),
    ).orderBy("p_brand")


# =====================================================================
# Block G — data-quality profiling
# =====================================================================

# --- second-digit Benford ---------------------------------------------------------------------------
# Companion of the registered first-digit entry: second significant
# digit of order totals (cents-grid integers), observed vs expected
# P(d) = sum over first digits of log10(1 + 1/(10*f + d)) — each log10
# term pre-rounded at 9dp and summed as DECIMAL (the expected table is
# 10 rows; both engines build it from the same literals), chi-square
# term pinned at 6dp.
_BENF2_SQL = """
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM orders
      WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 10),
    d2 AS (
      SELECT CAST((x // CAST(power(10, length(CAST(x AS VARCHAR)) - 2) AS BIGINT)) % 10
                  AS INT) AS d
      FROM v),
    obs AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM d2 GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM obs),
    exp AS (
      SELECT d.d,
             CAST(sum(CAST(floor(log10(1.0 + 1.0 / (10.0 * f.f + d.d))
                                 * 1000000000 + 0.5) / 1000000000
                           AS DECIMAL(28,9))) AS DOUBLE) AS p
      FROM (SELECT unnest(range(0, 10)) AS d) d
      CROSS JOIN (SELECT unnest(range(1, 10)) AS f) f
      GROUP BY 1)
    SELECT o.d,
           o.n,
           floor(e.p * 1000000 + 0.5) / 1000000 AS expected_p,
           floor((CAST(o.n AS DOUBLE) / t.t - e.p) * (CAST(o.n AS DOUBLE) / t.t - e.p)
                 / e.p * 1000000 + 0.5) / 1000000 AS chi_term
    FROM obs o JOIN exp e ON e.d = o.d CROSS JOIN tot t
    ORDER BY o.d
"""


@pq("benford_second_digit", _BENF2_SQL)
def benford_second_digit(spark, sf_dir):
    """Second-digit Benford audit: digit extraction on the integer
    grid (string length, never log-of-value), a 10-row expected table
    summed from 9dp-pre-rounded log10 literals, observed shares from
    one keyed agg + a 1-row total broadcast, chi-square terms pinned."""
    v = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("x"))
        .filter(F.col("x") >= 10)
    )
    d2 = v.select(
        F.expr(
            "CAST((x DIV CAST(power(10, length(CAST(x AS STRING)) - 2) AS BIGINT)) % 10 AS INT)"
        ).alias("d")
    )
    obs = d2.groupBy("d").agg(F.count("*").cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("t"))
    ds = spark.range(0, 10).select(F.col("id").cast("int").alias("d"))
    fs = spark.range(1, 10).select(F.col("id").cast("int").alias("f"))
    term = (
        F.floor(
            F.log10(1.0 + 1.0 / (10.0 * F.col("f") + F.col("d"))) * 1000000000
            + F.lit(0.5)
        ) / 1000000000
    ).cast("decimal(28,9)")
    exp = (
        ds.crossJoin(fs).groupBy("d").agg(F.sum(term).cast("double").alias("p"))
    )
    share = F.col("n").cast("double") / F.col("t")
    return (
        obs.join(F.broadcast(exp), "d")
        .crossJoin(F.broadcast(tot))
        .select(
            "d", "n", half_up(F.col("p")).alias("expected_p"),
            half_up((share - F.col("p")) * (share - F.col("p")) / F.col("p")).alias("chi_term"),
        )
        .orderBy("d")
    )


# --- per-column entropy profile ---------------------------------------------------------------------
# Normalized Shannon entropy of three categorical columns in one
# result: per-column value histograms (keyed aggs), each p*ln(p) term
# pre-rounded at 9dp and folded as DECIMAL, normalized by ln(k) the
# same way.
_ENTP_SQL = """
    WITH h AS (
      SELECT 'event_type' AS col_, event_type AS v, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 2
      UNION ALL
      SELECT 'lang', lang, CAST(count(*) AS BIGINT) FROM documents GROUP BY 2
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority, CAST(count(*) AS BIGINT)
      FROM orders GROUP BY 2),
    t AS (SELECT col_, CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS k
          FROM h GROUP BY 1),
    e AS (
      SELECT h.col_, t.k,
             CAST(sum(CAST(floor(-(CAST(h.n AS DOUBLE) / t.tot)
                                 * ln(CAST(h.n AS DOUBLE) / t.tot)
                                 * 1000000000 + 0.5) / 1000000000
                           AS DECIMAL(28,9))) AS DOUBLE) AS ent
      FROM h JOIN t ON t.col_ = h.col_
      GROUP BY 1, 2)
    SELECT col_, k,
           floor(ent * 1000000 + 0.5) / 1000000 AS entropy_nats,
           floor(CASE WHEN k > 1 THEN ent / ln(CAST(k AS DOUBLE)) ELSE 0.0 END
                 * 1000000 + 0.5) / 1000000 AS entropy_norm
    FROM e ORDER BY col_
"""


@pq("dq_column_entropy_profile", _ENTP_SQL)
def dq_column_entropy_profile(spark, sf_dir):
    """Column entropy profile across three tables in one union: value
    histograms are keyed aggs (domain-sized), -p*ln(p) terms pre-round
    at 9dp into a DECIMAL fold, normalization divides by ln(k) once.
    The union runs each branch's scan independently — no table waits
    on another."""
    from etl_mini_spark.session import pin

    ev = _t(spark, sf_dir, "events").groupBy(F.col("event_type").alias("v")).agg(
        F.count("*").cast("bigint").alias("n")
    ).select(F.lit("event_type").alias("col_"), "v", "n")
    dc = _t(spark, sf_dir, "documents").groupBy(F.col("lang").alias("v")).agg(
        F.count("*").cast("bigint").alias("n")
    ).select(F.lit("lang").alias("col_"), "v", "n")
    op = _t(spark, sf_dir, "orders").groupBy(F.col("o_orderpriority").alias("v")).agg(
        F.count("*").cast("bigint").alias("n")
    ).select(F.lit("o_orderpriority").alias("col_"), "v", "n")
    h = pin(ev.unionByName(dc).unionByName(op))  # unpinned: 0.42 s vs 0.33 s at sf0.1
    t = h.groupBy("col_").agg(
        F.sum("n").cast("bigint").alias("tot"), F.count("*").cast("bigint").alias("k")
    )
    p = F.col("n").cast("double") / F.col("tot")
    term = (
        F.floor(-p * F.log(p) * 1000000000 + F.lit(0.5)) / 1000000000
    ).cast("decimal(28,9)")
    e = (
        h.join(F.broadcast(t), "col_")
        .groupBy("col_", "k")
        .agg(F.sum(term).cast("double").alias("ent"))
    )
    return e.select(
        "col_", "k", half_up(F.col("ent")).alias("entropy_nats"),
        half_up(
            F.when(F.col("k") > 1, F.col("ent") / F.log(F.col("k").cast("double")))
            .otherwise(F.lit(0.0))
        ).alias("entropy_norm"),
    ).orderBy("col_")


# --- composite-key candidate audit -----------------------------------------------------------------
_KEYCAND_SQL = """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS rows_ FROM orders),
    c AS (
      SELECT 'o_orderkey' AS key_cols,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_custkey+o_orderdate',
             CAST(count(DISTINCT (CAST(o_custkey AS VARCHAR) || '|' ||
                                  strftime(o_orderdate, '%Y-%m-%d'))) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_custkey+o_orderdate+o_totalprice',
             CAST(count(DISTINCT (CAST(o_custkey AS VARCHAR) || '|' ||
                                  strftime(o_orderdate, '%Y-%m-%d') || '|' ||
                                  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                            AS BIGINT) AS VARCHAR))) AS BIGINT)
      FROM orders)
    SELECT c.key_cols, c.n_distinct, n.rows_,
           c.n_distinct = n.rows_ AS is_key,
           floor(CAST(c.n_distinct AS DOUBLE) / n.rows_ * 1000000 + 0.5)
             / 1000000 AS uniqueness
    FROM c CROSS JOIN n
    ORDER BY c.key_cols
"""


@pq("dq_composite_key_candidates", _KEYCAND_SQL)
def dq_composite_key_candidates(spark, sf_dir):
    """Candidate-key audit: distinct cardinality of four key combos
    (single columns and composites serialized with the same '|' wire
    format both engines) vs the row count — is_key flags + a pinned
    uniqueness ratio. Each combo is one distinct-agg; they union, so
    Spark runs them as independent stages."""
    o = _t(spark, sf_dir, "orders")
    n = o.agg(F.count("*").cast("bigint").alias("rows_"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    combos = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        (
            "o_custkey+o_orderdate",
            F.concat_ws(
                "|", F.col("o_custkey").cast("string"),
                F.date_format("o_orderdate", "yyyy-MM-dd"),
            ),
        ),
        (
            "o_custkey+o_orderdate+o_totalprice",
            F.concat_ws(
                "|", F.col("o_custkey").cast("string"),
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                cents.cast("string"),
            ),
        ),
    ]
    parts = None
    for name, expr in combos:
        d = o.select(expr.alias("k")).agg(
            F.lit(name).alias("key_cols"),
            F.count_distinct("k").cast("bigint").alias("n_distinct"),
        )
        parts = d if parts is None else parts.unionByName(d)
    return (
        parts.crossJoin(F.broadcast(n))
        .select(
            "key_cols", "n_distinct", "rows_",
            (F.col("n_distinct") == F.col("rows_")).alias("is_key"),
            half_up(F.col("n_distinct").cast("double") / F.col("rows_")).alias("uniqueness"),
        )
        .orderBy("key_cols")
    )


# =====================================================================
# Block H — graph link prediction & local structure
# =====================================================================

# Shared edge derivation: the >=2-co-order part graph (the registered
# triangle/pagerank entries' graph, rebuilt locally so this module
# stays self-contained). Order sizes are bounded (an order has a
# handful of lines), so the within-order pair explosion is O(rows),
# never O(parts^2).
_EDGE14 = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT p1, p2 FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2),
    und AS (SELECT p1 AS u, p2 AS v FROM e UNION ALL SELECT p2, p1 FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1)
"""


def _edges14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    from etl_mini_spark.session import pin

    # und references e twice and the wedge/adjacency joins up to 3x
    # more; unpinned: graph_adamic_adar_linkpred 2.96 s vs 1.68 s and
    # graph_local_clustering_coeff 2.37 s vs 1.88 s at sf0.1
    e = pin(
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").alias("w"))
        .filter("w >= 2")
        .select("p1", "p2")
    )
    und = e.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionByName(
        e.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    return e, und, deg


# --- Adamic-Adar link prediction --------------------------------------------------------------------
# AA(x, y) = sum over common neighbors z of 1/ln(deg z), for
# NON-adjacent pairs with >= 2 common neighbors. Candidates come only
# from wedge enumeration (two hops through a shared z) — never an
# all-pairs scan; each 1/ln term pre-rounds at 9dp into a DECIMAL
# fold. Top-15 by (score desc, x, y).
_AA_SQL = f"""
    WITH {_EDGE14},
    wedge AS (
      SELECT a.u AS x, b.u AS y, a.v AS z
      FROM und a JOIN und b ON a.v = b.v AND a.u < b.u),
    cand AS (
      SELECT w.x, w.y, w.z FROM wedge w
      LEFT JOIN e ON e.p1 = w.x AND e.p2 = w.y
      WHERE e.p1 IS NULL),
    sc AS (
      SELECT c.x, c.y,
             CAST(count(*) AS BIGINT) AS common_n,
             CAST(sum(CAST(floor(1.0 / ln(CAST(d.d AS DOUBLE)) * 1000000000 + 0.5)
                           / 1000000000 AS DECIMAL(28,9))) AS DOUBLE) AS aa
      FROM cand c JOIN deg d ON d.u = c.z
      WHERE d.d >= 2
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT x, y, common_n, floor(aa * 1000000 + 0.5) / 1000000 AS aa_score
    FROM sc
    ORDER BY aa_score DESC, x, y LIMIT 15
"""


@pq("graph_adamic_adar_linkpred", _AA_SQL)
def graph_adamic_adar_linkpred(spark, sf_dir):
    """Adamic-Adar link prediction over the co-purchase graph: wedges
    enumerate candidates through shared neighbors (one self-join on
    the neighbor key — candidate mass is Σ deg(z)², the same bound the
    triangle entry lives with), adjacency is removed by an anti join,
    degree weights join postings-style, 1/ln(d) pre-rounds at 9dp.
    Hub-degree-1 neighbors are excluded (ln 1 = 0 would divide by
    zero; a z with one neighbor forms no wedge anyway)."""
    e, und, deg = _edges14(spark, sf_dir)
    a, b = und.alias("a"), und.alias("b")
    wedge = a.join(
        b, (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u"))
    ).select(F.col("a.u").alias("x"), F.col("b.u").alias("y"), F.col("a.v").alias("z"))
    cand = wedge.join(
        e, (e.p1 == wedge.x) & (e.p2 == wedge.y), "left_anti"
    )
    term = (
        F.floor(1.0 / F.log(F.col("d").cast("double")) * 1000000000 + F.lit(0.5))
        / 1000000000
    ).cast("decimal(28,9)")
    sc = (
        cand.join(deg.filter(F.col("d") >= 2), cand.z == F.col("u"))
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("bigint").alias("common_n"),
            F.sum(term).cast("double").alias("aa"),
        )
        .filter(F.col("common_n") >= 2)
    )
    return (
        sc.select("x", "y", "common_n", half_up(F.col("aa")).alias("aa_score"))
        .orderBy(F.desc("aa_score"), "x", "y")
        .limit(15)
    )


# --- local clustering coefficient -------------------------------------------------------------------
# Per-node C(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) carried as the EXACT
# integer pair (2*tri, deg*(deg-1)) plus one pinned ratio — no float
# decides anything. Triangles per node from the standard oriented
# wedge-close join.
_LCC_SQL = f"""
    WITH {_EDGE14},
    tri AS (
      SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
    pertri AS (
      SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM pertri GROUP BY 1)
    SELECT d.u AS node,
           CAST(coalesce(t.t, 0) AS BIGINT) AS n_triangles,
           d.d AS degree,
           floor(CAST(2 * coalesce(t.t, 0) AS DOUBLE) / (d.d * (d.d - 1))
                 * 1000000 + 0.5) / 1000000 AS lcc
    FROM deg d LEFT JOIN tcnt t ON t.v = d.u
    WHERE d.d >= 2
    ORDER BY lcc DESC, node LIMIT 25
"""


@pq("graph_local_clustering_coeff", _LCC_SQL)
def graph_local_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient: per-node triangle counts from the
    oriented wedge-close join (each triangle found once, credited to
    its three corners), degree table joined back, the coefficient an
    integer-pair ratio pinned at 6dp. Top-25 with the (lcc, node)
    deterministic cut."""
    e, und, deg = _edges14(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.p2") == F.col("e2.p1"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .select(
            F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"),
            F.col("e2.p2").alias("c"),
        )
    )
    # explode the three corners inline instead of unionAll-ing three
    # selects over the SAME wedge-close join (the union re-ran the
    # two-join subtree once per corner; guide 2.4)
    pertri = tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
    tcnt = pertri.groupBy("v").agg(F.count("*").cast("bigint").alias("t"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcnt, deg.u == tcnt.v, "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.col("d").alias("degree"),
            half_up(
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("lcc"),
        )
        .orderBy(F.desc("lcc"), "node")
        .limit(25)
    )


# --- bipartite projection ---------------------------------------------------------------------------
# Users x event-types bipartite graph projected onto types: edge
# weight = number of users active in BOTH types. Per-user type sets
# are bounded by the type domain, so the within-user pair explosion
# is O(users * k^2) with tiny k — never a user x user join.
_BIPROJ_SQL = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    pr AS (
      SELECT a.event_type AS t1, b.event_type AS t2, a.user_id
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type)
    SELECT t1, t2, CAST(count(*) AS BIGINT) AS shared_users
    FROM pr GROUP BY 1, 2
    ORDER BY shared_users DESC, t1, t2
"""


@pq("graph_bipartite_projection", _BIPROJ_SQL)
def graph_bipartite_projection(spark, sf_dir):
    """Bipartite projection (users x types -> type co-activity): one
    distinct pass, a self-join keyed on user_id whose fan-out is the
    per-user type-set size (bounded by the type domain), one keyed
    agg. The projection never materializes user x user anything."""
    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count("*").cast("bigint").alias("shared_users"))
        .orderBy(F.desc("shared_users"), "t1", "t2")
    )


# =====================================================================
# Block I — lakehouse maintenance
# =====================================================================

# Deterministic synthetic file manifest shared by the maintenance
# entries: one "file" per (month, bucket) of orders with its exact row
# count and a size proxy (rows * 180 bytes) — both engines derive it
# with the same grouped scan.
_MANIFEST14 = """
    mf AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month_,
             CAST(o_orderkey % 8 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) * 180 AS BIGINT) AS bytes
      FROM orders GROUP BY 1, 2)
"""


def _manifest14(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month_"),
            (F.col("o_orderkey") % 8).cast("long").alias("bucket"),
        )
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .withColumn("bytes", (F.col("n_rows") * 180).cast("long"))
    )


# --- next-fit-decreasing compaction bins ------------------------------------------------------------
# Small-file compaction planning: files sorted (bytes desc, month,
# bucket), packed NEXT-FIT into 64 KB target bins — a running-sum
# reset recursion (the capped-sessions shape) that the oracle replays
# as a recursive CTE and Spark folds driver-side over the collected
# manifest (bounded by the FILE COUNT — a catalog, never data rows).
_NFD_SQL = f"""
    WITH RECURSIVE {_MANIFEST14},
    f AS (
      SELECT month_, bucket, bytes,
             row_number() OVER (ORDER BY bytes DESC, month_, bucket) AS i
      FROM mf),
    packed AS (
      SELECT i, month_, bucket, bytes, 1 AS bin,
             bytes AS fill
      FROM f WHERE i = 1
      UNION ALL
      SELECT t.i, t.month_, t.bucket, t.bytes,
             CASE WHEN p.fill + t.bytes <= 65536 THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + t.bytes <= 65536 THEN p.fill + t.bytes ELSE t.bytes END
      FROM packed p JOIN f t ON t.i = p.i + 1)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
    FROM packed GROUP BY 1 ORDER BY 1
"""


@pq("compaction_nfd_bins", _NFD_SQL)
def compaction_nfd_bins(spark, sf_dir):
    """Next-fit-decreasing compaction plan: the manifest aggregation is
    distributed; the packing itself is sequential BY DEFINITION and
    bounded by the file count (a table's catalog, thousands of rows at
    100 TB — not data), so the driver folds the sorted manifest while
    the oracle replays the identical recurrence as a CTE. All-integer
    state."""
    import pandas as pd

    files = (
        _manifest14(spark, sf_dir)
        .orderBy(F.desc("bytes"), "month_", "bucket")
        .collect()
    )
    rows, bin_, fill = [], 0, None
    for r in files:
        if fill is None or fill + r["bytes"] > 65536:
            bin_, fill = bin_ + 1, r["bytes"]
        else:
            fill += r["bytes"]
        rows.append((bin_, r["bytes"]))
    pdf = pd.DataFrame(rows, columns=["bin", "bytes"])
    out = spark.createDataFrame(pdf)
    return (
        out.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
        )
        .select(F.col("bin").cast("bigint").alias("bin"), "n_files", "bin_bytes")
        .orderBy("bin")
    )


# --- snapshot retention expiry ----------------------------------------------------------------------
# Retention policy over a deterministic snapshot log (3 snapshots/day
# derived from the order calendar): keep (a) the latest 5, (b) the
# last snapshot of each day for 7 days back from the newest, (c) the
# last snapshot of each ISO week otherwise — everything else expires.
# Pure rank/date arithmetic; flags computed identically on both
# engines.
_RETEN_SQL = """
    WITH days AS (SELECT DISTINCT o_orderdate AS d FROM orders),
    snaps AS (
      SELECT d, k AS snap_no,
             CAST(strftime(d, '%Y%m%d') AS BIGINT) * 10 + k AS snap_id
      FROM days CROSS JOIN (SELECT unnest(range(1, 4)) AS k)),
    mx AS (SELECT max(d) AS dmax FROM snaps),
    ranked AS (
      SELECT s.snap_id, s.d, s.snap_no,
             row_number() OVER (ORDER BY s.snap_id DESC) AS rn_global,
             row_number() OVER (PARTITION BY s.d ORDER BY s.snap_no DESC) AS rn_day,
             row_number() OVER (PARTITION BY strftime(s.d, '%G-%V')
                                ORDER BY s.snap_id DESC) AS rn_week,
             date_diff('day', s.d, mx.dmax) AS age_days
      FROM snaps s CROSS JOIN mx)
    SELECT snap_id,
           (rn_global <= 5) AS keep_latest,
           (rn_day = 1 AND age_days < 7) AS keep_daily,
           (rn_week = 1) AS keep_weekly,
           NOT (rn_global <= 5 OR (rn_day = 1 AND age_days < 7) OR rn_week = 1)
             AS expired
    FROM ranked
    ORDER BY snap_id
"""


@pq("snapshot_retention_expiry", _RETEN_SQL)
def snapshot_retention_expiry(spark, sf_dir):
    """Snapshot retention (keep latest-5 + daily-for-7d + weekly):
    three rank windows over the snapshot LOG (catalog-sized), ISO-week
    partitioning via the %G-%V key, age from a 1-row max broadcast.
    Every keep rule is a boolean column so the expiry set is
    auditable, not just deleted."""
    days = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("d")
    ).distinct()
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("snap_no"))
    snaps = days.crossJoin(F.broadcast(ks)).select(
        "d", "snap_no",
        (
            F.date_format("d", "yyyyMMdd").cast("bigint") * 10 + F.col("snap_no")
        ).alias("snap_id"),
    )
    mx = snaps.agg(F.max("d").alias("dmax"))
    wg = Window.orderBy(F.desc("snap_id"))
    wd = Window.partitionBy("d").orderBy(F.desc("snap_no"))
    # ISO week key: extract(YEAROFWEEK) + weekofyear match DuckDB's %G-%V
    iso_week = F.concat_ws(
        "-", F.expr("extract(YEAROFWEEK FROM d)"), F.weekofyear("d")
    )
    ww = Window.partitionBy(iso_week).orderBy(F.desc("snap_id"))
    ranked = snaps.crossJoin(F.broadcast(mx)).select(
        "snap_id",
        F.row_number().over(wg).alias("rn_global"),
        F.row_number().over(wd).alias("rn_day"),
        F.row_number().over(ww).alias("rn_week"),
        F.datediff(F.col("dmax"), F.col("d")).alias("age_days"),
    )
    keep_latest = F.col("rn_global") <= 5
    keep_daily = (F.col("rn_day") == 1) & (F.col("age_days") < 7)
    keep_weekly = F.col("rn_week") == 1
    return ranked.select(
        "snap_id",
        keep_latest.alias("keep_latest"),
        keep_daily.alias("keep_daily"),
        keep_weekly.alias("keep_weekly"),
        (~(keep_latest | keep_daily | keep_weekly)).alias("expired"),
    ).orderBy("snap_id")


# --- partition-spec evolution routing ---------------------------------------------------------------
# A table whose partition spec evolved at a cutover month: files
# written before it are partitioned by MONTH only (spec v1), after it
# by (month, bucket(4)) (spec v2). For three predicates, count files
# scanned under the mixed layout vs a full scan — the routing rule a
# reader must implement when specs evolve.
_SPECEVO_SQL = f"""
    WITH {_MANIFEST14},
    cut AS (
      SELECT month_ AS cutover FROM (
        SELECT month_, row_number() OVER (ORDER BY month_) AS rn,
               count(*) OVER () AS n
        FROM (SELECT DISTINCT month_ FROM mf))
      WHERE rn = (n + 1) // 2),
    files AS (
      SELECT m.month_,
             CASE WHEN m.month_ < c.cutover THEN 1 ELSE 2 END AS spec,
             CASE WHEN m.month_ < c.cutover THEN NULL
                  ELSE m.bucket % 4 END AS pbucket,
             m.bucket, m.n_rows
      FROM mf m CROSS JOIN cut c),
    agg AS (SELECT month_, spec, pbucket,
                   CAST(count(*) AS BIGINT) AS n_files,
                   CAST(sum(n_rows) AS BIGINT) AS n_rows
            FROM files GROUP BY 1, 2, 3),
    preds AS (
      SELECT 1 AS pred_id UNION ALL SELECT 2 UNION ALL SELECT 3)
    SELECT p.pred_id,
           CAST(sum(CASE
             WHEN p.pred_id = 1 AND a.month_ = (SELECT cutover FROM cut) THEN a.n_files
             WHEN p.pred_id = 2 AND (a.spec = 1 OR a.pbucket = 2) THEN a.n_files
             WHEN p.pred_id = 3 AND a.month_ >= (SELECT cutover FROM cut)
                  AND a.pbucket = 1 THEN a.n_files
             ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(a.n_files) AS BIGINT) AS files_total
    FROM preds p CROSS JOIN agg a
    GROUP BY 1 ORDER BY 1
"""


@pq("partition_spec_evolution_routing", _SPECEVO_SQL)
def partition_spec_evolution_routing(spark, sf_dir):
    """Partition-spec evolution: v1 files (month) cannot serve a
    bucket predicate — a bucket filter must scan ALL v1 files but only
    the matching v2 bucket (pred 2); a month point-lookup prunes under
    both specs (pred 1); a month-range + bucket predicate prunes to
    the v2 slice (pred 3). File counts per predicate are the audit a
    reader's routing logic must reproduce."""
    mf = _manifest14(spark, sf_dir)
    months = mf.select("month_").distinct()
    wm = Window.orderBy("month_")
    cut = (
        months.select(
            "month_", F.row_number().over(wm).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("month_").alias("cutover"))
    )
    files = mf.crossJoin(F.broadcast(cut)).select(
        "month_", "cutover",
        F.when(F.col("month_") < F.col("cutover"), 1).otherwise(2).alias("spec"),
        F.when(F.col("month_") < F.col("cutover"), F.lit(None).cast("long"))
        .otherwise(F.col("bucket") % 4).alias("pbucket"),
        "n_rows",
    )
    agg = files.groupBy("month_", "cutover", "spec", "pbucket").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows_g"),
    )
    preds = spark.range(1, 4).select(F.col("id").cast("int").alias("pred_id"))
    hit = (
        F.when((F.col("pred_id") == 1) & (F.col("month_") == F.col("cutover")), F.col("n_files"))
        .when((F.col("pred_id") == 2) & ((F.col("spec") == 1) | (F.col("pbucket") == 2)), F.col("n_files"))
        .when(
            (F.col("pred_id") == 3)
            & (F.col("month_") >= F.col("cutover"))
            & (F.col("pbucket") == 1),
            F.col("n_files"),
        )
        .otherwise(F.lit(0))
    )
    return (
        agg.crossJoin(F.broadcast(preds))
        .groupBy("pred_id")
        .agg(
            F.sum(hit).cast("bigint").alias("files_scanned"),
            F.sum("n_files").cast("bigint").alias("files_total"),
        )
        .orderBy("pred_id")
    )


# =====================================================================
# Block J — time-series symbolization & forecasting
# =====================================================================

# --- two-state Markov chain -------------------------------------------------------------------------
# Daily revenue above/below the mean (an INTEGER comparison:
# c*N > total — no division ever decides the state), transition
# counts from a lag window, empirical p01/p10 and the closed-form
# stationary distribution pi1 = p01/(p01+p10), all pinned ratios of
# exact integers.
_MARKOV_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n FROM daily),
    st AS (
      SELECT d, CASE WHEN c * t.n > t.tot THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN t),
    tr AS (
      SELECT lag(s) OVER (ORDER BY d) AS s0, s AS s1 FROM st),
    cnt AS (
      SELECT CAST(coalesce(sum(CASE WHEN s0 = 0 AND s1 = 1 THEN 1 END), 0) AS BIGINT) AS n01,
             CAST(coalesce(sum(CASE WHEN s0 = 0 AND s1 = 0 THEN 1 END), 0) AS BIGINT) AS n00,
             CAST(coalesce(sum(CASE WHEN s0 = 1 AND s1 = 0 THEN 1 END), 0) AS BIGINT) AS n10,
             CAST(coalesce(sum(CASE WHEN s0 = 1 AND s1 = 1 THEN 1 END), 0) AS BIGINT) AS n11
      FROM tr WHERE s0 IS NOT NULL)
    SELECT n00, n01, n10, n11,
           floor(CAST(n01 AS DOUBLE) / (n00 + n01) * 1000000 + 0.5) / 1000000 AS p01,
           floor(CAST(n10 AS DOUBLE) / (n10 + n11) * 1000000 + 0.5) / 1000000 AS p10,
           floor(CAST(n01 AS DOUBLE) * (n10 + n11)
                 / (CAST(n01 AS DOUBLE) * (n10 + n11) + CAST(n10 AS DOUBLE) * (n00 + n01))
                 * 1000000 + 0.5) / 1000000 AS pi_high
    FROM cnt
"""


@pq("markov_transition_stationary", _MARKOV_SQL)
def markov_transition_stationary(spark, sf_dir):
    """Two-state empirical Markov chain over the daily series: the
    state is the integer comparison c*N > total (no float decides），
    transitions from ONE lag over the calendar-bounded day table, and
    the stationary high-state mass in the division-free cross form
    n01*(n10+n11) / (n01*(n10+n11) + n10*(n00+n01)) pinned once."""
    daily = events_daily_cents(spark, sf_dir)
    t = daily.agg(
        F.sum("c").cast("bigint").alias("tot"), F.count("*").cast("bigint").alias("n")
    )
    st = daily.crossJoin(F.broadcast(t)).select(
        "d", F.when(F.col("c") * F.col("n") > F.col("tot"), 1).otherwise(0).alias("s")
    )
    w = Window.orderBy("d")
    tr = st.select(F.lag("s").over(w).alias("s0"), F.col("s").alias("s1")).filter(
        F.col("s0").isNotNull()
    )
    cnt = tr.agg(
        F.coalesce(F.sum(F.when((F.col("s0") == 0) & (F.col("s1") == 0), 1)), F.lit(0))
        .cast("bigint").alias("n00"),
        F.coalesce(F.sum(F.when((F.col("s0") == 0) & (F.col("s1") == 1), 1)), F.lit(0))
        .cast("bigint").alias("n01"),
        F.coalesce(F.sum(F.when((F.col("s0") == 1) & (F.col("s1") == 0), 1)), F.lit(0))
        .cast("bigint").alias("n10"),
        F.coalesce(F.sum(F.when((F.col("s0") == 1) & (F.col("s1") == 1), 1)), F.lit(0))
        .cast("bigint").alias("n11"),
    )
    num = F.col("n01").cast("double") * (F.col("n10") + F.col("n11"))
    den = num + F.col("n10").cast("double") * (F.col("n00") + F.col("n01"))
    return cnt.select(
        "n00", "n01", "n10", "n11",
        half_up(F.col("n01").cast("double") / (F.col("n00") + F.col("n01"))).alias("p01"),
        half_up(F.col("n10").cast("double") / (F.col("n10") + F.col("n11"))).alias("p10"),
        half_up(num / den).alias("pi_high"),
    )


# --- SAX symbolization over PAA ---------------------------------------------------------------------
# Piecewise-Aggregate-Approximation of the daily series (5-day
# segments, segment mean = exact integer sum over exact count), then
# SAX letters from the FIXED 3-symbol gaussian breakpoints ±0.43 —
# z-scores pinned at 6dp BEFORE the literal comparison so both
# engines cut identically. Mean/std derive from the exact integer
# moments in one conversion each.
_SAX_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    idx AS (
      SELECT d, c, (row_number() OVER (ORDER BY d) - 1) // 5 AS seg
      FROM daily),
    paa AS (
      SELECT seg, CAST(sum(c) AS BIGINT) AS sc, CAST(count(*) AS BIGINT) AS n
      FROM idx GROUP BY 1 HAVING count(*) = 5),
    mom AS (
      SELECT CAST(sum(sc) AS BIGINT) AS s1,
             CAST(sum(sc * sc) AS DECIMAL(38,0)) AS s2,
             CAST(count(*) AS BIGINT) AS k
      FROM paa),
    z AS (
      SELECT p.seg, p.sc,
             floor((CAST(p.sc AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.k)
                   / sqrt(greatest((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.k)
                                   / m.k, 0.0))
                   * 1000000 + 0.5) / 1000000 AS zz
      FROM paa p CROSS JOIN mom m)
    SELECT seg, sc AS seg_cents_5d, zz AS z,
           CASE WHEN zz < -0.43 THEN 'a' WHEN zz > 0.43 THEN 'c' ELSE 'b' END AS sym
    FROM z ORDER BY seg
"""


@pq("sax_symbolization_paa", _SAX_SQL)
def sax_symbolization_paa(spark, sf_dir):
    """SAX over PAA: segment index from the day rank (calendar-bounded
    window), segment sums exact BIGINTs, population moments as wide
    integers (s2 as DECIMAL(38,0) — the 2^63 cliff rule), z pinned at
    6dp before the ±0.43 breakpoint CASE. Partial trailing segments
    are dropped (count = 5) so symbolization is length-stable."""
    daily = events_daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    idx = daily.select(
        "c", ((F.row_number().over(w) - 1) / 5).cast("long").alias("seg")
    )
    paa = (
        idx.groupBy("seg")
        .agg(F.sum("c").cast("bigint").alias("sc"), F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") == 5)
    )
    mom = paa.agg(
        F.sum("sc").cast("bigint").alias("s1"),
        F.sum(F.col("sc").cast("decimal(38,0)") * F.col("sc")).cast("decimal(38,0)").alias("s2"),
        F.count("*").cast("bigint").alias("k"),
    )
    mean = F.col("s1").cast("double") / F.col("k")
    # ss - s^2/n cancellation can land ~-1e-17 for near-constant
    # segments and NaN the sqrt (the round-7 Welford clamp lesson) —
    # clamp identically on both engines
    var = F.greatest(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("k")
        ) / F.col("k"),
        F.lit(0.0),
    )
    z = (
        F.floor(
            (F.col("sc").cast("double") - mean) / F.sqrt(var) * 1000000 + F.lit(0.5)
        ) / 1000000
    )
    return (
        paa.crossJoin(F.broadcast(mom))
        .select(
            "seg", F.col("sc").alias("seg_cents_5d"), z.alias("z"),
            F.when(z < -0.43, "a").when(z > 0.43, "c").otherwise("b").alias("sym"),
        )
        .orderBy("seg")
    )


# --- Theta-method forecast --------------------------------------------------------------------------
# Classic Theta(0, 2) decomposition: OLS trend line from exact integer
# moments, theta-2 line Z_t = 2*X_t - L_t, SES(alpha=0.3) over Z
# seeded with Z_1 — the recursion replayed identically (driver fold vs
# recursive CTE), combined fitted value 0.5*(ses + L).
_THETA_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (
      SELECT d, CAST(c AS DOUBLE) / 100.0 AS x,
             row_number() OVER (ORDER BY d) AS i
      FROM daily),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(i) AS BIGINT) AS si,
             CAST(sum(i * i) AS BIGINT) AS sii,
             sum(x) AS sx, sum(i * x) AS six
      FROM ser),
    fit AS (
      SELECT n, (n * six - si * sx) / (n * sii - CAST(si AS DOUBLE) * si) AS b,
             (sx - (n * six - si * sx) / (n * sii - CAST(si AS DOUBLE) * si) * si) / n AS a
      FROM mom),
    zline AS (
      SELECT s.i, s.d, s.x, f.a + f.b * s.i AS l,
             2.0 * s.x - (f.a + f.b * s.i) AS z
      FROM ser s CROSS JOIN fit f),
    rec AS (
      SELECT i, d, x, l, z, z AS ses FROM zline WHERE i = 1
      UNION ALL
      SELECT t.i, t.d, t.x, t.l, t.z, 0.3 * t.z + 0.7 * rec.ses
      FROM rec JOIN zline t ON t.i = rec.i + 1)
    SELECT d,
           floor(l * 1000000 + 0.5) / 1000000 AS trend,
           floor(ses * 1000000 + 0.5) / 1000000 AS ses_theta2,
           floor(0.5 * (ses + l) * 1000000 + 0.5) / 1000000 AS theta_fit
    FROM rec ORDER BY d
"""


@pq("theta_method_forecast", _THETA_SQL)
def theta_method_forecast(spark, sf_dir):
    """Theta(0,2) fitted trajectory: the OLS moments come from exact
    integer i-sums plus the one-conversion x-sums (fold order moot at
    the calendar scale — the day table is tiny; the heavy part, the
    day aggregation, is distributed), the SES recursion follows the
    Holt discipline with z_1 as seed and 0.3/0.7 literals."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir).orderBy("d").collect()
    xs = [(r["d"], r["c"] / 100.0) for r in daily]
    n = len(xs)
    si = n * (n + 1) // 2
    sii = n * (n + 1) * (2 * n + 1) // 6
    sx = sum(x for _, x in xs)
    six = sum((k + 1) * x for k, (_, x) in enumerate(xs))
    b = (n * six - si * sx) / (n * sii - float(si) * si)
    a = (sx - b * si) / n
    rows, ses = [], None
    for k, (d, x) in enumerate(xs, start=1):
        line = a + b * k
        z = 2.0 * x - line
        ses = z if ses is None else 0.3 * z + 0.7 * ses
        rows.append((d, line, ses))
    out = spark.createDataFrame(pd.DataFrame(rows, columns=["d", "l", "ses"]))
    return out.select(
        "d", half_up(F.col("l")).alias("trend"),
        half_up(F.col("ses")).alias("ses_theta2"),
        half_up(0.5 * (F.col("ses") + F.col("l"))).alias("theta_fit"),
    ).orderBy("d")


# =====================================================================
# Block K — streaming state-store TTL eviction
# =====================================================================

# TTL dedup semantics: an event is EMITTED iff it is its key's first
# occurrence or arrives >= 30 min after the key's LAST EMITTED event —
# the per-key state a streaming engine keeps and EVICTS by TTL. Unlike
# watermark dedup (infinite logical state), this is the reset
# recursion the oracle replays per key as a recursive CTE; the Spark
# side runs the real incremental path — micro-batches through a
# foreachBatch sink folding a keyed state table (last_emit / counters)
# batch by batch.
_STTL_SQL = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'),
    rec AS (
      SELECT user_id, event_id, ts, rn, ts AS last_emit, TRUE AS emitted
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.ts, e.rn,
             CASE WHEN e.ts >= r.last_emit + INTERVAL 30 MINUTE
                  THEN e.ts ELSE r.last_emit END,
             e.ts >= r.last_emit + INTERVAL 30 MINUTE
      FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
    SELECT user_id,
           CAST(count(*) FILTER (WHERE emitted) AS BIGINT) AS n_emitted,
           CAST(count(*) FILTER (WHERE NOT emitted) AS BIGINT) AS n_suppressed,
           CAST(sum(event_id % 1000003) FILTER (WHERE emitted) AS BIGINT)
             AS emitted_checksum
    FROM rec GROUP BY 1
    ORDER BY 1
"""


@pq("stream_state_ttl_eviction", _STTL_SQL)
def stream_state_ttl_eviction(spark, sf_dir):
    """Streaming TTL-state dedup: purchase events stream in as three
    date-chunked micro-batches, in order; each micro-batch folds into keyed
    state (last_emit, n_emitted, n_suppressed, checksum) per user,
    with an event emitted only when the key's state has been idle >=
    the 30-min TTL — the semantics a state store with TTL eviction
    implements. The differential harness holds the state dict
    driver-side (bounded here by the fixture's user domain); the
    production shape swaps it for the keyed state-parquet upsert the
    stream_foreachbatch_upsert entry already exercises, or
    applyInPandasWithState with a timeout — the TTL rule is the part
    under test. The batch oracle replays the
    identical per-key reset recursion; exact microsecond comparisons,
    integer checksums, no floats anywhere."""
    import pandas as pd

    from etl_mini_spark.streaming.stream import replay

    TTL_US = 30 * 60 * 1_000_000
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"),
                F.date_format("ts", "yyyy-MM-dd").alias("d"))
    )
    cuts = ["0000-00-00", "2024-01-11", "2024-01-21", "9999-12-31"]

    state: dict[int, list] = {}  # user -> [last_emit, n_emit, n_sup, chk]

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        pdf = batch_df.toPandas().sort_values(["ts_us", "event_id"])
        for u, eid, ts in zip(pdf["user_id"], pdf["event_id"], pdf["ts_us"]):
            st = state.get(int(u))
            if st is None:
                state[int(u)] = [int(ts), 1, 0, int(eid) % 1000003]
            elif int(ts) >= st[0] + TTL_US:
                st[0] = int(ts); st[1] += 1; st[3] += int(eid) % 1000003
            else:
                st[2] += 1

    with replay(spark, "sttl") as r:
        for i in range(3):
            r.stage(ev.filter((F.col("d") >= cuts[i]) & (F.col("d") < cuts[i + 1]))
                    .select("user_id", "event_id", "ts_us"))
        r.run(r.stream(), sink)
    rows = [
        (u, st[1], st[2], st[3]) for u, st in sorted(state.items())
    ]
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "n_emitted", "n_suppressed", "emitted_checksum"])
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_emitted").cast("bigint"),
        F.col("n_suppressed").cast("bigint"),
        F.col("emitted_checksum").cast("bigint"),
    ).orderBy("user_id")


# =====================================================================
# Block L — late additions (audio header, econometrics, SQL surface)
# =====================================================================

# --- REAL WAV fmt-chunk parse -----------------------------------------------------------------------
# The audio leg of the real-decode story: Spark walks the RIFF chunk
# list in the Arrow kernel (operators/multimodal.py parse_wav_fmt);
# DuckDB parses the same little-endian fmt fields from hex(content).
# The fixture is a canonical PCM WAV written by media_gen.py — real
# tag/channels/rate/bits, not noise.
from pathlib import Path as _Path14

_WAV_GLOB = str(
    _Path14(__file__).resolve().parents[2] / "tests" / "fixtures" / "media" / "imgreal_*.wav"
)
assert "'" not in _WAV_GLOB

_WAVHDR_SQL = f"""
    WITH b AS (
      SELECT regexp_extract(filename, '[^/]+$') AS file_name,
             CAST(size AS BIGINT) AS n_bytes,
             hex(content) AS h
      FROM read_blob('{_WAV_GLOB}'))
    SELECT file_name,
           CAST('0x' || substr(h, 49, 2) AS INTEGER)
             + 256 * CAST('0x' || substr(h, 51, 2) AS INTEGER)
             + 65536 * CAST('0x' || substr(h, 53, 2) AS INTEGER)
             + 16777216 * CAST('0x' || substr(h, 55, 2) AS INTEGER) AS sample_rate,
           CAST('0x' || substr(h, 45, 2) AS INTEGER)
             + 256 * CAST('0x' || substr(h, 47, 2) AS INTEGER) AS channels,
           CAST('0x' || substr(h, 69, 2) AS INTEGER)
             + 256 * CAST('0x' || substr(h, 71, 2) AS INTEGER) AS bits_per_sample,
           n_bytes
    FROM b
    WHERE substr(h, 1, 8) = '52494646' AND substr(h, 17, 8) = '57415645'
      AND substr(h, 25, 8) = '666D7420'
    ORDER BY file_name
"""


@pq("multimodal_wav_header_real", _WAVHDR_SQL)
def multimodal_wav_header_real(spark, sf_dir):
    """REAL WAV metadata: the Spark kernel walks the RIFF chunk list
    (tag + LE u32 size, word-aligned) to the fmt chunk — robust to any
    chunk order — while the oracle reads the canonical fixture's fmt
    fields at their fixed little-endian hex offsets (guarded by the
    fmt-tag check). Two independent parses of the same bytes; a
    byte-order or offset bug flips the hash."""
    import pandas as pd
    from pyspark.sql import types as T

    from etl_mini_spark.operators.multimodal import parse_wav_fmt
    from etl_mini_spark.session import spread

    raw = (
        spark.read.format("binaryFile")
        .load(_WAV_GLOB)
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("content"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("file_name", T.StringType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("bits_per_sample", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def process(batches):
        for pdf in batches:
            names, rates, chans, bits, nb = [], [], [], [], []
            for name, p in zip(pdf["file_name"], pdf["content"]):
                b = bytes(p)
                r, c, bi = parse_wav_fmt(b)
                if r is None:
                    continue
                names.append(name); rates.append(r); chans.append(c)
                bits.append(bi); nb.append(len(b))
            yield pd.DataFrame(
                {"file_name": names, "sample_rate": rates, "channels": chans,
                 "bits_per_sample": bits, "n_bytes": nb}
            )

    return spread(raw).mapInPandas(process, out_schema).orderBy("file_name")


# --- log-log price elasticity -----------------------------------------------------------------------
# Per-brand demand elasticity: each order line contributes the point
# (x, y) = (ln price_cents, ln quantity), both PRE-SCALED to exact
# 1e9-grid BIGINTs, so every OLS moment (including the cross moment
# sum(x*y), the fold-order trap for float sums) is an EXACT wide
# integer; the slope converts to double once. The r13 OLS discipline
# extended to log-transformed inputs.
_ELAST_SQL = """
    WITH pt AS (
      SELECT p.p_brand,
             CAST(floor(ln(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                        * 1000000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity >= 1),
    m AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pt GROUP BY 1 HAVING count(*) >= 30)
    SELECT p_brand, n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS elasticity
    FROM m ORDER BY p_brand
"""


@pq("price_elasticity_loglog", _ELAST_SQL)
def price_elasticity_loglog(spark, sf_dir):
    """Log-log elasticity per brand: ln() terms snap to the 1e9
    integer grid BEFORE any summation, so the cross moment is an exact
    wide-integer sum (decimal(38,0) — HUGEINT on the oracle) and the
    closed-form slope needs four double conversions total. One
    part-key join + one keyed agg; brands under 30 points are dropped
    (an elasticity from a handful of lines is noise, and the HAVING
    keeps both engines' row sets identical)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    x = F.floor(F.log(cents.cast("double")) * 1000000000 + F.lit(0.5)).cast("bigint")
    y = F.floor(
        F.log(F.col("l_quantity").cast("double")) * 1000000000 + F.lit(0.5)
    ).cast("bigint")
    pt = (
        li.filter(F.col("l_quantity") >= 1)
        .join(p, li.l_partkey == p.p_partkey)
        .select("p_brand", x.alias("x"), y.alias("y"))
    )
    m = (
        pt.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        )
        .filter(F.col("n") >= 30)
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return m.select(
        "p_brand", "n",
        (F.floor(num / den * 1000000 + F.lit(0.5)) / 1000000).alias("elasticity"),
    ).orderBy("p_brand")


# --- Weibull median-rank fit ------------------------------------------------------------------------
# Shipping-delay reliability fit: delays in whole days (exact ints)
# aggregate to the VALUE level; each value's grouped median rank
# F = (cum_before + (c+1)/2 - 0.3) / (n + 0.4) is rational, and the
# regression runs on the 1e9-grid integers x = ln t, y = ln(-ln(1-F))
# — same exact-moment OLS as the elasticity entry. Slope estimates the
# Weibull shape k; intercept is reported pinned (scale needs exp —
# deliberately not computed, exp(libm) never decides output).
_WEIB_SQL = """
    WITH d AS (
      SELECT date_diff('day', o.o_orderdate, l.l_shipdate) AS t
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate),
    hv AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hv),
    r AS (
      SELECT t, c,
             coalesce(sum(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM hv),
    xy AS (
      SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(-ln(1.0 - (cb + (c + 1.0) / 2.0 - 0.3) / (n.n + 0.4)))
                        * 1000000000 + 0.5) AS BIGINT) AS y,
             c
      FROM r CROSS JOIN n),
    m AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * x) AS HUGEINT) AS sx,
             CAST(sum(CAST(c AS HUGEINT) * y) AS HUGEINT) AS sy,
             CAST(sum(CAST(c AS HUGEINT) * x * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(c AS HUGEINT) * x * y) AS HUGEINT) AS sxy
      FROM xy)
    SELECT n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS shape_k,
           floor((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000000000.0 * 1000000 + 0.5) / 1000000
             AS intercept
    FROM m
"""


@pq("weibull_median_rank_fit", _WEIB_SQL)
def weibull_median_rank_fit(spark, sf_dir):
    """Weibull probability-plot fit over shipping delays, entirely at
    the VALUE level: the delay domain (integer days) is tiny, so the
    cumulative rank window runs over the histogram, each value carries
    its count as the regression weight, and the weighted OLS moments
    are exact wide integers over 1e9-grid ln terms. Note the 1e9
    de-scaling of the intercept — x and y live on the grid, so
    intercept/1e9 is the natural-units value."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(F.datediff("l_shipdate", "o_orderdate").alias("t"))
    )
    # delay-domain histogram, bounded by integer days
    hv = d.groupBy("t").agg(F.count("*").cast("bigint").alias("c"))
    n = hv.agg(F.sum("c").cast("bigint").alias("n"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = hv.select(
        "t", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cb")
    )
    ff = (F.col("cb") + (F.col("c") + 1.0) / 2.0 - 0.3) / (F.col("n") + 0.4)
    x = F.floor(F.log(F.col("t").cast("double")) * 1000000000 + F.lit(0.5)).cast("bigint")
    y = F.floor(F.log(-F.log(1.0 - ff)) * 1000000000 + F.lit(0.5)).cast("bigint")
    xy = r.crossJoin(F.broadcast(n)).select(x.alias("x"), y.alias("y"), "c")
    cd = F.col("c").cast("decimal(38,0)")
    m = xy.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(cd * F.col("x")).alias("sx"),
        F.sum(cd * F.col("y")).alias("sy"),
        F.sum(cd * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(cd * F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    return m.select(
        "n",
        (F.floor(slope * 1000000 + F.lit(0.5)) / 1000000).alias("shape_k"),
        (
            F.floor((sy - slope * sx) / nn / 1000000000.0 * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("intercept"),
    )


# --- named WINDOW clause ----------------------------------------------------------------------------
_NAMEDW_SQL = """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month_,
             o_orderpriority AS prio,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2)
    SELECT month_, prio, rev,
           rank() OVER w AS rnk,
           CAST(sum(rev) OVER w AS BIGINT) AS run_rev,
           CAST(lag(rev) OVER w AS BIGINT) AS prev_rev
    FROM m
    WINDOW w AS (PARTITION BY month_ ORDER BY rev DESC, prio)
    ORDER BY month_, rnk
"""


@pq("sql_named_window_clause", _NAMEDW_SQL)
def sql_named_window_clause(spark, sf_dir):
    """SQL:2003 named WINDOW clause parity, literal SQL both engines:
    one named spec shared by rank(), a running sum, and lag() — the
    engine must plan all three in a single window pass over the month
    aggregate. Exact cents; deterministic (rev desc, prio) order."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_r14_orders_w")
    return spark.sql(
        """
        WITH m AS (
          SELECT date_format(o_orderdate, 'yyyy-MM') AS month_,
                 o_orderpriority AS prio,
                 CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                      AS BIGINT) AS rev
          FROM _r14_orders_w GROUP BY 1, 2)
        SELECT month_, prio, rev,
               rank() OVER w AS rnk,
               CAST(sum(rev) OVER w AS BIGINT) AS run_rev,
               CAST(lag(rev) OVER w AS BIGINT) AS prev_rev
        FROM m
        WINDOW w AS (PARTITION BY month_ ORDER BY rev DESC, prio)
        ORDER BY month_, rnk
        """
    )


# --- accent-fold dedup ------------------------------------------------------------------------------
# Unicode-ish normalization parity on an EXPLICIT shared accent map.
# The synthetic corpus is ASCII-only, so the differential AMPLIFIES it
# first (the corpus_amplified discipline): every doc gains an
# accent-injected variant (a->á, e->é, u->ü — identical injection
# literals both engines), and the fold must collapse variant+original
# to ONE fingerprint per doc — a true normalization-dedup round trip,
# not a no-op scan.
_ACCENTS = [
    ("á", "a"), ("à", "a"), ("â", "a"), ("ä", "a"),
    ("é", "e"), ("è", "e"), ("ê", "e"), ("ë", "e"),
    ("í", "i"), ("î", "i"), ("ó", "o"), ("ô", "o"), ("ö", "o"),
    ("ú", "u"), ("û", "u"), ("ü", "u"), ("ñ", "n"), ("ç", "c"), ("ß", "ss"),
]


def _fold_sql(expr: str) -> str:
    out = f"lower({expr})"
    for a, b in _ACCENTS:
        out = f"replace({out}, '{a}', '{b}')"
    return out


_INJECT_SQL = "replace(replace(replace(text, 'a', 'á'), 'e', 'é'), 'u', 'ü')"
_ACCFOLD_SQL = f"""
    WITH amp AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lang, {_INJECT_SQL} FROM documents),
    f AS (
      SELECT doc_id, lang, text, {_fold_sql('text')} AS folded
      FROM amp)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN folded <> lower(text) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accent_changed,
           CAST(count(DISTINCT md5(folded)) AS BIGINT) AS n_distinct_folded
    FROM f GROUP BY 1 ORDER BY 1
"""


@pq("text_accent_fold_dedup", _ACCFOLD_SQL)
def text_accent_fold_dedup(spark, sf_dir):
    """Accent-fold normalization dedup over the amplified corpus: the
    explicit 19-pair replace chain (shared with the oracle verbatim —
    no engine unicode tables, which differ between ICU builds) must
    fold every injected variant back onto its original's fingerprint,
    so n_distinct_folded collapses to the per-lang original count.
    One union scan + one codegen fold + one keyed agg."""
    docs = _t(spark, sf_dir, "documents")
    inject = F.replace(
        F.replace(F.replace(F.col("text"), F.lit("a"), F.lit("á")), F.lit("e"), F.lit("é")),
        F.lit("u"), F.lit("ü"),
    )
    amp = docs.select("doc_id", "lang", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "lang", inject.alias("text"))
    )
    folded = F.lower(F.col("text"))
    for a, b in _ACCENTS:
        folded = F.replace(folded, F.lit(a), F.lit(b))
    f = amp.select("lang", F.lower("text").alias("lowered"), folded.alias("folded"))
    return (
        f.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("folded") != F.col("lowered"), 1).otherwise(0))
            .cast("bigint").alias("n_accent_changed"),
            F.count_distinct(F.md5("folded")).cast("bigint").alias("n_distinct_folded"),
        )
        .orderBy("lang")
    )


# --- safety stock / reorder point -------------------------------------------------------------------
_SSTOCK_SQL = """
    WITH dd AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS q
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS HUGEINT) AS s2
      FROM dd GROUP BY 1)
    SELECT event_type,
           floor(CAST(s1 AS DOUBLE) / k * 1000000 + 0.5) / 1000000 AS mean_daily,
           floor(sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / k, 0.0))
                 * 1000000 + 0.5) / 1000000 AS sigma_daily,
           floor(1.645 * sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / k, 0.0))
                       * sqrt(7.0) * 1000000 + 0.5) / 1000000 AS safety_stock,
           floor((7.0 * CAST(s1 AS DOUBLE) / k
                  + 1.645 * sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / k, 0.0))
                          * sqrt(7.0)) * 1000000 + 0.5) / 1000000 AS reorder_point
    FROM m ORDER BY event_type
"""


@pq("inventory_safety_stock", _SSTOCK_SQL)
def inventory_safety_stock(spark, sf_dir):
    """Safety stock & reorder point (z=1.645, 7-day lead literal) per
    event type: daily demand moments from exact integer day counts
    (s2 as a wide integer), population sigma via one sqrt on the
    once-converted doubles, identical expression sequence both
    engines. Two keyed aggs, no window."""
    dd = _t(spark, sf_dir, "events").groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.count("*").cast("bigint").alias("q"))
    m = dd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("k")
    # clamp the cancellation residue before sqrt (Welford-clamp rule)
    var = F.greatest(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("k")
        ) / F.col("k"),
        F.lit(0.0),
    )
    ss = 1.645 * F.sqrt(var) * F.sqrt(F.lit(7.0))
    return m.select(
        "event_type",
        half_up(mean).alias("mean_daily"),
        half_up(F.sqrt(var)).alias("sigma_daily"),
        half_up(ss).alias("safety_stock"),
        half_up(7.0 * mean + ss).alias("reorder_point"),
    ).orderBy("event_type")


# =====================================================================
# Block M — experimentation / causal analytics, queueing, distances
# =====================================================================

_MD5MOD_SQL = "(CAST(('0x' || substr(md5(CAST({k} AS VARCHAR) || '{salt}'), 1, 15)) AS BIGINT) % {mod})"


# --- difference-in-differences ----------------------------------------------------------------------
# Treatment = md5-bucket of user_id (portable randomness), the
# pre/post split at the median calendar day; the DiD estimator on
# mean event value is pure exact-cents arithmetic: four cell means
# from integer sums, three subtractions, one pin.
_DID_SQL = f"""
    WITH ev AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS d,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             {_MD5MOD_SQL.format(k='user_id', salt=':did', mod=2)} AS treat
      FROM events),
    cut AS (
      SELECT d AS dcut FROM (
        SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
        FROM (SELECT DISTINCT d FROM ev))
      WHERE rn = (n + 1) // 2),
    cells AS (
      SELECT e.treat, CASE WHEN e.d >= c.dcut THEN 1 ELSE 0 END AS post,
             CAST(sum(e.c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM ev e CROSS JOIN cut c
      GROUP BY 1, 2),
    w AS (
      SELECT
        max(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t1,
        max(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t0,
        max(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c1,
        max(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c0
      FROM cells)
    SELECT floor(t1 * 1000000 + 0.5) / 1000000 AS treat_post,
           floor(t0 * 1000000 + 0.5) / 1000000 AS treat_pre,
           floor(c1 * 1000000 + 0.5) / 1000000 AS ctrl_post,
           floor(c0 * 1000000 + 0.5) / 1000000 AS ctrl_pre,
           floor(((t1 - t0) - (c1 - c0)) * 1000000 + 0.5) / 1000000 AS did
    FROM w
"""


@pq("did_difference_in_differences", _DID_SQL)
def did_difference_in_differences(spark, sf_dir):
    """Difference-in-differences on mean event value (cents): md5
    treatment assignment, the pre/post cut at the median calendar day
    (a 1-row broadcast), four cells from ONE keyed agg, the estimator
    as three subtractions of exact-sum-derived means. The whole
    analysis is a single shuffle over (treat, post)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        md5_mod(F.col("user_id"), ":did", 2).alias("treat"),
    )
    days = ev.select("d").distinct()
    wm = Window.orderBy("d")
    cut = (
        days.select("d", F.row_number().over(wm).alias("rn"),
                    F.count("*").over(Window.partitionBy()).alias("n"))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("d").alias("dcut"))
    )
    cells = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy("treat", F.when(F.col("d") >= F.col("dcut"), 1).otherwise(0).alias("post"))
        .agg(F.sum("c").cast("bigint").alias("s"), F.count("*").cast("bigint").alias("n"))
    )
    mean = F.col("s").cast("double") / F.col("n")
    w = cells.agg(
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1), mean)).alias("t1"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0), mean)).alias("t0"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1), mean)).alias("c1"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0), mean)).alias("c0"),
    )
    return w.select(
        half_up(F.col("t1")).alias("treat_post"), half_up(F.col("t0")).alias("treat_pre"),
        half_up(F.col("c1")).alias("ctrl_post"), half_up(F.col("c0")).alias("ctrl_pre"),
        half_up((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))).alias("did"),
    )


# --- uplift deciles (two-model differencing) ----------------------------------------------------------
# Per-user conversion (any purchase) under md5 treatment assignment;
# users rank into 10 md5-score buckets (a stand-in for a model score —
# portable and deterministic), and each bucket reports treated vs
# control conversion and the uplift difference. Exact integer
# counts; ratios pinned.
_UPLIFT_SQL = f"""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1),
    a AS (
      SELECT user_id, converted,
             {_MD5MOD_SQL.format(k='user_id', salt=':utr', mod=2)} AS treat,
             {_MD5MOD_SQL.format(k='user_id', salt=':usc', mod=10)} AS decile
      FROM u),
    g AS (
      SELECT decile, treat,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS conv
      FROM a GROUP BY 1, 2),
    wd AS (
      SELECT decile,
             max(CASE WHEN treat = 1 THEN n END) AS nt,
             max(CASE WHEN treat = 1 THEN conv END) AS ct,
             max(CASE WHEN treat = 0 THEN n END) AS nc,
             max(CASE WHEN treat = 0 THEN conv END) AS cc
      FROM g GROUP BY 1)
    SELECT decile, nt, nc,
           floor(CAST(ct AS DOUBLE) / nt * 1000000 + 0.5) / 1000000 AS rate_treat,
           floor(CAST(cc AS DOUBLE) / nc * 1000000 + 0.5) / 1000000 AS rate_ctrl,
           floor((CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc) * 1000000 + 0.5)
             / 1000000 AS uplift
    FROM wd ORDER BY decile
"""


@pq("uplift_two_model_deciles", _UPLIFT_SQL)
def uplift_two_model_deciles(spark, sf_dir):
    """Uplift by decile: per-user conversion flags (one keyed agg over
    the fact table), md5 treatment + md5 score deciles, a (decile,
    treat) cell table, and the treated-minus-control rate difference
    pinned per decile. Everything after the first agg is domain-sized."""
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
        )
    )
    a = u.select(
        "converted",
        md5_mod(F.col("user_id"), ":utr", 2).alias("treat"),
        md5_mod(F.col("user_id"), ":usc", 10).alias("decile"),
    )
    g = a.groupBy("decile", "treat").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("converted").cast("bigint").alias("conv")
    )
    wd = g.groupBy("decile").agg(
        F.max(F.when(F.col("treat") == 1, F.col("n"))).alias("nt"),
        F.max(F.when(F.col("treat") == 1, F.col("conv"))).alias("ct"),
        F.max(F.when(F.col("treat") == 0, F.col("n"))).alias("nc"),
        F.max(F.when(F.col("treat") == 0, F.col("conv"))).alias("cc"),
    )
    rt = F.col("ct").cast("double") / F.col("nt")
    rc = F.col("cc").cast("double") / F.col("nc")
    return wd.select(
        "decile", "nt", "nc",
        half_up(rt).alias("rate_treat"), half_up(rc).alias("rate_ctrl"),
        half_up(rt - rc).alias("uplift"),
    ).orderBy("decile")


# --- CUPED variance reduction --------------------------------------------------------------------------
# CUPED (controlled-experiment using pre-experiment data): Y = user's
# post-period spend, X = pre-period spend (split at the median day),
# theta = cov(X,Y)/var(X) from exact integer moments, adjusted
# Y' = Y - theta*(X - mean(X)). Report theta and the variance
# reduction ratio var(Y')/var(Y) — the metric CUPED exists to shrink.
_CUPED_SQL = f"""
    WITH ev AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS d,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events),
    cut AS (
      SELECT d AS dcut FROM (
        SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
        FROM (SELECT DISTINCT d FROM ev))
      WHERE rn = (n + 1) // 2),
    u AS (
      SELECT e.user_id,
             CAST(coalesce(sum(CASE WHEN e.d < c.dcut THEN e.c END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN e.d >= c.dcut THEN e.c END), 0) AS BIGINT) AS y
      FROM ev e CROSS JOIN cut c GROUP BY 1),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM u),
    s AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS theta,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vy_n2,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vx_n2,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cxy_n2
      FROM m)
    SELECT n,
           floor(theta * 1000000 + 0.5) / 1000000 AS theta,
           floor((1.0 - cxy_n2 * cxy_n2 / (vx_n2 * vy_n2)) * 1000000 + 0.5) / 1000000
             AS var_ratio
    FROM s
"""


@pq("cuped_variance_reduction", _CUPED_SQL)
def cuped_variance_reduction(spark, sf_dir):
    """CUPED: per-user pre/post spend in exact cents (one keyed agg),
    theta and the variance-reduction ratio from exact wide-integer
    moments — var(Y')/var(Y) simplifies to 1 - rho^2, computed from
    the n^2-scaled covariance forms so no mean ever subtracts
    unrounded. Moments are ONE distributed agg; the report is 1 row."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    days = ev.select("d").distinct()
    wm = Window.orderBy("d")
    cut = (
        days.select("d", F.row_number().over(wm).alias("rn"),
                    F.count("*").over(Window.partitionBy()).alias("n"))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("d").alias("dcut"))
    )
    u = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("d") < F.col("dcut"), F.col("c"))), F.lit(0))
            .cast("bigint").alias("x"),
            F.coalesce(F.sum(F.when(F.col("d") >= F.col("dcut"), F.col("c"))), F.lit(0))
            .cast("bigint").alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"), F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    nn = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"), F.col("sxy").cast("double"), F.col("syy").cast("double"),
    )
    vx = nn * sxx - sx * sx
    vy = nn * syy - sy * sy
    cxy = nn * sxy - sx * sy
    return m.select(
        "n",
        half_up(cxy / vx).alias("theta"),
        half_up(1.0 - cxy * cxy / (vx * vy)).alias("var_ratio"),
    )


# --- sample-ratio-mismatch check -------------------------------------------------------------------------
_SRM_SQL = f"""
    WITH a AS (
      SELECT DISTINCT user_id,
             {_MD5MOD_SQL.format(k='user_id', salt=':srm', mod=2)} AS arm
      FROM events),
    c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
    SELECT c.arm, c.n, t.tot,
           floor((CAST(c.n AS DOUBLE) - t.tot / 2.0) * (CAST(c.n AS DOUBLE) - t.tot / 2.0)
                 / (t.tot / 2.0) * 1000000 + 0.5) / 1000000 AS chi_term
    FROM c CROSS JOIN t
    ORDER BY c.arm
"""


@pq("ab_srm_check", _SRM_SQL)
def ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail: md5 arm assignment over the
    distinct-user set must split ~50/50; the per-arm chi-square term
    against the expected half is the SRM statistic an experimentation
    platform alerts on. Exact integer counts, one pinned ratio."""
    a = (
        _t(spark, sf_dir, "events")
        .select("user_id").distinct()
        .select(md5_mod(F.col("user_id"), ":srm", 2).alias("arm"))
    )
    c = a.groupBy("arm").agg(F.count("*").cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("tot"))
    half = F.col("tot") / 2.0
    dev = F.col("n").cast("double") - half
    return (
        c.crossJoin(F.broadcast(t))
        .select("arm", "n", "tot", half_up(dev * dev / half).alias("chi_term"))
        .orderBy("arm")
    )


# --- Little's law audit ------------------------------------------------------------------------------------
# L = lambda * W over the event stream with a fixed 10-minute service
# interval per event: lambda = events per microsecond of span, W =
# 600s (constant by construction), L = time-average concurrency from
# the +1/-1 sweep integrated exactly in microseconds. The audit
# reports L, lambda*W and their pinned ratio — 1.0 up to the edge
# effect of intervals open past the span end, which the span EXTENDS
# to cover (span runs to max(ts)+10min so every interval closes).
_LITTLE_SQL = """
    WITH pts AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, 1 AS d FROM events
      UNION ALL
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) + 600000000, -1 FROM events),
    sw AS (
      SELECT t, sum(d) OVER (ORDER BY t, d ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS conc,
             lead(t) OVER (ORDER BY t, d) AS t_next
      FROM pts),
    span AS (
      SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
             max(epoch_us(CAST(ts AS TIMESTAMP))) + 600000000 AS t1,
             CAST(count(*) AS BIGINT) AS n
      FROM events),
    area AS (
      SELECT CAST(sum(CAST(conc AS BIGINT) * (t_next - t)) AS BIGINT) AS a
      FROM sw WHERE t_next IS NOT NULL)
    SELECT s.n,
           floor(CAST(a.a AS DOUBLE) / (s.t1 - s.t0) * 1000000 + 0.5) / 1000000 AS l_avg,
           floor(CAST(s.n AS DOUBLE) / (s.t1 - s.t0) * 600000000.0 * 1000000 + 0.5)
             / 1000000 AS lambda_w,
           floor(CAST(a.a AS DOUBLE) / (s.n * 600000000.0) * 1000000 + 0.5) / 1000000
             AS ratio
    FROM span s CROSS JOIN area a
"""


@pq("queueing_little_law_audit", _LITTLE_SQL)
def queueing_little_law_audit(spark, sf_dir):
    """Little's law L = lambda W audited exactly: the concurrency area
    integrates the +1/-1 sweep in integer microseconds (conc x gap
    sums as BIGINTs), lambda and W come from the same exact span, and
    since every 10-min interval lies inside the extended span the
    area/(n*600s) ratio is EXACTLY 1 — the audit's invariant, which
    both engines must hit on the nose. The sweep orders within one
    global window over 2n points; at scale this entry's shape
    partitions by day the way interval_overlap_agg partitions by type
    (documented here because the audit needs the global constant)."""
    ev = _t(spark, sf_dir, "events").select(F.unix_micros("ts").alias("t"))
    pts = ev.select("t", F.lit(1).alias("d")).unionByName(
        ev.select((F.col("t") + 600000000).alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.orderBy("t", "d")
    sw = pts.select(
        "t",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("conc"),
        F.lead("t").over(w).alias("t_next"),
    )
    span = ev.agg(
        F.min("t").alias("t0"),
        (F.max("t") + 600000000).alias("t1"),
        F.count("*").cast("bigint").alias("n"),
    )
    area = sw.filter(F.col("t_next").isNotNull()).agg(
        F.sum(F.col("conc").cast("bigint") * (F.col("t_next") - F.col("t")))
        .cast("bigint").alias("a")
    )
    return (
        span.crossJoin(area)
        .select(
            "n",
            half_up(F.col("a").cast("double") / (F.col("t1") - F.col("t0"))).alias("l_avg"),
            half_up(
                F.col("n").cast("double") / (F.col("t1") - F.col("t0")) * 600000000.0
            ).alias("lambda_w"),
            half_up(F.col("a").cast("double") / (F.col("n") * 600000000.0)).alias("ratio"),
        )
    )


# --- 1-D Wasserstein distance -------------------------------------------------------------------------------
# Earth-mover's distance between the purchase and view value
# distributions: W1 = integral |CDF_a - CDF_b| over the value grid =
# sum over consecutive distinct values of |cumshare_a - cumshare_b| *
# gap. Counts are exact integers; the cum shares convert once and the
# per-gap terms pre-round at 9dp into a DECIMAL fold.
_EMD_SQL = """
    WITH v AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events WHERE event_type IN ('purchase', 'view')),
    h AS (SELECT c, grp, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1, 2),
    piv AS (
      SELECT c,
             CAST(coalesce(sum(CASE WHEN grp = 1 THEN n END), 0) AS BIGINT) AS na,
             CAST(coalesce(sum(CASE WHEN grp = 0 THEN n END), 0) AS BIGINT) AS nb
      FROM h GROUP BY 1),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb FROM piv),
    cum AS (
      SELECT c,
             sum(na) OVER (ORDER BY c) AS ca,
             sum(nb) OVER (ORDER BY c) AS cb,
             lead(c) OVER (ORDER BY c) AS c_next
      FROM piv),
    terms AS (
      SELECT floor(abs(CAST(cum.ca AS DOUBLE) / t.ta - CAST(cum.cb AS DOUBLE) / t.tb)
                   * (c_next - c) / 100.0 * 1000000000 + 0.5) / 1000000000 AS term
      FROM cum CROSS JOIN tot t WHERE c_next IS NOT NULL)
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_values,
           floor(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS wasserstein_1
    FROM terms
"""


@pq("emd_1d_wasserstein", _EMD_SQL)
def emd_1d_wasserstein(spark, sf_dir):
    """1-D Wasserstein (earth-mover's) distance between the purchase
    and view value distributions: value histograms from one keyed agg
    (the domain, not the rows), cumulative counts over the value
    table, |CDF gap| x value gap terms pre-rounded at 9dp and folded
    as DECIMAL. The KS entry takes the sup of the same curve; this is
    its integral — together they pin the whole CDF-difference
    geometry."""
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
        )
    )
    h = v.groupBy("c", "grp").agg(F.count("*").cast("bigint").alias("n"))
    piv = h.groupBy("c").agg(
        F.coalesce(F.sum(F.when(F.col("grp") == 1, F.col("n"))), F.lit(0))
        .cast("bigint").alias("na"),
        F.coalesce(F.sum(F.when(F.col("grp") == 0, F.col("n"))), F.lit(0))
        .cast("bigint").alias("nb"),
    )
    tot = piv.agg(
        F.sum("na").cast("bigint").alias("ta"), F.sum("nb").cast("bigint").alias("tb")
    )
    w = Window.orderBy("c")
    cum = piv.select(
        "c",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
        F.lead("c").over(w).alias("c_next"),
    )
    gap = F.abs(
        F.col("ca").cast("double") / F.col("ta") - F.col("cb").cast("double") / F.col("tb")
    )
    term = (
        F.floor(gap * (F.col("c_next") - F.col("c")) / 100.0 * 1000000000 + F.lit(0.5))
        / 1000000000
    ).cast("decimal(28,9)")
    terms = cum.crossJoin(F.broadcast(tot)).filter(F.col("c_next").isNotNull()).select(
        term.alias("term")
    )
    return terms.agg(
        (F.count("*") + 1).cast("bigint").alias("n_values"),
        (
            F.floor(F.sum("term").cast("double") * 1000000 + F.lit(0.5)) / 1000000
        ).alias("wasserstein_1"),
    )
