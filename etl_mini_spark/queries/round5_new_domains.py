from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t, _TMP  # noqa: F401
from etl_mini_spark.operators.graph import pagerank
from etl_mini_spark.session import pin

# New analytics domains (round-5 batch 7): graph algorithms (triangle
# counting, PageRank), spatial radius joins, edit-distance dedup,
# time-weighted OHLC bars, and a data-quality expectations report.
# The ref has none of these (SURVEY §2.11 — declared new-build); they
# are the operations a training-data / analytics platform layers on the
# same engine, each expressed as oracle-checkable DataFrame plans.
# =========================================================================

# Shared edge list: part pairs co-purchased in ≥2 orders (same basket-
# bounded self-join as co_purchase_pairs — pair blowup is bounded by
# basket size squared, never corpus squared).
_EDGE_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2)
"""


def _copurchase_edges(spark, sf_dir):
    """(p1 < p2) edge list of the ≥2-co-order part graph."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    # O(edges) rows of two longs, referenced 3-6x by every graph query
    # on it; unpinned: graph_pagerank_parts 5.65 s vs 2.00 s and
    # graph_pagerank_converged 26.5 s vs 17.1 s at sf0.1
    return pin(
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").alias("w"))
        .filter("w >= 2")
        .select("p1", "p2")
    )


def _copurchase_digraph(spark, sf_dir):
    """Both orientations (p, t) of every co-purchase edge — the
    symmetrized graph the PageRank entries iterate over."""
    e = _copurchase_edges(spark, sf_dir)
    return e.select(F.col("p1").alias("p"), F.col("p2").alias("t")).unionAll(
        e.select(F.col("p2"), F.col("p1"))
    )


_TRIANGLE_SQL = f"""
    WITH {_EDGE_CTE},
    tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
            FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
            JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2),
    corners AS (SELECT a AS p FROM tri UNION ALL
                SELECT b FROM tri UNION ALL
                SELECT c FROM tri)
    SELECT p AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY p
    ORDER BY n_triangles DESC, p_partkey LIMIT 20
"""


@q("graph_triangle_count", _TRIANGLE_SQL)
def graph_triangle_count(spark, sf_dir):
    """Top-20 parts by triangle participation in the co-purchase graph.
    The DataFrame side orients every edge from its lower-(degree, id)
    endpoint to the higher one before the wedge join — the classic
    distributed-triangle optimization (Suri & Vassilvitskii's MR
    algorithm): a celebrity node with degree d contributes wedges only
    through its (rare) higher-degree neighbors, so intermediate wedge
    count is bounded by the graph's arboricity, not d². Any acyclic
    orientation yields each triangle exactly once, so the count matches
    the oracle's simpler id-ordered orientation."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("p")).unionAll(e.select("p2"))
        .groupBy("p").agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.withColumnsRenamed({"p": "p1", "d": "d1"}), "p1")
        .join(deg.withColumnsRenamed({"p": "p2", "d": "d2"}), "p2")
    )
    fwd = (F.col("d1") < F.col("d2")) | ((F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2")))
    # referenced 3x by the wedge-close join below; unpinned (edges
    # still pinned): 2.79 s vs 2.59 s at sf0.1
    o = pin(ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ))
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    tri = (
        o1.join(o2, F.col("o1.dst") == F.col("o2.src"))
        .join(
            o3,
            (F.col("o1.src") == F.col("o3.src")) & (F.col("o2.dst") == F.col("o3.dst")),
        )
        .select(F.col("o1.src").alias("a"), F.col("o1.dst").alias("b"), F.col("o2.dst").alias("c"))
    )
    # stack the three corners by exploding an inline array instead of
    # unionAll-ing three selects over the SAME wedge-close join — the
    # union re-ran the two-join subtree once per corner (3 evaluations,
    # 13 exchange nodes in the r19 before-plan; guide §2.4)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("p"))
    return (
        corners.groupBy(F.col("p").alias("p_partkey"))
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "p_partkey")
        .limit(20)
    )


_PAGERANK_SQL = f"""
    WITH {_EDGE_CTE},
    e2 AS (SELECT p1 AS s, p2 AS t FROM e UNION ALL SELECT p2, p1 FROM e),
    deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS d FROM e2 GROUP BY s),
    nodes AS (SELECT DISTINCT s AS p FROM e2),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (SELECT p, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
    c1 AS (SELECT e2.t AS p, sum(pr0.pr / deg.d) AS c
           FROM e2 JOIN pr0 ON e2.s = pr0.p JOIN deg ON e2.s = deg.s GROUP BY e2.t),
    pr1 AS (SELECT nodes.p, 0.15 / nn.n + 0.85 * coalesce(c1.c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.p = c1.p),
    c2 AS (SELECT e2.t AS p, sum(pr1.pr / deg.d) AS c
           FROM e2 JOIN pr1 ON e2.s = pr1.p JOIN deg ON e2.s = deg.s GROUP BY e2.t),
    pr2 AS (SELECT nodes.p, 0.15 / nn.n + 0.85 * coalesce(c2.c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.p = c2.p),
    c3 AS (SELECT e2.t AS p, sum(pr2.pr / deg.d) AS c
           FROM e2 JOIN pr2 ON e2.s = pr2.p JOIN deg ON e2.s = deg.s GROUP BY e2.t),
    pr3 AS (SELECT nodes.p, 0.15 / nn.n + 0.85 * coalesce(c3.c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.p = c3.p)
    SELECT p AS p_partkey, round(pr * nn.n, 6) AS pr_scaled
    FROM pr3 CROSS JOIN nn
    ORDER BY pr_scaled DESC, p_partkey LIMIT 20
"""


@q("graph_pagerank_parts", _PAGERANK_SQL)
def graph_pagerank_parts(spark, sf_dir):
    """3-iteration PageRank (d=0.85) over the undirected co-purchase
    graph, top-20 by rank scaled to mean 1. The iterative loop is plain
    DataFrame joins (operators/graph.pagerank: one shuffle per
    iteration, pinned after the third). The oracle unrolls the same
    three iterations as chained CTEs; float drift across engines is ~1
    ulp per sum, far below the round-6 output precision. Results ordered on the ROUNDED
    rank so cross-engine tie order is stable."""
    pr, n = pagerank(_copurchase_digraph(spark, sf_dir), max_iter=3)
    return (
        pr.select(F.col("p").alias("p_partkey"), F.round(F.col("pr") * n, 6).alias("pr_scaled"))
        .orderBy(F.desc("pr_scaled"), "p_partkey")
        .limit(20)
    )


# =========================================================================
# spatial: radius self-join via grid bucketing
# =========================================================================

_GEO_R = 0.15
# CAST(... AS DOUBLE) divisors: Spark's SQL parser types a fractional
# literal (65537.0) as DECIMAL, so the whole lat/lon derivation would
# run in decimal arithmetic truncated at scale 7 — distances drift up
# to ~9e-6 from DuckDB's double math, past the round-6 oracle
# precision (seen at sf0.01; sf0.001 passed by luck). An int/DOUBLE
# division keeps both engines in IEEE doubles end to end.
_LAT = "40.0 + ((user_id + 13) * 48271 % 65537) / CAST(65537 AS DOUBLE)"
_LON = "-74.0 + ((user_id + 101) * 25253 % 65521) / CAST(65521 AS DOUBLE)"

_GEO_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    pt AS (SELECT user_id, {_LAT} AS lat, {_LON} AS lon FROM u)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           round(sqrt((a.lat - b.lat) * (a.lat - b.lat)
                      + (a.lon - b.lon) * (a.lon - b.lon)), 6) AS dist_deg
    FROM pt a JOIN pt b ON a.user_id < b.user_id
    WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon) <= {_GEO_R} * {_GEO_R}
    ORDER BY user_a, user_b
"""


@q("geo_radius_pairs", _GEO_SQL)
def geo_radius_pairs(spark, sf_dir):
    """All user pairs within 0.15° (points derived deterministically
    from user_id so both engines compute identical coordinates; squared
    euclidean distance keeps the threshold comparison in exact IEEE
    +,*,- arithmetic — no libm trig whose last ulp differs per engine).
    The Spark plan is the scale path the brute-force oracle is NOT: each
    point hashes to a (⌊lat/r⌋, ⌊lon/r⌋) grid cell, one side explodes to
    its 3×3 cell neighborhood, and the join is an EQUI join on the cell
    key — O(n·density) candidates instead of O(n²), and each surviving
    pair emerges exactly once because only the expanded side's copy
    landing on the home cell of its greater-id partner matches."""
    ev = _t(spark, sf_dir, "events")
    pt = (
        ev.select("user_id").distinct()
        .withColumn("lat", F.expr(_LAT))
        .withColumn("lon", F.expr(_LON))
    )
    cell = lambda c: F.floor(F.col(c) / _GEO_R).cast("long")  # noqa: E731
    home = pt.select("user_id", "lat", "lon", cell("lat").alias("cx"), cell("lon").alias("cy"))
    off = spark.range(-1, 2).select(F.col("id").alias("dx")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dy"))
    )
    expanded = home.crossJoin(F.broadcast(off)).select(
        F.col("user_id").alias("ua"), F.col("lat").alias("la"), F.col("lon").alias("lo"),
        (F.col("cx") + F.col("dx")).alias("cx"), (F.col("cy") + F.col("dy")).alias("cy"),
    )
    # explicit x*x (NOT **2 → Math.pow): pow isn't correctly-rounded, and
    # a 1-ulp drift before sqrt flips round-6 digits vs the oracle
    dlat = F.col("la") - F.col("lat")
    dlon = F.col("lo") - F.col("lon")
    d2 = dlat * dlat + dlon * dlon
    return (
        expanded.join(home, ["cx", "cy"])
        .filter((F.col("ua") < F.col("user_id")) & (d2 <= _GEO_R * _GEO_R))
        .select(
            F.col("ua").alias("user_a"),
            F.col("user_id").alias("user_b"),
            F.round(F.sqrt(d2), 6).alias("dist_deg"),
        )
        .orderBy("user_a", "user_b")
    )


# =========================================================================
# edit-distance near-dup (blocked Levenshtein)
# =========================================================================

_LEV_SQL = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
    WHERE levenshtein(a.text, b.text) <= 0.2 * greatest(a.n_chars, b.n_chars)
    ORDER BY doc_a, doc_b
"""


@q("dedup_levenshtein_blocked", _LEV_SQL)
def dedup_levenshtein_blocked(spark, sf_dir):
    """Edit-distance near-dup pairs (levenshtein ≤ 20%% of the longer
    doc) under (lang, ±20-char length band) blocking — the band is part
    of the declared semantics, shared with the oracle, and is what makes
    the operator scale: the DataFrame side turns the |Δlen|≤20 range
    predicate into an EQUI join on (lang, ⌊n_chars/20⌋) with a 3-bucket
    explode on one side, so Spark hash-partitions candidates instead of
    sort-merge-joining on lang alone (which would put a whole language
    — at corpus scale, most of the data — in one task). Levenshtein
    itself runs JVM-side (built-in expression), not in Python, in its
    THRESHOLDED form: levenshtein(a, b, k) runs the banded O(len·k)
    algorithm with early exit and returns -1 past the band, so the
    overwhelming majority of candidate pairs (dissimilar docs) cost a
    few diagonal rows instead of the full O(len²) matrix — measured
    234s → banded at sf0.1. k = floor(0.2·maxlen)+1 strictly covers
    the acceptance bound, so every KEPT pair's distance is exact and
    the (unchanged) final predicate still decides membership; -1 rows
    are rejected explicitly."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    band = lambda c: F.floor(F.col(c) / 20).cast("long")  # noqa: E731
    home = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        "lang", F.col("n_chars").alias("nb"), band("n_chars").alias("bkt"),
    )
    off = spark.range(-1, 2).select(F.col("id").alias("doff"))
    probe = d.crossJoin(F.broadcast(off)).select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
        "lang", F.col("n_chars").alias("na"), (band("n_chars") + F.col("doff")).alias("bkt"),
    )
    dist = F.expr("levenshtein(ta, tb, CAST(floor(0.2 * greatest(na, nb)) + 1 AS INT))")
    return (
        probe.join(home, ["lang", "bkt"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("na") - F.col("nb")) <= 20)
            & (dist >= 0)
            & (dist <= 0.2 * F.greatest("na", "nb"))
        )
        .select("doc_a", "doc_b", dist.cast("bigint").alias("edit_dist"))
        .orderBy("doc_a", "doc_b")
    )


# =========================================================================
# time-weighted OHLC bars
# =========================================================================

_OHLC_SQL = """
    WITH x AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, ts, event_id, value,
                      lead(ts) OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                                     ORDER BY ts, event_id) AS nxt
               FROM events),
    y AS (SELECT user_id, day, value,
                 CASE WHEN nxt IS NULL THEN 0.0
                      ELSE (epoch_us(nxt) - epoch_us(ts)) / 1000000.0 END AS dt,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM x)
    SELECT user_id, day,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           round(sum(value * dt) / nullif(sum(dt), 0.0), 6) AS twap,
           CAST(count(*) AS BIGINT) AS n_events
    FROM y GROUP BY user_id, day
    ORDER BY user_id, day
"""


@q("timeseries_ohlc_twap", _OHLC_SQL)
def timeseries_ohlc_twap(spark, sf_dir):
    """Daily OHLC bars + time-weighted average price per user — the
    standard irregular-timeseries resample. TWAP weights each value by
    its holding interval (lead(ts) − ts, last interval 0), so sparse
    bursts don't dominate the day. One shuffle on (user_id, day) serves
    all three windows AND the final agg (same partition key); open/close
    come from asc/desc row_numbers, fully tie-broken on event_id."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    x = ev.select("user_id", day, "ts", "event_id", "value")
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(F.desc("ts"), F.desc("event_id"))
    nxt = F.lead("ts").over(wa)
    y = x.select(
        "user_id", "day", "value",
        F.when(nxt.isNull(), F.lit(0.0))
        .otherwise((F.unix_micros(nxt) - F.unix_micros(F.col("ts"))) / 1e6)
        .alias("dt"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        y.groupBy("user_id", "day")
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias("close"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.nullif(F.sum("dt"), F.lit(0.0)), 6
            ).alias("twap"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


# =========================================================================
# data-quality expectations report
# =========================================================================

_DQ_SQL = """
    WITH l AS (SELECT CAST(count(*) AS BIGINT) AS total,
                      CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
                      CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
               FROM lineitem),
    o AS (SELECT CAST(count(*) AS BIGINT) AS total,
                 CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_tp
          FROM orders),
    d AS (SELECT CAST(count(*) AS BIGINT) AS total,
                 CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS v_short
          FROM documents),
    orph AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    SELECT * FROM (
        SELECT 'documents.text_under_100_chars' AS rule, d.v_short AS n_violations,
               d.total AS n_rows, round(CAST(d.v_short AS DOUBLE) / d.total, 6) AS pct FROM d
        UNION ALL
        SELECT 'lineitem.discount_above_8pct', l.v_disc, l.total,
               round(CAST(l.v_disc AS DOUBLE) / l.total, 6) FROM l
        UNION ALL
        SELECT 'lineitem.orphan_orderkey', orph.v, l.total,
               round(CAST(orph.v AS DOUBLE) / l.total, 6) FROM orph CROSS JOIN l
        UNION ALL
        SELECT 'lineitem.quantity_above_45', l.v_qty, l.total,
               round(CAST(l.v_qty AS DOUBLE) / l.total, 6) FROM l
        UNION ALL
        SELECT 'orders.totalprice_nonpositive', o.v_tp, o.total,
               round(CAST(o.v_tp AS DOUBLE) / o.total, 6) FROM o
    ) ORDER BY rule
"""


@q("dq_expectations_report", _DQ_SQL)
def dq_expectations_report(spark, sf_dir):
    """Data-quality expectations report: range rules, a referential-
    integrity rule, and a documents rule, each as (rule, violations,
    rows, pct). All range rules on one table share a SINGLE scan (one
    aggregate computes every CASE-sum); the orphan rule is a broadcast
    null-aware anti join on the distinct orderkeys. The report unions
    five one-row frames — constant-sized output however big the
    inputs."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    o = _t(spark, sf_dir, "orders")
    d = _t(spark, sf_dir, "documents")
    one = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    la = l.agg(
        F.count("*").alias("total"),
        one(F.col("l_quantity") > 45).alias("v_qty"),
        one(F.col("l_discount") > 0.08).alias("v_disc"),
    )
    oa = o.agg(F.count("*").alias("total"), one(F.col("o_totalprice") <= 0).alias("v_tp"))
    da = d.agg(F.count("*").alias("total"), one(F.col("n_chars") < 100).alias("v_short"))
    orph = (
        l.join(o.select("o_orderkey"), l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("bigint").alias("v"))
    )

    def row(name, src, vcol):
        return src.select(
            F.lit(name).alias("rule"),
            F.col(vcol).alias("n_violations"),
            F.col("total").alias("n_rows"),
            F.round(F.col(vcol).cast("double") / F.col("total"), 6).alias("pct"),
        )

    orph_row = orph.crossJoin(la.select("total")).select(
        F.lit("lineitem.orphan_orderkey").alias("rule"),
        F.col("v").alias("n_violations"),
        F.col("total").alias("n_rows"),
        F.round(F.col("v").cast("double") / F.col("total"), 6).alias("pct"),
    )
    return (
        row("documents.text_under_100_chars", da, "v_short")
        .unionAll(row("lineitem.discount_above_8pct", la, "v_disc"))
        .unionAll(orph_row)
        .unionAll(row("lineitem.quantity_above_45", la, "v_qty"))
        .unionAll(row("orders.totalprice_nonpositive", oa, "v_tp"))
        .orderBy("rule")
    )
