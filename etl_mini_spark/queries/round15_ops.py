"""Registry queries: retrieval evaluation (MAP@10 / MRR), a KMV
distinct sketch replayed exactly on both engines, iterative graph
analytics under the integer-nano discipline (HITS hubs/authorities,
synchronous label propagation), exact cooperative-game attribution
(Shapley over 4-channel conversion coalitions), welfare economics
(Atkinson ε=2 inequality), survival (Nelson-Aalen cumulative hazard),
intermittent-demand forecasting (TSB, the every-period Croston
refinement), forecast-accuracy metrology (wMAPE/sMAPE/MASE), lakehouse
snapshot data-diff, privacy (l-diversity), a COUNT(DISTINCT) OVER
window parity differential, credit-risk vintage curves, Wald's SPRT
sequential test on exact-decimal log-likelihood ladders, closed-form
water-filling allocation, and Benjamini-Hochberg FDR adjustment, each
checked against its DuckDB oracle.

Parity rules as in round9..14_ops (FIXTURES.md §C): integer/decimal
arithmetic end-to-end wherever a comparison decides a row (money as
exact BIGINT cents, scores as BIGINT nanos, Shapley weights as exact
factorial numerators over a literal denominator, SPRT increments as
fixed DECIMAL(18,9) literals — ln() evaluated OFFLINE, never by either
engine), libm-free throughout this tier, per-term 9dp pre-rounds
summed as DECIMAL before any display division, deterministic
tie-breaks on every rank, floor(x*10^k + 0.5)/10^k HALF_UP display
rounding. Iterative recursions (HITS, LPA, TSB) follow the RSI/Holt
discipline: exact-integer state and the IDENTICAL op sequence on both
engines, with the one controlled float op per normalization spelled
out in both plans.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.operators.graph import hits, iterate
from etl_mini_spark.queries._base import _t, half_up
from etl_mini_spark.queries._base import q as pq
from etl_mini_spark.session import loop_confs


def _hex15(col) -> F.Column:
    """First 15 md5 hex chars as a non-negative BIGINT (< 16^15 = 2^60)
    — the repo's engine-portable uniform hash (operators/sampling.py)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# =====================================================================
# Block A — retrieval evaluation: MAP@10 + MRR
# =====================================================================

# Probe docs (doc_id % 11 == 3) rank ALL other docs by a deterministic
# md5 score key; a candidate is relevant iff it shares the probe's
# source. AP@10 sums precision-at-hit terms (each a small-int ratio,
# pre-rounded 9dp, summed as DECIMAL) normalized by min(n_rel, 10);
# RR is 1/first-hit-rank over the top-10 (0 if no hit). Every rank is
# tie-broken on doc_id, so the cut is identical on both engines.
_MAPMRR_SQL = """
    WITH probes AS (
      SELECT doc_id AS query_id, source AS qsrc FROM documents WHERE doc_id % 11 = 3),
    cand AS (
      SELECT p.query_id, d.doc_id, p.qsrc,
             CASE WHEN d.source = p.qsrc THEN 1 ELSE 0 END AS rel,
             substr(md5(CAST(p.query_id AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS sk
      FROM probes p JOIN documents d ON d.doc_id <> p.query_id),
    nrel AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel FROM cand GROUP BY 1),
    ranked AS (
      SELECT query_id, doc_id, rel,
             row_number() OVER (PARTITION BY query_id ORDER BY sk, doc_id) AS rnk
      FROM cand),
    top10 AS (
      SELECT query_id, rnk, rel,
             CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rnk) AS BIGINT) AS hits_so_far
      FROM ranked WHERE rnk <= 10),
    ap AS (
      SELECT query_id,
             CAST(sum(CASE WHEN rel = 1
                  THEN CAST(floor(CAST(hits_so_far AS DOUBLE) / rnk * 1000000000 + 0.5)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS ap_num_nanos,
             CAST(sum(rel) AS BIGINT) AS hits10,
             min(CASE WHEN rel = 1 THEN rnk END) AS first_hit
      FROM top10 GROUP BY 1)
    SELECT a.query_id, n.n_rel, a.hits10,
           floor(CAST(a.ap_num_nanos AS DOUBLE) / 1000.0
                 / CASE WHEN n.n_rel < 10 THEN n.n_rel ELSE 10 END + 0.5) / 1000000 AS ap10,
           CASE WHEN a.first_hit IS NULL THEN CAST(0.0 AS DOUBLE)
                ELSE floor(CAST(1000000 AS DOUBLE) / a.first_hit + 0.5) / 1000000 END AS rr
    FROM ap a JOIN nrel n ON n.query_id = a.query_id
    WHERE n.n_rel > 0
    ORDER BY a.query_id
"""


@pq("map_mrr_eval", _MAPMRR_SQL)
def map_mrr_eval(spark, sf_dir):
    """MAP@10 / MRR retrieval evaluation over a planted ranking: probe
    docs broadcast against the corpus (bounded by the % 11 rule), an
    md5 score key orders candidates identically on both engines, and
    relevance is same-source. AP terms hits/rank are pre-rounded to
    BIGINT nanos and summed exactly; the only float ops are the two
    final display divisions. At corpus scale the probe side stays a
    broadcast and the per-query top-10 is a WindowGroupLimit — one
    corpus scan, no quadratic materialization past the rank cut. n_rel
    derives from a per-source corpus count (a probe's relevant set is
    every OTHER doc with its source, so n_rel = count(source) - 1 —
    identical integers) instead of a second evaluation of the
    probe×corpus candidate join, which is the quadratic stage (guide
    2.4)."""
    d = _t(spark, sf_dir, "documents")
    probes = (
        d.filter(F.col("doc_id") % 11 == 3)
        .select(F.col("doc_id").alias("query_id"), F.col("source").alias("qsrc"))
    )
    cand = (
        d.join(F.broadcast(probes), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id", "doc_id",
            F.when(F.col("source") == F.col("qsrc"), 1).otherwise(0).alias("rel"),
            F.substring(
                F.md5(F.concat(F.col("query_id").cast("string"), F.lit(":"),
                               F.col("doc_id").cast("string"))), 1, 8).alias("sk"),
        )
    )
    src_cnt = d.groupBy("source").agg(F.count("*").cast("bigint").alias("__nsrc"))
    nrel = probes.join(src_cnt, probes.qsrc == src_cnt.source).select(
        "query_id", (F.col("__nsrc") - 1).cast("bigint").alias("n_rel")
    )
    w = Window.partitionBy("query_id").orderBy("sk", "doc_id")
    top10 = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .withColumn(
            "hits_so_far",
            F.sum("rel").over(Window.partitionBy("query_id").orderBy("rnk")).cast("bigint"),
        )
    )
    ap_term = F.when(
        F.col("rel") == 1,
        F.floor(F.col("hits_so_far").cast("double") / F.col("rnk") * 1000000000 + F.lit(0.5)),
    ).otherwise(F.lit(0))
    ap = top10.groupBy("query_id").agg(
        F.sum(ap_term).cast("bigint").alias("ap_num_nanos"),
        F.sum("rel").cast("bigint").alias("hits10"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_hit"),
    )
    return (
        ap.join(nrel, "query_id")
        .filter(F.col("n_rel") > 0)
        .select(
            "query_id", "n_rel", "hits10",
            (F.floor(
                F.col("ap_num_nanos").cast("double") / 1000.0
                / F.when(F.col("n_rel") < 10, F.col("n_rel")).otherwise(F.lit(10))
                + F.lit(0.5)) / 1000000).alias("ap10"),
            F.when(F.col("first_hit").isNull(), F.lit(0.0))
            .otherwise(F.floor(F.lit(1000000.0) / F.col("first_hit") + F.lit(0.5)) / 1000000)
            .alias("rr"),
        )
        .orderBy("query_id")
    )


# =====================================================================
# Block B — KMV (k-minimum-values) distinct sketch, exactly replayed
# =====================================================================

# The KMV estimator keeps the k smallest distinct hash values of a
# stream; estimate = (k-1) * H / h_(k) with H = 16^15 = 2^60 the hash
# range. Because the hash is md5 (identical on both engines) the
# sketch — and therefore the ESTIMATE, not just the exact count — is
# deterministic and oracle-checkable, unlike HLL (agg_approx_distinct
# stays rows-only). With fewer than k distinct values the sketch IS
# the exact set.
_KMV_SQL = """
    WITH h AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':kmv'), 1, 15))
             AS BIGINT) AS hv
      FROM events),
    r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM h),
    kth AS (SELECT hv AS hk FROM r WHERE rn = 32)
    SELECT 32 AS k, n.n_exact,
           CASE WHEN n.n_exact < 32 THEN CAST(n.n_exact AS DOUBLE)
                ELSE floor(CAST(31 AS DOUBLE) * 1152921504606846976 / kth.hk * 1000 + 0.5)
                     / 1000 END AS estimate,
           CASE WHEN n.n_exact < 32 THEN CAST(0.0 AS DOUBLE)
                ELSE floor(abs(CAST(31 AS DOUBLE) * 1152921504606846976 / kth.hk - n.n_exact)
                           / n.n_exact * 1000000 + 0.5) / 1000000 END AS rel_err
    FROM n LEFT JOIN kth ON TRUE
"""


@pq("kmv_distinct_estimate", _KMV_SQL)
def kmv_distinct_estimate(spark, sf_dir):
    """KMV distinct-count sketch over event users, k=32: the estimate
    (k-1)·2^60/h_(k) is bit-deterministic because md5 is engine-
    portable, so the differential checks the SKETCH, not only the
    truth. Scale path: the k smallest hashes of a 100 TB stream are a
    per-partition top-k (map-side) merged once — no global sort; here
    the rank cut expresses the same thing at test scale."""
    e = _t(spark, sf_dir, "events")
    h = e.select(
        _hex15(F.concat(F.col("user_id").cast("string"), F.lit(":kmv"))).alias("hv")
    ).distinct()
    n = h.agg(F.count("*").cast("bigint").alias("n_exact"))
    # kth smallest = max of the 32 smallest; orderBy().limit() compiles
    # to TakeOrderedAndProject (per-partition top-k + merge), never a
    # single-partition window sort — the shape that survives 100 TB.
    kth = (
        h.orderBy("hv").limit(32)
        .agg(F.max("hv").alias("hk"), F.count("*").alias("kn"))
        .filter(F.col("kn") == 32)
        .select("hk")
    )
    H = 1152921504606846976  # 16^15 = 2^60
    est_raw = F.lit(31.0) * H / F.col("hk")
    return n.join(kth, F.lit(True), "left").select(
        F.lit(32).alias("k"),
        "n_exact",
        F.when(F.col("n_exact") < 32, F.col("n_exact").cast("double"))
        .otherwise(F.floor(est_raw * 1000 + F.lit(0.5)) / 1000)
        .alias("estimate"),
        F.when(F.col("n_exact") < 32, F.lit(0.0))
        .otherwise(
            F.floor(F.abs(est_raw - F.col("n_exact")) / F.col("n_exact") * 1000000
                    + F.lit(0.5)) / 1000000)
        .alias("rel_err"),
    )


# =====================================================================
# Block C — HITS hubs & authorities (integer-nano discipline)
# =====================================================================

# Directed bipartite graph supplier -> part (distinct lineitem pairs).
# Scores live as BIGINT nanos; each half-step is an exact BIGINT sum
# followed by ONE controlled float op — floor(raw/total*1e9 + 0.5) —
# whose operands stay below 2^53, so the sequence is bit-identical on
# both engines (the RSI/Holt discipline applied to a graph fixpoint).
# 4 full iterations; output the top-15 hubs and authorities with their
# EXACT nano scores (no float in the output at all).
_HITS_NORM = (
    "CAST(floor(CAST({raw} AS DOUBLE) / CAST({tot} AS DOUBLE) * 1000000000 + 0.5) AS BIGINT)"
)


def _hits_iter_sql() -> str:
    # Every CTE is MATERIALIZED: each a{t}r/h{t}r is referenced twice
    # (once for the rows, once for the normalization total) and the
    # chain is 4 levels deep — inlining would re-evaluate the prefix
    # exponentially (measured: the un-hinted form never finished).
    parts = ["""
    WITH edges AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    h0 AS MATERIALIZED (SELECT DISTINCT s, CAST(1000000000 AS BIGINT) AS hs FROM edges)"""]
    prev_h = "h0"
    for t in (1, 2, 3, 4):
        parts.append(f""",
    a{t}r AS MATERIALIZED (
      SELECT e.p, CAST(sum(h.hs) AS BIGINT) AS raw
      FROM edges e JOIN {prev_h} h ON h.s = e.s GROUP BY 1),
    a{t} AS MATERIALIZED (
      SELECT p, {_HITS_NORM.format(raw='raw', tot=f'(SELECT sum(raw) FROM a{t}r)')} AS asc_
      FROM a{t}r),
    h{t}r AS MATERIALIZED (
      SELECT e.s, CAST(sum(a.asc_) AS BIGINT) AS raw
      FROM edges e JOIN a{t} a ON a.p = e.p GROUP BY 1),
    h{t} AS MATERIALIZED (
      SELECT s, {_HITS_NORM.format(raw='raw', tot=f'(SELECT sum(raw) FROM h{t}r)')} AS hs
      FROM h{t}r)""")
        prev_h = f"h{t}"
    parts.append("""
    SELECT role, node_id, score_nanos, rnk FROM (
      SELECT 'hub' AS role, s AS node_id, hs AS score_nanos,
             row_number() OVER (ORDER BY hs DESC, s) AS rnk
      FROM h4
      UNION ALL
      SELECT 'authority' AS role, p AS node_id, asc_ AS score_nanos,
             row_number() OVER (ORDER BY asc_ DESC, p) AS rnk
      FROM a4)
    WHERE rnk <= 15 ORDER BY role, rnk""")
    return "".join(parts)


_HITS_SQL = _hits_iter_sql()


@pq("graph_hits_hubs_authorities", _HITS_SQL)
def graph_hits_hubs_authorities(spark, sf_dir):
    """HITS over the supplier->part bipartite graph, 4 iterations, all
    state in BIGINT nanos (exact shuffled sums; one deterministic float
    op per L1 normalization, operands < 2^53). Plan: each half-step is
    a keyed aggregate + a 1-row total broadcast — the natural Pregel
    superstep as DataFrame ops; at 100 TB each iteration is one
    shuffle on the edge key, and the normalization scalar is a
    broadcast, never a driver loop over nodes. Each half-step is a
    pinned superstep (operators/graph.hits): without lineage truncation
    the lazy plan re-evaluates the whole prefix per reference —
    exponential recompute (measured 46 s -> ~8 s at sf0.001), the same
    reason the oracle CTEs are MATERIALIZED."""
    from etl_mini_spark.session import pin

    li = _t(spark, sf_dir, "lineitem")
    # unpinned: 50 jobs vs 44, 6.38 s vs 3.99 s at sf0.1
    edges = pin(
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    )
    h, a = hits(edges, 4)
    hubs = h.select(
        F.lit("hub").alias("role"), F.col("s").alias("node_id"),
        F.col("hs").alias("score_nanos"),
        F.row_number().over(Window.orderBy(F.desc("hs"), F.asc("s"))).alias("rnk"),
    )
    auths = a.select(
        F.lit("authority").alias("role"), F.col("p").alias("node_id"),
        F.col("asc_").alias("score_nanos"),
        F.row_number().over(Window.orderBy(F.desc("asc_"), F.asc("p"))).alias("rnk"),
    )
    return hubs.unionByName(auths).filter(F.col("rnk") <= 15).orderBy("role", "rnk")


# =====================================================================
# Block D — synchronous label propagation (3 rounds, exact integers)
# =====================================================================

# Undirected graph: supplier/part nodes (ids disambiguated to 2k /
# 2k+1) joined by high-quantity lineitems (l_quantity > 47 keeps the
# graph sparse enough to have structure). Each round every node takes
# the most frequent label among its neighbors' PREVIOUS labels, ties
# to the smallest label — all integer, bit-deterministic.
def _lpa_sql() -> str:
    head = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT 2 * l_suppkey AS u, 2 * l_partkey + 1 AS v
      FROM lineitem WHERE l_quantity > 47),
    adj AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM adj)"""
    body = []
    for t in (1, 2, 3):
        body.append(f""",
    nl{t} AS MATERIALIZED (
      SELECT a.u AS node, l.lab, count(*) AS c
      FROM adj a JOIN lab{t - 1} l ON l.node = a.v GROUP BY 1, 2),
    lab{t} AS MATERIALIZED (
      SELECT node, lab FROM (
        SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM nl{t}) WHERE rn = 1)""")
    tail = """
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS size,
           row_number() OVER (ORDER BY count(*) DESC, lab) AS rnk
    FROM lab3 GROUP BY 1
    QUALIFY rnk <= 20 ORDER BY rnk"""
    return head + "".join(body) + tail


_LPA_SQL = _lpa_sql()


@pq("graph_label_propagation", _LPA_SQL)
def graph_label_propagation(spark, sf_dir):
    """Synchronous label propagation, 3 rounds: each node adopts the
    modal neighbor label (tie -> smallest), seeded with node ids —
    pure integer logic so the round-3 community histogram is exact.
    Plan: one round = one edge-keyed join + a two-level aggregate;
    labels never leave the cluster, and the synchronous (not async)
    update is what makes the result order-independent and therefore
    distributable. The symmetrized edge list is built by exploding both
    orientations of ONE distinct pass (a self-union re-ran the lineitem
    distinct per branch). Each round is a pinned superstep
    (operators/graph.iterate) under loop_confs."""
    li = _t(spark, sf_dir, "lineitem")
    adj = (
        li.filter(F.col("l_quantity") > 47)
        .select((2 * F.col("l_suppkey")).alias("u"), (2 * F.col("l_partkey") + 1).alias("v"))
        .distinct()
        .select(F.explode(F.array(
            F.struct(F.col("u"), F.col("v")),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )).alias("e"))
        .select("e.u", "e.v")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))

    def step(lab):
        nl = (
            adj.join(lab.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        return nl.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select("node", "lab")

    lab = adj.select(F.col("u").alias("node")).distinct().withColumn("lab", F.col("node"))
    with loop_confs(spark, 8):
        lab = iterate(lab, step, max_iter=3)
    return (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(F.count("*").cast("bigint").alias("size"))
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.desc("size"), F.asc("community"))))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


# =====================================================================
# Block E — exact Shapley attribution over 4-channel coalitions
# =====================================================================

# Channel universe {click:1, error:2, signup:4, view:8}; a user
# "converts" at their first purchase, and their coalition is the set
# of channels touched strictly before it. v(S) = # converted users
# whose touch-mask is contained in S, computed against the 16-mask
# literal grid (a bounded broadcast). The Shapley value uses EXACT
# factorial weights s!(3-s)! over the literal denominator 4! = 24 —
# the one float op per channel is the final display division.
_SHAPLEY_GRID = ", ".join(f"({s})" for s in range(16))
_SHAPLEY_CH = "(1, 'click'), (2, 'error'), (4, 'signup'), (8, 'view')"

_SHAPLEY_SQL = f"""
    WITH conv AS (
      SELECT user_id, min(ts) AS cts FROM events WHERE event_type = 'purchase' GROUP BY 1),
    touch AS (
      SELECT c.user_id,
             CAST(coalesce(sum(DISTINCT CASE e.event_type
                 WHEN 'click' THEN 1 WHEN 'error' THEN 2
                 WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0) AS BIGINT) AS mask
      FROM conv c LEFT JOIN events e
        ON e.user_id = c.user_id AND e.ts < c.cts AND e.event_type <> 'purchase'
      GROUP BY 1),
    mcnt AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM touch GROUP BY 1),
    grid(smask) AS (VALUES {_SHAPLEY_GRID}),
    v AS (
      SELECT g.smask,
             CAST(coalesce(sum(m.cnt), 0) AS BIGINT) AS val
      FROM grid g LEFT JOIN mcnt m ON (m.mask & g.smask) = m.mask
      GROUP BY 1),
    ch(bit, channel) AS (VALUES {_SHAPLEY_CH}),
    marg AS (
      SELECT c.channel, c.bit, g.smask,
             CASE ((g.smask & 1) + ((g.smask >> 1) & 1)
                   + ((g.smask >> 2) & 1) + ((g.smask >> 3) & 1))
               WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS w
      FROM ch c JOIN grid g ON (g.smask & c.bit) = 0),
    phi AS (
      SELECT m.channel,
             CAST(sum(m.w * (v1.val - v0.val)) AS BIGINT) AS phi_num
      FROM marg m
      JOIN v v0 ON v0.smask = m.smask
      JOIN v v1 ON v1.smask = m.smask + m.bit
      GROUP BY 1)
    SELECT p.channel, p.phi_num,
           floor(CAST(p.phi_num AS DOUBLE) / 24 * 1000000 + 0.5) / 1000000 AS phi,
           (SELECT val FROM v WHERE smask = 15) AS n_conv_attributable
    FROM phi p ORDER BY p.channel
"""


@pq("shapley_attribution_paths", _SHAPLEY_SQL)
def shapley_attribution_paths(spark, sf_dir):
    """Exact Shapley channel attribution: coalition values over the
    16-subset literal grid (broadcast, bounded by the 4-channel
    universe — never by data), marginals weighted by exact factorial
    coefficients, one display division per channel. The touch-mask
    aggregation is the only data-sized pass; at 100 TB it is one
    groupBy(user) — the game-theory layer stays O(2^channels)."""
    e = _t(spark, sf_dir, "events")
    # conv feeds both the touch join and the converted-user re-add;
    # mcnt (<= 16 rows) feeds the three coalition-value references
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.min("ts").alias("cts"))
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
    )
    touch = (
        conv.join(
            e.filter(F.col("event_type") != "purchase").select("user_id", "ts", "event_type"),
            "user_id", "left")
        .filter(F.col("ts").isNull() | (F.col("ts") < F.col("cts")))
        .groupBy("user_id")
        .agg(F.coalesce(F.sum_distinct(bit), F.lit(0)).cast("long").alias("mask"))
    )
    # NOTE: the left join + post-filter drops converted users whose every
    # touch is post-conversion — mirror the oracle by re-adding them via
    # a second left join from conv.
    touch = conv.select("user_id").join(touch, "user_id", "left").select(
        "user_id", F.coalesce("mask", F.lit(0)).alias("mask"))
    mcnt = touch.groupBy("mask").agg(F.count("*").cast("bigint").alias("cnt"))
    grid = spark.range(16).select(F.col("id").cast("long").alias("smask"))
    v = (
        grid.join(F.broadcast(mcnt), F.expr("(mask & smask) = mask"), "left")
        .groupBy("smask").agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("val"))
    )
    ch = spark.createDataFrame(
        [(1, "click"), (2, "error"), (4, "signup"), (8, "view")], "bit long, channel string")
    pop = (
        (F.col("smask").bitwiseAND(1))
        + (F.shiftright(F.col("smask"), 1).bitwiseAND(1))
        + (F.shiftright(F.col("smask"), 2).bitwiseAND(1))
        + (F.shiftright(F.col("smask"), 3).bitwiseAND(1))
    )
    w = (
        F.when(pop == 0, 6).when(pop == 1, 2).when(pop == 2, 2).otherwise(6)
    )
    marg = (
        F.broadcast(ch).join(F.broadcast(grid), F.expr("(smask & bit) = 0"))
        .select("channel", "bit", "smask", w.alias("w"))
    )
    v0 = v.select(F.col("smask").alias("s0"), F.col("val").alias("val0"))
    v1 = v.select(F.col("smask").alias("s1"), F.col("val").alias("val1"))
    phi = (
        marg.join(F.broadcast(v0), F.col("s0") == F.col("smask"))
        .join(F.broadcast(v1), F.col("s1") == F.col("smask") + F.col("bit"))
        .groupBy("channel")
        .agg(F.sum(F.col("w") * (F.col("val1") - F.col("val0"))).cast("bigint").alias("phi_num"))
    )
    vfull = v.filter(F.col("smask") == 15).select(F.col("val").alias("n_conv_attributable"))
    return (
        phi.join(F.broadcast(vfull), F.lit(True))
        .select(
            "channel", "phi_num",
            (F.floor(F.col("phi_num").cast("double") / 24 * 1000000 + F.lit(0.5)) / 1000000)
            .alias("phi"),
            "n_conv_attributable",
        )
        .orderBy("channel")
    )


# =====================================================================
# Block F — Atkinson inequality index (ε = 2, libm-free)
# =====================================================================

# A_2 = 1 − harmonic_mean / arithmetic_mean needs NO pow/log: the
# harmonic mean comes from per-row reciprocals pre-rounded to BIGINT
# picos (x ≥ $0.01 so 1e12/x ≤ 1e14 < 2^63), summed exactly; the
# arithmetic mean from exact cents. One fixed float sequence per
# segment at the end.
_ATKINSON_SQL = """
    WITH x AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_acctbal > 0),
    t AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(sum(CAST(floor(CAST(1000000000000 AS DOUBLE) / (cents / 100.0) + 0.5)
                  AS BIGINT)) AS BIGINT) AS sum_pico
      FROM x GROUP BY 1)
    SELECT segment, n,
           floor(CAST(sum_cents AS DOUBLE) / 100.0 / n * 100 + 0.5) / 100 AS mean_bal,
           floor((1.0 - CAST(n AS DOUBLE) * n
                  / ((CAST(sum_cents AS DOUBLE) / 100.0)
                     * (CAST(sum_pico AS DOUBLE) / 1000000000000))) * 1000000 + 0.5)
             / 1000000 AS atkinson_eps2
    FROM t ORDER BY segment
"""


@pq("atkinson_inequality", _ATKINSON_SQL)
def atkinson_inequality(spark, sf_dir):
    """Atkinson inequality (ε=2) per market segment — 1 − H/μ with the
    harmonic mean built from exact pico-unit reciprocal sums and the
    arithmetic mean from exact cents; no log/pow anywhere, one fixed
    IEEE sequence per segment row. Scales as a single groupBy."""
    c = _t(spark, sf_dir, "customer")
    x = c.filter(F.col("c_acctbal") > 0).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    pico = F.floor(F.lit(1000000000000.0) / (F.col("cents") / 100.0) + F.lit(0.5)).cast("long")
    t = x.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.sum(pico).cast("bigint").alias("sum_pico"),
    )
    mean_bal = F.floor(
        F.col("sum_cents").cast("double") / 100.0 / F.col("n") * 100 + F.lit(0.5)) / 100
    atk = (
        F.lit(1.0)
        - F.col("n").cast("double") * F.col("n")
        / ((F.col("sum_cents").cast("double") / 100.0)
           * (F.col("sum_pico").cast("double") / 1000000000000))
    )
    return t.select(
        "segment", "n",
        mean_bal.alias("mean_bal"),
        (F.floor(atk * 1000000 + F.lit(0.5)) / 1000000).alias("atkinson_eps2"),
    ).orderBy("segment")


# =====================================================================
# Block G — Nelson-Aalen cumulative hazard
# =====================================================================

# Duration = days from order date to the order's LAST ship date
# (orders whose lines all shipped before the order date — the
# synthetic ship dates are unanchored — leave the study: t >= 0);
# death = o_orderstatus 'F' (others censored at their duration). The
# NA estimator H(t) = Σ_{t_i ≤ t} d_i / n_i accumulates per-event-time
# hazard increments pre-rounded to BIGINT nanos — exact cumulative
# sums, one display division.
_NELSON_AALEN_SQL = """
    WITH dur0 AS (
      SELECT o.o_orderkey, date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(max(l.l_shipdate) AS DATE)) AS t,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus),
    dur AS (SELECT * FROM dur0 WHERE t >= 0),
    et AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM dur GROUP BY 1),
    rk AS (
      SELECT t, d,
             CAST(sum(leaving) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
      FROM et),
    inc AS (
      SELECT t, d, n_risk,
             CAST(floor(CAST(d AS DOUBLE) / n_risk * 1000000000 + 0.5) AS BIGINT) AS h_nanos
      FROM rk WHERE d > 0)
    SELECT t AS t_days, n_risk, d,
           floor(CAST(CAST(sum(h_nanos) OVER (ORDER BY t) AS BIGINT) AS DOUBLE)
                 / 1000.0 + 0.5) / 1000000 AS cum_hazard
    FROM inc ORDER BY t
"""


@pq("nelson_aalen_hazard", _NELSON_AALEN_SQL)
def nelson_aalen_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over order fulfillment durations
    ('F' = event, others censored): risk sets from one descending
    cumulative count, hazard increments d/n pre-rounded to nanos and
    summed exactly. Plan: one join + two ordered windows — at scale a
    sort on the event-time key, nothing quadratic."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dur = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            (F.col("o_orderstatus") == "F").cast("int").alias("ev"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("ship"))
        .select("o_orderkey", "ev", F.datediff("ship", "od").alias("t"))
        .filter(F.col("t") >= 0)
    )
    et = dur.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    rk = et.withColumn(
        "n_risk", F.sum("leaving").over(Window.orderBy(F.desc("t"))).cast("bigint"))
    inc = rk.filter(F.col("d") > 0).withColumn(
        "h_nanos",
        F.floor(F.col("d").cast("double") / F.col("n_risk") * 1000000000 + F.lit(0.5))
        .cast("long"),
    )
    return inc.select(
        F.col("t").alias("t_days"), "n_risk", "d",
        (F.floor(F.sum("h_nanos").over(Window.orderBy("t")).cast("bigint").cast("double")
                 / 1000.0 + F.lit(0.5)) / 1000000).alias("cum_hazard"),
    ).orderBy("t_days")


# =====================================================================
# Block H — TSB intermittent-demand forecast (every-period Croston)
# =====================================================================

# TSB (Teunter-Syntetos-Babai) fixes Croston's inactivity bias: the
# demand-probability EMA p updates EVERY period (decaying through
# zero-demand runs), the size EMA z only on demand days. α = 0.25 for
# both (binary-exact literal). Seeds at the first demand day
# (p = 1.0, z = that demand); the same state machine runs as one
# Arrow pass per md5 bucket and as a bucket-keyed recursive CTE.
_TSB_SQL = """
    WITH RECURSIVE cells AS (
      SELECT (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':tsb'), 1, 15))
               AS BIGINT) % 4) AS b,
             strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS dem
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
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
      SELECT s.b, s.i, CAST(1.0 AS DOUBLE) AS p, CAST(s.dem AS DOUBLE) AS z
      FROM ser s JOIN f ON f.b = s.b AND s.i = f.fi
      UNION ALL
      SELECT r.b, r.i + 1,
             CASE WHEN s.dem > 0 THEN r.p + 0.25 * (1.0 - r.p)
                  ELSE r.p + 0.25 * (0.0 - r.p) END,
             CASE WHEN s.dem > 0 THEN r.z + 0.25 * (s.dem - r.z) ELSE r.z END
      FROM rec r JOIN ser s ON s.b = r.b AND s.i = r.i + 1),
    last AS (SELECT b, max(i) AS n FROM ser GROUP BY b),
    dd AS (SELECT b, CAST(count(*) AS BIGINT) AS demand_days FROM ser WHERE dem > 0 GROUP BY b)
    SELECT rec.b AS bucket, dd.demand_days,
           floor(rec.p * 1000000 + 0.5) / 1000000 AS p_ema,
           floor(rec.z * 1000000 + 0.5) / 1000000 AS z_ema,
           floor(rec.p * rec.z * 1000000 + 0.5) / 1000000 AS forecast
    FROM rec JOIN last ON last.b = rec.b AND rec.i = last.n
    JOIN dd ON dd.b = rec.b
    ORDER BY rec.b
"""


@pq("tsb_intermittent_forecast", _TSB_SQL)
def tsb_intermittent_forecast(spark, sf_dir):
    """TSB intermittent-demand forecast per md5 user bucket: the
    demand-probability EMA updates every period (0.25 binary-exact α,
    so zero runs decay it), the size EMA only on demand days; seeded
    (p=1, z=first demand). One Arrow pass per bucket over the
    zero-filled day grid, replayed by a bucket-keyed recursive CTE —
    the croston_intermittent discipline with TSB's every-period
    update. Series parallel across buckets; recursion bounded by the
    calendar."""
    import pandas as pd

    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    cells = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            hash_bucket(F.col("user_id"), salt="tsb", buckets=4).alias("b"),
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

    def tsb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        dem = [int(x) for x in pdf["dem"]]
        first = next((i for i, v in enumerate(dem) if v > 0), None)
        if first is None:
            return pd.DataFrame(
                {"b": pd.Series([], dtype="int64"),
                 "demand_days": pd.Series([], dtype="int64"),
                 "p_ema": pd.Series([], dtype=float),
                 "z_ema": pd.Series([], dtype=float)}
            )
        p, z = 1.0, float(dem[first])
        for t in range(first + 1, len(dem)):
            if dem[t] > 0:
                p = p + 0.25 * (1.0 - p)
                z = z + 0.25 * (dem[t] - z)
            else:
                p = p + 0.25 * (0.0 - p)
        return pd.DataFrame(
            {"b": [int(pdf["b"][0])], "demand_days": [sum(1 for v in dem if v > 0)],
             "p_ema": [p], "z_ema": [z]}
        )

    res = grid.groupBy("b").applyInPandas(
        tsb, schema="b long, demand_days long, p_ema double, z_ema double"
    )
    return res.select(
        F.col("b").alias("bucket"), "demand_days",
        half_up(F.col("p_ema")).alias("p_ema"),
        half_up(F.col("z_ema")).alias("z_ema"),
        half_up(F.col("p_ema") * F.col("z_ema")).alias("forecast"),
    ).orderBy("bucket")


# =====================================================================
# Block I — forecast-error metrology: wMAPE / sMAPE / MASE
# =====================================================================

# Actuals = daily order counts per priority on the zero-filled day
# spine; forecast = seasonal-naive lag-7; the MASE denominator is the
# lag-1 naive MAE. wMAPE and MASE are ratios of exact integer sums;
# sMAPE pre-rounds each 2|e|/(a+f) term at 9dp into BIGINT nanos.
_FCERR_SQL = """
    WITH spine AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
    pri AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
    act AS (
      SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS a
      FROM orders GROUP BY 1, 2),
    g AS (
      SELECT p.prio, s.d, coalesce(act.a, 0) AS a,
             row_number() OVER (PARTITION BY p.prio ORDER BY s.d) AS i
      FROM pri p CROSS JOIN spine s
      LEFT JOIN act ON act.prio = p.prio AND act.d = s.d),
    lagged AS (
      SELECT prio, d, a, i,
             lag(a, 7) OVER (PARTITION BY prio ORDER BY i) AS f7,
             lag(a, 1) OVER (PARTITION BY prio ORDER BY i) AS f1
      FROM g),
    e AS (
      SELECT prio, a, abs(a - f7) AS e7, abs(a - f1) AS e1,
             CASE WHEN a + f7 = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(2 * abs(a - f7) AS DOUBLE) / (a + f7)
                                  * 1000000000 + 0.5) AS BIGINT) END AS sm_nanos
      FROM lagged WHERE f7 IS NOT NULL AND f1 IS NOT NULL)
    SELECT prio, CAST(count(*) AS BIGINT) AS n_eval,
           floor(CAST(CAST(sum(e7) AS BIGINT) AS DOUBLE) / CAST(sum(a) AS BIGINT)
                 * 1000000 + 0.5) / 1000000 AS wmape,
           floor(CAST(CAST(sum(sm_nanos) AS BIGINT) AS DOUBLE) / count(*) / 1000.0 + 0.5)
             / 1000000 AS smape,
           CASE WHEN CAST(sum(e1) AS BIGINT) = 0 THEN NULL
                ELSE floor(CAST(CAST(sum(e7) AS BIGINT) AS DOUBLE) / CAST(sum(e1) AS BIGINT)
                           * 1000000 + 0.5) / 1000000 END AS mase
    FROM e GROUP BY 1 ORDER BY 1
"""


@pq("forecast_error_suite", _FCERR_SQL)
def forecast_error_suite(spark, sf_dir):
    """wMAPE / sMAPE / MASE for a seasonal-naive lag-7 forecast of
    daily order counts per priority: all three metrics reduce to exact
    integer sums (sMAPE terms pre-rounded to nanos), so the engine
    comparison is exact. One day-grid window pass per priority."""
    o = _t(spark, sf_dir, "orders")
    spine = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    pri = o.select(F.col("o_orderpriority").alias("prio")).distinct()
    act = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("a"))
    g = (
        pri.crossJoin(spine)
        .join(act, ["prio", "d"], "left")
        .select("prio", "d", F.coalesce("a", F.lit(0)).alias("a"))
        .withColumn("i", F.row_number().over(Window.partitionBy("prio").orderBy("d")))
    )
    wl = Window.partitionBy("prio").orderBy("i")
    lagged = g.select(
        "prio", "a",
        F.lag("a", 7).over(wl).alias("f7"),
        F.lag("a", 1).over(wl).alias("f1"),
    ).filter(F.col("f7").isNotNull() & F.col("f1").isNotNull())
    sm_nanos = F.when(F.col("a") + F.col("f7") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (2 * F.abs(F.col("a") - F.col("f7"))).cast("double") / (F.col("a") + F.col("f7"))
            * 1000000000 + F.lit(0.5)
        ).cast("long")
    )
    e = lagged.select(
        "prio", "a",
        F.abs(F.col("a") - F.col("f7")).alias("e7"),
        F.abs(F.col("a") - F.col("f1")).alias("e1"),
        sm_nanos.alias("sm_nanos"),
    )
    return (
        e.groupBy("prio")
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum("e7").cast("bigint").alias("se7"),
            F.sum("e1").cast("bigint").alias("se1"),
            F.sum("a").cast("bigint").alias("sa"),
            F.sum("sm_nanos").cast("bigint").alias("ssm"),
        )
        .select(
            "prio", "n_eval",
            (F.floor(F.col("se7").cast("double") / F.col("sa") * 1000000 + F.lit(0.5))
             / 1000000).alias("wmape"),
            (F.floor(F.col("ssm").cast("double") / F.col("n_eval") / 1000.0 + F.lit(0.5))
             / 1000000).alias("smape"),
            F.when(F.col("se1") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.floor(F.col("se7").cast("double") / F.col("se1") * 1000000 + F.lit(0.5))
                / 1000000)
            .alias("mase"),
        )
        .orderBy("prio")
    )


# =====================================================================
# Block J — lakehouse snapshot data-diff
# =====================================================================

# Snapshot A = orders before 1999-01-01; snapshot B = orders before
# 2000-01-01, with keys % 31 = 0 deleted and totals bumped 10% on
# keys % 7 = 0 — a synthetic but exact CDC surface. The diff
# classifies every key into added/removed/changed/unchanged with a
# BIGINT key checksum per class.
_SNAPDIFF_SQL = """
    WITH a AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    b AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 7 = 0
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 10
                      ELSE 0 END AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01' AND o_orderkey % 31 <> 0),
    d AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.st <> b.st OR a.cents <> b.cents THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY 1 ORDER BY 1
"""


@pq("snapshot_data_diff", _SNAPDIFF_SQL)
def snapshot_data_diff(spark, sf_dir):
    """Keyed diff of two table snapshots (added / removed / changed /
    unchanged + key checksums): one full-outer join on the key — the
    table-format-agnostic core of snapshot compare and CDC backfill
    validation. At scale both sides shuffle once on the key; the
    payload comparison is column equality, no row serialization."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    a = o.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")).select(
        F.col("o_orderkey").alias("ak"), F.col("o_orderstatus").alias("ast"),
        cents.alias("acents"),
    )
    b = o.filter(
        (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderkey") % 31 != 0)
    ).select(
        F.col("o_orderkey").alias("bk"), F.col("o_orderstatus").alias("bst"),
        (cents + F.when(F.col("o_orderkey") % 7 == 0, (cents / 10).cast("long")
                        ).otherwise(F.lit(0))).alias("bcents"),
    )
    d = a.join(b, a.ak == b.bk, "full_outer").select(
        F.coalesce("ak", "bk").alias("k"),
        F.when(F.col("ak").isNull(), "added")
        .when(F.col("bk").isNull(), "removed")
        .when((F.col("ast") != F.col("bst")) | (F.col("acents") != F.col("bcents")), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        d.groupBy("change_type")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum("k").cast("bigint").alias("key_checksum"))
        .orderBy("change_type")
    )


# =====================================================================
# Block K — l-diversity privacy profile
# =====================================================================

# Quasi-identifier = (market segment, $1000 balance bucket); sensitive
# attribute = nationkey. Reports per-group size k and sensitive-value
# diversity l, flagging l < 3 groups — the k-anonymity follow-on
# (privacy_k_anonymity, r07) for attribute disclosure. All integers.
_LDIV_SQL = """
    WITH g AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS k,
             CAST(count(DISTINCT c_nationkey) AS BIGINT) AS l
      FROM customer GROUP BY 1, 2)
    SELECT segment, bal_bucket, k, l,
           CASE WHEN l < 3 THEN 1 ELSE 0 END AS risky
    FROM g ORDER BY segment, bal_bucket
"""


@pq("privacy_l_diversity", _LDIV_SQL)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit per quasi-identifier group: group size k and
    distinct-sensitive-value count l, with the l < 3 disclosure flag.
    One grouped aggregate — the attribute-disclosure complement to
    privacy_k_anonymity."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
        )
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.countDistinct("c_nationkey").cast("bigint").alias("l"),
        )
        .select(
            "segment", "bal_bucket", "k", "l",
            F.when(F.col("l") < 3, 1).otherwise(0).alias("risky"),
        )
        .orderBy("segment", "bal_bucket")
    )


# =====================================================================
# Block L — COUNT(DISTINCT) OVER window parity
# =====================================================================

# Spark has no COUNT(DISTINCT) window aggregate; the engine-idiomatic
# composition is size(collect_set() OVER frame). DuckDB runs the
# native COUNT(DISTINCT ...) OVER. The differential proves the
# composition IS the semantics — for both a sliding 5-row frame and
# the running unbounded frame — compressed to an exact histogram.
_WCD_SQL = """
    WITH k AS (
      SELECT user_id,
             count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS k5,
             count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS krun
      FROM events)
    SELECT CAST(k5 AS BIGINT) AS k5, CAST(krun AS BIGINT) AS krun,
           CAST(count(*) AS BIGINT) AS n
    FROM k GROUP BY 1, 2 ORDER BY 1, 2
"""


@pq("window_count_distinct_parity", _WCD_SQL)
def window_count_distinct_parity(spark, sf_dir):
    """COUNT(DISTINCT) OVER parity: Spark's size(collect_set) window
    composition vs DuckDB's native distinct window aggregate, over a
    sliding 5-row frame and the running frame, histogram-compressed.
    collect_set stays bounded by the event-type domain, so the frame
    state is O(domain), not O(rows) — the scale-safe form."""
    e = _t(spark, sf_dir, "events")
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = e.select(
        F.size(F.collect_set("event_type").over(wb.rowsBetween(-4, 0)))
        .cast("bigint").alias("k5"),
        F.size(F.collect_set("event_type").over(
            wb.rowsBetween(Window.unboundedPreceding, 0)))
        .cast("bigint").alias("krun"),
    )
    return (
        k.groupBy("k5", "krun")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("k5", "krun")
    )


# =====================================================================
# Block M — credit-risk vintage curves (cumulative return rate by age)
# =====================================================================

# Cohort = order month; "default" = a returned line (l_returnflag =
# 'R'); age = 30-day buckets of ship lag within the first year (the
# synthetic ship dates are unanchored, so negative / >360d lags leave
# the observation window). The curve is the cumulative
# returned-line share of each cohort's total lines — exact integer
# cumulative sums, one display division.
_VINTAGE_SQL = """
    WITH base AS (
      SELECT strftime(o.o_orderdate, '%Y-%m') AS cohort,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) // 30 AS BIGINT) AS age,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
        AND date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) < 360),
    tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_lines FROM base GROUP BY 1),
    byage AS (
      SELECT cohort, age, CAST(sum(ret) AS BIGINT) AS r
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT cohort, age,
             CAST(sum(r) OVER (PARTITION BY cohort ORDER BY age) AS BIGINT) AS cum_r
      FROM byage)
    SELECT c.cohort, c.age, c.cum_r, t.n_lines,
           floor(CAST(c.cum_r AS DOUBLE) / t.n_lines * 1000000 + 0.5) / 1000000
             AS cum_return_rate
    FROM cum c JOIN tot t ON t.cohort = c.cohort
    ORDER BY c.cohort, c.age
"""


@pq("vintage_default_curves", _VINTAGE_SQL)
def vintage_default_curves(spark, sf_dir):
    """Vintage analysis: per order-month cohort, the cumulative
    returned-line rate by 30-day age bucket — the credit-risk vintage
    curve shape on the returns domain. Exact integer cumulative sums;
    one join + one ordered window per cohort."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dd = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter((F.col("l_shipdate") >= F.col("o_orderdate")) & (dd < 360))
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("cohort"),
            F.floor(dd / 30).cast("bigint").alias("age"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        )
    )
    # byage carries the per-cell line count so the cohort totals roll
    # up from the cohort×age table (≤12 ages) instead of a second
    # evaluation of the orders⋈lineitem join (guide 2.4)
    byage = base.groupBy("cohort", "age").agg(
        F.sum("ret").cast("bigint").alias("r"),
        F.count("*").cast("bigint").alias("__c"),
    )
    tot = byage.groupBy("cohort").agg(F.sum("__c").cast("bigint").alias("n_lines"))
    cum = byage.withColumn(
        "cum_r", F.sum("r").over(Window.partitionBy("cohort").orderBy("age")).cast("bigint"))
    return (
        cum.join(tot, "cohort")
        .select(
            "cohort", "age", "cum_r", "n_lines",
            (F.floor(F.col("cum_r").cast("double") / F.col("n_lines") * 1000000 + F.lit(0.5))
             / 1000000).alias("cum_return_rate"),
        )
        .orderBy("cohort", "age")
    )


# =====================================================================
# Block N — Wald's SPRT on exact-decimal log-likelihood ladders
# =====================================================================

# H0: p = 0.2 vs H1: p = 0.3 purchase rate, α = 0.05, β = 0.2. The
# per-event LLR increments and both Wald boundaries are FIXED 9dp
# DECIMAL literals (ln evaluated offline — neither engine runs libm):
#   x=1: ln(0.3/0.2)  = 0.405465108      x=0: ln(0.7/0.8) = -0.133531393
#   upper ln((1-β)/α) = 2.772588722      lower ln(β/(1-α)) = -1.558144618
# The cumulative ladder is therefore EXACT decimal arithmetic; the
# decision and its time are integer-determined.
_SPRT_SQL = """
    WITH s AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(0.405465108 AS DECIMAL(18,9))
                  ELSE CAST(-0.133531393 AS DECIMAL(18,9)) END AS inc
      FROM events),
    c AS (
      SELECT user_id, i,
             CAST(sum(inc) OVER (PARTITION BY user_id ORDER BY i) AS DECIMAL(18,9)) AS llr
      FROM s),
    hit AS (
      SELECT user_id, min(i) AS t_dec,
             min(CASE WHEN llr >= CAST(2.772588722 AS DECIMAL(18,9)) THEN i END) AS t_up
      FROM c
      WHERE llr >= CAST(2.772588722 AS DECIMAL(18,9))
         OR llr <= CAST(-1.558144618 AS DECIMAL(18,9))
      GROUP BY 1),
    nn AS (SELECT user_id, max(i) AS n_obs,
                  CAST(max(CASE WHEN 1=1 THEN 0 END) AS BIGINT) AS _z
           FROM c GROUP BY 1),
    fin AS (SELECT user_id, CAST(llr AS DOUBLE) AS llr_final
            FROM c QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY i DESC) = 1)
    SELECT n.user_id,
           coalesce(h.t_dec, n.n_obs) AS n_at_decision,
           CASE WHEN h.user_id IS NULL THEN 'continue'
                WHEN h.t_up = h.t_dec THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           f.llr_final
    FROM nn n
    LEFT JOIN hit h ON h.user_id = n.user_id
    JOIN fin f ON f.user_id = n.user_id
    ORDER BY n.user_id
"""


@pq("sprt_sequential_test", _SPRT_SQL)
def sprt_sequential_test(spark, sf_dir):
    """Wald SPRT per user stream: the log-likelihood ladder is a
    cumulative sum of two fixed DECIMAL(18,9) literals (ln computed
    offline), so the walk, both boundary crossings, and the stopping
    time are exact on both engines. One partitioned window pass."""
    e = _t(spark, sf_dir, "events")
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        F.row_number().over(wb).alias("i"),
        F.when(F.col("event_type") == "purchase",
               F.lit("0.405465108").cast("decimal(18,9)"))
        .otherwise(F.lit("-0.133531393").cast("decimal(18,9)"))
        .alias("inc"),
    )
    c = s.withColumn(
        "llr",
        F.sum("inc").over(Window.partitionBy("user_id").orderBy("i"))
        .cast("decimal(18,9)"),
    )
    up = F.lit("2.772588722").cast("decimal(18,9)")
    lo = F.lit("-1.558144618").cast("decimal(18,9)")
    hit = (
        c.filter((F.col("llr") >= up) | (F.col("llr") <= lo))
        .groupBy("user_id")
        .agg(
            F.min("i").alias("t_dec"),
            F.min(F.when(F.col("llr") >= up, F.col("i"))).alias("t_up"),
        )
    )
    nn = c.groupBy("user_id").agg(F.max("i").alias("n_obs"))
    fin = (
        c.withColumn(
            "rn", F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("i"))))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("llr").cast("double").alias("llr_final"))
    )
    return (
        nn.join(hit, "user_id", "left")
        .join(fin, "user_id")
        .select(
            "user_id",
            F.coalesce("t_dec", "n_obs").alias("n_at_decision"),
            F.when(F.col("t_dec").isNull(), "continue")
            .when(F.col("t_up") == F.col("t_dec"), "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            "llr_final",
        )
        .orderBy("user_id")
    )


# =====================================================================
# Block O — closed-form water-filling allocation
# =====================================================================

# Per segment, allocate capacity C = 80% of total demand (exact
# integer (total*4)//5 cents) across customer demands d_i by the
# water-filling rule alloc_i = min(d_i, θ). The level index comes
# from the monotone g(i) = P_i + (n-i)·d_i ≤ C test — ALL integer
# comparisons (g is nondecreasing, so the qualifying set is a prefix
# and max() picks the boundary row); θ itself is the only float.
_WATERFILL_SQL = """
    WITH dem AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey AS cust,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS d
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    r AS (
      SELECT segment, cust, d,
             row_number() OVER (PARTITION BY segment ORDER BY d, cust) AS i,
             CAST(sum(d) OVER (PARTITION BY segment ORDER BY d, cust) AS BIGINT) AS p
      FROM dem),
    t AS (SELECT segment, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS total
          FROM dem GROUP BY 1),
    cap AS (SELECT segment, n, total, (total * 4) // 5 AS c FROM t),
    sel AS (
      SELECT r.segment,
             CAST(max(CASE WHEN r.p + (cap.n - r.i) * r.d <= cap.c THEN r.i ELSE 0 END)
                  AS BIGINT) AS sel_i,
             CAST(max(CASE WHEN r.p + (cap.n - r.i) * r.d <= cap.c THEN r.p ELSE 0 END)
                  AS BIGINT) AS sel_p
      FROM r JOIN cap ON cap.segment = r.segment
      GROUP BY 1)
    SELECT cap.segment, cap.n AS n_customers, cap.c AS capacity_cents,
           floor(CAST(cap.c - s.sel_p AS DOUBLE) / (cap.n - s.sel_i) / 100.0 * 1000000 + 0.5)
             / 1000000 AS water_level,
           cap.n - s.sel_i AS n_capped
    FROM cap JOIN sel s ON s.segment = cap.segment
    ORDER BY cap.segment
"""


@pq("water_filling_allocation", _WATERFILL_SQL)
def water_filling_allocation(spark, sf_dir):
    """Water-filling (max-min fair) allocation of 80% of each
    segment's demand: the level index is found by the closed-form
    monotone prefix test — exact BIGINT cents end to end, one float
    division for the displayed level. Plan: one window pass per
    segment + a broadcast of the per-segment capacity row; no
    iteration, no driver loop."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dem = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("c_custkey").alias("cust"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
             .cast("bigint").alias("d"))
    )
    wr = Window.partitionBy("segment").orderBy("d", "cust")
    r = dem.select(
        "segment", "cust", "d",
        F.row_number().over(wr).alias("i"),
        F.sum("d").over(wr).cast("bigint").alias("p"),
    )
    cap = dem.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("total"),
    ).select("segment", "n", "total", F.expr("(total * 4) div 5").alias("c"))
    g_ok = (F.col("p") + (F.col("n") - F.col("i")) * F.col("d")) <= F.col("c")
    sel = (
        r.join(F.broadcast(cap), "segment")
        .groupBy("segment")
        .agg(
            F.max(F.when(g_ok, F.col("i")).otherwise(0)).cast("bigint").alias("sel_i"),
            F.max(F.when(g_ok, F.col("p")).otherwise(0)).cast("bigint").alias("sel_p"),
        )
    )
    return (
        cap.join(sel, "segment")
        .select(
            "segment", F.col("n").alias("n_customers"), F.col("c").alias("capacity_cents"),
            (F.floor(
                (F.col("c") - F.col("sel_p")).cast("double") / (F.col("n") - F.col("sel_i"))
                / 100.0 * 1000000 + F.lit(0.5)) / 1000000).alias("water_level"),
            (F.col("n") - F.col("sel_i")).alias("n_capped"),
        )
        .orderBy("segment")
    )


# =====================================================================
# Block P — Benjamini-Hochberg FDR adjustment
# =====================================================================

# Planted p-values: exact md5-derived rationals (h % 999999 + 1)/1e6,
# identical doubles on both engines. BH: rank ascending, raw adjusted
# p·n/i pre-rounded at 9dp, then the suffix cummin (window min over
# the following rows) and the 1.0 cap — compare-only float logic on
# pre-rounded values. Reject at q = 0.1.
_BH_SQL = """
    WITH p AS (
      SELECT p_partkey AS unit_id,
             (CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR) || ':bh'), 1, 15))
              AS BIGINT) % 999999 + 1) / 1000000.0 AS pval
      FROM part WHERE p_partkey % 3 = 0),
    r AS (
      SELECT unit_id, pval,
             row_number() OVER (ORDER BY pval, unit_id) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM p),
    raw AS (
      SELECT unit_id, pval, i, n,
             floor(pval * n / i * 1000000000 + 0.5) / 1000000000 AS radj
      FROM r),
    adj AS (
      SELECT unit_id, pval, i, n,
             least(min(radj) OVER (ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                   CAST(1.0 AS DOUBLE)) AS p_adj
      FROM raw)
    SELECT unit_id, floor(pval * 1000000 + 0.5) / 1000000 AS pval,
           i AS rank_i, p_adj,
           CASE WHEN p_adj <= 0.1 THEN 1 ELSE 0 END AS rejected
    FROM adj
    WHERE i <= 100
    ORDER BY i
"""


@pq("benjamini_hochberg_fdr", _BH_SQL)
def benjamini_hochberg_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR adjustment over planted exact-rational
    p-values: ascending rank, p·n/i pre-rounded at 9dp, suffix cummin
    via a following-rows window min, 1.0 cap, q=0.1 rejection. The
    suffix cummin is one ordered window — at scale a single sort by
    p-value, no iteration."""
    pt = _t(spark, sf_dir, "part")
    pval = (
        (_hex15(F.concat(F.col("p_partkey").cast("string"), F.lit(":bh"))) % 999999 + 1)
        / 1000000.0
    )
    p = pt.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("unit_id"), pval.alias("pval"))
    wo = Window.orderBy("pval", "unit_id")
    r = p.select(
        "unit_id", "pval",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    raw = r.withColumn(
        "radj",
        F.floor(F.col("pval") * F.col("n") / F.col("i") * 1000000000 + F.lit(0.5))
        / 1000000000,
    )
    adj = raw.withColumn(
        "p_adj",
        F.least(
            F.min("radj").over(
                Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)),
            F.lit(1.0),
        ),
    )
    return (
        adj.filter(F.col("i") <= 100)
        .select(
            "unit_id",
            (F.floor(F.col("pval") * 1000000 + F.lit(0.5)) / 1000000).alias("pval"),
            F.col("i").alias("rank_i"),
            "p_adj",
            F.when(F.col("p_adj") <= 0.1, 1).otherwise(0).alias("rejected"),
        )
        .orderBy("rank_i")
    )
