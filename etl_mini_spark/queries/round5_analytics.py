"""Round-5 batch 2: warehouse/behavioral analytics and corpus-quality
scoring — cohort retention, RFM segmentation, tumbling distinct counts,
ratio-to-report windows, churn gap detection, token-entropy quality,
robust (MAD) outliers, and canonical-document selection over near-dup
clusters (the keep/drop decision that completes a dedup pipeline).

All oracle-backed.
"""

from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t  # noqa: F401

# =========================================================================
# cohort retention
# =========================================================================

_COHORT_SQL = """
    WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
    SELECT date_trunc('week', f.first_ts) AS cohort_week,
           CAST((epoch_us(e.ts) - epoch_us(f.first_ts)) // 604800000000 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN f USING (user_id)
    GROUP BY cohort_week, week_offset
"""


@q("cohort_retention", _COHORT_SQL)
def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, active
    user counts at each week offset. The first-seen aggregate keys on
    user_id (broadcast back at bench scale; at cluster scale the join
    rides the aggregate's existing user_id partitioning) and the final
    matrix is tiny. Week offsets use integer epoch arithmetic (not
    calendar weeks) so the bucketing is timezone-free."""
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        e.join(f, "user_id")
        .select(
            F.date_trunc("week", "first_ts").alias("cohort_week"),
            F.expr(
                "(unix_micros(ts) - unix_micros(first_ts)) div 604800000000"
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# =========================================================================
# RFM segmentation
# =========================================================================

_RFM_SQL = """
    WITH m AS (SELECT o_custkey, max(o_orderdate) AS last_order,
                      count(*) AS freq, sum(o_totalprice) AS monetary
               FROM orders GROUP BY o_custkey)
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_q,
           CAST(ntile(4) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_q,
           CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_q
    FROM m
"""


@q("rfm_segments", _RFM_SQL)
def rfm_segments(spark, sf_dir):
    """RFM segmentation: quartile scores for recency/frequency/monetary
    per customer. ntile needs a total order → custkey tiebreak makes it
    deterministic. The three unpartitioned ntile windows share ONE
    global sort partition each — fine for the per-customer aggregate
    (already reduced); at extreme customer counts swap ntile for
    percent_rank-over-range or approx quantile cutpoints."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum("o_totalprice").alias("monetary"),
    )
    return m.select(
        "o_custkey",
        F.ntile(4).over(Window.orderBy("last_order", "o_custkey")).cast("long").alias("r_q"),
        F.ntile(4).over(Window.orderBy("freq", "o_custkey")).cast("long").alias("f_q"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).cast("long").alias("m_q"),
    )


# =========================================================================
# tumbling-window distinct counts
# =========================================================================

_TUMBLING_DISTINCT_SQL = """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY ws, event_type
"""


@q("window_tumbling_distinct", _TUMBLING_DISTINCT_SQL)
def window_tumbling_distinct(spark, sf_dir):
    """Distinct users per 1-hour tumbling window and event type — the
    event-time windowed cardinality every activity dashboard needs.
    Exact distinct = two-phase hash agg on (window, type, user); at
    100 TB swap countDistinct for approx_count_distinct and keep the
    identical plan shape."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("ws"), "event_type", "n_users")
    )


# =========================================================================
# ratio-to-report window
# =========================================================================

_RATIO_SQL = """
    WITH rev AS (SELECT r_name, n_name, sum(o_totalprice) AS revenue
                 FROM orders
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
                 GROUP BY r_name, n_name)
    SELECT r_name, n_name, round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6) AS region_share
    FROM rev
"""


@q("ratio_to_report", _RATIO_SQL)
def ratio_to_report(spark, sf_dir):
    """Ratio-to-report: each nation's share of its region's revenue.
    The share window runs over the already-aggregated (region, nation)
    grain — 25 rows — so the unbounded sum costs nothing; dims
    broadcast onto the orders fact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name", "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("region_share"),
    )


# =========================================================================
# churn gap detection
# =========================================================================

_CHURN_SQL = """
    WITH g AS (SELECT o_custkey,
                      date_diff('day',
                                lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                       ORDER BY o_orderdate, o_orderkey),
                                o_orderdate) AS gap_days
               FROM orders)
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(CASE WHEN gap_days > 365 THEN 1 END) AS BIGINT) AS n_churn_gaps,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM g GROUP BY o_custkey
"""


@q("churn_gap_flag", _CHURN_SQL)
def churn_gap_flag(spark, sf_dir):
    """Churn detection: per customer, count order gaps exceeding a year
    and the longest gap. lag + aggregate reuse the same o_custkey
    partitioning — one shuffle end-to-end."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    return g.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("gap_days") > 365, 1)).alias("n_churn_gaps"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


# =========================================================================
# token-entropy quality score
# =========================================================================

_ENTROPY_SQL = """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY 1, 2),
         s AS (SELECT doc_id, tok, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM c)
    SELECT doc_id, round(-sum((n / tot) * log2(n / tot)), 6) AS token_entropy
    FROM s GROUP BY doc_id
"""


@q("corpus_token_entropy", _ENTROPY_SQL)
def corpus_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — a
    repetition-sensitive quality score (low entropy = repeated
    boilerplate; complements the Gopher dup-fraction filters). The
    per-doc total rides a window over the grouped counts, so count →
    total → entropy is one doc_id shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    c = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    s = c.withColumn("tot", F.sum("n").over(Window.partitionBy("doc_id")))
    p = F.col("n") / F.col("tot")
    return s.groupBy("doc_id").agg(
        F.round(-F.sum(p * F.log2(p)), 6).alias("token_entropy")
    )


# =========================================================================
# robust outliers (median absolute deviation)
# =========================================================================

_MAD_SQL = """
    WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
         dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
                 FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type, round(max(d.med), 6) AS med, round(max(m.mad), 6) AS mad,
           CAST(count(CASE WHEN d.adev > 3 * m.mad THEN 1 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
"""


@q("mad_outliers", _MAD_SQL)
def mad_outliers(spark, sf_dir):
    """Robust outlier counts per event type via median absolute
    deviation (3×MAD rule) — unlike z-scores, immune to the outliers
    it hunts. Two exact-median aggregates on the same event_type key;
    the per-type medians broadcast back onto the rows."""
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1)).alias("n_outliers"),
        )
    )


# =========================================================================
# canonical-document selection over near-dup clusters
# =========================================================================

_CANONICAL_SQL = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         WHERE doc_id % 2 = 0),
sh AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w) - 1)]) AS shingles
       FROM toks),
pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
reach(node, lbl) AS (
    SELECT a, a FROM edges
  UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node),
ranked AS (SELECT c.cluster_rep, c.doc_id, d.n_chars,
                  row_number() OVER (PARTITION BY c.cluster_rep
                                     ORDER BY d.n_chars DESC, c.doc_id) AS rk
           FROM comp c JOIN documents d USING (doc_id))
SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_doc
FROM ranked GROUP BY cluster_rep
"""


@q("dedup_canonical_pick", _CANONICAL_SQL)
def dedup_canonical_pick(spark, sf_dir):
    """The keep-decision that completes a dedup pipeline: within each
    near-dup cluster keep the highest-quality member (longest doc,
    doc_id tiebreak) — clusters alone say what's duplicated, this says
    what survives. Star-CC clusters + a max_by over the cluster: the
    doc bodies never shuffle, only (doc_id, n_chars) pairs do. Oracle
    recomputes the closure with a recursive CTE + rank; it is a
    brute-force ALL-PAIRS check (quadratic by design — the stronger
    differential), so the query runs on the doc_id%2 half-corpus to
    keep the verification gate's oracle cost bounded."""
    from etl_mini_spark.operators.dedup import connected_components
    from etl_mini_spark.operators.dedup import near_dup_pairs_ngram_jaccard

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    pairs = near_dup_pairs_ngram_jaccard(d, "doc_id", "text")
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_rep")
    )
    sized = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    return sized.groupBy("cluster_rep").agg(
        F.count("*").alias("n_members"),
        F.max_by("doc_id", F.struct(F.col("n_chars"), -F.col("doc_id"))).alias(
            "canonical_doc"
        ),
    )


# =========================================================================
# point-in-time (temporal) join against SCD2 history
# =========================================================================

_PIT_SQL = """
    WITH scd AS (SELECT o_custkey, o_orderpriority AS priority,
                        o_orderdate AS valid_from,
                        lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey) AS valid_to
                 FROM orders),
         probe AS (SELECT l.l_shipdate AS at_ts, o.o_custkey
                   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT s.priority, CAST(count(*) AS BIGINT) AS n
    FROM probe p JOIN scd s
      ON p.o_custkey = s.o_custkey
     AND p.at_ts >= s.valid_from
     AND (s.valid_to IS NULL OR p.at_ts < s.valid_to)
    GROUP BY s.priority
"""


@q("scd2_point_in_time_join", _PIT_SQL)
def scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time join: each lineitem shipment looks up the
    customer's priority AS OF its ship date in the SCD2 validity
    intervals — the temporal-correctness lookup that prevents leakage
    of future attribute values into historical fact rows (the ML
    train-time-correctness problem). Physically an EQUI join on
    custkey with the interval predicate as a post-join filter — one
    shuffle, no nested loop; the intervals per key are non-overlapping
    by construction so each probe matches at most one row."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    scd = o.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    probe = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey"
    ).select(F.col("l_shipdate").alias("at_ts"), "o_custkey")
    joined = probe.join(
        scd,
        (probe.o_custkey == scd.o_custkey)
        & (probe.at_ts >= scd.valid_from)
        & (scd.valid_to.isNull() | (probe.at_ts < scd.valid_to)),
    )
    return joined.groupBy("priority").agg(F.count("*").alias("n"))


# =========================================================================
# market-basket co-occurrence (pair mining)
# =========================================================================

_COPURCHASE_SQL = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
                   FROM items a JOIN items b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY p1, p2
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, p1, p2 LIMIT 50
"""


@q("co_purchase_pairs", _COPURCHASE_SQL)
def co_purchase_pairs(spark, sf_dir):
    """Market-basket pair mining: part pairs that co-occur in ≥2
    orders, top-50. The self-join is WITHIN the order key, so pair
    expansion is bounded by items-per-order squared (~tens), never
    corpus-squared; the join and the pair aggregation shuffle on
    l_orderkey then (p1, p2) — at 100 TB the same plan holds because
    basket size, not corpus size, bounds the blowup. Fully tie-broken
    top-k → deterministic."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "p1", "p2")
        .limit(50)
    )
