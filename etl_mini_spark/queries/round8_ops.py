"""Registry queries, each checked against its DuckDB oracle. The
non-vacuity pins live in tests/test_round8_ops.py; every entry also
runs through the registry oracle sweep (tests/test_queries_oracle.py).

Contents:
- timeseries_ema          : per-type daily EMA — the classic "SQL can't
                            do linear recursion" op, linearized as a
                            higher-order array fold (one pass, bounded
                            per-group state) vs a recursive-CTE oracle.
- agg_weighted_median     : weighted quantiles via cumulative-weight
                            cutoffs (the unweighted percentile suite
                            can't express per-row mass).
- cdc_apply_log           : CDC change-log application with tombstone
                            deletes → current snapshot.
- pivot_multi_agg         : pivot carrying TWO aggregates per cell
                            (sum + count), explicit value list.
- interval_union_coverage : merged-interval coverage per user (union
                            length + island count) — the sweep-line
                            cousin of interval_overlap_agg's
                            max-concurrency.
- quality_threshold_sweep : corpus keep-rate curve over a threshold
                            grid — the report that picks a quality
                            filter's operating point.
- sample_weighted_topk    : deterministic weighted sampling without
                            replacement (Efraimidis–Spirakis) per
                            group, hash-derived uniforms.
- pareto_front_parts      : skyline (non-dominated price/size parts)
                            via a running-extreme window — no
                            quadratic dominance join.

Batch 2: stream_interval_join_outer (left-outer stream-stream join +
the sentinel watermark-flush contract), audience_overlap_jaccard,
dynamic_partition_overwrite, agg_distinct_salted (exact count-distinct
with a salted dedup stage), attribution_time_decay.

Batch 3: stream_tumbling_late_drop (the measured append-mode late-row
semantics, pinned at the post-eviction boundary where Spark actually
guarantees the drop), dq_referential_integrity (FK-level anti-join
audit), psi_population_stability and embedding_centroid_drift (the
ML-ops drift-monitoring tier).

Batch 4: inventory_wac_ledger (weighted-average-cost ledger — sells
never move the WAC, so the recursion collapses to two conditional
cumsums) and text_zipf_fit (rank-frequency Zipf slope, the corpus
health check).

Batch 5: ndjson_corrupt_quarantine (PERMISSIVE JSON ingestion with a
corrupt-record quarantine — the JSON twin of csv_malformed_tolerant).

Batch 6: timeseries_seasonal_decompose (centered-MA trend + ISO-dow
seasonal effects — the additive decomposition behind the naive
forecast baseline).

Batch 7: impute_missing_values (per-group mean/median/mode imputation
over deterministically planted NULLs — the ML feature-prep pass).

Batch 8: feature_crosses_hashed (the hashing trick over categorical
crosses, collision cost reported per bucket).

Batch 9: train_test_temporal_split (time-keyed split + the
entity-leakage audit temporal splits make necessary).
"""

from __future__ import annotations

from etl_mini_spark.queries._base import _t
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.queries._base import q as pq


# --- EMA via higher-order fold ---------------------------------------------
# Daily revenue is pre-rounded to 2dp so both engines fold IDENTICAL
# doubles through the identical recursion ema_t = a·x_t + (1−a)·ema_{t−1};
# the result is bit-equal bar the final 6dp rounding. The oracle runs the
# literal recursion as a recursive CTE over per-type day indexes.
_EMA_SQL = """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS rev,
             row_number() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE)) AS rn
      FROM events GROUP BY 1, 2),
    r(event_type, d, rn, rev, ema) AS (
        SELECT event_type, d, rn, rev, rev FROM daily WHERE rn = 1
      UNION ALL
        SELECT daily.event_type, daily.d, daily.rn, daily.rev,
               0.3 * daily.rev + 0.7 * r.ema
        FROM r JOIN daily ON daily.event_type = r.event_type AND daily.rn = r.rn + 1)
    SELECT event_type, CAST(d AS VARCHAR) AS d, rev, round(ema, 6) AS ema
    FROM r
"""


@pq("timeseries_ema", _EMA_SQL)
def timeseries_ema(spark, sf_dir):
    """Exponential moving average (α=0.3) over each type's daily
    revenue — the canonical linear recursion no window frame can
    express. Linearized engine-side as ONE higher-order fold:
    collect each group's (bounded, |days|-sized) series sorted, then
    ``aggregate`` builds the EMA sequence functionally and posexplode
    restores rows. Per-group state is the |days| array — fine for
    per-key series (types × ~30 days); an unbounded-key variant would
    shard like budget_cap. The oracle runs the literal recursion as a
    recursive CTE, so the fold is proven equal to the textbook
    definition, not just to itself. Daily pre-rounding (2dp) pins both
    engines to identical fold inputs; 6dp output rounding absorbs
    nothing more than display noise."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("rev")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "rev"))).alias("s")
    )
    # fold: acc is the EMA array built so far; element_at(acc, -1) is
    # ema_{t-1}; the first step seeds with x_1 via the coalesce.
    ema_arr = F.expr(
        """aggregate(
             s, CAST(array() AS ARRAY<DOUBLE>),
             (acc, x) -> array_append(
               acc,
               coalesce(0.3D * x.rev + 0.7D * try_element_at(acc, -1), x.rev)))"""
    )
    unpacked = series.withColumn("ema_arr", ema_arr).select(
        "event_type", F.posexplode(F.arrays_zip("s", "ema_arr")).alias("i", "z")
    )
    return unpacked.select(
        "event_type",
        F.col("z.s.d").cast("string").alias("d"),
        F.col("z.s.rev").alias("rev"),
        F.round(F.col("z.ema_arr"), 6).alias("ema"),
    )


# --- weighted median --------------------------------------------------------
# Lower weighted median: the smallest value whose cumulative weight
# reaches half the total. Weights are integral quantities summed as
# BIGINT, so the threshold comparison is exact in both engines; ties in
# price cannot change the selected VALUE (any order within a tie run
# crosses the cutoff at the same price).
_WMEDIAN_SQL = """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem),
    c AS (
      SELECT l_returnflag, v, wt,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM w)
    SELECT l_returnflag, round(min(v), 2) AS weighted_median,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cw >= tw GROUP BY 1
"""


@pq("agg_weighted_median", _WMEDIAN_SQL)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag: one cumulative-
    weight window over the value sort, then min(value) past the
    half-mass cutoff — the percentile suite's percentile_approx/
    percentile cannot weight rows. The 2·cw ≥ tw comparison is all-
    integer (quantities are integral), so the cutoff is engine-exact;
    intra-tie ordering is irrelevant to the selected value. One shuffle
    on the group key; the window carries one BIGINT."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    wc = (
        Window.partitionBy("l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = li.withColumn("cw", F.sum("wt").over(wc)).withColumn(
        "tw", F.sum("wt").over(Window.partitionBy("l_returnflag"))
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("v"), 2).alias("weighted_median"),
            F.min("tw").alias("total_weight"),
        )
    )


# --- CDC log application with tombstones -----------------------------------
# The events stream read as a change log: per user, ops apply in
# (ts, event_id) order; 'error' rows are DELETE tombstones, everything
# else upserts the user's current (event_type, value). The snapshot is
# the latest surviving row per key — users whose LAST op is a delete
# are absent entirely (not nulled).
_CDC_SQL = """
    SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events)
    WHERE rn = 1 AND event_type <> 'error'
"""


@pq("cdc_apply_log", _CDC_SQL)
def cdc_apply_log(spark, sf_dir):
    """Apply a CDC change log to produce the current snapshot: latest
    op per key wins (total order ts, event_id), and a trailing DELETE
    tombstone removes the key from the snapshot rather than nulling it
    — the Debezium-consumer semantics merge_upsert (which has no
    delete action) cannot express. One window shuffle on the key; at
    100 TB the log is first compacted per partition by the same
    row_number (map-side), so the shuffle carries one row per key per
    partition, not the whole log."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count("*").over(Window.partitionBy("user_id")))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            "n_ops",
        )
    )


# --- pivot with two aggregates per cell ------------------------------------
_PIVOT2_SQL = """
    SELECT user_id,
           round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2) AS click_sum,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click_n,
           round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 2) AS view_sum,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view_n,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_sum,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase_n
    FROM events GROUP BY 1
"""


@pq("pivot_multi_agg", _PIVOT2_SQL)
def pivot_multi_agg(spark, sf_dir):
    """Pivot carrying TWO aggregates per pivot cell (value sum + row
    count per event type) — pivot_type_counts covers the single-agg
    shape; multi-agg pivots compile to one pass of conditional
    aggregates, NOT one pass per measure. Explicit value list as
    always (an unpinned pivot needs an extra distinct pass at scale).
    Missing cells surface as 0 (sum over empty set) to match the
    oracle's ELSE 0 arms."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("sum"),
            # count(*) is rejected inside Pivot — count a literal instead
            F.count(F.lit(1)).alias("n"),
        )
    )
    cols = [F.col("user_id")]
    for t in ("click", "view", "purchase"):
        cols.append(F.round(F.coalesce(F.col(f"{t}_sum"), F.lit(0.0)), 2).alias(f"{t}_sum"))
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"))
    return out.select(*cols)


# --- merged-interval coverage ----------------------------------------------
# Each event opens a [ts, ts+10min) interval; per user, overlapping
# intervals merge into islands. A new island starts where ts exceeds
# the running max end of ALL earlier intervals (not just the previous
# row's — intervals can nest). Island count and total covered seconds
# are exact integer µs arithmetic.
_COVERAGE_SQL = """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
      FROM events),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    g AS (
      SELECT user_id, island, min(s) AS s0, max(e) AS e1
      FROM isl GROUP BY 1, 2)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(e1 - s0) // 1000000 AS BIGINT) AS covered_seconds
    FROM g GROUP BY 1
"""


@pq("interval_union_coverage", _COVERAGE_SQL)
def interval_union_coverage(spark, sf_dir):
    """Union length of overlapping per-user intervals (gaps-and-islands
    over TIME RANGES): each event opens 10 minutes; islands form where
    an interval starts past the running max end of all earlier ones
    (running max, not lag — intervals nest), then one grouped pass
    sums merged spans. interval_overlap_agg reports peak concurrency;
    this reports total covered time — the sweep-line twin. Everything
    is integer µs; one shuffle on user_id reused by both windows and
    the island rollup."""
    e = _t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(600_000_000)).alias("e"),
    )
    wp = (
        Window.partitionBy("user_id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wi = (
        Window.partitionBy("user_id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        iv.withColumn("prev_max", F.max("e").over(wp))
        .withColumn(
            "new_isl",
            F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(wi))
    )
    g = isl.groupBy("user_id", "island").agg(F.min("s").alias("s0"), F.max("e").alias("e1"))
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        # floor division in BOTH engines: a plain `/` + CAST truncates in
        # Spark but rounds-to-nearest in DuckDB (caught as an off-by-one)
        F.floor(F.sum(F.col("e1") - F.col("s0")) / 1_000_000).cast("bigint").alias("covered_seconds"),
    )


# --- quality threshold sweep ------------------------------------------------
_SWEEP_SQL = """
    WITH base AS (
      SELECT len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_tokens
      FROM documents),
    t AS (SELECT unnest([20, 40, 60, 80, 100]) AS threshold),
    tot AS (SELECT count(*) AS n FROM base)
    SELECT threshold, CAST(count(CASE WHEN n_tokens >= threshold THEN 1 END) AS BIGINT) AS n_keep,
           round(count(CASE WHEN n_tokens >= threshold THEN 1 END)
                 / CAST(min(tot.n) AS DOUBLE), 6) AS keep_rate
    FROM base CROSS JOIN t CROSS JOIN tot
    GROUP BY 1
"""


@pq("quality_threshold_sweep", _SWEEP_SQL)
def quality_threshold_sweep(spark, sf_dir):
    """Operating-point sweep for a token-count quality gate: keep-count
    and keep-rate at each threshold in one pass — the report a
    training-data team reads before fixing a filter's cutoff, and the
    grid shape any hyperparameter sweep compiles to. The threshold
    grid is a 5-element exploded literal (a 5× row multiplier on a
    1-column projection, partial-aggregated map-side), NOT five scans;
    the corpus count rides along as a 1-row broadcast."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    base = d.select(F.size(toks).alias("n_tokens"))
    swept = base.select(
        "n_tokens", F.explode(F.array(*[F.lit(t) for t in (20, 40, 60, 80, 100)])).alias("threshold")
    )
    tot = base.agg(F.count("*").alias("n"))
    return (
        swept.groupBy("threshold")
        .agg(F.count(F.when(F.col("n_tokens") >= F.col("threshold"), 1)).alias("n_keep"))
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_keep",
            F.round(F.col("n_keep") / F.col("n").cast("double"), 6).alias("keep_rate"),
        )
    )


# --- deterministic weighted sampling (Efraimidis–Spirakis) ------------------
# Weighted reservoir key: r = ln(u) / w with u a hash-derived uniform in
# (0,1); the k LARGEST r win (equivalently u^(1/w)). Both engines
# compute r from the IDENTICAL md5-bucket uniform; r is pre-rounded to
# 9dp before ranking so a 1-ulp ln() divergence cannot flip a rank, and
# doc_id breaks exact ties.
_WSAMPLE_SQL = """
    WITH u AS (
      SELECT lang, doc_id, n_chars,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 15))
                   AS BIGINT) % 100000 + 0.5) / 100000.0 AS uni
      FROM documents),
    r AS (
      SELECT lang, doc_id, n_chars,
             round(ln(uni) / n_chars, 9) AS rkey
      FROM u),
    k AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY rkey DESC, doc_id) AS rn
      FROM r)
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM k WHERE rn <= 5
"""


@pq("sample_weighted_topk", _WSAMPLE_SQL)
def sample_weighted_topk(spark, sf_dir):
    """Deterministic weighted sampling WITHOUT replacement, 5 docs per
    language, inclusion probability ∝ n_chars: the Efraimidis–Spirakis
    reservoir key ln(u)/w ranked descending, with u derived from the
    same md5 hash-bucket construction as every sampler here — so the
    sample is reproducible on any engine and any partitioning, which
    df.sample's seed+partition dependence cannot give. The rank key is
    pre-rounded to 9dp (libm ln() is only ulp-reproducible, the
    doc_keywords_tfidf_topk lesson) with doc_id tie-break. One shuffle
    on lang; k rows of state per group."""
    from etl_mini_spark.operators.sampling import N_BUCKETS, hash_bucket

    d = _t(spark, sf_dir, "documents")
    uni = (hash_bucket(F.col("doc_id"), "ws") + 0.5) / F.lit(float(N_BUCKETS))
    r = d.select(
        "lang", "doc_id", "n_chars",
        F.round(F.log(uni) / F.col("n_chars"), 9).alias("rkey"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("rkey").desc(), "doc_id")
    return (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "n_chars")
    )


# --- skyline / Pareto front -------------------------------------------------
_SKYLINE_SQL = """
    WITH s AS (
      SELECT p_partkey, p_retailprice, p_size,
             max(p_size) OVER (ORDER BY p_retailprice, p_size DESC, p_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_size_cheaper
      FROM part)
    SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice,
           CAST(p_size AS INT) AS p_size
    FROM s
    WHERE best_size_cheaper IS NULL OR p_size > best_size_cheaper
"""


@pq("pareto_front_parts", _SKYLINE_SQL)
def pareto_front_parts(spark, sf_dir):
    """Skyline query: parts not dominated on (cheaper price, larger
    size) — a part survives iff no strictly cheaper-or-equal part has
    size ≥ its own. One sort by price with a running max of size over
    strictly-preceding rows replaces the quadratic dominance self-join
    (the classic skyline rewrite; the window order's size DESC arm
    makes equal-price domination exact). Single window, no join
    anywhere; at 100 TB the global sort is the only exchange and the
    running max carries one INT."""
    p = _t(spark, sf_dir, "part")
    w = (
        Window.orderBy("p_retailprice", F.col("p_size").desc(), "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = p.withColumn("best_size_cheaper", F.max("p_size").over(w))
    return (
        s.filter(F.col("best_size_cheaper").isNull() | (F.col("p_size") > F.col("best_size_cheaper")))
        .select("p_partkey", F.round("p_retailprice", 2).alias("p_retailprice"), F.col("p_size").cast("int").alias("p_size"))
    )


# =========================================================================
# Batch 2: streaming left-outer interval join (watermark-flush sentinel),
# audience overlap, dynamic partition overwrite, salted exact
# count-distinct, time-decay attribution. (A PMI-collocation query was
# drafted and DROPPED: the synthetic documents table has a ~31-token
# vocabulary where almost every token co-occurs with every other in
# nearly every doc — PMI over it is numerical noise, and a pinned
# oracle on noise would be a vacuous test, not coverage.)
# =========================================================================


_STREAM_OUTER_SQL = """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
"""


@pq("stream_interval_join_outer", _STREAM_OUTER_SQL)
def stream_interval_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every click appears,
    null-padded when no purchase followed within 10 minutes. The
    semantics gap vs batch: outer rows flush only when the WATERMARK
    passes their eviction point, so a bounded (AvailableNow) run would
    silently withhold nulls for the final watermark window — the fix
    is a far-future sentinel row appended to BOTH streams that drags
    the final watermark past all real data, then filtered back out.
    That sentinel trick is the practitioner contract for draining
    outer-join state on bounded replays; with it the stream equals the
    batch LEFT JOIN exactly and the oracle is plain SQL. State stays
    O(watermark + max_delay) either way."""
    from etl_mini_spark.streaming.stream import replay
    from etl_mini_spark.streaming.windows import stream_interval_join as ssj

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    # watermark-advancer sentinel: one click + one purchase 30 days past
    # the horizon on an impossible user; evicts every real row's state
    horizon = e.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinel = spark.createDataFrame(
        [(-1, -1, "click", horizon), (-2, -1, "purchase", horizon)],
        e.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAY"))
    with replay(spark, "stream_oj") as r:
        r.stage(e.unionByName(sentinel))
        clicks = (
            r.stream()
            .filter(F.col("event_type") == "click")
            .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts"))
        )
        purchases = (
            r.stream()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        r.run(ssj(
            clicks, purchases,
            left_key="user_id", right_key="p_user_id",
            left_ts="c_ts", right_ts="p_ts",
            max_delay="10 minutes", how="leftOuter",
        ))
    return (
        r.output
        .filter(F.col("user_id") >= 0)  # drop the sentinel
        .select("click_id", "purchase_id", "user_id")
    )


# --- audience overlap (Jaccard of user sets per event-type pair) ------------
_AUDIENCE_SQL = """
    WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, count(*) AS n FROM m GROUP BY 1),
    inter AS (
      SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS isect
      FROM m a JOIN m b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT t1, t2, CAST(isect AS BIGINT) AS isect,
           CAST(x.n + y.n - isect AS BIGINT) AS un,
           round(isect / CAST(x.n + y.n - isect AS DOUBLE), 6) AS jaccard
    FROM inter JOIN sz x ON x.event_type = t1 JOIN sz y ON y.event_type = t2
"""


@pq("audience_overlap_jaccard", _AUDIENCE_SQL)
def audience_overlap_jaccard(spark, sf_dir):
    """Audience overlap matrix: Jaccard similarity of the USER SETS
    behind each event-type pair — the segmentation question ("do
    clickers also purchase?") answered with the same
    intersection-join + inclusion-exclusion shape as the document
    set-similarity tier, but over membership sets. One distinct pass,
    one keyed self-join on user_id (|types|² pairs via co-membership,
    never a cross join), sizes joined back by type."""
    e = _t(spark, sf_dir, "events")
    m = e.select("event_type", "user_id").distinct()
    sz = m.groupBy("event_type").agg(F.count("*").alias("n"))
    a = m.select(F.col("event_type").alias("t1"), "user_id")
    b = m.select(F.col("event_type").alias("t2"), F.col("user_id").alias("uid2"))
    inter = (
        a.join(b, (F.col("user_id") == F.col("uid2")) & (F.col("t1") < F.col("t2")))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("isect"))
    )
    x = sz.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))
    y = sz.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))
    un = F.col("n1") + F.col("n2") - F.col("isect")
    return (
        inter.join(F.broadcast(x), "t1")
        .join(F.broadcast(y), "t2")
        .select(
            "t1", "t2", F.col("isect").cast("bigint").alias("isect"),
            un.cast("bigint").alias("un"),
            F.round(F.col("isect") / un.cast("double"), 6).alias("jaccard"),
        )
    )


# --- dynamic partition overwrite -------------------------------------------
_DPO_SQL = """
    WITH base AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
      WHERE o_orderpriority <> '1-URGENT'),
    rewritten AS (
      -- +10.00 keeps every value exact at 2dp: a multiplicative patch
      -- (x*0.9) manufactures half-way rounding cases that Spark and
      -- DuckDB settle differently (measured: one cent off at this SF)
      SELECT o_orderpriority, o_orderkey, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0),
    final AS (SELECT * FROM base UNION ALL SELECT * FROM rewritten)
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM final GROUP BY 1
"""


@pq("dynamic_partition_overwrite", _DPO_SQL)
def dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic):
    overwrite mode replaces ONLY the partitions present in the
    incoming batch — the incremental-reprocessing write path (re-run
    one day/priority without clobbering the rest of the layout; STATIC
    mode would truncate the whole table first). Here the 1-URGENT
    partition is rewritten with an adjusted even-key subset while
    every other partition survives untouched; the read-back rollup
    proves partition-level surgery. Conf is scoped and restored."""
    from pathlib import Path as _P

    from etl_mini_spark.queries._base import _TMP

    path = str(_TMP / f"dpo_{_P(sf_dir).name}")
    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    patch = (
        o.filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 2 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        patch.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    finally:
        spark.conf.set(key, prev if prev is not None else "static")
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --- salted exact count-distinct -------------------------------------------
_SALTED_CD_SQL = """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
"""


@pq("agg_distinct_salted", _SALTED_CD_SQL)
def agg_distinct_salted(spark, sf_dir):
    """EXACT count-distinct through a salt: stage 1 dedups
    (type, salt, user) with the shuffle keyed on (type, SALT) — 16-way
    parallel per type — stage 2 sums tiny per-salt counts. This is the
    manual rewrite for when one celebrity group melts the single
    reducer a plain count(DISTINCT) hash-aggregates into; salting the
    DEDUP stage is the aggregation twin of salted_join. Salt =
    pmod(xxhash64(user), 16) is deterministic, so the result is exact,
    not approximate — proven by the plain count(DISTINCT) oracle."""
    e = _t(spark, sf_dir, "events")
    staged = (
        e.select("event_type", "user_id", F.pmod(F.xxhash64("user_id"), F.lit(16)).alias("salt"))
        .groupBy("event_type", "salt", "user_id")
        .agg(F.lit(1).alias("one"))
    )
    per_salt = staged.groupBy("event_type", "salt").agg(F.count("*").alias("c"))
    return per_salt.groupBy("event_type").agg(F.sum("c").cast("bigint").alias("n_users"))


# --- time-decay attribution -------------------------------------------------
# Weights w = exp(-Δhours / 24) are pre-rounded to 9dp in BOTH engines
# before normalization and summation, so libm exp() ulp divergence
# cannot move the 4dp credited totals.
_DECAY_SQL = """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id AS cu, ts AS cts FROM events
      WHERE event_type = 'purchase'),
    touch AS (
      SELECT e.event_type, conv.conv_id,
             round(exp(-(epoch_us(conv.cts) - epoch_us(e.ts)) / 86400000000.0), 9) AS w
      FROM events e JOIN conv
        ON e.user_id = conv.cu AND e.ts < conv.cts
       AND e.ts >= conv.cts - INTERVAL 7 DAY
      WHERE e.event_type IN ('view', 'click', 'signup')),
    tot AS (SELECT conv_id, sum(w) AS tw FROM touch GROUP BY 1)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_touchpoints,
           round(sum(w / tw), 4) AS credited_conversions
    FROM touch JOIN tot USING (conv_id)
    GROUP BY 1
"""


@pq("attribution_time_decay", _DECAY_SQL)
def attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution: each purchase's credit
    splits over its trailing-7-day touches with weight
    exp(-age/24h) — recent touches earn more, unlike
    attribution_linear_multitouch's equal split. Same conservation
    shape (per-conversion weights normalize to 1); the decay weight is
    pre-rounded to 9dp in both engines before normalization so libm
    exp() divergence cannot move the totals. The per-conversion weight
    sum is a window over the interval join's output — one shuffle on
    conv_id."""
    e = _t(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    age_us = F.unix_micros("cts") - F.unix_micros("ts")
    touch = (
        e.filter(F.col("event_type").isin("view", "click", "signup"))
        .join(
            conv,
            (F.col("user_id") == F.col("cu"))
            & (F.col("ts") < F.col("cts"))
            & (F.col("ts") >= F.col("cts") - F.expr("INTERVAL 7 DAY")),
        )
        .select("event_type", "conv_id", F.round(F.exp(-age_us / 86_400_000_000.0), 9).alias("w"))
    )
    tw = F.sum("w").over(Window.partitionBy("conv_id"))
    return (
        touch.withColumn("tw", tw)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_touchpoints"),
            F.round(F.sum(F.col("w") / F.col("tw")), 4).alias("credited_conversions"),
        )
    )


# =========================================================================
# Batch 3: watermark late-row dropping made observable (multi-batch
# replay), referential-integrity DQ, PSI distribution drift, and
# embedding-centroid drift — the ML-ops monitoring tier.
# =========================================================================


_LATE_DROP_SQL = """
    WITH m AS (SELECT max(ts) AS mx FROM events),
    allr AS (SELECT ts FROM events UNION ALL SELECT mx FROM m)
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM allr GROUP BY 1
"""


@pq("stream_tumbling_late_drop", _LATE_DROP_SQL)
def stream_tumbling_late_drop(spark, sf_dir):
    """Watermark late-row dropping, pinned at the boundary where Spark
    actually guarantees it. Measured semantics (Spark 4.1, append-mode
    tumbling aggregation, minimal multi-batch repros): a late row —
    event time behind the watermark — still MERGES into its window as
    long as that window's state has not been evicted, even when the
    row is the window's first; the drop only happens once the
    watermark passed the window END and the window was EMITTED. What
    IS guaranteed: each window emits exactly once, and rows arriving
    after their window's emission vanish without re-emission.

    This query makes that drop observable on a bounded replay — which
    a single batch can never do (the watermark only advances BETWEEN
    micro-batches): one staged file per micro-batch, in stage order
    (``streaming.stream.replay``), runs batch 0 = the real events
    (watermark climbs to max(ts)−1h), batch 1 = one on-time row at max(ts) (its
    processing EVICTS every window ending before the watermark),
    batch 2 = late re-deliveries of every event older than
    max(ts)−2h — all targeting already-emitted windows, so every one
    must vanish — and batch 3 = a far-future sentinel that flushes the
    remaining state (its window is filtered from the output). The
    oracle is the batch aggregation over events + the on-time row
    ONLY: if Spark leaked a late row (or re-emitted an evicted
    window), counts or row count shift and the hash breaks."""
    from etl_mini_spark.streaming.stream import replay

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    mx = e.agg(F.max("ts").alias("m")).collect()[0]["m"]

    ontime = spark.createDataFrame([(-2, -1, mx)], e.schema)
    # late re-deliveries: same timestamps, new ids; ts < mx-2h keeps a
    # full hour of margin past the eviction boundary (wm = mx-1h)
    late = (
        e.filter(F.col("ts") < F.lit(mx) - F.expr("INTERVAL 2 HOUR"))
        .withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))
    )
    sentinel = spark.createDataFrame([(-1, -1, mx)], e.schema).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 DAY")
    )

    with replay(spark, "stream_late") as r:
        for batch in (e, ontime, late, sentinel):
            r.stage(batch)
        r.run(
            r.stream().withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )
    return (
        r.output.filter(F.col("window.start") <= F.lit(mx))  # drop the sentinel window
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("count").cast("bigint").alias("n"),
        )
    )


# --- referential-integrity DQ audit ------------------------------------------
_REFINT_SQL = """
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS n_orphan_lineitems,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        AS n_childless_orders,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS n_customerless_orders,
      (SELECT CAST(count(*) AS BIGINT) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        AS n_orderless_customers
"""


@pq("dq_referential_integrity", _REFINT_SQL)
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema: orphan facts
    (lineitems without an order), childless orders, orders pointing at
    missing customers, and customers with no orders — the
    FOREIGN-KEY-level DQ report that complements
    dq_expectations_report's column-level checks. Both directions of
    each FK edge come from ONE full-outer join of the pre-aggregated
    fact side against the key side (never a collected key set): a
    fact row with no match counts toward the orphan sum, a key row
    with no match counts toward the childless/orderless count —
    row-identical to the four original anti joins (a NULL fact key
    matches nothing in either formulation; its group is an orphan, so
    a key row is recognised as unmatched by its NULL per-key count,
    never by the NULL fact key), but each table pair is
    scanned and shuffled once instead of twice, and the fact side
    shuffles its per-key COUNT, not its rows (guide 2.3/2.4). Counts
    assembled via a 1-row cross of scalar aggregates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey")

    lg = li.groupBy("l_orderkey").agg(F.count("*").alias("n_li"))
    li_o = (
        lg.join(o.select("o_orderkey"), lg["l_orderkey"] == o["o_orderkey"], "full_outer")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("o_orderkey").isNull(), F.col("n_li"))), F.lit(0)
            ).cast("bigint").alias("n_orphan_lineitems"),
            F.count(F.when(F.col("n_li").isNull(), 1)).alias("n_childless_orders"),
        )
    )
    og = o.groupBy("o_custkey").agg(F.count("*").alias("n_o"))
    o_c = (
        og.join(c, og["o_custkey"] == c["c_custkey"], "full_outer")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("c_custkey").isNull(), F.col("n_o"))), F.lit(0)
            ).cast("bigint").alias("n_customerless_orders"),
            F.count(F.when(F.col("n_o").isNull(), 1)).alias("n_orderless_customers"),
        )
    )
    return li_o.crossJoin(o_c).select(
        "n_orphan_lineitems", "n_childless_orders",
        "n_customerless_orders", "n_orderless_customers",
    )


# --- PSI population-stability drift ------------------------------------------
# Fixed bin edges and +0.5 count smoothing in BOTH engines; each PSI
# term is pre-rounded to 9dp before summation (libm ln ulp rule), the
# sum to 6dp.
_PSI_SQL = """
    WITH binned AS (
      SELECT event_type, event_id % 2 AS half,
             CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1
                  WHEN value < 200 THEN 2 WHEN value < 400 THEN 3 ELSE 4 END AS bin
      FROM events),
    c AS (
      SELECT event_type, bin,
             count(CASE WHEN half = 0 THEN 1 END) + 0.5 AS c0,
             count(CASE WHEN half = 1 THEN 1 END) + 0.5 AS c1
      FROM binned GROUP BY 1, 2),
    t AS (
      SELECT event_type, bin, c0 / sum(c0) OVER (PARTITION BY event_type) AS p,
             c1 / sum(c1) OVER (PARTITION BY event_type) AS q
      FROM c)
    SELECT event_type,
           round(sum(round((p - q) * ln(p / q), 9)), 6) AS psi
    FROM t GROUP BY 1
"""


@pq("psi_population_stability", _PSI_SQL)
def psi_population_stability(spark, sf_dir):
    """Population Stability Index between two deterministic halves of
    the value distribution per event type — THE production drift
    monitor for model inputs (PSI < 0.1 stable, > 0.25 drifted). Five
    fixed value bins with +0.5 smoothing (a zero bin would put ±inf in
    the sum); each (p−q)·ln(p/q) term pre-rounds at 9dp so libm ln()
    ulp divergence cannot move the 6dp total. Two aggregation passes
    over |types|×|bins| rows after one binning scan — at 100 TB the
    scan dominates and the PSI arithmetic is free."""
    e = _t(spark, sf_dir, "events")
    bin_col = (
        F.when(F.col("value") < 50, 0)
        .when(F.col("value") < 100, 1)
        .when(F.col("value") < 200, 2)
        .when(F.col("value") < 400, 3)
        .otherwise(4)
    )
    binned = e.select("event_type", (F.col("event_id") % 2).alias("half"), bin_col.alias("bin"))
    c = binned.groupBy("event_type", "bin").agg(
        (F.count(F.when(F.col("half") == 0, 1)) + 0.5).alias("c0"),
        (F.count(F.when(F.col("half") == 1, 1)) + 0.5).alias("c1"),
    )
    wt = Window.partitionBy("event_type")
    t = c.select(
        "event_type",
        (F.col("c0") / F.sum("c0").over(wt)).alias("p"),
        (F.col("c1") / F.sum("c1").over(wt)).alias("q"),
    )
    term = F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 9)
    return t.groupBy("event_type").agg(F.round(F.sum(term), 6).alias("psi"))


# --- embedding-centroid drift ------------------------------------------------
# Per-dimension centroid averages pre-round at 9dp in BOTH engines, so
# the cosine consumes identical doubles regardless of each engine's
# summation order.
_EMB_DRIFT_SQL = """
    WITH dims AS (
      -- two unnests in one SELECT zip positionally (DuckDB 1.0 has no
      -- WITH ORDINALITY)
      SELECT label, vec_id % 2 AS half,
             unnest(range(len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS (
      SELECT label, dim,
             round(avg(CASE WHEN half = 0 THEN v END), 9) AS a,
             round(avg(CASE WHEN half = 1 THEN v END), 9) AS b,
             round(avg(v * v), 9) AS m2
      FROM dims GROUP BY 1, 2)
    SELECT CAST(label AS BIGINT) AS label,
           round(sqrt(sum((a - b) * (a - b))), 6) AS centroid_l2,
           round(sqrt(sum(m2)), 6) AS rms_norm,
           round(sqrt(sum((a - b) * (a - b))) / sqrt(sum(m2)), 6) AS drift_ratio
    FROM cent GROUP BY 1
"""


@pq("embedding_centroid_drift", _EMB_DRIFT_SQL)
def embedding_centroid_drift(spark, sf_dir):
    """Embedding drift monitor: per label, the L2 distance between the
    centroids of two deterministic corpus halves, NORMALIZED by the
    population RMS vector norm — the check an embedding pipeline runs
    after a model/preprocessing change (drift_ratio ≈ sqrt(2/n) for
    same-distribution halves; a jump flags drift). Distance-over-norm
    rather than centroid cosine deliberately: for zero-mean embedding
    distributions the centroids sit near the origin and their cosine
    is pure noise (measured ±0.2 on this corpus) — a drift metric that
    alarms randomly is worse than none. Fully relational: posexplode
    to (label, half, dim, value); per-(label, dim) averages and second
    moments — 9dp-pre-rounded so both engines' sums collapse to
    identical doubles — then the distance and norm assembled from
    dim-level sums; rms² = Σ_d avg(v²) needs no per-vector state at
    all. At 100 TB this is one explode scan + two tiny keyed
    aggregations (|labels|×|dims| rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    cent = dims.groupBy("label", "dim").agg(
        F.round(F.avg(F.when(F.col("half") == 0, F.col("v"))), 9).alias("a"),
        F.round(F.avg(F.when(F.col("half") == 1, F.col("v"))), 9).alias("b"),
        F.round(F.avg(F.col("v") * F.col("v")), 9).alias("m2"),
    )
    d2 = F.sum((F.col("a") - F.col("b")) * (F.col("a") - F.col("b")))
    n2 = F.sum("m2")
    return cent.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.round(F.sqrt(d2), 6).alias("centroid_l2"),
        F.round(F.sqrt(n2), 6).alias("rms_norm"),
        F.round(F.sqrt(d2) / F.sqrt(n2), 6).alias("drift_ratio"),
    )


# =========================================================================
# Batch 4: weighted-average-cost inventory ledger (the costing method
# FIFO can't express as interval overlap) and a Zipf-law fit over the
# corpus rank-frequency curve.
# =========================================================================

# WAC insight that keeps this window-only: SELLS NEVER CHANGE the
# weighted average cost — only purchases move it — so WAC at any row is
# the ratio of two CONDITIONAL running sums (buy cost / buy quantity),
# and each sell's COGS is qty × that ratio. FIFO needed interval
# matching; WAC needs two cumsums. l_linestatus 'F' rows act as buys
# (cost = extendedprice), 'O' rows as sells.
_WAC_SQL = """
    WITH ledger AS (
      SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty, l_extendedprice AS cost,
             sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice ELSE 0 END)
               OVER w AS cum_buy_cost,
             sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
               OVER w AS cum_buy_qty
      FROM lineitem
      WINDOW w AS (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING)),
    sells AS (
      SELECT l_partkey, qty,
             floor(cum_buy_cost / cum_buy_qty * 1000000 + 0.5) / 1000000 AS wac
      FROM ledger
      WHERE l_linestatus = 'O' AND cum_buy_qty > 0)
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_sells,
           CAST(sum(qty) AS BIGINT) AS sold_qty,
           round(sum(floor(qty * wac * 100 + 0.5) / 100), 2) AS cogs
    FROM sells GROUP BY 1
"""


@pq("inventory_wac_ledger", _WAC_SQL)
def inventory_wac_ledger(spark, sf_dir):
    """Weighted-average-cost inventory ledger: per part, each sell
    realizes COGS at the RUNNING weighted average cost of all buys so
    far. The load-bearing identity: sells never move the WAC — only
    buys do — so the 'recursive' ledger collapses to TWO conditional
    running sums per part (cum buy cost, cum buy qty) and a ratio; the
    costing sibling of fifo_lot_matching without its interval-overlap
    machinery. One window shuffle on l_partkey; per-row state is two
    numbers. Division rounding pinned floor(x·1e6+0.5)/1e6 and per-sell
    COGS pinned at cents (the try_arithmetic lesson: ratios of 2dp
    money manufacture cross-engine half-cases); sells before any buy
    are excluded (WAC undefined)."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_buy = F.col("l_linestatus") == "F"
    ledger = li.select(
        "l_partkey",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.sum(F.when(is_buy, F.col("l_extendedprice")).otherwise(0.0)).over(w).alias("cum_buy_cost"),
        F.sum(F.when(is_buy, F.col("l_quantity").cast("bigint")).otherwise(0)).over(w).alias("cum_buy_qty"),
    )
    sells = ledger.filter((F.col("l_linestatus") == "O") & (F.col("cum_buy_qty") > 0)).select(
        "l_partkey",
        "qty",
        (F.floor(F.col("cum_buy_cost") / F.col("cum_buy_qty") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("wac"),
    )
    return sells.groupBy("l_partkey").agg(
        F.count("*").alias("n_sells"),
        F.sum("qty").cast("bigint").alias("sold_qty"),
        F.round(F.sum(F.floor(F.col("qty") * F.col("wac") * 100 + F.lit(0.5)) / 100), 2).alias("cogs"),
    )


# --- Zipf-law fit over the corpus rank-frequency curve ----------------------
# Pre-rounded ln() inputs (9dp) feed regr_slope in both engines; the
# slope and intercept round at 4dp (regression over ~identical doubles,
# the residual noise is far below that).
_ZIPF_SQL = """
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents),
    freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r
      FROM freq)
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(round(ln(CAST(f AS DOUBLE)), 9),
                            round(ln(CAST(r AS DOUBLE)), 9)), 4) AS zipf_slope,
           round(regr_intercept(round(ln(CAST(f AS DOUBLE)), 9),
                                round(ln(CAST(r AS DOUBLE)), 9)), 4) AS zipf_intercept
    FROM ranked
"""


@pq("text_zipf_fit", _ZIPF_SQL)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus rank-frequency curve: regress
    ln(frequency) on ln(rank) over the full vocabulary — the corpus
    health check (natural text sits near slope −1; a flat slope means
    synthetic/templated text, a cliff means boilerplate domination).
    One token-count aggregation, one rank window over |vocab| rows,
    one regr_slope/intercept pass — vocabulary is tiny relative to the
    corpus, so the token scan dominates at any scale. ln() inputs
    pre-round at 9dp (libm rule); slope/intercept at 4dp."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    freq = d.select(F.explode(toks).alias("t")).groupBy("t").agg(F.count("*").alias("f"))
    ranked = freq.select(
        "f", F.row_number().over(Window.orderBy(F.col("f").desc(), "t")).alias("r")
    )
    lf = F.round(F.log(F.col("f").cast("double")), 9)
    lr = F.round(F.log(F.col("r").cast("double")), 9)
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 4).alias("zipf_intercept"),
    )


# =========================================================================
# Batch 5: tolerant NDJSON ingestion — the JSON sibling of
# csv_malformed_tolerant (S3/F6 hardening applied to the other wire
# format the reference reads).
# =========================================================================

_JSON_QUAR_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_clean,
           CAST(23 AS BIGINT) AS n_corrupt,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 2) AS sum_value
    FROM events WHERE event_id % 3 = 0
"""


@pq("ndjson_corrupt_quarantine", _JSON_QUAR_SQL)
def ndjson_corrupt_quarantine(spark, sf_dir):
    """Tolerant NDJSON ingestion: a directory with 23 planted corrupt
    lines (truncated objects, bare garbage) reads in PERMISSIVE mode
    with a corrupt-record column — clean rows flow through typed,
    corrupt rows are quarantined and counted, the job never dies. The
    JSON twin of csv_malformed_tolerant: same one-dirty-row-must-not-
    kill-the-ingest contract, but exercised through the JSON parser
    (whose failure modes — truncation mid-object, non-JSON lines —
    differ from CSV's column-count mismatches). Clean rows are written
    distributed by executors; only the corrupt file is driver-side.
    The oracle derives the clean aggregate from the source table plus
    the planted constant."""
    from pathlib import Path as _P

    from etl_mini_spark.queries._base import _TMP

    tmp = _TMP / f"json_quarantine_{_P(sf_dir).name}"
    (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .json(str(tmp))
    )
    with open(tmp / "zz_corrupt.json", "w") as fh:
        for i in range(12):
            fh.write(f'{{"event_id": {i}, "event_type": "view", "value": 1.0\n')  # truncated
        for i in range(11):
            fh.write(f"utterly not json {i}\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(schema)
        .json(str(tmp))
        .cache()  # one scan: corrupt-record column forbids split aggregation
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_clean"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("event_id"))).alias("sum_id"),
        F.round(F.sum(F.when(F.col("_corrupt").isNull(), F.col("value"))), 2).alias("sum_value"),
    )


# =========================================================================
# Batch 6: classical seasonal decomposition — the trend/seasonal split
# behind every "is this growth or just Friday?" question
# (forecast_seasonal_naive_eval scores a baseline; this EXPLAINS the
# series).
# =========================================================================

# Rounding discipline end to end: daily revenue at 2dp; the centered MA
# divides a 2dp-rounded frame sum (multiples of 0.01 — never
# half-cases) with the pinned floor(x·1e6+0.5)/1e6; detrended values
# round at 6dp before the per-(type, dow) seasonal average repeats the
# same pinned division.
_DECOMP_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, isodow(CAST(ts AS DATE)) AS dow,
             round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2, 3),
    tr AS (
      SELECT event_type, d, dow, rev,
             floor(round(sum(rev) OVER w, 2) / count(*) OVER w * 1000000 + 0.5)
               / 1000000 AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, dow, round(rev - trend, 6) AS detrended FROM tr)
    SELECT event_type, CAST(dow AS INT) AS dow,
           floor(round(sum(detrended), 6) / count(*) * 1000000 + 0.5) / 1000000
             AS seasonal,
           CAST(count(*) AS BIGINT) AS n_days
    FROM det GROUP BY 1, 2
"""


@pq("timeseries_seasonal_decompose", _DECOMP_SQL)
def timeseries_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of each type's daily
    revenue: trend = centered 7-day moving average, seasonal = mean
    detrended value per ISO weekday — the decomposition behind every
    "is this growth or just Friday?" question, and the missing sibling
    of forecast_seasonal_naive_eval (which scores a baseline but
    explains nothing). Two window passes over |types|×|days| rows
    after the daily pre-aggregation — at scale the events scan
    dominates and the decomposition arithmetic is free. Every division
    uses the round-7 pinned HALF_UP convention; ISO weekday
    (weekday()+1 = isodow) keeps both engines on Monday=1."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        (F.weekday(F.to_date("ts")) + 1).alias("dow"),
    ).agg(F.round(F.sum("value"), 2).alias("rev"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    trend = F.floor(
        F.round(F.sum("rev").over(w), 2) / F.count("*").over(w) * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    det = daily.withColumn("trend", trend).select(
        "event_type", "dow", F.round(F.col("rev") - F.col("trend"), 6).alias("detrended")
    )
    seasonal = F.floor(
        F.round(F.sum("detrended"), 6) / F.count("*") * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    return det.groupBy("event_type", F.col("dow").cast("int").alias("dow")).agg(
        seasonal.alias("seasonal"), F.count("*").alias("n_days")
    )


# =========================================================================
# Batch 7: per-group missing-value imputation — the ML-prep primitive
# (planted NULLs → mean / median / mode strategies side by side).
# =========================================================================

# NULLs are planted deterministically (event_id % 11 = 0) so both
# engines impute the same holes; the mean imputation value is pinned
# with the HALF_UP convention, the median uses the exact lower order
# statistic (engine-identical on the same doubles), the mode breaks
# frequency ties on the smaller rounded value.
_IMPUTE_SQL = """
    WITH holes AS (
      SELECT event_type,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events),
    stats AS (
      SELECT event_type,
             floor(round(sum(v), 2) / count(v) * 1000000 + 0.5) / 1000000 AS mean_v,
             quantile_disc(v, 0.5) AS median_v,
             (SELECT round(h2.v, 0) FROM holes h2
               WHERE h2.event_type = h.event_type AND h2.v IS NOT NULL
               GROUP BY round(h2.v, 0)
               ORDER BY count(*) DESC, round(h2.v, 0) LIMIT 1) AS mode_v
      FROM holes h GROUP BY event_type)
    SELECT h.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN h.v IS NULL THEN 1 END) AS BIGINT) AS n_imputed,
           round(s.mean_v, 6) AS mean_v,
           round(s.median_v, 2) AS median_v,
           round(s.mode_v, 0) AS mode_v,
           round(sum(coalesce(h.v, s.mean_v)), 2) AS sum_mean_imputed,
           round(sum(coalesce(h.v, s.median_v)), 2) AS sum_median_imputed
    FROM holes h JOIN stats s USING (event_type)
    GROUP BY h.event_type, s.mean_v, s.median_v, s.mode_v
"""


@pq("impute_missing_values", _IMPUTE_SQL)
def impute_missing_values(spark, sf_dir):
    """Per-group missing-value imputation, three strategies side by
    side: group mean (HALF_UP-pinned), exact lower-median, and integer
    mode (frequency ties to the smaller value) — the feature-prep pass
    every training pipeline runs before a model sees the table, with
    the imputed totals proving the fill actually happened. NULLs are
    planted deterministically (event_id % 11) so the hole pattern is
    engine-identical. One stats aggregation per group joined back as a
    broadcast (|types| rows); the imputation itself is a narrow
    coalesce — at 100 TB the scan dominates and the fill is free."""
    e = _t(spark, sf_dir, "events")
    holes = e.select(
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double")).otherwise(F.col("value")).alias("v"),
    )
    mean_v = F.floor(
        F.round(F.sum("v"), 2) / F.count("v") * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    # |types| rows
    stats = holes.groupBy("event_type").agg(
        mean_v.alias("mean_v"),
        F.count("v").alias("n_nonnull"),
    )
    # exact lower median (= DuckDB quantile_disc): Spark's percentile()
    # interpolates, so take the cumulative-count definition directly
    nonnull = holes.filter(F.col("v").isNotNull())
    wc = Window.partitionBy("event_type").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        nonnull.withColumn("cw", F.count("*").over(wc))
        .join(stats.select("event_type", "n_nonnull"), "event_type")
        .filter(2 * F.col("cw") >= F.col("n_nonnull"))
        .groupBy("event_type")
        .agg(F.min("v").alias("median_v"))
    )
    mode = (
        nonnull.groupBy("event_type", F.round("v", 0).alias("mv"))
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.col("c").desc(), "mv")
            ),
        )
        .filter("rn = 1")
        .select("event_type", F.col("mv").alias("mode_v"))
    )
    s = (
        stats.select("event_type", "mean_v")
        .join(med, "event_type")
        .join(mode, "event_type")
    )
    return (
        holes.join(F.broadcast(s), "event_type")
        .groupBy("event_type", "mean_v", "median_v", "mode_v")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_imputed"),
            F.round(F.sum(F.coalesce("v", "mean_v")), 2).alias("sum_mean_imputed"),
            F.round(F.sum(F.coalesce("v", "median_v")), 2).alias("sum_median_imputed"),
        )
        .select(
            "event_type", "n_rows", "n_imputed",
            F.round("mean_v", 6).alias("mean_v"),
            F.round("median_v", 2).alias("median_v"),
            F.round("mode_v", 0).alias("mode_v"),
            "sum_mean_imputed", "sum_median_imputed",
        )
    )


# =========================================================================
# Batch 8: hashed feature crosses — the featurization primitive that
# turns unbounded categorical combinations into a fixed-width model
# input, with its collision trade-off REPORTED instead of hidden.
# =========================================================================

# The bucket comes from the same engine-portable md5 construction as
# every sampler here (first 15 hex chars → BIGINT → mod D), so the
# hashed feature space is identical on any engine. D = 64 on purpose:
# ~35 live crosses into 64 buckets guarantees observable collisions —
# the thing feature hashing trades for fixed width.
_FCROSS_SQL = """
    WITH crossed AS (
      SELECT event_type || '#' || CAST(isodow(CAST(ts AS DATE)) AS VARCHAR) AS cross_key
      FROM events),
    hashed AS (
      SELECT cross_key,
             CAST(concat('0x', substr(md5(cross_key || ':fx'), 1, 15)) AS BIGINT) % 64
               AS bucket
      FROM crossed)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT cross_key) AS BIGINT) AS n_crosses
    FROM hashed GROUP BY 1
"""


@pq("feature_crosses_hashed", _FCROSS_SQL)
def feature_crosses_hashed(spark, sf_dir):
    """Hashed feature crosses (the hashing trick): event_type ×
    ISO-weekday crossed into a fixed 64-bucket feature space via the
    repo's engine-portable md5 bucket — the featurization primitive
    that keeps unbounded categorical combinations at model-input
    width, with the collision cost REPORTED per bucket (n_crosses > 1
    = colliding features) instead of silently folded. At 100 TB the
    cross+hash is a narrow map and the report is one partial-agg
    shuffle over ≤ D groups; the same construction scales to billions
    of distinct crosses because the width is fixed by D, not by
    cardinality."""
    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    crossed = e.select(
        F.concat_ws("#", "event_type", (F.weekday(F.to_date("ts")) + 1).cast("string")).alias("cross_key")
    )
    hashed = crossed.select(
        "cross_key", hash_bucket(F.col("cross_key"), "fx", 64).alias("bucket")
    )
    return hashed.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("cross_key").alias("n_crosses"),
    )


# =========================================================================
# Batch 9: temporal train/test split + entity-leakage audit — the
# time-series counterpart of split_leakage_safe (which keys on
# near-dup clusters; forecasting work must key on TIME, and that
# choice leaks ENTITIES by construction — so report it).
# =========================================================================

_TSPLIT_SQL = """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN 'train' ELSE 'test' END
               AS split
      FROM events),
    ent AS (
      SELECT user_id,
             count(CASE WHEN split = 'train' THEN 1 END) AS n_train,
             count(CASE WHEN split = 'test' THEN 1 END) AS n_test
      FROM tagged GROUP BY 1)
    SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN e.n_train > 0 AND e.n_test > 0
                                    THEN t.user_id END) AS BIGINT) AS n_leaked_users,
           CAST(min(CAST(t.ts AS DATE)) AS VARCHAR) AS min_date,
           CAST(max(CAST(t.ts AS DATE)) AS VARCHAR) AS max_date
    FROM tagged t JOIN ent e USING (user_id)
    GROUP BY 1
"""


@pq("train_test_temporal_split", _TSPLIT_SQL)
def train_test_temporal_split(spark, sf_dir):
    """Temporal train/test split at a fixed cutoff with the
    ENTITY-LEAKAGE audit attached: time-keyed splits are mandatory for
    forecasting (a hash split would train on the future), but they
    leak entities by construction — the same user appears on both
    sides — which is exactly what a practitioner must know before
    fitting per-user features. Reports per split: rows, distinct
    users, users present on BOTH sides, and the date range (which must
    not overlap the other split's — the one guarantee a temporal split
    does make). One pass to tag, one per-user aggregate joined back;
    the split column is a narrow expression, same as split_assign."""
    e = _t(spark, sf_dir, "events")
    cutoff = "2024-01-24 00:00:00"
    tagged = e.select(
        "user_id", "ts",
        F.when(F.col("ts") < cutoff, "train").otherwise("test").alias("split"),
    )
    ent = tagged.groupBy("user_id").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    )
    leaked = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    return (
        tagged.join(ent, "user_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.when(leaked, F.col("user_id"))).alias("n_leaked_users"),
            F.min(F.to_date("ts")).cast("string").alias("min_date"),
            F.max(F.to_date("ts")).cast("string").alias("max_date"),
        )
    )
