from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t  # noqa: F401

# Extended SQL surface: multi-way joins + subqueries as ANSI-SQL strings.
# The engine's SQL entry point is spark.sql over registered views; the
# oracle is the identical string on duckdb (dialect-portable SQL).
# =========================================================================

_Q5_SQL = """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


@q("sql_q5_local_volume", _Q5_SQL)
def sql_q5_local_volume(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): 6-way join with a same-nation
    theta condition, submitted as plain SQL. Catalyst broadcast-joins the
    three dims and reorders the fact joins; at cluster scale the
    customer/orders/lineitem joins shuffle on their keys while
    supplier/nation/region stay broadcast. Runs under runtime
    bloom-filter pruning (session.enable_runtime_filters) — the
    ASIA-filtered customer side seeds a might_contain probe filter on
    the orders scan."""
    from etl_mini_spark.session import enable_runtime_filters, register_tables

    enable_runtime_filters(spark)
    register_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    return spark.sql(_Q5_SQL)


_Q10_SQL = """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@q("sql_q10_returned", _Q10_SQL)
def sql_q10_returned(spark, sf_dir):
    """TPC-H Q10 (returned-item report): fact-fact join + top-20 by
    aggregated revenue. The ORDER BY ... LIMIT compiles to TakeOrderedAndProject
    (per-partition top-k, no global sort) — the plan that survives 100 TB.
    Runs under runtime bloom-filter pruning (session.enable_runtime_filters)."""
    from etl_mini_spark.session import enable_runtime_filters, register_tables

    enable_runtime_filters(spark)
    register_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return spark.sql(_Q10_SQL)


_EXISTS_SQL = """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
"""


@q("sql_exists_urgent", _EXISTS_SQL)
def sql_exists_urgent(spark, sf_dir):
    """Correlated EXISTS subquery — Catalyst rewrites it to a left-semi
    join on o_custkey (no per-row subquery execution)."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_EXISTS_SQL)


_SCALAR_SQL = """
    SELECT p_brand, count(*) AS n, round(min(p_retailprice), 2) AS min_price
    FROM part
    WHERE p_retailprice > (SELECT round(avg(p_retailprice), 0) FROM part)
    GROUP BY p_brand
"""


@q("sql_scalar_above_avg", _SCALAR_SQL)
def sql_scalar_above_avg(spark, sf_dir):
    """Uncorrelated scalar subquery in a predicate — executed once,
    result broadcast into the filter (the avg is rounded to a whole unit
    so the float boundary cannot flip rows between engines)."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["part"])
    return spark.sql(_SCALAR_SQL)


_CLUSTERS_ORACLE = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
comp AS (SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node)
SELECT doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM comp
"""


@q("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER assignment: shingle-Jaccard pairs (≥0.8) →
    transitive closure (connected components) → one representative
    (min doc_id) per component plus the component size. The keep/drop
    decision a dedup pipeline actually needs — pairs alone under-delete
    when A~B and B~C but A~C is below threshold. The oracle recomputes
    the closure with a recursive CTE (a completely different evaluation
    strategy — strong differential check).

    The closure runs in O(log n) rounds regardless of component
    diameter (large-star/small-star), so a templated/boilerplate corpus
    whose near-dup graphs are long chains cannot exhaust an iteration
    cap mid-pipeline the way diameter-round label propagation would."""
    from etl_mini_spark.operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs_ngram_jaccard(d, "doc_id", "text")
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_rep")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_rep")
    ).withColumn("cluster_size", F.count("*").over(w))


@q(
    "text_redact_pii",
    r"""WITH src AS (
         SELECT doc_id,
                text || ' contact user' || doc_id || '@example.com or 10.0.0.' ||
                (doc_id % 256) || ' card 4111111111111111' AS text
         FROM documents)
       SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                '\b\d{13,16}\b', '<NUM>', 'g') AS redacted
       FROM src""",
)
def text_redact_pii(spark, sf_dir):
    """PII redaction (email/IPv4/card-shaped digit runs → typed tokens)
    over a corpus with deterministically INJECTED PII — the raw
    documents contain none, so redacting them alone would be a no-op
    check. Both engines build the same augmented text, redact, and
    compare full output strings. Pure regexp_replace chain: whole-stage
    codegen, linear scan at any scale."""
    from etl_mini_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or 10.0.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(" card 4111111111111111"),
    )
    return d.select("doc_id", redact_pii(injected).alias("redacted"))


@q(
    "doc_chunks",
    r"""WITH t AS (
         SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
       nz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 64)) AS start FROM nz)
       SELECT doc_id, CAST(start / 64 AS BIGINT) AS chunk_id,
              array_to_string(toks[start+1:start+128], ' ') AS chunk,
              CAST(len(toks[start+1:start+128]) AS BIGINT) AS n_tokens
       FROM s""",
)
def doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (window 128, stride 64) — the
    tokenize-and-pack step before embedding/training. Narrow explode,
    no shuffle; chunk text compared verbatim against the oracle."""
    from etl_mini_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "doc_id", "text", window=128, stride=64
    )


@q(
    "corpus_top_bigrams",
    r"""WITH t AS (
         SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
         ),
       bg AS (
         SELECT unnest(list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                                      p -> p[1] || ' ' || p[2])) AS ngram
         FROM t WHERE len(toks) >= 2)
       SELECT ngram, CAST(count(*) AS BIGINT) AS n
       FROM bg GROUP BY ngram
       ORDER BY n DESC, ngram LIMIT 20""",
)
def corpus_top_bigrams(spark, sf_dir):
    """Corpus-level top-20 bigrams (count desc, ngram tie-break) —
    boilerplate/contamination statistics. Map-side partial agg means
    the shuffle carries distinct ngrams only."""
    from etl_mini_spark.operators.text import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), "text", k=20)


@q(
    "join_full_outer",
    """SELECT COALESCE(a.c_custkey, b.o_custkey) AS custkey,
              a.c_acctbal, b.n_urgent
       FROM (SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
             FROM customer WHERE c_acctbal > 9000) a
       FULL OUTER JOIN
            (SELECT o_custkey, count(*) AS n_urgent FROM orders
             WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) b
       ON a.c_custkey = b.o_custkey""",
)
def join_full_outer(spark, sf_dir):
    """J2 full outer: rich customers ⟗ urgent-order counts — both sides
    keep unmatched rows (high-balance customers with no urgent orders;
    urgent-order customers below the balance cut)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_urgent"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"), "c_acctbal", "n_urgent"
    )


@q(
    "window_rank_suite",
    """SELECT l_orderkey, l_linenumber,
              rank()         OVER w AS rnk,
              dense_rank()   OVER w AS drnk,
              round(percent_rank() OVER w, 6) AS prnk,
              round(cume_dist()    OVER w, 6) AS cdist,
              ntile(4)       OVER w AS quartile
       FROM lineitem
       WINDOW w AS (PARTITION BY l_returnflag
                    ORDER BY round(l_extendedprice, 2) DESC, l_orderkey, l_linenumber)""",
)
def window_rank_suite(spark, sf_dir):
    """W-suite: rank / dense_rank / percent_rank / cume_dist / ntile
    under one deterministic total order per partition."""
    l = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.round("l_extendedprice", 2).desc(), "l_orderkey", "l_linenumber"
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@q(
    "string_fns_suite",
    """SELECT p_partkey,
              upper(p_brand) AS brand_u,
              CAST(length(p_name) AS BIGINT) AS name_len,
              substr(p_name, 1, 12) AS name_prefix,
              replace(p_type, ' ', '_') AS type_snake,
              lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
              reverse(p_brand) AS brand_rev,
              CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
              CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS brand_dist,
              concat_ws('|', p_brand, p_type) AS brand_type
       FROM part""",
)
def string_fns_suite(spark, sf_dir):
    """F-suite: the common string-function surface (case, length,
    substring, replace, pad, reverse, find, edit distance, concat) —
    all JVM built-ins, semantics pinned against DuckDB."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("long").alias("brand_dist"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


@q(
    "window_time_range_7d",
    """SELECT event_id, user_id,
              floor(round(sum(value) OVER (
                      PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2)
                    / count(*) OVER (
                      PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                    * 1000000 + 0.5) / 1000000
                AS avg_7d,
              CAST(count(*) OVER (
                PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS BIGINT)
                AS n_7d
       FROM events""",
)
def window_time_range_7d(spark, sf_dir):
    """W-range: trailing-7-day moving average per user — a true
    time-RANGE frame (all rows within the interval, regardless of row
    count), not a ROWS frame. Spark expresses interval ranges by
    ordering on epoch MICROseconds with a microsecond-wide rangeBetween
    — full timestamp precision, so the frame boundaries agree with an
    engine that compares timestamps exactly (unix_timestamp() would
    truncate to seconds and create frame peers the oracle doesn't
    have). Frames are tie-safe by construction: every row with the same
    ts is in the same frame, so no tie-breaker is needed.

    The moving average is pinned engine-exact (round-7 sf0.1 sweep
    finding): the frame SUM is rounded at 2dp first — sums of 2dp
    values are decimal multiples of 0.01, never half-cases, so ulp
    accumulation-order noise collapses identically in both engines —
    then divided and HALF_UP-rounded via floor(x*1e6 + 0.5)/1e6. A
    plain round(avg, 6) hit an exact half at the 6th decimal (count 16)
    where Spark's HALF_UP and DuckDB's half-even split, with ulp noise
    deciding which side each engine saw."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    avg_pinned = F.floor(
        F.round(F.sum("value").over(w), 2) / F.count("*").over(w) * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    return e.select(
        "event_id",
        "user_id",
        avg_pinned.alias("avg_7d"),
        F.count("*").over(w).alias("n_7d"),
    )


@q(
    "groupwise_zscore",
    """SELECT event_id, event_type,
              round((value - avg(value) OVER (PARTITION BY event_type))
                    / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
       FROM events""",
)
def groupwise_zscore(spark, sf_dir):
    """Group-wise standardization (z-score per event_type) — the
    feature-engineering normalization pass, done with whole-partition
    window aggregates: ONE shuffle on the group key instead of an
    aggregate + join-back two-pass plan."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return e.select("event_id", "event_type", F.round(z, 6).alias("z"))


@q(
    "funnel_conversion",
    """WITH seq AS (
         SELECT user_id, ts, event_id, event_type,
                min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase
         FROM events),
       clicks AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day,
                (next_purchase IS NOT NULL AND next_purchase <= ts + INTERVAL 24 HOUR)
                  AS converted
         FROM seq WHERE event_type = 'click')
       SELECT day, count(*) AS n_clicks,
              CAST(count(*) FILTER (WHERE converted) AS BIGINT) AS n_converted,
              round(count(*) FILTER (WHERE converted)::DOUBLE / count(*), 6) AS conv_rate
       FROM clicks GROUP BY day""",
)
def funnel_conversion(spark, sf_dir):
    """Funnel analysis: click→purchase conversion within 24 h, per
    click day. The forward-looking 'next purchase after this event' is
    one min-over-following-frame window per user — no self-join, one
    shuffle on user_id, then a tiny day-level aggregate. (The backward
    twin is operators/joins.asof_join.) Deterministic frame via the
    (ts, event_id) total order in BOTH engines."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
    clicks = (
        e.withColumn("next_purchase", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            (
                F.col("next_purchase").isNotNull()
                & (F.col("next_purchase") <= F.col("ts") + F.expr("INTERVAL 24 HOURS"))
            ).alias("converted"),
        )
    )
    return clicks.groupBy("day").agg(
        F.count("*").alias("n_clicks"),
        F.count_if("converted").alias("n_converted"),
        F.round(F.count_if("converted") / F.count("*"), 6).alias("conv_rate"),
    )


@q(
    "timeseries_resample_fill",
    """WITH bounds AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
       grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
       types AS (SELECT DISTINCT event_type AS et FROM events),
       cnt AS (SELECT ts::DATE AS day, event_type, count(*) AS n,
                      round(avg(value), 6) AS avg_v
               FROM events GROUP BY 1, 2)
       SELECT strftime(g.day, '%Y-%m-%d') AS day, t.et AS event_type,
              CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
              round(last_value(c.avg_v IGNORE NULLS) OVER (
                PARTITION BY t.et ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS avg_value_locf
       FROM grid g CROSS JOIN types t
       LEFT JOIN cnt c ON c.day = g.day AND c.event_type = t.et""",
)
def timeseries_resample_fill(spark, sf_dir):
    """Time-series regularization: daily grid per event_type over the
    full span, counts zero-filled and mean value LOCF-filled — the
    resample step before windowed features. Grid is days×types (tiny);
    only the initial aggregate scales with event volume."""
    from etl_mini_spark.operators.timeseries import resample_daily_fill

    return resample_daily_fill(_t(spark, sf_dir, "events"), "ts", "event_type", "value")


@q("stream_capped_sessions")  # custom stateful streaming — genuinely no SQL twin
def stream_capped_sessions(spark, sf_dir):
    """ST-custom: applyInPandasWithState capped sessionization run as a
    real stream (file source, AvailableNow) and read back. The span-cap
    rule is iterative per key (each split decision depends on the
    previous one), so there is no window-function SQL twin — the
    differential check lives in tests/test_streaming.py against a
    pure-python reference. Output restricted to gap/cap-closed sessions
    (timeout flushes depend on micro-batch boundaries)."""
    from etl_mini_spark.streaming.stateful import capped_sessions
    from etl_mini_spark.streaming.stream import replay

    with replay(spark, "capped_sessions") as r:
        r.stage(_t(spark, sf_dir, "events").select("user_id", "ts"))
        r.run(capped_sessions(r.stream()))
    return r.output.filter(F.col("closed_by").isin("gap", "cap"))


@q("stream_capped_sessions_checksum")
def stream_capped_sessions_checksum(spark, sf_dir):
    """ST-custom pin #2: value-sensitive checksum over the deterministic
    (gap/cap-closed) session set — per closed_by: session count, total
    events, and a sum over the session epoch bounds. A regression in
    session boundaries or event counts moves these values even when the
    ROW COUNT of the detail entry stays the same; the local differential
    (tests/test_streaming.py) pins the same numbers against the
    pure-python reference."""
    closed = QUERIES["stream_capped_sessions"](spark, sf_dir)
    return (
        closed.groupBy("closed_by")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            # mod-1e9 keeps the running sum < n·2e9 — a raw microsecond
            # sum crosses 2^63 within ~2700 sessions and ANSI mode
            # turns that overflow into a query failure
            F.sum(
                (F.unix_micros("session_start") + F.unix_micros("session_end"))
                % F.lit(1_000_000_000)
            ).alias("bounds_checksum_us"),
        )
        .orderBy("closed_by")
    )


@q(
    "stream_dedup_watermark",
    """SELECT DISTINCT event_id, user_id, event_type FROM events""",
)
def stream_dedup_watermark(spark, sf_dir):
    """ST5: dropDuplicatesWithinWatermark under late duplicates — every
    10th event is re-delivered 5 minutes late (inside the 1 h
    watermark horizon), the stream must emit each event_id exactly
    once. The oracle is the batch-equivalent distinct over the original
    events: streaming dedup on planted duplicates recovers it exactly.
    Only copy-invariant columns are returned (which physical copy
    survives depends on file ordering, by design of first-wins dedup)."""
    from etl_mini_spark.streaming.stream import replay
    from etl_mini_spark.streaming.windows import streaming_dedup

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    late_dupes = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )
    with replay(spark, "stream_dedup") as r:
        r.stage(e.unionByName(late_dupes))
        r.run(streaming_dedup(r.stream(), keys=["event_id"], ts_col="ts", late_threshold="1 hour"))
    return r.output.select("event_id", "user_id", "event_type")


# =========================================================================
