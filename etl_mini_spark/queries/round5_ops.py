"""Round-5 surface: sketch aggregates, bloom-style dedup prefilter,
BPE-ish token stats, JSON/lateral extraction, interval sweeps, four more
TPC-H-adapted SQL queries (the testdata has no partsupp, so Q2/Q11/Q16
are restated over lineitem as the part↔supplier link), event-path and
attribution analytics, shingle containment, template detection, SCD2
history build, and a range→equi bucket-join rewrite.

Every entry is oracle-backed (DuckDB twin on identical parquet).
"""

from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t  # noqa: F401

# =========================================================================
# sketches / approximate aggregates
# =========================================================================

_QUANTILE_SKETCH_SQL = """
    SELECT p, v FROM (
      SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS p,
             unnest(quantile_disc(l_extendedprice, [0.25, 0.5, 0.75, 0.9])) AS v
      FROM lineitem)
"""


@q("approx_quantile_sketch", _QUANTILE_SKETCH_SQL)
def approx_quantile_sketch(spark, sf_dir):
    """Quantile sketch over lineitem prices via percentile_approx
    (Greenwald-Khanna, mergeable per-partition sketches — the 100 TB
    path: each task summarizes locally, driver merges summaries; no
    global sort). Accuracy 1e6 exceeds the row count at the driver's
    verification scales, so the sketch degrades to the exact order
    statistic and hash-matches DuckDB's quantile_disc; at cluster scale
    the same plan stays bounded-memory and becomes ε-approximate. The
    exactness window is real and measured: at sf0.1 (600k rows — rank
    error bound n/accuracy ≈ 0.6 rows) the round-7 sweep caught the
    p25 answer one order statistic away from quantile_disc's
    lower-rank pick, so beyond sf0.01 this entry's oracle match is
    ε-bounded, not exact — inherent to approximate aggregates, not a
    defect."""
    li = _t(spark, sf_dir, "lineitem")
    qs = li.agg(
        F.expr(
            "percentile_approx(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D), 1000000)"
        ).alias("vs")
    )
    ps = F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.9)])
    return (
        qs.select(F.explode(F.arrays_zip(ps.alias("p"), F.col("vs").alias("v"))).alias("z"))
        .select(F.col("z.p").alias("p"), F.col("z.v").alias("v"))
    )


# =========================================================================
# bloom-style dedup prefilter (incremental ingest at scale)
# =========================================================================

_BLOOM_PREFILTER_SQL = """
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM documents e
                      WHERE e.doc_id % 2 = 0 AND e.text = d.text)
"""


@q("dedup_bloom_prefilter", _BLOOM_PREFILTER_SQL)
def dedup_bloom_prefilter(spark, sf_dir):
    """Incremental-ingest dedup with an approximate-membership prefilter.

    The seen-set is compacted to 8-byte xxhash64 values — a bloom-style
    membership structure (false positives possible via hash collision,
    no false negatives) expressed as relational ops because Spark's
    bloom_filter_agg is not SQL-registered. Incoming docs that miss the
    compact set are definitely new and never touch the full fingerprint
    set; only prefilter HITS get the exact fingerprint anti-join. At
    100 TB the win is shuffle width: the membership probe moves 8 bytes
    per doc instead of the md5 fingerprint + doc payload, and the exact
    verify runs on the (tiny) collision+duplicate subset only.
    """
    docs = _t(spark, sf_dir, "documents")
    existing_fp = (
        docs.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("fp")).distinct()
    )
    compact = existing_fp.select(F.xxhash64("fp").alias("h")).distinct()
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("fp")
    ).withColumn("h", F.xxhash64("fp"))
    definitely_new = incoming.join(compact, "h", "left_anti")
    maybe_dup = incoming.join(compact, "h", "left_semi")
    fp_new = maybe_dup.join(existing_fp, "fp", "left_anti")
    return definitely_new.unionByName(fp_new).select("doc_id")


# =========================================================================
# text analysis: BPE-ish token stats, lateral top-k, template detection
# =========================================================================

_TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

_TOKEN_STATS_SQL = f"""
    WITH t AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS tok
               FROM documents)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
           round(avg(length(tok)), 6) AS avg_tok_len
    FROM t GROUP BY doc_id
"""


@q("token_stats_bpe", _TOKEN_STATS_SQL)
def token_stats_bpe(spark, sf_dir):
    """Per-doc token statistics with a BPE-ish lexer regex (letter runs,
    digit runs, punctuation runs — the pre-tokenization split every BPE
    vocabulary assumes). Pure JVM regexp_extract_all + explode; one
    shuffle on doc_id for the distinct count."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{_TOKEN_PATTERN}', 0)")).alias("tok"),
    )
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.round(F.avg(F.length("tok")), 6).alias("avg_tok_len"),
    )


_LATERAL_TOPK_SQL = """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY 1, 2),
         r AS (SELECT doc_id, tok, CAST(n AS BIGINT) AS n,
                      CAST(row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS BIGINT) AS rk
               FROM c)
    SELECT doc_id, tok, n, rk FROM r WHERE rk <= 3
"""


@q("lateral_tokens_topk", _LATERAL_TOPK_SQL)
def lateral_tokens_topk(spark, sf_dir):
    """Top-3 most frequent tokens per document (lateral explode →
    grouped count → per-group rank). The rank window reuses the
    grouping's doc_id partitioning, so explode→count→rank is ONE
    shuffle; ties broken by token for determinism."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "n", "rk")
    )


_NEAR_TEMPLATE_SQL = """
    SELECT array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc
    FROM documents
    GROUP BY prefix HAVING count(*) >= 2
"""


@q("text_near_template", _NEAR_TEMPLATE_SQL)
def text_near_template(spark, sf_dir):
    """Boilerplate/template detection: documents sharing an 8-token
    prefix skeleton are grouped as one template family (common crawl
    preambles, license headers, generated pages). One hash-agg shuffle
    on the prefix — the doc body never moves."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("prefix"), "doc_id"
        )
        .groupBy("prefix")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("rep_doc"))
        .filter(F.col("n_docs") >= 2)
    )


# =========================================================================
# JSON extraction
# =========================================================================

_JSON_EXTRACT_SQL = """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket
    FROM events
"""


@q("json_table_extract", _JSON_EXTRACT_SQL)
def json_table_extract(spark, sf_dir):
    """Schema-on-read JSON payload extraction (ref tsv_converter.py
    nested-path walks, restated): get_json_object stays in codegen; at
    scale prefer from_json with an explicit schema once the payload
    shape is known — both push column pruning into the scan."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        k.alias("k"),
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10").alias("k_bucket"),
    )


# =========================================================================
# interval sweep / overlap analytics
# =========================================================================

_OVERLAP_SQL = """
    WITH iv AS (SELECT event_type, ts AS t, 1 AS d FROM events
                UNION ALL
                SELECT event_type, ts + INTERVAL 10 MINUTE AS t, -1 AS d FROM events),
         sweep AS (SELECT event_type,
                          sum(d) OVER (PARTITION BY event_type ORDER BY t, d
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
                   FROM iv)
    SELECT event_type, CAST(max(c) AS BIGINT) AS max_concurrent
    FROM sweep GROUP BY event_type
"""


@q("interval_overlap_agg", _OVERLAP_SQL)
def interval_overlap_agg(spark, sf_dir):
    """Max concurrent open intervals per event type ([ts, ts+10min)
    half-open) via the classic +1/-1 sweep — linear in events, ONE
    shuffle on event_type, versus the quadratic self-theta-join the
    naive formulation would run. Ends sort before starts at the same
    instant (d = -1 < +1), which encodes the half-open boundary."""
    e = _t(spark, sf_dir, "events").select("event_type", "ts")
    starts = e.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d"))
    ends = e.select(
        "event_type", (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = starts.unionByName(ends).withColumn("c", F.sum("d").over(w))
    return sweep.groupBy("event_type").agg(F.max("c").alias("max_concurrent"))


# =========================================================================
# TPC-H-adapted SQL (no partsupp table in the testdata: lineitem is the
# part↔supplier link; Q22 drops the phone-prefix dimension for nation)
# =========================================================================

_Q2_SQL = """
    SELECT DISTINCT p.p_partkey, l.l_suppkey,
           l.l_extendedprice / l.l_quantity AS unit_price
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE l.l_extendedprice / l.l_quantity =
          (SELECT min(l2.l_extendedprice / l2.l_quantity)
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""


@q("sql_q2_min_cost_supplier", _Q2_SQL)
def sql_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adapted (min-cost supplier per part; lineitem stands in
    for partsupp — ref has no such query; SURVEY §2.11 new-build).
    Catalyst de-correlates the scalar subquery into an aggregate +
    join on l_partkey, so the plan is two shuffles on the same key, not
    a per-part re-scan."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["part", "lineitem"])
    return spark.sql(_Q2_SQL)


_Q11_SQL = """
    WITH v AS (SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS val
               FROM lineitem GROUP BY l_partkey),
         thr AS (SELECT 1.5 * avg(val) AS t FROM v)
    SELECT l_partkey, round(val, 2) AS val
    FROM v, thr WHERE val > t
"""


@q("sql_q11_important_stock", _Q11_SQL)
def sql_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 adapted (parts whose revenue exceeds 1.5× the mean
    per-part revenue — scale-free, unlike Q11's fixed share threshold,
    so the result is non-vacuous at every SF). The one-row threshold
    cross-joins back as a broadcast; Spark reuses the aggregated
    shuffle output (ReusedExchange) instead of re-scanning."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(_Q11_SQL)


_Q16_SQL = """
    SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 40
"""


@q("sql_q16_supplier_cnt", _Q16_SQL)
def sql_q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 adapted (supplier diversity per part attribute with a
    NOT IN exclusion list). The exclusion subquery is tiny and
    broadcast as a null-aware anti join; top-40 is fully tie-broken →
    deterministic."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["part", "lineitem", "supplier"])
    return spark.sql(_Q16_SQL)


_Q22_SQL = """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
"""


@q("sql_q22_global_sales", _Q22_SQL)
def sql_q22_global_sales(spark, sf_dir):
    """TPC-H Q22 adapted (wealthy customers with no URGENT orders, by
    nation — the synthetic data gives every customer some order, so the
    anti-join condition filters on priority to stay non-vacuous).
    Scalar-subquery average + NOT EXISTS anti join; the anti join
    shuffles on custkey while the scalar broadcasts — no correlated
    re-execution."""
    from etl_mini_spark.session import register_tables

    register_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_Q22_SQL)


# =========================================================================
# behavioral analytics: event paths, attribution
# =========================================================================

_PATH_3GRAM_SQL = """
    WITH s AS (SELECT user_id, event_type,
                      lead(event_type, 1) OVER w AS e2,
                      lead(event_type, 2) OVER w AS e3
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 20
"""


@q("event_path_3gram", _PATH_3GRAM_SQL)
def event_path_3gram(spark, sf_dir):
    """Top-20 behavioral 3-grams (ordered event-type trigrams per user).
    One shuffle on user_id for the lead window, one hash-agg on the
    path string; top-k compiles to TakeOrderedAndProject."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        s.select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


_FIRST_TOUCH_SQL = """
    WITH firsts AS (SELECT user_id, event_type AS first_type FROM (
                      SELECT user_id, event_type,
                             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                      FROM events) WHERE rn = 1),
         purch AS (SELECT user_id, count(*) AS n FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT first_type, CAST(count(*) AS BIGINT) AS n_users,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_purchases
    FROM firsts LEFT JOIN purch USING (user_id)
    GROUP BY first_type
"""


@q("first_touch_attribution", _FIRST_TOUCH_SQL)
def first_touch_attribution(spark, sf_dir):
    """First-touch attribution: each user's earliest event type claims
    all their later purchases. The row_number window and the purchase
    aggregate both key on user_id; at bench scale the (small) purchase
    side broadcasts, at cluster scale both sides arrive already
    hash-partitioned on user_id so the join adds no new shuffle."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        firsts.join(purch, "user_id", "left")
        .groupBy("first_type")
        .agg(
            F.count("*").alias("n_users"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_purchases"),
        )
    )


# =========================================================================
# shingle containment (near-subset dedup)
# =========================================================================

_CONTAINMENT_SQL = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)]) AS shingles
                FROM toks)
    SELECT d1, d2, round(c, 6) AS containment FROM (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / least(len(a.shingles), len(b.shingles)) AS c
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.shingles) >= 1 AND len(b.shingles) >= 1)
    WHERE c >= 0.9
"""


@q("minhash_containment", _CONTAINMENT_SQL)
def minhash_containment(spark, sf_dir):
    """Near-subset pairs at containment ≥ 0.9 (|A∩B| / min set size) —
    catches short docs embedded in longer ones, which symmetric Jaccard
    under-scores. Inverted-index plan; the oracle brute-forces all
    pairs for a stronger differential check."""
    from etl_mini_spark.operators.dedup import near_dup_pairs_containment

    return near_dup_pairs_containment(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.9
    )


# =========================================================================
# SCD2 history build (CDC → validity intervals)
# =========================================================================

_SCD2_SQL = """
    SELECT o_custkey, o_orderkey, o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
    FROM orders
"""


@q("cdc_scd2_history", _SCD2_SQL)
def cdc_scd2_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension build from a change stream:
    each change's validity interval is [its date, next change's date),
    open-ended for the current row. One lead() window per key — one
    shuffle; at 100 TB this is the standard CDC-compaction shape
    (orders stands in for the change feed)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


# =========================================================================
# range-predicate → equi-join rewrite (fixed-width buckets)
# =========================================================================

_RANGE_BUCKET_SQL = """
    WITH dim AS (SELECT i AS bucket_id, 'b' || i AS label,
                        i * 35.0 AS lo, (i + 1) * 35.0 AS hi
                 FROM range(10) t(i))
    SELECT label, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
    FROM events JOIN dim ON value >= lo AND value < hi
    GROUP BY label
"""


@q("range_bucket_join", _RANGE_BUCKET_SQL)
def range_bucket_join(spark, sf_dir):
    """Range-dimension join rewritten as an equi join: for fixed-width
    buckets the range predicate value∈[lo,hi) is equivalent to
    bucket_id = floor(value/width), turning a BroadcastNestedLoopJoin
    (every row × every bucket) into a broadcast hash join — the rewrite
    that keeps range-dimension enrichment viable at 100 TB. The oracle
    runs the original theta-join formulation."""
    e = _t(spark, sf_dir, "events")
    dim = spark.range(10).select(
        F.col("id").cast("long").alias("bucket_id"),
        F.concat(F.lit("b"), F.col("id")).alias("label"),
    )
    bucketed = e.select(
        F.floor(F.col("value") / F.lit(35.0)).cast("long").alias("bucket_id"), "value"
    )
    return (
        bucketed.join(F.broadcast(dim), "bucket_id")
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# =========================================================================
# sink-layout tier as driver-verified queries (S7/S11 + bucketing)
# =========================================================================

_PARTITIONED_SQL = """
    SELECT strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'click' GROUP BY d
"""


@q("partitioned_roundtrip", _PARTITIONED_SQL)
def partitioned_roundtrip(spark, sf_dir):
    """Hive-style partitioned layout roundtrip (S11): events written
    partitionBy(event_type), then ONE partition read back via a
    partition-column filter — the scan lists only the click/ directory
    (partition pruning; asserted in tests/test_pipeline.py). At 100 TB
    the partition column is the first knife: scans of a filtered type
    touch 1/5th of the files before any row-group pruning."""
    from etl_mini_spark.queries._base import _TMP

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    path = str(_TMP / f"part_rt_{Path(sf_dir).name}")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return back.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.count("*").alias("n")
    )


_BUCKETED_SQL = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


@q("bucketed_join_roundtrip", _BUCKETED_SQL)
def bucketed_join_roundtrip(spark, sf_dir):
    """Bucketed-table co-located join (writers.write_bucketed): orders
    and customer both saved bucketed(8) on custkey, then joined — the
    bucket co-location replaces both join Exchanges (plan-asserted in
    tests/test_plans.py::test_bucketed_join_no_shuffle). The one-time
    bucketing cost amortizes over every later join/agg on the key —
    the nightly-fact-join shape at 100 TB."""
    from etl_mini_spark.sources.writers import write_bucketed

    sf_tag = Path(sf_dir).name.replace(".", "_")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, f"orders_b_{sf_tag}", ["o_custkey"], num_buckets=8)
    write_bucketed(c, f"customer_b_{sf_tag}", ["c_custkey"], num_buckets=8)
    ob = spark.table(f"orders_b_{sf_tag}")
    cb = spark.table(f"customer_b_{sf_tag}")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


# =========================================================================
# streaming exactly-once upsert + null-safe join semantics
# =========================================================================

_STREAM_UPSERT_SQL = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN event_id % 7 = 0 THEN value + 100 ELSE value END), 2)
             AS sum_value
    FROM events GROUP BY event_type
"""


@q("stream_foreachbatch_upsert", _STREAM_UPSERT_SQL)
def stream_foreachbatch_upsert(spark, sf_dir):
    """Streaming keyed upsert end-to-end: the base corpus streams into
    a parquet table via foreachBatch upsert, then a second incremental
    run delivers UPDATED rows (every 7th event re-arrives with value
    +100) that must overwrite in place — the streaming checkpoint skips
    already-processed files, so the second run sees only the new ones.
    This is the reference's flagship ES→upsert→PG shape (S9 + §2.9)
    with streaming restart-safety replacing its metadata table. Oracle
    emulates the final table state declaratively."""
    from etl_mini_spark.streaming.stream import foreach_batch_upsert, replay

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with replay(spark, "fbu") as r:
        sink = foreach_batch_upsert(r.out, keys=["event_id"])
        r.stage(e)
        r.run(r.stream(), sink)
        # incremental re-delivery: updated rows land as a NEW source file
        r.stage(e.filter(F.col("event_id") % 7 == 0).withColumn("value", F.col("value") + 100))
        r.run(r.stream(), sink)
    return r.output.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


_NULL_SAFE_JOIN_SQL = """
    WITH dim AS (SELECT range AS k, 'g' || range AS grp FROM range(1, 10)
                 UNION ALL SELECT NULL, 'g_null'),
         ev AS (SELECT nullif(user_id % 10, 0) AS k FROM events)
    SELECT grp, CAST(count(*) AS BIGINT) AS n
    FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k
    GROUP BY grp
"""


@q("join_null_safe", _NULL_SAFE_JOIN_SQL)
def join_null_safe(spark, sf_dir):
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys
    match the dimension's NULL row instead of silently dropping — the
    semantics unknown-segment enrichment needs. Still a hash join
    (null-safe equality remains an equi predicate; no fallback to
    nested-loop), with the dim broadcast."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("nullif(user_id % 10, 0)").alias("k")
    )
    dim = (
        spark.range(1, 10)
        .select(F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("grp"))
        .unionByName(
            spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 'g_null' AS grp")
        )
    )
    return (
        e.join(F.broadcast(dim), e["k"].eqNullSafe(dim["k"]))
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
    )
