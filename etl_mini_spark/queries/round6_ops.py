from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t, _TMP  # noqa: F401
from etl_mini_spark.operators.graph import pagerank
from etl_mini_spark.queries.round5_new_domains import _EDGE_CTE, _copurchase_digraph
from etl_mini_spark.queries.round5_ops import _SCD2_SQL

# Round-6 additions (VERDICT r5 items 5-7): the as-of skew path under
# driver verification, a convergence-tested PageRank, and the SCD2
# late-arriving-correction path.
# =========================================================================


# Same oracle as join_asof_last_order (joins_q.py) — the point of this
# entry is that the bucketed skew path must be ROW-IDENTICAL to the
# plain path, so both get the same rank-based SQL oracle.
_ASOF_SQL = """
    SELECT event_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
"""


@q("join_asof_bucketed", _ASOF_SQL)
def join_asof_bucketed(spark, sf_dir):
    """J6 skew path under driver verification: the same as-of join as
    join_asof_last_order but through the time-bucketed parallel sort
    (operators/joins.py bucket_seconds): rows partition by
    (key, 30-day bucket), each bucket sorts independently, and a
    per-(key, bucket) boundary table carries the last right row across
    bucket edges (null-safe carry join — NULL keys/times survive). A
    celebrity key spans history/30d tasks instead of serializing one.
    Must hash-match the identical oracle the plain path uses."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    res = asof_join(
        e.withColumnRenamed("user_id", "o_custkey"),
        o,
        on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        bucket_seconds=30 * 86400,
    )
    return res.select("event_id", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


_ASOF_FWD_SQL = """
    SELECT event_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    ) WHERE rn = 1
"""


@q("join_asof_forward", _ASOF_FWD_SQL)
def join_asof_forward(spark, sf_dir):
    """J6 forward direction: the EARLIEST order at-or-after each event
    (direction="forward") — the other half of the pandas merge_asof
    surface, e.g. "next delivery after the complaint". Same
    single-shuffle union-sort plan as backward; the running carry is a
    first() over the following frame instead of a last() over the
    preceding one. Oracle ranks ascending where backward ranks
    descending."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    res = asof_join(
        e.withColumnRenamed("user_id", "o_custkey"),
        o,
        on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        direction="forward",
    )
    return res.select("event_id", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


# =========================================================================
# convergence-tested PageRank (VERDICT r5 item 6)
# =========================================================================

_PR_ITERS = 120  # oracle iteration count; ~L_inf 2e-8 from fixed point

_PAGERANK_CONV_SQL = f"""
    WITH RECURSIVE {_EDGE_CTE},
    e2 AS (SELECT p1 AS s, p2 AS t FROM e UNION ALL SELECT p2, p1 FROM e),
    deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS d FROM e2 GROUP BY s),
    nodes AS (SELECT DISTINCT s AS p FROM e2),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr(p, pr, it) AS (
      SELECT p, 1.0 / n, 0 FROM nodes CROSS JOIN nn
      UNION ALL
      SELECT nodes.p, 0.15 / nn.n + 0.85 * coalesce(c.c, 0.0), c0.it + 1
      FROM (SELECT any_value(it) AS it FROM pr) c0,
           nodes CROSS JOIN nn
           LEFT JOIN (SELECT e2.t AS p, sum(pr.pr / deg.d) AS c
                      FROM e2 JOIN pr ON e2.s = pr.p JOIN deg ON e2.s = deg.s
                      GROUP BY e2.t) c ON nodes.p = c.p
      WHERE c0.it < {_PR_ITERS}
    )
    SELECT p AS p_partkey, round(pr * nn.n, 4) AS pr_scaled
    FROM pr CROSS JOIN nn WHERE it = {_PR_ITERS}
    ORDER BY pr_scaled DESC, p_partkey LIMIT 20
"""


@q("graph_pagerank_converged", _PAGERANK_CONV_SQL)
def graph_pagerank_converged(spark, sf_dir):
    """PageRank iterated to CONVERGENCE (scaled L-inf delta < 1e-9, vs
    graph_pagerank_parts' fixed 3 iterations), top-20 by rank scaled to
    mean 1. The loop (operators/graph.pagerank) is plain DataFrame
    joins, pinned every 10 iterations — without lineage truncation an
    iterative plan grows unboundedly and the optimizer re-walks ~k²
    nodes by iteration k; with it each checkpoint job replans from a
    materialized frame. The delta probe compares two consecutive
    checkpoints, so it runs once per 10 iterations. Oracle: DuckDB recursive CTE unrolled far past both engines'
    rounding precision (both land within ~1e-7 of the fixed point;
    output rounds to 4 decimals)."""
    pr, n = pagerank(
        _copurchase_digraph(spark, sf_dir), max_iter=200, tol=1e-9, checkpoint_every=10
    )
    return (
        pr.select(F.col("p").alias("p_partkey"), F.round(F.col("pr") * n, 4).alias("pr_scaled"))
        .orderBy(F.desc("pr_scaled"), "p_partkey")
        .limit(20)
    )


# =========================================================================
# SCD2 late-arriving correction (VERDICT r5 item 7)
# =========================================================================


@q("scd2_late_correction", _SCD2_SQL)
def scd2_late_correction(spark, sf_dir):
    """The warehouse hard case cdc_scd2_history leaves open: a late
    batch of change rows arrives AFTER the SCD2 history is built, and
    rows landing inside closed validity intervals must split/rewrite
    them. Plan: build history from the on-time rows (o_orderkey % 7
    != 0), then merge the late batch (% 7 == 0) INCREMENTALLY —
    untouched keys pass through via left_anti (no rewrite, no shuffle
    of their history beyond the key probe), and only the affected
    keys' change points (recovered from the existing history's
    valid_from rows, unioned with the late rows) re-derive intervals
    through one lead() window. At 100 TB the left_anti/semi split is
    the whole point: a late batch touching 0.1 % of keys rewrites
    0.1 % of the table. Oracle: the full rebuild over ALL rows — the
    incremental merge must be indistinguishable from it."""
    o = _t(spark, sf_dir, "orders")
    on_time = o.filter(F.col("o_orderkey") % 7 != 0)
    late = o.filter(F.col("o_orderkey") % 7 == 0)

    change_cols = [
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
    ]

    def build(changes):
        return changes.select(
            "o_custkey", "o_orderkey", "priority",
            "valid_from",
            F.lead("valid_from").over(
                Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
            ).alias("valid_to"),
        ).withColumn("is_current", F.col("valid_to").isNull())

    history = build(on_time.select(*change_cols))
    affected = late.select("o_custkey").distinct()
    untouched = history.join(affected, "o_custkey", "left_anti")
    # recover the change points of affected keys from the history itself
    # (valid_from + attributes fully determine them), add the late rows,
    # and re-derive intervals for just those keys
    rewritten = build(
        history.join(affected, "o_custkey", "semi")
        .select("o_custkey", "o_orderkey", "priority", "valid_from")
        .unionByName(late.select(*change_cols))
    )
    return untouched.unionByName(rewritten)


# =========================================================================
# LLM-pipeline tier: sequence packing + vocabulary coverage
# =========================================================================

_PACK_BUDGET = 4000  # chars per packed sequence (stand-in for tokens)

_PACKING_SQL = f"""
    WITH d AS (SELECT doc_id, doc_id % 32 AS shard, n_chars FROM documents),
    c AS (SELECT shard, n_chars,
                 sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_chars AS cum_before
          FROM d),
    b AS (SELECT shard, CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS fill
          FROM c GROUP BY shard, bin)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           round(avg(fill), 2) AS avg_fill, CAST(max(n_docs) AS BIGINT) AS max_docs_per_bin
    FROM b GROUP BY shard
"""


@q("seq_packing_bins", _PACKING_SQL)
def seq_packing_bins(spark, sf_dir):
    """Concat-and-chunk sequence packing — the GPT-pretraining data
    layout: documents stream in deterministic order and are packed into
    fixed-budget sequences, straddling boundaries (bin =
    ⌊chars-before-doc / budget⌋ over a running sum). Packing is per
    SHARD (doc_id % 32): a single global cumulative sum would be a
    one-task window — the classic scale trap — while per-shard packing
    is embarrassingly parallel and is what a 1000-executor run does
    anyway (each task packs its own partition; shard count scales with
    the cluster). Output: per-shard bin count and fill stats."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 32).alias("shard"), "n_chars"
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum_before", F.sum("n_chars").over(w) - F.col("n_chars"))
    b = (
        c.withColumn("bin", F.floor(F.col("cum_before") / _PACK_BUDGET))
        .groupBy("shard", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("fill"))
    )
    return b.groupBy("shard").agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.round(F.avg("fill"), 2).alias("avg_fill"),
        F.max("n_docs").alias("max_docs_per_bin"),
    )


_VOCAB_SQL = """
    WITH words AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    w2 AS (SELECT * FROM words WHERE word <> ''),
    vocab AS (
      SELECT word FROM w2 GROUP BY word
      ORDER BY count(*) DESC, word LIMIT 100
    ),
    per_doc AS (
      SELECT w2.doc_id, w2.lang,
             count(*) AS n_words,
             sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM w2 LEFT JOIN vocab ON w2.word = vocab.word
      GROUP BY w2.doc_id, w2.lang
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           round(avg(n_oov * 1.0 / n_words), 6) AS avg_oov_ratio,
           round(sum(n_oov) * 1.0 / sum(n_words), 6) AS corpus_oov_ratio
    FROM per_doc GROUP BY lang
"""


@q("vocab_oov_coverage", _VOCAB_SQL)
def vocab_oov_coverage(spark, sf_dir):
    """Tokenizer-health check: out-of-vocabulary rate per language
    against a frequency-derived vocab (top-100 corpus words,
    deterministic count-then-word ordering). The vocab is an aggregate
    of the corpus itself — two passes, with the tiny vocab BROADCAST
    into the coverage join (at 100 TB the vocab stays KBs no matter the
    corpus; the explode never joins corpus x corpus). Per-doc OOV
    counts re-aggregate to per-lang averages."""
    words = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("wn"))
        .orderBy(F.desc("wn"), "word")
        .limit(100)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg(F.col("n_oov") / F.col("n_words")), 6).alias("avg_oov_ratio"),
        F.round(F.sum("n_oov") / F.sum("n_words"), 6).alias("corpus_oov_ratio"),
    )


# =========================================================================
# dynamic partition pruning over a partitioned fact layout
# =========================================================================

_DPP_SQL = """
    WITH dim(event_type, category) AS (VALUES
      ('click', 'engagement'), ('view', 'engagement'),
      ('purchase', 'conversion'), ('signup', 'conversion'),
      ('error', 'ops'))
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.category = 'engagement'
    GROUP BY e.event_type
"""


@q("dpp_partitioned_join", _DPP_SQL)
def dpp_partitioned_join(spark, sf_dir):
    """Dynamic partition pruning: the fact side is a Hive-partitioned
    layout (partitionBy(event_type)) and the filter lives on the DIM
    side only — at plan time no static partition filter exists, so
    Catalyst injects a DynamicPruning subquery that reuses the dim's
    broadcast to prune fact PARTITIONS at runtime (plan-asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    scanning two event-type directories and scanning all of them when
    the selective predicate arrives via a join rather than a literal.
    The fixture is rewritten per call — testdata regenerates across
    driver rounds, so a cached layout could go stale."""
    path = _TMP / f"dpp_events_{Path(sf_dir).name}"
    (
        _t(spark, sf_dir, "events")
        .repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(str(path))
    )
    fact = spark.read.parquet(str(path))
    dim = spark.createDataFrame(
        [
            ("click", "engagement"), ("view", "engagement"),
            ("purchase", "conversion"), ("signup", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    return (
        fact.join(dim.filter(F.col("category") == "engagement"), "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# =========================================================================
# Python DataSource scan (Spark 4 API) — S1/S4 as a pluggable source
# =========================================================================

_PYDS_SQL = """
    SELECT CAST(range AS BIGINT) AS id,
           'row_' || range AS name,
           round(range * 1.5, 2) AS value
    FROM range(100)
"""


@q("http_pyds_scan", _PYDS_SQL)
def http_pyds_scan(spark, sf_dir):
    """The reference's HTTP-API extract as a REGISTERED Python
    DataSource (Spark 4 API, sources/pyds.py): each param set becomes
    an InputPartition, so rendering+fetching runs partition-parallel on
    executors and rows stream out through Arrow — the scale shape for
    thousands of parameterized calls, vs the driver-side
    createDataFrame landing of http_api_extract. Template validation
    fails the job driver-side before any request. Four param sets
    cover ids 0..99 in 25-row pages; deterministic stub transport (no
    network in the harness); oracle regenerates from range()."""
    import json as _json

    from etl_mini_spark.sources.pyds import HttpApiDataSource

    spark.dataSource.register(HttpApiDataSource)
    templates = {
        "export": {
            "url": "stub://export/{TABLE}?n={N}&start={START}",
            "headers": {"Authorization": "Bearer {TOKEN}"},
            "method": "GET",
        }
    }
    param_sets = [
        {"TABLE": "events", "N": "25", "START": str(s), "TOKEN": "tok0"}
        for s in (0, 25, 50, 75)
    ]
    return (
        spark.read.format("http_api")
        .schema("id long, name string, value double")
        .option("templates", _json.dumps(templates))
        .option("template_key", "export")
        .option("param_sets", _json.dumps(param_sets))
        .option("transport", "stub_export")
        .load()
    )
