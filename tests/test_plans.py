"""Physical-plan property tests — scale behavior asserted, not eyeballed:
pushdown reaches the scan, dims broadcast, bucketing kills the shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE

TMP = REPO / "tmp" / "planruns"


def test_time_range_predicate_reaches_scan(spark):
    from datetime import datetime

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.sources.readers import read_parquet_ts_range

    df = read_parquet_ts_range(
        spark, f"{SF_SMOKE}/events.parquet", "ts",
        start=datetime(2024, 1, 10), end=datetime(2024, 1, 20),
    ).groupBy("event_type").count()
    s = plan_summary(df)
    ev = [sc for sc in s.scans if "events" in (sc["path"] or "")]
    assert ev and "GreaterThanOrEqual(ts" in ev[0]["pushed_filters"], s.text


def test_star_join_broadcasts_dims(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["join_star_dims"](spark, SF_SMOKE))
    assert s.joins.count("BroadcastHashJoin") >= 2, s.joins
    assert "SortMergeJoin" not in s.joins


def test_scan_prunes_columns(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.session import load_table

    df = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    s = plan_summary(df)
    schema = s.scans[0]["read_schema"]
    assert "l_orderkey" in schema and "l_comment" not in schema, schema


def test_bucketed_join_has_no_shuffle(spark):
    import shutil

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.session import load_table
    from etl_mini_spark.sources.writers import write_bucketed

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, "b_orders", ["o_custkey"], num_buckets=8, sort_cols=["o_custkey"])
    write_bucketed(c, "b_customer", ["c_custkey"], num_buckets=8, sort_cols=["c_custkey"])
    # disable broadcast so the join must pick a key-distribution strategy
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        s = plan_summary(j)
        assert s.n_exchanges == 0, s.text  # bucket co-location replaces the shuffle
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


@pytest.mark.usefixtures("large_reads")
def test_agg_does_partial_aggregation(spark):
    """Moment/histogram aggregates must map-side combine: two
    HashAggregate levels around exactly one shuffle, so the exchange
    carries #groups rows, not #input rows — the property that keeps
    these scan-bound at 100 TB."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    for name in ("agg_histogram", "agg_stats_suite"):
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert s.text.count("HashAggregate") >= 2, (name, s.text)
        assert s.n_exchanges - s.n_broadcast_exchanges == 1, (name, s.text)


def test_near_dup_plans_never_cross_join(spark):
    """The LSH/inverted-index dedup paths exist to avoid the O(n²)
    pair join — assert no plan ever falls back to a cartesian or
    nested-loop join (which would OOM at corpus scale)."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "embedding_near_dups_lsh"):
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_hyperplane_lsh_pins_corpus_once(spark):
    """embedding_near_dup_pairs_lsh references its corpus three times
    (signature pass + both verify sides) and probes it twice for
    sizing — the operator pins it up front, so the final plan must
    read the pinned blocks, never re-run the upstream lineage (here:
    re-scan the parquet). A scan in the plan means the pin regressed
    and the corpus would be read 5x per call (r19 optimization)."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["embedding_near_dups_lsh"](spark, SF_SMOKE))
    assert not s.scans, s.text[:2000]


def test_percentile_scan_prunes_to_two_columns(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["agg_percentiles"](spark, SF_SMOKE))
    schema = s.scans[0]["read_schema"]
    assert "event_type" in schema and "value" in schema, schema
    assert "props" not in schema and "user_id" not in schema, schema


def test_sql_q10_topk_avoids_global_sort(spark):
    """ORDER BY ... LIMIT must compile to TakeOrderedAndProject
    (per-partition top-k + merge), never a full global Sort."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_q10_returned"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in s.text, s.text
    assert "CartesianProduct" not in s.joins


def test_sql_q5_no_cartesian_dims_broadcast(spark):
    """The 6-way Q5 join must resolve every edge as a hash join (the
    same-nation condition rides the supplier join, it must not fall
    back to a nested-loop/cartesian plan)."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_q5_local_volume"](spark, SF_SMOKE))
    assert "CartesianProduct" not in s.joins and "BroadcastNestedLoopJoin" not in s.joins
    assert s.joins.count("BroadcastHashJoin") >= 3, s.joins


def test_sql_exists_compiles_to_semi_join(spark):
    """Correlated EXISTS must be decorrelated into a left-semi hash
    join, not executed per-row."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_exists_urgent"](spark, SF_SMOKE))
    assert "LeftSemi" in s.text, s.text


def test_simhash_no_nested_loop_join(spark):
    """dedup_simhash candidate generation must be the block-bucket LSH
    join — an O(n²) BroadcastNestedLoopJoin anywhere in the plan means
    the all-pairs path crept back (VERDICT r01 §wrong item 3)."""
    from etl_mini_spark.queries import QUERIES

    plan = QUERIES["dedup_simhash"](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.usefixtures("large_reads")
def test_order_by_hash_no_single_partition_exchange(spark):
    """The ordering checksum must aggregate per day-segment first; only
    the tiny per-day-hash rollup may funnel to one partition. The r01
    version collect_list'ed EVERY row into one task."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["order_by_hash"](spark, SF_SMOKE))
    # day-level partial aggregation present => rows shuffle on day, not to 1
    assert "day" in s.text and "hashpartitioning" in s.text.lower(), s.text


def test_approx_distinct_within_tolerance(spark):
    """agg_approx_distinct is rows-only for the driver (HLL++ can't
    hash-match an exact oracle) — pin its quality here instead:
    relative error vs exact COUNT(DISTINCT) within 5% (rsd=0.02)."""
    from etl_mini_spark.queries import QUERIES
    from etl_mini_spark.session import load_table

    approx = QUERIES["agg_approx_distinct"](spark, SF_SMOKE).collect()[0]
    e = load_table(spark, SF_SMOKE, "events")
    ex = e.agg(
        F.countDistinct("user_id").alias("u"), F.countDistinct("event_type").alias("t")
    ).collect()[0]
    assert abs(approx["approx_users"] - ex["u"]) / ex["u"] <= 0.05
    assert abs(approx["approx_types"] - ex["t"]) / ex["t"] <= 0.05


def test_funnel_single_user_shuffle(spark):
    """funnel_conversion must compute next-purchase with ONE window
    pass (shuffle on user_id) — a self-join would show a second join
    exchange."""
    from etl_mini_spark.queries import QUERIES

    plan = QUERIES["funnel_conversion"](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_resample_grid_join_broadcasts(spark):
    """The resample grid (days × keys) is tiny — its join against the
    per-day aggregate must broadcast, never sort-merge."""
    from etl_mini_spark.queries import QUERIES

    plan = QUERIES["timeseries_resample_fill"](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan


def test_ngram_jaccard_pair_generation_is_join_free(spark):
    """near_dup_pairs_ngram_jaccard's candidate generation must contain
    NO join of any strategy: the round-18 bucket-expansion rewrite
    (collect postings per shingle, expand ordered pairs inside each
    bucket — the near_dup_pairs_minhash_lsh shape) replaced the postings
    self-join that re-evaluated the shingle-UDF lineage 3-4x and whose
    stats-less lineage once tipped Catalyst into a catastrophic
    broadcast (measured 358 s+ vs 8.6 s). No join in the plan ⇒ neither
    the recompute nor the broadcast failure mode can come back."""
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_ngram_bucket_cap_filters_before_collect(spark):
    """The max_bucket_size cap must be applied BELOW the collect_list
    aggregate (a count window + row filter), so an over-cap
    stopword-grade shingle is dropped row-by-row through the window's
    SPILLABLE buffer and never materializes its full posting list
    inside one aggregation buffer (r18 ADVICE: the old shape collected
    first and size-filtered after — a multi-GB single-array hazard at
    100 TB). Pin: in the executed plan, the window count over shingle
    and its __bn filter sit strictly below the ObjectHashAggregate
    that builds `ds`. Semantics pin: an over-cap bucket contributes no
    pairs, identical to the old post-collect filter."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.dedup import near_dup_pairs_ngram_jaccard

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)]
        + [(10, "zeta eta theta iota"), (11, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    out = near_dup_pairs_ngram_jaccard(
        docs, "doc_id", "text", n=3, threshold=0.5, max_bucket_size=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    i_filter = plan.find("__bn")
    i_collect = plan.find("collect_list")
    assert i_filter != -1 and i_collect != -1, plan
    # toString prints operators top-down: the filter's column must
    # appear AFTER (= physically below) the collect aggregate
    assert i_collect < i_filter, plan
    # the 5-doc alpha-beta bucket (> cap 4) must yield no pairs; the
    # 2-doc zeta bucket survives
    got = {(r["d1"], r["d2"]) for r in out.collect()}
    assert got == {(10, 11)}, got


def test_bucketed_join_no_shuffle(spark):
    """bucketed_join_roundtrip: with both tables bucketed(8) on the
    join key and broadcast disabled (the 100 TB fact⋈fact shape), the
    SortMergeJoin must consume the buckets directly — the ONLY exchange
    in the plan is the final groupBy's, not the join's."""
    import re

    from etl_mini_spark.queries import QUERIES

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            QUERIES["bucketed_join_roundtrip"](spark, SF_SMOKE)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan, plan
        n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n_ex == 1, f"join should ride bucket co-location; saw {n_ex} exchanges"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_containment_no_forced_broadcast(spark):
    """minhash_containment shares the sized-postings inverted-index plan
    with ngram Jaccard: set sizes ride the postings, so no O(corpus)
    per-doc table is ever hint-broadcast or joined back."""
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["minhash_containment"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    import re

    hints = re.findall(r"ResolvedHint \(strategy=(\w+)\)", analyzed)
    assert all("broadcast" not in h.lower() for h in hints), hints


def test_range_bucket_join_is_hash_not_nested_loop(spark):
    """The fixed-width range→equi rewrite must plan a BroadcastHashJoin;
    the naive range predicate would be a BroadcastNestedLoopJoin that
    evaluates every bucket per row — the difference between O(rows) and
    O(rows × buckets) at 100 TB."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["range_bucket_join"](spark, SF_SMOKE))
    assert any("BroadcastHashJoin" in j for j in s.joins), s.joins
    assert not any("NestedLoop" in j or "Cartesian" in j for j in s.joins), s.joins


@pytest.mark.usefixtures("large_reads")
def test_interval_overlap_single_shuffle(spark):
    """The +1/-1 sweep: union → window(event_type) → groupBy(event_type)
    must pay exactly ONE exchange — the groupBy reuses the window's
    partitioning. (The self-theta-join formulation it replaces would be
    quadratic.)"""
    import re

    from etl_mini_spark.queries import QUERIES

    plan = (
        QUERIES["interval_overlap_agg"](spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_ex == 1, f"expected 1 hash exchange, saw {n_ex}:\n{plan}"


@pytest.mark.usefixtures("large_reads")
def test_sessionize_single_shuffle(spark):
    """sessionize: the groupBy(key, session_idx) must reuse the window's
    hashpartitioning(key) — exactly ONE exchange in the whole plan. A
    second exchange would double the shuffle volume of every batch
    sessionization at 100 TB."""
    import re

    from etl_mini_spark.queries import QUERIES

    df = QUERIES["sessionize_events"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_text_repetition_no_forced_broadcast(spark):
    """repetition_metrics joins two O(corpus) per-doc tables on doc_id —
    neither side may carry a broadcast hint (AQE decides at runtime)."""
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["text_repetition"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_funnel_timeouts_no_forced_broadcast(spark):
    """funnel_with_timeouts' step tables are O(|users|) events-derived
    aggregates — NOT bounded — so no broadcast may be forced on them
    (round-7 verdict: a forced broadcast there is a driver-OOM risk at
    100x users). The joins stay keyed equi joins; AQE may still choose
    broadcast at runtime when a step table is actually small."""
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["funnel_with_timeouts"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_item_item_cosine_no_forced_broadcast(spark):
    """item_item_cosine_topk's norm table is catalog-cardinality (one
    row per part, lineitem-derived) — NOT bounded — so no broadcast may
    be forced on it (round-9 verdict, same rule as the r6/r7 funnel
    fixes: a forced broadcast of an unbounded table is a driver-OOM
    risk at 100x catalog). AQE may still choose broadcast at runtime
    when the measured size allows."""
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["item_item_cosine_topk"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_q6_predicates_reach_scan(spark):
    """TPC-H Q6 is THE pushdown benchmark: date, discount, and quantity
    predicates must all reach the parquet scan, leaving a single
    scan+agg plan with no shuffle wider than one double."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["sql_q6_forecast"](spark, SF_SMOKE)
    s = plan_summary(df)
    li = [sc for sc in s.scans if "lineitem" in (sc["path"] or "")]
    assert li, s.text
    pushed = li[0]["pushed_filters"]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_decontaminate_broadcasts_bench_side(spark):
    """The benchmark shingle set must broadcast — the corpus-side
    shingle explode may not shuffle before the join."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["decontaminate_13gram"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s.joins, s.joins
    assert "SortMergeJoin" not in s.joins, s.joins


def test_corpus_idf_total_is_broadcast_not_shuffled(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["corpus_idf"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in s.joins or "BroadcastHashJoin" in s.joins, s.joins
    assert "CartesianProduct" not in s.text


def test_q19_disjunctive_implications_pushed(spark):
    """Catalyst must derive single-table filters from the cross-table
    disjunction and land them on BOTH scans."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_q19_disjunctive"](spark, SF_SMOKE))
    li = [sc for sc in s.scans if "lineitem" in (sc["path"] or "")]
    pt = [sc for sc in s.scans if "part.parquet" in (sc["path"] or "")]
    assert li and "l_quantity" in li[0]["pushed_filters"], li
    assert pt and "p_brand" in pt[0]["pushed_filters"], pt
    # derived implication, not just the raw OR: p_size upper bound reached the scan
    assert "p_size" in pt[0]["pushed_filters"]


def test_q18_semi_join_and_topk(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_q18_large_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in s.text, "LIMIT should not be a global sort"


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """With runtime filters on, a selective dim filter must inject a
    bloom-filter `might_contain` predicate on the fact side of a
    shuffle join — the map-side pruning that saves the shuffle at
    scale."""
    from etl_mini_spark.session import enable_runtime_filters, load_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        enable_runtime_filters(spark)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, SF_SMOKE, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt and "bloom_filter_agg" in opt, opt[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")


def test_tpch_registry_queries_inject_bloom_filters(spark):
    """The TPC-H registry entries enable runtime bloom filters
    themselves (session.enable_runtime_filters inside the query fn), so
    at cluster scale — where the fact joins are shuffle joins — the
    selective dim side seeds a might_contain probe filter on the fact
    scan. Broadcast threshold is forced down to reproduce the
    shuffle-join shape locally; Q18 is excluded by design (its semi
    side is aggregate-defined, not filter-seeded — no injection)."""
    from etl_mini_spark.queries import QUERIES

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ["sql_q5_local_volume", "sql_q10_returned", "sql_q3_shipping"]:
            df = QUERIES[name](spark, SF_SMOKE)
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in opt and "bloom_filter_agg" in opt, (
                f"{name}: no runtime bloom filter in optimized plan"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")


def test_geo_and_levenshtein_bucketed_rewrites_are_equi_joins(spark):
    """geo_radius_pairs and dedup_levenshtein_blocked claim (docstrings)
    that their range predicates are rewritten onto grid/band EQUI keys.
    Assert it physically: the candidate join is a hash-partitioned equi
    join, never a CartesianProduct, and the only nested-loop joins in
    the plan are the broadcast explodes of the constant offset frames
    (3x3 grid neighborhood / 3 length-band copies) — bounded-size build
    sides by construction, never data x data."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    # name -> max BNLJ allowed (geo builds its 3x3 offsets via an extra
    # tiny range x range cross; levenshtein has a single 3-row explode)
    for name, max_bnlj in (("geo_radius_pairs", 2), ("dedup_levenshtein_blocked", 1)):
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        equi = [j for j in s.joins
                if j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")]
        assert equi, (name, s.joins)
        assert s.joins.count("BroadcastNestedLoopJoin") <= max_bnlj, (name, s.joins)


@pytest.mark.usefixtures("large_reads")
def test_asof_forward_single_data_shuffle(spark):
    """Both as-of directions must keep the single-shuffle union-sort
    shape: exactly one hash Exchange over the unioned data (plus
    nothing else) — no join-back, no extra sort-merge exchanges."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    for name in ("join_asof_forward", "join_asof_last_order"):
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert s.n_exchanges - s.n_broadcast_exchanges == 1, (name, s.text)
        assert "CartesianProduct" not in s.joins, (name, s.joins)


def test_seq_packing_single_shard_shuffle(spark):
    """Per-shard packing must shuffle ONCE on the shard key; the window
    cumsum, the bin grouping, and the shard rollup all reuse that
    partitioning (bin/shard aggregations are shard-prefixed)."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["seq_packing_bins"](spark, SF_SMOKE))
    assert s.n_exchanges - s.n_broadcast_exchanges <= 2, s.text
    assert "CartesianProduct" not in s.joins and "BroadcastNestedLoopJoin" not in s.joins


def test_dpp_partitioned_join_prunes_at_runtime(spark):
    """The partitioned-fact x filtered-dim join must carry a
    DynamicPruning subquery on the fact scan's partition filters —
    runtime partition pruning, not a full-layout scan."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["dpp_partitioned_join"](spark, SF_SMOKE))
    assert "dynamicpruning" in s.text.lower(), s.text
    assert "CartesianProduct" not in s.joins


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: a celebrity key that melts one reducer
    must be SPLIT by AQE's skew-join rule (SortMergeJoin(skew=true) +
    AQEShuffleRead skewed in the executed plan). This is the engine's
    default answer to join skew; salted_join covers the cases AQE
    can't (documented in operators/joins.py). Thresholds are lowered
    to reproduce the 100 TB condition at test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(1))
            .otherwise(F.col("id") % 500 + 2)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pl"),
        )
        right = spark.range(600).select(
            (F.col("id") + 1).alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k")
        assert j.count() > 0  # count() is fine to force execution, but the
        j.collect()           # executed ADAPTIVE plan lives on j's own execution
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
        # reader node prints "skewed" (possibly "coalesced and skewed")
        assert any(
            "AQEShuffleRead" in l and "skewed" in l for l in plan.splitlines()
        ), plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_udf_inlines_into_codegen(spark):
    """Spark 4 SQL-defined functions must cost NOTHING at plan time:
    Catalyst inlines the body, so the executed plan has no Python
    evaluation node at all and the aggregate sits inside
    WholeStageCodegen — the property that makes a SQL UDF the right
    reusable-logic vehicle at 100 TB (vs a row-at-a-time Python UDF
    that breaks every codegen span it touches)."""
    from etl_mini_spark.queries import QUERIES

    plan = (
        QUERIES["sql_udf_scalar"](spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan[:2000]
    # the UDF bodies are literally inlined: the arithmetic appears as a
    # plain Project expression, the aggregate is partial (map-side
    # combine), and column pruning still reached the scan — none of
    # which survives an opaque-function boundary
    assert "* (1.0 - l_discount" in plan, plan[:2000]
    assert "partial_count" in plan or "partial_sum" in plan, plan[:2000]
    assert "l_comment" not in plan, plan[:2000]


def test_tfidf_pairs_all_joins_keyed(spark):
    """The TF-IDF postings self-join must stay a keyed (hash/sort-merge)
    join on the token — any NestedLoop/Cartesian here means the plan
    degenerated to all-pairs, which is exactly what the inverted-index
    formulation exists to avoid at corpus scale."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["similarity_tfidf_pairs"](spark, SF_SMOKE))
    # downstream of the once-materialized postings list, every join is
    # keyed; no all-pairs node anywhere
    assert not any("NestedLoop" in j or "Cartesian" in j for j in s.joins), s.joins
    assert any(
        "SortMergeJoin" in j or "ShuffledHashJoin" in j or "BroadcastHashJoin" in j
        for j in s.joins
    ), s.joins


@pytest.mark.usefixtures("large_reads")
def test_repeated_spans_two_exchanges(spark):
    """Repeated-span dedup is two keyed shuffles by construction —
    span-hash (global frequency window) then doc_id (rollup). A third
    exchange would mean the window's partitioning isn't being derived
    correctly and the corpus pays an extra full pass at scale."""
    import re

    from etl_mini_spark.queries import QUERIES

    plan = (
        QUERIES["dedup_repeated_spans"](spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_ex == 2, f"expected 2 hash exchanges, saw {n_ex}:\n{plan}"


def test_snapshot_diff_full_outer_no_nested_loop(spark):
    """The snapshot diff must plan ONE FullOuter sort-merge join on the
    key — nested-loop anywhere means the classifier would be quadratic
    in snapshot size."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    df = QUERIES["snapshot_table_diff"](spark, SF_SMOKE)
    s = plan_summary(df)
    assert s.joins == ["SortMergeJoin"], s.joins
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan[:2000]


# --- round-7 pending batch 2: scale shapes -----------------------------------


@pytest.mark.usefixtures("large_reads")
def test_budget_cap_window_is_shard_partitioned(spark):
    """budget_cap's whole point is that the big cumsum window partitions
    by (group, shard) — 256-way parallel per group — not by group alone.
    Assert the plan pays a hashpartitioning exchange that includes the
    shard column, and that SOME window runs on the (group, shard) key."""
    import re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.operators.sampling import budget_cap
    from etl_mini_spark.session import load_table

    d = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "doc_id", F.length("text").alias("wt")
    )
    s = plan_summary(budget_cap(d, ["lang"], "wt", 10_000, "doc_id"))
    assert re.search(r"hashpartitioning\(lang#\d+, __shard#\d+", s.text), s.text[-2000:]


def test_sliding_distinct_has_no_range_join(spark):
    """The trailing-7d distinct rewrite must plan as explode + keyed
    aggregation — never the naive range join (BroadcastNestedLoop /
    Cartesian) the oracle runs."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sliding_distinct_users_7d"](spark, SF_SMOKE))
    assert not any(j in ("BroadcastNestedLoopJoin", "CartesianProduct") for j in s.joins), s.joins
    assert "Generate explode" in s.text


def test_transition_matrix_is_join_free(spark):
    """The Markov matrix needs one user-window pass + two tiny windows/
    aggs — a join anywhere means the rewrite regressed to the pair-join
    formulation."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["event_transition_matrix"](spark, SF_SMOKE))
    assert s.joins == [], s.joins


def test_inverted_index_joins_are_keyed(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["text_inverted_index"](spark, SF_SMOKE))
    assert s.joins and not any(
        j in ("BroadcastNestedLoopJoin", "CartesianProduct") for j in s.joins
    ), s.joins


def test_skipgram_is_join_free(spark):
    """Skip-gram pairs must come from per-row array math — a join in
    the plan means the positional self-join (the oracle's naive form)
    leaked into the Spark side."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["corpus_skipgram_pairs"](spark, SF_SMOKE))
    assert s.joins == [], s.joins


def test_stickiness_has_no_range_join(spark):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["dau_mau_stickiness"](spark, SF_SMOKE))
    assert not any(j in ("BroadcastNestedLoopJoin", "CartesianProduct") for j in s.joins), s.joins


def test_tpch_suite_no_cartesian_and_keyed_joins(spark):
    """Blanket audit of all 22 TPC-H registry queries (+ EXISTS/scalar
    variants): no CartesianProduct anywhere; BroadcastNestedLoopJoin
    only where the joined side is a 1-row scalar aggregate (Q11's
    global-value threshold, Q20's scale-free quantity cutoff) — a
    1-row broadcast is a constant, not a quadratic join. Any new
    nested-loop node in a future edit fails here before it ships."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    ONE_ROW_SCALAR_OK = {"sql_q11_important_stock", "sql_q20_promo_suppliers"}
    for name in sorted(QUERIES):
        if not name.startswith("sql_q"):
            continue
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in ONE_ROW_SCALAR_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_pending_tier_no_cartesian_blanket(spark):
    """Blanket audit of EVERY pending query's physical plan: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in the
    entries whose crossJoin side is a 1-row scalar aggregate (corpus
    size, grand totals, funnel stage counts, audit counters) — a 1-row
    broadcast is a constant, not a quadratic join. New pending entries
    with an unlisted nested-loop fail here before staging."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    src = open("etl_mini_spark/queries/round7_ops.py").read()
    ROUND7 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    ONE_ROW_SCALAR_OK = {
        "basket_rules_lift",        # grand order count
        "benford_first_digit",      # grand total
        "doc_keywords_tfidf_topk",  # corpus size
        "funnel_with_timeouts",     # three stage counters
        "mixture_temperature_weights",  # global weight sum
        "pareto_revenue_curve",     # revenue total
        "split_leakage_safe",       # cross-split audit counter
        "survival_kaplan_meier",    # observation-end scalar
        # bitmask route's distinct-mask pair join: the broadcast side
        # is cap-asserted <= 32768 distinct masks (bounded by
        # construction; raises the MinHash swap rule beyond it)
        "setjoin_prefix_filter",
    }
    for name in ROUND7:
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in ONE_ROW_SCALAR_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round9_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of every round-9 query: no
    CartesianProduct anywhere; BroadcastNestedLoopJoin only where the
    crossJoin side is a 1-row scalar aggregate (grand totals, global
    watermarks, contingency dimensions) or the 4-row lag literal in
    the ACF probe — bounded constants, not quadratic joins."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    src = open("etl_mini_spark/queries/round9_ops.py").read()
    ROUND9 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND9) == 24
    ONE_ROW_SCALAR_OK = {
        "chi_square_cramers_v",        # (kx, ky) dims row
        "mutual_information_discrete", # marginal-entropy rows
        "brier_calibration_bins",      # grand (sq_tot, n_tot)
        "heavy_hitters_mg",            # total token count
        "dq_freshness_sla",            # global watermark
        "seasonal_weekday_index",      # overall daily average
        "token_pmi_bigrams",           # unigram/bigram grand totals
        "acf_hourly_lags",             # 4-row lag literal × hourly agg
        "calendar_spine_fill",         # 1-row (d0, d1) bounds explode
    }
    for name in ROUND9:
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in ONE_ROW_SCALAR_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round11_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-11 tier (same contract
    as the round-7/9/10 blankets; stays on after registration): no
    CartesianProduct; BroadcastNestedLoopJoin only where the crossJoin
    side is a bounded scalar/literal (1-row totals, divisor
    cardinalities, tie-correction scalars)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    src = open("etl_mini_spark/queries/round11_ops.py").read()
    ROUND11 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND11) == 32
    SKIP_SIDE_EFFECTS = {"stream_mg_incremental"}  # runs a streaming job first
    ROUND11 = [n for n in ROUND11 if n not in SKIP_SIDE_EFFECTS]
    ONE_ROW_SCALAR_OK = {
        "kendall_tau_daily",            # 1-row nc/nd, n, tie scalars
        "kruskal_wallis_h",             # 1-row tie-cubes scalar
        "largest_remainder_allocation", # 1-row total broadcast
        "hour_of_week_heatmap",         # 1-row total broadcast
        "relational_division",          # 1-row divisor cardinality
        "sql_keyset_pagination",        # 1-row anchor broadcast
    }
    for name in ROUND11:
        s = plan_summary(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in ONE_ROW_SCALAR_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round10_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-10 tier (same contract
    as the round-7/9 blankets, re-run against the registered form):
    no CartesianProduct; BroadcastNestedLoopJoin only where the
    crossJoin side is a bounded scalar/literal (grand totals, tie
    sums, fitted stats, 3-row threshold literals)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING_QUERIES

    src = open("etl_mini_spark/queries/round10_ops.py").read()
    ROUND10 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND10) == 40
    SKIP_SIDE_EFFECTS = {"stream_holt_incremental"}  # runs a streaming job; plan is a plain output scan
    ROUND10 = [n for n in ROUND10 if n not in SKIP_SIDE_EFFECTS]
    ONE_ROW_SCALAR_OK = {
        "mann_whitney_u",              # 1-row tie-correction aggregate
        "durbin_watson_autocorr",      # 1-row denominator aggregate
        "confusion_matrix_thresholds", # 3-row threshold literal
        "feature_hash_collision_audit",# 1-row max-load aggregate
        "bm25_topk_docs",              # 1-row corpus stats
        "price_volume_mix_decomp",     # scalar effect totals
        "partition_skew_advisor",      # 1-row reduction
        "holt_linear_trend",           # trivially join-free; listed for clarity
        "wow_movers_topk",             # 1-row last-week scalar
        "runs_test_wald_wolfowitz",    # 1-row median scalar
        "ljung_box_q",                 # 7-row lag literal + 1-row totals
        "gaps_islands_order_days",     # 1-row census scalars
        "embedding_angle_histogram",   # non-equi pair join over the BOUNDED broadcast sample
        "corpus_source_divergence",    # vocab-sized (~31-row) grid broadcast
    }
    for name in ROUND10:
        s = plan_summary(PENDING_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in ONE_ROW_SCALAR_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_distinct_on_uses_window_group_limit(spark):
    """sql_distinct_on's docstring claims the row_number rewrite gets
    Spark's WindowGroupLimit pushdown (top-1 per key pruned BEFORE the
    full sort materializes) — pin it so a refactor can't silently lose
    the optimization."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["sql_distinct_on"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in s.text


def test_heavy_hitters_token_stream_never_shuffles_raw(spark):
    """heavy_hitters_mg's contract: the raw token stream reaches the
    Misra-Gries sketch with NO exchange upstream (map-side summaries),
    candidates join back via broadcast (no SortMergeJoin anywhere),
    and the final recount aggregates partially before its exchange."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    s = plan_summary(QUERIES["heavy_hitters_mg"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in s.joins and "CartesianProduct" not in s.joins, s.joins
    assert s.n_broadcast_exchanges >= 1  # candidate set broadcasts
    # the sketch node's direct input chain (lines under MapInPandas up to
    # the file scan) must be exchange-free: tokens are summarized in place
    lines = s.text.splitlines()
    i = next(i for i, l in enumerate(lines) if "MapInPandas" in l)
    j = next(j for j in range(i, len(lines)) if "FileScan" in lines[j])
    assert not any("Exchange" in l for l in lines[i:j]), "\n".join(lines[i:j])


def test_round12_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-12 tier (same contract
    as the round-7..11 blankets, re-run against the REGISTERED form):
    no CartesianProduct; BroadcastNestedLoopJoin only where the
    non-equi/cross side is bounded by construction — 1-row moment
    scalars, calendar-bounded day/month grids, fixed threshold/size
    grids, or pair tables of PRE-AGGREGATED series (never the fact
    table)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING_QUERIES

    src = open("etl_mini_spark/queries/round12_ops.py").read()
    ROUND12 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND12) == 39
    SKIP_SIDE_EFFECTS = {"stream_rsi_incremental"}  # runs a streaming job first
    ROUND12 = [n for n in ROUND12 if n not in SKIP_SIDE_EFFECTS]
    BOUNDED_NONEQUI_OK = {
        "friedman_test_blocks",       # day x type grid + 1-row scalars
        "cliffs_delta_effect",        # calendar^2 pair grid of day aggs
        "jonckheere_terpstra_trend",  # month-grid g1<g2 pairs + 1-row scalars
        "pettitt_changepoint",        # calendar^2 pair grid + range join
        "grubbs_max_outlier",         # 1-row moments broadcast
        "chow_structural_break",      # 1-row scalars
        "theil_inequality_index",     # 1-row total broadcast
        "xmr_control_chart",          # 1-row moments broadcast
        "hurst_rescaled_range",       # 3-size grid + 1-row slope scalar
        "xyz_volatility_classes",     # brand x month grid fill
        "croston_intermittent",       # bucket x day grid fill
        "equi_depth_histogram",       # 1-row n broadcast (NTILE fill rule)
        "quantile_disc_parity",       # 1-row n + 5-row rank grid
        "decision_stump_gain",        # 7-row threshold grid broadcast
        "pacf_durbin_levinson",       # 1-row moments + 3-lag grid broadcast
        "pages_l_trend",              # month x priority grid + 1-row scalars
        "turning_points_test",        # 1-row moments broadcast
        "bartels_rank_vonneumann",    # 1-row moments broadcast
        "cox_stuart_trend",           # 1-row half-length broadcast
        "mean_family_suite",          # none expected; keep strict
        "orderkey_gap_audit",         # none expected; keep strict
    } - {"mean_family_suite", "orderkey_gap_audit"}
    for name in ROUND12:
        s = plan_summary(PENDING_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round13_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-13 tier (same contract
    as the round-7..12 blankets, re-run against the REGISTERED form):
    no CartesianProduct; BroadcastNestedLoopJoin only where the
    non-equi/cross side is bounded by construction — 1-row moment/rate
    scalars, fixed predicate/threshold/pair grids, bounded version or
    attempt tables, or calendar-bounded series grids (never the fact
    table)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING_QUERIES

    src = open("etl_mini_spark/queries/round13_ops.py").read()
    ROUND13 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND13) == 45
    SKIP_SIDE_EFFECTS = {
        # run streaming jobs / driver folds before the final plan
        "stream_cms_incremental", "stream_sessionize_differential",
        "stream_cdc_upsert_latest", "kalman_filter_1d",
        "irr_bisection_npv", "amortization_schedule",
    }
    BOUNDED_NONEQUI_OK = {
        "manifest_pruning_audit",      # 3-row predicate grid broadcast
        "delta_log_replay",            # version x bounded file-log join
        "bitemporal_snapshot_query",   # 4-row as-of grid broadcast
        "checkpoint_snapshot_isolation",  # 10-attempt metadata grid
        "fellegi_sunter_weights",      # 1-row rate aggregate broadcast
        "er_threshold_quality",        # 4-row threshold grid broadcast
        "bond_duration_convexity",     # 1-row face value x 10-period grid
        "gradient_boost_stumps",       # bounded (feature-value) cells x grids
        "isotonic_regression_pav",     # calendar-bounded (i,j,k) grid
        "ols_two_predictors",          # 1-row moments
        "mahalanobis_outliers_2d",     # 1-row covariance broadcast
        "pca_eigen_2d",                # 1-row covariance
        "rrf_hybrid_fusion",           # bounded top-20 rank windows
        "ndcg_graded_eval",            # bounded top-10 per probe
        "int8_quant_cosine_topk",      # broadcast probe codes (bounded)
        "matryoshka_overlap_audit",    # broadcast probes
        "ann_pq_rerank",               # broadcast probe vectors (rerank join)
        "count_min_sketch_audit",      # 20-probe x 256-cell bounded join
        "stream_cms_incremental",      # (skipped above; listed for clarity)
        "bloom_fpr_audit",             # 1-row member/bit counts broadcast
        "url_canonicalize_dedup",      # variant-grid unions, no joins
        "late_arriving_dimension",     # bounded dim-version join
        "corpus_amplified_jaccard",    # 6-row variant-pair grid broadcast
        "walk_forward_validation",     # 3-row fold grid joins
        "multimodal_decode_real",      # 8-fixture broadcast name join
        "multimodal_resize_real",      # 3-fixture broadcast name join
        "multimodal_features_real",    # 3-fixture broadcast name join
    }
    for name in ROUND13:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round14_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-14 tier (same contract
    as the round-7..13 blankets; repointed from the staging module to
    the registry at registration): no CartesianProduct;
    BroadcastNestedLoopJoin only where the non-equi/cross side is
    bounded by construction — broadcast probe sets, 1-row scalar
    aggregates, fixed offset/predicate grids, or catalog-sized
    manifests (never the fact table)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING_QUERIES

    src = open("etl_mini_spark/queries/round14_ops.py").read()
    ROUND14 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND14) == 46
    SKIP_SIDE_EFFECTS = {
        # driver-side bounded folds / streaming jobs before the final plan
        "ewma_volatility_riskmetrics", "loan_prepay_cpr_schedule",
        "theta_method_forecast", "compaction_nfd_bins",
        "stream_state_ttl_eviction",
    }
    BOUNDED_NONEQUI_OK = {
        "geo_knn_topk_equirect",        # broadcast bounded probe set (<> join)
        "geo_grid_density_hotspots",    # 9-row offset grid broadcast
        "sql_quantified_any_all",       # per-nation extrema broadcast (< / > join)
        "rocchio_relevance_vector",     # 1-row q0 + scalar broadcasts
        "benford_second_digit",         # 10x9 literal grid + 1-row total
        "dq_composite_key_candidates",  # 1-row count broadcast
        "markov_transition_stationary", # 1-row moments broadcast
        "sax_symbolization_paa",        # 1-row moments broadcast
        "snapshot_retention_expiry",    # 3-row snap grid + 1-row max
        "partition_spec_evolution_routing",  # cutover scalar + 3-pred grid
        "dq_column_entropy_profile",    # domain-sized histogram broadcast
        "query_likelihood_dirichlet",   # 3-term query + 1-row total broadcasts
        "weibull_median_rank_fit",      # 1-row n broadcast over the value table
        "did_difference_in_differences",  # 1-row median-day cut broadcast
        "cuped_variance_reduction",     # 1-row cut + 1-row moments
        "ab_srm_check",                 # 1-row total broadcast
        "queueing_little_law_audit",    # 1-row span x area scalars
        "emd_1d_wasserstein",           # 1-row totals broadcast
        "vwap_anchored_monthly",        # none expected; keep strict
        "window_groups_frame_parity",   # domain-sized ord-frame broadcast
    } - {"vwap_anchored_monthly"}
    for name in ROUND14:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round15_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-15 tier (same contract
    as the round-7..14 blankets; repointed from the staging module to
    the registry at registration): no CartesianProduct;
    BroadcastNestedLoopJoin only where the non-equi/cross side is
    bounded by construction."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING_QUERIES

    src = open("etl_mini_spark/queries/round15_ops.py").read()
    ROUND15 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND15) == 16
    SKIP_SIDE_EFFECTS = {
        # superstep localCheckpoints / applyInPandas state machines run
        # jobs before the final plan
        "graph_hits_hubs_authorities", "tsb_intermittent_forecast",
    }
    BOUNDED_NONEQUI_OK = {
        "map_mrr_eval",               # broadcast probe set (<> join)
        "kmv_distinct_estimate",      # 1-row n x 1-row kth-hash join
        "shapley_attribution_paths",  # 16-mask grid x <=16-mask histogram
        "forecast_error_suite",       # 5-row priority set x calendar spine
    }
    for name in ROUND15:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round16_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-16 tier (same contract
    as the round-7..15 blankets; repointed from the staging module to
    the registry at registration): no CartesianProduct;
    BroadcastNestedLoopJoin only where the non-equi/cross side is
    bounded by construction — vocabulary-sized word tables, 10-seed
    candidate grids, 1-row scalar aggregates — never the fact table."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING16_QUERIES

    src = open("etl_mini_spark/queries/round16_ops.py").read()
    ROUND16 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND16) == 16
    SKIP_SIDE_EFFECTS = {
        # bounded driver iterations (greedy argmax collects / BFS
        # supersteps) run jobs before the final plan exists
        "mmr_diverse_topk", "graph_bfs_circulant",
    }
    BOUNDED_NONEQUI_OK = {
        # avro_roundtrip: no joins at all (write action + binaryFile
        # scan); listed nowhere — stays strict.
        # damerau_dl_blocked: equi-joins on the min-length block key
        # since the r14 advice fix — deliberately NOT allowlisted.
        "ransac_integer_line",   # 10-seed pair grid + 45-candidate broadcast
        "dunns_pairwise_z",      # 5-group pair join + 1-row totals broadcast
        "krippendorff_alpha_nominal",  # 1-row scalar crossJoins
        "cronbach_alpha_items",  # 1-row scalar combine
        "seasonal_mann_kendall", # within-season year-pair join (≤C(7,2)/season)
    }
    for name in ROUND16:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING16_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round17_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-17 tier (same contract
    as the round-7..16 blankets; repointed from the staging module to
    the registry at registration): no CartesianProduct;
    BroadcastNestedLoopJoin only where the non-equi/cross side is
    bounded by construction — group-pair grids, 1-row scalar
    aggregates, decile grids — never the fact table."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING17_QUERIES

    src = open("etl_mini_spark/queries/round17_ops.py").read()
    ROUND17 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND17) == 13
    SKIP_SIDE_EFFECTS = {
        # bounded driver work (k-row collect + merge loop / vocabulary
        # count + iteration loop / star-CC supersteps) runs jobs while
        # building the final plan
        "huffman_code_lengths", "textrank_keywords", "dbscan_grid_blocked",
    }
    BOUNDED_NONEQUI_OK = {
        "tukey_kramer_hsd",       # 10-pair group self-join + 1-row MSE broadcast
        "privacy_t_closeness",    # groups x 10-decile grid + 1-row N broadcast
        "wilcoxon_signed_rank",   # 1-row totals
        "bm25f_fielded_topk",     # 1-row corpus stats broadcast (as bm25_topk_docs)
    }
    for name in ROUND17:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING17_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round18_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-18 tier (same contract
    as the round-7..17 blankets; repointed from the staging module to
    the registry at registration): no CartesianProduct;
    BroadcastNestedLoopJoin only where the non-equi/cross side is
    bounded by construction — 64-register grids, 1-row scalar
    aggregates, 6-constraint literal grids, 4-snapshot grids."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING18_QUERIES

    src = open("etl_mini_spark/queries/round18_ops.py").read()
    ROUND18 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND18) == 10
    SKIP_SIDE_EFFECTS = {
        # bounded driver work (entity collect + matching loop) runs
        # jobs while building the final plan
        "gale_shapley_stable",
    }
    BOUNDED_NONEQUI_OK = {
        "hyperloglog_md5_replay",   # 1-row n_exact broadcast over 64 registers
        "pcsa_fm_sketch",           # same shape
        "shamir_secret_reconstruct",  # scalar share/reconstruction combines
        "kuiper_two_sample",        # 1-row totals broadcast
        "lp_vertex_enumeration",    # 6x6 literal constraint grid + scalars
        "min_variance_two_asset",   # scalar moments
        "pit_table_build",          # 4-row snapshot grid broadcast
    }
    for name in ROUND18:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING18_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)


def test_round19_staged_tier_no_cartesian_blanket(spark):
    """Blanket physical-plan audit of the round-19 tier (same contract
    as the round-7..18 blankets; repointed from the staging module to
    the registry at registration)."""
    import re as _re

    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES as PENDING19_QUERIES

    src = open("etl_mini_spark/queries/round19_ops.py").read()
    ROUND19 = sorted(set(_re.findall(r'@pq\("([a-z0-9_]+)"', src)))
    assert len(ROUND19) == 8
    SKIP_SIDE_EFFECTS = {
        # bounded driver work (scalar seeds / bounded matrix / ring
        # wrap lookup) runs jobs while building the final plan
        "ar1_yule_walker", "median_polish_residuals", "consistent_hash_rebalance",
    }
    BOUNDED_NONEQUI_OK = {
        "group_sequential_obf",  # 4-look grid broadcast range join
        # storey_pi0_estimate is scalar-agg only: deliberately NOT
        # allowlisted so its plan stays BNLJ-free.
    }
    for name in ROUND19:
        if name in SKIP_SIDE_EFFECTS:
            continue
        s = plan_summary(PENDING19_QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s.joins, (name, s.joins)
        if name not in BOUNDED_NONEQUI_OK:
            assert "BroadcastNestedLoopJoin" not in s.joins, (name, s.joins)
