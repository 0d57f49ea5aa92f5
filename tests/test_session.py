"""session.static_plan: a small read runs as one static Spark plan whose
shuffle partitions come from its scanned bytes; anything else keeps AQE."""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE, run_in_job_group


@contextmanager
def confs(spark, **values):
    saved = {k: spark.conf.get(k, None) for k in values}
    for k, v in values.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def _shuffle_partitions(df) -> set[int]:
    return {int(n) for n in re.findall(r"hashpartitioning\(.*, (\d+)\)", _plan(df).toString())}


@pytest.mark.parametrize("name, jobs", [("scan_checksum", 1), ("join_star_dims", 3)])
def test_small_registry_read_collects_in_fewer_jobs(spark, name, jobs):
    """AQE ran each exchange as a job of its own (2 and 4 jobs); the
    static plan keeps only the broadcasts and the result stage."""
    from etl_mini_spark.queries import QUERIES

    QUERIES[name](spark, SF_SMOKE)  # first build infers the schemas
    df = QUERIES[name](spark, SF_SMOKE)
    assert _plan(df).getClass().getSimpleName() != "AdaptiveSparkPlanExec"
    _, collect_jobs = run_in_job_group(spark, df.collect)
    assert len(collect_jobs) == jobs


@pytest.mark.parametrize("name", ["scan_checksum", "join_star_dims"])
def test_build_and_plan_summary_run_no_job(spark, name):
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    QUERIES[name](spark, SF_SMOKE)
    summary, jobs = run_in_job_group(spark, lambda: plan_summary(QUERIES[name](spark, SF_SMOKE)))
    assert summary.scans and jobs == []


@pytest.mark.parametrize("scope", [
    {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1024"},
])
def test_plan_over_the_bound_keeps_aqe(spark, scope):
    from etl_mini_spark.queries import QUERIES

    static = sorted(QUERIES["join_star_dims"](spark, SF_SMOKE).collect())
    with confs(spark, **scope):
        df = QUERIES["join_star_dims"](spark, SF_SMOKE)
        assert _plan(df).getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        assert sorted(df.collect()) == static


def test_session_with_aqe_off_keeps_its_partitions(spark):
    from etl_mini_spark.queries import QUERIES

    with confs(spark, **{"spark.sql.adaptive.enabled": "false",
                         "spark.sql.shuffle.partitions": "5"}):
        df = QUERIES["agg_pricing_summary"](spark, SF_SMOKE)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert _shuffle_partitions(df) == {5}


def test_confs_restored_when_planning_raises(spark):
    from etl_mini_spark.session import load_table, static_plan

    before = {k: spark.conf.get(k) for k in
              ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    df = load_table(spark, SF_SMOKE, "lineitem").groupBy("l_returnflag").count()
    with pytest.raises(RuntimeError, match="planning failed"):
        with static_plan(df):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("planning failed")
    assert {k: spark.conf.get(k) for k in before} == before


def test_partitions_come_from_the_scanned_bytes(spark):
    """About 3 MB of parquet: floor(bytes / 1 MiB) shuffle partitions,
    capped at the cores (checked by shrinking minPartitionSize)."""
    import shutil

    from etl_mini_spark.session import static_plan

    path = REPO / "tmp" / "static_plan_3mb"
    shutil.rmtree(path, ignore_errors=True)
    (spark.range(400_000).select((F.col("id") % 97).alias("k"), F.rand(7).alias("v"))
     .coalesce(1).write.parquet(str(path)))
    scanned = sum(f.stat().st_size for f in path.glob("part-*"))
    assert 2 << 20 < scanned < 4 << 20
    cores = spark.sparkContext.defaultParallelism

    def planned(df):
        with static_plan(df):
            _plan(df)
        return df

    try:
        agg = spark.read.parquet(str(path)).groupBy("k").agg(F.sum("v"))
        assert _shuffle_partitions(planned(agg)) == {min(scanned >> 20, cores)}
        with confs(spark, **{"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB"}):
            agg = spark.read.parquet(str(path)).groupBy("k").agg(F.sum("v"))
            assert _shuffle_partitions(planned(agg)) == {cores}
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_subquery_tables_count_as_scanned_bytes(spark):
    """The tables a scalar subquery reads, and a subquery nested in it,
    count toward the plan's scanned bytes, beside its own leaves."""
    import os

    from etl_mini_spark.session import _scanned_bytes

    size = {t: os.path.getsize(f"{SF_SMOKE}/{t}.parquet") for t in ("customer", "nation")}
    for t in size:
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").createOrReplaceTempView(f"sub_{t}")
    df = spark.range(5).filter(F.expr(
        "id < (SELECT max(c_custkey) + (SELECT max(n_nationkey) FROM sub_nation) FROM sub_customer)"))
    assert _scanned_bytes(df._jdf.queryExecution().optimizedPlan()) == 5 * 8 + sum(size.values())
