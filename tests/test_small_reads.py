"""A small parquet read is one declared partition
(``session.coalesce_small``): ``read_parquet`` and
``read_parquet_ts_range`` coalesce a table the size rule gives one
partition, so no aggregate, window or union above a smoke-table read
plans an exchange. Rows and their order are those of the plain scan; a
table over the bound keeps its partitions and its exchange; building a
plan for the rule, or printing it, runs no Spark job."""

from __future__ import annotations

from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, over_the_bound, run_in_job_group, stage_work

ONE_STAGE = ("scan_checksum", "join_asof_last_order", "window_session_30m")


@pytest.mark.parametrize("name", ONE_STAGE)
def test_small_query_collects_in_one_task(spark, name):
    """At sf0.001 the collect is one job of one task that shuffles no
    byte (the union-sort of the as-of join and the session window used
    to write and read back an exchange of one partition), and it
    returns the rows of the plan over the bound."""
    from etl_mini_spark.queries import QUERIES

    QUERIES[name](spark, SF_SMOKE)  # caches the tables' schemas
    rows, ids = run_in_job_group(spark, QUERIES[name](spark, SF_SMOKE).collect)
    assert (len(ids), *stage_work(spark, ids)) == (1, 1, 0), (name, ids)
    with over_the_bound(spark):
        large = QUERIES[name](spark, SF_SMOKE).collect()
    assert Counter(map(tuple, rows)) == Counter(map(tuple, large))


def test_plan_summary_of_small_queries_runs_no_job(spark):
    """Printing the one-partition plan of a built query is plan-only."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    for name in ONE_STAGE:
        df = QUERIES[name](spark, SF_SMOKE)
        s, ids = run_in_job_group(spark, lambda: plan_summary(df))
        assert ids == [], (name, ids)
        assert s.n_exchanges == 0, (name, s.text)


def test_both_readers_declare_one_partition(spark):
    """A smoke table read by either parquet reader plans as one
    partition, and the time-range bounds still reach the scan."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.sources.readers import read_parquet, read_parquet_ts_range

    path = f"{SF_SMOKE}/events.parquet"
    ranged = read_parquet_ts_range(spark, path, "ts", start=datetime(2024, 1, 10),
                                   end=datetime(2024, 1, 20))
    for df in (read_parquet(spark, path), ranged):
        plan = df._jdf.queryExecution().executedPlan()
        assert plan.outputPartitioning().numPartitions() == 1, plan.toString()
    assert "GreaterThanOrEqual(ts" in plan_summary(ranged).scans[0]["pushed_filters"]


def test_small_table_of_several_files_keeps_its_rows_in_order(spark, tmp_path):
    """A small table written as four part files is four scan partitions;
    read as one, it returns the same rows in the same order."""
    from etl_mini_spark.sources.readers import read_parquet
    from etl_mini_spark.sources.writers import write_parquet

    path = str(tmp_path / "parts")
    src = spark.range(0, 4000, numPartitions=4).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h"))
    write_parquet(src.write, path)
    assert len(list(tmp_path.glob("parts/part-*"))) == 4

    one = read_parquet(spark, path)
    with over_the_bound(spark):
        many = read_parquet(spark, path)
        assert many.rdd.getNumPartitions() == 4
        want = many.collect()
    assert one.rdd.getNumPartitions() == 1
    assert one.collect() == want


def test_table_over_the_bound_keeps_its_exchange(spark, tmp_path):
    """A table of more than 2 MiB is read as Spark scans it: the size
    rule gives it more than one partition, the reader adds no
    coalesce, and an aggregate above it plans its hash exchange."""
    from etl_mini_spark.session import static_partitions
    from etl_mini_spark.sources.readers import read_parquet
    from etl_mini_spark.sources.writers import write_parquet

    path = str(tmp_path / "wide")
    src = spark.range(120_000).select(
        (F.col("id") % 7).alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("h"))
    write_parquet(src.write, path)
    assert sum(p.stat().st_size for p in tmp_path.glob("wide/part-*")) > 2 << 20

    df = read_parquet(spark, path)
    assert static_partitions(df) > 1
    qe = df.groupBy("k").count()._jdf.queryExecution()
    assert "Repartition" not in qe.optimizedPlan().toString()
    assert "Exchange hashpartitioning" in qe.executedPlan().toString()
