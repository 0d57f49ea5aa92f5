from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_mini_spark.session import get_spark

    import os

    s = get_spark(
        "etl-mini-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    yield s


_GROUPS = itertools.count()


def run_in_job_group(spark, fn):
    """(fn(), ids of the Spark jobs fn started), counted under a job group."""
    sc = spark.sparkContext
    group = f"tests-{next(_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def over_the_bound(spark):
    """Plan the enclosed reads as reads over the size rule's bound
    (``session.static_partitions``, scoped to a 1 KiB advisory
    partition size): the parquet readers do not coalesce a smoke table
    to one partition and registry builders keep the AQE plan."""
    from etl_mini_spark.session import scoped_confs

    return scoped_confs(spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"})


@pytest.fixture
def large_reads(spark):
    """The test runs :func:`over_the_bound`, so a plan-shape test sees
    the exchanges its query plans at scale."""
    with over_the_bound(spark):
        yield


def stage_work(spark, job_ids) -> tuple[int, int]:
    """(tasks, shuffle bytes read plus written) of the stages of
    ``job_ids``, from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = [store.lastStageAttempt(sid) for jid in job_ids
              for sid in sc.statusTracker().getJobInfo(jid).stageIds]
    return (sum(s.numCompleteTasks() for s in stages),
            sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in stages))
