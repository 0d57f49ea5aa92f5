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
