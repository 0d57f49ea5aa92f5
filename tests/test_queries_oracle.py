"""Every registry query vs. its DuckDB oracle at sf0.001 — the same
differential check the driver runs at sf0.01.

Since round 19 the 543 per-query checks run as N_SHARDS concurrent
subprocesses (tests/oracle_shard_runner.py), as many at once as fit in
the available memory, instead of 543 sequential pytest cases: 92% of
each check is Spark driver/JVM work (measured:
build 0.58s + execute 0.84s vs 0.13s DuckDB+compare per query), so
overlapping independent shards in separate JVMs cuts the file's
wall-clock ~4x (guide §2.6) and keeps the driver's pytest gate inside
its verify budget (r18 verdict item 1). Coverage is unchanged — the
shards partition sorted(QUERIES) exactly, the compare harness is the
same oracle_harness.compare, and a FAIL in any shard fails this test
with the per-query messages."""

from __future__ import annotations

import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare
from tests.oracle_shard_runner import ROWS_ONLY_SCHEMAS

REPO = Path(__file__).resolve().parent.parent
N_SHARDS = 10
# Peak RSS of one shard's process tree (Python, JVM and Python workers):
# 2.2-2.4 GB, measured one shard at a time at sf0.001 on a 4-core box.
SHARD_RSS_BYTES = 2560 * 2**20


def _registry():
    from etl_mini_spark.queries import ORACLE, QUERIES

    return QUERIES, ORACLE


QUERIES, ORACLE = _registry()


def max_running_shards() -> int:
    """How many shards fit in ``MemAvailable`` at once: at least 1, at
    most N_SHARDS (also where /proc/meminfo is absent). All ten at once
    got the whole test run OOM-killed on a 15 GB box."""
    try:
        with open("/proc/meminfo") as f:
            avail = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return N_SHARDS
    return max(1, min(N_SHARDS, avail // SHARD_RSS_BYTES))


def run_shard(i: int) -> tuple[int, str]:
    """(exit code, output) of shard ``i``, killed after 1800 s."""
    runner = REPO / "tests" / "oracle_shard_runner.py"
    p = subprocess.Popen(
        [sys.executable, str(runner), str(i), str(N_SHARDS), SF_SMOKE],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        cwd=str(REPO),
    )
    try:
        out, _ = p.communicate(timeout=1800)
    except subprocess.TimeoutExpired:
        p.kill()
        out, _ = p.communicate()
        out += "\nSHARD TIMEOUT (1800s)"
    return p.returncode, out


def test_query_matches_oracle_sharded():
    """The shards start FROM the test (not earlier in the session):
    while the test blocks, no other pytest test is running, so a shard
    can never race a main-process test that rebuilds the same NAMED
    fixture dir (e.g. a plan blanket constructing partitioned_roundtrip
    overwrites tmp/part_rt_sf0.001 — an early-launch overlap was
    measured ~2 min faster but introduces exactly that flake class).
    At most ``max_running_shards()`` run at once; the next one starts
    when one ends."""
    with ThreadPoolExecutor(max_running_shards()) as pool:
        outs = list(pool.map(run_shard, range(N_SHARDS)))
    bad = []
    for i, (rc, out) in enumerate(outs):
        done = [ln for ln in out.splitlines() if ln.startswith("SHARD")]
        fails = [ln for ln in out.splitlines() if ln.startswith("FAIL")]
        if rc != 0 or not done or fails:
            tail = "\n".join(fails) or out[-2000:]
            bad.append(f"shard {i} rc={rc}:\n{tail}")
    assert not bad, "\n\n".join(bad)


def test_rows_only_schemas_cover_registry():
    """Every no-oracle entry must have a declared schema in the shard
    runner (the runner also enforces this at run time; this is the
    fast registry-level pin)."""
    missing = sorted(set(QUERIES) - set(ORACLE) - set(ROWS_ONLY_SCHEMAS))
    assert not missing, f"rows-only entries without declared schemas: {missing}"


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
    assert "event_id" in df.columns


def test_oracle_keys_subset():
    assert set(ORACLE) <= set(QUERIES)


@pytest.mark.parametrize(
    "name",
    ["window_time_range_7d", "filter_time_range", "window_sliding_15m",
     "groupby_date_type", "time_derive_parts"],
)
def test_ntz_testdata_under_driver_default_session(spark, name):
    """CORRECTNESS_r04 regression: the driver runs queries with ITS OWN
    SparkSession (default confs — parquet NTZ inference ON) over testdata
    whose timestamps are naive µs. Query code must itself force LTZ reads
    (sources/readers.py:_force_ltz_timestamps) or instant-typed functions
    (unix_micros, window) throw DATATYPE_MISMATCH on TIMESTAMP_NTZ."""
    prior = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        df = QUERIES[name](spark, SF_SMOKE)
        assert "timestamp_ntz" not in [t for _, t in df.dtypes]
        ok, msg = compare(df, ORACLE[name], SF_SMOKE)
        assert ok, f"{name}: {msg}"
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prior)
