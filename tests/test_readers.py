"""Parquet reader: timestamp encodings, and the per-path schema cache
that lets a repeat load of an unchanged table run no Spark job."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import REPO, run_in_job_group


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    out, ids = run_in_job_group(spark, fn)
    return out, len(ids)


def _spark_written_events(spark, path: str) -> None:
    """A timestamp table as Spark writes it by default (INT96)."""
    spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP'2024-01-01 10:00:00', 'a'),
          (2, TIMESTAMP'2024-01-02 11:00:00', 'b'),
          (3, TIMESTAMP'2024-01-03 12:00:00', 'c')
        AS t(event_id, ts, v)
    """).write.mode("overwrite").parquet(path)


def _ns_and_us(path, ns_values, extra: dict | None = None) -> None:
    """pyarrow file with a TIMESTAMP(NANOS) ``ts`` and a naive µs ``seen``."""
    pq.write_table(pa.table({
        "ts": pa.array(ns_values, pa.timestamp("ns")),
        "seen": pa.array([v // 1000 for v in ns_values], pa.timestamp("us")),
        **(extra or {}),
    }), path)


def test_read_parquet_spark_written_timestamps(spark, tmp_path):
    """pyarrow reports INT96 as timestamp[ns]; it must not be taken for
    TIMESTAMP(NANOS) and DIV-converted — directly and as a pipeline source."""
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec, run_pipeline
    from etl_mini_spark.sources.readers import read_parquet

    src = str(tmp_path / "events")
    _spark_written_events(spark, src)
    df = read_parquet(spark, src)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["ts"] for r in df.collect())[0] == datetime(2024, 1, 1, 10)

    out = str(tmp_path / "out")
    run_pipeline(spark, PipelineSpec(
        name="int96", source=SourceSpec(path=src), sink=SinkSpec(path=out),
        transforms=[{"op": "filter", "expr": "event_id > 1"}],
    ))
    assert sorted(r["ts"] for r in spark.read.parquet(out).collect()) == [
        datetime(2024, 1, 2, 11), datetime(2024, 1, 3, 12)]

    out_incr = str(tmp_path / "out_incr")
    report = run_pipeline(spark, PipelineSpec(
        name="int96_incr", source=SourceSpec(path=src),
        sink=SinkSpec(path=out_incr, format="upsert", upsert_keys=["event_id"]),
        incremental_ts_col="ts", window_end=datetime(2024, 1, 3),
        checkpoint_path=str(tmp_path / "ckpt"),
    ))
    assert report["status"] == "ok"
    assert sorted(r["event_id"] for r in read_parquet(spark, out_incr).collect()) == [1, 2]


def test_ts_range_reads_timestamps_like_read_parquet(spark, tmp_path):
    """The ns branch of the range scan used to skip the LTZ read and
    returned the other naive µs columns as TIMESTAMP_NTZ."""
    from etl_mini_spark.sources.readers import read_parquet, read_parquet_ts_range

    path = str(tmp_path / "ns.parquet")
    day = 86_400 * 10**9
    base = 1_704_067_200 * 10**9  # 2024-01-01
    _ns_and_us(path, [base + i * day + 123 for i in range(5)], {"k": list(range(5))})
    whole = read_parquet(spark, path)
    ranged = read_parquet_ts_range(
        spark, path, "ts", start=datetime(2024, 1, 2), end=datetime(2024, 1, 4))
    assert ranged.schema == whole.schema
    assert dict(ranged.dtypes)["seen"] == "timestamp"
    assert sorted(r["k"] for r in ranged.collect()) == [1, 2]


def test_ts_range_naive_bounds_match_across_encodings(spark, tmp_path, monkeypatch):
    """A naive bound is process-local time for a TIMESTAMP(NANOS) column
    too, as ``F.lit`` reads it for a µs one. The NANOS bound was read as
    UTC, so in New York the same window selected rows 5 hours apart."""
    import time

    from etl_mini_spark.sources.readers import read_parquet_ts_range

    path = str(tmp_path / "hourly.parquet")
    base = 1_704_067_200 * 10**9  # 2024-01-01 00:00 UTC
    _ns_and_us(path, [base + h * 3600 * 10**9 for h in range(24)], {"k": list(range(24))})
    try:
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            got = {
                col: sorted(r["k"] for r in read_parquet_ts_range(
                    spark, path, col,
                    start=datetime(2024, 1, 1, 10), end=datetime(2024, 1, 1, 12)).collect())
                for col in ("ts", "seen")}
    finally:
        time.tzset()
    assert got == {"ts": [15, 16], "seen": [15, 16]}, got


def test_repeat_load_runs_no_spark_job(spark, tmp_path):
    from etl_mini_spark.session import load_table

    _spark_written_events(spark, str(tmp_path / "events.parquet"))
    _ns_and_us(tmp_path / "raw.parquet", [1_704_067_200 * 10**9 + 7])
    for name in ("events", "raw"):
        first, jobs_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), name))
        again, jobs_again = _jobs(spark, lambda: load_table(spark, str(tmp_path), name))
        assert jobs_first >= 1 and jobs_again == 0, (name, jobs_first, jobs_again)
        assert again.schema == first.schema
        assert sorted(again.collect()) == sorted(first.collect())


def test_rewrite_at_same_path_is_picked_up(spark, tmp_path):
    """A cached schema must not outlive the files it came from: new
    columns, new rows and an ns column rewritten as µs all show up."""
    from etl_mini_spark.sources.readers import read_parquet

    path = str(tmp_path / "t.parquet")
    base = 1_704_067_200 * 10**9
    _ns_and_us(path, [base + 5_000])
    assert read_parquet(spark, path).collect()[0]["ts"] == datetime(2024, 1, 1, 0, 0, 0, 5)

    pq.write_table(pa.table({
        "ts": pa.array([base // 1000 + 1, base // 1000 + 2], pa.timestamp("us")),
        "extra": ["x", "y"],
    }), path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.columns == ["ts", "extra"]
    assert sorted(r["ts"] for r in df.collect()) == [
        datetime(2024, 1, 1, 0, 0, 0, 1), datetime(2024, 1, 1, 0, 0, 0, 2)]

    # a Spark table directory rewritten in place: new files, new column
    tbl = str(tmp_path / "tbl")
    _spark_written_events(spark, tbl)
    assert read_parquet(spark, tbl).count() == 3
    spark.range(4).selectExpr("id AS event_id", "id * 2 AS w").write.mode("overwrite").parquet(tbl)
    df = read_parquet(spark, tbl)
    assert df.columns == ["event_id", "w"] and df.count() == 4


_BARE_SESSION = """
import json, sys
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from etl_mini_spark.session import load_table
from tests.test_readers import _jobs, _spark_written_events
_spark_written_events(spark, sys.argv[1] + "/events.parquet")
first, jobs_first = _jobs(spark, lambda: load_table(spark, sys.argv[1], "events"))
again, jobs_again = _jobs(spark, lambda: load_table(spark, sys.argv[1], "events"))
print(json.dumps({"jobs": [jobs_first, jobs_again], "dtypes": again.dtypes,
                  "same": sorted(first.collect()) == sorted(again.collect())}))
spark.stop()
"""


def test_repeat_load_runs_no_spark_job_bare_session(tmp_path):
    """``__spark_entry__`` callers pass their own bare
    SparkSession.builder session; the cache must not depend on
    get_spark's confs."""
    r = subprocess.run(
        [sys.executable, "-c", _BARE_SESSION, str(tmp_path)],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["jobs"][0] >= 1 and got["jobs"][1] == 0, got
    assert got["same"] and dict(got["dtypes"])["ts"] == "timestamp", got
