"""Keyed upsert through the stage-then-swap writer: Spark jobs and
shuffle bytes per pipeline window, the target's file count, stale
windows, the schema the swap leaves in the reader's cache, the AQE
fallback for large plans, and loud failure on bad configs."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, run_in_job_group, stage_work

WINDOWS = (datetime(2024, 1, 10), datetime(2024, 1, 20))
FOUR_WINDOWS = (datetime(2024, 1, 8), datetime(2024, 1, 15), datetime(2024, 1, 22),
                datetime(2024, 2, 1))
AQE, PARTS, ADVISORY = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
)


def _spec(tmp_path, name="upsert_windows"):
    from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec

    return PipelineSpec(
        name=name, source=SourceSpec(path=f"{SF_SMOKE}/events.parquet"),
        sink=SinkSpec(path=str(tmp_path / "target"), format="upsert", upsert_keys=["event_id"]),
        transforms=[{"op": "ordered_dedup", "dedup_by": ["event_id"],
                     "order_by": [("ts", "desc")]}],
        incremental_ts_col="ts", checkpoint_path=str(tmp_path / "ckpt"))


def _run_windows(spark, spec, monkeypatch, between=None,
                 windows=WINDOWS) -> list[tuple[list[int], list[int]]]:
    """(upsert job ids, all job ids) of each window's ``run_pipeline``;
    the upsert's jobs are counted in a job group of their own."""
    from etl_mini_spark.plans import pipeline

    upsert_jobs = []

    def counted(*args, **kwargs):
        _, ids = run_in_job_group(spark, lambda: real(*args, **kwargs))
        upsert_jobs.append(ids)

    from etl_mini_spark.operators.upsert import upsert_parquet as real

    monkeypatch.setattr(pipeline, "upsert_parquet", counted)
    out = []
    for end in windows:
        spec.window_end = end
        _, ids = run_in_job_group(spark, lambda: pipeline.run_pipeline(spark, spec))
        out.append((upsert_jobs[-1], ids + upsert_jobs[-1]))
        if between is not None:
            between()
    return out


def _counts(windows) -> list[tuple[int, int]]:
    return [(len(upsert), len(every)) for upsert, every in windows]


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_steady_window_runs_two_upsert_jobs(spark, tmp_path, monkeypatch):
    """The first window's upsert is one write job, and so is a steady
    one: the target's schema is cached by the previous swap, and the
    small merge is one partition planned statically, so no exchange or
    source-keys broadcast runs as a job of its own. The whole window is
    that one job: the checkpoint read and commit run none. The source's
    schema is cached first, so the count does not depend on whether an
    earlier test in the process read it: its inference is one more job
    of the first window."""
    from etl_mini_spark.sources.readers import read_parquet

    read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    spec = _spec(tmp_path)
    first, steady = _counts(_run_windows(spark, spec, monkeypatch))
    assert (first, steady) == ((1, 1), (1, 1)), (first, steady)
    df, ids = run_in_job_group(spark, lambda: read_parquet(spark, spec.sink.path))
    assert ids == []
    want = spark.read.parquet(f"{SF_SMOKE}/events.parquet").filter(F.col("ts") < WINDOWS[-1])
    assert df.count() == want.select("event_id").distinct().count()


def test_small_window_runs_without_a_shuffle(spark, tmp_path, monkeypatch):
    """A window whose source the size rule gives one partition is
    coalesced to one partition before its ``ordered_dedup``, so no job
    of a window (the write and its merge included) reads or writes a
    shuffle byte; the merge is written as one file, so the target stays
    one part file, holding every source row older than the last
    window's end (``event_id`` is unique in the source).
    The dedup exchange ran twice per steady window, and the target grew
    by one file per window."""
    from etl_mini_spark.sources.readers import read_parquet

    spec = _spec(tmp_path)
    parts = []
    runs = _run_windows(
        spark, spec, monkeypatch, windows=FOUR_WINDOWS,
        between=lambda: parts.append(len(list((tmp_path / "target").glob("part-*")))))
    assert [stage_work(spark, every)[1] for _, every in runs] == [0, 0, 0, 0]
    assert parts == [1, 1, 1, 1]
    want = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    want = want.filter(F.col("ts") < FOUR_WINDOWS[-1]).collect()
    assert _rows(spark, spec.sink.path) == sorted(tuple(r) for r in want)


def test_stale_window_is_skipped(spark, tmp_path, monkeypatch):
    """A ``window_end`` at or before the committed one (naive or
    tz-aware) is skipped after the checkpoint read, with no Spark job:
    the target is not rewritten and the checkpoint does not move back.
    Such a run used to extract the empty range, rewrite the target and
    commit the earlier end, so the next window loaded rows again."""
    from etl_mini_spark.plans.checkpoint import CheckpointTable
    from etl_mini_spark.plans.pipeline import run_pipeline

    spec = _spec(tmp_path)
    _run_windows(spark, spec, monkeypatch)
    target = tmp_path / "target"
    files = {p.name: p.stat().st_mtime_ns for p in target.iterdir()}
    for end in (WINDOWS[0], WINDOWS[-1].replace(tzinfo=timezone.utc)):
        spec.window_end = end
        report, ids = run_in_job_group(spark, lambda: run_pipeline(spark, spec))
        assert (report["status"], report["reason"]) == ("skipped", "window already committed")
        assert ids == [], ids
    assert {p.name: p.stat().st_mtime_ns for p in target.iterdir()} == files
    assert CheckpointTable(spark, spec.checkpoint_path).last_window_end(spec.name) == WINDOWS[-1]


def test_stale_window_is_skipped_outside_utc(spark, tmp_path, monkeypatch):
    """Under a process time zone other than UTC, an end before the
    committed one is skipped too. The checkpoint returns a naive local
    time, which was compared as UTC: in New York a 22:00Z end ran after
    a 00:00Z commit and moved the checkpoint back to 17:00 local."""
    import time

    from etl_mini_spark.plans.checkpoint import CheckpointTable
    from etl_mini_spark.plans.pipeline import run_pipeline

    spec = _spec(tmp_path)
    committed = datetime(2024, 1, 20, tzinfo=timezone.utc)
    try:
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            spec.window_end = committed
            assert run_pipeline(spark, spec)["status"] == "ok"
            spec.window_end = datetime(2024, 1, 19, 22, tzinfo=timezone.utc)
            report = run_pipeline(spark, spec)
            assert (report["status"], report.get("reason")) == (
                "skipped", "window already committed"), report
            ck = CheckpointTable(spark, spec.checkpoint_path)
            assert ck.last_window_end(spec.name).astimezone(timezone.utc) == committed
    finally:
        time.tzset()


def test_plan_over_the_bound_keeps_the_aqe_path(spark, tmp_path, monkeypatch):
    """With the advisory partition size under the plan's estimate, the
    write runs under AQE as before: a steady upsert runs the same 4 jobs
    as the AQE write did before writes cached their schema (the target
    read is warmed first, which takes that cache out of the count), and
    the table holds the same rows as the statically planned one. The
    source is not coalesced, so the window's dedup keeps its exchange."""
    from etl_mini_spark.plans.pipeline import build_plan
    from etl_mini_spark.sources.readers import read_parquet

    static = _spec(tmp_path / "static")
    _run_windows(spark, static, monkeypatch)
    adaptive = _spec(tmp_path / "adaptive")
    prev = spark.conf.get(ADVISORY)
    spark.conf.set(ADVISORY, "1k")
    try:
        counts = _counts(_run_windows(spark, adaptive, monkeypatch,
                                      between=lambda: read_parquet(spark, adaptive.sink.path)))
        qe = build_plan(spark, adaptive)._jdf.queryExecution()
        optimized, executed = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    finally:
        spark.conf.set(ADVISORY, prev)
    assert counts[1][0] == 4, counts
    assert "Repartition" not in optimized and "Exchange hashpartitioning" in executed, executed
    assert _rows(spark, adaptive.sink.path) == _rows(spark, static.sink.path)


_MERGE_SCHEMA = "k1 int, k2 string, v int"
# NULL key parts, keys duplicated on both sides, and a source key that
# matches ``k1`` alone.
_MERGE_TARGET = [(1, "a", 10), (1, "a", 11), (2, "a", 20), (None, "a", 30), (3, None, 40),
                 (None, None, 50), (4, "b", 60), (5, "c", 70), (5, "c", 71)]
_MERGE_SOURCE = [(1, "a", 100), (1, "a", 101), (None, "a", 300), (3, None, 400),
                 (None, None, 500), (4, "b", 600), (6, "d", 700), (6, "d", 701), (2, "z", 800)]


def _parquet(spark, tmp_path, rows):
    """``rows`` as a parquet scan, whose size the size rule can read (a
    DataFrame of Python rows has no size estimate)."""
    path = str(tmp_path / f"rows{len(list(tmp_path.iterdir()))}")
    spark.createDataFrame(rows, _MERGE_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def _merge_reference(target, source, keys, action):
    """Left-anti + union as a row multiset: a row of the losing side is
    dropped when a winning row has its key, and a key with a NULL part
    matches nothing."""
    from collections import Counter

    idx = [("k1", "k2").index(k) for k in keys]

    def key(row):
        return tuple(row[i] for i in idx)

    def unmatched(rows, winners):
        won = {key(w) for w in winners}
        return [r for r in rows if None in key(r) or key(r) not in won]

    if action == "update":
        return Counter(unmatched(target, source) + source)
    return Counter(target + unmatched(source, target))


@pytest.mark.parametrize("advisory", [None, "1k"], ids=["one_partition", "broadcast"])
def test_merge_plans_match_left_anti_union(spark, tmp_path, advisory):
    """Both plans of the whole-row merge, the one-partition window and
    the left-anti join that a 1 KiB advisory size forces, equal a Python
    left-anti + union, for both actions, one- and two-column keys, and
    an empty source or target. A window merge that collapsed duplicate
    keys or matched NULL keys would differ."""
    from collections import Counter

    from etl_mini_spark.operators.upsert import merge_upsert

    prev = spark.conf.get(ADVISORY)
    if advisory is not None:
        spark.conf.set(ADVISORY, advisory)
    try:
        for target, source in ((_MERGE_TARGET, _MERGE_SOURCE), (_MERGE_TARGET, []),
                               ([], _MERGE_SOURCE)):
            t, s = (_parquet(spark, tmp_path, rows) for rows in (target, source))
            for keys in (["k1"], ["k1", "k2"]):
                for action in ("update", "nothing"):
                    merged = merge_upsert(t, s, keys, conflict_action=action)
                    plan = merged._jdf.queryExecution().optimizedPlan().toString()
                    assert ("Window" in plan) == (advisory is None), plan
                    got = Counter(tuple(r) for r in merged.collect())
                    assert got == _merge_reference(target, source, keys, action), (keys, action)
    finally:
        spark.conf.set(ADVISORY, prev)


_KINDS = """
    SELECT * FROM VALUES
      (1, TIMESTAMP_NTZ'2024-01-01 10:00:00.123456', TIMESTAMP'2024-01-01 10:00:00',
       DATE'2024-01-01', CAST(1.25 AS DECIMAL(12, 3)),
       array(named_struct('a', 1, 'at', TIMESTAMP_NTZ'2024-01-02 00:00:00')),
       map('x', 1.5D), X'0102', CAST(1.5 AS FLOAT), CAST(7 AS SMALLINT), CAST(3 AS TINYINT)),
      (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
    AS t(k, ntz, ltz, d, dec, arr, m, bin, f, s, b)
"""


def test_read_after_upsert_uses_the_written_schema(spark, tmp_path):
    """``read_parquet`` right after ``upsert_parquet`` runs no Spark
    job, and the schema the swap cached equals what inference returns
    for NTZ and LTZ timestamps, date, decimal, ``array<struct>``, map,
    binary, float, short, byte and a non-null key column."""
    from etl_mini_spark.operators.upsert import upsert_parquet
    from etl_mini_spark.sources.readers import _force_ltz_timestamps, read_parquet

    path = str(tmp_path / "kinds")
    source = spark.sql(_KINDS)
    assert not source.schema["k"].nullable
    for batch in (source, source.withColumn("k", F.col("k") + 1)):
        upsert_parquet(spark, path, batch, keys=["k"])
        df, ids = run_in_job_group(spark, lambda: read_parquet(spark, path))
        assert ids == []
        with _force_ltz_timestamps(spark):
            inferred = spark.read.parquet(path)
        assert df.schema == inferred.schema
        assert sorted(df.collect()) == sorted(inferred.collect())
    assert [r["k"] for r in read_parquet(spark, path).orderBy("k").collect()] == [1, 2, 3]


def test_write_confs_restored_after_build_raises(spark, tmp_path):
    """A ``build`` that raises, and a small plan that fails inside the
    static write, leave the AQE and shuffle-partition confs as they
    were and the target untouched."""
    from etl_mini_spark.sources.fs import replace_parquet

    path = str(tmp_path / "t")
    replace_parquet(spark, path, lambda exists: spark.range(3))
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}

    def raises(exists):
        raise RuntimeError("build failed")

    def fails_in_write(exists):
        boom = F.when(F.col("id") > 1, F.raise_error(F.lit("write failed")))
        return spark.range(3).select(boom.otherwise(F.col("id")).alias("id"))

    with pytest.raises(RuntimeError, match="build failed"):
        replace_parquet(spark, path, raises)
    with pytest.raises(Exception, match="write failed"):
        replace_parquet(spark, path, fails_in_write)
    assert {k: spark.conf.get(k) for k in (AQE, PARTS)} == before
    assert _rows(spark, path) == [(0,), (1,), (2,)]


def _fails_before_any_job(spark, fn, match: str) -> None:
    def call():
        with pytest.raises(ValueError, match=match):
            fn()

    _, ids = run_in_job_group(spark, call)
    assert ids == []


def test_unknown_conflict_action_fails_loudly(spark, tmp_path):
    """``"ignore"`` used to run the update path silently."""
    from etl_mini_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(spark, path, spark.range(3).selectExpr("id AS k", "'a' AS v"), keys=["k"])
    update = spark.range(2, 4).selectExpr("id AS k", "'b' AS v")
    _fails_before_any_job(spark, lambda: upsert_parquet(
        spark, path, update, keys=["k"], conflict_action="ignore"), "conflict_action")
    assert _rows(spark, path) == [(0, "a"), (1, "a"), (2, "a")]


def test_upsert_sink_without_keys_fails_loudly(spark, tmp_path):
    """A keyless upsert sink used to write window 1 unkeyed and fail at
    window 2 with ``TypeError``; it now fails on the first window,
    before writing anything."""
    from etl_mini_spark.operators.upsert import upsert_parquet
    from etl_mini_spark.plans.pipeline import run_pipeline

    spec = _spec(tmp_path)
    spec.sink.upsert_keys = None
    spec.window_end = WINDOWS[0]
    with pytest.raises(ValueError, match="key"):
        run_pipeline(spark, spec)
    assert not (tmp_path / "target").exists()
    source = spark.range(3).selectExpr("id AS k")
    _fails_before_any_job(
        spark, lambda: upsert_parquet(spark, str(tmp_path / "t"), source, keys=[]), "key")
    assert not (tmp_path / "t").exists()


def test_upsert_keys_must_be_source_columns(spark, tmp_path):
    """An unknown key used to pass on the first call, which writes the
    source without reading the keys."""
    from etl_mini_spark.operators.upsert import upsert_parquet

    source = spark.range(3).selectExpr("id AS k")
    _fails_before_any_job(spark, lambda: upsert_parquet(
        spark, str(tmp_path / "t"), source, keys=["k", "event_id"]), "event_id")
    assert not (tmp_path / "t").exists()


def _format_of(path) -> list[tuple[str, str, str]]:
    """(compression, physical type, logical type) of the ``ts`` column
    in every part file under ``path``, one entry per file."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(path.glob("part-*")):
        md = pq.read_metadata(str(f))
        i = md.schema.names.index("ts")
        col = md.row_group(0).column(i)
        out.append((col.compression, col.physical_type, str(md.schema.column(i).logical_type)))
    return out


_COMPACT = ("ZSTD", "INT64", "Timestamp(isAdjustedToUTC=true, timeUnit=microseconds, "
            "is_from_converted_type=false, force_set_converted_type=false)")


def test_upsert_writes_the_compact_format(spark, tmp_path, monkeypatch):
    """Every part file of an upsert target is zstd, with its timestamp
    column INT64 TIMESTAMP(MICROS) adjusted to UTC, not Spark's default
    snappy pages and INT96; the write leaves the session's timestamp
    conf as it was."""
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key, None)
    spec = _spec(tmp_path)
    _run_windows(spark, spec, monkeypatch)
    files = _format_of(tmp_path / "target")
    assert files and set(files) == {_COMPACT}, files
    assert all(p.name.endswith(".zstd.parquet") for p in (tmp_path / "target").glob("part-*"))
    assert spark.conf.get(key, None) == before


def test_upsert_into_a_default_format_target(spark, tmp_path):
    """A target written with Spark's defaults (INT96, snappy, several
    part files) upserts like any other: its rows equal a Python
    keep-last of target then source, and it is rewritten in the
    compact format."""
    from etl_mini_spark.operators.upsert import upsert_parquet
    from etl_mini_spark.sources.readers import read_parquet

    target = tmp_path / "target"
    events = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    old = events.filter(F.col("ts") < WINDOWS[0])
    old.repartition(3).write.parquet(str(target))
    files = _format_of(target)
    assert len(files) == 3 and {(c, t) for c, t, _ in files} == {("SNAPPY", "INT96")}, files
    source = events.filter(F.col("event_id") % 3 == 0).withColumns(
        {"ts": F.col("ts") + F.expr("INTERVAL 1 DAY"), "value": F.col("value") + 1})
    upsert_parquet(spark, str(target), source, keys=["event_id"])

    def rows(df):
        return [tuple(r) for r in df.select(
            "event_id", F.unix_micros("ts"), "user_id", "event_type", "value", "props").collect()]

    want = {r[0]: r for r in rows(old)}
    want.update({r[0]: r for r in rows(source)})
    assert sorted(rows(read_parquet(spark, str(target)))) == sorted(want.values())
    assert set(_format_of(target)) == {_COMPACT}
