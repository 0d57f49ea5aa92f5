"""Structured Streaming tier: the same window functions run as a real
stream (file source + AvailableNow) and match their batch results."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE

TMP = REPO / "tmp" / "streamruns"


@pytest.fixture(autouse=True)
def _clean():
    shutil.rmtree(TMP, ignore_errors=True)
    TMP.mkdir(parents=True)
    yield


def _events_stream(spark):
    from etl_mini_spark.session import load_table
    from etl_mini_spark.streaming.stream import read_stream_parquet

    src_dir = str(TMP / "src")
    batch = load_table(spark, SF_SMOKE, "events")
    batch.write.mode("overwrite").parquet(src_dir)
    stream = read_stream_parquet(spark, src_dir, spark.read.parquet(src_dir).schema)
    return batch, stream


def test_tumbling_stream_matches_batch(spark):
    from datetime import timedelta

    from etl_mini_spark.streaming.stream import foreach_batch_upsert, run_to_completion
    from etl_mini_spark.streaming.windows import tumbling_counts

    batch, stream = _events_stream(spark)
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(batch, "ts", ["event_type"]).collect()
    }

    # Append mode emits each window exactly once, when the watermark
    # passes its end — windows still above the final watermark stay in
    # state. That is the contract, so compare against the finalized set.
    out_dir, ckpt = str(TMP / "out"), str(TMP / "ckpt")
    run_to_completion(
        tumbling_counts(stream, "ts", ["event_type"]),
        checkpoint_dir=ckpt,
        output_path=out_dir,
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    wm = batch.agg(F.max("ts")).collect()[0][0] - timedelta(hours=1)
    finalized = {k: n for k, n in want.items() if (k[0] + timedelta(hours=1)) <= wm}
    assert got == finalized and len(got) > 0

    # Update mode + keyed upsert sink re-emits in-state windows every
    # trigger, so the sink converges to FULL batch parity.
    tgt, ckpt2 = str(TMP / "out_upsert"), str(TMP / "ckpt_upsert")
    run_to_completion(
        tumbling_counts(stream, "ts", ["event_type"]),
        checkpoint_dir=ckpt2,
        sink=foreach_batch_upsert(tgt, keys=["window_start", "event_type"]),
        output_mode="update",
    )
    got_full = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.read.parquet(tgt).collect()
    }
    assert got_full == want


def test_streaming_dedup_and_upsert_sink(spark):
    from etl_mini_spark.streaming.stream import foreach_batch_upsert, run_to_completion
    from etl_mini_spark.streaming.windows import streaming_dedup

    batch, stream = _events_stream(spark)
    tgt, ckpt = str(TMP / "dedup_tbl"), str(TMP / "ckpt2")
    deduped = streaming_dedup(stream, ["user_id", "event_type"], "ts")
    run_to_completion(
        deduped,
        checkpoint_dir=ckpt,
        sink=foreach_batch_upsert(tgt, keys=["user_id", "event_type"]),
        output_mode="update",
    )
    out = spark.read.parquet(tgt)
    n_keys = batch.select("user_id", "event_type").distinct().count()
    assert out.count() == n_keys
    assert out.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_session_window_streams(spark):
    from etl_mini_spark.streaming.stream import run_to_completion
    from etl_mini_spark.streaming.windows import sessionized

    from datetime import timedelta

    batch, stream = _events_stream(spark)
    out_dir, ckpt = str(TMP / "sess_out"), str(TMP / "sess_ckpt")
    run_to_completion(
        sessionized(stream, "ts", ["user_id"]),
        checkpoint_dir=ckpt,
        output_path=out_dir,
    )
    got = {
        (r["session_start"], r["user_id"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # Append emits a session once the watermark passes its END (last
    # event + gap); sessions still open at end-of-stream stay in state.
    wm = batch.agg(F.max("ts")).collect()[0][0] - timedelta(hours=1)
    closed = (
        batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") <= F.lit(wm))
    )
    want = {(r["w"]["start"], r["user_id"]): r["n"] for r in closed.collect()}
    assert got == want and len(got) > 0


def test_sliding_stream_matches_batch_via_upsert(spark):
    from etl_mini_spark.streaming.stream import foreach_batch_upsert, run_to_completion
    from etl_mini_spark.streaming.windows import sliding_counts

    batch, stream = _events_stream(spark)
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in sliding_counts(batch, "ts", ["event_type"]).collect()
    }
    tgt, ckpt = str(TMP / "slide_upsert"), str(TMP / "slide_ckpt")
    run_to_completion(
        sliding_counts(stream, "ts", ["event_type"]),
        checkpoint_dir=ckpt,
        sink=foreach_batch_upsert(tgt, keys=["window_start", "event_type"]),
        output_mode="update",
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.read.parquet(tgt).collect()
    }
    assert got == want and len(got) > 0


def test_capped_sessions_stateful(spark):
    """applyInPandasWithState sessionizer: gap- and cap-closed sessions
    must match a pure-python reference sessionization exactly; any
    timeout-flushed session must equal the reference's final open
    session for that user."""
    from etl_mini_spark.streaming.stateful import capped_sessions
    from etl_mini_spark.streaming.stream import run_to_completion

    GAP_S, CAP_S = 1800, 7200
    batch, stream = _events_stream(spark)

    # reference: per-user ordered scan with the same gap/cap rules
    rows = batch.select("user_id", "ts").collect()
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["ts"])
    expected_closed, expected_open = set(), {}
    for u, tss in per_user.items():
        tss.sort()
        start = last = tss[0]
        n = 0
        for t in tss:
            if n > 0 and (t - last).total_seconds() > GAP_S:
                expected_closed.add((u, start, last, n, "gap"))
                start, n = t, 0
            elif n > 0 and (t - start).total_seconds() > CAP_S:
                expected_closed.add((u, start, last, n, "cap"))
                start, n = t, 0
            last = t
            n += 1
        expected_open[u] = (u, start, last, n)

    out_dir, ckpt = str(TMP / "sess_out"), str(TMP / "sess_ckpt")
    run_to_completion(
        capped_sessions(stream, gap_s=GAP_S, max_len_s=CAP_S),
        checkpoint_dir=ckpt,
        output_path=out_dir,
    )
    got = spark.read.parquet(out_dir).collect()
    got_closed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["closed_by"])
        for r in got
        if r["closed_by"] in ("gap", "cap")
    }
    assert got_closed == expected_closed
    assert len(expected_closed) > 0  # non-vacuous: the data does close sessions
    for r in got:
        if r["closed_by"] == "timeout":
            u = r["user_id"]
            assert (u, r["session_start"], r["session_end"], r["n_events"]) == expected_open[u]


def _py_capped_sessions_agg(rows, gap_s: int, cap_s: int) -> dict[str, list]:
    """Pure-python reference aggregation of gap/cap-closed sessions —
    the independent implementation the Spark stateful operator is
    differentially checked against."""
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["ts"])
    want: dict[str, list] = {}
    for u, tss in per_user.items():
        tss.sort()
        start = last = tss[0]
        n = 0
        for t in tss:
            closed = None
            if n > 0 and (t - last).total_seconds() > gap_s:
                closed = "gap"
            elif n > 0 and (t - start).total_seconds() > cap_s:
                closed = "cap"
            if closed:
                agg = want.setdefault(closed, [0, 0, 0])
                agg[0] += 1
                agg[1] += n
                us = lambda x: int(x.timestamp() * 1_000_000)
                agg[2] += (us(start) + us(last)) % 1_000_000_000
                start, n = t, 0
            last = t
            n += 1
    return want


def test_capped_sessions_checksum_entry_matches_reference(spark):
    """The registry checksum entry (driver's value-sensitive pin) must
    equal the pure-python reference aggregation of gap/cap sessions —
    AND the pin must be able to fail: a reference perturbed by one
    second of gap tolerance (a mutation any off-by-one in the operator
    would produce) must NOT match, proving the checksum is value-
    sensitive rather than vacuously stable."""
    from tests.conftest import SF_SMOKE

    from etl_mini_spark.queries import QUERIES
    from etl_mini_spark.session import load_table

    GAP_S, CAP_S = 1800, 7200
    rows = load_table(spark, SF_SMOKE, "events").select("user_id", "ts").collect()
    want = _py_capped_sessions_agg(rows, GAP_S, CAP_S)
    got = {
        r["closed_by"]: [r["n_sessions"], r["total_events"], r["bounds_checksum_us"]]
        for r in QUERIES["stream_capped_sessions_checksum"](spark, SF_SMOKE).collect()
    }
    assert got == want

    # mutation check: the pin must be able to FAIL — a small shift in
    # the gap rule must change the checksum for some |delta| well under
    # the gap itself. (Exactly ±1 s is undetectable on this fixture by
    # construction: the closest inter-event gap sits ~7 s from the
    # 1800 s threshold, so the smallest detectable shift is data-
    # dependent; what matters is that the checksum is value-sensitive,
    # not vacuously stable.)
    detected = None
    for delta in (1, 2, 5, 10, 30, 60, 300):
        if (
            _py_capped_sessions_agg(rows, GAP_S + delta, CAP_S) != want
            or _py_capped_sessions_agg(rows, GAP_S - delta, CAP_S) != want
        ):
            detected = delta
            break
    assert detected is not None and detected <= 60, (
        "no gap-rule shift up to ±300s changes the checksum — the pin "
        "is vacuous on this fixture; tighten the fixture"
    )


def test_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Restart-safety (the property the reference's metadata table
    hand-rolls, standard_pipeline.py high-water mark): after a stream
    completes and NEW files arrive, resuming with the same checkpoint
    processes only the new files — no re-emission of batch 1, no gaps."""
    from pyspark.sql import functions as F

    from etl_mini_spark.session import load_table
    from etl_mini_spark.streaming.stream import read_stream_parquet, run_to_completion

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type"
    )
    total = e.count()
    first = e.filter(F.col("event_id") % 2 == 0)
    second = e.filter(F.col("event_id") % 2 == 1)

    first.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    run_to_completion(
        read_stream_parquet(spark, src, schema), checkpoint_dir=ckpt, output_path=out
    )
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first == first.count()

    second.coalesce(1).write.mode("append").parquet(src)
    run_to_completion(
        read_stream_parquet(spark, src, schema), checkpoint_dir=ckpt, output_path=out
    )
    landed = spark.read.parquet(out)
    assert landed.count() == total                       # no gaps
    assert landed.select("event_id").distinct().count() == total  # no duplicates


def test_ltz_rewrite_recurses_into_nested_types():
    """TIMESTAMP_NTZ must flip to TIMESTAMP at any nesting depth —
    struct members, array elements, map keys/values (r5 advice: a
    top-level-only rewrite let nested event-time columns through)."""
    from pyspark.sql import types as T

    from etl_mini_spark.streaming.stream import _ltz_type

    ntz = T.TimestampNTZType()
    schema = T.StructType([
        T.StructField("top", ntz),
        T.StructField("s", T.StructType([
            T.StructField("inner_ts", ntz),
            T.StructField("deep", T.ArrayType(T.StructType([
                T.StructField("deeper_ts", ntz),
            ]))),
        ])),
        T.StructField("arr", T.ArrayType(ntz, containsNull=False)),
        T.StructField("m", T.MapType(ntz, ntz, valueContainsNull=False)),
        T.StructField("plain", T.LongType()),
    ])
    out = _ltz_type(schema)
    assert "timestamp_ntz" not in out.simpleString(), out.simpleString()
    ts = T.TimestampType()
    assert out["top"].dataType == ts
    assert out["s"].dataType["inner_ts"].dataType == ts
    assert out["s"].dataType["deep"].dataType.elementType["deeper_ts"].dataType == ts
    assert out["arr"].dataType == T.ArrayType(ts, containsNull=False)
    assert out["m"].dataType == T.MapType(ts, ts, valueContainsNull=False)
    assert out["plain"].dataType == T.LongType()


def test_streaming_incremental_agg_state(spark, tmp_path):
    """Streaming incremental aggregate maintenance: each micro-batch
    appends its own mergeable partial state (operators/incremental.py)
    to an append-only state directory; compact+finalize at read time
    must equal the direct batch aggregate over the full source. The
    source is split into multiple files with maxFilesPerTrigger=1 so
    the state genuinely accumulates across several micro-batches."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.incremental import (
        agg_state,
        compact_agg_state,
        finalize_agg_state,
    )
    from etl_mini_spark.session import load_table

    src, state, ckpt = str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    e = load_table(spark, "/root/testdata/sf0.001", "events").select("event_type", "value")
    e.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    n_batches = []

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        n_batches.append(batch_id)
        agg_state(batch_df, ["event_type"], "value").write.mode("append").parquet(state)

    # maxFilesPerTrigger is a SOURCE option: one source file per
    # micro-batch, so the state genuinely accumulates across batches
    # (no timestamp columns here, so no NTZ rewrite needed)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(300)
    assert len(n_batches) >= 2, n_batches

    got = {
        r["event_type"]: (r["cnt"], round(r["total"], 4), round(r["vavg"], 6), round(r["vstddev"], 6))
        for r in finalize_agg_state(
            compact_agg_state(spark.read.parquet(state), ["event_type"]), ["event_type"]
        ).collect()
    }
    want = {
        r["event_type"]: (r["cnt"], round(r["total"], 4), round(r["vavg"], 6), round(r["vstddev"], 6))
        for r in e.groupBy("event_type")
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("total"),
            F.avg("value").alias("vavg"),
            F.stddev_samp("value").alias("vstddev"),
        )
        .collect()
    }
    assert got == want


def _replay_batches(i: int):
    """Rows of the i-th staged micro-batch: two ids and their instants."""
    from datetime import datetime, timezone

    return [(10 * i + k, datetime(2024, 1, 1 + i, k, tzinfo=timezone.utc)) for k in (1, 2)]


def test_replay_keeps_stage_order_when_names_sort_the_other_way(spark):
    """The file source orders files by mtime, not by name: three staged
    batches renamed so that their names sort in reverse still run as
    three micro-batches in stage order."""
    from etl_mini_spark.sources.fs import fs_glob, fs_rename
    from etl_mini_spark.streaming.stream import replay

    seen = []
    with replay(spark, "test_replay_order") as r:
        for i in range(3):
            r.stage(spark.createDataFrame(_replay_batches(i), "id long, ts timestamp"))
        staged = fs_glob(spark, f"{r.root}/src/*.parquet")
        for f, name in zip(staged, ["c", "b", "a"]):
            fs_rename(spark, f, f"{r.root}/src/{name}.parquet")
        r.run(r.stream(), lambda df, _: seen.append(sorted(x["id"] for x in df.collect())))
    assert seen == [[1, 2], [11, 12], [21, 22]]


def test_replay_round_trips_timestamps(spark):
    """A staged TIMESTAMP column streams, lands and reads back as
    TIMESTAMP with the same instants."""
    from datetime import datetime

    from pyspark.sql import types as T

    from etl_mini_spark.streaming.stream import replay

    rows = [(0, datetime(1899, 12, 31, 23, 59, 59, 999999)), (1, datetime(1970, 1, 1)),
            (2, datetime(2024, 3, 10, 2, 30, 0, 1)), (3, None)]
    batch = spark.createDataFrame(rows, "id long, ts timestamp")
    want = {r["id"]: r["us"] for r in batch.select("id", F.unix_micros("ts").alias("us")).collect()}
    with replay(spark, "test_replay_ts") as r:
        r.stage(batch)
        stream = r.stream()
        assert stream.schema["ts"].dataType == T.TimestampType()
        r.run(stream)
    assert r.output.schema["ts"].dataType == T.TimestampType()
    got = {x["id"]: x["us"] for x in r.output.select("id", F.unix_micros("ts").alias("us")).collect()}
    assert got == want


def test_replay_deletes_its_dir_on_exit_and_on_error(spark):
    """The scratch dir is gone after the block, whether it ends
    normally (the output is still readable) or raises."""
    from pathlib import Path

    from etl_mini_spark.streaming.stream import replay

    with replay(spark, "test_replay_exit") as r:
        r.stage(spark.createDataFrame(_replay_batches(0), "id long, ts timestamp"))
        r.run(r.stream())
    assert not Path(r.root).exists()
    assert r.output.count() == 2

    with pytest.raises(RuntimeError, match="inside the block"):
        with replay(spark, "test_replay_exit") as r:
            r.stage(spark.createDataFrame(_replay_batches(0), "id long, ts timestamp"))
            raise RuntimeError("inside the block")
    assert not Path(r.root).exists()
    assert r.output is None


@pytest.mark.parametrize("name", ["stream_foreachbatch_upsert", "stream_tumbling_late_drop"])
def test_stream_builder_leaves_tmp_as_found(spark, name):
    """A stream entry cleans up its own scratch: one build and collect
    leave the repository's tmp/ holding the same entries as before."""
    from etl_mini_spark.queries import QUERIES

    before = sorted(p.name for p in (REPO / "tmp").iterdir())
    assert QUERIES[name](spark, SF_SMOKE).collect()
    assert sorted(p.name for p in (REPO / "tmp").iterdir()) == before
