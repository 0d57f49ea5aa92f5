#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the etl_mini_spark engine.

    python3 perfbench/run.py --workload olap_sf001 --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client drives the engine
through its public API on ``local[<nproc>]``; see perfbench/README.md
for the workloads, the metrics and the traced run. The last stdout line
is the result JSON; the line before it is the environment stamp, with
the op timings and peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from datetime import datetime, timedelta
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
DRIVER_MEMORY = "2g"

# Seven of the bench.py headline reads: scan, aggregate, join, as-of,
# window, sample, TPC-H SQL. The other reads are left out so that three
# timed passes fit the run budget (perfbench/README.md).
OLAP_OPS = [
    "scan_checksum", "agg_pricing_summary", "join_star_dims", "join_asof_last_order",
    "window_session_30m", "sample_split_counts", "sql_q5_local_volume",
]
CORPUS_OPS = [
    "dedup_exact_docs", "dedup_minhash_lsh", "dedup_ngram_jaccard", "similarity_topk",
    "embedding_near_dups", "text_quality", "ann_pq_rerank", "corpus_curation_pipeline",
]

# The registry's Jaccard oracles score every document pair (12 s for 500
# documents in DuckDB). This rewrite scores only pairs that share a
# shingle, through a shingle posting list: with distinct shingle lists,
# |A ∩ B| is the posting-join count k and |A ∪ B| = |A| + |B| - k, and a
# pair sharing nothing has Jaccard 0, below every threshold used. The
# rest of each oracle is kept verbatim; test_perfbench.py checks the
# rewrite against the original.
_ALL_PAIRS = re.compile(
    r"SELECT a\.doc_id AS d1, b\.doc_id AS d2,\s+"
    r"len\(list_intersect\(a\.shingles, b\.shingles\)\)::DOUBLE\s+"
    r"/ len\(list_distinct\(list_concat\(a\.shingles, b\.shingles\)\)\) AS j\s+"
    r"FROM sh a JOIN sh b ON a\.doc_id < b\.doc_id")
_POSTING_PAIRS = """SELECT p.d1, p.d2, p.k::DOUBLE / (len(a.shingles) + len(b.shingles) - p.k) AS j
    FROM (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS k
          FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) x
          JOIN (SELECT doc_id, unnest(shingles) AS s FROM sh) y
            ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY 1, 2) p
    JOIN sh a ON a.doc_id = p.d1 JOIN sh b ON b.doc_id = p.d2"""


def oracle_sql(name: str, registry_sql: str) -> str:
    if name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "corpus_curation_pipeline"):
        sql, n = _ALL_PAIRS.subn(_POSTING_PAIRS, registry_sql)
        if n != 1:
            raise ValueError(f"{name}: all-pairs Jaccard block not found in its oracle")
        return sql
    return registry_sql


def canonical_frame(rows, columns):
    """A collected result in the oracle harness's canonical form: sorted
    columns, floats rounded to 6 places, sorted rows."""
    import pandas as pd
    from tests.oracle_harness import canonicalize

    return canonicalize(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns))


def _decimals(s) -> int:
    """Decimal places a canonical float column uses, at least 2."""
    return max((len(f"{v:.6f}".rstrip("0").split(".")[1]) for v in s.dropna()), default=2)


def same_result(got, want) -> bool:
    """Canonical frames are equal, except that a float may differ by one
    unit in the last decimal its column is rounded to: a float sum depends
    on the order it adds in, and the queries round to 2 places, so a true
    value ending in 5 at the third place rounds either way."""
    import numpy as np
    import pandas as pd

    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns if len(got) else []:  # empty frames differ only in dtypes
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            unit = 10.0 ** -max(_decimals(a), _decimals(b), 2)
            if not np.allclose(a, b, rtol=0.0, atol=1.001 * unit, equal_nan=True):
                return False
        elif not a.reset_index(drop=True).equals(b.reset_index(drop=True)):
            return False
    return True


class QueryWorkload:
    """Registry queries: one op is one builder call plus ``.collect()``."""

    ordered = False

    def __init__(self, ops: list[str], make_inputs):
        self.ops, self.make_inputs = ops, make_inputs
        self.expected: dict[str, object] = {}  # op -> its checked first result

    def prepare(self, seed: int, data_dir: Path) -> None:
        self.make_inputs(seed, data_dir)
        self.sf_dir = str(data_dir)

    def begin_pass(self, spark) -> None:
        pass

    def run(self, spark, op: str, tracer=None):
        from etl_mini_spark.queries import QUERIES

        span = tracer.span if tracer else (lambda _n: nullcontext())
        with span("queries.build"):
            df = QUERIES[op](spark, self.sf_dir)
        with span("execute"):
            rows = df.collect()
        return rows, df.columns

    def check_first(self, spark, op: str, result) -> tuple[bool, str]:
        """Check the op's first result against its oracle and keep it:
        every later run of the op is compared with it."""
        from etl_mini_spark.queries import ORACLE
        from tests.oracle_harness import canonicalize, duck_connection
        from tests.oracle_shard_runner import ROWS_ONLY_SCHEMAS

        rows, columns = result
        frame = canonical_frame(rows, columns)
        self.expected[op] = None
        if op in ORACLE:
            con = duck_connection(self.sf_dir)
            try:
                want = canonicalize(con.execute(oracle_sql(op, ORACLE[op])).fetchdf())
            finally:
                con.close()
            if not same_result(frame, want):
                return False, f"differs from its oracle ({len(frame)} vs {len(want)} rows)"
        elif list(columns) != ROWS_ONLY_SCHEMAS[op] or not rows:
            return False, f"rows-only op returned {len(rows)} rows with columns {columns}"
        self.expected[op] = frame
        return True, "ok"

    def check(self, spark, op: str, result) -> bool:
        want = self.expected.get(op)
        return want is not None and same_result(canonical_frame(*result), want)


class IncrementalEtl:
    """One op is one ``run_pipeline`` window: incremental ts-range read ->
    filter/time_derive/ordered_dedup -> upsert sink -> checkpoint commit.
    Windows run in time order; the target is cleared between passes."""

    ordered = True
    PIPELINE = "events_incremental"

    def __init__(self, rows: int, users: int, windows: int):
        self.rows, self.users = rows, users
        from gen import EVENTS_DAYS, EVENTS_START

        step = timedelta(days=EVENTS_DAYS / windows)
        self.ends = {f"window_{k:02d}": EVENTS_START + k * step for k in range(1, windows + 1)}
        self.ops = list(self.ends)
        self.files_after: list[int] = []  # target part files after each checked window

    def prepare(self, seed: int, data_dir: Path) -> None:
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from gen import etl_inputs

        self.source = etl_inputs(seed, data_dir, self.rows, self.users)
        self.target = str(data_dir / "target")
        self.ckpt = str(data_dir / "checkpoint")
        src = pq.read_table(self.source)
        kept = src.filter(pc.not_equal(src.column("event_type"), "error"))
        ts = kept.column("ts").cast("int64").to_numpy()
        ids = kept.column("event_id").to_numpy()
        epoch = datetime(1970, 1, 1)
        all_ts = src.column("ts").cast("int64").to_numpy()
        size = self.source.stat().st_size
        self.expected_rows, self.window_bytes, prev = {}, {}, 0
        for op, end in self.ends.items():
            end_us = int((end - epoch).total_seconds() * 1_000_000)
            self.expected_rows[op] = len(np.unique(ids[ts < end_us]))
            n = int((all_ts < end_us).sum())
            self.window_bytes[op] = size * (n - prev) / len(all_ts)
            prev = n

    def begin_pass(self, spark) -> None:
        for p in (self.target, self.ckpt):
            shutil.rmtree(p, ignore_errors=True)

    def spec(self, op: str):
        from etl_mini_spark.plans.pipeline import PipelineSpec, SinkSpec, SourceSpec

        return PipelineSpec(
            name=self.PIPELINE,
            source=SourceSpec(path=str(self.source)),
            sink=SinkSpec(path=self.target, format="upsert", upsert_keys=["event_id"]),
            transforms=[
                {"op": "filter", "expr": "event_type != 'error'"},
                {"op": "time_derive", "ts_col": "ts"},
                {"op": "ordered_dedup", "dedup_by": ["event_id"],
                 "order_by": [("ts", "desc")]},
            ],
            incremental_ts_col="ts",
            window_end=self.ends[op],
            checkpoint_path=self.ckpt,
        )

    def run(self, spark, op: str, tracer=None):
        from etl_mini_spark.plans import pipeline

        return pipeline.run_pipeline(spark, self.spec(op))

    def check_first(self, spark, op: str, result) -> tuple[bool, str]:
        return (True, "ok") if self.check(spark, op, result) else (False, "wrong target")

    def check(self, spark, op: str, result) -> bool:
        self.files_after.append(sum(1 for _ in Path(self.target).glob("*.parquet")))
        # read the target back after every window: a stale cached schema
        # or file listing after the rewrite shows up as a wrong count
        if spark.read.parquet(self.target).count() != self.expected_rows[op]:
            return False
        return op != self.ops[-1] or self.check_final(spark)

    def check_final(self, spark) -> bool:
        """Target == DuckDB keep-last over the source; checkpoint at the last window."""
        import duckdb

        from etl_mini_spark.plans.checkpoint import CheckpointTable

        cols = "event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props"
        con = duckdb.connect()
        try:
            want = con.execute(
                f"SELECT {cols} FROM read_parquet('{self.source}') WHERE event_type <> 'error' "
                "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1 "
                "ORDER BY event_id").fetchall()
            got = con.execute(
                f"SELECT {cols} FROM read_parquet('{self.target}/*.parquet') "
                "ORDER BY event_id").fetchall()
        finally:
            con.close()
        last = CheckpointTable(spark, self.ckpt).last_window_end(self.PIPELINE)
        return got == want and last == self.ends[self.ops[-1]]

    def layer_extras(self, tracer, samples) -> dict[str, float]:
        """Bytes the upsert sink wrote per byte of window source, and the
        target's file count, averaged over the traced windows."""
        by_id = {s["id"]: s for s in tracer.spans}
        written = sum(
            st["outputBytes"] for s in tracer.spans
            if s["name"] == "operators.upsert.upsert_parquet"
            and by_id.get(s["parent"], {}).get("name") == "plans.pipeline.write_sink"
            for st in s["stages"].values())
        base = sum(self.window_bytes[op] for op, _, _ in samples)
        files = self.files_after[-len(samples):]
        return {
            "operators.upsert.bytes_written_per_input_byte": written / base if base else 0.0,
            "operators.upsert.target_files": sum(files) / len(files) if files else 0.0,
        }


def _olap_inputs(seed, d):
    from gen import olap_inputs
    olap_inputs(seed, d, sf=0.01)


def _corpus_inputs(seed, d):
    from gen import corpus_inputs
    corpus_inputs(seed, d, sf=0.01, n_docs=2000, n_vecs=2000)


WORKLOADS = {
    "olap_sf001": lambda: QueryWorkload(OLAP_OPS, _olap_inputs),
    "corpus_curation": lambda: QueryWorkload(CORPUS_OPS, _corpus_inputs),
    "incremental_etl": lambda: IncrementalEtl(rows=30_000, users=150, windows=3),
}

# Bounded end-to-end metrics: the Spark work an op costs, and set-up time.
# The op timings and peak RSS go to the stamp line unbounded: on a shared
# 4-vCPU VM, CPU speed drifts up to 2x within a minute, wider than any
# allowed bound (perfbench/README.md).
END_TO_END = {"jobs_per_op": "jobs/op", "tasks_per_op": "tasks/op", "moved_bytes_per_op": "B/op",
              "setup_s": "s"}
TIMED_GROUP = "perfbench-timed"


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith(("_frac", "_per_input_byte")):
        return "ratio"
    if last.endswith("bytes"):
        return "bytes"
    if last == "peak_rss_mb":
        return "MB"
    return "ms" if last in ("ms", "p50_ms", "ms_per_job") else "count"


def per_layer_names(ops=OLAP_OPS) -> list[str]:
    """Every per-layer metric a traced run reports, in BENCHMARK.json order."""
    from trace import layer_metrics

    names = list(layer_metrics([], 1, 1))
    names += ["operators.upsert.bytes_written_per_input_byte", "operators.upsert.target_files"]
    names += [f"queries.{op}.p50_ms" for op in ops]
    return names + ["python.peak_rss_mb", "jvm.peak_rss_mb", "trace_overhead_frac"]


# --- session ---------------------------------------------------------------

def start_session(cores: int):
    from etl_mini_spark.session import get_spark

    return get_spark("perfbench", cpus=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
    })


def stop_session(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


# --- measurement -----------------------------------------------------------

def one_op(wl, spark, op, tracer=None) -> tuple[float, bool]:
    """Run one op and check its result; only the run is timed. With a
    tracer, the op is a root span and its jobs are read before the check;
    without, its jobs run in ``TIMED_GROUP`` (the check's jobs do not)."""
    from trace import job_group

    t0 = time.perf_counter()
    try:
        with tracer.span(f"op:{op}") if tracer else job_group(
                spark.sparkContext, TIMED_GROUP, op):
            result = wl.run(spark, op, tracer)
    except Exception as e:  # noqa: BLE001 — a raising op is counted, the run goes on
        print(f"op {op} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return time.perf_counter() - t0, False
    dt = time.perf_counter() - t0
    if tracer:
        tracer.collect_jobs()
    try:
        return dt, wl.check(spark, op, result)
    except Exception as e:  # noqa: BLE001
        print(f"check of {op} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return dt, False


MIN_PASSES = 3


def timed_phase(wl, spark, seconds: float, rng, tracer=None,
                min_passes: int = MIN_PASSES) -> list[tuple[str, float, bool]]:
    """Whole passes over the ops: at least ``min_passes``, and another while
    it is expected to end within ``seconds`` (judged by the last pass).
    Returns (op, latency s, correct) per op.

    Whole passes keep every op's share of the samples fixed. The first
    pass after the warm-up still runs 30-50% slow while the JIT settles;
    the floor keeps it from weighing more on a slow host than a fast one."""
    samples, passes, t_start = [], 0, time.perf_counter()
    t_pass = 0.0
    while passes < min_passes or time.perf_counter() - t_start + t_pass <= seconds:
        t0 = time.perf_counter()
        wl.begin_pass(spark)
        order = wl.ops if wl.ordered else [wl.ops[i] for i in rng.permutation(len(wl.ops))]
        for op in order:
            if tracer:
                tracer.op_id = len(samples)
            samples.append((op, *one_op(wl, spark, op, tracer)))
        passes += 1
        t_pass = time.perf_counter() - t0
    return samples


def work_per_op(spark, n_ops: int) -> dict[str, float]:
    """Spark work of the untraced timed ops, per op: jobs, tasks, and the
    bytes their stages moved (file input and output, shuffle read and
    write)."""
    from trace import group_stages

    jobs, stages = group_stages(spark.sparkContext, TIMED_GROUP)
    st = stages.values()
    moved = ("inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes")
    return {
        "jobs_per_op": len(jobs) / n_ops,
        "tasks_per_op": sum(x["numCompleteTasks"] for x in st) / n_ops,
        "moved_bytes_per_op": sum(x[f] for x in st for f in moved) / n_ops,
    }


def ops_per_s(samples) -> float:
    """Correct ops per second of timed op latency."""
    return sum(ok for _, _, ok in samples) / sum(dt for _, dt, _ in samples)


def latency_p50_ms(samples) -> float:
    """Median latency over every timed op."""
    return 1000.0 * statistics.median(dt for _, dt, _ in samples)


def warm_up(wl, spark, rng) -> tuple[float, int]:
    """One untimed pass; each op's first result is checked against its
    oracle outside the timing. Returns (seconds spent in ops, failures)."""
    warm, failures = 0.0, 0
    wl.begin_pass(spark)
    for op in wl.ops if wl.ordered else [wl.ops[i] for i in rng.permutation(len(wl.ops))]:
        t0 = time.perf_counter()
        try:
            result = wl.run(spark, op)
        except Exception as e:  # noqa: BLE001 — a raising op is counted, the run goes on
            result, ok, msg = None, False, f"raised {type(e).__name__}: {str(e)[:300]}"
        warm += time.perf_counter() - t0
        if result is not None:
            ok, msg = wl.check_first(spark, op, result)
        if not ok:
            failures += 1
            print(f"warm-up {op}: {msg}", file=sys.stderr)
    return warm, failures


def traced_phase(wl, spark, seconds: float, rng, cores: int):
    """Timed passes with every traced engine function wrapped in a span.
    Returns (samples, per-layer metrics without the overhead, tracer)."""
    from trace import Tracer, layer_metrics

    tracer = Tracer(spark)
    tracer.install()
    try:
        samples = timed_phase(wl, spark, seconds, rng, tracer)
    finally:
        tracer.uninstall()
    layers = layer_metrics(tracer.spans, len(samples), cores)
    layers.update(wl.layer_extras(tracer, samples) if isinstance(wl, IncrementalEtl) else {
        "operators.upsert.bytes_written_per_input_byte": 0.0,
        "operators.upsert.target_files": 0.0})
    for op in dict.fromkeys(OLAP_OPS + [o for o in wl.ops if o in CORPUS_OPS]):
        lat = [dt for o, dt, _ in samples if o == op]
        layers[f"queries.{op}.p50_ms"] = 1000.0 * statistics.median(lat) if lat else 0.0
    return samples, layers, tracer


def result_line(warm_failures: int, n_warm: int, samples, metrics: dict) -> dict:
    """The result object: every warm-up and timed op counts as attempted;
    a raising op or a wrong result counts as failed."""
    failed = warm_failures + sum(not ok for _, _, ok in samples)
    return {"correct": failed == 0, "attempted": n_warm + len(samples), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark, its Python workers and tempfile all stay inside the checkout;
    # workers import etl_mini_spark from it (UDF ops fail without this).
    os.environ.update({
        "TZ": "UTC",  # collected timestamps are naive local times
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "tmp"),
        # every JVM (the launcher too): temp files in the checkout, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]),
    })
    time.tzset()
    for p in (str(BENCH), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import etl_mini_spark.queries  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        shutil.rmtree(work.parent, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    try:
        return measure(args, WORKLOADS[args.workload](), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, work: Path) -> int:
    import numpy as np

    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()[0]
    wl.prepare(args.seed, work / "data")
    rng = np.random.default_rng(args.seed)

    # set-up: session start plus one untimed warm-up pass whose results
    # are checked against the oracles outside the timing. The session is
    # started twice more after the timed phases, so no stopped context
    # shares the JVM with them, and the median start is kept.
    t0 = time.perf_counter()
    spark = start_session(cores)
    spark.range(1).collect()
    starts = [time.perf_counter() - t0]
    try:
        warm, failures = warm_up(wl, spark, rng)
        samples = timed_phase(wl, spark, args.seconds, rng)
        work_done = work_per_op(spark, len(samples))
        traced = []
        if args.trace:
            traced, layers, tracer = traced_phase(wl, spark, args.seconds, rng, cores)
            layers["trace_overhead_frac"] = 1.0 - ops_per_s(traced) / ops_per_s(samples)
        from pyspark import SparkContext

        env = environment(spark, cores, load_before)
        rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(SparkContext._gateway.proc.pid)
        if args.trace:
            layers.update({"python.peak_rss_mb": rss_py, "jvm.peak_rss_mb": rss_jvm})
            tracer.dump(ROOT / ".perfbench" / "traces" / f"{args.workload}-s{args.seed}.json",
                        {"workload": args.workload, "seed": args.seed, "env": env})
        for _ in range(2):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores)
            spark.range(1).collect()
            starts.append(time.perf_counter() - t0)
        setup_s = statistics.median(starts) + warm
    finally:
        stop_session(spark)
    env["loadavg_1m_after"] = os.getloadavg()[0]

    # end-to-end metrics come from the untraced passes only
    e2e = {**work_done, "setup_s": setup_s}
    timing = {
        "ops_per_s": ops_per_s(samples),
        "latency_p50_ms": latency_p50_ms(samples),
        "peak_rss_mb": rss_py + rss_jvm,
        "timed_ops": len(samples),
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = result_line(failures, len(wl.ops), samples + traced, metrics)
    print(json.dumps({"env": env, "end_to_end": e2e, "timing": timing,
                      "failed_frac": result["failed"] / result["attempted"],
                      "timed_ms": [[op, round(1000.0 * dt, 1)] for op, dt, _ in samples]}))
    print(json.dumps(result))
    return 0


def environment(spark, cores: int, load_before: float) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_1m_before": load_before,
    }


if __name__ == "__main__":
    sys.exit(main())
