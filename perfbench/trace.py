"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark side only: ``Tracer.install``
replaces public functions of the engine at the module attributes their
callers resolve (``etl_mini_spark.session.pin`` for the call-time
``from ... import pin`` sites, ``queries._base.load_table`` for the
import-time one, ...). Each span runs its Spark jobs under its own job
group, so the status store attributes every job, stage and byte to the
innermost span that started it. Spans stay in memory; ``dump`` writes
them once at the end.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"

# span name -> (module, attribute) of the engine function it wraps
TARGETS = {
    "session.load_table": ("etl_mini_spark.session", "load_table"),
    "session.pin": ("etl_mini_spark.session", "pin"),
    "plans.pipeline.run_pipeline": ("etl_mini_spark.plans.pipeline", "run_pipeline"),
    "plans.pipeline.build_plan": ("etl_mini_spark.plans.pipeline", "build_plan"),
    "plans.pipeline.write_sink": ("etl_mini_spark.plans.pipeline", "write_sink"),
    "sources.readers.read_parquet_ts_range": (
        "etl_mini_spark.sources.readers", "read_parquet_ts_range"),
    "operators.upsert.upsert_parquet": ("etl_mini_spark.operators.upsert", "upsert_parquet"),
}
METHOD_TARGETS = {
    "plans.checkpoint.last_window_end": ("etl_mini_spark.plans.checkpoint", "CheckpointTable",
                                         "last_window_end"),
    "plans.checkpoint.commit": ("etl_mini_spark.plans.checkpoint", "CheckpointTable", "commit"),
}
_TRACERS = itertools.count()
STAGE_FIELDS = ("executorRunTime", "inputBytes", "outputBytes", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
                "numCompleteTasks")


@contextmanager
def job_group(sc, group: str, description: str):
    """Run the block's Spark jobs under ``group``, then restore the
    caller's group and description."""
    prev = sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC)
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, prev[0])
        sc.setLocalProperty(_DESC, prev[1])


def group_stages(sc, group: str) -> tuple[list[int], dict[int, dict]]:
    """The job ids of ``group`` and the metrics of the stages they ran,
    skipped stages left out. Drains the listener bus first."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    jobs, stages = sorted(tracker.getJobIdsForGroup(group)), {}
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "SKIPPED":
                stages[sid] = {f: int(getattr(sd, f)()) for f in STAGE_FIELDS}
    return jobs, stages


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._undo: list[tuple] = []
        self.op_id: int | None = None
        self._next = 0
        # job groups stay unique when several tracers share one context
        self._prefix = f"perfbench-{next(_TRACERS)}"

    @contextmanager
    def span(self, name: str):
        sc = self.sc
        self._next += 1
        rec = {"id": self._next, "name": name, "op": self.op_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"{self._prefix}-{self._next}", "jobs": [], "stages": {}}
        with job_group(sc, rec["group"], name):
            self._stack.append(rec)
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
                self._stack.pop()
                self.spans.append(rec)
                self._pending.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped_by_perfbench__ = fn
        return traced

    def install(self) -> None:
        """Swap every module attribute bound to a traced function (the
        defining module and every ``from ... import`` copy of it)."""
        for name, (mod, attr) in TARGETS.items():
            orig = getattr(importlib.import_module(mod), attr)
            traced = self.wrap(name, orig)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith("etl_mini_spark") \
                        and getattr(m, attr, None) is orig:
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, traced)
        for name, (mod, cls_name, attr) in METHOD_TARGETS.items():
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[attr]
            self._undo.append((cls, attr, orig))
            setattr(cls, attr, self.wrap(name, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    def collect_jobs(self) -> None:
        """Attach job ids and per-stage metrics to the spans closed since
        the last call. Call right after each op: the status store keeps
        only the most recent jobs and stages."""
        for rec in self._pending:
            rec["jobs"], rec["stages"] = group_stages(self.sc, rec["group"])
        self._pending.clear()

    def dump(self, path: Path, meta: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [{**s, "stages": {str(k): v for k, v in s["stages"].items()}}
                 for s in self.spans]
        path.write_text(json.dumps({"meta": meta, "spans": spans}))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self seconds: duration minus the part of it that its
    direct children cover (children of one span never overlap, because
    the benchmark drives the engine from a single thread)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def layer_metrics(spans: list[dict], n_ops: int, cores: int) -> dict[str, float]:
    """Per-op averages of each traced layer, from the spans of ``n_ops`` ops."""
    self_s = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    ops = max(n_ops, 1)

    def stages(ss):
        return [st for s in ss for st in s["stages"].values()]

    def ms(name):
        return 1000.0 * sum(self_s[s["id"]] for s in by_name.get(name, [])) / ops

    def jobs(name):
        return sum(len(s["jobs"]) for s in by_name.get(name, [])) / ops

    out = {}
    for layer in ("session.load_table", "session.pin"):
        out[f"{layer}.calls"] = len(by_name.get(layer, [])) / ops
        out[f"{layer}.ms"] = ms(layer)
        out[f"{layer}.jobs"] = jobs(layer)
    out["queries.build.ms"] = ms("queries.build")
    out["queries.build.jobs"] = jobs("queries.build")
    out["queries.build.ms_per_job"] = (out["queries.build.ms"] / out["queries.build.jobs"]
                                       if out["queries.build.jobs"] else 0.0)
    ex = by_name.get("execute", [])
    st = stages(ex)
    wall = sum(s["end"] - s["start"] for s in ex)
    run_ms = sum(x["executorRunTime"] for x in st)
    out.update({
        "execute.ms": ms("execute"),
        "execute.jobs": jobs("execute"),
        "execute.stages": len(st) / ops,
        "execute.tasks": sum(x["numCompleteTasks"] for x in st) / ops,
        "execute.input_bytes": sum(x["inputBytes"] for x in st) / ops,
        "execute.shuffle_read_bytes": sum(x["shuffleReadBytes"] for x in st) / ops,
        "execute.shuffle_write_bytes": sum(x["shuffleWriteBytes"] for x in st) / ops,
        "execute.spill_bytes": sum(x["memoryBytesSpilled"] + x["diskBytesSpilled"]
                                   for x in st) / ops,
        "execute.core_busy_frac": run_ms / (1000.0 * wall * cores) if wall else 0.0,
    })
    for layer in ("plans.pipeline.run_pipeline", "plans.pipeline.build_plan",
                  "plans.pipeline.write_sink", "plans.checkpoint.last_window_end",
                  "plans.checkpoint.commit", "sources.readers.read_parquet_ts_range",
                  "operators.upsert.upsert_parquet"):
        out[f"{layer}.ms"] = ms(layer)
    # every job a pipeline run started, in any of its descendant spans
    parent = {s["id"]: s["parent"] for s in spans}
    roots = {s["id"] for s in by_name.get("plans.pipeline.run_pipeline", [])}

    def under_pipeline(sid):
        while sid is not None:
            if sid in roots:
                return True
            sid = parent.get(sid)
        return False

    out["plans.pipeline.run_pipeline.jobs"] = sum(
        len(s["jobs"]) for s in spans if under_pipeline(s["id"])) / ops
    return out
