"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Smoke runs use inputs far smaller than the benchmark's so the whole
file takes about two minutes on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
for p in (str(BENCH), str(ROOT)):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import run  # noqa: E402


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_generators_are_byte_identical_per_seed(tmp_path):
    for name, make in [
        ("olap", lambda s, d: gen.olap_inputs(s, d, sf=0.001)),
        ("corpus", lambda s, d: gen.corpus_inputs(s, d, sf=0.001, n_docs=300, n_vecs=300)),
        ("etl", lambda s, d: gen.etl_inputs(s, d, n_rows=2000, n_users=40)),
    ]:
        make(7, tmp_path / f"{name}-a")
        make(7, tmp_path / f"{name}-b")
        make(8, tmp_path / f"{name}-c")
        a, b, c = (_digests(tmp_path / f"{name}-{x}") for x in "abc")
        assert a == b, name
        assert a != c, name


def test_incremental_source_resends_keys_later():
    t = gen.incremental_source(np.random.default_rng(3), 5000, 50)
    ids = t.column("event_id").to_numpy()
    ts = t.column("ts").cast("int64").to_numpy()
    assert len(ids) - len(np.unique(ids)) == 500
    assert (np.diff(ts) >= 0).all()
    order = np.lexsort((ts, ids))
    i, t_sorted = ids[order], ts[order]
    same = i[1:] == i[:-1]
    assert (t_sorted[1:][same] > t_sorted[:-1][same]).all(), "a resend must have a later ts"


def test_float_rounding_flip_is_tolerated_once():
    import pandas as pd

    want = pd.DataFrame({"k": ["a", "b"], "revenue": [734828.77, 10.5]})
    assert run.same_result(want.assign(revenue=[734828.78, 10.5]), want)
    assert not run.same_result(want.assign(revenue=[734828.79, 10.5]), want)
    assert not run.same_result(want.assign(k=["a", "c"]), want)
    assert not run.same_result(want.iloc[:1], want)
    assert run.same_result(want.iloc[:0].astype(object), want.iloc[:0])


def test_posting_list_jaccard_matches_registry_oracle(tmp_path):
    import duckdb

    from etl_mini_spark.queries import ORACLE

    gen.write_tables({"documents": gen.documents_table(np.random.default_rng(5), 160)}, tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    sql = ORACLE["dedup_ngram_jaccard"]
    want = con.execute(f"SELECT * FROM ({sql}) ORDER BY ALL").fetchall()
    got = con.execute(f"SELECT * FROM ({run.oracle_sql('dedup_ngram_jaccard', sql)}) ORDER BY ALL"
                      ).fetchall()
    assert got == want and len(want) > 0
    # the same block is rewritten in every oracle the corpus workload checks
    for name in ("dedup_minhash_lsh", "corpus_curation_pipeline"):
        assert run.oracle_sql(name, ORACLE[name]) != ORACLE[name]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("TMPDIR", str(tmp))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    s = run.start_session(len(os.sched_getaffinity(0)))
    yield s
    s.stop()


def _small(name):
    if name == "incremental_etl":
        return run.IncrementalEtl(rows=3000, users=40, windows=3)
    make = {
        "olap_sf001": lambda s, d: gen.olap_inputs(s, d, sf=0.001),
        "corpus_curation": lambda s, d: gen.corpus_inputs(s, d, sf=0.001, n_docs=300,
                                                          n_vecs=300),
    }[name]
    ops = run.OLAP_OPS if name == "olap_sf001" else run.CORPUS_OPS
    return run.QueryWorkload(ops, make)


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_smoke(spark, tmp_path, name):
    wl = _small(name)
    wl.prepare(1, tmp_path / "data")
    rng = np.random.default_rng(1)
    _, failures = run.warm_up(wl, spark, rng)
    samples = run.timed_phase(wl, spark, 0.0, rng, min_passes=1)
    assert failures == 0
    assert sorted(op for op, _, _ in samples) == sorted(wl.ops)
    assert all(ok for _, _, ok in samples)


def test_traced_spans_nest_and_self_times_fit(spark, tmp_path):
    from trace import self_times

    wl = _small("incremental_etl")
    wl.prepare(2, tmp_path / "data")
    rng = np.random.default_rng(2)
    run.warm_up(wl, spark, rng)
    samples, layers, tracer = run.traced_phase(wl, spark, 0.0, rng, 4)
    assert all(ok for _, _, ok in samples)
    spans = {s["id"]: s for s in tracer.spans}
    own = self_times(tracer.spans)
    for s in tracer.spans:
        assert own[s["id"]] >= 0.0
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
            assert own[s["id"]] <= p["end"] - p["start"]
    assert layers["plans.pipeline.run_pipeline.jobs"] > 0
    assert layers["operators.upsert.upsert_parquet.ms"] > 0
    # the last three are added by measure(), after the session's phases
    measured_after = {"python.peak_rss_mb", "jvm.peak_rss_mb", "trace_overhead_frac"}
    assert set(layers) | measured_after == set(run.per_layer_names())
    # the engine is left unwrapped afterwards
    from etl_mini_spark.plans import pipeline
    assert not hasattr(pipeline.run_pipeline, "__wrapped_by_perfbench__")


def test_work_counts_take_the_ops_and_leave_out_the_checks(spark, tmp_path, monkeypatch):
    # the check reads the target back with a Spark job after every window
    monkeypatch.setattr(run, "TIMED_GROUP", "perfbench-test-work")
    wl = _small("incremental_etl")
    wl.prepare(4, tmp_path / "data")
    rng = np.random.default_rng(4)
    run.warm_up(wl, spark, rng)
    samples = run.timed_phase(wl, spark, 0.0, rng, min_passes=1)
    work = run.work_per_op(spark, len(samples))
    _, layers, _ = run.traced_phase(wl, spark, 0.0, rng, 4)
    assert work["jobs_per_op"] == layers["plans.pipeline.run_pipeline.jobs"] > 0
    assert work["tasks_per_op"] >= work["jobs_per_op"]
    assert work["moved_bytes_per_op"] > 0


def test_wrong_result_counts_as_failed(spark, tmp_path):
    wl = run.QueryWorkload(["agg_distinct", "scan_checksum"],
                           lambda s, d: gen.olap_inputs(s, d, sf=0.001))
    wl.prepare(3, tmp_path / "data")
    rng = np.random.default_rng(3)
    _, failures = run.warm_up(wl, spark, rng)
    assert failures == 0
    good = wl.expected["agg_distinct"]
    wl.expected["agg_distinct"] = good.assign(**{good.columns[0]: good[good.columns[0]] + 1})
    samples = run.timed_phase(wl, spark, 0.0, rng, min_passes=2)
    res = run.result_line(failures, len(wl.ops), samples, {})
    assert res == {"correct": False, "attempted": 6, "failed": 2, "metrics": {}}


def test_benchmark_json_matches_the_program():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])


def test_exits_nonzero_without_the_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in ("run.py", "gen.py", "trace.py"):
        (tmp_path / "perfbench" / f).write_bytes((BENCH / f).read_bytes())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_sf001",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
