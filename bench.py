#!/usr/bin/env python
"""Benchmark harness: headline registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "scan_checksum",
    "agg_pricing_summary",
    "agg_distinct",
    "join_inner_revenue",
    "join_left_counts",
    "join_star_dims",
    "join_asof_last_order",
    "window_running_total",
    "window_topk_per_group",
    "dedup_keep_first",
    "window_tumbling_1h",
    "window_session_30m",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "similarity_topk",
    "embedding_near_dups",
    "text_quality",
    "multimodal_decode",
    "agg_stats_suite",
    "agg_percentiles",
    "sample_split_counts",
    "sql_q5_local_volume",
    "sql_q10_returned",
]

# Round-13 extension suite (verdict #5): representatives of the
# post-r9 tiers so regressions in newer code are bench-visible. Kept
# SEPARATE from HEADLINE — "value" stays the round-1 23-query total
# for baseline continuity; the extension total is reported as
# "ext_value"/"ext_queries" alongside.
HEADLINE_EXT = [
    "equi_depth_histogram",       # exact_global_rank/layout path (r12)
    "rsi_wilder_14",              # sequential cross-batch recursion (r12)
    "ann_pq_rerank",              # PQ ADC + exact re-rank ANN (r13)
    "merge_when_clauses",         # lakehouse MERGE clause semantics (r12)
    "corpus_curation_pipeline",   # end-to-end curation capstone (r08)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_mini_spark.queries import QUERIES
    from etl_mini_spark.queries.llm_dedup_ann import multimodal_decode
    from etl_mini_spark.session import get_spark

    # `multimodal_decode` was retired from the registry in round 14
    # (superseded by the oracle-backed real-pixel decode entries), but
    # the round-1 BASELINE.md headline total includes it — time the
    # same function directly so the old-23 series stays comparable.
    resolve = dict(QUERIES)
    resolve.setdefault("multimodal_decode", multimodal_decode)

    spark = get_spark("etl-mini-spark-bench")

    # One untimed warmup pass: JIT/codegen caches, parquet footers, and
    # Python UDF worker pools all spin up here so the timed pass
    # measures steady-state throughput (what a long-running cluster job
    # actually sees), not process cold-start.
    for name in HEADLINE + HEADLINE_EXT:
        resolve[name](spark, sf_dir).collect()

    # Per-query min over REPS timed runs — the machine is shared, so a
    # single sample is dominated by scheduler noise, not the query.
    # Raised 2→3 after round 2: a +19% drift hit 21/23 queries including
    # bare parquet scans whose plans hadn't changed — ambient-load noise
    # that min-of-2 failed to suppress (see BASELINE.md bench protocol).
    REPS = 3
    timings: dict[str, float] = {}
    ext_timings: dict[str, float] = {}
    for _ in range(REPS):
        for name, sink in [(n, timings) for n in HEADLINE] + [
            (n, ext_timings) for n in HEADLINE_EXT
        ]:
            t0 = time.perf_counter()
            df = resolve[name](spark, sf_dir)
            df.collect()
            dt = round(time.perf_counter() - t0, 4)
            if name not in sink or dt < sink[name]:
                sink[name] = dt
    total = sum(timings.values())

    sf = float(Path(sf_dir).name.replace("sf", "")) if "sf" in Path(sf_dir).name else None
    out = {
        "metric": "dq_suite_wallclock",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "ext_value": round(sum(ext_timings.values()), 4),
        "ext_queries": ext_timings,
        "sf": sf,
        "warmup_passes": 1,
        "reps": REPS,
        "agg": "min-per-query",
    }
    # A run can land on a box busy with other JVMs. BENCH_IDLE.json is
    # the COMMITTED min-of-3 idle protocol run (see BASELINE.md);
    # embedding it puts the protocol numbers beside every run's own.
    idle_ref = Path(__file__).resolve().parent / "BENCH_IDLE.json"
    if idle_ref.exists():
        try:
            out["idle_ref"] = json.loads(idle_ref.read_text())
        except (OSError, ValueError) as exc:
            # never lose a completed run to a malformed reference file
            out["idle_ref"] = {"error": f"unreadable BENCH_IDLE.json: {exc}"}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
