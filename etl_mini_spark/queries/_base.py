"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair. The driver (and tests/test_queries_oracle)
runs the Spark side and the DuckDB oracle on the same parquet and
hash-compares values — names here ARE the correctness surface.

Conventions (hash-parity rules, FIXTURES.md §C):
- every computed column aliased identically in Spark and SQL
- timestamps/dates stringified ('yyyy-MM-dd[ HH:mm:ss]'), UTC session
- float aggregates rounded (2 for big sums, 6 for ratios/averages)
- integer aggregates cast to BIGINT in DuckDB (sum() is HUGEINT there)
- deterministic tie-breakers on every top-k / rank / limit
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.functions.registry import AdditionalField, default_registry, apply_additional_fields
from etl_mini_spark.functions.sanitize import sanitize_scalar
from etl_mini_spark.functions.time_fns import normalize_iso_col
from etl_mini_spark.operators import (
    asof_join,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    embedding_near_dup_pairs,
    exact_dedup,
    merge_upsert,
    near_dup_pairs_minhash_lsh,
    near_dup_pairs_ngram_jaccard,
    ordered_dedup,
    simhash,
)
from etl_mini_spark.operators import text as TX
from etl_mini_spark.operators.multimodal import attach_binary_payload, decode_media
from etl_mini_spark.session import load_table, static_plan

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    """Register ``fn`` as query ``name``. The registered builder plans
    the DataFrame it returns under ``session.static_plan``, so a small
    read runs one static plan instead of one AQE job per exchange; its
    ``collect``/``toPandas`` reuse that plan. ``fn`` itself stays as
    written, for builders that compose other builders' DataFrames."""
    def deco(fn):
        @functools.wraps(fn)
        def planned(*args, **kwargs):
            df = fn(*args, **kwargs)
            with static_plan(df):
                df._jdf.queryExecution().executedPlan()
            return df

        QUERIES[name] = planned
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def half_up(col, k: int = 6):
    """floor(x*10^k + 0.5)/10^k — the repo's HALF_UP display rounding,
    identical IEEE op sequence on both engines (FIXTURES.md §C)."""
    scale = 10 ** k
    return F.floor(col * scale + F.lit(0.5)) / scale


_TMP = Path(__file__).resolve().parents[2] / "tmp"  # the repository's tmp/


def _sweep_scratch(prefix: str, min_age_s: int = 3600) -> None:
    """Remove stale ``tmp/<prefix>_*`` scratch left by PREVIOUS runs.

    Age-gated: only dirs untouched for ``min_age_s`` are removed. A
    concurrent verification shard (tests/test_queries_oracle.py runs
    the registry as parallel subprocesses) or a twin entry re-running
    the same builder (stream_capped_sessions_checksum calls the
    stream_capped_sessions builder) must never rmtree another live
    run's streaming scratch mid-query — an unconditional glob cleanup
    here was observed as a flaky STREAM_FAILED under the sharded gate.
    Live scratch is minutes old; anything past the gate is debris."""
    import shutil
    import time

    now = time.time()
    for old in _TMP.glob(f"{prefix}_*"):
        try:
            if now - old.stat().st_mtime >= min_age_s:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


