"""SparkSession factory with scale-aware defaults.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. Cluster
profile: the same builder settings hold — AQE, UTC session timezone,
Arrow transfers — only master/memory change. Session timezone is pinned
to UTC because timestamp-derivation operators (functions/time_fns.py)
must be deterministic regardless of host TZ (SURVEY.md §7.4).
"""

from __future__ import annotations

import os
from contextlib import contextmanager, nullcontext

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-mini-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    At 100 TB the same logical plans run unchanged; only
    ``master``/``spark.executor.*`` differ. ``spark.sql.shuffle.partitions``
    defaults to max(2×cores, 32) locally; on a real cluster AQE coalesces
    post-shuffle partitions at runtime so an over-estimate is safe.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(32, 2 * n_cores)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(df, eager: bool = True):
    """Materialize ``df`` once and truncate its lineage — the §3.3
    "checkpoint a multiply-referenced intermediate" primitive used by
    the dedup/graph/stats operators. Superstep loops do not call it
    per round themselves: ``operators.graph.iterate`` pins their state
    at its checkpoint cadence, so every loop checkpoint lands here.

    Default: ``localCheckpoint`` (executor-local shuffle/storage blocks
    — no extra I/O round trip). CAVEAT: localCheckpoint is NOT resilient
    to executor loss; losing an executor after the checkpoint fails the
    job instead of recomputing, which is fine single-JVM/local and for
    small projections, but on a preemptible cluster set
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir>`` to switch every pin site
    to reliable ``checkpoint()`` into that (HDFS/object-store) directory
    — survives executor loss at the cost of a write+read of the pinned
    data."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the enclosed block; each key's
    own value (or its unset state) comes back on exit, also when the
    block raises. The confs are session-wide: another thread sharing
    the session sees them while the block runs."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def loop_confs(spark: SparkSession, partitions: int):
    """Run the enclosed plans with AQE off and ``partitions`` shuffle
    partitions (:func:`scoped_confs`). AQE replans every stage and runs
    each exchange as a job of its own, which costs more than the data
    in a superstep loop (PageRank runs ~130 rounds; size ``partitions``
    to the cluster on a real deployment) and in a small one-shot plan,
    where :func:`static_plan` picks ``partitions`` from the scanned
    bytes."""
    return scoped_confs(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(partitions),
    })


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _scanned_bytes(jvm, plan) -> int:
    """Bytes the leaves of a logical plan hold by their own statistics
    (a file scan: its files' size; a leaf of unknown size: Spark's
    ``defaultSizeInBytes``, Long.MaxValue), the leaves of subquery plans
    included. Runs no job."""
    total = sum(leaf.stats().sizeInBytes() for leaf in _scala_list(plan.collectLeaves()))
    if plan.containsPattern(jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION()):
        nodes = [plan]
        while nodes:
            node = nodes.pop()
            nodes += _scala_list(node.children())
            total += sum(_scanned_bytes(jvm, sub) for sub in _scala_list(node.subqueries()))
    return total


@contextmanager
def static_plan(df):
    """Plan (and run) what the block does with ``df`` without AQE when
    ``df`` reads little; otherwise leave the session's settings alone.
    Yields :func:`static_partitions` of ``df``: the block's shuffle
    partition count, or None when the session's plan is kept.

    AQE runs every exchange and broadcast as a Spark job of its own,
    and on a small read those fixed costs are most of the read. When
    the rule of :func:`static_partitions` gives a count, the block runs
    under :func:`loop_confs` with that many shuffle partitions. A join
    side reads part of the plan's bytes, which fit the broadcast
    threshold, so the static plan broadcasts it, as AQE would.

    Plan inside the block: a DataFrame action or write plans when it
    runs, and ``df._jdf.queryExecution().executedPlan()`` fixes the
    plan that later ``collect``/``toPandas`` calls on ``df`` reuse."""
    n = static_partitions(df)
    with nullcontext() if n is None else loop_confs(df.sparkSession, n):
        yield n


def static_partitions(df) -> int | None:
    """The partition count a small ``df`` runs with, or None to keep
    the session's (AQE) plan. The one size rule of the engine:
    :func:`static_plan` uses it as the shuffle partition count,
    ``plans.pipeline.build_plan`` coalesces a source it gives 1 to one
    partition, and ``sources.fs.replace_parquet`` writes at most this
    many files.

    From the optimized plan's leaf statistics only, so it runs no job:
    when the leaves hold ``scanned`` bytes in total and that fits
    ``min(spark.sql.adaptive.advisoryPartitionSizeInBytes,
    spark.sql.autoBroadcastJoinThreshold)``, the count is
    ``clamp(floor(scanned /
    spark.sql.adaptive.coalescePartitions.minPartitionSize), 1,
    defaultParallelism)``. That is the count AQE's coalescing reaches
    under the default ``parallelismFirst``: it splits a shuffle over
    ``minPartitionSize`` (1 MB) across up to ``defaultParallelism``
    partitions, not into one. A larger plan, a leaf of unknown size, a
    streaming plan, or a session that already has AQE off give None."""
    spark = df.sparkSession
    if df.isStreaming or spark.conf.get("spark.sql.adaptive.enabled") == "false":
        return None
    conf = spark._jsparkSession.sessionState().conf()
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    bound = min(conf.getConf(sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()),
                conf.autoBroadcastJoinThreshold())
    scanned = _scanned_bytes(spark._jvm, df._jdf.queryExecution().optimizedPlan())
    if scanned > bound:
        return None
    min_size = conf.getConf(sql_conf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())
    return max(1, min(scanned // min_size, spark.sparkContext.defaultParallelism))


def spread(df, min_partitions: int | None = None):
    """Repartition a DataFrame whose scan produced fewer partitions than
    cores (single-row-group parquet files are unsplittable) so heavy
    per-row work parallelizes. No-op when the scan is already wide —
    i.e. free on a real cluster reading many files, essential on
    local bench data."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_tables(spark: SparkSession, sf_dir: str, tables=None) -> None:
    """Register the testdata parquet tables as temp views so the full
    ANSI-SQL surface (`spark.sql`) works against them — the engine's
    query API is DataFrame AND SQL; both compile to the same plans."""
    for t in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables (TESTDATA.md).

    Handles nanosecond-timestamp columns (events.ts) regardless of how
    the calling SparkSession was configured. Runs no Spark job when the
    table was loaded before and its files are unchanged: ``read_parquet``
    caches the inferred schema keyed on the path and invalidated by the
    files' (name, mtime_ns, size); remote paths always infer — see
    sources/readers.py."""
    from etl_mini_spark.sources.readers import read_parquet

    # Timestamp-derivation parity requires a pinned session TZ even when
    # the caller built its own SparkSession (SURVEY.md §7.4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def enable_runtime_filters(
    spark: SparkSession,
    creation_side_max: str = "64MB",
    application_side_min: str = "1KB",
) -> None:
    """Turn on runtime bloom-filter join pruning (Catalyst's
    InjectRuntimeFilter): for a shuffle join whose build side is
    selective, Spark computes a bloom filter over the build-side keys
    and applies `might_contain` on the probe side BEFORE the shuffle —
    at 100 TB this drops most probe rows at the scan/map stage instead
    of shuffling them. Off the hot path of correctness (a bloom filter
    only ever false-positives), so safe to enable globally.

    All three knobs are runtime-settable SQL confs. `creation_side_max`
    bounds the build side size eligible for filter creation (too-large
    build sides would make an oversized filter); `application_side_min`
    is the probe-scan size below which pruning isn't worth it."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", creation_side_max
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_min,
    )
