"""SparkSession factory with scale-aware defaults.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. Cluster
profile: the same builder settings hold — AQE, UTC session timezone,
Arrow transfers — only master/memory change. Session timezone is pinned
to UTC because timestamp-derivation operators (functions/time_fns.py)
must be deterministic regardless of host TZ (SURVEY.md §7.4).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

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
def loop_confs(spark: SparkSession, partitions: int):
    """Run the enclosed plans with AQE off and ``partitions`` shuffle
    partitions; the session's own values come back on exit, also when
    the block raises. AQE replans every stage and runs each exchange as
    a job of its own, which costs more than the data in a superstep
    loop (PageRank runs ~130 rounds) and in a small stage-swap write
    (``sources.fs.replace_parquet``); size ``partitions`` to the
    cluster on a real deployment."""
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(partitions),
    }
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
