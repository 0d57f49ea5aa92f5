"""Keyed upsert (merge) — the reference's Postgres ``ON CONFLICT`` path
re-expressed as a DataFrame merge.

Reference semantics (services/sources/implementations/dwh/
postgresql_service.py:181-239, conflict SQL at 213-229):
- ``update``: source row wins on key collision (``DO UPDATE SET
  col = excluded.col`` for the update columns)
- ``nothing``: target row wins (``DO NOTHING``)

``merge_upsert`` is the pure-DataFrame core: a small merge is one
partition and a window over the keys, planned inside the write job; a
larger one is a left-anti join against the source keys plus a union,
broadcast when the source is small. ``upsert_parquet`` is the
table-level sink: stage-then-swap so a failed write never corrupts the
target (SURVEY.md §7.4 exactly-once note). On Delta-enabled clusters,
swap the rewrite for ``MERGE INTO``.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_spark.session import static_partitions

CONFLICT_ACTIONS = ("update", "nothing")


def _check_upsert(source: DataFrame, keys: list[str] | None, conflict_action: str) -> None:
    """Reject a bad upsert config before any Spark job: an unknown
    ``conflict_action``, no keys, or keys that are not source columns.
    Without this, an unknown action ran the update path and missing
    keys wrote the first window unkeyed, failing only on the next."""
    if conflict_action not in CONFLICT_ACTIONS:
        raise ValueError(
            f"conflict_action must be one of {CONFLICT_ACTIONS}, got {conflict_action!r}")
    if not keys:
        raise ValueError(f"upsert needs at least one key column, got {keys!r}")
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"upsert keys {missing} are not source columns {source.columns}")


def _merge_in_one_partition(
    target: DataFrame, source: DataFrame, keys: list[str], source_wins: bool
) -> DataFrame | None:
    """The whole-row merge of ``source`` into ``target`` as one
    partition, or None when the size rule gives the two more than one.

    ``__w`` is true on the side that wins a collision (the source when
    ``source_wins``, else the target). A row is kept when it won, when
    no row of its key won, or when its key has a NULL part. The window
    needs ``withColumn``: Spark rejects a window expression in a
    filter."""
    both = target.withColumn("__w", F.lit(not source_wins)).unionByName(
        source.select(*target.columns).withColumn("__w", F.lit(source_wins)))
    if static_partitions(both) != 1:
        return None
    null_key = reduce(operator.or_, [F.col(k).isNull() for k in keys])
    return (both.coalesce(1)
            .withColumn("__m", F.max("__w").over(Window.partitionBy(*keys)))
            .filter(F.col("__w") | ~F.col("__m") | null_key)
            .drop("__w", "__m"))


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_columns: list[str] | None = None,
    conflict_action: str = "update",
) -> DataFrame:
    """Return target merged with source on ``keys``.

    conflict_action='update': colliding target rows are replaced —
    entirely when update_columns is None, else only those columns are
    taken from source. 'nothing': colliding source rows are dropped.
    Raises ValueError on an unknown action, no keys, or keys missing
    from ``source``.

    The whole-row update and 'nothing' plan as one partition when
    ``session.static_partitions`` gives their inputs one: the target and
    the source are unioned with a flag that marks the winning side, and
    a window over the keys drops each losing row whose key a winning
    row holds. One partition satisfies the window's clustering, so the
    merge plans no exchange and no broadcast and runs inside the job
    that consumes it, reading the source once. A larger whole-row
    update plans as the target left-anti joined with the source keys,
    unioned with the source: one join, whose build side (the source
    keys) is broadcast when small. ``update_columns`` adds a left join
    of the target with the source and a left-anti join of the source
    with the target keys; a larger 'nothing' is that left-anti join
    alone, unioned with the target. Every plan keeps a row whose key
    has a NULL part, as the anti join does (NULL never matches).
    """
    _check_upsert(source, keys, conflict_action)
    if conflict_action == "nothing" or update_columns is None:
        merged = _merge_in_one_partition(target, source, keys, conflict_action == "update")
        if merged is not None:
            return merged
    if conflict_action == "nothing":
        new_rows = source.join(target.select(*keys), keys, "left_anti")
        return target.unionByName(new_rows.select(*target.columns))

    if update_columns is None:
        kept = target.join(source.select(*keys), keys, "left_anti")
        return kept.unionByName(source.select(*target.columns))

    # A __matched flag (not coalesce) distinguishes "no source row" from
    # "source row with an explicit NULL": ON CONFLICT DO UPDATE SET
    # col = excluded.col overwrites with NULL, and so must this
    # (ref postgresql_service.py:213-229 — excluded.col semantics).
    src = source.select(
        *keys,
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__src_{c}") for c in update_columns],
    )
    merged = target.join(src, keys, "left")
    proj = []
    for c in target.columns:
        if c in update_columns:
            proj.append(
                F.when(F.col("__matched"), F.col(f"__src_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            proj.append(F.col(c))
    updated = merged.select(*proj)
    new_rows = source.join(target.select(*keys), keys, "left_anti")
    return updated.unionByName(new_rows.select(*target.columns))


def upsert_parquet(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    update_columns: list[str] | None = None,
    conflict_action: str = "update",
) -> None:
    """Merge ``source`` into the parquet table at ``target_path``.

    Write-stage-swap through ``sources.fs.replace_parquet``: the merge
    result lands in ``{path}__stage`` and is only then swapped over the
    target, so a mid-write failure leaves the original intact and a
    retry is idempotent. All path operations go through the Hadoop
    FileSystem API — the same code path works on file://, hdfs://, and
    s3a:// targets, not just local disk. A crash between the delete and
    the rename is recovered by ``replace_parquet`` on the next call,
    before the target is read; a transactional format (Delta/Iceberg
    MERGE) removes the window entirely.

    A bad config (see ``merge_upsert``) raises ValueError before any
    Spark job, also on the first call, when there is no target yet.
    ``replace_parquet`` plans a small merge statically, writes it as at
    most ``session.static_partitions`` files and caches the schema it
    wrote, and ``merge_upsert`` merges a small whole-row upsert in one
    partition, so a steady small upsert runs one Spark job (the write,
    which reads the target and the source once each), a merge that
    reads under 1 MiB writes one part file, and the next read of the
    target runs none. A source from ``plans.pipeline.build_plan`` that
    the rule gives one partition is already coalesced to one, so the
    write does not shuffle."""
    from etl_mini_spark.sources.fs import replace_parquet
    from etl_mini_spark.sources.readers import read_parquet

    _check_upsert(source, keys, conflict_action)

    def merged(exists: bool) -> DataFrame:
        if not exists:
            return source
        target = read_parquet(spark, target_path)
        return merge_upsert(target, source, keys, update_columns, conflict_action)

    replace_parquet(spark, target_path, merged)
