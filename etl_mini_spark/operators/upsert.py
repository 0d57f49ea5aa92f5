"""Keyed upsert (merge) — the reference's Postgres ``ON CONFLICT`` path
re-expressed as a DataFrame merge.

Reference semantics (services/sources/implementations/dwh/
postgresql_service.py:181-239, conflict SQL at 213-229):
- ``update``: source row wins on key collision (``DO UPDATE SET
  col = excluded.col`` for the update columns)
- ``nothing``: target row wins (``DO NOTHING``)

``merge_upsert`` is the pure-DataFrame core: a left-anti join against
the source keys plus a union, broadcast when the source is small;
``upsert_parquet`` is the table-level sink: stage-then-swap so a failed
write never corrupts the target (SURVEY.md §7.4 exactly-once note). On
Delta-enabled clusters, swap the rewrite for ``MERGE INTO``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    The whole-row update plans as the target left-anti joined with the
    source keys, unioned with the source: one join, whose build side
    (the source keys) is broadcast when small. ``update_columns`` adds
    a left join of the target with the source and a left-anti join of
    the source with the target keys; 'nothing' is that left-anti join
    alone, unioned with the target.
    """
    _check_upsert(source, keys, conflict_action)
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
    wrote, so a steady small upsert runs two Spark jobs (the
    source-keys broadcast and the write), a merge that reads under
    1 MiB writes one part file, and the next read of the target runs
    none. A source from ``plans.pipeline.build_plan`` that the rule
    gives one partition is already coalesced to one, so neither job
    shuffles."""
    from etl_mini_spark.sources.fs import replace_parquet
    from etl_mini_spark.sources.readers import read_parquet

    _check_upsert(source, keys, conflict_action)

    def merged(exists: bool) -> DataFrame:
        if not exists:
            return source
        target = read_parquet(spark, target_path)
        return merge_upsert(target, source, keys, update_columns, conflict_action)

    replace_parquet(spark, target_path, merged)
