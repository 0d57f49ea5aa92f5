"""Pipeline metadata / checkpoint table (reference: the per-run
metadata upsert in elasticsearch_to_postgresql.py:213-258 + the
not-advanced-when-source-missing rule, standard_pipeline.py:20-23,
117-124).

Parquet-backed control table keyed by pipeline name; each committed
run upserts (window_start, window_end, updated_at). The incremental
contract: the next run's half-open window starts at the last committed
``window_end`` — a failed or skipped run leaves the checkpoint
untouched, so retries re-extract the same window (idempotent together
with an upsert/overwrite sink).

The table holds one row per pipeline and its schema is fixed here
(``SCHEMA``), so it is read with that schema — no inference job — and a
read is one Spark job with one task. A commit builds its row in the JVM
(no Python worker) and rewrites the table as one part file in one job
with one task."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_spark.sources.fs import fs_create_marker, fs_delete, fs_exists, replace_parquet

SCHEMA = "pipeline_name string, window_start timestamp, window_end timestamp, updated_at timestamp"


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _rows(self) -> DataFrame:
        return self.spark.read.schema(SCHEMA).parquet(self.path)

    def last_window_end(self, pipeline_name: str):
        """The committed high-water mark, or None on first run.

        One Spark job: the pipeline's ``window_end`` values are collected
        and their max taken on the driver, so no aggregate (and no
        shuffle stage) runs. The path may be local or any Hadoop
        filesystem URI (``file://``, ``hdfs://``, ``s3a://``)."""
        if not fs_exists(self.spark, self.path):
            return None
        ends = (
            self._rows()
            .filter(F.col("pipeline_name") == pipeline_name)
            .select("window_end")
            .collect()
        )
        return max((r[0] for r in ends if r[0] is not None), default=None)

    def commit(self, pipeline_name: str, window_start, window_end) -> None:
        """Upsert this pipeline's checkpoint row (conflict column:
        pipeline_name — ≡ the reference's ON CONFLICT key).

        The row is a literal projection built in the JVM. The new table
        is the other pipelines' rows plus this row, coalesced to one
        part file and swapped in through ``sources.fs.replace_parquet``:
        one Spark job with one task. For a unique key and a one-row
        source this is exactly the keyed upsert (a left-anti join on a
        literal key is a ``!=`` filter).

        Concurrency contract: commits are serialized by an advisory
        lock marker (atomic create). A second commit that catches the
        table mid-swap would base its merge on the pre-swap rows and
        silently DROP the other pipeline's row — so instead of
        last-writer-wins data loss, a concurrent commit raises
        ``ConcurrentCommitError`` loudly and the caller retries. A
        crashed committer leaves a stale lock; operators remove
        ``{path}.lock`` manually after verifying no commit is running
        (a transactional format removes the lock entirely)."""
        lock = self.path.rstrip("/") + ".lock"
        if not fs_create_marker(self.spark, lock):
            raise ConcurrentCommitError(
                f"checkpoint commit already in progress for {self.path} "
                f"(lock: {lock}); retry after it finishes, or remove a "
                "stale lock left by a crashed committer"
            )
        try:
            row = self.spark.range(1).select(
                F.lit(pipeline_name).alias("pipeline_name"),
                F.lit(window_start).cast("timestamp").alias("window_start"),
                F.lit(window_end).cast("timestamp").alias("window_end"),
                F.current_timestamp().alias("updated_at"),
            )

            def table(exists: bool) -> DataFrame:
                if exists:
                    others = self._rows().filter(F.col("pipeline_name") != pipeline_name)
                    return others.unionByName(row).coalesce(1)
                return row.coalesce(1)

            replace_parquet(self.spark, self.path, table)
        finally:
            fs_delete(self.spark, lock)


class ConcurrentCommitError(RuntimeError):
    """A second checkpoint commit raced an in-flight one; the loser
    fails loudly instead of silently dropping the winner's row."""
