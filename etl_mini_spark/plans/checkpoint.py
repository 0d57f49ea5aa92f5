"""Pipeline metadata / checkpoint table (reference: the per-run
metadata upsert in elasticsearch_to_postgresql.py:213-258 + the
not-advanced-when-source-missing rule, standard_pipeline.py:20-23,
117-124).

Parquet-backed control table keyed by pipeline name; each committed
run upserts (window_start, window_end, updated_at). The incremental
contract: the next run's half-open window starts at the last committed
``window_end`` — a failed or skipped run leaves the checkpoint
untouched, so retries re-extract the same window (idempotent together
with an upsert/overwrite sink)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from etl_mini_spark.operators.upsert import upsert_parquet
from etl_mini_spark.sources.readers import read_parquet

SCHEMA = "pipeline_name string, window_start timestamp, window_end timestamp, updated_at timestamp"


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def last_window_end(self, pipeline_name: str):
        """The committed high-water mark, or None on first run."""
        if not Path(self.path).exists():
            return None
        df = read_parquet(self.spark, self.path)
        row = (
            df.filter(F.col("pipeline_name") == pipeline_name)
            .agg(F.max("window_end").alias("we"))
            .collect()[0]
        )
        return row["we"]

    def commit(self, pipeline_name: str, window_start, window_end) -> None:
        """Upsert this pipeline's checkpoint row (conflict column:
        pipeline_name — ≡ the reference's ON CONFLICT key).

        Concurrency contract: commits are serialized by an advisory
        lock marker (atomic create). A second commit that catches the
        table mid-swap would base its merge on the pre-swap rows and
        silently DROP the other pipeline's row — so instead of
        last-writer-wins data loss, a concurrent commit raises
        ``ConcurrentCommitError`` loudly and the caller retries. A
        crashed committer leaves a stale lock; operators remove
        ``{path}.lock`` manually after verifying no commit is running
        (a transactional format removes the lock entirely)."""
        from etl_mini_spark.sources.fs import fs_create_marker, fs_delete

        lock = self.path.rstrip("/") + ".lock"
        if not fs_create_marker(self.spark, lock):
            raise ConcurrentCommitError(
                f"checkpoint commit already in progress for {self.path} "
                f"(lock: {lock}); retry after it finishes, or remove a "
                "stale lock left by a crashed committer"
            )
        try:
            row = self.spark.createDataFrame(
                [Row(pipeline_name=pipeline_name, window_start=window_start, window_end=window_end)],
                schema="pipeline_name string, window_start timestamp, window_end timestamp",
            ).withColumn("updated_at", F.current_timestamp())
            upsert_parquet(self.spark, self.path, row, keys=["pipeline_name"])
        finally:
            fs_delete(self.spark, lock)


class ConcurrentCommitError(RuntimeError):
    """A second checkpoint commit raced an in-flight one; the loser
    fails loudly instead of silently dropping the winner's row."""
