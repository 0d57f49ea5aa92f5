"""Pipeline metadata / checkpoint table (reference: the per-run
metadata upsert in elasticsearch_to_postgresql.py:213-258 + the
not-advanced-when-source-missing rule, standard_pipeline.py:20-23,
117-124).

Control table keyed by pipeline name; each committed run upserts
(window_start, window_end, updated_at). The incremental contract: the
next run's half-open window starts at the last committed
``window_end`` — a failed or skipped run leaves the checkpoint
untouched, so retries re-extract the same window (idempotent together
with an upsert/overwrite sink).

The table is one JSON Lines document, ``{path}/checkpoint.jsonl``,
with one line per pipeline, read and swapped through the engine's
tiny-text helpers (``sources.fs.fs_read_text``/``fs_write_text``), so
a read and a commit run no Spark job. Times are stored in PySpark's
``TimestampType`` encoding (microseconds since the epoch,
``toInternal``), so a read returns what collecting a timestamp column
does: a naive local datetime."""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import TimestampType

from etl_mini_spark.sources.fs import (
    fs_create_marker,
    fs_delete,
    fs_exists,
    fs_read_text,
    fs_write_text,
)

_TS = TimestampType()


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.doc = path.rstrip("/") + "/checkpoint.jsonl"

    def _lines(self) -> dict[str, dict]:
        """Each pipeline's line, by name; {} when ``path`` does not exist."""
        if not fs_exists(self.spark, self.path):
            return {}
        if not fs_exists(self.spark, self.doc):
            raise ValueError(
                f"checkpoint {self.path} exists but holds no checkpoint.jsonl: a "
                "parquet checkpoint of an earlier version, a wrong directory, or a "
                "commit cut before its rename (see checkpoint.jsonl.tmp)"
            )
        rows = (json.loads(s) for s in fs_read_text(self.spark, self.doc).splitlines() if s)
        return {r["pipeline_name"]: r for r in rows}

    def last_window_end(self, pipeline_name: str):
        """The committed high-water mark, or None on first run (``path``
        does not exist, or holds no line for this pipeline).

        No Spark job: the document is read through the Hadoop
        filesystem, so the path may be local or any Hadoop URI
        (``file://``, ``hdfs://``, ``s3a://``)."""
        row = self._lines().get(pipeline_name)
        return None if row is None else _TS.fromInternal(row["window_end"])

    def commit(self, pipeline_name: str, window_start, window_end) -> None:
        """Upsert this pipeline's checkpoint line (conflict column:
        pipeline_name — ≡ the reference's ON CONFLICT key).

        The document is read, this pipeline's line replaced, and the
        whole document written back by ``fs_write_text``'s temp-file
        swap; no Spark job runs.

        Concurrency contract: commits are serialized by an advisory
        lock marker (atomic create). A second commit that catches the
        document mid-swap would base its upsert on the pre-swap lines
        and silently DROP the other pipeline's line — so instead of
        last-writer-wins data loss, a concurrent commit raises
        ``ConcurrentCommitError`` loudly and the caller retries. A
        crashed committer leaves a stale lock; operators remove
        ``{path}.lock`` manually after verifying no commit is running
        (a transactional format removes the lock entirely)."""
        if not isinstance(window_end, datetime) or not (
                window_start is None or isinstance(window_start, datetime)):
            raise TypeError(
                "checkpoint window ends must be datetimes (window_start may be "
                f"None), got {type(window_start).__name__}, {type(window_end).__name__}"
            )
        lock = self.path.rstrip("/") + ".lock"
        if not fs_create_marker(self.spark, lock):
            raise ConcurrentCommitError(
                f"checkpoint commit already in progress for {self.path} "
                f"(lock: {lock}); retry after it finishes, or remove a "
                "stale lock left by a crashed committer"
            )
        try:
            rows = self._lines()
            rows[pipeline_name] = {
                "pipeline_name": pipeline_name,
                "window_start": _TS.toInternal(window_start),
                "window_end": _TS.toInternal(window_end),
                "updated_at": _TS.toInternal(datetime.now(timezone.utc)),
            }
            text = "".join(json.dumps(r) + "\n" for r in rows.values())
            fs_write_text(self.spark, self.doc, text)
        finally:
            fs_delete(self.spark, lock)


class ConcurrentCommitError(RuntimeError):
    """A second checkpoint commit raced an in-flight one; the loser
    fails loudly instead of silently dropping the winner's row."""
