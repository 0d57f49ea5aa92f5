"""Structured-Streaming wiring: sources, foreachBatch sinks, a
run-to-completion helper for incremental batch (Trigger.AvailableNow),
and :func:`replay`, the one way a bounded stream of staged micro-batches
is set up, run, read back and cleaned up.

The reference's batch loop (extract scroll batch → transform → COPY →
repeat, internal_raw_to_dwh/standard_pipeline.py:92-113) is exactly
``readStream → foreachBatch(sink)``: micro-batches replace scroll
pages, the checkpoint dir replaces the metadata table's high-water
mark, and restart-safety comes from Spark's offset log instead of
hand-rolled window arithmetic.
"""

from __future__ import annotations

import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_mini_spark.operators.upsert import upsert_parquet
from etl_mini_spark.session import pin, static_plan
from etl_mini_spark.sources import readers
from etl_mini_spark.sources.fs import fs_exists, fs_glob, fs_rename, fs_set_mtime
from etl_mini_spark.sources.writers import write_parquet


def _ltz_type(dt: T.DataType) -> T.DataType:
    """Rewrite TIMESTAMP_NTZ → TIMESTAMP (LTZ) at ANY nesting depth —
    top-level fields, struct members, array elements, map keys/values.
    A top-level-only rewrite would let an NTZ event-time column nested
    inside a struct slip through and break watermarks/window()."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _ltz_type(f.dataType), f.nullable, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_ltz_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_ltz_type(dt.keyType), _ltz_type(dt.valueType), dt.valueContainsNull)
    return dt


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (new files become
    micro-batches). Schema is mandatory for streaming file sources.
    ``options`` pass through to the reader — e.g.
    ``{"maxFilesPerTrigger": "1"}`` to force one file per micro-batch
    (the lever that makes watermark ADVANCEMENT between batches, and
    therefore late-row dropping, observable on a bounded replay).

    TIMESTAMP_NTZ fields in a probed schema are rewritten to TIMESTAMP
    (LTZ) recursively (see ``_ltz_type``): naive-parquet testdata probed
    through a default-conf session yields NTZ, which watermarks/
    `window()` reject; with the session tz pinned UTC the LTZ read is
    value-identical (sources/readers.py)."""
    with readers._force_ltz_timestamps(spark):
        schema = _ltz_type(schema)
        reader = spark.readStream.schema(schema)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return reader.parquet(path)


def foreach_batch_upsert(target_path: str, keys: list[str]) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: keyed upsert per micro-batch. Combined with
    the streaming checkpoint this is effectively exactly-once: a
    replayed batch upserts the same keys idempotently."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet(batch_df.sparkSession, target_path, batch_df, keys=keys)

    return sink


def run_to_completion(
    df: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    output_path: str | None = None,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> None:
    """Process everything currently available, then stop
    (Trigger.AvailableNow) — incremental batch with streaming
    restart-safety. Either a foreachBatch ``sink`` or a parquet
    ``output_path``."""
    writer = df.writeStream.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True)
    if sink is not None:
        q = writer.foreachBatch(sink).outputMode(output_mode).start()
    else:
        q = writer.format("parquet").option("path", output_path).outputMode(output_mode).start()
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


# The repository's tmp/ (queries._base._TMP): the scratch root of replays.
_SCRATCH = Path(__file__).resolve().parents[2] / "tmp"

# A replay's dir untouched this long is the scratch of a killed run.
_STALE_S = 3600

# The mtime of the first staged file (2001-09-09); each later one is a
# second later.
_FIRST_MTIME_MS = 1_000_000_000_000


class Replay:
    """A bounded stream over DataFrames staged as its micro-batches,
    under one scratch dir; made by :func:`replay`.

    ``out`` is the dir a file-sink :meth:`run` writes and a foreachBatch
    sink writes its own results into; ``output`` is that dir read back
    when the replay block ends (None when nothing was written there)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.out = f"{root}/out"
        self.output: DataFrame | None = None
        self._schema: T.StructType | None = None
        self._staged = 0

    def stage(self, df: DataFrame) -> None:
        """Write ``df`` as the next micro-batch: one parquet file
        (``writers.write_parquet``) renamed into ``src/``, with an mtime
        a second later than the file staged before it. The file source
        orders files by mtime with no path tiebreak, and two writes in
        a row can share one, so the order is set, not left to the
        clock."""
        if self._schema is None:
            self._schema = df.schema
        elif df.schema.simpleString() != self._schema.simpleString():
            raise ValueError(
                f"staged schema {df.schema.simpleString()} differs from "
                f"the stream's {self._schema.simpleString()}")
        stage = f"{self.root}/stage"
        with static_plan(df):
            write_parquet(df.coalesce(1).write.mode("overwrite"), stage)
        [part] = fs_glob(self.spark, f"{stage}/part-*")
        dst = f"{self.root}/src/{self._staged:05d}.parquet"
        fs_rename(self.spark, part, dst)
        fs_set_mtime(self.spark, dst, _FIRST_MTIME_MS + 1000 * self._staged)
        self._staged += 1

    def stream(self) -> DataFrame:
        """The file-source stream over the staged files: one file per
        micro-batch, in stage order. Its schema is the staged
        DataFrames', so no file footer is read to find it."""
        return read_stream_parquet(
            self.spark, f"{self.root}/src", self._schema, {"maxFilesPerTrigger": "1"})

    def run(self, query: DataFrame,
            sink: Callable[[DataFrame, int], None] | None = None) -> None:
        """Run ``query`` (built on :meth:`stream`) over every file not
        yet processed, then stop (Trigger.AvailableNow, checkpoint in
        ``ckpt/``, so a second run after more stages sees only the new
        files). Without ``sink`` its rows are appended to ``out`` as
        parquet; with one, each micro-batch goes to ``sink``."""
        ckpt = f"{self.root}/ckpt"
        if sink is not None:
            run_to_completion(query, ckpt, sink=sink)
            return
        run_to_completion(query, ckpt, output_path=self.out)
        # the file sink wrote the query's own schema: cache it, so the
        # read back infers nothing
        entry = readers.written_entry(self.out, self.out, query.schema)
        if entry is not None:
            readers._FOOTERS[self.out] = entry


def _sweep_stale(name: str) -> None:
    """Remove the ``tmp/<name>_*`` dirs untouched for ``_STALE_S``: the
    scratch of a killed run. A younger dir may be a live replay of a
    concurrent process (the sharded oracle test runs the registry in
    parallel subprocesses) or of a twin entry that calls the same
    builder, so it is never touched."""
    now = time.time()
    for old in _SCRATCH.glob(f"{name}_*"):
        try:
            if now - old.stat().st_mtime >= _STALE_S:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


@contextmanager
def replay(spark: SparkSession, name: str) -> Iterator[Replay]:
    """A :class:`Replay` in its own scratch dir ``tmp/<name>_<uuid>``.

    When the block ends normally, ``out`` (if written) is read back
    through ``readers.read_parquet`` and pinned (``session.pin``) into
    ``Replay.output``; then the dir is deleted, also when the block
    raises. Stale dirs of killed runs of ``name`` are swept first."""
    _sweep_stale(name)
    r = Replay(spark, str(_SCRATCH / f"{name}_{uuid.uuid4().hex[:8]}"))
    try:
        yield r
        if fs_exists(spark, r.out):
            r.output = pin(readers.read_parquet(spark, r.out))
    finally:
        readers._FOOTERS.pop(r.out, None)
        shutil.rmtree(r.root, ignore_errors=True)
