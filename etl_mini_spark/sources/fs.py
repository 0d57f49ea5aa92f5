"""Hadoop-FileSystem helpers — the object-store-safe file plumbing.

The stage-swap (`replace_parquet`, behind `upsert_parquet`, the
checkpoint commit and `compact_parquet`; it plans small writes
statically by the rule of `session.static_plan` and leaves the written
schema in `read_parquet`'s cache) and the ``latest`` manifest
(`write_run_layout`) must work where the data lives: HDFS, S3A, GCS,
ABFS, or local disk. ``shutil``/``pathlib`` only speak the local
filesystem, so all path manipulation goes through the JVM's
``org.apache.hadoop.fs.FileSystem`` — the same abstraction Spark's own
committers use. Every helper takes a SparkSession (for the Hadoop conf)
and a path string whose scheme picks the backend (``file://``,
``hdfs://``, ``s3a://``, or scheme-less → ``fs.defaultFS``).

Atomicity notes, because they differ per backend and matter at scale:
- HDFS/local rename is atomic; S3A rename is a copy (not atomic). The
  ``latest`` manifest is therefore kept TINY (one JSON line) so even a
  non-atomic swap window is milliseconds, and readers that lose the
  race simply retry the read.
- The stage-swap's crash window (target deleted, stage not yet renamed)
  is recovered by the next :func:`replace_parquet` on that path: a
  missing target whose stage holds ``_SUCCESS`` is the complete result
  of the interrupted write, so it is renamed into place before anything
  reads the target. On Delta/Iceberg targets, use their transactional
  MERGE instead.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, recursive))


def fs_create_marker(spark: SparkSession, path: str) -> bool:
    """Atomically create an empty marker file; False if it already
    exists. `FileSystem.createNewFile` is atomic on HDFS and local
    filesystems (O_EXCL semantics) — the primitive for advisory locks.
    On object stores without atomic create the lock is best-effort;
    a transactional table format is the real fix there."""
    fs, p = _fs_and_path(spark, path)
    return bool(fs.createNewFile(p))


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename src onto dst (dst must not exist — Hadoop rename refuses
    to clobber). Raises on failure instead of returning False: a silent
    failed swap would leave readers on the old data forever."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    if not fs.rename(s, d):
        raise IOError(f"rename failed: {src} -> {dst}")


def replace_parquet(
    spark: SparkSession, path: str, build: Callable[[bool], DataFrame]
) -> None:
    """Replace the parquet table at ``path`` with ``build(exists)``.

    Stage-then-swap: the new table is written to ``{path}__stage`` and
    only then swapped over the target, so a failed write leaves the
    target intact. ``build`` is told whether the target exists and may
    read it: its plan runs in full before the target is deleted.

    The write runs under ``session.static_plan``: when the plan's
    leaves (the target's and the source's files) are small, it is
    planned without AQE, with shuffle partitions sized from those
    bytes, where AQE would run every exchange and broadcast as a Spark
    job of its own; a larger plan keeps the AQE write.

    After the swap the written schema is put into ``read_parquet``'s
    cache under the new files' fingerprint (local paths only), so the
    next read of the table runs no inference job.

    A swap a crash cut between the delete and the rename is finished
    first: when the target is missing and the stage holds ``_SUCCESS``,
    the stage is the complete table and is renamed into place before
    ``build`` runs. A stage without ``_SUCCESS`` is a write that did not
    finish; it is never promoted, only overwritten."""
    from etl_mini_spark.session import static_plan
    from etl_mini_spark.sources import readers

    stage = path.rstrip("/") + "__stage"
    exists = fs_exists(spark, path)
    if not exists and fs_exists(spark, stage + "/_SUCCESS"):
        fs_rename(spark, stage, path)
        exists = True
    df = build(exists)
    with static_plan(df):
        df.write.mode("overwrite").parquet(stage)
    entry = readers.written_entry(stage, path, df.schema)
    if exists:
        fs_delete(spark, path)
    fs_rename(spark, stage, path)
    if entry is not None:
        readers._FOOTERS[path] = entry


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file via a temp-name + rename swap. Meant for
    manifests/pointers only — data goes through DataFrame writers.

    The swap prefers ``FileContext.rename(..., Rename.OVERWRITE)``,
    which is a single atomic operation on HDFS and local disk — a
    concurrent reader sees either the old or the new manifest, never a
    missing one. Filesystems whose FileContext binding doesn't support
    overwrite-rename (or lack a FileContext at all, e.g. some object
    stores) fall back to delete+rename; there the missing-file window
    reopens, which is why :func:`fs_read_text` callers that read
    manifests retry on FileNotFound (see writers.resolve_latest)."""
    fs, _ = _fs_and_path(spark, path)
    tmp = path + ".tmp"
    _, tmp_p = _fs_and_path(spark, tmp)
    out = fs.create(tmp_p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    _, dst_p = _fs_and_path(spark, path)
    jvm = spark._jvm
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst_p.toUri(), spark._jsc.hadoopConfiguration()
        )
        rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(tmp_p, dst_p, opts)
        return
    except Exception:
        pass  # no FileContext / no overwrite support → non-atomic fallback
    if fs.exists(dst_p):
        fs.delete(dst_p, False)
    if not fs.rename(tmp_p, dst_p):
        raise IOError(f"manifest swap failed: {path}")


def fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_and_path(spark, path)
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return baos.toString("UTF-8")
    finally:
        stream.close()
