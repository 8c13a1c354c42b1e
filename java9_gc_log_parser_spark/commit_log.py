"""One commit log for every resumable writer.

The checkpoint runner, the conv-state snapshot stream, the streaming index
maintenance and q67's sketch stream all decide "is batch N applied?" the
same way: batch N is applied iff its record is in the log under ``root``::

    _commits/N.json    batch N's commit record (one JSON object)

A writer lays down batch N's output first (overwriting in place) and
commits its record last, so a crash between the two re-runs the batch.
Records are published atomically — a temp file, then a rename — through
Spark's ``CheckpointFileManager`` on the Hadoop FileSystem API, the
primitive Structured Streaming's own offset and commit logs use. The log
therefore lives wherever ``root`` does (HDFS, S3A, local), and a ``file://``
URI and the bare path name the same log.

foreachBatch is at-least-once: recovery replays the in-flight batch id, and
a lost stream checkpoint restarts ids at 0. :func:`foreach_batch` owns the
replay rule for every streaming writer. The rule keys on the bare batch id,
so keep or discard the stream checkpoint and the log together: with only the
checkpoint lost, restarted ids drain batches of new files (ROADMAP (C)).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

COMMITS = "_commits"
_SUFFIX = ".json"


def _log(spark: SparkSession, root: str):
    """(log dir Path, CheckpointFileManager) of ``root``'s commit log."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root, COMMITS)
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(path, spark._jsc.hadoopConfiguration())
    return path, manager


def _records(path, manager) -> dict:
    """Committed batch id -> record Path (temp and ``.crc`` files skipped)."""
    if not manager.exists(path):
        return {}
    out = {}
    for status in manager.list(path):
        name = status.getPath().getName()
        stem = name[: -len(_SUFFIX)]
        if name.endswith(_SUFFIX) and stem.isdigit():
            out[int(stem)] = status.getPath()
    return out


def last_committed(spark: SparkSession, root: str) -> int | None:
    """The highest committed batch id (None before the first commit)."""
    return max(_records(*_log(spark, root)), default=None)


def committed(spark: SparkSession, root: str) -> dict[int, dict]:
    """Every committed record, by batch id ({} before the first commit)."""
    path, manager = _log(spark, root)
    read = spark._jvm.org.apache.commons.io.IOUtils.toString
    out = {}
    for batch_id, rec in sorted(_records(path, manager).items()):
        stream = manager.open(rec)
        try:
            out[batch_id] = json.loads(read(stream, "UTF-8"))
        finally:
            stream.close()
    return out


def commit(spark: SparkSession, root: str, batch_id: int, record: dict) -> None:
    """Publish ``record`` (plus its ``batch_id``) as batch ``batch_id``'s
    commit, replacing any earlier one: the writer's commit point."""
    path, manager = _log(spark, root)
    manager.mkdirs(path)
    out = manager.createAtomic(
        spark._jvm.org.apache.hadoop.fs.Path(path, f"{batch_id}{_SUFFIX}"), True
    )
    try:
        out.write(json.dumps({"batch_id": batch_id, **record}).encode())
    except BaseException:
        out.cancel()  # deletes the temp file; the old record stays
        raise
    out.close()  # the rename: the record is now visible


def foreach_batch(
    spark: SparkSession,
    root: str,
    apply: Callable[[DataFrame, int, int | None], dict],
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function that applies each new batch once.

    ``apply(batch_df, batch_id, last)`` writes the batch's output, given the
    last committed id (None before any), and returns its commit record. A
    batch id at or below ``last`` was already applied: it is drained with
    ``count()`` and nothing else. Spark still needs the drain, because
    foreachBatch must consume every partition, and upstream stateful
    operators commit their state stores only when it does.
    """

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed(spark, root)
        if last is not None and batch_id <= last:
            batch_df.count()
            return
        commit(spark, root, batch_id, apply(batch_df, batch_id, last))

    return _emit
