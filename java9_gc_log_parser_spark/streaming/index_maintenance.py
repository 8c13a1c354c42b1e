"""Streaming IVF×PQ index maintenance (q141's engine, factored out so the
crash/resume path is testable in isolation).

The maintained index is a generation store under ``out_root``:

    base/cell=K/        batch-encoded bootstrap generation (written once,
                        before the stream starts — the planned-rebuild
                        artifact)
    batch=N/cell=K/     per-micro-batch appends: the vectors of batch N
                        encoded against the FIXED index metadata
    _commits/N.json     batch N's commit record (``commit_log``)
    ckpt/               the stream's own checkpoint

Fault-tolerance contract (the ST3 north-rule discipline, shared with
``state_stream``, q67 and the checkpoint runner through ``commit_log``):
generation N is written with ``mode("overwrite")`` and then committed, so a
crash before the commit re-runs the batch in place, and a replayed batch id
at or below the last commit is drained without side effects. Keep or discard
the stream checkpoint and this store together: the drain keys on the bare
batch id, so with only the checkpoint lost, restarted ids drain batches of
new files and drop their vectors (fix: ROADMAP (C)).

Scale shape (100 TB/day of arriving vectors): per-batch cost is batch
rows × a few KB of broadcast metadata (``ivfpq_encode``'s plan is
corpus-scan-free, pinned in tests/test_plans.py); the corpus is never
re-read, the index grows append-only and partition-pruned by cell, and
codebooks never move — re-training is a planned base rebuild, after
which this store starts a new lineage.

Reference parity: GcService.scala:35-38 has NO fault tolerance (stream
dies on exception); this module is the resumable replacement the north
rule requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from java9_gc_log_parser_spark import commit_log
from java9_gc_log_parser_spark.operators.similarity import ivfpq_encode

__all__ = [
    "write_base_generation",
    "maintain_index",
    "read_index",
]

#: one generation's rows as stored: ``ivfpq_encode``'s columns, with the
#: ``cell`` partition column last (where a partitioned read puts it)
INDEX_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("s", T.IntegerType()),
    T.StructField("code", T.IntegerType()),
    T.StructField("cell", T.LongType()),
])


def write_base_generation(
    base: DataFrame, cells: DataFrame, books: DataFrame, out_root: str
) -> None:
    """Encode the bootstrap corpus once and lay it down as the base
    generation, partitioned by cell (the index's prune key)."""
    ivfpq_encode(base, cells, books).write.partitionBy("cell").parquet(
        f"{out_root}/base"
    )


def maintain_index(
    spark: SparkSession,
    source_path: str,
    input_schema,
    out_root: str,
    cells_rows,
    cells_schema,
    books_rows,
    books_schema,
    max_files_per_trigger: int = 2,
    timeout_s: int = 600,
) -> None:
    """Drain the vector stream, appending one encoded generation per
    micro-batch; blocks until the availableNow backlog is done.

    Metadata arrives as COLLECTED rows + schema (not DataFrames): that is
    what pins the no-corpus-lineage property — the per-batch encode plan
    physically cannot re-scan the corpus because nothing in scope refers
    to it.
    """

    def _apply(batch_df: DataFrame, batch_id: int, last: int | None) -> dict:
        enc = ivfpq_encode(
            batch_df,
            spark.createDataFrame(cells_rows, cells_schema),
            spark.createDataFrame(books_rows, books_schema),
        )
        enc.write.partitionBy("cell").mode("overwrite").parquet(
            f"{out_root}/batch={batch_id}"
        )
        return {}

    q = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
        .writeStream.foreachBatch(
            commit_log.foreach_batch(spark, out_root, _apply)
        )
        .option("checkpointLocation", f"{out_root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"index stream did not drain within {timeout_s}s")


def read_index(spark: SparkSession, out_root: str) -> DataFrame:
    """The maintained index: base generation plus every committed append.

    Each generation dir is read on its own (recovering its ``cell=K``
    partition dirs); a wholesale read of ``out_root`` would misparse the
    ``batch=N`` dir names as a partition column. Every read carries
    ``INDEX_SCHEMA``: an empty micro-batch commits a generation dir with no
    part files, which has no schema to infer."""
    final = commit_log.last_committed(spark, out_root)
    read = spark.read.schema(INDEX_SCHEMA).parquet
    idx = read(f"{out_root}/base")
    for i in range(0 if final is None else final + 1):
        idx = idx.unionByName(read(f"{out_root}/batch={i}"))
    return idx
