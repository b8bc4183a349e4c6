"""Replay-idempotent parquet append for ``foreachBatch`` sinks.

Structured Streaming's built-in file sink is exactly-once because it
journals committed files in ``_spark_metadata``; a ``foreachBatch``
body that does a plain ``mode("append")`` parquet write is NOT — a
crash between the append and the checkpoint commit replays the batch
and double-appends it. Spark's own documentation prescribes the fix
this module implements: ``foreachBatch`` hands the body a
deterministic ``batch_id``, so making the write idempotent ON that id
restores exactly-once end-to-end ("use the batchId to deduplicate").

The idiom is the repo's own ``operators/upsert.py`` machinery: stamp
every row with its micro-batch id and write via DYNAMIC partition
overwrite keyed on it. A first delivery creates the
``_batch_id=N`` directory; a replay of batch N REPLACES exactly that
directory (dynamic mode touches only partitions present in the
written data — other batches' directories are never read or
rewritten), so any number of replays converge to one copy. Commit
visibility relies on the same staging the batch overwrite path
already uses on this filesystem.

Readers go through :func:`read_sink`, which drops the bookkeeping
partition column — downstream schemas are unchanged from the old
append sink. At 100 TB cadence the cost is identical to the plain
append (one directory per micro-batch, written once); the only delta
is the partition column in the sink layout, which doubles as batch
provenance for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: bookkeeping partition column stamped onto every sink row
BATCH_COL = "_batch_id"


def idempotent_append(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Exactly-once append of one micro-batch's output to ``out_dir``.

    Safe to call any number of times with the same ``(batch_id,
    batch_df)`` — replays overwrite the batch's own partition and
    leave every other batch untouched. ``batch_df`` must not already
    carry a ``_batch_id`` column (the sinks in this package never do;
    a clear error beats a silently shadowed partition key)."""
    if BATCH_COL in batch_df.columns:
        raise ValueError(
            f"batch output already has a {BATCH_COL!r} column — the "
            "idempotent sink reserves it for the micro-batch id"
        )
    # a string literal reaches the generated code by reference, while an
    # integer one is inlined into it and every new batch id would compile
    # new classes; the ``_batch_id=N`` directory name is the same for both
    (
        batch_df.withColumn(BATCH_COL, F.lit(str(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(out_dir)
    )


def read_sink(
    spark: SparkSession, out_dir: str, schema: str | None = None
) -> DataFrame:
    """Read an idempotent sink back with the original output schema
    (the bookkeeping partition column dropped).

    Pass ``schema`` (DDL string, WITHOUT the bookkeeping column) when
    the sink may legitimately be EMPTY — a gate that admitted nothing
    leaves a directory with no readable parquet footer, and schema
    inference would fail on it; with an explicit schema an empty sink
    reads as zero rows, which is the gate's honest answer."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(f"{schema}, {BATCH_COL} long")
    return reader.parquet(out_dir).drop(BATCH_COL)
