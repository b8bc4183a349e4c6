"""The one ``foreachBatch`` parquet sink behind every appending stream.

Contract:

- **The sink directory exists from construction.** :func:`start_sink`
  creates ``out_dir`` before the query starts, so a stream that has
  received nothing, or only empty files, still leaves a sink that
  reads as zero rows.
- **Readers declare their schema.** :func:`read_sink` takes the output
  schema as a DDL string; it never infers one, because an empty sink
  has no parquet footer to infer from.
- **An empty batch appends nothing, and no writer probes for it.** A
  gate's semi- or anti-join over an empty batch is already empty, so
  its write lands no rows; a writer with nothing to say returns
  ``None`` from its ``batch_rows`` and no write runs. A writer whose
  answer over zero rows is itself rows (the rule alerts: metrics over
  an empty batch) appends them, as SQL over an empty relation would.
- **Every append is replay-idempotent.** Structured Streaming's
  built-in file sink is exactly-once because it journals committed
  files in ``_spark_metadata``; a plain ``mode("append")`` in a
  ``foreachBatch`` body is not — a crash between the append and the
  checkpoint commit replays the batch and double-appends it. Spark's
  own documentation prescribes the fix: ``foreachBatch`` hands the
  body a deterministic ``batch_id``, so :func:`idempotent_append`
  stamps every row with it and writes by DYNAMIC partition overwrite
  keyed on it. A first delivery creates the ``_batch_id=N``
  directory; a replay of batch N replaces exactly that directory and
  never reads or rewrites another batch's, so any number of replays
  converge to one copy.

:func:`read_sink` drops the bookkeeping partition column, so
downstream schemas are the writers' own; the column doubles as batch
provenance in the sink layout.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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


def start_sink(
    stream: DataFrame,
    batch_rows: Callable[[DataFrame, int], DataFrame | None],
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start ``stream`` into the sink at ``out_dir``: per micro-batch,
    ``batch_rows(batch_df, batch_id)`` returns the rows to append (or
    ``None`` for nothing) and they land through
    :func:`idempotent_append`. ``out_dir`` is created here, through the
    Hadoop filesystem the writes use."""
    spark = stream.sparkSession
    path = spark._jvm.org.apache.hadoop.fs.Path(out_dir)
    path.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(path)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_rows(batch_df, batch_id)
        if rows is not None:
            idempotent_append(rows, batch_id, out_dir)

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sink(spark: SparkSession, out_dir: str, schema: str) -> DataFrame:
    """Read a sink back with its declared output ``schema`` (a DDL
    string without the bookkeeping column, which is dropped). An empty
    sink reads as zero rows. The schema may name a subset of the
    written columns; the read then scans only those."""
    return (
        spark.read.schema(f"{schema}, {BATCH_COL} long")
        .parquet(out_dir)
        .drop(BATCH_COL)
    )
