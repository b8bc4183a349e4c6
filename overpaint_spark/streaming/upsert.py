"""Streaming CDC apply: keep a partitioned Parquet table current from a
change stream.

Composes ``foreachBatch`` with the batch upsert
(:mod:`overpaint_spark.operators.upsert`): each micro-batch merges into
the table, rewriting only the partitions that batch touches. This is the
standard "apply changes" sink shape — the merge logic is the SAME code
the batch path uses (mode-agnostic, like the rule engine), and the
per-batch cost is ∝ batch size, never table size.

Exactly-once caveat (inherent to rewrite-based sinks on plain Parquet):
a batch replayed after a crash re-applies the same merge — idempotent
for latest-wins semantics because merging a batch twice yields the same
winners, so replays converge rather than duplicate.

Intra-batch ordering: ``merge_latest`` already resolves multiple change
rows for one key inside a batch by the greatest ``order_col`` (ties →
update side wins); cross-batch ordering is the stream's arrival order,
which is the CDC contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from overpaint_spark.operators.upsert import upsert_partitioned


def write_upsert_stream(
    changes: DataFrame,
    table_path: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Apply a change stream to the Parquet table at ``table_path``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # an empty batch touches no partition: upsert_partitioned's
        # affected-partition collect comes back empty and nothing is written
        upsert_partitioned(
            batch_df.sparkSession,
            table_path,
            batch_df,
            key_cols,
            partition_col,
            order_col,
        )

    writer = (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
