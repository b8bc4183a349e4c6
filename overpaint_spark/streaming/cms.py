"""Streaming Count-Min sketch — the micro-batch twin of
:func:`overpaint_spark.operators.heavyhitters.cms_cells`.

Count-Min is THE streaming frequency sketch (Cormode & Muthukrishnan
2005): the whole summary is a fixed d×w integer matrix, and merging two
sketches built with the same (depth, width, salt) is cell-wise SUM —
associative, commutative, batch-boundary independent. So the streamed
sketch needs no stateful operator at all: each micro-batch computes its
OWN d×w partial matrix (one Arrow-free, all-JVM explode→groupBy whose
key space is d·w regardless of the batch's vocabulary) and appends
≤ d·w tiny rows to a parquet sink; the snapshot is one bounded groupBy
over the sink. Total sink size is ≤ batches·d·w rows — independent of
stream length AND vocabulary, the bounded-state property the
Misra-Gries leaderboard (streaming/topk.py) gets only via capacity
eviction, here exact by construction.

Because cell-wise sums commute, the snapshot is BIT-IDENTICAL to the
batch ``cms_cells`` over the union of all arrived documents no matter
how the stream was chopped — pinned in tests/test_streaming.py, and
what lets the declared ``stream_token_cms`` relation hold the streamed
sketch to the batch CMS oracle verbatim (the stream_ann_ingest /
stream_top_tokens proof shape).

Replay is exactly-once: partials land via the batch-id-keyed
idempotent sink (streaming/sink.py), so a crash-replayed batch
replaces its own partial matrix instead of double-counting it — the
snapshot needs no replay slack on top of Count-Min's own upper-bound
guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from overpaint_spark.operators.heavyhitters import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_cells,
)
from overpaint_spark.streaming.sink import read_sink, start_sink


def write_cms_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_col: str = "text",
    trigger_available_now: bool = False,
):
    """Start a foreachBatch sink appending each micro-batch's partial
    CMS matrix (≤ depth·width rows) to ``out_dir``."""

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return cms_cells(batch_df, depth=depth, width=width, text_col=text_col)

    return start_sink(
        stream, partial, out_dir, checkpoint_dir, trigger_available_now
    )


def cms_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the accumulated per-batch partials into the current sketch:
    cell-wise SUM over a ≤ batches·d·w-row relation — equal to the batch
    ``cms_cells`` over everything that has arrived.

    The explicit schema matches ``cms_cells`` output so a sink whose
    micro-batches were all EMPTY (directory exists, no parquet footer —
    a stream that saw no documents yet) reads as zero rows instead of
    failing schema inference (ADVICE r10)."""
    return (
        read_sink(spark, out_dir, schema="row_idx int, cell_idx int, cnt long")
        .groupBy("row_idx", "cell_idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
