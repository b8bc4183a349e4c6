"""Streaming ingest gate for the persisted ANN index — the micro-batch
twin of :func:`overpaint_spark.operators.ann_index.add_to_ann_index`,
completing the ingest-time story every other persisted artifact already
has (dedup bands → streaming/dedup.py, phash → streaming/phash.py,
LM/NB models → frozen-literal scorers): a production corpus does not
arrive as one batch, it TRICKLES, and the index must grow with it
without ever retraining or rebuilding.

Each micro-batch of arriving vectors is encoded against the FROZEN
geometry (coarse centroids + PQ codebooks, opened once at sink
construction through ``load_ann_geometry``, which collects them only
if their files changed since the index was last opened in this
process) in one assign-and-encode pass, and its code rows written to
the stored index's ``codes_delta`` relation. Raw coding (``by_residual=false``) makes
per-vector encode independent of every other vector, so the grown
index is BIT-IDENTICAL to a one-shot build over the union REGARDLESS
of how the stream is chopped into batches — batch boundaries cannot
change a single code byte. That invariant is what makes the declared
``stream_ann_ingest`` relation's oracle free: a post-stream search is
held to the live ivfpq SQL verbatim (the ``ann_topk_ivfpq_incremental``
proof shape, streamed), and tests pin codes-level equality between a
streamed ingest and the batch ``add_to_ann_index``.

Replay is exactly-once: the delta write goes through the batch-id-keyed
idempotent sink (streaming/sink.py), so a crash-replayed batch replaces
its own ``_batch_id`` partition instead of re-appending its code rows —
a replayed micro-batch cannot duplicate a neighbor row. Deltas live in
their own ``codes_delta`` directory (the base ``codes`` write is
un-partitioned; mixing layouts breaks partition discovery); readers see
codes ∪ delta via ``load_ann_index``/``_read_codes``, and
``compact_ann_index`` folds the delta into the base relation on the
maintenance cadence ``ann_index_stats`` signals.

At 100 TB cadence this sink is the daily-ingest path the
``add_to_ann_index`` docstring promises: each micro-batch pays one
assign-and-encode pass over ITS OWN rows only — the stored corpus is
never re-read, never re-encoded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from overpaint_spark.streaming.sink import start_sink


def write_ann_ingest_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_available_now: bool = False,
):
    """Start a foreachBatch sink writing arriving vectors' code rows
    to the persisted index's ``codes_delta`` relation at ``index_path``.

    The index geometry (centroids/codebook — the bounded relations) is
    opened ONCE here through ``load_ann_geometry`` and frozen into the
    closure; no codes relation is opened. Per batch only the encode of
    the batch's own rows runs: one job, the write. ``stream`` must carry
    ``id_col`` and ``vec_col``; extra columns are ignored by the
    encoder. An empty batch writes no rows: every reader of
    ``codes_delta`` declares its schema, so an empty directory reads as
    zero rows."""
    from overpaint_spark.operators.ann_index import load_ann_geometry
    from overpaint_spark.operators.quantization import ivfpq_encode

    coarse, codebook = load_ann_geometry(stream.sparkSession, index_path)

    def encode(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # the stream's contract is the STORED artifact: readers reload
        # via load_ann_index, which unions codes ∪ codes_delta
        return ivfpq_encode(batch_df, coarse, codebook, id_col, vec_col)

    return start_sink(
        stream, encode, f"{index_path}/codes_delta", checkpoint_dir,
        trigger_available_now,
    )
