"""Streaming LM quality scoring — the ingest-time twin of
operators/lm.lm_score, same design stance as streaming/quantize.py:
freeze the bounded model up front, make the stream side a PURE
STATELESS projection.

Where the batch operator joins the corpus's exploded grams against the
model relation (one data-sized shuffle), the stream side cannot afford
a per-doc aggregate (a streaming groupBy(doc_id) would be a stateful
agg with watermark semantics for what is logically a per-ROW
computation — each document arrives whole). Instead the frozen model
becomes a MAP LITERAL riding in the plan, and the score is a per-row
``aggregate`` fold over that row's own trigrams: zero shuffle, zero
state store, append-mode safe, and the same integer-ppm math as the
batch path — which is what makes batch/stream equivalence testable
row-for-row (tests/test_streaming.py).

Model size honesty: the trigram vocabulary is bounded by charset³, but
a map literal lives in the serialized plan — fine for the ≤ ~50k-entry
ASCII-corpus models here. For larger models (big charsets, CJK)
:func:`write_lm_score_stream` dispatches past ``max_map_entries`` to a
``foreachBatch`` sink that scores each micro-batch through the batch
broadcast-join path (operators/lm.lm_score — the dedup stream's
pattern): the model rides as a broadcast relation per batch instead of
living in the serialized plan, trading the pure-projection property
for unbounded model size. Both paths emit the BATCH row shape (docs
with zero trigrams produce no row) so path choice never changes
results (equivalence pinned in tests/test_streaming.py). Re-freezing
the model is a re-deploy event, not a streaming concern (same contract
as the SQ8 frozen bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.streaming.sink import start_sink


def frozen_model(reference: DataFrame, sample_mod: int = 10):
    """(grams, counts, total, v) from the reference corpus — the one
    collect (bounded: ≤ charset³ rows); reuse across every stream.
    Accepts either a documents relation or an already-built/loaded
    model relation with (gram, c) columns."""
    from overpaint_spark.operators.lm import build_lm_model

    model = (
        reference
        if set(reference.columns) == {"gram", "c"}
        else build_lm_model(reference, sample_mod)
    )
    rows = model.collect()
    grams = [r.gram for r in rows]
    counts = [int(r.c) for r in rows]
    return grams, counts, sum(counts), len(counts)


def lm_score_stream(
    stream: DataFrame,
    grams: list,
    counts: list,
    total: int,
    v: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    ppm: int = 1_000_000,
) -> DataFrame:
    """(doc_id, n_grams, lm_score_ppm) as a stateless streaming
    projection: per row, fold the row's own trigrams over the frozen
    model map. Unknown grams contribute the Laplace +1 exactly like the
    batch path's left-join coalesce; the final division is integer
    ``div`` on bigints, so scores are bit-identical to the batch path
    (no float path exists to diverge). Empty/short texts (no trigrams)
    yield n_grams = 0 and a NULL score (the batch groupBy simply has no
    row there; a stream must emit one per input row — NULL marks 'no
    evidence', distinguishable from a real low score)."""
    from overpaint_spark.queries import _char_trigrams

    model_map = F.map_from_arrays(
        F.lit(grams).cast("array<string>"), F.lit(counts).cast("array<bigint>")
    )
    g = _char_trigrams(F.col(text_col))
    sum_c1 = F.aggregate(
        g,
        F.lit(0).cast("bigint"),
        lambda acc, gram: acc
        + F.coalesce(F.try_element_at(model_map, gram), F.lit(0))
        + F.lit(1),
    )
    tmp = stream.select(
        F.col(id_col),
        F.size(g).cast("bigint").alias("n_grams"),
        sum_c1.alias("sum_c1"),
    )
    return tmp.selectExpr(
        id_col,
        "n_grams",
        f"CASE WHEN n_grams > 0 THEN (sum_c1 * {ppm}) div "
        f"(CAST({total + v} AS BIGINT) * n_grams) END AS lm_score_ppm",
    )


# Map-literal size cap for write_lm_score_stream's path dispatch.
# The old 50k cap counted plan BYTES and missed the real cost: Spark map
# lookup is a LINEAR SCAN of ArrayBasedMapData, so the stateless path
# pays O(map_entries) comparisons PER GRAM — the r11 10x guard measured
# the witness at alpha 1.41 purely from model-vocabulary growth
# (SCALE.md r11). 512 entries keeps the scan cheaper than a per-batch
# broadcast-join setup; every real corpus model (vocab -> charset^3)
# belongs on the broadcast path, which is linear in batch size.
MAX_MAP_ENTRIES = 512


def write_lm_score_stream(
    stream: DataFrame,
    model: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_map_entries: int = MAX_MAP_ENTRIES,
    trigger_available_now: bool = False,
):
    """Sink-level streaming scorer with automatic path dispatch
    (VERDICT r5 #5): models at or under ``max_map_entries`` ride the
    stateless map-literal projection (:func:`lm_score_stream`) through
    a plain parquet sink; larger models score each micro-batch via the
    batch broadcast-join path (operators/lm.lm_score) inside
    ``foreachBatch`` — the model never enters the serialized plan, so
    its size is bounded by broadcast capacity, not plan size.

    Both paths write the BATCH row shape: docs with zero trigrams emit
    no row (the map path's NULL-score rows are filtered here), so the
    dispatch threshold is a performance knob, never a semantics knob.
    The model relation is counted once (bounded ≤ charset³) and, on the
    foreachBatch path, should be cached by the caller if the stream is
    long-lived — each batch re-reads it for the broadcast join and the
    totals aggregate."""
    if set(model.columns) != {"gram", "c"}:
        # a docs relation here would silently dispatch on DOC count and
        # rebuild the model per micro-batch — demand the built artifact
        raise ValueError(
            "write_lm_score_stream expects a built model relation "
            "(gram, c) — build one with operators/lm.build_lm_model; "
            f"got columns {sorted(model.columns)}"
        )
    # materialize the bounded model once: BOTH paths otherwise re-run
    # its build plan (the count here, the totals + broadcast per batch)
    model = model.localCheckpoint(eager=True)
    n_entries = model.count()
    if n_entries > max_map_entries:
        from overpaint_spark.operators.lm import lm_score

        def score(batch_df: DataFrame, batch_id: int) -> DataFrame:
            docs = batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            return lm_score(docs, model).select(
                F.col("doc_id").alias(id_col), "n_grams", "lm_score_ppm"
            )

        return start_sink(
            stream, score, out_dir, checkpoint_dir, trigger_available_now
        )
    grams, counts, total, v = frozen_model(model)
    scored = lm_score_stream(
        stream, grams, counts, total, v, id_col, text_col
    ).filter(F.col("n_grams") > 0)
    writer = (
        scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
