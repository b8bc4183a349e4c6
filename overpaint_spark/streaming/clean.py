"""Streaming ingest-time cleaning gate — the production twin of the
batch corpus_clean pipeline: every arriving document must pass (a) the
heuristic quality floor, (b) the frozen-LM perplexity band, and (c) the
cross-corpus dedup gate against the persisted band index, BEFORE it is
appended to the training corpus. Batch cleaning re-runs predicates over
the whole corpus each time; at ingest cadence each predicate should be
paid once per document, per micro-batch.

Shape: quality and LM are per-row projections (the LM score via the
batch broadcast-join path — model size unbounded, the
write_lm_score_stream fallback's design); the dedup gate needs
anti-join semantics against the static corpus, so the whole gate runs
inside ``foreachBatch`` (the incremental-dedup stream's pattern).
Per-batch cost ∝ |batch| probes; pass ``existing_hashes`` /
``existing_bands`` from operators/dedup.load_dedup_index so the
existing corpus text is never re-shingled per batch.

Equivalence contract (tests/test_streaming.py): the admitted set is
EXACTLY the batch predicates' conjunction on the same rows —
quality_score ≥ quality_min, lm ppm in [lm_lo, lm_hi], and
incremental_dedup_flags.admitted — so moving a corpus from batch
cleaning to streaming ingest never changes which documents survive.
Replay is exactly-once: the sink writes through the batch-id-keyed
idempotent append (streaming/sink.py), so a crash-replayed batch
replaces its own partition — no dedup-on-read needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.materialize import materialize
from overpaint_spark.streaming.sink import start_sink


def clean_gate_flags(
    batch: DataFrame,
    existing: DataFrame,
    model: DataFrame,
    quality_min: float = 0.5,
    lm_lo: int = 5400,
    lm_hi: int = 6300,
    id_col: str = "doc_id",
    text_col: str = "text",
    existing_hashes: DataFrame | None = None,
    existing_bands: DataFrame | None = None,
) -> DataFrame:
    """(id, quality_ok, lm_ok, dedup_ok, admitted) for one batch — the
    SHARED predicate body used by the streaming sink and the
    equivalence test, so the gate cannot drift from its own contract.
    LM scoring goes through operators/lm.lm_score (broadcast model);
    docs with no trigrams carry no LM evidence and FAIL the band (a
    quality gate admits on evidence, not absence)."""
    from overpaint_spark.functions import text as TX
    from overpaint_spark.operators.dedup import incremental_dedup_flags
    from overpaint_spark.operators.lm import lm_score

    docs = batch.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    quality = docs.select(
        "doc_id",
        (TX.quality_score(F.col("text")) >= quality_min).alias("quality_ok"),
    )
    lm = lm_score(docs, model).select(
        "doc_id",
        F.col("lm_score_ppm").between(lm_lo, lm_hi).alias("lm_ok"),
    )
    dd = incremental_dedup_flags(
        existing, docs,
        existing_hashes=existing_hashes, existing_bands=existing_bands,
    ).select("doc_id", F.col("admitted").alias("dedup_ok"))
    return (
        docs.select("doc_id")
        .join(quality, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .join(dd, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("quality_ok", F.lit(False)).alias("quality_ok"),
            F.coalesce("lm_ok", F.lit(False)).alias("lm_ok"),
            F.coalesce("dedup_ok", F.lit(False)).alias("dedup_ok"),
            (
                F.coalesce("quality_ok", F.lit(False))
                & F.coalesce("lm_ok", F.lit(False))
                & F.coalesce("dedup_ok", F.lit(False))
            ).alias("admitted"),
        )
    )


def write_clean_stream(
    stream: DataFrame,
    existing: DataFrame,
    model: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    quality_min: float = 0.5,
    lm_lo: int = 5400,
    lm_hi: int = 6300,
    id_col: str = "doc_id",
    text_col: str = "text",
    existing_hashes: DataFrame | None = None,
    existing_bands: DataFrame | None = None,
    trigger_available_now: bool = False,
):
    """Append only gate-admitted documents to ``out_dir``; one
    foreachBatch per micro-batch running :func:`clean_gate_flags`."""
    # the frozen model is BOUNDED (≤ charset³ rows) but arrives as a
    # lazy plan over the corpus: materialize once at sink construction
    # (the fk-gate pk idiom) so each micro-batch broadcasts the stored
    # rows instead of re-aggregating a corpus-sized gram explode
    model = materialize(model)
    # same treatment for the dedup gate's existing-corpus index (r13,
    # guide §1.2): when the caller didn't pass a prebuilt/persisted
    # index, EVERY micro-batch's incremental_dedup_flags re-derived the
    # content hashes AND re-shingled the whole existing corpus for the
    # LSH band keys — per batch. Build it once here instead; both
    # relations are tiny next to the corpus (16 B/doc + bands/doc
    # rows), and left-semi probes make the distinct()s semantically
    # invisible (equivalence pinned in tests/test_dedup.py).
    if existing_hashes is None or existing_bands is None:
        from overpaint_spark.operators.dedup import build_dedup_index

        built_h, built_b = build_dedup_index(
            existing, id_col=id_col, text_col=text_col
        )
        if existing_hashes is None:
            existing_hashes = materialize(built_h)
        if existing_bands is None:
            existing_bands = materialize(built_b)

    def admit(batch_df: DataFrame, batch_id: int) -> DataFrame:
        flags = clean_gate_flags(
            batch_df, existing, model, quality_min, lm_lo, lm_hi,
            id_col, text_col, existing_hashes, existing_bands,
        )
        return batch_df.join(
            flags.filter(F.col("admitted")).select(id_col), id_col, "left_semi"
        )

    return start_sink(
        stream, admit, out_dir, checkpoint_dir, trigger_available_now
    )
