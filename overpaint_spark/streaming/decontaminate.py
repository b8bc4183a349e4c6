"""Streaming ingest-time decontamination gate — the production twin of
operators/decontaminate.decontaminated_bloom: every arriving document is
screened against the BENCHMARK suite before it is appended to the
training corpus, so eval text never enters the corpus in the first
place (batch decontamination only ever removes it after the fact).

Shape: the eval-gram Bloom bitset is built ONCE when the sink is
constructed (the frozen-LM-model pattern from streaming/lm.py — eval
suites change at release cadence, not ingest cadence) and rides every
micro-batch plan as a 16 KiB literal. The screen itself is a stateless
map-side ``exists`` over each doc's own gram array — no state store, no
shuffle, no join for the clean majority. Only Bloom candidates pay the
exact confirm join against the real eval gram set, and that join runs
inside ``foreachBatch`` because stream-static LEFT ANTI joins are not
supported in a streaming plan (the same reason the dedup gate lives in
foreachBatch).

Equivalence contract (tests/test_streaming.py): the admitted set is
EXACTLY ``decontaminated_bloom(batch, eval_docs)`` — itself bit-equal
to the exact anti-join — so moving decontamination from batch to ingest
never changes which documents survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.functions import text as TX
from overpaint_spark.operators.decontaminate import (
    BLOOM_BITS_DEFAULT,
    BLOOM_HASHES_DEFAULT,
    bloom_candidate_pred,
    bloom_geometry,
    build_gram_bloom,
)
from overpaint_spark.operators.dedup import distinct_shingles
from overpaint_spark.streaming.sink import start_sink


def contamination_gate_flags(
    batch: DataFrame,
    eval_grams: DataFrame,
    words: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_bits: int = BLOOM_BITS_DEFAULT,
    n_hashes: int = BLOOM_HASHES_DEFAULT,
) -> DataFrame:
    """(id, candidate, admitted) for one batch — the SHARED predicate
    body used by the sink and the equivalence test. ``candidate`` is
    the map-side Bloom verdict (may contain false positives);
    ``admitted`` is the exact-confirmed gate — a doc is rejected only
    when one of its grams REALLY appears in the eval suite."""
    grams = TX.shingles(F.col(text_col), k)
    screened = batch.select(
        F.col(id_col),
        # hash-once screen (SCALE.md r11): 2 xxhash64 per gram, not
        # 2*n_hashes — identical verdicts to bloom_might_contain
        bloom_candidate_pred(grams, words, n_bits, n_hashes).alias(
            "candidate"
        ),
    )
    confirmed = (
        batch.join(
            screened.filter(F.col("candidate")).select(id_col), id_col, "left_semi"
        )
        .select(F.col(id_col), F.explode(grams).alias("shingle"))
        .join(F.broadcast(eval_grams), "shingle", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        screened.join(confirmed, id_col, "left")
        .select(
            id_col,
            "candidate",
            (~F.coalesce("contaminated", F.lit(False))).alias("admitted"),
        )
    )


def write_decontaminate_stream(
    stream: DataFrame,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_bits: int | None = None,
    n_hashes: int = BLOOM_HASHES_DEFAULT,
    trigger_available_now: bool = False,
):
    """Append only eval-clean documents to ``out_dir``.

    The Bloom bitset and the exact eval-gram relation are both frozen
    HERE, once — geometry derived from the measured eval gram count by
    default (:func:`bloom_geometry`, matching the batch operator);
    per-batch work is one map-side screen plus the candidate-sliver
    confirm. Replay is exactly-once: the deterministic gate's output
    lands via the batch-id-keyed idempotent sink (streaming/sink.py),
    so a crash-replayed batch replaces its own partition."""
    eval_grams = (
        distinct_shingles(eval_docs, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .cache()
    )
    if n_bits is None:
        n_bits = bloom_geometry(eval_grams.count())
    words = build_gram_bloom(eval_grams, n_bits, n_hashes)

    def admit(batch_df: DataFrame, batch_id: int) -> DataFrame:
        flags = contamination_gate_flags(
            batch_df, eval_grams, words, id_col, text_col, k, n_bits, n_hashes
        )
        return batch_df.join(
            flags.filter(F.col("admitted")).select(id_col), id_col, "left_semi"
        )

    return start_sink(
        stream, admit, out_dir, checkpoint_dir, trigger_available_now
    )
