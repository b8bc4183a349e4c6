"""Streaming image near-dup gate — the perceptual-hash twin of
write_incremental_dedup_stream: arriving assets are admitted only when
their 64-bit aHash has NO existing-corpus signature within Hamming
``max_hamming`` (operators/multimodal: image_phash + the 4×16-bit band
pigeonhole).

Shape notes, mirroring the text gate's contract:

- the gate needs anti-join semantics ("no band collides AND no
  candidate survives the exact popcount"), which Structured Streaming
  cannot express on a stream — so each micro-batch runs the SAME
  shared predicate body inside ``foreachBatch``;
- the existing corpus is passed as its HASH relation (asset_id, w0,
  w1) — hashes are 16 bytes/asset, so a 100 TB image corpus's index is
  parquet-small and the payloads are never re-decoded per batch (the
  persisted-dedup-index contract);
- per-batch cost: |batch| renders/decodes/hashes (embarrassingly
  parallel mapInPandas) + a banded postings join of 4·|batch| rows
  against the index bands — collision-bounded, never |batch|·|corpus|;
- within-stream duplicates (two near-identical images in one feed) are
  the job of an upstream content-dedup pass, exactly as the text gate
  delegates them — this gate checks against the static corpus only.

Equivalence contract (tests/test_streaming.py): the admitted set is
EXACTLY the batch composition — assets whose phash forms no
cross-pair at Hamming ≤ max_hamming with any existing hash — so
moving image ingest from batch screening to streaming never changes
which assets survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.streaming.sink import start_sink

_BAND_EXPRS = (
    lambda c: c("w0").bitwiseAND(F.lit(0xFFFF)),
    lambda c: F.shiftright(c("w0"), 16).bitwiseAND(F.lit(0xFFFF)),
    lambda c: c("w1").bitwiseAND(F.lit(0xFFFF)),
    lambda c: F.shiftright(c("w1"), 16).bitwiseAND(F.lit(0xFFFF)),
)


def _bands(hashes: DataFrame, id_out: str) -> DataFrame:
    return hashes.select(
        F.col("asset_id").alias(id_out),
        F.posexplode(F.array(*[e(F.col) for e in _BAND_EXPRS])).alias(
            "band_idx", "band_val"
        ),
    )


def phash_gate_flags(
    batch: DataFrame,
    existing_hashes: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(asset_id, w0, w1, admitted) for one batch — the SHARED
    predicate body used by the streaming sink and the equivalence
    test. A batch asset is admitted iff no existing signature sits
    within Hamming ``max_hamming`` (4-band pigeonhole shortlist, exact
    integer popcount confirm — zero false negatives for
    max_hamming ≤ 3, the multimodal_phash_neardups guarantee).

    Unhashable docs (empty text → image_phash's LENGTH > 0 filter
    drops them) get NO flags row here; the streaming sink admits them
    by rejecting only explicitly-flagged duplicates, matching the
    batch composition (an asset with no hash forms no cross-pair)."""
    from overpaint_spark.materialize import materialize
    from overpaint_spark.operators.multimodal import image_phash

    if max_hamming > 3:
        raise ValueError("4 bands guarantee recall only for max_hamming <= 3")
    # the batch signature relation is referenced three times below
    # (band postings, exact confirm, final flag join) — decode the
    # batch once instead of three times (r13)
    hashes = materialize(image_phash(batch, id_col=id_col, text_col=text_col))
    b = _bands(hashes, "asset_id")
    ex = _bands(existing_hashes, "ex_id").select(
        "ex_id",
        F.col("band_idx").alias("x_idx"),
        F.col("band_val").alias("x_val"),
    )
    cand = (
        b.join(
            ex,
            (F.col("band_idx") == F.col("x_idx"))
            & (F.col("band_val") == F.col("x_val")),
        )
        .select("asset_id", "ex_id")
        .distinct()
    )
    exh = existing_hashes.select(
        F.col("asset_id").alias("ex_id"),
        F.col("w0").alias("x_w0"),
        F.col("w1").alias("x_w1"),
    )
    hamming = F.bit_count(F.col("w0").bitwiseXOR(F.col("x_w0"))) + F.bit_count(
        F.col("w1").bitwiseXOR(F.col("x_w1"))
    )
    dup_ids = (
        cand.join(hashes, "asset_id")
        .join(exh, "ex_id")
        .filter(hamming <= max_hamming)
        .select("asset_id")
        .distinct()
    )
    return (
        hashes.join(dup_ids.withColumn("dup", F.lit(True)), "asset_id", "left")
        .withColumn("dup", F.coalesce(F.col("dup"), F.lit(False)))
        .select("asset_id", "w0", "w1", (~F.col("dup")).alias("admitted"))
    )


def write_phash_dedup_stream(
    stream: DataFrame,
    existing_hashes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = False,
):
    """Gate an asset ingest stream against a static corpus's phash
    index, appending only ADMITTED documents to ``out_dir``. Rows the
    hasher cannot sign (empty text) are admitted, not dropped: the
    gate rejects only EXPLICIT near-duplicates (anti-join on the
    rejected flags), so the admitted set equals the batch composition
    for hashable and unhashable docs alike. Replay is exactly-once:
    the append goes through the batch-id-keyed idempotent sink
    (streaming/sink.py), so a crash-replayed batch replaces its own
    partition instead of duplicating files.

    ``existing_hashes`` is materialized ONCE at sink construction: the
    gate references it twice per micro-batch (band postings + exact
    popcount confirm), and when callers pass a lazy ``image_phash``
    plan each reference would re-decode the whole existing corpus in
    Python, per batch (the write_clean_stream finding, r13)."""
    from overpaint_spark.materialize import materialize

    existing_hashes = materialize(existing_hashes)

    def admit(batch_df: DataFrame, batch_id: int) -> DataFrame:
        flags = phash_gate_flags(
            batch_df, existing_hashes, max_hamming, id_col, text_col
        )
        rejected = flags.filter(~F.col("admitted")).select(
            F.col("asset_id").alias(id_col)
        )
        return batch_df.join(rejected, id_col, "left_anti")

    return start_sink(
        stream, admit, out_dir, checkpoint_dir, trigger_available_now
    )
