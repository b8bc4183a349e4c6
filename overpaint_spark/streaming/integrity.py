"""Streaming referential-integrity gate — the ingest-time twin of the
``profile_referential_integrity`` audit's anti-join.

The production pattern is LATE-ARRIVING DIMENSIONS: facts stream in
against a dimension snapshot that is refreshed on its own slower
cadence, so a fact whose FK misses the snapshot is not (yet) an error —
it is quarantined, and the pipeline keeps flowing instead of failing
the batch or silently joining to NULLs downstream. This sink freezes
the dimension's key projection ONCE at construction (the snapshot
semantics — a mid-stream dimension refresh is a new sink, exactly like
the frozen Bloom/NB/LM/geometry gates in this package) and stamps every
arriving row with ``fk_ok`` via a broadcast LEFT join; rows and verdict
land together in one parquet sink, so admitted work reads
``fk_ok = true`` and the quarantine is ``fk_ok = false`` — re-admission
after a dimension refresh is one filter + replay, no state.

Per-batch cost: one broadcast join of the batch against the key
projection (keys only — the dimension's payload never ships), zero
state between batches. The gate is per-row stateless, so the sink's
contents are BIT-IDENTICAL to the batch gate over the union regardless
of chopping — which is what lets the declared ``stream_fk_quarantine``
relation hold the streamed sink to the batch SQL verbatim (the
stream_nb_classify / stream_token_cms proof shape).

Replay is exactly-once: the verdict rows land via the batch-id-keyed
idempotent sink (streaming/sink.py), so a crash-replayed batch
replaces its own partition — no double admissions, no double
quarantine rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.streaming.sink import start_sink


def fk_gate_flags(child: DataFrame, parent_keys: DataFrame, fk: str) -> DataFrame:
    """Stamp ``fk_ok`` onto every child row: true iff its ``fk`` value
    matches a parent key (NULL FKs are 'unknown', not orphans — they
    gate as ok, matching the batch audit's exclusion). ``parent_keys``
    must be a single-column key projection; it broadcasts."""
    reserved = {"__pk", "__hit", "fk_ok"} & set(child.columns)
    if reserved:
        # a child carrying these would yield ambiguous references or a
        # silently shadowed verdict column — fail loud instead
        raise ValueError(
            f"child columns {sorted(reserved)} collide with the gate's "
            "helper/verdict names (__pk, __hit, fk_ok) — rename them "
            "before gating"
        )
    pk_col = parent_keys.columns[0]
    pk = parent_keys.select(
        F.col(pk_col).alias("__pk"), F.lit(True).alias("__hit")
    ).distinct()
    joined = child.join(
        F.broadcast(pk), child[fk] == F.col("__pk"), "left"
    )
    return joined.select(
        *child.columns,
        (F.col(fk).isNull() | F.coalesce(F.col("__hit"), F.lit(False))).alias(
            "fk_ok"
        ),
    )


def write_fk_gate_stream(
    stream: DataFrame,
    parent_keys: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fk: str,
    trigger_available_now: bool = False,
):
    """Start the gate: every arriving row lands in ``out_dir`` with its
    ``fk_ok`` verdict. The parent key snapshot is frozen here (one
    bounded relation, cached for the sink's lifetime)."""
    # eager localCheckpoint (the decontaminate idiom): materialized once
    # at sink construction, no session-lifetime cache entry to leak
    # across repeated sink constructions (bench loops, re-deploys)
    pk = (
        parent_keys.select(parent_keys.columns[0])
        .distinct()
        .localCheckpoint(eager=True)
    )

    def gate(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return fk_gate_flags(batch_df, pk, fk)

    return start_sink(
        stream, gate, out_dir, checkpoint_dir, trigger_available_now
    )
