"""Crash-replay exactly-once for the foreachBatch parquet sinks.

Structured Streaming replays a micro-batch when a crash lands between
the sink write and the checkpoint commit; a plain ``mode("append")``
body double-appends it. Every foreachBatch sink in this repo now
writes through ``streaming/sink.idempotent_append`` — a batch-id-keyed
dynamic partition overwrite — so replays must CONVERGE: re-running a
batch any number of times leaves exactly one copy. These tests
simulate the crash-replay by invoking the write path again with the
same batch id (exactly what the engine does on restart) and pin zero
duplicates.
"""

import os

import pyspark.sql.functions as F
import pytest

from overpaint_spark.streaming.sink import (
    BATCH_COL,
    idempotent_append,
    read_sink,
)

SF = "/root/testdata/sf0.001"
ROWS = "id long, v string"


def test_replay_same_batch_converges(spark, tmp_path):
    """Unit invariant: N replays of batch 0 leave one copy of its rows
    and never touch any other batch's partition."""
    out = str(tmp_path / "sink")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    idempotent_append(b0, 0, out)
    idempotent_append(b1, 1, out)
    for _ in range(3):  # crash-replay, thrice
        idempotent_append(b0, 0, out)
    got = sorted((r.id, r.v) for r in read_sink(spark, out, ROWS).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # reader schema is the original output schema, no bookkeeping col
    assert read_sink(spark, out, ROWS).columns == ["id", "v"]


def test_replay_partial_rewrite_repairs_batch(spark, tmp_path):
    """The failure mode that motivates the overwrite: a replay after a
    crash that left batch 0's partition in ANY state (here: a stale
    half-written version with different rows) must end with exactly
    the replayed batch's content — repair, not accretion."""
    out = str(tmp_path / "sink")
    stale = spark.createDataFrame([(1, "torn")], "id long, v string")
    idempotent_append(stale, 0, out)
    full = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    idempotent_append(full, 0, out)  # the replay
    got = sorted((r.id, r.v) for r in read_sink(spark, out, ROWS).collect())
    assert got == [(1, "a"), (2, "b")]


def test_next_batch_compiles_no_new_code(spark, tmp_path, compiled_classes):
    """The batch id reaches the generated code as a string reference,
    not an inlined integer, so a later micro-batch reuses the first
    one's compiled classes; the layout stays one ``_batch_id=N``
    directory per batch, read back as ``_batch_id long``."""
    out = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    idempotent_append(df, 0, out)
    assert compiled_classes(lambda: idempotent_append(df, 1, out)) == 0
    assert compiled_classes(lambda: idempotent_append(df, 2, out)) == 0
    dirs = sorted(d for d in os.listdir(out) if d.startswith(BATCH_COL))
    assert dirs == [f"{BATCH_COL}=0", f"{BATCH_COL}=1", f"{BATCH_COL}=2"]
    raw = spark.read.schema(f"id long, v string, {BATCH_COL} long").parquet(out)
    assert sorted((r[BATCH_COL], r.id) for r in raw.collect()) == [
        (b, i) for b in range(3) for i in (1, 2)
    ]


def test_reserved_column_rejected(spark, tmp_path):
    df = spark.createDataFrame([(1, 0)], f"id long, {BATCH_COL} long")
    with pytest.raises(ValueError, match=BATCH_COL):
        idempotent_append(df, 0, str(tmp_path / "sink"))


def test_fk_gate_replay_no_double_admissions(spark, tmp_path):
    """End-to-end on a real sink body: run the FK gate's per-batch
    write twice with the same batch id (the engine's replay) — the
    quarantine/admission counts must not double."""
    from overpaint_spark.streaming.integrity import fk_gate_flags

    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    batch = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (4, None)], "id long, fk long"
    )
    out = str(tmp_path / "out")
    for _ in range(2):  # first delivery + crash-replay
        idempotent_append(fk_gate_flags(batch, parent, "fk"), 0, out)
    rows = read_sink(spark, out, "id long, fk long, fk_ok boolean").collect()
    assert len(rows) == 4
    assert sum(1 for r in rows if not r.fk_ok) == 1  # fk=30 quarantined once


def test_ann_ingest_replay_no_duplicate_code_rows(spark, tmp_path):
    """The ANN delta sink under replay: re-encoding and re-writing the
    same micro-batch must leave the loaded index with exactly one code
    row per vector — a duplicated neighbor row would change search
    results pre-rank."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        encode_delta,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = e.count()
    split = n // 2
    idx0 = build_ann_index(
        e.filter(F.col("vec_id") < split), dim=64, n_centroids=16,
        n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "annidx")
    persist_ann_index(idx0, path)
    frozen = load_ann_index(spark, path)
    arriving = e.filter(F.col("vec_id") >= split).select("vec_id", "embedding")
    for _ in range(2):  # first delivery + crash-replay of batch 0
        idempotent_append(
            encode_delta(frozen, arriving), 0, f"{path}/codes_delta"
        )
    grown = load_ann_index(spark, path)
    ids = [r.vec_id for r in grown.indexed.select("vec_id").collect()]
    assert len(ids) == n
    assert len(set(ids)) == n  # zero duplicates after replay


def test_compact_folds_streamed_delta(spark, tmp_path):
    """Compaction folds codes_delta into the base relation and clears
    it; the loaded index is row-identical before and after."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        compact_ann_index,
        encode_delta,
        load_ann_index,
        persist_ann_index,
    )
    import os

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = e.count()
    split = n // 2
    idx0 = build_ann_index(
        e.filter(F.col("vec_id") < split), dim=64, n_centroids=16,
        n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "annidx")
    persist_ann_index(idx0, path)
    frozen = load_ann_index(spark, path)
    arriving = e.filter(F.col("vec_id") >= split).select("vec_id", "embedding")
    idempotent_append(encode_delta(frozen, arriving), 0, f"{path}/codes_delta")

    before = {
        r.vec_id: (list(r.codes), r.cluster_id)
        for r in load_ann_index(spark, path).indexed.collect()
    }
    compact_ann_index(spark, path)
    assert not os.path.exists(f"{path}/codes_delta")
    after = {
        r.vec_id: (list(r.codes), r.cluster_id)
        for r in load_ann_index(spark, path).indexed.collect()
    }
    assert before == after and len(after) == n
