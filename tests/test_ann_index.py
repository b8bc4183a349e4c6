"""Persisted ANN index (operators/ann_index.py): the build → persist →
load → search lifecycle must be semantics-free — a loaded index
searches EXACTLY like the live ivf_pq_topk it was built from (shared
search body), and the stored artifact is self-describing (meta derived
from the bounded relations, no sidecar to go stale)."""

from pyspark.sql import functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_ann_index_roundtrip_matches_live_search(spark, tmp_path):
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
        search_ann_index,
    )
    from overpaint_spark.operators.quantization import ivf_pq_topk
    from overpaint_spark.operators.similarity import id_prefix

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 6)
    q_rows = q.select("vec_id", "embedding").collect()
    key = lambda r: (r.query_id, r.neighbor_id, r.rank, round(r.adc_dist, 9))  # noqa: E731

    live = sorted(
        map(
            key,
            ivf_pq_topk(
                e, id_prefix(e, 16), q_rows, n_centroids=16, n_probe=4,
                n_subspaces=8, n_codes=16, k=5,
            ).collect(),
        )
    )
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "ivfpq_index")
    persist_ann_index(idx, path)
    loaded = load_ann_index(spark, path)
    assert loaded.dim == 64 and len(loaded.coarse) == 16
    got = sorted(
        map(key, search_ann_index(loaded, q, n_probe=4, k=5).collect())
    )
    assert got == live and len(got) == 30


def test_persist_and_load_jobs_carry_callers_job_group(spark, tmp_path, untagged_jobs):
    """persist and load run their writes and collects from thread pools;
    every one of those jobs must carry the caller's job group."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "ivfpq_index")
    assert untagged_jobs(lambda: persist_ann_index(idx, path)) == []
    assert untagged_jobs(lambda: load_ann_index(spark, path)) == []


def test_ann_index_trained_centroids_build(spark, tmp_path):
    """k-means-trained centroids are a drop-in at build time; the
    persisted artifact round-trips bit-identically (same coarse/codes
    → same search rows)."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
        search_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 4)
    idx = build_ann_index(
        e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16, train_iters=2
    )
    path = str(tmp_path / "trained_index")
    persist_ann_index(idx, path)
    loaded = load_ann_index(spark, path)
    direct = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in search_ann_index(idx, q, n_probe=4, k=5).collect()
    )
    reloaded = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in search_ann_index(loaded, q, n_probe=4, k=5).collect()
    )
    assert direct == reloaded
    per_q = {}
    for qid, _nid, rank in reloaded:
        per_q.setdefault(qid, []).append(rank)
    assert set(per_q) == {0, 1, 2, 3}
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_incremental_add_is_bit_identical_to_bulk_build(spark, tmp_path):
    """FAISS-add semantics: an index grown in TWO increments against the
    frozen geometry must hold exactly the bulk build's code rows (raw
    coding is per-vector independent), and the appended STORED index
    must search identically to the bulk index after reload."""
    from overpaint_spark.operators.ann_index import (
        add_to_ann_index,
        build_ann_index,
        load_ann_index,
        persist_ann_index,
        search_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    a, b = n // 2, (3 * n) // 4
    # seeds (lowest 16 centroid ids + lowest 16 codebook ids) all live
    # in the first slice, so the frozen geometries coincide
    idx0 = build_ann_index(
        e.filter(F.col("vec_id") < a),
        dim=64, n_centroids=16, n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "grown_index")
    persist_ann_index(idx0, path)
    loaded = load_ann_index(spark, path)
    step1 = add_to_ann_index(
        loaded,
        e.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b)),
        persist_path=path,
    )
    add_to_ann_index(
        step1, e.filter(F.col("vec_id") >= b), persist_path=path
    )
    grown = load_ann_index(spark, path)
    bulk = build_ann_index(
        e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.vec_id, tuple(r.codes), r.cluster_id) for r in df.collect()
    )
    assert rows(grown.indexed) == rows(bulk.indexed)
    q = e.filter(F.col("vec_id") < 4)
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, r.rank) for r in df.collect()
    )
    assert key(search_ann_index(grown, q, n_probe=4, k=5)) == key(
        search_ann_index(bulk, q, n_probe=4, k=5)
    )


def test_tombstone_delete_and_compaction_semantics(spark, tmp_path):
    """Delete semantics must be visible at EVERY stage: the returned
    handle, a fresh load with un-compacted tombstones, and a fresh load
    after compaction must all exclude the deleted ids; compaction must
    physically shrink the codes relation and be a no-op when re-run."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        load_ann_index,
        persist_ann_index,
        search_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(
        e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16
    )
    path = str(tmp_path / "del_index")
    persist_ann_index(idx, path)
    n_all = spark.read.parquet(f"{path}/codes").count()
    loaded = load_ann_index(spark, path)
    dead = e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_dead = dead.count()
    assert n_dead > 0
    handle = delete_from_ann_index(loaded, dead, persist_path=path)
    dead_ids = {r.vec_id for r in dead.collect()}

    def ids_of(index):
        return {r.vec_id for r in index.indexed.select("vec_id").collect()}

    assert ids_of(handle) & dead_ids == set()
    # un-compacted: a fresh load must already exclude (load-side anti-join)
    assert ids_of(load_ann_index(spark, path)) & dead_ids == set()
    # physical file still holds every row until compaction
    assert spark.read.parquet(f"{path}/codes").count() == n_all
    compact_ann_index(spark, path)
    assert spark.read.parquet(f"{path}/codes").count() == n_all - n_dead
    compact_ann_index(spark, path)  # idempotent no-op
    assert spark.read.parquet(f"{path}/codes").count() == n_all - n_dead
    # deleted ids never appear as neighbors
    out = search_ann_index(
        load_ann_index(spark, path), e.filter(F.col("vec_id") < 4),
        n_probe=16, k=10,
    )
    assert {r.neighbor_id for r in out.collect()} & dead_ids == set()


def test_readd_after_delete_requires_compaction_first(spark, tmp_path):
    """Tombstone-wins semantics, honestly pinned: a tombstoned id that
    is re-added BEFORE compaction stays hidden from fresh loads (the
    load-side anti-join filters the codes relation by id, and the
    tombstone is still on disk); compacting first folds the tombstone
    away, after which a re-add is visible. The production cadence is
    therefore delete → compact → re-ingest, and this test is the
    documentation of why."""
    from overpaint_spark.operators.ann_index import (
        add_to_ann_index,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "readd_index")
    persist_ann_index(idx, path)
    victim = e.orderBy(F.col("vec_id").desc()).limit(1)
    vid = victim.collect()[0].vec_id

    def visible() -> bool:
        loaded = load_ann_index(spark, path)
        return bool(
            loaded.indexed.filter(F.col("vec_id") == vid).take(1)
        )

    delete_from_ann_index(load_ann_index(spark, path), victim.select("vec_id"), persist_path=path)
    assert not visible()
    # re-add while the tombstone is live: still hidden (tombstone wins)
    add_to_ann_index(load_ann_index(spark, path), victim, persist_path=path)
    assert not visible()
    # compaction folds the tombstone away — but it also removes BOTH
    # code rows for the victim (the original and the pre-compaction
    # re-add are the same id, and the tombstone excludes the id)
    compact_ann_index(spark, path)
    assert not visible()
    # the supported cadence: re-ingest AFTER compaction
    add_to_ann_index(load_ann_index(spark, path), victim, persist_path=path)
    assert visible()


def test_ann_index_stats_health_signals(spark, tmp_path):
    """The health relation's three signals against a hand-checkable
    store: per-list counts reconcile with the raw codes + tombstone
    relations, load_pml sums to ~1000·C (integer-division slack only),
    a fully-tombstoned list reports n_codes=0 with a NULL drift mean,
    and every live list's self-ADC mean is a non-negative integer."""
    from overpaint_spark.operators.ann_index import (
        ann_index_stats,
        build_ann_index,
        delete_from_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "stats_index")
    persist_ann_index(idx, path)

    raw = spark.read.parquet(f"{path}/codes")
    # tombstone one whole inverted list plus a scattered slice
    victim = raw.groupBy("cluster_id").count().orderBy("count", "cluster_id").first()
    full_list_ids = raw.filter(F.col("cluster_id") == victim.cluster_id).select("vec_id")
    scattered = e.filter(F.expr("vec_id % 11 = 5")).select("vec_id")
    loaded = load_ann_index(spark, path)
    delete_from_ann_index(
        loaded, full_list_ids.union(scattered).distinct(), persist_path=path
    )

    rows = {r.cluster_id: r for r in ann_index_stats(spark, path).collect()}
    tomb_ids = {
        r.vec_id for r in spark.read.parquet(f"{path}/tombstones").collect()
    }
    per_raw = {
        r.cluster_id: r.ids
        for r in raw.groupBy("cluster_id").agg(F.collect_list("vec_id").alias("ids")).collect()
    }
    assert set(rows) == set(per_raw)
    for cid, ids in per_raw.items():
        live = [i for i in ids if i not in tomb_ids]
        assert rows[cid].n_codes == len(live)
        assert rows[cid].n_tombstoned == len(ids) - len(live)
        if live:
            assert rows[cid].mean_self_adc_dmm is not None
            assert rows[cid].mean_self_adc_dmm >= 0
        else:
            assert rows[cid].mean_self_adc_dmm is None
            assert rows[cid].load_pml == 0
    assert rows[victim.cluster_id].n_codes == 0
    # permille loads sum to 1000·C minus only integer-floor slack
    c = len(per_raw)
    total_pml = sum(r.load_pml for r in rows.values())
    assert 1000 * c - c <= total_pml <= 1000 * c


def test_session_shared_store_bit_identical_to_fresh_build(spark, tmp_path):
    """The r10 consolidation claim: the session-shared pristine store
    (r10 — read-only consumers load it instead of rebuilding) must be
    BIT-IDENTICAL to a from-scratch build+persist over the same corpus
    — codes, cluster assignments, centroids, and codebooks — and a
    second call must return the SAME path (the cache hit that makes
    the sharing worth anything)."""
    from overpaint_spark import queries as Q
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    sf = "/root/testdata/sf0.001"
    p1 = Q._session_ann_store(spark, sf)
    assert Q._session_ann_store(spark, sf) == p1  # cached

    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_cent, _ = Q._ivf_params(sf)
    fresh = build_ann_index(
        e, dim=Q._QUANT_DIM, n_centroids=n_cent,
        n_subspaces=Q._PQ_M, n_codes=Q._PQ_K,
    )
    fp = str(tmp_path / "fresh")
    persist_ann_index(fresh, fp)

    a = load_ann_index(spark, p1)
    b = load_ann_index(spark, fp)
    rows_a = {
        r.vec_id: (list(r.codes), r.cluster_id) for r in a.indexed.collect()
    }
    rows_b = {
        r.vec_id: (list(r.codes), r.cluster_id) for r in b.indexed.collect()
    }
    assert rows_a == rows_b and len(rows_a) == e.count()
    assert (a.coarse == b.coarse).all()
    assert (a.codebook == b.codebook).all()

    # the mutation path gets a COPY, never the shared store itself
    c = Q._fresh_ann_store_copy(spark, sf)
    assert c != p1
    rows_c = {
        r.vec_id: (list(r.codes), r.cluster_id)
        for r in load_ann_index(spark, c).indexed.collect()
    }
    assert rows_c == rows_a


def test_compaction_stages_delta_before_reading(spark, tmp_path):
    """ADVICE r10 (medium): compaction must MOVE the mutable relations
    aside BEFORE reading anything, so a micro-batch a live ingest
    stream writes mid-compaction lands in a fresh ``codes_delta`` that
    the fold never reads or deletes. Pinned by replaying the exact
    interleaving: batch A staged (compaction in flight / crashed),
    batch B arriving afterwards — readers must see A∪B throughout, and
    the next compaction must fold BOTH without losing a row."""
    import os
    import shutil

    from overpaint_spark.operators.ann_index import (
        _read_codes,
        build_ann_index,
        compact_ann_index,
        encode_delta,
        load_ann_index,
        persist_ann_index,
    )
    from overpaint_spark.streaming.sink import idempotent_append

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    base, a, b = n - 20, n - 20, n - 10
    idx = build_ann_index(
        e.filter(F.col("vec_id") < base),
        dim=64, n_centroids=16, n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "race_index")
    persist_ann_index(idx, path)
    frozen = load_ann_index(spark, path)

    # batch A arrives via the stream sink
    delta_a = encode_delta(
        frozen, e.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b))
    )
    idempotent_append(delta_a, 0, f"{path}/codes_delta")
    # a compaction stages A aside (its FIRST step) and then crashes —
    # the exact on-disk state mid-fold
    os.makedirs(f"{path}/codes_delta_compacting", exist_ok=True)
    shutil.move(
        f"{path}/codes_delta", f"{path}/codes_delta_compacting/g1"
    )
    # readers still see A (staged generations are part of the corpus)
    assert _read_codes(spark, path).count() == base + (b - a)
    # batch B arrives AFTER the stage move — the previously-lost write
    delta_b = encode_delta(frozen, e.filter(F.col("vec_id") >= b))
    idempotent_append(delta_b, 1, f"{path}/codes_delta")
    assert _read_codes(spark, path).count() == n
    # the next compaction folds BOTH generations; nothing is lost
    compact_ann_index(spark, path)
    assert spark.read.parquet(f"{path}/codes").count() == n
    assert not os.path.isdir(f"{path}/codes_delta")
    assert not os.path.isdir(f"{path}/codes_delta_compacting")
    # grown index searches over the full corpus
    got = {
        r.vec_id
        for r in load_ann_index(spark, path).indexed.select("vec_id").collect()
    }
    assert got == {r.vec_id for r in e.select("vec_id").collect()}


def test_fresh_store_copy_walks_every_relation(spark, tmp_path):
    """VERDICT r10 #7: the mutator clone walks EVERY store entry — a
    store that has grown a ``codes_delta`` (or any future relation)
    survives the copy instead of being silently dropped."""
    import os

    from overpaint_spark import queries as Q
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        encode_delta,
        load_ann_index,
        persist_ann_index,
    )
    from overpaint_spark.streaming.sink import idempotent_append

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    idx = build_ann_index(
        e.filter(F.col("vec_id") < n - 10),
        dim=64, n_centroids=16, n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "delta_store")
    persist_ann_index(idx, path)
    delta = encode_delta(
        load_ann_index(spark, path), e.filter(F.col("vec_id") >= n - 10)
    )
    idempotent_append(delta, 0, f"{path}/codes_delta")

    key = (spark.sparkContext.applicationId, SF.rstrip("/"), "t7_delta")
    Q._ANN_STORE_CACHE[key] = path
    try:
        clone = Q._fresh_ann_store_copy(spark, SF, scope="t7_delta")
    finally:
        del Q._ANN_STORE_CACHE[key]
    assert {"codes", "centroids", "codebook", "codes_delta"} <= set(
        os.listdir(clone)
    )
    assert load_ann_index(spark, clone).indexed.count() == n


def test_compaction_recovers_interrupted_swap(spark, tmp_path):
    """Crash recovery (ADVICE r11): a fold that died between
    move(codes -> codes_old) and move(codes_compacted -> codes) leaves
    the store with no codes/ directory. The next compact_ann_index must
    roll the swap BACK (codes_old + still-staged generations are a
    complete pre-fold copy) and then complete the fold itself — not
    early-return or crash reading a missing codes/."""
    import os
    import shutil

    from overpaint_spark.operators.ann_index import (
        add_to_ann_index,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "crash_index")
    persist_ann_index(idx, path)
    n_all = spark.read.parquet(f"{path}/codes").count()
    dead = e.filter(F.col("vec_id") % 11 == 1).select("vec_id")
    n_dead = dead.count()
    assert n_dead > 0
    delete_from_ann_index(load_ann_index(spark, path), dead, persist_path=path)

    # reconstruct the exact mid-swap crash state: staged generations in
    # *_compacting, a fully-written codes_compacted, codes renamed aside
    os.makedirs(f"{path}/tombstones_compacting")
    shutil.move(
        f"{path}/tombstones", f"{path}/tombstones_compacting/deadbeef"
    )
    shutil.copytree(f"{path}/codes", f"{path}/codes_compacted")
    shutil.move(f"{path}/codes", f"{path}/codes_old")
    assert not os.path.isdir(f"{path}/codes")

    compact_ann_index(spark, path)
    # fold completed from the rolled-back inputs: tombstones applied,
    # store back to a clean single-generation layout
    assert spark.read.parquet(f"{path}/codes").count() == n_all - n_dead
    for leftover in (
        "codes_old", "codes_compacted", "codes_delta_old",
        "tombstones_old", "tombstones_compacting", "tombstones",
    ):
        assert not os.path.isdir(f"{path}/{leftover}"), leftover
    dead_ids = {r.vec_id for r in dead.collect()}
    live = {
        r.vec_id
        for r in load_ann_index(spark, path)
        .indexed.select("vec_id")
        .collect()
    }
    assert live & dead_ids == set()

    # degenerate variant: only codes_compacted survives (no codes_old);
    # the entry recovery must promote it rather than fail
    victim = e.limit(1)
    add_to_ann_index(load_ann_index(spark, path), victim, persist_path=path)
    shutil.move(f"{path}/codes", f"{path}/codes_compacted")
    compact_ann_index(spark, path)
    assert (
        spark.read.parquet(f"{path}/codes").count() == n_all - n_dead + 1
    )


def _grown_store(spark, path):
    """A persisted index with all three mutable-side relations: the
    base ``codes``, a streamed ``codes_delta`` batch and ``tombstones``
    — built from in-memory handles, so no load has opened ``path`` yet.
    Returns (corpus, live id set)."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        delete_from_ann_index,
        encode_delta,
        persist_ann_index,
    )
    from overpaint_spark.streaming.sink import idempotent_append

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    n = e.count()
    idx = build_ann_index(
        e.filter(F.col("vec_id") < n - 20),
        dim=64, n_centroids=16, n_subspaces=8, n_codes=16,
    )
    persist_ann_index(idx, path)
    idempotent_append(
        encode_delta(idx, e.filter(F.col("vec_id") >= n - 20)), 0,
        f"{path}/codes_delta",
    )
    dead = e.filter(F.col("vec_id") % 9 == 4).select("vec_id")
    delete_from_ann_index(idx, dead, persist_path=path)
    dead_ids = {r.vec_id for r in dead.collect()}
    return e, {r.vec_id for r in e.collect()} - dead_ids


def test_load_runs_no_inference_and_reuses_geometry(spark, tmp_path, jobs_by_stage):
    """Opening a grown index reads every relation with its declared
    schema: the first load runs the two geometry collects and no
    ``parquet at`` schema-inference stage, and a repeated load of the
    unchanged index runs no job at all — while still seeing codes ∪
    codes_delta minus tombstones."""
    from overpaint_spark.operators.ann_index import load_ann_index

    path = str(tmp_path / "grown")
    _, live = _grown_store(spark, path)
    cold = jobs_by_stage(lambda: load_ann_index(spark, path))
    assert len(cold) == 2, cold
    assert not [
        n for names in cold.values() for n in names if n.startswith("parquet at")
    ], cold
    assert jobs_by_stage(lambda: load_ann_index(spark, path)) == {}
    loaded = load_ann_index(spark, path)
    assert {r.vec_id for r in loaded.indexed.select("vec_id").collect()} == live


def test_repersist_at_same_path_is_picked_up(spark, tmp_path, jobs_by_stage):
    """Geometry reuse is keyed on the part files, not the path: a new
    index persisted over an opened one is collected again on the next
    load, and the shared arrays are read-only."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "repersist")
    persist_ann_index(
        build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16), path
    )
    first = load_ann_index(spark, path)
    assert len(first.coarse) == 16
    with pytest.raises(ValueError):
        first.coarse[0, 0] = 1.0
    with pytest.raises(ValueError):
        first.codebook[0, 0, 0] = 1.0

    other = build_ann_index(e, dim=64, n_centroids=8, n_subspaces=4, n_codes=8)
    persist_ann_index(other, path)
    reload_jobs = jobs_by_stage(lambda: load_ann_index(spark, path))
    assert len(reload_jobs) == 2, reload_jobs
    again = load_ann_index(spark, path)
    assert (again.coarse == other.coarse).all()
    assert (again.codebook == other.codebook).all()
    assert again.dim == 64 and again.codebook.shape == (4, 8, 16)


def test_declared_schemas_equal_inferred(spark, tmp_path):
    """Each declared schema is exactly what Spark infers from a freshly
    persisted and grown index (the delta's ``_batch_id`` partition
    column left out), so declaring them changes no reader's rows."""
    from overpaint_spark.operators.ann_index import (
        CENTROIDS_SCHEMA,
        CODEBOOK_SCHEMA,
        codes_schema,
        tombstones_schema,
    )
    from overpaint_spark.streaming.sink import BATCH_COL

    path = str(tmp_path / "schemas")
    _grown_store(spark, path)
    for rel, ddl in (
        ("codes", codes_schema("vec_id")),
        ("codes_delta", codes_schema("vec_id")),
        ("tombstones", tombstones_schema("vec_id")),
        ("centroids", CENTROIDS_SCHEMA),
        ("codebook", CODEBOOK_SCHEMA),
    ):
        inferred = spark.read.parquet(f"{path}/{rel}").drop(BATCH_COL).schema
        declared = spark.createDataFrame([], ddl).schema
        assert inferred == declared, rel


def test_int_typed_tombstones_still_exclude(spark, tmp_path):
    """Tombstones whose id is ``int``: a directory written before deletes
    cast the id (int files) keeps excluding its rows on load, a delete
    through an int-typed id frame writes ``long`` files beside them, and
    load, stats and compaction all honour both."""
    import pyarrow.parquet as pq

    from overpaint_spark.operators.ann_index import (
        ann_index_stats,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "int_tomb")
    persist_ann_index(
        build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16), path
    )
    n_all = e.count()
    old = e.filter(F.col("vec_id") % 10 == 1).select(F.col("vec_id").cast("int"))
    old.write.parquet(f"{path}/tombstones")  # the int-id layout
    old_ids = {r.vec_id for r in old.collect()}

    def live():
        return {
            r.vec_id
            for r in load_ann_index(spark, path).indexed.select("vec_id").collect()
        }

    assert live() & old_ids == set() and len(live()) == n_all - len(old_ids)
    new = e.filter(F.col("vec_id") % 10 == 2).select(F.col("vec_id").cast("int"))
    delete_from_ann_index(load_ann_index(spark, path), new, persist_path=path)
    new_ids = {r.vec_id for r in new.collect()}
    tomb_dir = tmp_path / "int_tomb" / "tombstones"
    types = {
        str(pq.read_schema(f).field("vec_id").type)
        for f in tomb_dir.glob("*.parquet")
    }
    assert types == {"int32", "int64"}
    assert live() & (old_ids | new_ids) == set()
    stats = ann_index_stats(spark, path).collect()
    assert sum(r.n_tombstoned for r in stats) == len(old_ids | new_ids)
    compact_ann_index(spark, path)
    assert spark.read.parquet(f"{path}/codes").count() == n_all - len(old_ids | new_ids)
    assert live() & (old_ids | new_ids) == set()


def test_empty_ingest_batch_leaves_index_unchanged(spark, tmp_path):
    """A 0-row arriving file makes a micro-batch with no rows; the sink
    writes it without an emptiness probe, and the empty ``codes_delta``
    it leaves reads as zero rows: load, search and compaction see the
    index unchanged."""
    import os

    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        compact_ann_index,
        load_ann_index,
        persist_ann_index,
        search_ann_index,
    )
    from overpaint_spark.streaming.ann_ingest import write_ann_ingest_stream

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    persist_ann_index(
        build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16), path
    )
    q = e.filter(F.col("vec_id") < 4)

    def snapshot():
        idx = load_ann_index(spark, path)
        rows = sorted(
            (r.vec_id, tuple(r.codes), r.cluster_id) for r in idx.indexed.collect()
        )
        hits = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in search_ann_index(idx, q, n_probe=4, k=5).collect()
        )
        return rows, hits

    before = snapshot()
    src = str(tmp_path / "arriving")
    e.limit(0).write.parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)
    sq = write_ann_ingest_stream(
        stream, path, str(tmp_path / "ckpt"), trigger_available_now=True
    )
    assert sq.awaitTermination(120) and sq.exception() is None
    assert os.path.isdir(f"{path}/codes_delta")
    assert snapshot() == before
    compact_ann_index(spark, path)
    assert not os.path.isdir(f"{path}/codes_delta")
    assert snapshot() == before


def test_build_and_delta_encode_in_one_pass(spark, tmp_path):
    """build_ann_index and encode_delta code rows come from ONE
    mapInPandas (assignment and PQ encode share each batch matrix), not
    a join of an assignment pass with an encode pass."""
    from overpaint_spark.operators.ann_index import build_ann_index, encode_delta

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = build_ann_index(e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16)
    for df in (idx.indexed, encode_delta(idx, e)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInPandas") == 1 and "Join" not in plan, plan
        assert df.columns == ["vec_id", "codes", "cluster_id"]


def test_geometry_cache_under_concurrent_loads(spark, tmp_path, monkeypatch):
    """Loads of two indexes from several threads, with the geometry cache
    held to one path so nearly every load evicts the other: each load
    returns its own index's geometry and none raises."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from overpaint_spark.operators import ann_index as A

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    paths = {}
    for c in (8, 16):
        paths[c] = str(tmp_path / f"c{c}")
        A.persist_ann_index(
            A.build_ann_index(e, dim=64, n_centroids=c, n_subspaces=8, n_codes=16),
            paths[c],
        )
    monkeypatch.setattr(A, "_GEOMETRY_CACHE_PATHS", 1)

    def load(i):
        c = (8, 16)[i % 2]
        coarse, codebook = A.load_ann_geometry(spark, paths[c])
        return c, coarse.shape, codebook.shape

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [pool.submit(inheritable_thread_target(spark)(load), i) for i in range(24)]
            got = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 24
    for c, cshape, cbshape in got:
        assert cshape == (c, 64) and cbshape == (8, 16, 8)
