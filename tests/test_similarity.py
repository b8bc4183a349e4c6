"""Similarity-search operators: exact baselines agree across engines
(JVM fold vs numpy), LSH recall is sane."""

import math

import pytest
from pyspark.sql import Row

from overpaint_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_known_neighbors(tiny):
    out = SIM.brute_force_topk(tiny, tiny.filter("vec_id = 0"), k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    sim01 = next(r.cosine_sim for r in out if r.neighbor_id == 1)
    # embeddings are stored float32, so compare at float32 precision
    assert math.isclose(sim01, 0.9 / math.sqrt(0.82), rel_tol=1e-6)


def test_numpy_path_matches_jvm_fold(spark):
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 5")
    jvm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
           for r in SIM.brute_force_topk(e, q, k=5).collect()}
    np_ = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
           for r in SIM.brute_force_topk_numpy(e, q, k=5).collect()}
    assert jvm.keys() == np_.keys()
    for key, (nid, sim) in jvm.items():
        nid2, sim2 = np_[key]
        assert nid == nid2
        assert math.isclose(sim, sim2, rel_tol=1e-9)


def test_lsh_topk_recall(spark):
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    exact = {(r.query_id, r.neighbor_id) for r in SIM.brute_force_topk(e, q, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in SIM.lsh_topk(e, q, dim=64, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # multiprobe hyperplane LSH on random 64-d data: modest but real recall;
    # the contract is "sublinear candidate set, nonzero recall", tuned later
    assert recall >= 0.2, f"recall {recall}"


def test_hyperplane_signature_deterministic(tiny):
    from pyspark.sql import functions as F

    sig = tiny.select(
        "vec_id",
        SIM.hyperplane_signature(F.col("embedding").cast("array<double>"), dim=3, n_planes=4).alias("s"),
    )
    a = {r.vec_id: r.s for r in sig.collect()}
    b = {r.vec_id: r.s for r in sig.collect()}
    assert a == b and all(len(v) == 4 for v in a.values())


def test_ivf_topk_recall_and_exact_sims(spark):
    import math
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    _, cmat = SIM.id_prefix(e, 16)
    exact = {(r.query_id, r.neighbor_id): r.cosine_sim
             for r in SIM.brute_force_topk(e, q, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id): r.cosine_sim
           for r in SIM.ivf_topk(e, q, cmat, k=5).collect()}
    # every returned similarity is the true cosine (IVF prunes, never distorts)
    for key, sim in ivf.items():
        if key in exact:
            assert math.isclose(sim, exact[key], rel_tol=1e-9)
    recall = len(set(exact) & set(ivf)) / len(exact)
    assert recall >= 0.3, f"recall {recall}"
    # per-query ranks are 1..k without gaps
    ranks = {}
    for r in SIM.ivf_topk(e, q, cmat, k=5).collect():
        ranks.setdefault(r.query_id, []).append(r.rank)
    for qid, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_ivf_trained_centroids_recall(spark):
    """k-means-trained IVF: recall at least matches the untrained index
    on the fixtures, and training is deterministic (same centroids →
    same result set on repeat runs)."""
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    exact = {(r.query_id, r.neighbor_id)
             for r in SIM.brute_force_topk(e, q, k=5).collect()}
    _, init = SIM.id_prefix(e, 16)
    plain = {(r.query_id, r.neighbor_id)
             for r in SIM.ivf_topk(e, q, init, k=5).collect()}
    trained1 = {(r.query_id, r.neighbor_id)
                for r in SIM.ivf_topk(
                    e, q, SIM.train_kmeans_centroids(e, init, 3), k=5
                ).collect()}
    trained2 = {(r.query_id, r.neighbor_id)
                for r in SIM.ivf_topk(
                    e, q, SIM.train_kmeans_centroids(e, init, 3), k=5
                ).collect()}
    assert trained1 == trained2
    r_plain = len(exact & plain) / len(exact)
    r_trained = len(exact & trained1) / len(exact)
    assert r_trained >= r_plain - 0.1, (r_plain, r_trained)
    assert r_trained >= 0.3


def test_kmeans_centroids_shape_and_determinism(spark):
    import numpy as np

    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    c1 = SIM.train_kmeans_centroids(e, SIM.id_prefix(e, 8)[1], n_iter=2)
    c2 = SIM.train_kmeans_centroids(e, SIM.id_prefix(e, 8)[1], n_iter=2)
    assert c1.shape == (8, len(e.select("embedding").first()[0]))
    assert np.array_equal(c1, c2)


def test_signature_folded_matches_unrolled(spark):
    """The two hyperplane-signature forms must agree bit-for-bit (the
    fold switches in silently at high dim)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=32)])
            for i in range(40)]
    df = spark.createDataFrame(rows).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = df.select(
        SIM._signature_unrolled(F.col("v"), 32, 8).alias("a"),
        SIM._signature_folded(F.col("v"), 32, 8).alias("b"),
    ).collect()
    assert all(r.a == r.b for r in out)


def test_lsh_signature_executes_at_dim_512(spark):
    """The fold form's expression tree is dim-independent — end-to-end
    lsh_topk at dim 512 (where the unrolled tree would risk codegen
    blowup) plans, executes, and returns ranked neighbors."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    base = rng.normal(size=(3, 512))
    rows = []
    for i in range(60):
        v = base[i % 3] + rng.normal(scale=0.05, size=512)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    got = SIM.lsh_topk(df, df.limit(6), dim=512, k=3).collect()
    assert got, "no neighbors at dim 512"
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, len(rs) + 1)
        )
        # clustered fixtures: the top neighbor shares the query's cluster
        top = min(rs, key=lambda r: r.rank)
        assert top.neighbor_id % 3 == q % 3
        assert all(-1.0 <= r.cosine_sim <= 1.0 for r in rs)


def test_zero_norm_vector_never_wins(spark):
    """An all-zero embedding (an empty document) has undefined cosine:
    0/0 = NaN, and Spark sorts NaN ABOVE every double — pre-fix the zero
    vector ranked as the #1 neighbor of every query and passed every
    threshold filter. It must now never appear as a neighbor, never pass
    a near-dup threshold, and never crash the numpy paths."""
    from pyspark.sql import functions as F

    from overpaint_spark.operators import dedup as DD
    from overpaint_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (99, [0.0, 0.0, 0.0, 0.0]),  # the hostile zero vector
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter("vec_id = 0")

    top = SIM.brute_force_topk(e, q, k=2).collect()
    assert all(r.neighbor_id != 99 for r in top)
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)] == [1, 2]

    top_np = SIM.brute_force_topk_numpy(e, q, k=2).collect()
    assert all(r.neighbor_id != 99 for r in top_np)

    pairs = DD.embedding_near_dup_pairs(e, threshold=0.4).collect()
    assert all(99 not in (r.a_id, r.b_id) for r in pairs)
    pairs_blk = DD.embedding_near_dup_pairs_blocked(e, threshold=0.4, n_blocks=2)
    assert all(99 not in (r.a_id, r.b_id) for r in pairs_blk.collect())

    # assignment paths must stay deterministic, not crash on NaN
    _, cmat = SIM.id_prefix(e, 2)
    assigned = SIM.assign_to_centroids(e, cmat, 1).collect()
    assert len(assigned) == 4


def test_zero_norm_vector_paths_agree(spark):
    """Zero-norm vectors pin cosine to -1.0 in BOTH declared paths (the
    JVM fold coalesces, the numpy twin nan_to_num's) — the r4 advisor
    caught the SQL path emitting NULL while numpy emitted -1.0, which
    would break row-for-row equivalence the moment a zero vector enters
    a fixture. The zero vector must rank LAST, never rank-1."""
    from pyspark.sql import Row

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 0.0]),  # zero-norm
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter("vec_id = 0")
    jvm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
           for r in SIM.brute_force_topk(e, q, k=3).collect()}
    np_ = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
           for r in SIM.brute_force_topk_numpy(e, q, k=3).collect()}
    assert jvm == np_
    # the zero vector is the worst-ranked neighbor with sim exactly -1.0
    worst_rank = max(r for (_, r) in jvm)
    nid, sim = jvm[(0, worst_rank)]
    assert nid == 2 and sim == -1.0


def test_two_level_assignment_exhaustive_probe_equals_flat(spark):
    """coarse_probe >= G probes every group, so the two-level path must
    reproduce the flat GEMM assignment EXACTLY — same clusters, same
    lower-index tie rule — for both n_assign=1 (SemDeDup assignment)
    and n_assign=4 (IVF probes). This is the machinery-correctness pin
    for the N*C -> N*~2*sqrt(C) asymptote fix."""
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    _, cmat = SIM.id_prefix(e, 16)
    for n_assign in (1, 4):
        flat = {
            (r.vec_id, i): r.cluster_id
            for i, r in enumerate(
                SIM.assign_to_centroids(e, cmat, n_assign).collect()
            )
        }
        two = {
            (r.vec_id, i): r.cluster_id
            for i, r in enumerate(
                SIM.assign_to_centroids_two_level(
                    e, cmat, n_assign, coarse_probe=16
                ).collect()
            )
        }
        assert flat == two


def test_two_level_assignment_partial_probe_agreement_floor(spark):
    """Below-exhaustive probes are honestly approximate; the fixtures'
    random embeddings are the WORST case for a coarse quantizer (no
    cluster structure), so the measured agreements there (0.72 at p=2,
    0.876 at p=3, G=4) are pinned as floors — a regression below them
    means the probe/merge machinery broke, not that the data got
    harder."""
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    _, cmat = SIM.id_prefix(e, 16)
    flat = {r.vec_id: r.cluster_id
            for r in SIM.assign_to_centroids(e, cmat, 1).collect()}
    for p, floor in ((2, 0.7), (3, 0.85)):
        two = {r.vec_id: r.cluster_id
               for r in SIM.assign_to_centroids_two_level(
                   e, cmat, 1, coarse_probe=p).collect()}
        assert two.keys() == flat.keys()
        agree = sum(1 for k in flat if flat[k] == two[k]) / len(flat)
        assert agree >= floor, f"p={p} agreement {agree}"


def test_flat_assignment_dispatches_to_two_level_past_threshold(spark, monkeypatch):
    """assign_to_centroids auto-dispatches to the two-level path once C
    crosses _TWO_LEVEL_MIN_C, so SemDeDup/IVF inherit the asymptote fix
    with no caller changes; fixtures (C=16) keep the flat exact path."""
    import numpy as np

    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet").limit(64)
    _, cmat = SIM.id_prefix(e, 16)
    monkeypatch.setattr(SIM, "_TWO_LEVEL_MIN_C", 16)
    via_dispatch = {r.vec_id: r.cluster_id
                    for r in SIM.assign_to_centroids(e, cmat, 1).collect()}
    direct = {r.vec_id: r.cluster_id
              for r in SIM.assign_to_centroids_two_level(e, cmat, 1).collect()}
    assert via_dispatch == direct
    assert len(via_dispatch) == 64


def test_kmeans_training_two_level_path_matches_flat(spark, monkeypatch):
    """With the dispatch threshold forced down, each k-means iteration
    assigns via the shared two-level core; exhaustive coarse probing
    (G groups, p clamps to min(8, G) = G here since G=4) must yield the
    exact flat-path centroid matrix after every iteration."""
    import numpy as np

    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet").limit(200)
    _, init = SIM.id_prefix(e, 16)
    flat = SIM.train_kmeans_centroids(e, init, n_iter=2)
    monkeypatch.setattr(SIM, "_TWO_LEVEL_MIN_C", 16)
    two = SIM.train_kmeans_centroids(e, init, n_iter=2)
    assert np.array_equal(flat, two)


def test_ivf_params_fixture_floor_and_probe_cap(monkeypatch):
    """All fixture SFs land on (C=16, probe=4) — the floor that keeps
    the measured oracle margins valid — and the probe count is CAPPED
    (uncapped C/4 made per-query work n_probe*N/C = N/4, linear: the
    r5 review finding). The big-N half drives THE PRODUCTION FUNCTION
    with a faked footer count (an inline re-derivation of the formula
    would stay green if someone deleted the clamp — second r5 review
    finding); footer reads only, no session."""
    from overpaint_spark import queries as Q
    from overpaint_spark.sources import catalog as CAT

    for sf in ("0.001", "0.01", "0.1"):
        assert Q._ivf_params(f"/root/testdata/sf{sf}") == (16, 4)

    # steady-state: at N = 10^8 the probe must pin to the cap so
    # per-query candidate work is cap * list-size = cap * 125, flat in N
    monkeypatch.setattr(CAT, "footer_row_count", lambda path: 10**8)
    n_cent, n_probe = Q._ivf_params("/does/not/matter")
    assert n_cent == 10**8 // 125
    assert n_probe == Q._IVF_PROBE_CAP


def test_hamming_topk_structure_and_recall(spark):
    """Binary-sketch search: gapless ranks, no self-matches, distances
    in [0, dim], and non-trivial recall vs exact cosine (0.16 measured
    on the random fixture — the 1-bit/dim sketch is the COARSE tier;
    its job is cheap candidate pruning, not final ranking; floor 0.1
    guards against a broken signature, not sketch quality)."""
    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    out = SIM.hamming_topk(e, q, dim=64, k=5).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    assert all(0 <= r.hamming <= 64 for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for rs in by_q.values():
        assert sorted(rs) == list(range(1, len(rs) + 1))
    exact = {(r.query_id, r.neighbor_id)
             for r in SIM.brute_force_topk(e, q, k=5).collect()}
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(exact & got) / len(exact) >= 0.1


def test_binary_signature_matches_python_model(spark):
    """The MSB-first fold must equal the independent bit-weight sum —
    the identity the SQL oracle relies on."""
    from pyspark.sql import Row, functions as F

    vecs = [
        [1.0, -1.0, 0.0, -0.5],
        [-1.0, -1.0, -1.0, -1.0],
        [0.5, 0.5, 0.5, 0.5],
    ]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id",
            SIM.binary_signature(F.col("embedding"), 1, 4).alias("s"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        want = sum((1 if x >= 0 else 0) << (3 - j) for j, x in enumerate(v))
        assert got[i] == want


def test_hamming_rerank_beats_raw_hamming_recall(spark):
    """The rerank stage is the sketch's production payoff: a 50-deep
    integer shortlist reranked by exact cosine must recover strictly
    more of the exact top-5 than the raw 1-bit ranking (0.16 raw on
    the fixture), and every similarity it reports is the TRUE cosine
    (reranking never distorts, it only prunes)."""
    import math

    from overpaint_spark.sources.catalog import load_table

    e = load_table(spark, f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 10")
    exact = {(r.query_id, r.neighbor_id): r.cosine_sim
             for r in SIM.brute_force_topk(e, q, k=5).collect()}
    raw = {(r.query_id, r.neighbor_id)
           for r in SIM.hamming_topk(e, q, dim=64, k=5).collect()}
    rr = {(r.query_id, r.neighbor_id): r.cosine_sim
          for r in SIM.hamming_rerank_topk(e, q, dim=64, k=5, shortlist=50).collect()}
    r_raw = len(set(exact) & raw) / len(exact)
    r_rr = len(set(exact) & set(rr)) / len(exact)
    assert r_rr > r_raw, (r_rr, r_raw)
    assert r_rr >= 0.4, r_rr
    for key, sim in rr.items():
        if key in exact:
            assert math.isclose(sim, exact[key], rel_tol=1e-9)


def test_hamming_topk_works_at_dim_128(spark):
    """dim 128 needs four signature words — the old fixed two-half
    split overflowed a signed bigint past dim 124 (ANSI crash or
    silent corruption; r5 review finding). Verify against a python
    popcount model."""
    import numpy as np

    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 128))
    rows = [Row(vec_id=i, embedding=[float(v) for v in X[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.hamming_topk(df, df.filter("vec_id < 3"), dim=128, k=4).collect()
    assert len(out) == 12
    bits = (np.array([[np.float64(np.float64(v)) for v in X[i]] for i in range(40)]) >= 0)
    for r in out:
        want = int((bits[r.query_id] ^ bits[r.neighbor_id]).sum())
        assert r.hamming == want


def test_hard_negatives_are_cross_label_and_hardest(spark, sf_dir):
    """Every mined negative carries a label different from its probe's,
    ranks are dense 1..5 per probe, and the rank-1 negative's cosine is
    the max over that probe's cross-label candidates (verified against
    a direct numpy recompute for the first probe)."""
    import numpy as np

    from overpaint_spark import queries as Q

    rows = Q.q_embedding_hard_negatives(spark, sf_dir).collect()
    e = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label)
         for r in Q._t(spark, sf_dir, "embeddings").collect()}
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for qid, rs in by_q.items():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
        for x in rs:
            assert e[x.neighbor_id][1] != e[qid][1]
            assert x.neg_label == e[x.neighbor_id][1]
    qid = min(by_q)
    qv, ql = e[qid]
    best = max(
        (float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), nid)
        for nid, (v, lbl) in e.items()
        if nid != qid and lbl != ql
    )
    top = min(by_q[qid], key=lambda x: x.rank)
    assert top.neighbor_id == best[1]
    assert abs(top.cos_r - round(best[0], 4)) <= 1e-9


def test_embedding_triplets_argmax_vs_numpy(spark, sf_dir):
    """Each triplet's positive must be the probe's nearest SAME-label
    neighbor and its negative the nearest CROSS-label neighbor —
    verified against a direct numpy recompute for every probe — and a
    probe whose label has no other member must not emit a row."""
    import numpy as np

    from overpaint_spark import queries as Q

    rows = {r.query_id: r for r in Q.q_embedding_triplets(spark, sf_dir).collect()}
    e = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label)
         for r in Q._t(spark, sf_dir, "embeddings").collect()}
    probes = [i for i in e if i % 25 == 0 and i < Q._TRIPLET_PROBE_ID_CAP]
    assert rows
    for qid in probes:
        qv, ql = e[qid]
        qn = np.linalg.norm(qv)
        pos = [(float(qv @ v) / (qn * np.linalg.norm(v)), -nid)
               for nid, (v, lbl) in e.items() if nid != qid and lbl == ql]
        neg = [(float(qv @ v) / (qn * np.linalg.norm(v)), -nid)
               for nid, (v, lbl) in e.items() if nid != qid and lbl != ql]
        if not pos:
            assert qid not in rows
            continue
        r = rows[qid]
        assert r.pos_id == -max(pos)[1]
        assert r.neg_id == -max(neg)[1]
        assert abs(r.pos_cos_r - round(max(pos)[0], 4)) <= 1e-9
        assert abs(r.neg_cos_r - round(max(neg)[0], 4)) <= 1e-9
        assert e[r.pos_id][1] == ql and e[r.neg_id][1] != ql
