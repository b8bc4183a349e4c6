"""Dedup operators on synthetic corpora with planted duplicates."""

import pytest
from pyspark.sql import Row

from overpaint_spark.operators import dedup as DD

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
DOC_B = "spark executes distributed queries with catalyst optimizer and tungsten codegen engine"
DOC_C = "completely different words about cooking pasta with garlic butter and fresh basil leaves"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(doc_id=1, text=DOC_A),
        Row(doc_id=2, text=DOC_A),        # exact dup of 1
        Row(doc_id=3, text=DOC_A_NEAR),   # near dup of 1 (1 word changed)
        Row(doc_id=4, text=DOC_B),
        Row(doc_id=5, text=DOC_C),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_keeps_min_id(corpus):
    groups = {r.keeper_id: r.n_copies for r in DD.exact_dedup_groups(corpus).collect()}
    assert groups[1] == 2          # docs 1+2 collapse, min id wins
    assert groups[3] == 1
    survivors = sorted(r.doc_id for r in DD.exact_dedup(corpus).collect())
    assert survivors == [1, 3, 4, 5]


def test_jaccard_finds_near_dup_only(corpus):
    pairs = {(r.a_id, r.b_id): r.jaccard for r in DD.jaccard_pairs(corpus, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0            # identical
    assert 0.5 < pairs[(1, 3)] < 1.0       # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_jaccard_max_doc_freq_prunes_stop_shingles(corpus):
    # with a df cap of 1 every shared shingle is dropped → no pairs survive
    assert DD.jaccard_pairs(corpus, threshold=0.1, max_doc_freq=1).count() == 0


def test_minhash_lsh_catches_exact_and_near(corpus):
    pairs = {(r.a_id, r.b_id) for r in DD.lsh_candidate_pairs(corpus).collect()}
    assert (1, 2) in pairs                 # identical docs always collide
    assert (1, 3) in pairs                 # 0.87 jaccard → p≈0.97 with 4×3 bands
    assert (4, 5) not in pairs


def test_minhash_signature_shape(corpus):
    sig = DD.minhash_signatures(corpus, num_hashes=12)
    row = sig.filter("doc_id = 1").collect()[0]
    assert len([c for c in sig.columns if c.startswith("sig_")]) == 12
    # identical docs → identical signatures
    row2 = sig.filter("doc_id = 2").collect()[0]
    assert [row[f"sig_{i}"] for i in range(12)] == [row2[f"sig_{i}"] for i in range(12)]


def test_simhash_identical_docs_distance_zero(corpus):
    fps = {r.doc_id: r.simhash for r in DD.simhash_fingerprints(corpus).collect()}
    assert fps[1] == fps[2]
    assert len(fps[1]) == DD.SIMHASH_BITS and set(fps[1]) <= {"0", "1"}
    pairs = {(r.a_id, r.b_id): r.hamming for r in DD.simhash_candidate_pairs(corpus).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_candidates_far_below_quadratic(spark):
    # Scale regression for the band join: unrelated docs (disjoint
    # shingle sets) must almost never share a 16-bit band. With the old
    # 16-bit/8-bit-half scheme this corpus produced ~31% of all pairs;
    # require < 2% — plus the planted dup pair must still collide.
    import random
    rng = random.Random(11)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(200)
    ]
    rows.append(Row(doc_id=9999, text=rows[0].text))  # planted exact dup
    docs = spark.createDataFrame(rows)
    n = docs.count()
    all_pairs = n * (n - 1) // 2
    cand = {(r.a_id, r.b_id) for r in DD.simhash_candidate_pairs(docs).collect()}
    assert (0, 9999) in cand
    assert len(cand) < 0.02 * all_pairs


def _embeddings(spark, n=40, dim=8):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # planted near-dup: 1000 = tiny perturbation of vector 0
    base = rows[0].embedding
    rows.append(Row(vec_id=1000, embedding=[x * 1.01 + 0.001 for x in base]))
    return spark.createDataFrame(rows)


def test_embedding_near_dup_exact_finds_planted_pair(spark):
    emb = _embeddings(spark)
    pairs = {(r.a_id, r.b_id): r.cosine_sim
             for r in DD.embedding_near_dup_pairs(emb, threshold=0.95).collect()}
    assert (0, 1000) in pairs
    assert pairs[(0, 1000)] > 0.99


def test_embedding_near_dup_blocked_matches_exact(spark):
    # the distributed block-GEMM path must reproduce the exact all-pairs
    # result (same pairs, same similarities) — it is the declared path
    emb = _embeddings(spark)
    exact = {(r.a_id, r.b_id): r.cosine_sim
             for r in DD.embedding_near_dup_pairs(emb, threshold=0.5).collect()}
    blocked = {(r.a_id, r.b_id): r.cosine_sim
               for r in DD.embedding_near_dup_pairs_blocked(emb, threshold=0.5, n_blocks=4).collect()}
    assert set(blocked) == set(exact)
    for key, sim in blocked.items():
        assert abs(exact[key] - sim) < 1e-9
    # no pair may appear twice (each block pair owns its vector pairs)
    out = DD.embedding_near_dup_pairs_blocked(emb, threshold=0.5, n_blocks=4)
    assert out.count() == out.select("a_id", "b_id").distinct().count()


def test_lsh_near_dup_verified(corpus):
    pairs = {(r.a_id, r.b_id): r.jaccard
             for r in DD.lsh_near_dup_pairs(corpus, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0            # exact dup survives verification
    assert 0.5 < pairs[(1, 3)] < 1.0       # near dup survives
    # verified pairs are a subset of raw candidates
    cand = {(r.a_id, r.b_id) for r in DD.lsh_candidate_pairs(corpus).collect()}
    assert set(pairs) <= cand
    # and agree exactly with the direct jaccard computation
    direct = {(r.a_id, r.b_id): r.jaccard
              for r in DD.jaccard_pairs(corpus, threshold=0.5).collect()}
    for key, j in pairs.items():
        assert abs(direct[key] - j) < 1e-12


def test_parallelize_input_noop_on_well_split_scans(spark, tmp_path):
    """The small-input rescue must be a NO-OP once a table arrives with
    at least session-parallelism splits (the 100 TB case: thousands of
    files) — no added exchange — while a single-file scan still gets
    repartitioned. Also: the probe must not touch .rdd (plan-build cost)."""
    from pyspark.sql import functions as F

    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("some words here").alias("text")
    )
    df.coalesce(1).write.parquet(one)
    target = spark.sparkContext.defaultParallelism
    df.repartition(target * 2).write.parquet(many)

    under = DD._parallelize_input(spark.read.parquet(one))
    well = DD._parallelize_input(spark.read.parquet(many))
    assert "Repartition" in under._jdf.queryExecution().logical().toString()
    assert "Repartition" not in well._jdf.queryExecution().logical().toString()

    # non-scan inputs (no files) skip the rescue instead of guessing
    mem = DD._parallelize_input(
        spark.createDataFrame([Row(doc_id=1, text="x")])
    )
    assert "Repartition" not in mem._jdf.queryExecution().logical().toString()


def test_incremental_dedup_flags(spark):
    existing = spark.createDataFrame(
        [Row(doc_id=1, text=DOC_A), Row(doc_id=2, text=DOC_B)]
    )
    incoming = spark.createDataFrame(
        [
            Row(doc_id=10, text=DOC_A),       # exact dup of existing 1
            Row(doc_id=11, text=DOC_A_NEAR),  # near dup of existing 1
            Row(doc_id=12, text=DOC_C),       # novel
        ]
    )
    out = {
        r.doc_id: r
        for r in DD.incremental_dedup_flags(existing, incoming).collect()
    }
    assert out[10].is_exact_dup and not out[10].admitted
    # the exact dup is also a near dup (identical band keys)
    assert out[10].is_near_dup
    assert out[11].is_near_dup and not out[11].is_exact_dup and not out[11].admitted
    assert out[12].admitted and not out[12].is_exact_dup and not out[12].is_near_dup
    # one row per incoming doc, never per band/hash match
    assert len(out) == 3


def test_persisted_index_gate_equals_inline(spark, tmp_path):
    """The production shape — incremental gate probing a PERSISTED
    band/hash index — must decide identically to the inline path, and
    its plan must read the existing side from the stored parquet, never
    re-scanning the corpus text."""
    from pyspark.sql import functions as F

    from overpaint_spark.operators.dedup import (
        incremental_dedup_flags,
        load_dedup_index,
        persist_dedup_index,
    )
    from overpaint_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)

    idx = str(tmp_path / "dedup_index")
    persist_dedup_index(existing, idx)
    hashes, bands = load_dedup_index(spark, idx)

    via_index = incremental_dedup_flags(
        existing, incoming, existing_hashes=hashes, existing_bands=bands
    )
    inline = incremental_dedup_flags(existing, incoming)
    a = {(r.doc_id, r.is_exact_dup, r.is_near_dup, r.admitted)
         for r in via_index.collect()}
    b = {(r.doc_id, r.is_exact_dup, r.is_near_dup, r.admitted)
         for r in inline.collect()}
    assert a == b and len(a) == incoming.count()

    # the gate must have rejected something for the test to mean much
    assert any(not adm for (_, _, _, adm) in a)
    # existing text never rescanned: the only parquet scans besides the
    # index are the incoming side's
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "dedup_index" in plan


def test_split_neardup_leakage_invariants(spark, sf_dir):
    """The near-dup leakage audit's internal consistency: cross-split
    pairs bound the directional counts, leaked test docs never exceed
    the train-test pair endpoints nor the test split size, and the ppm
    follows its own fields. The fixture genuinely leaks (the audit must
    witness signal, not vacuous zeros)."""
    from overpaint_spark import queries as Q

    r = Q.q_split_neardup_leakage(spark, sf_dir).collect()[0]
    assert r.n_cross_split_pairs <= r.n_neardup_pairs
    assert r.n_train_test_pairs + r.n_train_val_pairs <= r.n_cross_split_pairs
    assert r.n_test_docs_leaked <= r.n_train_test_pairs
    assert r.n_test_docs_leaked <= r.n_test_docs
    assert r.leak_ppm == (1_000_000 * r.n_test_docs_leaked) // r.n_test_docs
    assert r.n_neardup_pairs > 0 and r.n_test_docs > 0


def test_load_dedup_index_declares_schemas(spark, sf_dir, tmp_path, jobs_by_stage):
    """load_dedup_index reads ``hashes/`` and ``bands/`` with the schemas
    persist_dedup_index writes: the load runs no schema-inference job
    (no job at all), and each declared schema equals the inferred one."""
    from overpaint_spark.operators.dedup import load_dedup_index, persist_dedup_index
    from overpaint_spark.sources.catalog import load_table

    docs = load_table(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "dedup_index")
    persist_dedup_index(docs, idx)
    loaded = []
    assert jobs_by_stage(lambda: loaded.extend(load_dedup_index(spark, idx))) == {}
    for rel, df in zip(("hashes", "bands"), loaded):
        assert df.schema == spark.read.parquet(f"{idx}/{rel}").schema, rel
        assert df.count() == spark.read.parquet(f"{idx}/{rel}").count() > 0
