"""Similarity search over embedding columns (SURVEY §7.4.2).

Three tiers, trading recall for cost:

- **brute-force top-k** — exact baseline. Queries are broadcast (they are
  small by construction); the candidate side streams through one codegen
  stage computing the cosine, then a per-query top-k. No shuffle of the
  big side except the final k·|Q| rows.
- **random-hyperplane LSH buckets** — each vector gets a B-bit signature
  (sign of dot with B deterministic integer hyperplanes). Search joins
  only same-bucket (plus optional Hamming-1 neighbor buckets) — the
  classic sublinear path when |Q| is large.
- **pandas/numpy batch** — ``mapInPandas`` matmul for when the fold-based
  cosine becomes CPU-bound; Arrow-batched, still exact.

Norms are always precomputed per side before any join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from overpaint_spark.localrel import local_df

from overpaint_spark.functions import vectors as V


def _with_prepared(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    vec = V.as_double(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        vec.alias(f"{prefix}_vec"),
        V.norm(vec).alias(f"{prefix}_norm"),
    )


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: (query_id, neighbor_id,
    rank, cosine_sim). Self-matches (same id) are excluded.

    Ordering ties break on neighbor id, so ranks are total and
    deterministic.
    """
    q = _with_prepared(queries, id_col, vec_col, "q")
    c = _with_prepared(candidates, id_col, vec_col, "c")
    sim = V.cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


# --- random-hyperplane LSH -------------------------------------------------

def _hyperplane_weight(i: int, j: int) -> int:
    """Deterministic pseudo-random integer weight for dim i, plane j.

    Integer weights (range −6..6, coprime multipliers) keep the projection
    exactly reproducible in any engine — no trig, no float literals.
    """
    return ((i * 31 + j * 17 + (i * i + j) * 7) % 13) - 6


def _signature_unrolled(vec_col, dim: int, n_planes: int):
    """Reference form kept for the equivalence test: one explicit sum of
    ``vec[i] * w(i, j)`` terms per plane (zero weights skipped).
    Measured 2–4× SLOWER end-to-end than the fold even at dim 64 —
    Janino compilation of the ~500-term tree dominates — and it breaks
    past JVM codegen limits near dim 512, so production always folds."""
    bits = []
    for j in range(n_planes):
        proj = None
        for i in range(dim):
            w = _hyperplane_weight(i, j)
            if w == 0:
                continue
            term = vec_col[i] * F.lit(float(w))
            proj = term if proj is None else proj + term
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _signature_folded(vec_col, dim: int, n_planes: int):
    """O(planes)-sized expression tree for HIGH-dim vectors: the weight
    is computed from the element index inside a JVM higher-order
    function (the same integer formula as :func:`_hyperplane_weight`),
    so codegen never sees a dim×planes-term sum. The fold accumulates
    in index order with the same double math as the unrolled form —
    zero-weight terms contribute an exact ``+0.0`` — so the projection
    sign, hence the signature, is bit-identical."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def term_fn(j: int):
        # PySpark derives the lambda-variable count from the Python
        # signature, so the plane index binds via closure, not a
        # default arg (which would read as a 3-arg lambda)
        def term(v, i):
            w = (
                F.pmod(i * F.lit(31) + F.lit(j * 17) + (i * i + F.lit(j)) * F.lit(7),
                       F.lit(13))
                - F.lit(6)
            ).cast("double")
            return v * w

        return term

    bits = []
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec_col, idx, term_fn(j)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def hyperplane_signature(vec_col, dim: int, n_planes: int = 8):
    """B-bit sign signature of ``vec · plane_j`` as a bitstring column.

    Always the index-computed fold: its expression tree is O(planes)
    regardless of dim — no codegen-limit cliff at high dim, and 2–4×
    faster than the unrolled sum even at dim 64 (compiling the
    ~500-term unrolled tree cost more than executing it; measured at
    sf0.1). Bit-identical to the unrolled reference form
    (test_signature_folded_matches_unrolled)."""
    return _signature_folded(vec_col, dim, n_planes)


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket
    (plus all Hamming-1 buckets when ``multiprobe`` — recall boost at
    (n_planes+1)× candidate cost, still ≪ brute force)."""
    q = _with_prepared(queries, id_col, vec_col, "q")
    c = _with_prepared(candidates, id_col, vec_col, "c")
    c = c.withColumn("c_sig", hyperplane_signature(F.col("c_vec"), dim, n_planes))
    q = q.withColumn("sig", hyperplane_signature(F.col("q_vec"), dim, n_planes))
    if multiprobe:
        # query probes its own bucket + every Hamming-1 bucket
        probes = [F.col("sig")]
        for j in range(n_planes):
            flipped = F.concat(
                F.substring("sig", 1, j),
                F.when(F.substring("sig", j + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring("sig", j + 2, n_planes - j - 1),
            )
            probes.append(flipped)
        q = q.select("q_id", "q_vec", "q_norm", F.explode(F.array(*probes)).alias("q_sig"))
    else:
        q = q.withColumnRenamed("sig", "q_sig")
    sim = V.cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), F.col("c_sig") == F.col("q_sig"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


# --- IVF (inverted-file) partitioned search --------------------------------

def train_kmeans_centroids(
    vectors: DataFrame,
    init,
    n_iter: int = 5,
    vec_col: str = "embedding",
):
    """Distributed Lloyd's k-means (cosine assignment, mean update) for
    IVF centroid training; returns the centroid matrix (numpy, C×dim).

    ``init``: the C×dim init matrix — by convention the C lowest-id
    vectors in id order, sliced from an :func:`id_prefix` seed.

    Communication-optimal shape: each Arrow batch assigns its vectors
    with one GEMM against the (small, broadcast-by-closure) centroid
    matrix and emits ONE partial (cluster, sum_vec, count) row per
    cluster — the driver reduces ≤ partitions × C tiny rows per round,
    never the vectors themselves. This is the textbook scalable k-means
    loop (same state shape as MLlib's); iterations are few (IVF needs
    balanced-ish lists, not converged clusters).

    Deterministic: given the init, ties in assignment break toward the
    lower centroid index and empty clusters keep their previous
    centroid.

    Each iteration assigns through the same per-batch kernel as
    :func:`assign_to_centroids` (:func:`_assigner`), so past
    ``_TWO_LEVEL_MIN_C`` centroids it switches to the two-level
    coarse→fine core (≈N·9√C flops instead of N·C); the per-iteration
    group rebuild is C·√C driver flops, amortized over every batch."""
    import numpy as np
    import pandas as pd

    cmat = np.array(init, dtype=np.float64)
    src = vectors.select(vec_col)

    for _ in range(n_iter):
        def partials(batches, _assign=_assigner(cmat, 1)):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.array(list(pdf[vec_col]), dtype=np.float64)
                assign = _assign(mat)[:, 0]
                rows = []
                for cl in np.unique(assign):
                    sel = mat[assign == cl]
                    rows.append(
                        {
                            "cluster_id": int(cl),
                            "vsum": [float(x) for x in sel.sum(axis=0)],
                            "n": int(len(sel)),
                        }
                    )
                yield pd.DataFrame(rows)

        agg = src.mapInPandas(
            partials, "cluster_id int, vsum array<double>, n long"
        ).collect()
        sums = np.zeros_like(cmat)
        counts = np.zeros(len(cmat), dtype=np.int64)
        for r in agg:
            sums[r.cluster_id] += np.array(r.vsum)
            counts[r.cluster_id] += r.n
        nonempty = counts > 0
        cmat = cmat.copy()
        cmat[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cmat


# Fixed prefix of the ValueError raised when an ANN seed is too short
# to build from: an empty table, or fewer rows than a PQ codebook's K.
SEED_ERROR = "ANN seed too short"


def id_prefix(
    df: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``(ids, matrix)``: the ``n`` lowest-id vectors in id order, as an
    int64 id array and a float64 row matrix — the one seed every ANN
    tier builds from. IVF centroids and the k-means init are its first
    C rows, PQ/OPQ codebooks and their training samples its first K (or
    ``train_sample``) rows, so a caller building several tiers collects
    the longest prefix once and slices it. One ordered-limit collect,
    reproducible in SQL (``ORDER BY id LIMIT n``) — which is what makes
    the seeded IVF/PQ/SemDeDup queries oracle-checkable.

    Raises ``ValueError`` with a message starting with
    :data:`SEED_ERROR` when ``df`` has no rows;
    :func:`overpaint_spark.operators.quantization.pq_codebooks` raises
    the same error when a prefix holds fewer rows than its K codes."""
    import numpy as np

    rows = df.orderBy(id_col).limit(n).select(id_col, vec_col).collect()
    if not rows:
        raise ValueError(f"{SEED_ERROR}: no rows to seed from")
    return (
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.float64),
    )


# Past this many centroids the flat N·C GEMM becomes the documented
# SemDeDup/IVF asymptote (N²·d/125 once C ∝ N — SCALE.md): with C =
# N/125, flat assignment at 10⁸ vectors is 10⁸ × 8·10⁵ dot products.
# assign_to_centroids dispatches to the two-level (coarse → fine) path
# above this C; every fixture SF (C = 16) keeps the flat exact path, so
# oracle results are unchanged by construction.
_TWO_LEVEL_MIN_C = 4096


def _assigner(cmat, n_assign: int = 1):
    """The per-batch nearest-centroid kernel behind every assignment
    pass: a function of an (n, dim) float64 matrix returning its (n,
    n_assign) int64 centroid ids, ties toward the lower centroid index.
    Flat cosine GEMM below ``_TWO_LEVEL_MIN_C`` centroids,
    :func:`_two_level_assigner` at or above it. Built once per
    centroid matrix on the driver; rides in the task closure."""
    import numpy as np

    if cmat.shape[0] >= _TWO_LEVEL_MIN_C:
        return _two_level_assigner(cmat, n_assign)
    cnorm = np.linalg.norm(cmat, axis=1)

    def assign(mat):
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = (mat @ cmat.T) / (np.linalg.norm(mat, axis=1)[:, None] * cnorm[None, :])
        np.nan_to_num(sims, nan=-1.0, copy=False)  # zero-norm rows
        if n_assign == 1:
            return np.argmax(sims, axis=1)[:, None]  # first max = lowest index
        # stable top-n_assign centroid ids per row
        return np.argsort(-sims, kind="stable", axis=1)[:, :n_assign]

    return assign


def _assign_rows(
    df: DataFrame, assign, n_assign: int, id_col: str, vec_col: str, include_vec: bool
) -> DataFrame:
    """``(id[, vec], cluster_id)`` rows, ``n_assign`` per vector, from
    one ``mapInPandas`` over the per-batch kernel ``assign``."""
    import numpy as np
    import pandas as pd

    vec_field = f"{vec_col} array<double>, " if include_vec else ""
    out_schema = f"{id_col} long, {vec_field}cluster_id int"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            top = assign(mat)
            cols = {id_col: pdf[id_col].to_numpy().repeat(n_assign)}
            if include_vec:
                cols[vec_col] = [
                    list(map(float, v))
                    for v in pdf[vec_col]
                    for _ in range(n_assign)
                ]
            cols["cluster_id"] = top.ravel().astype("int32")
            yield pd.DataFrame(cols)

    return df.select(id_col, vec_col).mapInPandas(fn, out_schema)


def assign_to_centroids(
    df: DataFrame,
    cmat,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vec: bool = True,
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment: one GEMM per batch
    against the small (broadcast-by-closure) centroid matrix; emits each
    vector's top ``n_assign`` centroid ids as ``cluster_id`` rows.
    Ties break toward the lower centroid index. This is the 100 TB
    path — every vector is scored against C centroids, never against
    other vectors. Past ``_TWO_LEVEL_MIN_C`` centroids the kernel
    (:func:`_assigner`) is the two-level one of
    :func:`assign_to_centroids_two_level` (N·~2√C flops instead of
    N·C).

    ``include_vec=False`` (r12) drops the vector column from the OUTPUT
    for callers that immediately ``.select(id, cluster_id)``: a
    ``mapInPandas`` body is opaque to column pruning (guide §4.1), so
    the old form re-built every embedding as a Python float list and
    shipped it back through Arrow only for Spark to discard it."""
    return _assign_rows(
        df, _assigner(cmat, n_assign), n_assign, id_col, vec_col, include_vec
    )


def _centroid_groups(cmat, n_groups: int):
    """Deterministic coarse grouping of the centroid matrix: the
    ``n_groups`` lowest-index centroids serve as group representatives
    (the same seeding convention as :func:`id_prefix`), and every
    centroid joins its max-cosine representative (ties toward the lower
    group index — same tie rule as vector assignment). Driver-side
    numpy: C·G flops ONCE per index build, amortized over every batch.
    Returns (reps, rep_norms, members) with ``members[g]`` the sorted
    array of centroid indices in group g."""
    import numpy as np

    reps = cmat[:n_groups]
    rnorm = np.linalg.norm(reps, axis=1)
    cnorm = np.linalg.norm(cmat, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = (cmat @ reps.T) / (cnorm[:, None] * rnorm[None, :])
    np.nan_to_num(sims, nan=-1.0, copy=False)
    owner = np.argmax(sims, axis=1)  # first max = lowest group index
    members = [np.where(owner == g)[0] for g in range(n_groups)]
    return reps, rnorm, members


def _two_level_topk_batch(
    mat, vnorm, cmat, cnorm, reps, rnorm, members, p: int, n_assign: int
):
    """Numpy core of the coarse→fine assignment for ONE Arrow batch:
    (n, n_assign) int64 centroid ids, ties toward the lower index —
    run through :func:`_two_level_assigner` by every two-level
    assignment (direct, dispatched, k-means training, the IVF-PQ
    encoder) so they can never drift apart. Rows whose probed
    groups held fewer than n_assign centroids keep -1 in the unfilled
    slots."""
    import numpy as np

    n = len(mat)
    G = len(members)
    with np.errstate(invalid="ignore", divide="ignore"):
        gsims = (mat @ reps.T) / (vnorm[:, None] * rnorm[None, :])
    np.nan_to_num(gsims, nan=-1.0, copy=False)
    probed = np.argsort(-gsims, kind="stable", axis=1)[:, :p]
    best_s = np.full((n, n_assign), -np.inf)
    best_c = np.full((n, n_assign), np.iinfo(np.int64).max, dtype=np.int64)
    for g in range(G):
        m = members[g]
        if len(m) == 0:
            continue
        rows = np.nonzero((probed == g).any(axis=1))[0]
        if len(rows) == 0:
            continue
        sub = cmat[m]
        with np.errstate(invalid="ignore", divide="ignore"):
            s = (mat[rows] @ sub.T) / (vnorm[rows, None] * cnorm[m][None, :])
        np.nan_to_num(s, nan=-1.0, copy=False)
        cand_s = np.concatenate([best_s[rows], s], axis=1)
        cand_c = np.concatenate(
            [best_c[rows], np.broadcast_to(m, (len(rows), len(m)))], axis=1
        )
        # ascending-cid pre-sort, then stable sim sort → ties resolve
        # to the lowest centroid index (flat-path rule)
        ordc = np.argsort(cand_c, axis=1, kind="stable")
        cand_s = np.take_along_axis(cand_s, ordc, 1)
        cand_c = np.take_along_axis(cand_c, ordc, 1)
        ords = np.argsort(-cand_s, axis=1, kind="stable")[:, :n_assign]
        best_s[rows] = np.take_along_axis(cand_s, ords, 1)
        best_c[rows] = np.take_along_axis(cand_c, ords, 1)
    # a row whose probed groups held < n_assign centroids keeps -inf
    # slots: flag -1 rather than emit the int64 sentinel
    best_c[~np.isfinite(best_s)] = -1
    return best_c


def assign_to_centroids_two_level(
    df: DataFrame,
    cmat,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probe: int | None = None,
    include_vec: bool = True,
) -> DataFrame:
    """Two-level (coarse → fine) centroid assignment — the named fix for
    the N·C GEMM asymptote (SCALE.md; VERDICT r4 task #4): the C
    centroids are pre-grouped around G = ⌈√C⌉ representatives, each
    vector scores the G representatives first (N·G flops), keeps its
    ``coarse_probe`` best groups, and scores ONLY those groups' member
    centroids (≈ N·p·C/G flops). Total ≈ N·(√C + p·√C) vs flat N·C —
    at C = 10⁶, ~5000× fewer flops at p = 4.

    Same output shape and tie rule (lower centroid index) as
    :func:`assign_to_centroids`. Semantics: EXACT when the nearest
    centroid's group is among the probed ``coarse_probe`` groups —
    guaranteed at ``coarse_probe >= G`` (equivalence pinned in
    tests/test_similarity.py), approximate below, exactly like IVF's
    own probe knob. The fixtures' random 64-d embeddings are the WORST
    case for a coarse quantizer (no cluster structure, so group
    membership carries little signal): measured flat-agreement there is
    0.72 at p=2/G=4 and 0.876 at p=3/G=4 (pinned as lower bounds);
    clustered production embeddings — the data this path exists for —
    concentrate the nearest centroid's group near the top coarse ranks.

    ``coarse_probe`` default: max(8, the smallest p such that even the
    p SMALLEST groups jointly hold ≥ n_assign centroids) — a worst-case
    supply guarantee, so the default can never return -1 fill no matter
    how skewed the grouping is (an average-based sizing could leave
    most slots unfilled under group skew: r5 review finding). With
    balanced groups that is p = 8 and total flops ≈ N·9√C (~100× fewer
    than flat at C = 10⁶); heavy skew raises p — honestly pricing the
    probe instead of silently under-probing. An EXPLICIT coarse_probe
    is respected as given (the partial-probe agreement tests rely on
    it); -1 fill is then possible and flagged."""
    return _assign_rows(
        df,
        _two_level_assigner(cmat, n_assign, coarse_probe),
        n_assign,
        id_col,
        vec_col,
        include_vec,
    )


def _two_level_assigner(cmat, n_assign: int = 1, coarse_probe: int | None = None):
    """The per-batch kernel of :func:`assign_to_centroids_two_level`
    (probe default and semantics documented there): the centroid
    grouping runs once here, each batch pays only
    :func:`_two_level_topk_batch`."""
    import numpy as np

    C = cmat.shape[0]
    G = max(1, int(np.ceil(np.sqrt(C))))
    reps, rnorm, members = _centroid_groups(cmat, G)
    if coarse_probe is not None:
        p = coarse_probe
    else:
        sizes = sorted(len(m) for m in members)
        acc, need = 0, G
        for i, s in enumerate(sizes, 1):
            acc += s
            if acc >= n_assign:
                need = i
                break
        p = max(8, need)
    p = min(p, G)
    cnorm = np.linalg.norm(cmat, axis=1)

    def assign(mat):
        return _two_level_topk_batch(
            mat, np.linalg.norm(mat, axis=1), cmat, cnorm,
            reps, rnorm, members, p, n_assign,
        )

    return assign


_SIG_WORD_BITS = 32


def binary_signature(vec_col, lo: int, hi: int):
    """Sign-bit signature of dims ``lo..hi`` (1-based, inclusive) as a
    bigint: bit for dim i set iff v[i] ≥ 0, MSB-first left fold
    (acc·2 + b — exact integer math, identical in any engine; callers
    keep hi−lo+1 ≤ 62 so the fold never overflows a signed bigint —
    :func:`_signature_words` chunks at 32). ``try_element_at``: a
    ragged vector's missing dims contribute a 0-bit on every engine
    instead of throwing under ANSI / silently signing negative under
    non-ANSI (r5 review finding; same convention as dimension_stats)."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(lo), F.lit(hi)),
            lambda i: F.when(F.try_element_at(vec_col, i) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc * F.lit(2) + b,
    )


def _signature_words(dim: int) -> list[tuple[int, int]]:
    """(lo, hi) 1-based inclusive spans covering ``dim`` in ≤32-bit
    words — the chunking that keeps every fold overflow-free for ANY
    dim (the old fixed two-half split overflowed past dim 124: r5
    review finding). dim 64 → [(1,32),(33,64)], matching the SQL
    oracle's two-word formula exactly."""
    return [
        (w * _SIG_WORD_BITS + 1, min((w + 1) * _SIG_WORD_BITS, dim))
        for w in range((dim + _SIG_WORD_BITS - 1) // _SIG_WORD_BITS)
    ]


def hamming_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-sketch ANN: 1 bit per dimension (the sign), distance =
    popcount of the XOR — the cheapest real ANN tier (Charikar 2002
    SimHash over the identity "hyperplanes"; 64-dim float32 → 8 bytes,
    32× compression) and the only one whose ENTIRE index and search
    are JVM integer expressions: signature build is a codegen fold at
    scan time, search is two XOR+popcounts per candidate against the
    broadcast |Q|-row query sketches — no Python, no codebooks, no
    training. Rank ties (hamming has only dim+1 distinct values, so
    ties are the NORM, not an edge case) break on neighbor_id. The
    signature packs into ⌈dim/32⌉ ≤32-bit bigint words
    (``_signature_words``) so the fold can never overflow a signed
    bigint under ANSI at ANY dim — the old fixed two-half split
    overflowed past dim 124 (r5 review finding); 128/768-dim
    embeddings now work, not just the 64-dim fixtures."""
    words = _signature_words(dim)
    v = F.col(vec_col).cast("array<double>")

    def sigs(df, prefix):
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            *[
                binary_signature(v, lo, hi).alias(f"{prefix}_w{i}")
                for i, (lo, hi) in enumerate(words)
            ],
        )

    c = sigs(candidates, "c")
    q = sigs(queries, "q")
    dist = None
    for i in range(len(words)):
        term = F.bit_count(F.col(f"c_w{i}").bitwiseXOR(F.col(f"q_w{i}")))
        dist = term if dist is None else dist + term
    dist = dist.cast("bigint")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            dist.alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


def hamming_rerank_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary-sketch search — the PRODUCTION use of a 1-bit
    sketch: stage 1 shortlists ``shortlist`` candidates per query by
    XOR-popcount over the 8-byte signatures (integer codegen, vectors
    untouched), stage 2 reranks ONLY the shortlist by exact cosine.
    Per-query float work drops from N dot products to ``shortlist``,
    while the integer stage scans N 8-byte sketches — at 100 TB the
    vector column is never read outside the shortlist join. Both stages
    are deterministic (integer distances + id ties, then cosine + id
    ties), so the composition is fully SQL-oracle-checkable — unlike
    every trained tier."""
    short = hamming_topk(
        candidates, queries, dim, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ).withColumn("c_norm", V.norm(F.col("c_vec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_norm", V.norm(F.col("q_vec")))
    sim = V.cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm"))
    scored = (
        short.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF index: vectors are bucketed by their
    nearest centroid, queries probe only their ``n_probe`` closest
    centroid lists.

    - ``centroids``: the C×dim centroid matrix — seeded (the C lowest-id
      vectors of an :func:`id_prefix` seed: deterministic, no training
      job) or k-means-trained (:func:`train_kmeans_centroids`) for
      better-balanced lists; the search plan shape is identical either
      way.
    - Assignment is Arrow-batched (one GEMM per batch against the small
      centroid matrix) — the 100 TB path: each vector is scored against
      C centroids, not N vectors.
    - Search joins query probes to candidate lists on ``cluster_id``
      (equi-join, broadcastable query side) — expected pair count is
      |Q| · n_probe · N/C instead of |Q| · N.
    """
    c_assigned = assign_to_centroids(candidates, centroids, 1, id_col, vec_col)
    q_assigned = assign_to_centroids(queries, centroids, n_probe, id_col, vec_col)

    c = c_assigned.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
        V.norm(F.col(vec_col)).alias("c_norm"), "cluster_id",
    )
    q = q_assigned.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        V.norm(F.col(vec_col)).alias("q_norm"), "cluster_id",
    )
    sim = V.cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), "cluster_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


# --- Arrow-batched exact scoring ------------------------------------------

def brute_force_topk_numpy(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via numpy matmul inside ``mapInPandas``.

    The query matrix is shipped to every partition once (it is small);
    each Arrow batch of candidates becomes one BLAS GEMM. Emits partial
    per-batch top-k, reduced to global top-k by a window — the shuffle
    carries at most k·|Q| rows per partition.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = "query_id long, neighbor_id long, cosine_sim double"

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(mat) == 0:
                continue
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (q_mat @ mat.T) / (q_norm[:, None] * np.linalg.norm(mat, axis=1)[None, :])
            np.nan_to_num(sims, nan=-1.0, copy=False)  # zero-norm vectors
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], row[mask]
                if len(cand_ids) > k:
                    # deterministic per-partition prune: ties at the
                    # k-boundary keep the LOWEST neighbor id, matching
                    # the final window's (sim desc, id asc) contract —
                    # argpartition's unstable introselect would let the
                    # kept tie vary with partition layout
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                    cand_ids, cand_sims = cand_ids[order], cand_sims[order]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cand_ids, "cosine_sim": cand_sims}
                )

    partial = candidates.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def mmr_select(
    candidates: DataFrame,
    query_vec_id: int,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998, λ = 0.5): greedily pick ``k`` items from the cosine top-
    ``shortlist`` of the query vector, each step maximizing
    λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the diversified re-ranking
    a retrieval / data-curation pipeline runs so near-duplicate
    shortlist entries don't crowd out coverage.

    Returns the greedy TRACE as a relation: (select_rank, item_id,
    rel_ppm, maxsim_ppm) — rel and the redundancy penalty actually
    paid, both in integer ppm.

    Scale shape: MMR is O(k·shortlist) pairwise work BY CONSTRUCTION,
    so the only distributed job is the shortlist itself — the same
    broadcast-query fold + TakeOrderedAndProject global top-N as
    brute_force_topk; the ≤ shortlist (id, vector) rows (KBs) are then
    collected and the greedy recurrence runs vectorized in driver numpy
    (the bounded-collect posture of the BPE trainer and the union-find
    fast path; the recurrence has no non-recursive SQL form, so the
    declared query is rows-only like dataset_pack_ffd).

    Determinism: both rel and pairwise sims are half-up ppm-quantized
    BEFORE the greedy loop, and with λ = 0.5 the argmax of
    0.5·(rel − maxsim) is exactly the argmax of the INTEGER
    rel_ppm − maxsim_ppm, ties to the smallest item id — so selection
    is pure integer arithmetic and identical across runs, partition
    layouts, and BLAS builds (1-ulp GEMM noise cannot move a ppm
    bucket unless a sim sits within ~1e-10 of a 0.5 boundary; the
    fixture minimum measured distance over rel AND all shortlist
    pairs is ≥ 8.4e-5 at all three SFs — five orders above that
    noise floor).
    """
    import numpy as np

    spark = candidates.sparkSession
    qrow = candidates.filter(F.col(id_col) == query_vec_id).select(vec_col).collect()
    if not qrow:
        raise ValueError(f"query vector id {query_vec_id} not found")
    qv = np.asarray(qrow[0][0], dtype=np.float64)

    pool = (
        candidates.filter(F.col(id_col) != query_vec_id)
        .select(
            F.col(id_col).alias("item_id"),
            F.col(vec_col).alias("vec"),
            V.cosine(
                F.col(vec_col).cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in qv]),
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("item_id"))
        .limit(shortlist)
        .collect()
    )
    ids = np.array([r["item_id"] for r in pool], dtype=np.int64)
    mat = np.array([r["vec"] for r in pool], dtype=np.float64)
    rel = np.array([r["rel"] for r in pool], dtype=np.float64)
    out = mmr_greedy_trace(ids, mat, rel, k)
    return local_df(
        spark, out, "select_rank int, item_id long, rel_ppm long, maxsim_ppm long"
    )


def mmr_greedy_trace(ids, mat, rel, k: int) -> list[tuple]:
    """The integer MMR recurrence over an in-memory shortlist — the
    shared core of :func:`mmr_select` (driver, single query) and
    operators/retrieval.mmr_select_queries (one ``applyInPandas``
    group per query). Inputs: item ids, their vectors (rows), and
    their float relevance to the query; output: the greedy trace
    tuples ``(select_rank, item_id, rel_ppm, maxsim_ppm)``. Both rel
    and pairwise sims are half-up ppm-quantized BEFORE the loop, so
    selection is pure integer arithmetic (see mmr_select's
    determinism note)."""
    import numpy as np

    # half-up ppm quantization — the integer domain the greedy loop
    # runs in (same idiom as text_lm_score / documents_bm25)
    rel_ppm = np.floor(rel * 1_000_000.0 + 0.5).astype(np.int64)
    norms = np.linalg.norm(mat, axis=1)
    safe = np.where(norms == 0.0, 1.0, norms)
    unit = mat / safe[:, None]
    pair = unit @ unit.T
    pair = np.where((norms[:, None] == 0.0) | (norms[None, :] == 0.0), -1.0, pair)
    pair_ppm = np.floor(pair * 1_000_000.0 + 0.5).astype(np.int64)

    n = len(ids)
    chosen: list[int] = []
    maxsim = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
    picked = np.zeros(n, dtype=bool)
    out = []
    for rank in range(min(k, n)):
        if not chosen:
            score = rel_ppm.copy()  # first pick: no redundancy term
        else:
            score = rel_ppm - maxsim
        score = np.where(picked, np.iinfo(np.int64).min, score)
        best_score = score.max()
        # ties to the smallest item id among max-score candidates
        tied = np.nonzero(score == best_score)[0]
        j = tied[np.argmin(ids[tied])]
        out.append(
            (
                rank + 1,
                int(ids[j]),
                int(rel_ppm[j]),
                0 if not chosen else int(maxsim[j]),
            )
        )
        picked[j] = True
        chosen.append(j)
        # fold the new selection into every candidate's running max
        maxsim = np.maximum(maxsim, pair_ppm[:, j])
    return out
