"""Scalar (int8-range) embedding quantization — the storage/ANN-memory
reduction step of a 100 TB embedding pipeline (the "SQ8" tier of
FAISS-style indexes: 4× smaller than float32, distance error bounded by
half a quantization step per dimension).

Shape: per-dimension global min/max come from ONE aggregate pass with
2·dim channels (map-side partial aggregation — no explode, no shuffle of
vectors; the stats relation is a single row). Quantization itself is a
pure per-row JVM expression (``zip_with`` over the vector and the
broadcast stats arrays), so the encode step costs zero shuffles and
stays inside whole-stage codegen.

Determinism: codes are ``floor((v - mn) / (mx - mn) * 255 + 0.5)`` —
subtraction, division, multiplication, addition and floor are all
exactly specified by IEEE 754, so the integer codes are bit-identical
in any engine given the same doubles (no transcendentals, no
round-half mode ambiguity — ``floor(x + 0.5)``, not ``round``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from overpaint_spark.localrel import local_df


# Above this dimensionality the flat aggregate's 2·dim channels strain
# a single whole-stage-codegen projection (the same failure family as
# the pre-r3 LSH signature fold); the posexplode path takes over.
_FLAT_STATS_MAX_DIM = 512


def dimension_stats(
    vectors: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """1-row DataFrame with ``mins``/``maxs`` array<double> columns —
    per-dimension global bounds.

    dim ≤ 512: ONE aggregate with 2·dim channels — zero shuffles, the
    stats relation is a single row. Past 512 the wide projection would
    strain codegen, so the shape switches to posexplode → groupBy(pos):
    still one pass over the data, min/max partials combine map-side so
    the shuffle carries only ~#partitions·dim tiny rows, and the dim-row
    result folds back to one row of arrays. Both paths are exact and
    compared equal in tests/test_quantization.py.

    Degenerate inputs behave IDENTICALLY on both paths (r4 advisor
    finding — they used to diverge): an empty relation yields one row
    of length-``dim`` all-NULL arrays on either path (the flat path's
    global agg does this natively; the posexplode path normalizes its
    collected entries to ``dim`` map lookups); vectors shorter than
    ``dim`` contribute nothing to the missing trailing positions on
    either path (``try_element_at`` in the flat path — plain ``getItem``
    would throw under ANSI while posexplode silently shrank)."""
    v = F.col(vec_col).cast("array<double>")
    if dim <= _FLAT_STATS_MAX_DIM:
        agg = vectors.agg(
            *[F.min(F.try_element_at(v, F.lit(i + 1))).alias(f"mn_{i}") for i in range(dim)],
            *[F.max(F.try_element_at(v, F.lit(i + 1))).alias(f"mx_{i}") for i in range(dim)],
        )
        return agg.select(
            F.array(*[F.col(f"mn_{i}") for i in range(dim)]).alias("mins"),
            F.array(*[F.col(f"mx_{i}") for i in range(dim)]).alias("maxs"),
        )
    per_dim = (
        vectors.select(F.posexplode(v).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )
    packed = per_dim.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("pos", F.struct("mn", "mx"))))
        ).alias("m")  # pos -> (mn, mx); empty map on empty input
    )
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    return packed.select(
        F.transform(dims, lambda i: F.try_element_at(F.col("m"), i)["mn"]).alias("mins"),
        F.transform(dims, lambda i: F.try_element_at(F.col("m"), i)["mx"]).alias("maxs"),
    )


def scalar_quantize(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: DataFrame | None = None,
) -> DataFrame:
    """(id, codes array<bigint>) with each dimension quantized to the
    0..255 range against the global per-dimension bounds (constant
    dimensions code to 0). The stats row is broadcast; encoding is one
    codegen stage over the scan.

    ``stats``: a precomputed :func:`dimension_stats` relation — callers
    that also need the bounds themselves (the SQ8 error audit) pass it
    through so the bounds aggregate scans the corpus once, not twice,
    and the audit provably decodes against the bounds it encoded
    with."""
    if stats is None:
        stats = dimension_stats(vectors, dim, vec_col)
    v = F.col(vec_col).cast("array<double>")
    zipped = F.arrays_zip(v.alias("val"), F.col("mins").alias("mn"), F.col("maxs").alias("mx"))
    code = F.transform(
        zipped,
        lambda s: F.when(s["mx"] == s["mn"], F.lit(0))
        .otherwise(
            F.floor((s["val"] - s["mn"]) / (s["mx"] - s["mn"]) * 255 + F.lit(0.5))
        )
        .cast("bigint"),
    )
    return vectors.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), code.alias("codes")
    )


# --- product quantization (PQ) ---------------------------------------------

def _seed_codebook(sample, n_subspaces: int, n_codes: int):
    """(M, K, dsub) codebook whose K entries per subspace are that
    subspace's slices of the first K seed rows — the seeded-index trick
    that makes the declared PQ queries SQL-reproducible. Raises the
    :data:`~overpaint_spark.operators.similarity.SEED_ERROR` ValueError
    when the seed holds fewer than K rows."""
    from overpaint_spark.operators.similarity import SEED_ERROR

    if len(sample) < n_codes:
        raise ValueError(
            f"{SEED_ERROR}: a PQ codebook of {n_codes} codes needs "
            f"{n_codes} seed rows, got {len(sample)}"
        )
    dim = sample.shape[1]
    assert dim % n_subspaces == 0, "subspaces must divide dim"
    return (
        sample[:n_codes]
        .reshape(n_codes, n_subspaces, dim // n_subspaces)
        .transpose(1, 0, 2)
        .copy()
    )


def pq_codebooks(
    sample,
    n_subspaces: int = 8,
    n_codes: int = 16,
    train_iters: int = 0,
    train_sample: int = 4096,
):
    """Deterministic PQ codebooks (numpy, subspaces × codes × sub-dim)
    from ``sample``, an id-ordered vector matrix (the matrix half of a
    :func:`~overpaint_spark.operators.similarity.id_prefix` seed).

    ``train_iters=0``: each subspace's codebook is the corresponding
    slice of the ``n_codes`` lowest-id vectors. ``train_iters>0``
    refines each subspace with that many Lloyd's iterations (L2 mean
    update, empty cells keep their centroid) on the first
    ``train_sample`` rows — deterministic but no longer cheaply
    SQL-expressible, so the trained variant stays undeclared; the
    encode/search plans are identical either way. The sample is
    bounded (train_sample × dim doubles) and independent of corpus
    size — the standard PQ training recipe."""
    import numpy as np

    sample = np.asarray(sample, dtype=np.float64)
    cb = _seed_codebook(sample, n_subspaces, n_codes)
    if train_iters <= 0:
        return cb
    dsub = cb.shape[2]
    smat = sample[:train_sample]
    for mi in range(n_subspaces):
        sub = smat[:, mi * dsub : (mi + 1) * dsub]
        cents = cb[mi]
        for _ in range(train_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            new = cents.copy()
            for ki in range(n_codes):
                sel = sub[assign == ki]
                if len(sel):
                    new[ki] = sel.mean(axis=0)
            cents = new
        cb[mi] = cents
    return cb


def pq_encode(
    vectors: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """(id, codes array<int>) — classic product quantization (Jégou et
    al. 2011, the FAISS "PQ" tier): the vector splits into M
    subspaces, each slice coded as the index of its nearest (L2)
    entry of ``codebook`` (M × K × dsub, a :func:`pq_codebooks` or
    :func:`opq_train` result), ties toward the lower index. At 16 codes
    per subspace a 64-dim float32 vector compresses 256B → 4B (8×
    beyond SQ8) while ADC search stays possible.

    Scale shape: the codebook is tiny and rides in the task closure;
    encoding is one Arrow-batched pass — per batch, one vectorized
    squared-distance computation per subspace against K entries.
    Nothing shuffles but the output codes.

    ``rotation``: an optional dim×dim orthogonal matrix applied before
    coding — the OPQ pre-transform. One GEMM per batch; the matrix
    rides in the closure."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            if rotation is not None:
                x = x @ rotation
            codes = _pq_codes_batch(x, codebook)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [list(map(int, c)) for c in codes]}
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, codes array<int>"
    )


def _pq_codes_batch(x, codebook):
    """(n, M) int32 PQ codes of one batch matrix: per subspace, the index
    of the nearest (L2) codebook entry, ties toward the lower index —
    the encode kernel of :func:`pq_encode` and :func:`ivfpq_encode`."""
    import numpy as np

    n_subspaces, _, dsub = codebook.shape
    codes = np.empty((len(x), n_subspaces), dtype=np.int32)
    for mi in range(n_subspaces):
        sub = x[:, mi * dsub : (mi + 1) * dsub]
        d2 = ((sub[:, None, :] - codebook[mi][None, :, :]) ** 2).sum(axis=2)
        codes[:, mi] = np.argmin(d2, axis=1)  # first min = lowest code
    return codes


def ivfpq_encode(
    vectors: DataFrame,
    coarse,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, codes array<int>, cluster_id)`` — raw IVF-PQ coding of every
    vector in ONE Arrow-batched pass: each batch matrix is built once and
    fed to both the coarse assignment kernel
    (:func:`~overpaint_spark.operators.similarity._assigner`, two-level
    past its threshold) and the PQ kernel (:func:`_pq_codes_batch`), so
    the rows need no join of an assignment pass with an encode pass.
    The codes and cluster ids equal those of :func:`pq_encode` joined
    with ``assign_to_centroids(..., 1)``: both run the same kernels.
    This is the encoder of the live raw :func:`ivf_pq_topk`, of
    ``ann_index.build_ann_index`` and of every ingest into a persisted
    index."""
    import numpy as np
    import pandas as pd

    from overpaint_spark.operators.similarity import _assigner

    assign = _assigner(coarse, 1)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = _pq_codes_batch(x, codebook)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": [list(map(int, c)) for c in codes],
                    "cluster_id": assign(x)[:, 0].astype("int32"),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, codes array<int>, cluster_id int"
    )


def _pq_lut(v, codebook):
    """M×K lookup table ``LUT[m][k] = ‖v_m − cb[m][k]‖²`` of one vector
    against the codebook — the table ADC sums per candidate. Every LUT
    (plain, OPQ-rotated, per-probed-list residual, index self-distance)
    is built here, so the summation order that keeps ADC distances
    bit-reproducible in SQL cannot drift between them."""
    dsub = codebook.shape[2]
    return [
        [float(((v[mi * dsub : (mi + 1) * dsub] - entry) ** 2).sum()) for entry in sub]
        for mi, sub in enumerate(codebook)
    ]


def pq_adc_topk(
    candidates: DataFrame,
    q_rows,
    codebook,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of the PQ tier: queries (``q_rows``, collected ``(id, vec)`` rows)
    stay exact, every candidate is represented only by its code bytes,
    and the distance is the classic lookup-table sum
    ``Σ_m LUT_q[m][code_m]`` (:func:`_pq_lut`).

    Scale shape: the per-query LUTs (|Q|·M·K doubles) are BROADCAST;
    each candidate row does M integer array lookups + a fixed-length
    add chain inside codegen — the candidate VECTORS are never read at
    search time, which is the entire point of PQ at 100 TB. One
    shuffle: the final per-query top-k window over k·|Q| surviving
    rows. Ranking ties break on neighbor id.

    ``rotation``: the OPQ tier (Ge et al. 2013) — an orthogonal
    :func:`opq_train` rotation applied to candidates at encode and to
    queries before the LUT build. Orthogonality preserves L2 exactly,
    so the rotated search ranks the ORIGINAL space with less
    quantization error per code byte."""
    import numpy as np

    codes = pq_encode(candidates, codebook, id_col, vec_col, rotation=rotation)
    lut_rows = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        if rotation is not None:
            qv = qv @ rotation
        lut_rows.append((int(r[0]), _pq_lut(qv, codebook)))
    lut_df = local_df(
        candidates.sparkSession, lut_rows, "q_id long, lut array<array<double>>"
    )
    return _adc_topk(
        codes.crossJoin(F.broadcast(lut_df)), len(codebook), k, id_col
    )


def _adc_topk(joined: DataFrame, n_subspaces: int, k: int, id_col: str) -> DataFrame:
    """Shared ranking tail of every ADC search over (code row × LUT row)
    pairs: drop self-matches, LUT-sum the distance, keep the per-query
    top-k (ties on neighbor id)."""
    from pyspark.sql.window import Window

    scored = joined.filter(F.col(id_col) != F.col("q_id")).select(
        F.col("q_id").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        _adc_dist_expr(n_subspaces).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def _adc_dist_expr(n_subspaces: int):
    """Left-to-right LUT-sum expression — the fixed add order is what
    keeps the distance bit-reproducible in SQL."""
    dist = None
    for mi in range(n_subspaces):
        term = F.element_at(
            F.col("lut")[mi], F.col("codes")[mi].cast("int") + F.lit(1)
        )
        dist = term if dist is None else dist + term
    return dist


# --- optimized product quantization (OPQ) ----------------------------------

def opq_train(
    sample,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 5,
    train_sample: int = 4096,
):
    """(R, codebook): an orthogonal rotation + per-subspace codebooks —
    OPQ (Ge et al. 2013, Optimized Product Quantization; FAISS's
    ``OPQMatrix`` pre-transform) — trained on the first
    ``train_sample`` rows of ``sample``, an id-ordered vector matrix
    (same contract as :func:`pq_codebooks`). Plain PQ quantizes fixed
    coordinate slices, so correlated/anisotropic dimensions waste code
    budget; OPQ alternates (a) PQ codebook training in the rotated
    space with (b) the orthogonal-Procrustes solve R = UVᵀ of SVD(XᵀX̂)
    that best aligns the data to its own reconstruction — provably
    non-increasing quantization error per round. Encode and search are
    :func:`pq_encode` / :func:`pq_adc_topk` with ``rotation=R``.

    Scale shape: each alternation is sample-sized numpy (sample×dim
    doubles, independent of corpus size). Deterministic: sample and
    codebook seeding are id-ordered, Lloyd's updates are argmin/mean,
    and the SVD runs on the same LAPACK everywhere a session runs —
    same-platform re-runs are bit-identical (cross-platform bit-parity
    is NOT claimed, which is one reason the declared query is
    rows-only; the other is the iterative loop)."""
    import numpy as np

    X = np.asarray(sample, dtype=np.float64)[:train_sample]
    R = np.eye(X.shape[1])
    # codebooks seed ONCE (first n_codes rows in the initial space) and
    # PERSIST across alternations — each round refines the PREVIOUS
    # round's centroids in the current rotated space. Re-seeding every
    # round (the original implementation) voids Ge et al.'s
    # non-increasing-error argument, which assumes both sub-steps only
    # improve the shared objective (r5 review finding); per-round
    # monotonicity is pinned in tests now.
    cb = _seed_codebook(X, n_subspaces, n_codes)
    dsub = cb.shape[2]
    for _ in range(n_iter):
        XR = X @ R
        codes = np.empty((len(XR), n_subspaces), dtype=np.int64)
        for mi in range(n_subspaces):
            sub = XR[:, mi * dsub : (mi + 1) * dsub]
            d2 = ((sub[:, None, :] - cb[mi][None, :, :]) ** 2).sum(axis=2)
            codes[:, mi] = np.argmin(d2, axis=1)
            for ki in range(n_codes):
                sel = sub[codes[:, mi] == ki]
                if len(sel):
                    cb[mi][ki] = sel.mean(axis=0)
            d2 = ((sub[:, None, :] - cb[mi][None, :, :]) ** 2).sum(axis=2)
            codes[:, mi] = np.argmin(d2, axis=1)
        Xhat = np.concatenate(
            [cb[mi][codes[:, mi]] for mi in range(n_subspaces)], axis=1
        )
        # orthogonal Procrustes: R minimizing ||X R - Xhat||_F
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    return R, cb


def ivf_pq_topk(
    candidates: DataFrame,
    seed,
    q_rows,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ — the production FAISS index shape, composed from the
    verified pieces: candidates live in coarse centroid lists
    (similarity.assign_to_centroids, cosine, seeded) and are represented
    by PQ codes; a query (``q_rows``, collected ``(id, vec)`` rows)
    probes its ``n_probe`` nearest lists and scores ONLY those lists'
    members by ADC lookup — expected work per query is
    ``n_probe·N/C`` LUT-sums over code bytes, with neither candidate
    vectors nor out-of-probe lists ever touched.

    ``seed``: an :func:`~overpaint_spark.operators.similarity.id_prefix`
    ``(ids, matrix)`` of at least max(n_centroids, n_codes) rows (or the
    whole table if smaller). The coarse centroids are its first
    ``n_centroids`` rows, the raw-path PQ codebook its first ``n_codes``
    rows — callers building several tiers pass one seed to all of them.

    ``by_residual=False`` codes RAW vectors (FAISS ``by_residual=false``)
    so the whole index stays SQL-reproducible — this is the declared
    oracle query's shape. ``by_residual=True`` is the production FAISS
    default: each candidate is coded as its offset from its assigned
    coarse centroid (residuals are smaller and centered, so the same
    code budget quantizes finer), and the per-(query, probed-list) LUT
    becomes ``‖(q − c_list)_m − cb[m][k]‖²`` — same join/scan shape, one
    extra zip_with in the encode stage, still deterministic (seeded
    residual codebook). Declared as ``ann_topk_ivfpq_residual`` and
    also property-tested (recall ≥ raw at equal n_probe on clustered
    data, distances consistent with an exact numpy re-derivation;
    tests/test_quantization.py). The raw path codes candidates in one
    pass (:func:`ivfpq_encode`, shared with the persisted index); the
    residual path joins its assignment with its encode, because its
    codebook depends on the assignment. One shuffle: the cluster_id
    equi-join (query side broadcast); plus the final top-k window."""
    from overpaint_spark.operators.similarity import assign_to_centroids, id_prefix

    spark = candidates.sparkSession
    ids, mat = seed
    coarse = mat[:n_centroids]
    if by_residual:
        # the residual codebook is seeded from residuals, which depend on
        # the assignment, so assignment and encode stay two joined passes
        c_assigned = assign_to_centroids(
            candidates, coarse, 1, id_col, vec_col, include_vec=False
        )
        # (id, cluster_id, residual vector): one broadcast join against
        # the C-row centroid relation + a zip_with
        cent_df = local_df(
            spark,
            [(int(i), [float(x) for x in coarse[i]]) for i in range(len(coarse))],
            "cluster_id int, centroid array<double>",
        )
        to_code = (
            candidates.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
            .join(c_assigned, id_col)
            .join(F.broadcast(cent_df), "cluster_id")
            .select(
                id_col,
                F.zip_with(
                    F.col(vec_col), F.col("centroid"), lambda v, c: v - c
                ).alias(vec_col),
            )
        )
        # The n_centroids lowest-id vectors ARE the coarse seeds, so
        # their residuals are ~zero — seeding the codebook from them
        # would collapse every code onto the origin. Seed from the next
        # n_codes ids instead (their residuals are representative
        # cluster offsets). Still deterministic: ORDER BY id, rows
        # C..C+K. The seeds are BY CONSTRUCTION the C lowest ids, so
        # exclusion is one boundary comparison — an isin() over C ids
        # would embed C literals in the plan (C = N/125 now that the
        # geometry scales; r5 review finding), and only the boundary
        # value crosses to the driver.
        seed_max = int(ids[:n_centroids][-1])
        _, residuals = id_prefix(
            to_code.filter(F.col(id_col) > seed_max), n_codes, id_col, vec_col
        )
        cb = pq_codebooks(residuals, n_subspaces, n_codes)
        indexed = pq_encode(to_code, cb, id_col, vec_col).join(c_assigned, id_col)
    else:
        cb = pq_codebooks(mat, n_subspaces, n_codes)
        indexed = ivfpq_encode(candidates, coarse, cb, id_col, vec_col)
    return _ivfpq_search(
        spark, indexed, coarse, cb, q_rows, n_probe, k, id_col, by_residual
    )


def _ivfpq_search(
    spark,
    indexed: DataFrame,
    coarse,
    cb,
    q_rows,
    n_probe: int,
    k: int,
    id_col: str,
    by_residual: bool = False,
) -> DataFrame:
    """The probe-and-ADC search half of IVF-PQ over a PREBUILT index
    (``indexed`` = (id, codes, cluster_id); ``coarse``/``cb`` = numpy
    centroid matrix / codebooks) — shared by :func:`ivf_pq_topk` and
    the persisted-index path (operators/ann_index.search_ann_index), so
    live and loaded indexes can never diverge in search semantics."""
    import numpy as np

    cnorm = np.linalg.norm(coarse, axis=1)
    lut_rows = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = (coarse @ qv) / (cnorm * np.linalg.norm(qv))
        np.nan_to_num(sims, nan=-1.0, copy=False)  # zero-norm vectors
        probes = np.argsort(-sims, kind="stable")[:n_probe]
        # raw coding: the LUT depends only on qv — build once, not per
        # probed list (residual coding shifts it by the list centroid,
        # so there it is genuinely per-(query, list))
        shared = None if by_residual else _pq_lut(qv, cb)
        for cid in probes:
            lut = _pq_lut(qv - coarse[cid], cb) if by_residual else shared
            lut_rows.append((int(r[0]), int(cid), lut))
    lut_df = local_df(
        spark, lut_rows, "q_id long, cluster_id int, lut array<array<double>>"
    )
    return _adc_topk(
        indexed.join(F.broadcast(lut_df), "cluster_id"), len(cb), k, id_col
    )


def gram_partials(vectors: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """Per-Arrow-batch partial second-moment statistics: each batch
    emits ONE row (n, sum[dim], gram[dim*dim] row-major) computed by a
    single ``X.T @ X`` GEMM — the distributed-covariance shape (one
    pass, no shuffle, output rows = #batches, data-sized work stays in
    the executor BLAS). The caller reduces the batch rows; at any
    realistic partition count that relation is KBs."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    out_schema = "n long, s array<double>, g array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            if X.shape[1] != dim:
                raise ValueError(
                    f"expected dim={dim}, batch has {X.shape[1]}"
                )
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    return vectors.select(vec_col).mapInPandas(run, out_schema)


def pca_variance_report(vectors: DataFrame, dim: int, vec_col: str = "embedding"):
    """PCA variance-explained curve without ever materializing the
    vectors on the driver: the covariance is assembled from the
    bounded ``gram_partials`` relation (collected — #batches rows, the
    BPE-trainer bounded-collect posture) and eigendecomposed in driver
    numpy; only the dim-row report leaves the driver.

    C = (G − n·μμᵀ) / (n−1); eigenvalues sorted descending, reported
    as half-up ppm of the trace (scale-free) plus the cumulative
    curve. This is the 'how many PQ/OPQ/IVF dimensions actually carry
    signal' report an embedding pipeline reads before choosing code
    sizes. Deterministic given one BLAS build; declared rows-only
    (eigendecomposition has no SQL form — the dataset_pack_ffd class),
    pinned against direct numpy PCA on the collected fixture in
    tests/test_quantization.py."""
    import numpy as np

    rows = gram_partials(vectors, dim, vec_col).collect()
    if not rows:
        raise ValueError("no vectors")
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError(
            f"pca_variance_report needs >= 2 vectors for the n-1 "
            f"covariance denominator, got {n}"
        )
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    evals = np.clip(evals, 0.0, None)  # numerical negatives -> 0
    trace = float(evals.sum())
    if trace <= 0.0:
        # identical vectors: zero variance everywhere — report all-zero
        # ppm rather than dividing by the zero trace
        ppm = [0] * len(evals)
    else:
        ppm = [int(np.floor(v / trace * 1_000_000.0 + 0.5)) for v in evals]
    out, cum = [], 0
    for i, p in enumerate(ppm):
        cum += p
        out.append((i + 1, p, cum))
    spark = vectors.sparkSession
    return local_df(
        spark, out, "component int, var_ppm long, cum_var_ppm long"
    )
