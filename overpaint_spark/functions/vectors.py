"""Vector math over ``array<float>`` embedding columns — JVM built-ins.

Dot products and norms are expressed with ``zip_with`` + ``aggregate``
higher-order functions: a sequential left fold, so the floating-point
summation order is deterministic (left-to-right) — required for oracle
parity and for reproducible top-k ranking. Everything is computed in
``double`` after an explicit up-cast from the stored ``float``.

For bulk ANN at 100 TB the per-row fold is still one fused codegen stage
(no shuffle, no Python); a BLAS-batched ``mapInPandas`` variant lives in
:mod:`overpaint_spark.operators.similarity` for comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two equal-length vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity; pass precomputed norms to avoid recomputing the
    per-vector norm inside an N×M join (norms are computed once per side
    before the join in every operator here).

    Zero-norm vectors (an all-zero embedding from an empty document)
    yield -1.0, not 0/0 = NaN: Spark sorts NaN ABOVE every double, so a
    NaN similarity would make the zero vector the rank-1 neighbor of
    every query and pass every ``>= threshold`` filter; -1.0 fails every
    real threshold and sorts last under the desc orderings here. -1.0
    (not NULL) because the vectorized numpy paths
    (``brute_force_topk_numpy``, ``embedding_near_dup_pairs_blocked``)
    pin the same case via ``nan_to_num(nan=-1.0)`` — both declared
    paths must emit identical rows for identical input (pinned in
    tests/test_similarity.py)."""
    na = norm(a) if norm_a is None else norm_a
    nb = norm(b) if norm_b is None else norm_b
    return F.when((na != 0) & (nb != 0), dot(a, b) / (na * nb)).otherwise(
        F.lit(-1.0)
    )
