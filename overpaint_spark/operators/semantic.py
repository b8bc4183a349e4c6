"""SemDeDup-style semantic deduplication over embedding columns.

The published recipe (Abbas et al., 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication",
arXiv:2303.09540): cluster the embedding space with k-means, then look
for near-duplicate pairs only WITHIN each cluster and keep one
representative per duplicate group. At 100 TB an all-pairs cosine is
impossible (N² at N ≈ 10¹⁰); clustering bounds the candidate set to
Σᵢ|clusterᵢ|², with cluster sizes controlled by the centroid count
(C ∝ N / target_cluster_size keeps per-cluster work flat as the corpus
grows).

Spark shape (100 TB posture):

- Centroid assignment is the Arrow-batched GEMM from
  :func:`overpaint_spark.operators.similarity.assign_to_centroids` —
  each vector is scored against C centroids, never against other
  vectors; the centroid matrix rides inside the task closure.
- The within-cluster pair search is ONE equi-join on ``cluster_id``
  (both sides shuffle-partitioned by cluster, AQE handles skewed
  clusters), with the pair predicate ``a_id < b_id`` and the cosine
  threshold applied inside the join stage — no cross join anywhere.
- The keep rule is the deterministic greedy one: a vector is dropped
  iff some LOWER-id vector in its cluster is ≥ τ similar. That is
  exactly SemDeDup's "keep one representative" made order-free —
  reproducible in plain SQL (``NOT EXISTS (y < x AND sim ≥ τ)``),
  which is what lets the driver's DuckDB oracle hash-check survivors.

Reference parity note: the reference (src/listTables.tsx) has no
embedding operators; this extends the north-star LLM-pipeline surface
(SURVEY §7.4.1 dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overpaint_spark.functions import vectors as V
from overpaint_spark.operators.similarity import assign_to_centroids, id_prefix


def cluster_assignments(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster_id) with each vector assigned to its nearest
    centroid; the centroids are the ``n_centroids`` lowest-id vectors
    (:func:`~overpaint_spark.operators.similarity.id_prefix`:
    deterministic, oracle-reproducible)."""
    _, cmat = id_prefix(vectors, n_centroids, id_col, vec_col)
    return assign_to_centroids(vectors, cmat, 1, id_col, vec_col)


def semantic_dup_pairs(
    assigned: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster near-duplicate pairs (a_id < b_id, cosine ≥ τ)
    from a :func:`cluster_assignments` relation. One shuffle: the
    cluster_id equi-join; norms precomputed per side before the join."""
    a = assigned.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        V.norm(F.col(vec_col)).alias("a_norm"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        V.norm(F.col(vec_col)).alias("b_norm"),
        "cluster_id",
    )
    sim = V.cosine(F.col("a_vec"), F.col("b_vec"), F.col("a_norm"), F.col("b_norm"))
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("cluster_id", "a_id", "b_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= tau)
    )


def semantic_dedup_survivors(
    vectors: DataFrame,
    n_centroids: int = 16,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Survivors (id, cluster_id) after SemDeDup pruning: drop x iff a
    lower-id vector in x's cluster is ≥ τ cosine-similar. The dropped
    set is a DISTINCT projection of the pair relation's high side; the
    survivor filter is a broadcast-able left-anti join on id — the
    vector payload is never shuffled a second time."""
    assigned = cluster_assignments(vectors, n_centroids, id_col, vec_col)
    pairs = semantic_dup_pairs(assigned, tau, id_col, vec_col)
    dropped = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cluster_id")
