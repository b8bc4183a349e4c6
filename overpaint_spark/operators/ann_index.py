"""Persisted IVF-PQ ANN index — the FAISS index-file lifecycle
(train → add → write → read → search) re-expressed as parquet
relations, completing the persistence story the dedup band index
(operators/dedup.py build/persist/load_dedup_index) and the LM model
(operators/lm.py) already follow: every declared ANN query rebuilds
its index per run, which is right for oracle determinism but wrong for
production cadence — a 100 TB corpus is indexed ONCE (one assignment +
encode pass) and searched many times, so the index must be a
first-class stored artifact.

Layout under ``<path>/``, each relation read with its declared schema
(:func:`codes_schema`, :data:`CENTROIDS_SCHEMA`, :data:`CODEBOOK_SCHEMA`,
:func:`tombstones_schema`) — never inferred, so opening the index runs
no parquet footer job and an empty relation reads as zero rows:

- ``codes``:     (id long, codes array<int>, cluster_id int) — the ONLY
                 data-sized relation; search reads code bytes, never
                 vectors. At production scale write it bucketed/
                 partitioned by cluster_id so a probe prunes to its
                 lists' files (partition pruning = FAISS's inverted
                 list seek).
- ``codes_delta``: the same rows appended by the streaming ingest,
                 partitioned by ``_batch_id`` (streaming/ann_ingest.py).
- ``tombstones``: (id long) — deleted ids, excluded at load until
                 :func:`compact_ann_index` folds them in.
- ``centroids``: (cluster_id, centroid array<double>) — C rows.
- ``codebook``:  (subspace, code, center array<double>) — M·K rows.
- meta rides IN the bounded relations (dim = Σ subspace widths,
  C/M/K = row counts) rather than a sidecar file, so a stale-meta
  mismatch is impossible.

The geometry (centroids + codebook) never changes after
:func:`persist_ann_index`, so :func:`load_ann_geometry` collects it
once per path and reuses it while its part files are unchanged.

Search goes through the SAME ``quantization._ivfpq_search`` body as
the live ``ivf_pq_topk`` — live and loaded indexes cannot diverge in
semantics (equivalence pinned in tests/test_ann_index.py). Raw coding
(FAISS ``by_residual=false``) keeps the artifact deterministic and
oracle-reproducible; centroids come seeded or k-means-trained
(``train_iters``), both id-deterministic.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.util import inheritable_thread_target

from overpaint_spark.localrel import local_df


#: declared schema of the ``centroids`` relation
CENTROIDS_SCHEMA = "cluster_id int, centroid array<double>"
#: declared schema of the ``codebook`` relation
CODEBOOK_SCHEMA = "subspace int, code int, center array<double>"


def codes_schema(id_col: str) -> str:
    """Declared schema of ``codes`` and ``codes_delta`` (the delta's
    ``_batch_id`` partition column is discovered from its paths)."""
    return f"{id_col} long, codes array<int>, cluster_id int"


def tombstones_schema(id_col: str) -> str:
    """Declared schema of ``tombstones``. Files that hold the id as
    ``int`` (written before deletes cast it) widen to ``long`` on read."""
    return f"{id_col} long"


def _read_optional(spark: SparkSession, path: str, schema: str) -> DataFrame | None:
    """Read an OPTIONAL relation with its declared ``schema`` (None when
    never written) — but ONLY path-not-found maps to None; a corrupt
    file, permission failure, or any other read error propagates,
    because treating it as "not there" would silently resurrect deleted
    rows (tombstones) or drop streamed ingest (codes_delta)."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(exc):
            return None
        raise


def _staged_generations(path: str, stage_name: str) -> list[str]:
    """Parquet directories a crashed-or-running compaction moved aside:
    ``<path>/<stage_name>/<generation>/``. Empty when no compaction is
    in flight and none ever crashed."""
    import os

    stage = os.path.join(path, stage_name)
    if not os.path.isdir(stage):
        return []
    return sorted(
        os.path.join(stage, g)
        for g in os.listdir(stage)
        if os.path.isdir(os.path.join(stage, g))
    )


def _union_existing(
    spark: SparkSession, df: DataFrame | None, dirs: list[str], schema: str
) -> DataFrame | None:
    """``df`` ∪ every directory in ``dirs`` that exists, each read with
    ``schema``; the ingest sink's ``_batch_id`` partition column is
    dropped so every side shares one schema."""
    from overpaint_spark.streaming.sink import BATCH_COL

    for d in dirs:
        part = _read_optional(spark, d, schema)
        if part is not None:
            part = part.drop(BATCH_COL)
            df = part if df is None else df.unionByName(part)
    return df


def _read_tombstones(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> DataFrame | None:
    """Tombstone ids, INCLUDING any generation a compaction has staged
    aside (``tombstones_compacting/``) — so the read view is unchanged
    while a compaction is in flight or after one crashed mid-fold."""
    return _union_existing(
        spark,
        None,
        [f"{path}/tombstones", *_staged_generations(path, "tombstones_compacting")],
        tombstones_schema(id_col),
    )


def _read_codes(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> DataFrame:
    """The full coded corpus: the batch-built ``codes`` relation plus
    the streamed ``codes_delta`` relation (written batch-id-partitioned
    by streaming/ann_ingest.py's exactly-once sink) plus the generations
    a compaction staged aside (in-flight or crashed mid-fold: still part
    of the corpus until the codes swap lands). Delta rows stay in their
    own directory because the base ``codes`` write is un-partitioned —
    mixing layouts in one directory breaks partition discovery — and
    the union is free: every side is a parquet scan of code rows, and
    compaction folds the delta in."""
    schema = codes_schema(id_col)
    return _union_existing(
        spark,
        spark.read.schema(schema).parquet(f"{path}/codes"),
        [f"{path}/codes_delta", *_staged_generations(path, "codes_delta_compacting")],
        schema,
    )


@dataclass
class AnnIndex:
    """In-session handle: bounded numpy parts + the coded relation."""

    coarse: "object"  # numpy (C, dim) centroid matrix
    codebook: "object"  # numpy (M, K, dsub) PQ codebooks
    indexed: DataFrame  # (id, codes, cluster_id)
    dim: int
    id_col: str = "vec_id"


def build_ann_index(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """One pass over the corpus assigns and encodes every vector
    (:func:`~overpaint_spark.operators.quantization.ivfpq_encode`);
    centroid/codebook training is bounded. One id-ordered seed collect
    (:func:`~overpaint_spark.operators.similarity.id_prefix`) serves
    both the coarse centroids (its first ``n_centroids`` rows, or the
    k-means init when ``train_iters > 0``) and the PQ codebook (its
    first ``n_codes`` rows)."""
    from overpaint_spark.operators.quantization import ivfpq_encode, pq_codebooks
    from overpaint_spark.operators.similarity import id_prefix, train_kmeans_centroids

    _, seed = id_prefix(vectors, max(n_centroids, n_codes), id_col, vec_col)
    coarse = seed[:n_centroids]
    if train_iters > 0:
        coarse = train_kmeans_centroids(vectors, coarse, train_iters, vec_col)
    cb = pq_codebooks(seed, n_subspaces, n_codes)
    codes = ivfpq_encode(vectors, coarse, cb, id_col, vec_col)
    return AnnIndex(coarse, cb, codes, dim, id_col)


def persist_ann_index(index: AnnIndex, path: str) -> None:
    """codes repartitioned by cluster_id (the write-side twin of the
    probe access pattern); centroid/codebook relations are tiny. The
    three writes touch disjoint directories and share no lineage, so
    they run from a small thread pool (guide §2.6) — the wall cost is
    the codes write, with the two bounded-relation writes riding its
    tail instead of queueing three sequential jobs."""
    from concurrent.futures import ThreadPoolExecutor

    spark = index.indexed.sparkSession

    def _write_codes() -> None:
        (
            index.indexed.repartition(F.col("cluster_id"))
            .sortWithinPartitions("cluster_id", index.id_col)
            .write.mode("overwrite")
            .parquet(f"{path}/codes")
        )

    def _write_centroids() -> None:
        cent_rows = [
            (int(i), [float(x) for x in index.coarse[i]])
            for i in range(len(index.coarse))
        ]
        # local_df: one slice, no coalesce — a coalesce(1) over a
        # default-parallelism local relation serializes 32 per-partition
        # ScalaReflection tolls into one task (~5 s per write on the
        # bench box; overpaint_spark/localrel.py)
        local_df(spark, cent_rows, CENTROIDS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{path}/centroids")

    def _write_codebook() -> None:
        cb_rows = [
            (int(mi), int(ki), [float(x) for x in index.codebook[mi][ki]])
            for mi in range(len(index.codebook))
            for ki in range(index.codebook[mi].shape[0])
        ]
        local_df(spark, cb_rows, CODEBOOK_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{path}/codebook")

    # the pool threads inherit this thread's job group and tags
    tagged = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(tagged(fn))
            for fn in (_write_codes, _write_centroids, _write_codebook)
        ]
        for fut in futs:
            fut.result()


# Geometry collected by load_ann_geometry, by absolute index path:
# (part-file identity, coarse, codebook). Bounded so a process that
# opens many short-lived index copies keeps only the recent ones;
# sinks and loads may open indexes from several threads, hence the lock.
_GEOMETRY_CACHE: dict[str, tuple] = {}
_GEOMETRY_CACHE_PATHS = 16
_GEOMETRY_LOCK = threading.Lock()


def _geometry_identity(path: str) -> tuple | None:
    """(relation, name, length, mtime) of every file under ``centroids``
    and ``codebook``, listed on the driver; None when either is not a
    local directory (the geometry is then collected on every open).
    A re-persist writes new part files, so it changes the identity."""
    import os

    ident = []
    for rel in ("centroids", "codebook"):
        d = os.path.join(path, rel)
        if not os.path.isdir(d):
            return None
        with os.scandir(d) as entries:
            for ent in entries:
                st = ent.stat()
                ident.append((rel, ent.name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(ident))


def load_ann_geometry(spark: SparkSession, path: str):
    """``(coarse, codebook)`` of the stored index: the (C, dim) centroid
    matrix and the (M, K, dsub) PQ codebooks, as READ-ONLY numpy arrays.

    The two bounded relations are collected (two concurrent jobs, guide
    §2.6) the first time a path is opened, and reused while the
    identity of their part files (:func:`_geometry_identity`) is
    unchanged: a serving loop that reloads the index every pass, and
    every ingest sink started on it, collect nothing. The arrays are
    shared between callers, hence read-only."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    key = os.path.abspath(path)
    ident = _geometry_identity(path)
    with _GEOMETRY_LOCK:
        hit = _GEOMETRY_CACHE.get(key)
    if ident is not None and hit is not None and hit[0] == ident:
        return hit[1], hit[2]
    tagged = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        cent_fut = pool.submit(tagged(
            lambda: spark.read.schema(CENTROIDS_SCHEMA)
            .parquet(f"{path}/centroids").collect()
        ))
        cb_fut = pool.submit(tagged(
            lambda: spark.read.schema(CODEBOOK_SCHEMA)
            .parquet(f"{path}/codebook").collect()
        ))
        cent = sorted((r.cluster_id, r.centroid) for r in cent_fut.result())
        cbr = cb_fut.result()
    coarse = np.array([c for _, c in cent], dtype=np.float64)
    n_sub = max(r.subspace for r in cbr) + 1
    n_codes = max(r.code for r in cbr) + 1
    cb = np.empty((n_sub, n_codes, len(cbr[0].center)), dtype=np.float64)
    for r in cbr:
        cb[r.subspace][r.code] = r.center
    coarse.setflags(write=False)
    cb.setflags(write=False)
    if ident is not None:
        with _GEOMETRY_LOCK:
            _GEOMETRY_CACHE.pop(key, None)
            _GEOMETRY_CACHE[key] = (ident, coarse, cb)
            while len(_GEOMETRY_CACHE) > _GEOMETRY_CACHE_PATHS:
                del _GEOMETRY_CACHE[next(iter(_GEOMETRY_CACHE))]
    return coarse, cb


def load_ann_index(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> AnnIndex:
    """Geometry through :func:`load_ann_geometry` (two collects the
    first time a path is opened, none after); the data-sized codes
    relation stays a lazy DataFrame over declared schemas, with
    un-compacted tombstones anti-joined in. A repeated load of an
    unchanged index runs no Spark job."""
    coarse, cb = load_ann_geometry(spark, path)
    indexed = _read_codes(spark, path, id_col)
    tomb = _read_tombstones(spark, path, id_col)
    if tomb is not None:
        # un-compacted tombstones: exclude at load so every reader sees
        # delete semantics regardless of compaction cadence
        indexed = indexed.join(F.broadcast(tomb), id_col, "left_anti")
    return AnnIndex(coarse, cb, indexed, cb.shape[0] * cb.shape[2], id_col)


def encode_delta(
    index: AnnIndex,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode NEW vectors against the FROZEN geometry into code rows
    ``(id, codes, cluster_id)`` — the shared body of the batch
    :func:`add_to_ann_index` and the streaming ingest sink
    (streaming/ann_ingest.py). Both run
    :func:`~overpaint_spark.operators.quantization.ivfpq_encode`, the
    build's encoder too, so no ingest path can diverge from a build by
    a single code byte. One assign-and-encode pass over the new rows
    only."""
    from overpaint_spark.operators.quantization import ivfpq_encode

    return ivfpq_encode(
        new_vectors, index.coarse, index.codebook, index.id_col, vec_col
    )


def add_to_ann_index(
    index: AnnIndex,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    persist_path: str | None = None,
) -> AnnIndex:
    """FAISS ``add``: encode NEW vectors against the FROZEN coarse
    centroids and PQ codebooks (no retrain — the index geometry is
    immutable after build, exactly like a written FAISS index) and
    union their code rows into the inverted lists.

    Raw coding makes per-vector encode independent of every other
    vector, so an index grown incrementally is BIT-IDENTICAL to one
    built in a single pass over the union — provided the frozen
    geometry matches (the declared ``ann_topk_ivfpq_incremental``
    relation holds exactly that to the live query's SQL oracle). At
    100 TB this is the ingest cadence that makes a persisted index
    viable: a daily batch pays one assignment GEMM + one encode pass
    over the NEW rows only, never a rebuild.

    ``persist_path``: when given, the delta's code rows are ALSO
    appended to the stored index at that path (same
    repartition-by-cluster layout as :func:`persist_ann_index`;
    centroid/codebook relations are immutable and untouched), so a
    subsequent :func:`load_ann_index` sees the grown index."""
    delta = encode_delta(index, new_vectors, vec_col)
    if persist_path is not None:
        (
            delta.repartition(F.col("cluster_id"))
            .sortWithinPartitions("cluster_id", index.id_col)
            .write.mode("append")
            .parquet(f"{persist_path}/codes")
        )
    return AnnIndex(
        index.coarse,
        index.codebook,
        index.indexed.unionByName(delta),
        index.dim,
        index.id_col,
    )


def delete_from_ann_index(
    index: AnnIndex,
    ids: DataFrame,
    persist_path: str | None = None,
) -> AnnIndex:
    """Tombstone deletion — the Lucene/Milvus cadence, not FAISS's
    rewrite-the-lists ``remove_ids``: deleting from an immutable
    parquet index must not rewrite the data-sized codes relation, so
    the delete is an O(|ids|) tombstone append and search-side
    exclusion (a broadcast anti-join against the bounded tombstone
    set), amortized away by :func:`compact_ann_index` when the set has
    grown. ``ids`` is a one-column DataFrame of ``index.id_col``
    values, stored as ``long`` whatever their type (the declared
    :func:`tombstones_schema`); geometry (centroids/codebooks) is frozen
    and untouched — deletion changes the CANDIDATE set only."""
    tomb = ids.select(F.col(ids.columns[0]).cast("long").alias(index.id_col))
    if persist_path is not None:
        # repartition(1), not coalesce(1): the ids relation is usually a
        # driver-local list whose coalesce pays the serialized
        # ScalaReflection toll (localrel.py); the tombstone SET is
        # order-independent so the round-robin shuffle is safe
        tomb.repartition(1).write.mode("append").parquet(
            f"{persist_path}/tombstones"
        )
    return AnnIndex(
        index.coarse,
        index.codebook,
        index.indexed.join(F.broadcast(tomb), index.id_col, "left_anti"),
        index.dim,
        index.id_col,
    )


def compact_ann_index(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> None:
    """Fold the tombstone set AND the streamed ``codes_delta`` relation
    into the codes relation (one anti-join rewrite, re-laid-out by
    cluster like :func:`persist_ann_index`) and clear both — the
    compaction that bounds tombstone and delta growth. A no-op when
    neither exists (path-not-found only; a failed READ of either
    propagates rather than becoming a silent no-op).

    Concurrency (ADVICE r10): both mutable relations are moved aside
    into a staged GENERATION directory (``codes_delta_compacting/<g>``,
    ``tombstones_compacting/<g>``) BEFORE anything is read, and the
    fold reads only those frozen copies. A live ingest stream's next
    micro-batch therefore lands in a FRESH ``codes_delta`` (and a
    concurrent delete in a fresh ``tombstones``) that this compaction
    never reads or deletes — closing the window where a batch written
    after the fold's read was rmtree'd with the old directory. Readers
    (:func:`_read_codes` / :func:`_read_tombstones`) union the staged
    generations, so the visible corpus is unchanged while a compaction
    is in flight; generations left by a CRASHED fold stay visible and
    are folded by the next run.

    The swap is rename-aside (codes → codes_old, staged generations →
    ``*_old``, codes_compacted → codes, then delete the old copies): a
    crash at any step leaves a full copy of the codes relation on disk
    under one of the two names, and ``*_old`` leftovers are cleared at
    the next entry only once a ``codes`` directory proves the swap
    landed. Renames assume a local/POSIX filesystem (the same
    assumption the parquet `overwrite` staging itself makes on this
    deployment); an object-store deployment would swap via a manifest
    pointer instead.

    Every relation is read with its declared schema (``id_col`` names
    the id column, as in :func:`load_ann_index`), so an empty staged
    generation — a micro-batch that arrived with no rows — folds in as
    zero rows instead of failing schema inference."""
    import os
    import shutil
    import uuid

    # crash recovery (ADVICE r11): a crash between move(codes →
    # codes_old) and move(codes_compacted → codes) leaves the store
    # with no codes/ directory. Roll BACK to the pre-fold state:
    # codes_old plus the still-staged generations is a complete copy,
    # whereas codes_compacted may predate generations staged by a
    # LATER crashed run (each run stages before reading), so rolling
    # forward could silently drop those. The discarded fold is re-done
    # by this run from the restored inputs.
    if not os.path.isdir(f"{path}/codes"):
        if os.path.isdir(f"{path}/codes_old"):
            if os.path.isdir(f"{path}/codes_compacted"):
                shutil.rmtree(f"{path}/codes_compacted")
            for rel in ("codes_delta", "tombstones"):
                old = f"{path}/{rel}_old"
                if os.path.isdir(old):
                    stage = f"{path}/{rel}_compacting"
                    os.makedirs(stage, exist_ok=True)
                    for g in os.listdir(old):
                        shutil.move(f"{old}/{g}", f"{stage}/{g}")
                    shutil.rmtree(old)
            shutil.move(f"{path}/codes_old", f"{path}/codes")
        elif os.path.isdir(f"{path}/codes_compacted"):
            # unreachable under atomic POSIX rename (codes_old exists
            # whenever codes is gone), but the compacted copy is the
            # only full one left — promote it rather than fail
            shutil.move(f"{path}/codes_compacted", f"{path}/codes")

    # entry-time cleanup: *_old leftovers exist only if a prior run
    # crashed AFTER its codes swap landed (codes/ present ⇒ the swap
    # completed, so the leftovers are dead copies)
    if os.path.isdir(f"{path}/codes"):
        for left in ("codes_old", "codes_delta_old", "tombstones_old"):
            if os.path.isdir(f"{path}/{left}"):
                shutil.rmtree(f"{path}/{left}")

    # move aside FIRST — freeze this compaction's input generations
    gen = uuid.uuid4().hex[:8]
    for rel, stage in (
        ("codes_delta", "codes_delta_compacting"),
        ("tombstones", "tombstones_compacting"),
    ):
        if os.path.isdir(f"{path}/{rel}"):
            os.makedirs(f"{path}/{stage}", exist_ok=True)
            shutil.move(f"{path}/{rel}", f"{path}/{stage}/{gen}")
    delta_gens = _staged_generations(path, "codes_delta_compacting")
    tomb_gens = _staged_generations(path, "tombstones_compacting")
    if not delta_gens and not tomb_gens:
        return

    schema = codes_schema(id_col)
    kept = _union_existing(
        spark, spark.read.schema(schema).parquet(f"{path}/codes"), delta_gens, schema
    )
    tomb = _union_existing(spark, None, tomb_gens, tombstones_schema(id_col))
    if tomb is not None:
        kept = kept.join(F.broadcast(tomb), id_col, "left_anti")
    (
        kept.repartition(F.col("cluster_id"))
        .sortWithinPartitions("cluster_id", id_col)
        .write.mode("overwrite")
        .parquet(f"{path}/codes_compacted")
    )
    shutil.move(f"{path}/codes", f"{path}/codes_old")
    if delta_gens:
        shutil.move(
            f"{path}/codes_delta_compacting", f"{path}/codes_delta_old"
        )
    if tomb_gens:
        shutil.move(
            f"{path}/tombstones_compacting", f"{path}/tombstones_old"
        )
    shutil.move(f"{path}/codes_compacted", f"{path}/codes")
    for left in ("codes_old", "codes_delta_old", "tombstones_old"):
        if os.path.isdir(f"{path}/{left}"):
            shutil.rmtree(f"{path}/{left}")


def ann_index_stats(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> DataFrame:
    """Per-inverted-list health of a persisted index — the relation an
    operator reads BEFORE every maintenance decision (FAISS has no
    stored-stats equivalent; Lucene/Milvus expose segment stats for
    exactly this cadence): one row per cluster present in the codes
    relation, ``(cluster_id, n_codes, n_tombstoned, load_pml,
    mean_self_adc_dmm)``.

    - ``n_codes`` / ``n_tombstoned``: live vs tombstoned rows per list
      — the tombstone fraction is the COMPACTION trigger.
    - ``load_pml``: live rows as permille of the mean live list size
      (1000 = perfectly balanced) — inverted-list skew is the
      RE-TRAINING trigger: a hot list makes every probe that hits it
      scan-heavy, and probing can't fix geometry.
    - ``mean_self_adc_dmm``: mean ADC distance between each live
      vector's PQ code and ITS OWN coarse centroid, in half-up 1e-4
      units (the proven ROUND(dist, 4) stability domain of the search
      oracles), integer-divided per list — ASSIGNMENT DRIFT: rising
      self-distance means new data no longer resembles the frozen
      geometry. NULL for a fully-tombstoned list.

    Plan shape: the only data-sized input is one scan of the codes
    relation; the self-ADC LUT is C bounded rows (each cluster's
    centroid against the K×M codebook — the exact ``_pq_lut`` fold the
    live search broadcasts per query) broadcast-joined on cluster_id,
    the per-cluster aggregate map-side combines, and the balance
    window runs over the BOUNDED C-row relation. Thresholds →
    cadence mapping lives in DEPLOY.md."""
    import numpy as np

    from pyspark.sql.window import Window

    from overpaint_spark.operators.quantization import _adc_dist_expr, _pq_lut

    coarse, codebook = load_ann_geometry(spark, path)
    raw = _read_codes(spark, path, id_col)
    tomb = _read_tombstones(spark, path, id_col)
    n_sub = len(codebook)
    lut_rows = [
        (int(c), _pq_lut(np.asarray(coarse[c], dtype=np.float64), codebook))
        for c in range(len(coarse))
    ]
    lut_df = local_df(
        spark, lut_rows, "cluster_id int, lut array<array<double>>"
    )
    if tomb is not None:
        flagged = raw.join(
            F.broadcast(tomb.select(F.col(id_col)).withColumn("_tomb", F.lit(True))),
            id_col,
            "left",
        ).withColumn("_tomb", F.coalesce(F.col("_tomb"), F.lit(False)))
    else:
        flagged = raw.withColumn("_tomb", F.lit(False))
    dist = _adc_dist_expr(n_sub)
    dmm = F.floor(dist * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    per = (
        flagged.join(F.broadcast(lut_df), "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.count_if(~F.col("_tomb")).cast("bigint").alias("n_codes"),
            F.count_if(F.col("_tomb")).cast("bigint").alias("n_tombstoned"),
            F.sum(F.when(~F.col("_tomb"), dmm).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("_sum_dmm"),
        )
    )
    w = Window.partitionBy()  # C bounded rows — never data-sized
    return (
        per.withColumn("_n_lists", F.count("*").over(w).cast("bigint"))
        .withColumn("_total_live", F.sum("n_codes").over(w).cast("bigint"))
        .select(
            "cluster_id",
            "n_codes",
            "n_tombstoned",
            # exact integer division (div), never a double round-trip
            F.expr("(n_codes * 1000 * _n_lists) div _total_live").alias(
                "load_pml"
            ),
            F.when(
                F.col("n_codes") > 0, F.expr("_sum_dmm div n_codes")
            ).alias("mean_self_adc_dmm"),
        )
    )


def search_ann_index(
    index: AnnIndex,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe + ADC over the stored codes — the exact search body
    ivf_pq_topk runs live (quantization._ivfpq_search)."""
    from overpaint_spark.operators.quantization import _ivfpq_search

    spark = index.indexed.sparkSession
    q_rows = queries.select(index.id_col, vec_col).collect()
    return _ivfpq_search(
        spark, index.indexed, index.coarse, index.codebook, q_rows,
        n_probe, k, index.id_col,
    )
