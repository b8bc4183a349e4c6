"""Deduplication operators for large-scale document corpora.

Four families (SURVEY §7.4.1-2), all shuffle-conscious:

- **exact**: hash-groupBy on a content fingerprint — one shuffle on the
  hash key, map-side partial aggregation; the winner per group is the
  minimum doc_id (deterministic).
- **n-gram Jaccard**: inverted-index self-join — explode distinct
  shingles, join docs sharing a shingle, count intersections, compute
  Jaccard from per-doc shingle counts. Never forms the full cross
  product; the optional ``max_doc_freq`` cap drops stop-shingles whose
  posting lists would create quadratic bucket blowup (the standard
  trick at web scale).
- **MinHash + LSH**: per-doc signatures via md5-keyed min-hashing
  (computed in one codegen pass with higher-order functions — no
  explode, no shuffle), then banding: docs sharing any band hash become
  candidate pairs via an equi-join on (band_index, band_hash). The only
  shuffle is the band join, whose key cardinality is #docs × #bands.
- **SimHash**: 16-bit signs of marker-weighted word-hash sums; identical
  fingerprints (or fingerprints sharing a half-band) are near-dup
  candidates.

Everything is built-in-function-only and reproducible in SQL, so every
stage is oracle-checkable (the md5 hash family is the same in every
engine, unlike murmur3/xxhash — see functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from overpaint_spark.functions import text as TX


def _parallelize_input(docs: DataFrame) -> DataFrame:
    """Small-input rescue for the hash-heavy map stages.

    The shingle/md5 pipeline inherits the scan's partitioning, and a
    single-row-group Parquet file yields ONE partition — the heaviest
    map stage (explode + per-shingle md5) then runs on one core while 31
    idle. Repartition up to the session's parallelism only when the scan
    is under-split; a real 100 TB input already arrives with thousands
    of splits, so the guard makes this a no-op (no added exchange) at
    scale. Measured 3.4× on the LSH candidate pipeline at sf0.1 (one
    5k-doc file).

    The under-split probe reads ``inputFiles()`` — driver metadata the
    scan relation already holds — NOT ``rdd.getNumPartitions()``, which
    materializes a whole RDD conversion per plan build and cost ~1.5 s
    of first-run driver time per consumer (the round-2
    decontaminate_overlap bench regression). Non-scan inputs (no
    files, e.g. in-memory test frames) skip the rescue."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        return docs
    if 0 < n_files < target:
        return docs.repartition(target)
    return docs


def exact_dedup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Group identical texts: (text_hash, n_copies, keeper_id).

    Single hash-shuffle; at 100 TB hash first (16-byte key) rather than
    shuffling full document bodies as the group key.
    """
    return (
        docs.select(
            TX.md5_fingerprint(F.col(text_col)).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivor rows only (min-id winner per identical text)."""
    keepers = exact_dedup_groups(docs, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


# Web-scale default for the inverted-index join: a shingle appearing in
# more than this many docs is a stop-shingle whose df² posting-list
# self-join cost dwarfs its near-dup signal. Dropping it bounds the
# worst bucket at max_doc_freq² pairs regardless of corpus size.
DEFAULT_MAX_DOC_FREQ = 1000


def distinct_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, shingle) exploded and de-duplicated per doc.

    The ``.distinct()`` shuffle is deliberate: it materializes the
    posting relation as ONE exchange that every downstream consumer
    (sizes aggregate + both self-join sides) reuses via ReusedExchange.
    The shuffle-free alternative (``array_distinct`` before the explode)
    recomputes the whole shingle pipeline per consumer and measured
    ~60% slower end-to-end on the jaccard query.
    """
    return (
        _parallelize_input(docs)
        .select(F.col(id_col), F.explode(TX.shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by k-shingle Jaccard ≥ threshold.

    Inverted-index join: cost is Σ_shingle df(shingle)², not N².

    The posting relation carries ONLY (id, shingle): nothing expensive
    is projected after the explode. (Carrying ``size(shingles(...))``
    through the join looks cheaper on paper — no sizes joins — but
    CollapseProject re-inlines the whole shingle pipeline into the
    post-join projection, evaluating it once per *pair*: measured 40×
    slower.) Per-doc set sizes aggregate off the same materialized
    posting exchange; they join to the ~|pairs| aggregate output, which
    the optimizer broadcasts while small and shuffle-joins at scale —
    both fine because pair cardinality ≪ posting cardinality.

    ``max_doc_freq`` bounds the worst posting list at scale (drops
    stop-shingles whose df² blows up) and DEFAULTS ON
    (``DEFAULT_MAX_DOC_FREQ``): without it one stop-shingle's posting
    list goes quadratic on a web corpus. Pass ``None`` explicitly for
    exact semantics (oracle mode) — small corpora only.
    """
    sh = distinct_shingles(docs, id_col, text_col, k)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a_id", "b_id", "n_inter", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """(doc_id, sig_0..sig_{H-1}) MinHash signatures.

    Explode-once → H hashes per (doc, shingle) → groupBy-min: the shingle
    pipeline runs ONCE per doc (an all-HOF variant re-inlines it per
    component — measured 20× slower), the per-shingle work is H short
    md5s, and the single shuffle carries H×16 bytes per doc. Min over the
    distinct shingle set equals min over the multiset, so results match
    the per-list oracle exactly. Docs with < k words produce no shingles
    and come back with NULL signatures via the left join.

    Each md5 yields FOUR independent 32-bit components (8 hex chars each;
    fixed-width lowercase hex sorts identically to its numeric value), so
    H hashes cost ceil(H/4) md5 calls per shingle — 4× less hashing for
    the same signature family size.
    """
    return docs.select(id_col).join(
        _minhash_signatures_inner(docs, id_col, text_col, k, num_hashes),
        id_col,
        "left",
    )


def _minhash_signatures_inner(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Signatures for docs that HAVE shingles (≥ k words) — the shared
    core. Callers that drop NULL-signature docs anyway (the LSH band
    join) use this directly and skip a docs-sized join. Pass ``postings``
    (a (id, shingle) relation) to share an already-materialized shingle
    exchange with other pipeline stages."""
    n_md5 = (num_hashes + 3) // 4
    sh = postings if postings is not None else _parallelize_input(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(TX.shingles(F.col(text_col), k))).alias("shingle"),
    )
    hashed = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle")).cast("binary")).alias(f"h_{g}")
            for g in range(n_md5)
        ],
    )
    comps = hashed.select(
        F.col(id_col),
        *[
            F.substring(f"h_{s // 4}", (s % 4) * 8 + 1, 8).alias(f"c_{s}")
            for s in range(num_hashes)
        ],
    )
    return comps.groupBy(id_col).agg(
        *[F.min(f"c_{s}").alias(f"sig_{s}") for s in range(num_hashes)]
    )


def lsh_band_relation(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash) — each doc's LSH bucket keys, one row
    per band. The self-join form (:func:`lsh_candidate_pairs`) and the
    cross-corpus form (:func:`incremental_dedup_flags`) both join this
    relation on (band_idx, band_hash); in a production pipeline the
    existing-corpus side is a PERSISTED index bucketed on those keys, so
    each increment joins against it with zero existing-side recompute."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    # inner signatures: docs with no shingles would only produce NULL
    # band hashes (filtered below anyway), so the NULL-completing docs
    # join in minhash_signatures is skipped — one less shuffle
    sig = _minhash_signatures_inner(docs, id_col, text_col, k, num_hashes, postings)

    def band_hash(bi: int):
        # NULL-propagating concat (NOT concat_ws): a doc with no shingles
        # has NULL signatures and must land in no bucket, matching the
        # SQL oracle where `NULL || x` is NULL.
        parts: list = []
        for r in range(rows):
            if r:
                parts.append(F.lit("|"))
            parts.append(F.col(f"sig_{bi * rows + r}"))
        return F.md5(F.concat(*parts).cast("binary"))

    band_cols = [
        F.struct(F.lit(bi).alias("band_idx"), band_hash(bi).alias("band_hash"))
        for bi in range(bands)
    ]
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band"))
        .select(id_col, "band.band_idx", "band.band_hash")
        .filter(F.col("band_hash").isNotNull())
    )


def build_dedup_index(
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """The persistable existing-corpus side of the incremental gate:
    (content-hash relation, band-key relation). Build once per corpus
    version, write with :func:`persist_dedup_index`, and every daily
    increment probes the stored index — the corpus text is never
    re-shingled again (the cost model the gate's docstring promises).
    Both relations are tiny next to the corpus: 16 B/doc of hashes and
    one (band_idx, 16 B) row per band per doc."""
    hashes = existing.select(F.md5(F.col(text_col)).alias("chash")).distinct()
    band_keys = lsh_band_relation(
        existing, id_col, text_col, k, num_hashes, bands
    ).select("band_idx", "band_hash").distinct()
    return hashes, band_keys


def persist_dedup_index(
    existing: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> None:
    """Materialize the index at ``path`` (``hashes/`` + ``bands/``
    parquet; bands repartitioned on the join key so the daily probe
    shuffles only the increment side)."""
    hashes, band_keys = build_dedup_index(
        existing, id_col, text_col, k, num_hashes, bands
    )
    hashes.repartition("chash").write.mode("overwrite").parquet(f"{path}/hashes")
    band_keys.repartition("band_idx", "band_hash").write.mode("overwrite").parquet(
        f"{path}/bands"
    )


#: declared schemas of the persisted dedup index's two relations
DEDUP_HASHES_SCHEMA = "chash string"
DEDUP_BANDS_SCHEMA = "band_idx int, band_hash string"


def load_dedup_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """The ``(hashes, bands)`` pair :func:`persist_dedup_index` wrote,
    read with the schemas it writes — opening the index runs no Spark
    job (an inferred read would run one footer job per relation)."""
    return (
        spark.read.schema(DEDUP_HASHES_SCHEMA).parquet(f"{path}/hashes"),
        spark.read.schema(DEDUP_BANDS_SCHEMA).parquet(f"{path}/bands"),
    )


def incremental_dedup_flags(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    existing_hashes: DataFrame | None = None,
    existing_bands: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus incremental dedup: flag each INCOMING doc that
    duplicates the EXISTING corpus — the daily-increment admission gate
    of a living training corpus (a self-dedup of old+new would re-pay
    the whole corpus every day; this pays only |increment| + the index
    probe).

    - ``is_exact_dup``: the incoming content hash exists in the corpus —
      a 16-byte-key left-semi join, bodies never shuffled.
    - ``is_near_dup``: an incoming LSH band key collides with any
      existing doc's band key — an equi-join on (band_idx, band_hash)
      against the existing band index (persistable/bucketed at scale).
    - ``admitted``: neither.

    Output: (id, is_exact_dup, is_near_dup, admitted), one row per
    incoming doc.

    ``existing_hashes`` / ``existing_bands``: a prebuilt (optionally
    persisted+reloaded) :func:`build_dedup_index` pair — when given,
    the existing corpus' text is never touched, which is the intended
    production shape (cost ∝ |increment| + index probe). When omitted,
    the index is derived inline from ``existing`` (fixture/test
    convenience); equivalence of the two paths is pinned in
    tests/test_dedup.py.
    """
    in_hash = incoming.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("chash")
    )
    ex_hash = (
        existing_hashes
        if existing_hashes is not None
        else existing.select(F.md5(F.col(text_col)).alias("chash")).distinct()
    )
    exact = (
        in_hash.join(ex_hash, "chash", "left_semi")
        .select(id_col)
        .withColumn("is_exact_dup", F.lit(True))
    )
    in_bands = lsh_band_relation(incoming, id_col, text_col, k, num_hashes, bands)
    ex_bands = (
        existing_bands.select("band_idx", "band_hash")
        if existing_bands is not None
        else lsh_band_relation(
            existing, id_col, text_col, k, num_hashes, bands
        ).select("band_idx", "band_hash")
    )
    near = (
        in_bands.join(ex_bands, ["band_idx", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        incoming.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("is_exact_dup"), F.lit(False)).alias("is_exact_dup"),
            F.coalesce(F.col("is_near_dup"), F.lit(False)).alias("is_near_dup"),
            (
                ~(F.coalesce(F.col("is_exact_dup"), F.lit(False))
                  | F.coalesce(F.col("is_near_dup"), F.lit(False)))
            ).alias("admitted"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    postings: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs agreeing on all rows of ≥1 band.

    rows_per_band = num_hashes // bands. Collision probability for docs
    with Jaccard s is 1-(1-s^rows)^bands — with 12 hashes × 4 bands × 3
    rows, s=0.8 fires with p≈0.94, s=0.2 with p≈0.03.
    """
    banded = lsh_band_relation(
        docs, id_col, text_col, k, num_hashes, bands, postings
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def lsh_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The full LSH dedup pipeline: banded MinHash candidates VERIFIED by
    exact Jaccard ≥ threshold — candidates (N·bands shuffle keys) instead
    of N² comparisons, then the exact measure only on the candidate set.

    Output: (a_id, b_id, jaccard). This is the shape that scales: the
    verify join touches |candidates| + 2·|docs| rows, and the shingle
    sets needed for verification are recomputed only for candidate rows
    via a semi-join-pruned explode.
    """
    sh = distinct_shingles(docs, id_col, text_col, k)
    # candidates consume the same materialized posting exchange the
    # verify stage uses — the shingle pipeline runs once for the whole
    # candidates+verify DAG
    cand = lsh_candidate_pairs(
        docs, id_col, text_col, k, num_hashes, bands, postings=sh
    )
    # prune postings to docs that appear in any candidate pair before the
    # intersection join (left_semi keeps the explode output small)
    members = (
        cand.select(F.col("a_id").alias(id_col))
        .union(cand.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    sh = sh.join(members, id_col, "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh.select(F.col(id_col).alias("b_id"), "shingle")
    inter = (
        cand.join(a, "a_id")
        .join(b, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a_id", "b_id", "jaccard")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (a_id, b_id,
    cosine_sim) for every a<b pair with similarity ≥ threshold.

    Norms are precomputed per side so the join stage does one fold per
    pair. This is the exact O(N²) reference (oracle mode) that the
    declared block-GEMM path, :func:`embedding_near_dup_pairs_blocked`,
    is tested against; at corpus scale use the within-cluster SemDeDup
    search (operators/semantic.py).
    """
    from overpaint_spark.functions import vectors as V

    def prep(prefix: str) -> DataFrame:
        vec = V.as_double(F.col(vec_col))
        return emb.select(
            F.col(id_col).alias(f"{prefix}_id"),
            vec.alias(f"{prefix}_vec"),
            V.norm(vec).alias(f"{prefix}_norm"),
        )

    a, b = prep("a"), prep("b")
    sim = V.cosine(F.col("a_vec"), F.col("b_vec"), F.col("a_norm"), F.col("b_norm"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(threshold))
    )


def embedding_near_dup_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via distributed block GEMM.

    Block nested-loop in DataFrame form: each vector is assigned a block
    (crc32 of its id mod ``n_blocks``) and replicated to every block
    *pair* it participates in (B replicas per row — one explode, one
    shuffle of N·B (id, vec) rows). Each of the B(B+1)/2 groups then
    holds exactly the two blocks of one pair and scores them with one
    BLAS GEMM inside ``applyInPandas``; a pair of distinct vectors lands
    in exactly one group, so the output is the exact all-pairs result —
    no driver ``collect()``, no task-closure matrix, executor memory
    bounded at 2·N/B vectors per task regardless of total N. Raise
    ``n_blocks`` with corpus size (memory/row-count per task scales as
    1/B; replication cost as B). Same output schema as
    :func:`embedding_near_dup_pairs`, so the variants are drop-in
    interchangeable; exact all-pairs work is inherently O(N²) — beyond
    that budget use the within-cluster SemDeDup search
    (operators/semantic.py).
    """
    import numpy as np
    import pandas as pd

    from overpaint_spark.functions import vectors as V

    blk = F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_blocks))
    pair_structs = [
        F.struct(
            F.least(F.col("_blk"), F.lit(j)).alias("bi"),
            F.greatest(F.col("_blk"), F.lit(j)).alias("bj"),
        )
        for j in range(n_blocks)
    ]
    replicated = (
        emb.select(
            F.col(id_col).alias("_id"),
            V.as_double(F.col(vec_col)).alias("_vec"),
            blk.alias("_blk"),
        )
        .select("*", F.explode(F.array(*pair_structs)).alias("_bp"))
        .select("_id", "_vec", "_blk", F.col("_bp.bi").alias("_bi"), F.col("_bp.bj").alias("_bj"))
    )

    out_schema = "a_id long, b_id long, cosine_sim double"
    empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine_sim": []})

    def gemm(key, pdf):
        bi, bj = key
        left = pdf[pdf["_blk"] == bi]
        right = pdf[pdf["_blk"] == bj]
        if left.empty or right.empty:
            return empty
        ids_l = left["_id"].to_numpy(dtype=np.int64)
        ids_r = right["_id"].to_numpy(dtype=np.int64)
        mat_l = np.array(list(left["_vec"]), dtype=np.float64)
        mat_r = np.array(list(right["_vec"]), dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = (mat_l @ mat_r.T) / (
                np.linalg.norm(mat_l, axis=1)[:, None] * np.linalg.norm(mat_r, axis=1)[None, :]
            )
        np.nan_to_num(sims, nan=-1.0, copy=False)  # zero-norm vectors
        mask = sims >= threshold
        if bi == bj:
            mask &= ids_l[:, None] < ids_r[None, :]
        li, ri = np.nonzero(mask)
        if not len(li):
            return empty
        return pd.DataFrame(
            {
                "a_id": np.minimum(ids_l[li], ids_r[ri]),
                "b_id": np.maximum(ids_l[li], ids_r[ri]),
                "cosine_sim": sims[li, ri],
            }
        )

    return replicated.groupBy("_bi", "_bj").applyInPandas(gemm, out_schema)


SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over the distinct 3-shingle set.

    Bit j is the sign of Σ_features ±1, where the ±1 is the high bit of
    hex digit j of md5(f)||md5('1:'||f) (two md5s = 64 hex digits = 64
    independent sign bits). Computed as one explode + groupBy (scales to
    arbitrarily long docs; the per-feature hashes are computed once, not
    64×). Features are k=3 shingles — the same family the Jaccard and
    MinHash dedups use — NOT unigrams: docs from a shared vocabulary
    have near-identical word *sets* even when their text differs, which
    correlates every unigram fingerprint and turns the band join
    near-quadratic; shingle sets only overlap for genuinely similar
    text. 64 bits — not fewer — so the band join below has enough
    bucket entropy at corpus scale. Docs with < 3 words have no
    shingles and produce no fingerprint row (the SQL twin filters the
    same way).
    """
    w = (
        _parallelize_input(docs)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(TX.shingles(F.col(text_col), 3))).alias("w"),
        )
        .withColumn(
            "h",
            F.concat(
                F.md5(F.col("w").cast("binary")),
                F.md5(F.concat(F.lit("1:"), F.col("w")).cast("binary")),
            ),
        )
    )
    bit_sums = w.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring("h", j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)
            ).alias(f"s_{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bits = [F.when(F.col(f"s_{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(SIMHASH_BITS)]
    return bit_sums.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs whose SimHash agrees on at least one 16-bit band (≤48-bit
    Hamming distance guaranteed; exact distance re-checked in the output).

    Banding a fingerprint is the classic Hamming-LSH: a join per band on
    a 16-bit key — 65,536 buckets per band, so E[candidate pairs] ≈
    bands·N²/2¹⁶ per uniform band instead of the near-cartesian N²/2⁸
    a 16-bit fingerprint with 8-bit halves produced (measured 31% of all
    pairs at 500 docs — a cartesian in disguise at corpus scale).
    """
    fp = simhash_fingerprints(docs, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(i).alias("half_idx"),
            F.substring("simhash", i * SIMHASH_BAND_BITS + 1, SIMHASH_BAND_BITS).alias("half"),
        )
        for i in range(SIMHASH_BANDS)
    ]
    halves = fp.select(
        id_col,
        "simhash",
        F.explode(F.array(*band_structs)).alias("b"),
    ).select(id_col, "simhash", "b.half_idx", "b.half")
    a, b = halves.alias("a"), halves.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.half_idx") == F.col("b.half_idx"))
            & (F.col("a.half") == F.col("b.half"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    # exact Hamming distance over the 16-char bitstrings
    ham = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.substring("sim_a", j + 1, 1) != F.substring("sim_b", j + 1, 1), 1).otherwise(0)
        ham = term if ham is None else ham + term
    return pairs.select("a_id", "b_id", ham.alias("hamming"))
