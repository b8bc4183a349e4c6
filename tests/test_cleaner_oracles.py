"""The corpus-cleaner family against its DuckDB oracles, on the smoke
fixture and on an empty corpus. Every declared query must either match
its oracle on a degenerate input or fail with a named error; the empty
corpus is the degenerate input every cleaning stage meets first (a new
source, a filter upstream that drops everything).

The same contract for the seeded ANN family (every query whose index
seeds from the lowest-id vectors, operators/similarity.id_prefix): the
oracle-backed ones match on the smoke fixture, and on an empty
embeddings table all of them raise the named seed error."""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from overpaint_spark import queries as Q
from overpaint_spark.operators.similarity import SEED_ERROR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from oracle_check import compare  # noqa: E402

CLEANERS = [
    "corpus_clean",
    "corpus_clean_v2",
    "corpus_clean_v3",
    "corpus_funnel",
    "corpus_pipeline",
    "text_lm_score",
]

SEEDED_ORACLED = [
    "ann_topk_ivf",
    "ann_ivf_probe_curve",
    "ann_topk_pq",
    "embedding_pq_codes",
    "ann_topk_ivfpq",
    "ann_topk_ivfpq_residual",
    "ann_ivfpq_recall",
    "semantic_dedup",
    "embedding_centroid_purity",
]
# rows-only by design: iterative training loops with no SQL form
SEEDED = SEEDED_ORACLED + ["ann_topk_opq", "ann_trained_recall"]


@pytest.fixture(scope="module")
def oracles():
    return Q.oracles()


@pytest.mark.parametrize("corpus", ["sf0.001", "empty"])
@pytest.mark.parametrize("name", CLEANERS)
def test_cleaner_matches_oracle(spark, sf_dir, tmp_path, oracles, name, corpus):
    root = sf_dir
    if corpus == "empty":
        docs = pq.read_table(f"{sf_dir}/documents.parquet")
        pq.write_table(docs.slice(0, 0), tmp_path / "documents.parquet")
        root = str(tmp_path)
    got = Q.QUERIES[name](spark, root).toPandas()
    assert compare(name, got, _oracle_rows(root, oracles[name])) == []


def _oracle_rows(root, sql):
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        if os.path.exists(f"{root}/{table}.parquet"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{root}/{table}.parquet'")
    return con.sql(sql).df()


@pytest.mark.parametrize("name", SEEDED_ORACLED)
def test_seeded_ann_matches_oracle(spark, sf_dir, oracles, name):
    got = Q.QUERIES[name](spark, sf_dir).toPandas()
    assert compare(name, got, _oracle_rows(sf_dir, oracles[name])) == []


@pytest.fixture(scope="module")
def empty_embeddings(sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_embeddings")
    vecs = pq.read_table(f"{sf_dir}/embeddings.parquet")
    pq.write_table(vecs.slice(0, 0), root / "embeddings.parquet")
    return str(root)


@pytest.mark.parametrize("name", SEEDED)
def test_seeded_ann_empty_raises_seed_error(spark, empty_embeddings, name):
    with pytest.raises(ValueError, match=SEED_ERROR):
        Q.QUERIES[name](spark, empty_embeddings).toPandas()


def test_cleaner_pool_jobs_carry_callers_job_group(spark, sf_dir, untagged_jobs):
    """The LM model builds on a pool thread while the union-find pairs
    collect on the caller's; both must run in the caller's job group so
    the event log and a cluster UI attribute them to the query."""
    assert untagged_jobs(lambda: Q.QUERIES["corpus_clean_v2"](spark, sf_dir)) == []
