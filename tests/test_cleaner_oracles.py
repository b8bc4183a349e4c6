"""The corpus-cleaner family against its DuckDB oracles, on the smoke
fixture and on an empty corpus. Every declared query must either match
its oracle on a degenerate input or fail with a named error; the empty
corpus is the degenerate input every cleaning stage meets first (a new
source, a filter upstream that drops everything)."""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from overpaint_spark import queries as Q

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
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
    want = con.sql(oracles[name]).df()
    assert compare(name, got, want) == []


def test_cleaner_pool_jobs_carry_callers_job_group(spark, sf_dir, untagged_jobs):
    """The LM model builds on a pool thread while the union-find pairs
    collect on the caller's; both must run in the caller's job group so
    the event log and a cluster UI attribute them to the query."""
    assert untagged_jobs(lambda: Q.QUERIES["corpus_clean_v2"](spark, sf_dir)) == []
