"""The foreachBatch sink contract (streaming/sink.py) on degenerate
inputs: a sink exists from construction, readers declare their schema,
and an empty micro-batch appends nothing and raises nothing.

The streaming witnesses run against 0-row and 1-row copies of the
smoke fixture (every table sliced with pyarrow), and each must match
its DuckDB oracle there, as it does on the full fixture."""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from overpaint_spark import queries as Q
from overpaint_spark.streaming.sink import read_sink, start_sink

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from oracle_check import compare  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DOCS = "doc_id long, text string"


@pytest.fixture(scope="module")
def sliced(sf_dir, tmp_path_factory):
    """``{n_rows: root}``: copies of the smoke fixture keeping the first
    0 or 1 rows of every table."""
    roots = {}
    for n in (0, 1):
        root = tmp_path_factory.mktemp(f"sf_rows{n}")
        for t in TABLES:
            table = pq.read_table(f"{sf_dir}/{t}.parquet")
            pq.write_table(table.slice(0, n), root / f"{t}.parquet")
        roots[n] = str(root)
    return roots


@pytest.fixture(scope="module")
def oracles():
    return Q.oracles()


def _assert_matches_oracle(spark, oracles, name, root):
    got = Q.QUERIES[name](spark, root).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
    assert compare(name, got, con.sql(oracles[name]).df()) == []


@pytest.mark.parametrize(
    "name",
    [
        "stream_rule_alerts",
        "stream_phash_admit",
        "stream_clean_admit",
        "stream_fk_quarantine",
        "stream_cdc_apply",
    ],
)
def test_witness_matches_oracle_on_empty_tables(spark, sliced, oracles, name):
    _assert_matches_oracle(spark, oracles, name, sliced[0])


@pytest.mark.parametrize("name", ["stream_rule_alerts", "stream_psi"])
def test_witness_matches_oracle_on_one_row_tables(spark, sliced, oracles, name):
    """One events row: one split of each witness arrives as an empty
    file. The alert sink appends the rules' metrics over zero rows
    for it; the PSI sink appends nothing for a batch with no value."""
    _assert_matches_oracle(spark, oracles, name, sliced[1])


def test_psi_witness_on_empty_reference_keeps_named_error(spark, sliced):
    with pytest.raises(ValueError, match="reference histogram is empty"):
        Q.QUERIES["stream_psi"](spark, sliced[0])


def test_sink_over_no_files_reads_as_zero_rows(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    stream = spark.readStream.schema(DOCS).parquet(str(src))
    q = start_sink(
        stream, lambda df, _: df, out, str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert read_sink(spark, out, DOCS).count() == 0


def _corpus(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence about data pipelines")],
        DOCS,
    )


def _clean(spark, stream, out, ckpt):
    from overpaint_spark.operators.lm import build_lm_model
    from overpaint_spark.streaming.clean import write_clean_stream

    corpus = _corpus(spark)
    return write_clean_stream(
        stream, corpus, build_lm_model(corpus, sample_mod=1), out, ckpt,
        trigger_available_now=True,
    )


def _dedup(spark, stream, out, ckpt):
    from overpaint_spark.streaming.dedup import write_incremental_dedup_stream

    return write_incremental_dedup_stream(
        stream, _corpus(spark), out, ckpt, trigger_available_now=True
    )


def _decontaminate(spark, stream, out, ckpt):
    from overpaint_spark.streaming.decontaminate import (
        write_decontaminate_stream,
    )

    return write_decontaminate_stream(
        stream, _corpus(spark), out, ckpt, trigger_available_now=True
    )


def _phash(spark, stream, out, ckpt):
    from overpaint_spark.operators.multimodal import image_phash
    from overpaint_spark.streaming.phash import write_phash_dedup_stream

    return write_phash_dedup_stream(
        stream, image_phash(_corpus(spark)), out, ckpt,
        trigger_available_now=True,
    )


def _fk(spark, stream, out, ckpt):
    from overpaint_spark.streaming.integrity import write_fk_gate_stream

    keys = spark.createDataFrame([(1,), (2,)], "doc_id long")
    return write_fk_gate_stream(
        stream, keys, out, ckpt, "doc_id", trigger_available_now=True
    )


GATES = {
    "clean": _clean,
    "dedup": _dedup,
    "decontaminate": _decontaminate,
    "phash": _phash,
    "fk": _fk,
}


@pytest.mark.parametrize("gate", sorted(GATES))
def test_empty_file_through_gate_appends_nothing(spark, tmp_path, gate):
    src = str(tmp_path / "src")
    spark.createDataFrame([], DOCS).coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    stream = spark.readStream.schema(DOCS).parquet(src)
    assert [f for f in os.listdir(src) if f.endswith(".parquet")]
    q = GATES[gate](spark, stream, out, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress] == [0]
    assert read_sink(spark, out, DOCS).count() == 0


def test_gate_batch_runs_only_the_gate_jobs(spark, tmp_path):
    """A non-empty micro-batch of the dedup gate runs exactly the jobs
    of a bare foreachBatch that applies the gate body to the same file:
    no emptiness probe rides along. Spark runs a micro-batch's jobs in
    the job group named by the query's run id."""
    from overpaint_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_flags,
    )
    from overpaint_spark.streaming.dedup import write_incremental_dedup_stream
    from overpaint_spark.streaming.sink import idempotent_append

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog"),
         (4, "an arriving document nobody has seen before")],
        DOCS,
    ).coalesce(1).write.parquet(src)
    corpus = _corpus(spark)
    hashes, bands = (h.localCheckpoint() for h in build_dedup_index(corpus))
    sc = spark.sparkContext

    def jobs(q) -> int:
        assert q.awaitTermination(120)
        assert q.exception() is None
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    def body(batch_df, batch_id):
        flags = incremental_dedup_flags(
            corpus, batch_df, existing_hashes=hashes, existing_bands=bands
        )
        admitted = flags.filter("admitted").select("doc_id")
        idempotent_append(
            batch_df.join(admitted, "doc_id", "left_semi"),
            batch_id, str(tmp_path / "bare"),
        )

    bare = (
        spark.readStream.schema(DOCS).parquet(src).writeStream
        .foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "bare_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    bare_jobs = jobs(bare)
    out = str(tmp_path / "out")
    gate = write_incremental_dedup_stream(
        spark.readStream.schema(DOCS).parquet(src), corpus, out,
        str(tmp_path / "ckpt"), trigger_available_now=True,
        existing_hashes=hashes, existing_bands=bands,
    )
    assert jobs(gate) == bare_jobs > 0
    assert [r.doc_id for r in read_sink(spark, out, DOCS).collect()] == [4]
