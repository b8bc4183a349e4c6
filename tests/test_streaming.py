"""Structured Streaming tests: file-source stream over the events
fixture, availableNow trigger, memory sink; results compared against the
batch twins."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from overpaint_spark.rules import in_range, row_count_at_least
from overpaint_spark.sources.catalog import load_table
from overpaint_spark.streaming import (
    read_events_stream,
    streaming_profile,
    streaming_rule_metrics,
    streaming_sessionize,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Re-materialize the events fixture as a plain timestamp parquet dir
    (the ns-timestamp original needs the loader's conversion, and a file
    stream needs a directory source)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "sess" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_profile_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    _run_stream(streaming_profile(stream), "prof")
    got = {r.window_start: r for r in spark.sql("select * from prof").collect()}

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("mn"), F.max("value").alias("mx"))
    )
    for r in batch.collect():
        s = got[r.w.start]
        assert (s.n_rows, s.min_value, s.max_value) == (r.n, r.mn, r.mx)


def test_streaming_rules(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    out = streaming_rule_metrics(stream, [in_range("value", 0.0, 1000.0), row_count_at_least(1)])
    _run_stream(out, "rules")
    rows = spark.sql("select * from rules").collect()
    assert len(rows) > 0
    by_rule = {r.rule_name for r in rows}
    assert by_rule == {"in_range", "row_count"}
    assert all(r.passed for r in rows if r.rule_name == "in_range")


@pytest.mark.slow
def test_streaming_sessionize_closed_sessions(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    _run_stream(streaming_sessionize(stream), "sess")
    rows = spark.sql("select * from sess").collect()
    # sessions closed by a later event within the single availableNow batch;
    # the per-user final (still-open) session is withheld until timeout —
    # so expect batch_sessions - n_users rows
    batch_sessions = 946  # q_events_sessionize at sf0.001 (oracle-checked)
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert len(rows) == batch_sessions - n_users
    assert all(r.session_end >= r.session_start and r.n_events > 0 for r in rows)


@pytest.mark.slow
def test_watermark_drops_late_rows(spark):
    """Three file drops processed as separate micro-batches: once the
    09:00 window is finalized (emitted + evicted), a later drop's row
    falling into it is discarded — it neither resurrects the window nor
    produces a duplicate append row."""
    import datetime as dt
    import shutil
    import tempfile
    import time as _time

    from overpaint_spark.streaming.stream_profile import EVENTS_SCHEMA

    def ev(eid, ts):
        return (eid, dt.datetime.fromisoformat(ts), 1, "view", 1.0, "{}")

    d = tempfile.mkdtemp(prefix="late_events_")
    try:
        drops = [
            [ev(1, "2024-01-01 09:10:00"), ev(2, "2024-01-01 13:50:00")],  # wm → 11:50
            [ev(4, "2024-01-01 14:10:00")],   # finalizes + evicts the 09:00 window
            [ev(3, "2024-01-01 09:20:00")],   # behind the watermark → dropped
        ]
        for rows in drops:
            spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            _time.sleep(1.2)  # distinct mtimes → stable file order

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        out = streaming_profile(stream)  # 1h windows, 2h watermark
        q = (
            out.writeStream.format("memory")
            .queryName("late_wm")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        collected = spark.sql("select * from late_wm").collect()
        nine = dt.datetime.fromisoformat("2024-01-01 09:00:00")
        nine_rows = [r for r in collected if r.window_start == nine]
        assert len(nine_rows) == 1, collected
        assert nine_rows[0].n_rows == 1, collected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_metrics_parquet_sink(spark, events_dir, tmp_path):
    """Windowed rule metrics land in the checkpointed Parquet sink
    (append mode → only watermark-finalized windows are written)."""
    from overpaint_spark.streaming import write_metrics_stream

    stream = read_events_stream(spark, events_dir)
    metrics = streaming_rule_metrics(stream, [in_range("value", 0.0, 1000.0)])
    q = write_metrics_stream(
        metrics, str(tmp_path / "metrics"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "metrics"))
    rows = out.collect()
    assert len(rows) > 0
    assert {r.rule_name for r in rows} == {"in_range"}
    assert all(r.passed for r in rows)


def test_streaming_exact_dedup(spark, events_dir, tmp_path):
    """Duplicate drops of the same keys collapse to one emission per key;
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    from overpaint_spark.streaming import streaming_exact_dedup

    d = str(tmp_path / "dup_events")
    base = spark.read.parquet(events_dir).limit(200)
    base.write.mode("append").parquet(d)
    base.write.mode("append").parquet(d)  # full replay of the same rows

    stream = spark.readStream.schema(base.schema).parquet(d)
    out = streaming_exact_dedup(stream, ["event_id"], watermark="10 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_ev")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select event_id from dedup_ev").collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids))
    assert set(ids) == {r.event_id for r in base.select("event_id").collect()}


def test_streaming_content_dedup(spark, tmp_path):
    """Rows with distinct ids but identical normalized text collapse."""
    import datetime as dt

    from pyspark.sql import types as T

    from overpaint_spark.streaming import streaming_content_dedup

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    t0 = dt.datetime.fromisoformat("2024-01-01 00:00:00")
    rows = [
        (1, t0, "The quick brown fox"),
        (2, t0, "  the   QUICK brown fox "),   # same after normalization
        (3, t0, "an entirely different doc"),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    out = streaming_content_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_doc")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select doc_id, content_fp from dedup_doc").collect()
    assert len(got) == 2
    assert len({r.content_fp for r in got}) == 2
    assert 3 in {r.doc_id for r in got}


def test_streaming_interval_attribution(spark, events_dir):
    """Stream-stream interval join matches the batch interval join on the
    same data (every purchase × same-user click within 1 hour before)."""
    from overpaint_spark.streaming import (
        read_events_stream,
        streaming_interval_attribution,
    )

    stream = read_events_stream(spark, events_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    out = streaming_interval_attribution(
        purchases, clicks, max_lag="1 hour", watermark="10 days"
    )
    q = (
        out.writeStream.format("memory").queryName("attr")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.click_id, r.lag_us)
        for r in spark.sql("select purchase_id, click_id, lag_us from attr").collect()
    }

    # batch twin: plain interval join on the same fixture
    e = spark.read.parquet(events_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    want = {
        (r.purchase_id, r.click_id, r.lag_us)
        for r in p.join(
            c,
            (p.user_id == c.c_user_id)
            & (c.click_ts <= p.purchase_ts)
            & (c.click_ts >= p.purchase_ts - F.expr("INTERVAL 1 hour")),
        )
        .select(
            "purchase_id", "click_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
        )
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_rule_alerts(spark, events_dir, tmp_path):
    """foreachBatch alert sink: per-batch rule evaluation, violations
    appended with batch provenance; passing rules excluded by default."""
    from overpaint_spark.rules import in_range, row_count_at_least
    from overpaint_spark.streaming import (
        read_events_stream,
        write_rule_alerts_stream,
    )

    stream = read_events_stream(spark, events_dir)
    alert_dir = str(tmp_path / "alerts")
    q = write_rule_alerts_stream(
        stream,
        # value <= 50 fails on the fixture; row count passes
        [in_range("value", 0.0, 50.0), row_count_at_least(1)],
        alert_dir,
        str(tmp_path / "ckpt"),
        table_name="events",
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    alerts = spark.read.parquet(alert_dir).collect()
    assert len(alerts) >= 1
    assert {r.rule_name for r in alerts} == {"in_range"}  # passes excluded
    assert all(not r.passed for r in alerts)
    assert all(r.table_name == "events" for r in alerts)
    assert all(r.batch_id >= 0 for r in alerts)


def test_streaming_drift_monitor(spark, events_dir, tmp_path):
    """Per-batch PSI vs a frozen baseline: a stream of the SAME data is
    stable (PSI ≈ 0); a location-shifted stream lands in 'action'."""
    from overpaint_spark.rules.psi import histogram
    from overpaint_spark.streaming import read_events_stream, write_psi_stream
    from overpaint_spark.streaming.drift import PSI_SCHEMA
    from overpaint_spark.streaming.sink import read_sink

    baseline = spark.read.parquet(events_dir)
    base_hist = histogram(baseline, "value", 0.0, 200.0, 10)

    def monitor(src: str, name: str) -> list:
        q = write_psi_stream(
            read_events_stream(spark, src),
            base_hist,
            str(tmp_path / name),
            str(tmp_path / f"ckpt_{name}"),
            column="value", lo=0.0, hi=200.0, n_bins=10,
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        return read_sink(spark, str(tmp_path / name), PSI_SCHEMA).collect()

    # same distribution → stable
    rows = monitor(events_dir, "drift_same")
    assert len(rows) >= 1
    assert all(r.band == "stable" and r.psi_ppm < 10_000 for r in rows)
    assert sum(r.n_rows for r in rows) == baseline.count()

    # shifted distribution (value + 150 pushes mass into overflow) → action
    shift_dir = str(tmp_path / "events_shifted")
    baseline.withColumn("value", F.col("value") + 150.0).write.parquet(shift_dir)
    shifted = monitor(shift_dir, "drift_shift")
    assert len(shifted) >= 1
    assert all(r.band == "action" and r.psi_ppm > 250_000 for r in shifted)


@pytest.mark.slow
def test_streaming_top_tokens_matches_batch(spark, tmp_path):
    """Stateful streaming top-k: documents arrive in TWO micro-batches
    (maxFilesPerTrigger=1), per-bucket Misra-Gries state merges across
    them, and the latest snapshot equals the exact batch leaderboard —
    proving state survives and accumulates between triggers."""
    from overpaint_spark.operators.heavyhitters import approx_top_tokens
    from overpaint_spark.sources.catalog import load_table
    from overpaint_spark.streaming.topk import streaming_top_tokens, top_k_snapshot

    docs = load_table(spark, f"{SF}/documents.parquet").select("doc_id", "text")
    d = str(tmp_path / "docs_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = streaming_top_tokens(stream, n_buckets=8, capacity=100_000, emit_k=25)
    q = (
        out.writeStream.format("memory").queryName("toptok")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    sink = spark.sql("select * from toptok")
    # two micro-batches → at least one bucket reached version 2
    assert sink.agg(F.max("version")).collect()[0][0] == 2
    got = [(r.token, r.n) for r in top_k_snapshot(sink, 25).collect()]
    want = [(r.token, r.n) for r in approx_top_tokens(docs, k=25).collect()]
    assert got == want


def test_stream_static_enrichment(spark, events_dir):
    """Stream-static join: a streaming fact enriched against a static
    dimension (broadcast per micro-batch, no streaming state at all) —
    the third join shape next to stream-stream and batch joins. Result
    matches the batch join exactly."""
    from overpaint_spark.sources.catalog import load_table
    from overpaint_spark.streaming import read_events_stream

    dim = (
        load_table(spark, f"{SF}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = read_events_stream(spark, events_dir)
    enriched = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        enriched.writeStream.format("memory").queryName("enrich")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r.c_mktsegment: r.n_events
        for r in spark.sql("select * from enrich").collect()
    }
    want = {
        r.c_mktsegment: r.n_events
        for r in spark.read.parquet(events_dir)
        .join(dim, "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want and sum(got.values()) == 1000


def test_corpus_intake_gate(spark, tmp_path):
    """The composed ingest gate: redaction counts on ORIGINAL text,
    quality gate on redacted text, duplicate collapsed within the
    watermark, low-quality row dropped."""
    import datetime as dt

    from overpaint_spark.streaming.corpus import corpus_intake_gate

    schema = "doc_id long, ts timestamp, text string"
    good = (
        "the quick brown fox jumps over the lazy dog and then the customer "
        "walks in with a question about the order that was placed last week "
        "and everyone is quite happy about it because the answer is simple"
    )
    t0 = dt.datetime.fromisoformat("2024-01-01 00:00:00")
    rows = [
        (1, t0, good),                                   # kept
        (2, t0 + dt.timedelta(minutes=5), good),         # dup → collapsed
        (3, t0 + dt.timedelta(minutes=6), "!!! ??? ..."),  # low quality → dropped
    ]
    d = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)

    stream = spark.readStream.schema(schema).parquet(d)
    out = corpus_intake_gate(stream, quality_threshold=0.4, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("intake")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from intake").collect()
    # dropDuplicatesWithinWatermark guarantees exactly ONE of the two
    # identical docs survives but not WHICH (no intra-batch ordering
    # contract) — assert the invariant, then check redaction/quality on
    # whichever survived
    assert len(got) == 1
    (r,) = got
    assert r.doc_id in (1, 2)
    assert r.n_entity == 1 and "<entity>" in r.text and "customer" not in r.text
    assert r.quality_score >= 0.4


@pytest.mark.slow
def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """foreachBatch admission gate vs the batch twin: fixture docs with
    doc_id % 5 == 0 arrive as a TWO-micro-batch stream and are gated
    against the static rest-of-corpus; the admitted set must equal the
    batch incremental_dedup_flags decision exactly."""
    from overpaint_spark.operators.dedup import incremental_dedup_flags
    from overpaint_spark.sources.catalog import load_table
    from overpaint_spark.streaming.dedup import write_incremental_dedup_stream

    docs = load_table(spark, f"{SF}/documents.parquet").select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)

    d = str(tmp_path / "incoming_stream")
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out_dir = str(tmp_path / "admitted")
    q = write_incremental_dedup_stream(
        stream, existing, out_dir, str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)

    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    want = sorted(
        r.doc_id
        for r in incremental_dedup_flags(existing, incoming)
        .filter(F.col("admitted"))
        .collect()
    )
    assert got == want and len(got) > 0
    # something must have been rejected for the gate to be exercised
    assert len(got) < incoming.count()


@pytest.mark.slow
def test_streaming_quantize_matches_batch(spark, tmp_path):
    """Stateless streaming SQ8 encode against FROZEN reference bounds:
    fixture embeddings arrive as a two-micro-batch stream; codes must
    equal the batch scalar_quantize output row-for-row (same IEEE-exact
    expression, bounds collected once from the same corpus), and a
    drifted out-of-range vector must clamp to 0/255 instead of leaving
    the int8 code range."""
    from overpaint_spark.operators.quantization import scalar_quantize
    from overpaint_spark.streaming.quantize import frozen_bounds, quantize_stream

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    mins, maxs = frozen_bounds(e, dim=64)

    d = str(tmp_path / "vec_stream")
    e.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(d)
    e.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out_dir = str(tmp_path / "codes")
    q = (
        quantize_stream(stream, mins, maxs)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {r.vec_id: list(r.codes) for r in spark.read.parquet(out_dir).collect()}
    want = {r.vec_id: list(r.codes) for r in scalar_quantize(e, dim=64).collect()}
    assert got == want and len(got) == e.count()

    # drift clamp: a vector 10x outside the frozen bounds stays in range
    drifted = spark.createDataFrame(
        [(999999, [10.0] * 64)], "vec_id long, embedding array<float>"
    )
    codes = quantize_stream(drifted, mins, maxs).collect()[0].codes
    assert all(0 <= c <= 255 for c in codes)
    assert max(codes) == 255


def test_sessionize_late_event_never_moves_session_backwards():
    """Cross-batch late arrivals: an in-gap late event widens the open
    session (start shrinks, `last` never decreases); an older-than-reach
    late event becomes its own closed singleton. No emitted session may
    end before it starts (the pre-fix behavior emitted end < start)."""
    import pandas as pd

    from overpaint_spark.streaming import sessionize as SZ

    class FakeState:
        def __init__(self):
            self._v, self.hasTimedOut = None, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            pass

    def run_batch(state, ts_list):
        pdf = pd.DataFrame({"ts": pd.to_datetime(ts_list)})
        return list(SZ._sessionize_group((1,), [pdf], state))

    st = FakeState()
    # batch 1: one event at 10:00
    assert run_batch(st, ["2024-01-01 10:00:00"]) == []
    # batch 2: late 09:45 (in gap — widens session), then 10:29 (in gap)
    out = run_batch(st, ["2024-01-01 09:45:00", "2024-01-01 10:29:00"])
    assert out == []  # still one open session, nothing closed
    start, last, n = st.get
    assert n == 3
    assert pd.Timestamp(start, unit="us") == pd.Timestamp("2024-01-01 09:45:00")
    assert pd.Timestamp(last, unit="us") == pd.Timestamp("2024-01-01 10:29:00")
    # batch 3: 08:00 is older than the session's reach → closed singleton
    out = run_batch(st, ["2024-01-01 08:00:00"])
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row.session_start == row.session_end == pd.Timestamp("2024-01-01 08:00:00")
    assert row.n_events == 1
    # every emitted session must satisfy end >= start by construction
    # batch 4: 11:30 closes the widened session
    out = run_batch(st, ["2024-01-01 11:30:00"])
    row = out[0].iloc[0]
    assert row.session_start == pd.Timestamp("2024-01-01 09:45:00")
    assert row.session_end == pd.Timestamp("2024-01-01 10:29:00")
    assert row.n_events == 3


@pytest.mark.slow
def test_streaming_lm_score_matches_batch(spark, tmp_path):
    """Stateless streaming LM scoring against a FROZEN trigram model:
    fixture documents arrive as a two-micro-batch stream; scores must
    equal the batch text_lm_score output row-for-row (same integer-ppm
    div, model frozen from the same corpus/sample), and a no-trigram
    document must yield n_grams=0 with a NULL score instead of
    crashing or fabricating a number."""
    from overpaint_spark import queries as Q
    from overpaint_spark.streaming.lm import frozen_model, lm_score_stream

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    grams, counts, total, v = frozen_model(d, sample_mod=10)

    sdir = str(tmp_path / "doc_stream")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(sdir)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(sdir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    out_dir = str(tmp_path / "scores")
    q = (
        lm_score_stream(stream, grams, counts, total, v)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_lm"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        r.doc_id: (r.n_grams, r.lm_score_ppm)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r.doc_id: (r.n_grams, r.lm_score_ppm)
        for r in Q.QUERIES["text_lm_score"](spark, SF).collect()
    }
    assert got == want and len(got) == d.count()

    # degenerate rows: empty and sub-trigram text
    deg = spark.createDataFrame(
        [(1000000, ""), (1000001, "ab"), (1000002, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in lm_score_stream(deg, grams, counts, total, v).collect()}
    for did in (1000000, 1000001):
        assert rows[did].n_grams == 0 and rows[did].lm_score_ppm is None


@pytest.mark.slow
def test_write_lm_score_stream_both_paths_match_batch(spark, tmp_path):
    """The sink-level scorer's two paths — map-literal projection
    (model under max_map_entries) and the foreachBatch broadcast-join
    fallback (forced via max_map_entries=1, simulating a model too big
    for the serialized plan) — must both reproduce the batch
    text_lm_score output row-for-row: dispatch is a performance knob,
    never a semantics knob."""
    from overpaint_spark import queries as Q
    from overpaint_spark.operators.lm import build_lm_model
    from overpaint_spark.streaming.lm import write_lm_score_stream

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    model = build_lm_model(d, sample_mod=10).cache()

    sdir = str(tmp_path / "lm_sink_stream")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(sdir)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(sdir)

    want = {
        r.doc_id: (r.n_grams, r.lm_score_ppm)
        for r in Q.QUERIES["text_lm_score"](spark, SF).collect()
    }

    for name, cap in (("map_literal", 50_000), ("foreach_batch", 1)):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        out_dir = str(tmp_path / f"scores_{name}")
        q = write_lm_score_stream(
            stream, model, out_dir, str(tmp_path / f"ckpt_{name}"),
            max_map_entries=cap, trigger_available_now=True,
        )
        assert q.awaitTermination(120)
        got = {
            r.doc_id: (r.n_grams, r.lm_score_ppm)
            for r in spark.read.parquet(out_dir).collect()
        }
        assert got == want, f"{name} path diverged from batch"
    model.unpersist()


@pytest.mark.slow
def test_write_clean_stream_matches_batch_predicates(spark, tmp_path):
    """The streaming ingest gate must admit EXACTLY the docs the batch
    predicate conjunction admits on the same rows (quality floor, LM
    band, dedup vs the existing corpus) — regardless of micro-batch
    boundaries, since every predicate is per-doc against static state."""
    from overpaint_spark.functions import text as TX
    from overpaint_spark.operators.dedup import incremental_dedup_flags
    from overpaint_spark.operators.lm import build_lm_model, lm_score
    from overpaint_spark.streaming.clean import write_clean_stream

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    existing = d.filter(F.col("doc_id") % 3 == 0)
    incoming = d.filter(F.col("doc_id") % 3 != 0)
    model = build_lm_model(existing, sample_mod=1).cache()

    # batch ground truth: the same three predicates, composed directly
    quality_ok = {
        r.doc_id
        for r in incoming.select(
            "doc_id", TX.quality_score(F.col("text")).alias("q")
        ).collect()
        if r.q >= 0.5
    }
    lm_ok = {
        r.doc_id
        for r in lm_score(incoming, model).collect()
        if r.lm_score_ppm is not None and 5400 <= r.lm_score_ppm <= 6300
    }
    dd_ok = {
        r.doc_id
        for r in incremental_dedup_flags(existing, incoming).collect()
        if r.admitted
    }
    want = quality_ok & lm_ok & dd_ok

    sdir = str(tmp_path / "clean_stream_src")
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(sdir)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(sdir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    out_dir = str(tmp_path / "clean_admitted")
    q = write_clean_stream(
        stream, existing, model, out_dir, str(tmp_path / "ckpt_clean"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == want
    # the gate must be non-trivial on the fixture: some in, some out
    assert want and want < {r.doc_id for r in incoming.collect()}
    model.unpersist()


@pytest.mark.slow
def test_write_decontaminate_stream_matches_batch(spark, tmp_path):
    """The streaming contamination gate must admit EXACTLY the docs the
    batch bloom path keeps on the same rows — micro-batch boundaries
    cannot matter because the eval suite (bitset + exact gram set) is
    frozen at sink construction."""
    from overpaint_spark.operators.decontaminate import decontaminated_bloom
    from overpaint_spark.streaming.decontaminate import (
        write_decontaminate_stream,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 20 == 0)
    incoming = d.filter(F.col("doc_id") % 20 != 0)
    want = {r.doc_id for r in decontaminated_bloom(incoming, ev, k=5).collect()}

    sdir = str(tmp_path / "decon_stream_src")
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(sdir)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(sdir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    out_dir = str(tmp_path / "decon_admitted")
    q = write_decontaminate_stream(
        stream, ev, out_dir, str(tmp_path / "ckpt_decon"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == want
    # the gate must be non-trivial on the fixture: some in, some out
    assert want and want < {r.doc_id for r in incoming.collect()}


def test_write_lm_score_stream_rejects_docs_relation(spark, tmp_path):
    """Handing the sink a docs relation instead of a built model must
    fail loudly (it would dispatch on doc count and rescore wrongly),
    naming the builder to use."""
    import pytest as _pytest

    from overpaint_spark.streaming.lm import write_lm_score_stream

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)
    )
    with _pytest.raises(ValueError, match="build_lm_model"):
        write_lm_score_stream(
            stream, d, str(tmp_path / "o"), str(tmp_path / "c")
        )


@pytest.mark.slow
def test_streaming_phash_gate_matches_batch(spark, tmp_path):
    """Streaming image near-dup gate: incoming assets (fresh docs plus
    re-ingested COPIES of existing docs under new ids) arrive as a
    two-micro-batch stream and are screened against the static corpus's
    phash index; copies must be rejected (identical render → Hamming 0)
    and the admitted set must equal the shared batch predicate body
    exactly across the micro-batch boundary."""
    from overpaint_spark.operators.multimodal import image_phash
    from overpaint_spark.sources.catalog import load_table
    from overpaint_spark.streaming.phash import (
        phash_gate_flags,
        write_phash_dedup_stream,
    )

    docs = load_table(spark, f"{SF}/documents.parquet").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    fresh = docs.filter(F.col("doc_id") % 5 == 0)
    copies = existing.limit(7).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    # an unhashable (empty-text) asset: no phash row, must be ADMITTED
    # (the batch composition forms no cross-pair for it)
    blank = spark.createDataFrame(
        [(200001, "")], "doc_id long, text string"
    )
    incoming = fresh.unionAll(copies).unionAll(blank)
    existing_hashes = image_phash(existing)

    d = str(tmp_path / "assets_stream")
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out_dir = str(tmp_path / "admitted_assets")
    q = write_phash_dedup_stream(
        stream, existing_hashes, out_dir, str(tmp_path / "ckpt_phash"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)

    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    rejected = {
        r.asset_id
        for r in phash_gate_flags(incoming, existing_hashes)
        .filter(~F.col("admitted"))
        .collect()
    }
    want = sorted(
        r.doc_id for r in incoming.collect() if r.doc_id not in rejected
    )
    assert got == want and len(got) > 0
    # the hash-less asset passed through the gate
    assert 200001 in got
    # every planted re-ingested copy is rejected (Hamming 0 to corpus)
    copy_ids = {r.doc_id for r in copies.collect()}
    assert copy_ids.isdisjoint(set(got))
    assert len(got) < incoming.count()


@pytest.mark.slow
def test_streaming_psi_ppm_matches_batch_and_float_psi(spark, events_dir, tmp_path):
    """The oracle-checkable integer-ppm PSI stream (write_psi_stream):
    each micro-batch's row equals the shared predicate body applied to
    that slice batch-side, and psi_ppm tracks the float PSI within the
    per-bucket quantization bound (n_bins+2 half-ups)."""
    from overpaint_spark.rules.psi import histogram, psi_from_histograms
    from overpaint_spark.streaming.drift import psi_batch_row, write_psi_stream

    events = spark.read.parquet(events_dir)
    base = events.filter(F.col("user_id") % 3 != 0)
    base_hist = histogram(base, "value", 0.0, 200.0, 10)
    base_counts = [(r.bucket, r.n) for r in base_hist.collect()]
    incoming = events.filter(F.col("user_id") % 3 == 0).select(
        "value", (F.col("user_id") % 2).alias("split")
    )
    src = str(tmp_path / "psi_src")
    incoming.filter(F.col("split") == 0).coalesce(1).write.parquet(f"{src}/a")
    incoming.filter(F.col("split") == 1).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("value double, split long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = write_psi_stream(
        stream, base_hist, str(tmp_path / "psi_out"),
        str(tmp_path / "psi_ckpt"), column="value", lo=0.0, hi=200.0,
        n_bins=10, label_col="split", trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    got = {
        r.split_id: (r.n_rows, r.psi_ppm, r.band)
        for r in spark.read.parquet(str(tmp_path / "psi_out")).collect()
    }
    assert set(got) == {0, 1}
    for s in (0, 1):
        batch = incoming.filter(F.col("split") == s)
        want = psi_batch_row(
            batch, base_counts, "value", 0.0, 200.0, 10, label_col="split"
        )
        assert got[s] == (want[1], want[2], want[3]) and want[0] == s
        # ppm tracks the float fold within the quantization bound
        cur = [
            (r.bucket, r.n)
            for r in histogram(batch, "value", 0.0, 200.0, 10).collect()
        ]
        f = psi_from_histograms(base_counts, cur, 10)
        assert abs(got[s][1] - f * 1_000_000.0) <= 12


def test_streaming_psi_empty_and_null_batches_skipped(spark, tmp_path):
    """A batch whose monitored column is all NULL emits no row (no
    distribution to score) — and the reference must be non-empty."""
    import pytest as _pytest

    from overpaint_spark.rules.psi import histogram
    from overpaint_spark.streaming.drift import psi_batch_row, write_psi_stream

    base = spark.createDataFrame(
        [(float(i % 200),) for i in range(100)], "value double"
    )
    nulls = spark.createDataFrame(
        [(None, 0)], "value double, split long"
    )
    counts = [
        (r.bucket, r.n)
        for r in histogram(base, "value", 0.0, 200.0, 10).collect()
    ]
    assert psi_batch_row(nulls, counts, "value", 0.0, 200.0, 10) is None
    with _pytest.raises(ValueError, match="reference histogram is empty"):
        write_psi_stream(
            nulls, histogram(nulls, "value", 0.0, 200.0, 10),
            str(tmp_path / "o"), str(tmp_path / "c"),
            column="value", lo=0.0, hi=200.0,
        )


@pytest.mark.slow
def test_streaming_ann_ingest_bit_identical_to_batch(spark, tmp_path):
    """The foreachBatch ANN-ingest gate must grow the persisted index
    into EXACTLY the artifact a one-shot build over the union produces:
    raw coding is per-vector independent and the geometry is frozen at
    sink construction, so batch boundaries cannot change a code byte.
    Stream the second half of the corpus in two micro-batches, reload,
    and compare every (id → codes, cluster_id) row against a single
    build over the full corpus."""
    from overpaint_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        persist_ann_index,
    )
    from overpaint_spark.streaming.ann_ingest import write_ann_ingest_stream

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = e.count()
    split = n // 2
    idx0 = build_ann_index(
        e.filter(F.col("vec_id") < split), dim=64, n_centroids=16,
        n_subspaces=8, n_codes=16,
    )
    path = str(tmp_path / "annidx")
    persist_ann_index(idx0, path)

    arriving = e.filter(F.col("vec_id") >= split)
    src = str(tmp_path / "src")
    mid = split + (n - split) // 2
    arriving.filter(F.col("vec_id") < mid).coalesce(1).write.parquet(f"{src}/a")
    arriving.filter(F.col("vec_id") >= mid).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = write_ann_ingest_stream(
        stream, path, str(tmp_path / "ckpt"), trigger_available_now=True
    )
    assert q.awaitTermination(120)

    grown = load_ann_index(spark, path)
    got = {
        r.vec_id: (list(r.codes), r.cluster_id)
        for r in grown.indexed.collect()
    }
    oneshot = build_ann_index(
        e, dim=64, n_centroids=16, n_subspaces=8, n_codes=16
    )
    want = {
        r.vec_id: (list(r.codes), r.cluster_id)
        for r in oneshot.indexed.collect()
    }
    assert got == want and len(got) == n


@pytest.mark.slow
def test_streaming_cms_bit_identical_to_batch(spark, tmp_path):
    """Cell-wise sums commute, so the streamed sketch must equal the
    batch cms_cells over the union EXACTLY — any batch chopping. Three
    deliberately uneven micro-batches (2 docs / 1 doc / 1 doc)."""
    from overpaint_spark.operators.heavyhitters import cms_cells
    from overpaint_spark.streaming.cms import cms_snapshot, write_cms_stream

    docs = spark.createDataFrame(
        [
            (0, "a a b c"),
            (1, "b c d"),
            (2, "a e f g h"),
            (3, "h h h i"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 2).coalesce(1).write.parquet(f"{src}/a")
    docs.filter(F.col("doc_id") == 2).coalesce(1).write.parquet(f"{src}/b")
    docs.filter(F.col("doc_id") == 3).coalesce(1).write.parquet(f"{src}/c")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = str(tmp_path / "out")
    q = write_cms_stream(
        stream, out, str(tmp_path / "ckpt"),
        depth=3, width=32, trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    got = {
        (r.row_idx, r.cell_idx): r.cnt
        for r in cms_snapshot(spark, out).collect()
    }
    want = {
        (r.row_idx, r.cell_idx): r.cnt
        for r in cms_cells(docs, depth=3, width=32).collect()
    }
    assert got == want


@pytest.mark.slow
def test_streaming_fk_gate_bit_identical_to_batch(spark, tmp_path):
    """The gate is per-row stateless, so the streamed sink must equal
    the batch fk_gate_flags over the union row-for-row under any
    chopping; NULL FKs gate as ok (unknown, not orphan), misses as
    quarantined — with a genuinely incomplete parent snapshot both
    verdicts must actually occur."""
    from overpaint_spark.streaming.integrity import (
        fk_gate_flags,
        write_fk_gate_stream,
    )

    facts = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 10), (4, None), (5, 99), (6, 20)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    src = str(tmp_path / "src")
    facts.filter(F.col("id") <= 3).coalesce(1).write.parquet(f"{src}/a")
    facts.filter(F.col("id") > 3).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("id long, fk long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = str(tmp_path / "out")
    q = write_fk_gate_stream(
        stream, parent, out, str(tmp_path / "ckpt"), "fk",
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    got = {
        (r.id, r.fk, r.fk_ok) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.id, r.fk, r.fk_ok)
        for r in fk_gate_flags(facts, parent, "fk").collect()
    }
    assert got == want and len(got) == 6
    verdict = {r[0]: r[2] for r in got}
    assert verdict[4] is True  # NULL FK: unknown, not orphan
    assert verdict[2] is False and verdict[5] is False  # 30, 99 dangle
    assert verdict[1] is True and verdict[6] is True


@pytest.mark.slow
def test_windowed_rollup_append_mode_drops_late_beyond_horizon(spark, tmp_path):
    """The append-mode rollup's honest divergence case: once the
    watermark finalized a window (it was emitted and its state
    evicted), a later-arriving row for it is DROPPED — no recount, no
    re-opened duplicate window row. (A late row landing in the SAME
    micro-batch that closes its window still merges — measured Spark
    4.1 behavior; the drop starts after eviction.) The declared
    witness avoids all of this only because its horizon exceeds the
    fixture's whole range. Batch order here: a (10:00, 12:00) →
    b (20:00 sentinel, closes everything at 1 s horizon) → c (10:30,
    late after eviction → dropped)."""
    import time as _time

    from overpaint_spark.streaming.stream_profile import windowed_type_rollup

    def ev(eid, hhmm, typ):
        return (eid, f"2024-03-01 {hhmm}:00", 1, typ, 1.0, "{}")

    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    to_df = lambda rows: spark.createDataFrame(rows, schema).withColumn(  # noqa: E731
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    src = str(tmp_path / "src")
    to_df([ev(0, "10:00", "view"), ev(1, "12:00", "view")]).coalesce(1).write.parquet(
        f"{src}/a"
    )
    _time.sleep(1.1)  # strictly newer mtime: the sentinel is batch 2
    to_df([ev(3, "20:00", "__flush__")]).coalesce(1).write.parquet(f"{src}/b")
    _time.sleep(1.1)  # the late row arrives AFTER every window closed
    to_df([ev(2, "10:30", "view")]).coalesce(1).write.parquet(f"{src}/c")
    stream = (
        spark.readStream.schema(to_df([ev(0, "10:00", "view")]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = str(tmp_path / "out")
    q = (
        windowed_type_rollup(stream, watermark="1 second")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    emitted = [
        ((str(r.hour_start), r.event_type), r.n_events)
        for r in spark.read.parquet(out).collect()
    ]
    rows = dict(emitted)
    assert len(emitted) == len(rows)  # each window emitted exactly once
    assert rows[("2024-03-01 10:00:00", "view")] == 1  # late 10:30 row DROPPED
    assert rows[("2024-03-01 12:00:00", "view")] == 1
    assert ("2024-03-01 20:00:00", "__flush__") not in rows  # never closed


# --- r12: trailing no-data micro-batch skipped where output-neutral -------


@pytest.mark.slow
def test_skip_no_data_batches_restores_conf_and_output(spark):
    """The _skip_no_data_batches decorator (r12) must (a) restore the
    session conf whatever it was, and (b) not change a decorated
    witness's emitted relation — pinned by running stream_attribution
    with the wrapper (no-data batch skipped) and via its undecorated
    body (``__wrapped__`` — Spark default, trailing no-data batch
    runs) and comparing row sets."""
    from overpaint_spark import queries as Q

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    fn = Q.QUERIES["stream_attribution"]
    assert hasattr(fn, "__wrapped__"), "witness should be decorated"

    spark.conf.set(key, "true")
    fast = sorted(map(tuple, fn(spark, SF).collect()))
    assert spark.conf.get(key) == "true"  # restored

    slow = sorted(map(tuple, fn.__wrapped__(spark, SF).collect()))
    assert fast == slow and len(fast) > 0
