"""Profile snapshot persistence + drift detection."""

import pytest

from overpaint_spark.profiler.profile import TableProfile
from overpaint_spark.rules.drift import (
    read_profile_snapshot,
    snapshot_drift,
    write_profile_snapshot,
)

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_snapshot_roundtrip_and_drift(spark, tmp_path):
    out = str(tmp_path / "snapshots")
    write_profile_snapshot(spark, SF1, out, run_id="r1")
    write_profile_snapshot(spark, SF2, out, run_id="r2")

    s1 = read_profile_snapshot(spark, out, "r1")
    s2 = read_profile_snapshot(spark, out, "r2")
    assert s1.count() > 0 and s2.count() > 0
    assert set(s1.columns) == {
        "run_id", "table_name", "column_name", "metric", "value_str", "value_num"
    }

    drift = snapshot_drift(s2, s1, tolerance=0.2).collect()
    by_key = {(r.table_name, r.column_name, r.metric): r for r in drift}

    # sf0.001 → sf0.01 is a 10× row-count jump → alert
    rc = by_key[("lineitem", None, "estimated_rows")]
    assert rc.drift_alert and rc.pct_change > 5
    # column_count is stable across scale factors → no alert
    cc = by_key[("lineitem", None, "column_count")]
    assert not cc.drift_alert and cc.pct_change == 0.0


@pytest.mark.parametrize("older,newer", [("001", "002"), ("20260101", "20260102")])
def test_numeric_looking_run_ids_stay_strings(spark, tmp_path, older, newer):
    """Run ids are strings however they look: the snapshot readers
    declare their schema, so Spark never infers ``001`` as the integer
    partition value 1 (which lost the leading zeros and made the PSI
    fold miss its string-keyed runs)."""
    from overpaint_spark.rules.psi import (
        HistogramSpec,
        psi_between_runs,
        write_histogram_snapshot,
    )

    snap, hist = str(tmp_path / "snap"), str(tmp_path / "hist")
    t = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    for run, rows in ((older, 4), (newer, 6)):
        write_profile_snapshot(
            spark, "", snap, run,
            profiles=[TableProfile(schema="public", name="t", estimated_rows=rows)],
        )
        write_histogram_snapshot(
            spark, {"t": t}, hist, run, [HistogramSpec("t", "x", 0.0, 10.0, 5)]
        )
    s = read_profile_snapshot(spark, snap, older)
    assert dict(s.dtypes)["run_id"] == "string"
    got = {(r.run_id, r.metric, r.value_num) for r in s.collect()}
    assert got == {(older, "estimated_rows", 4.0), (older, "column_count", 0.0)}
    assert psi_between_runs(spark, hist, newer, older) == [("t", "x", 0.0, "stable")]


def test_drift_presence_change_alerts(spark):
    cur = spark.createDataFrame(
        [("t", "c", "min", "1", 1.0)],
        "table_name string, column_name string, metric string, value_str string, value_num double",
    )
    prev = spark.createDataFrame(
        [("t", "c", "min", "1", 1.0), ("t", "d", "min", "9", 9.0)],
        "table_name string, column_name string, metric string, value_str string, value_num double",
    )
    rows = {(r.table_name, r.column_name, r.metric): r
            for r in snapshot_drift(cur, prev).collect()}
    assert rows[("t", "d", "min")].drift_alert         # column disappeared
    assert not rows[("t", "c", "min")].drift_alert     # unchanged


_SNAP_SCHEMA = (
    "table_name string, column_name string, metric string, "
    "value_str string, value_num double"
)


def test_schema_drift_add_remove_type_change(spark):
    from overpaint_spark.rules.drift import schema_drift

    prev = spark.createDataFrame(
        [
            ("t", "a", "data_type", "int", None),
            ("t", "b", "data_type", "text", None),
            ("t", "c", "data_type", "float8", None),
        ],
        _SNAP_SCHEMA,
    )
    cur = spark.createDataFrame(
        [
            ("t", "a", "data_type", "bigint", None),  # type changed
            ("t", "b", "data_type", "text", None),    # unchanged
            ("t", "d", "data_type", "bool", None),    # added (c removed)
            # numeric rows must be ignored by the structural diff
            ("t", "a", "min", "0", 0.0),
        ],
        _SNAP_SCHEMA,
    )
    rows = {(r.table_name, r.column_name): r for r in schema_drift(cur, prev).collect()}
    assert rows[("t", "a")].status == "type_changed"
    assert rows[("t", "a")].prev_type == "int" and rows[("t", "a")].curr_type == "bigint"
    assert rows[("t", "c")].status == "removed"
    assert rows[("t", "d")].status == "added"
    assert ("t", "b") not in rows  # unchanged columns are filtered out


def test_snapshot_records_data_types_end_to_end(spark, tmp_path):
    from overpaint_spark.rules.drift import schema_drift

    out = str(tmp_path / "snapshots")
    write_profile_snapshot(spark, SF1, out, run_id="r1")
    s1 = read_profile_snapshot(spark, out, "r1")
    types = {
        (r.table_name, r.column_name): r.value_str
        for r in s1.filter(s1.metric == "data_type").collect()
    }
    assert types[("lineitem", "l_orderkey")] == "bigint"
    assert types[("events", "ts")] == "ts-ntz"
    # same snapshot diffed against itself → structurally clean
    assert schema_drift(s1, s1).count() == 0


def test_metric_zscores_flags_jump_not_cold_start(spark):
    from overpaint_spark.rules.drift import metric_zscores

    hist_schema = "run_id string, " + _SNAP_SCHEMA
    rows = [
        (f"r{i}", "t", "c", "rows", str(v), float(v))
        for i, v in enumerate([100, 102, 98, 101, 99, 500])
    ]
    hist = spark.createDataFrame(rows, hist_schema)
    out = {r.run_id: r for r in metric_zscores(hist, threshold=3.0).collect()}
    # cold start: runs 0-2 have < 3 prior runs → never anomalous
    assert not out["r0"].anomaly and not out["r1"].anomaly and not out["r2"].anomaly
    # stable runs with enough history → not anomalous
    assert not out["r3"].anomaly and not out["r4"].anomaly
    # the 5× jump is anomalous, scored against PRIOR runs only
    assert out["r5"].anomaly and out["r5"].zscore > 3.0
    assert abs(out["r5"].history_mean - 100.0) < 1e-9


def test_metric_zscores_constant_history_break(spark):
    from overpaint_spark.rules.drift import metric_zscores

    hist_schema = "run_id string, " + _SNAP_SCHEMA
    rows = [
        (f"r{i}", "t", "c", "rows", str(v), float(v))
        for i, v in enumerate([7, 7, 7, 7, 8])
    ]
    hist = spark.createDataFrame(rows, hist_schema)
    out = {r.run_id: r for r in metric_zscores(hist, threshold=3.0).collect()}
    # zero-variance baseline: any change is an anomaly (z undefined → NULL)
    assert out["r4"].anomaly and out["r4"].zscore is None
    assert not out["r3"].anomaly


# --- PSI (rules/psi.py) ----------------------------------------------------


def test_psi_identical_distributions_near_zero(spark):
    from overpaint_spark.rules.psi import psi, psi_band

    df = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    val = psi(df, df, "v", lo=0.0, hi=100.0, n_bins=10)
    assert val == 0.0
    assert psi_band(val) == "stable"


def test_psi_detects_shift_and_matches_numpy(spark):
    import numpy as np

    from overpaint_spark.rules.psi import EPS, psi, psi_band

    base = spark.range(2000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    # current: mass pushed right by 30 and clipped — a real shift
    cur = spark.range(2000).selectExpr(
        "CAST(LEAST(id % 100 + 30, 129) AS DOUBLE) AS v"
    )
    got = psi(base, cur, "v", lo=0.0, hi=100.0, n_bins=10)
    assert psi_band(got) == "action"

    # naive numpy recomputation on the same data
    bv = np.arange(2000) % 100
    cv = np.minimum(np.arange(2000) % 100 + 30, 129)
    edges = np.linspace(0, 100, 11)

    def props(x):
        buckets = np.clip(np.digitize(x, edges, right=False), 0, 11)
        n = np.bincount(buckets, minlength=12)
        return np.maximum(n / n.sum(), EPS)

    pb, pc = props(bv), props(cv)
    want = float(np.sum((pc - pb) * np.log(pc / pb)))
    assert abs(got - want) < 1e-12


def test_psi_histogram_overflow_buckets(spark):
    from overpaint_spark.rules.psi import histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (99.9,), (100.0,), (250.0,), (None,)],
        "v double",
    )
    h = dict(
        (r.bucket, r.n) for r in histogram(df, "v", 0.0, 100.0, 10).collect()
    )
    assert h[0] == 1            # underflow
    assert h[11] == 2           # overflow (>= hi)
    assert sum(h.values()) == 6  # NULL excluded


def test_cli_histogram_psi_flow(spark, tmp_path, capsys):
    """End-to-end monitoring loop: two snapshot runs with persisted
    histograms, PSI printed on the drift run (same data → stable)."""
    from overpaint_spark import cli

    snaps = str(tmp_path / "snaps")
    spec = "events.value:0:200:10"
    assert cli.main([
        "/root/testdata/sf0.001", "--snapshot-dir", snaps, "--run-id", "r1",
        "--histogram", spec,
    ]) == 0
    capsys.readouterr()
    assert cli.main([
        "/root/testdata/sf0.001", "--snapshot-dir", snaps, "--run-id", "r2",
        "--histogram", spec, "--drift-against", "r1",
    ]) == 0
    out = capsys.readouterr().out
    assert "PSI events.value vs r1: 0.0000 (stable)" in out


def test_cli_anomaly_flow(spark, tmp_path, capsys):
    """Monitoring loop with --anomaly: three stable runs build history,
    a 10× data jump on the fourth is flagged; the stable runs are not."""
    from overpaint_spark import cli

    snaps = str(tmp_path / "snaps")
    for rid in ("r1", "r2", "r3"):
        assert cli.main([
            "/root/testdata/sf0.001", "--snapshot-dir", snaps, "--run-id", rid,
        ]) == 0
    capsys.readouterr()
    assert cli.main([
        "/root/testdata/sf0.01", "--snapshot-dir", snaps, "--run-id", "r4",
        "--anomaly",
    ]) == 0
    out = capsys.readouterr().out
    assert "Anomaly scan run r4" in out
    assert "estimated_rows" in out and "const-break" in out
    # a fifth run over the SAME data as r4's history is itself anomalous
    # relative to the mixed history, but scanning r2 against r1-only
    # history must be silent — covered by unit tests; here assert the
    # flag summary counted at least the row-count breaks
    assert "(0 anomalies)" not in out


def test_histogram_spec_parse():
    import pytest as _pytest

    from overpaint_spark.rules.psi import HistogramSpec

    s = HistogramSpec.parse("events.value:0:200")
    assert (s.table, s.column, s.lo, s.hi, s.n_bins) == ("events", "value", 0.0, 200.0, 10)
    s2 = HistogramSpec.parse("t.c:-5:5:20")
    assert (s2.lo, s2.hi, s2.n_bins) == (-5.0, 5.0, 20)
    with _pytest.raises(ValueError, match="bad histogram spec"):
        HistogramSpec.parse("nodot:0:1")


def test_zscore_run_ordering_is_length_then_lex(spark):
    """run1..run12: lexicographic ordering would baseline run2 against
    run10-12 (future runs); length-then-lex must order numeric suffixes
    correctly, so only run12's z fires for the spike planted last."""
    from overpaint_spark.rules.drift import metric_zscores

    rows = [(f"run{i}", "t", "c", "m", 100.0) for i in range(1, 12)]
    rows.append(("run12", "t", "c", "m", 500.0))  # the spike, LAST
    h = spark.createDataFrame(
        rows, "run_id string, table_name string, column_name string, "
              "metric string, value_num double"
    )
    out = {r.run_id: r for r in metric_zscores(h, threshold=3.0).collect()}
    assert out["run12"].anomaly  # spike scored against the 11 priors
    for i in range(4, 12):  # past min_history warmup
        assert not out[f"run{i}"].anomaly, f"run{i} wrongly anomalous"
