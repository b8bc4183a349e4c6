"""Profiler end-to-end tests: single-pass stats, NULL semantics, error
isolation, display contract (SURVEY §5.1/§5.4)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from overpaint_spark.profiler import profile_data_root, profile_table, render_tables
from overpaint_spark.profiler.profile import TableProfile, stat_exprs
from overpaint_spark.sources.catalog import TableHandle, discover_tables, footer_row_count

SF = "/root/testdata/sf0.001"


def test_discover_tables_sorted():
    names = [h.name for h in discover_tables(SF)]
    assert names == sorted(names)
    assert "lineitem" in names and "events" in names


def test_footer_count_matches_exact(spark):
    h = next(h for h in discover_tables(SF) if h.name == "orders")
    assert footer_row_count(h.path) == 1500


def test_profile_orders_single_pass(spark):
    h = next(h for h in discover_tables(SF) if h.name == "orders")
    p = profile_table(spark, h, exact=True)
    assert p.estimated_rows == 1500 and p.exact_rows == 1500
    cols = {c.name: c for c in p.columns}
    assert cols["o_orderkey"].min_value == 0
    assert cols["o_orderkey"].max_value == 1499
    assert cols["o_orderdate"].min_value.year == 1995
    assert cols["o_orderstatus"].min_value is None  # strings get no stats


def test_boolean_nulls_in_neither_bucket(spark):
    df = spark.createDataFrame(
        [Row(b=True)] * 3 + [Row(b=False)] * 2 + [Row(b=None)] * 5,
        "b boolean",
    )
    df.write.mode("overwrite").parquet("/tmp/op_test_bool/t.parquet")
    p = profile_table(spark, TableHandle("public", "t", "/tmp/op_test_bool/t.parquet"))
    col = p.columns[0]
    # 5 NULLs excluded from both buckets and from the percent denominator
    assert (col.true_count, col.false_count) == (3, 2)


def test_time_column_profiles_hhmm_range(spark, tmp_path):
    """Postgres time/timetz parity (reference listTables.tsx:89-92,
    150-156,171-176): a Parquet TIME column (as DuckDB/Postgres exports
    write it, isAdjustedToUTC=false) profiles through Spark 4.1's native
    TimeType and renders the reference's HH:MM-HH:MM range."""
    import duckdb

    d = tmp_path / "timedb"
    d.mkdir()
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(1, TIME '09:30:15'), (2, TIME '23:59:59'), (3, TIME '06:05:00'), "
        "(4, NULL)) t(id, open_at)) "
        f"TO '{d}/shops.parquet' (FORMAT PARQUET)"
    )
    p = profile_table(spark, TableHandle("public", "shops", str(d / "shops.parquet")))
    cols = {c.name: c for c in p.columns}
    col = cols["open_at"]
    assert col.human_type == "time-ntz"          # humanization map (:89-90)
    import datetime as dt
    assert col.min_value == dt.time(6, 5)        # NULL excluded from range
    assert col.max_value == dt.time(23, 59, 59)
    rendered = render_tables([p], "estimated")
    assert "06:05-23:59" in rendered             # fmtHHMM range (:171-176)
    assert "time-ntz" in rendered


def test_utc_adjusted_time_clear_error(spark, tmp_path):
    """Arrow-default TIME (isAdjustedToUTC=true) is unreadable by Spark;
    the profiler must surface a clear per-table error naming the columns
    (not Spark's opaque PARQUET_TYPE_ILLEGAL) and keep profiling other
    tables."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "utctime"
    d.mkdir()
    t = pa.table({
        "id": [1, 2],
        "at": pa.array([dt.time(1, 2), dt.time(3, 4)], type=pa.time64("us")),
    })
    pq.write_table(t, d / "clock.parquet")
    p = profile_table(spark, TableHandle("public", "clock", str(d / "clock.parquet")))
    assert p.error is not None and "isAdjustedToUTC=true" in p.error
    assert "at" in p.error and "rewrite" in p.error


def test_time_column_incremental_merge(spark, tmp_path):
    """Per-file time stats merge through the string channel and the
    merged range equals the direct profile."""
    import duckdb

    from overpaint_spark.profiler.incremental import (
        merged_column_profile,
        profile_files_df,
    )

    d = tmp_path / "timeparts"
    d.mkdir()
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES (1, TIME '10:00:00'), (2, TIME '12:30:00')) "
        f"t(id, t)) TO '{d}/a.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES (3, TIME '03:15:00'), (4, TIME '11:00:00')) "
        f"t(id, t)) TO '{d}/b.parquet' (FORMAT PARQUET)"
    )
    state = profile_files_df(spark, "timeparts", str(d))
    merged = {
        r.column_name: r
        for r in merged_column_profile(state).collect()
    }
    assert merged["t"].col_kind == "time"
    assert merged["t"].min_s == "03:15:00" and merged["t"].max_s == "12:30:00"


def test_top_values_enum_columns_only(spark):
    """--top-values histograms enum-ish string columns, skips free text
    and IDs, and counts exactly (verified vs groupBy)."""
    h = next(h for h in discover_tables(SF) if h.name == "customer")
    p = profile_table(spark, h, top_values_k=3)
    cols = {c.name: c for c in p.columns}
    assert cols["c_name"].top_values is None  # unique-ish → skipped
    seg = cols["c_mktsegment"]
    assert seg.top_values is not None and len(seg.top_values) == 3
    assert seg.non_null_count == 150
    # exact counts, ordered desc with value tie-break
    from overpaint_spark.sources.catalog import load_table

    df = load_table(spark, h)
    truth = {
        r["c_mktsegment"]: r["n"]
        for r in df.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counts = [n for _, n in seg.top_values]
    assert counts == sorted(counts, reverse=True)
    for v, n in seg.top_values:
        assert truth[v] == n


def test_top_values_tie_break_and_cut(spark):
    """Equal counts rank by value ascending, each list stops at k, and
    the histogram costs one collect: at most two jobs (the shuffle map
    stage and the result under AQE), not a window rank plus a sort."""
    from overpaint_spark.profiler.profile import _top_values_for

    df = spark.createDataFrame(
        [("b", "x"), ("a", "z"), ("c", "x"), ("b", "z"), ("a", "y"),
         ("d", None), ("c", "\u00e9")],
        "s string, t string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("top-values-jobs", "top-values-jobs", False)
    try:
        tops = _top_values_for(df, ["s", "t"], 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tops == {
        "s": [("a", 2), ("b", 2), ("c", 2)],
        "t": [("x", 2), ("z", 2), ("y", 1)],
    }
    assert _top_values_for(df, ["s"], 1) == {"s": [("a", 2)]}
    assert len(sc.statusTracker().getJobIdsForGroup("top-values-jobs")) <= 2


def test_top_values_render_cell():
    from overpaint_spark.functions.formatting import top_values_cell

    assert top_values_cell([("A", 2), ("B", 1)], 4) == "A 2 (50.0%) | B 1 (25.0%)"
    assert top_values_cell(None, 10) == ""
    assert top_values_cell([("A", 1)], 0) == ""


def test_empty_table_blank_ranges(spark):
    df = spark.createDataFrame([], "x bigint, ts timestamp_ntz")
    df.write.mode("overwrite").parquet("/tmp/op_test_empty/t.parquet")
    p = profile_table(spark, TableHandle("public", "t", "/tmp/op_test_empty/t.parquet"))
    assert p.columns[0].min_value is None
    text = render_tables([p])
    assert "x" in text  # column listed, range cell blank


def test_unreadable_table_error_isolated(spark):
    os.makedirs("/tmp/op_test_bad", exist_ok=True)
    with open("/tmp/op_test_bad/t.parquet", "wb") as f:
        f.write(b"not a parquet file")
    p = profile_table(spark, TableHandle("public", "t", "/tmp/op_test_bad/t.parquet"))
    assert p.error is not None  # swallowed, not raised (listTables.tsx:486-488)


def test_render_contract():
    p = TableProfile(schema="public", name="orders", estimated_rows=1500)
    out = render_tables([p])
    assert out.startswith("Tables (schema.table) — ~rows (estimated), columns:")
    assert "public.orders — ~1500 rows, 0 cols" in out


def test_render_exact_error_cell():
    p = TableProfile(schema="public", name="bad", exact_rows=None)
    out = render_tables([p], mode="exact")
    assert "public.bad — error rows, 0 cols" in out


def test_render_no_tables():
    assert render_tables([]) == "No tables found.\n"


def test_concurrent_profile_matches_sequential(spark):
    """--concurrency overlaps per-table jobs without changing results:
    same tables, same order, same stats as the sequential run."""
    seq = profile_data_root(spark, SF)
    con = profile_data_root(spark, SF, concurrency=4)
    assert [p.qualified for p in con] == [p.qualified for p in seq]
    for a, b in zip(seq, con):
        assert a.estimated_rows == b.estimated_rows and a.error == b.error
        for ca, cb in zip(a.columns, b.columns):
            assert (ca.name, ca.min_value, ca.max_value) == (
                cb.name, cb.min_value, cb.max_value
            )


def test_statement_timeout_isolates_per_table(spark):
    """A per-table deadline cancels only that table's job group: the run
    never raises, order is preserved, and any table that missed the
    deadline carries the timeout error sentinel (the reference's
    documented --statement-timeout-ms contract, actually enforced)."""
    profs = profile_data_root(spark, SF, concurrency=4, statement_timeout_ms=1)
    names = [p.qualified for p in profs]
    assert names == sorted(names) and len(names) == 10
    for p in profs:
        assert p.error is None or "statement timeout after 1 ms" in p.error
    # a generous deadline must never trip
    ok = profile_data_root(spark, SF, statement_timeout_ms=120_000)
    assert all(p.error is None for p in ok)


def test_render_boxed_contract():
    """--boxed reproduces the Ink chrome (listTables.tsx:384-390):
    rounded border, 1-cell padding, blank margin line between boxes —
    with the identical inner data contract."""
    from overpaint_spark.profiler.profile import ColumnProfile
    from pyspark.sql import types as T

    p = TableProfile(
        schema="public", name="orders", estimated_rows=1500,
        columns=[ColumnProfile("o_orderkey", T.LongType(), 0, 1499)],
    )
    out = render_tables([p], boxed=True)
    lines = out.splitlines()
    assert lines[0].startswith("Tables (schema.table) — ~rows (estimated)")
    assert lines[1] == ""                                  # marginTop
    box = lines[2:]
    while box and not box[-1]:
        box.pop()  # trailing blank line after the last box
    assert box[0].startswith("╭") and box[0].endswith("╮")
    assert set(box[0][1:-1]) == {"─"}
    assert box[1].strip("│ ") == ""                        # padding row
    assert box[2] == "│ " + "public.orders — ~1500 rows, 1 cols".ljust(len(box[0]) - 4) + " │"
    assert any("o_orderkey" in ln and ln.startswith("│ ") for ln in box)
    assert box[-1].startswith("╰") and box[-1].endswith("╯")
    # every box line is the same width (straight right border)
    assert len({len(ln) for ln in box if ln}) == 1
    # plain mode unchanged (golden data contract)
    plain = render_tables([p])
    assert "public.orders — ~1500 rows, 1 cols" in plain and "╭" not in plain


def test_stat_exprs_one_pass_covers_all_types(spark):
    df = spark.createDataFrame([], "a int, b string, c boolean, d timestamp_ntz")
    exprs = stat_exprs(df.schema, exact=True)
    # a: min+max, c: tc+fc, d: min+max, plus count → 7; b contributes nothing
    assert len(exprs) == 7


def test_full_data_root(spark):
    profiles = profile_data_root(spark, SF)
    assert len(profiles) == 10
    assert all(p.error is None for p in profiles)


def test_cli_snapshot_and_drift(tmp_path, capsys):
    """End-to-end CLI monitoring flow: snapshot two runs, report drift."""
    from overpaint_spark import cli

    snaps = str(tmp_path / "snaps")
    assert cli.main(["/root/testdata/sf0.001", "--snapshot-dir", snaps, "--run-id", "a"]) == 0
    assert cli.main([
        "/root/testdata/sf0.01", "--snapshot-dir", snaps, "--run-id", "b",
        "--drift-against", "a",
    ]) == 0
    out = capsys.readouterr().out
    assert "Snapshot written: run_id=b" in out
    assert "Drift vs run a" in out
    # the 10x row-count jump must be flagged
    assert "lineitem.- estimated_rows: 6000.0 -> 60000.0" in out


def test_mixed_format_data_root(spark, tmp_path):
    """CSV/JSON file-per-table sources and multi-file parquet directory
    tables profile alongside parquet files; non-parquet tables have no
    footer metadata → estimated_rows is None (blank), stats still real."""
    import os

    from overpaint_spark.profiler import profile_data_root
    from overpaint_spark.sources.catalog import discover_tables

    root = str(tmp_path / "root")
    os.makedirs(root)
    with open(os.path.join(root, "people.csv"), "w") as f:
        f.write("pid,age,active\n1,30,true\n2,41,false\n3,27,true\n")
    with open(os.path.join(root, "things.jsonl"), "w") as f:
        f.write('{"tid": 1, "score": 0.5}\n{"tid": 2, "score": 1.5}\n')
    # directory table: parquet written in multiple files
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").repartition(3).write.parquet(
        os.path.join(root, "dirtable")
    )

    names = [(h.name, h.fmt) for h in discover_tables(root)]
    assert names == [("dirtable", "parquet"), ("people", "csv"), ("things", "json")]

    profs = {p.name: p for p in profile_data_root(spark, root, exact=True)}
    assert profs["dirtable"].estimated_rows == 100
    assert profs["dirtable"].exact_rows == 100
    people = profs["people"]
    assert people.estimated_rows is None and people.exact_rows == 3
    cols = {c.name: c for c in people.columns}
    assert (cols["age"].min_value, cols["age"].max_value) == (27, 41)
    assert (cols["active"].true_count, cols["active"].false_count) == (2, 1)
    things = profs["things"]
    assert things.exact_rows == 2
    tcols = {c.name: c for c in things.columns}
    assert (tcols["score"].min_value, tcols["score"].max_value) == (0.5, 1.5)


def test_orc_table_source(spark, tmp_path):
    """ORC file-per-table sources: discovered, metadata row count from the
    ORC footer (no scan), profiled like any table."""
    import os

    from overpaint_spark.profiler import profile_data_root
    from overpaint_spark.sources.catalog import discover_tables, footer_row_count

    root = str(tmp_path / "root")
    os.makedirs(root)
    tmp_orc = str(tmp_path / "orc_out")
    spark.range(50).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v").coalesce(
        1
    ).write.orc(tmp_orc)
    part = next(
        n for n in os.listdir(tmp_orc) if n.endswith(".orc") and not n.startswith("_")
    )
    os.rename(os.path.join(tmp_orc, part), os.path.join(root, "measures.orc"))

    handles = discover_tables(root)
    assert [(h.name, h.fmt) for h in handles] == [("measures", "orc")]
    assert footer_row_count(handles[0].path) == 50

    prof = {p.name: p for p in profile_data_root(spark, root)}["measures"]
    assert prof.estimated_rows == 50
    cols = {c.name: c for c in prof.columns}
    assert (cols["k"].min_value, cols["k"].max_value) == (0, 49)
    assert (cols["v"].min_value, cols["v"].max_value) == (0.0, 73.5)


def test_partitioned_directory_table_prunes(spark, tmp_path):
    """Hive-partitioned directory tables: discovered as one table, and a
    filter on the partition column reaches the scan as a PartitionFilter
    (pruned at planning — unselected partitions are never read)."""
    import os

    from overpaint_spark.sources.catalog import discover_tables, load_table

    root = str(tmp_path / "root")
    os.makedirs(root)
    spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS shard"
    ).write.partitionBy("shard").parquet(os.path.join(root, "sharded"))

    handles = discover_tables(root)
    assert [h.name for h in handles] == ["sharded"]
    df = load_table(spark, handles[0])
    assert df.count() == 1000

    filtered = df.filter(df.shard == "3")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "shard" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert filtered.count() == 1000 // 7 + 1


def test_cli_json_format(spark, capsys):
    """--format json: one JSON object per table, stats stringified."""
    import json

    from overpaint_spark import cli

    assert cli.main(["/root/testdata/sf0.001", "--format", "json"]) == 0
    out = capsys.readouterr().out
    objs = [json.loads(line) for line in out.strip().splitlines()]
    byname = {o["table"]: o for o in objs}
    assert set(byname) == {
        "customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier",
    }
    cust = byname["customer"]
    assert cust["estimated_rows"] == 150 and cust["error"] is None
    cols = {c["name"]: c for c in cust["columns"]}
    assert cols["c_custkey"]["min"] == "0" and cols["c_custkey"]["max"] == "149"
    assert cols["c_name"]["min"] is None  # text: no stats, blank like the TUI


def test_approx_distinct_accuracy(spark):
    """HLL++ estimates within the configured 2% rsd band (3 sigma) of the
    exact distinct counts — the accuracy contract of the declared
    rows-only profile_approx_distinct query."""
    from overpaint_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    approx = {
        r.column_name: r.approx_distinct
        for r in Q.q_profile_approx_distinct(spark, sf).collect()
    }
    exact = {
        r.column_name: r.n_distinct
        for r in Q.q_profile_null_distinct(spark, sf).collect()
    }
    assert set(approx) == set(exact)
    for col, est in approx.items():
        assert abs(est - exact[col]) <= max(3, 0.06 * exact[col]), (col, est, exact[col])


def test_merge_schema_surfaces_evolved_columns(spark, tmp_path):
    """A directory table whose later files added a column: the default
    read trusts one footer (fast path), merge_schema unions all footers
    so the new column profiles with NULLs for pre-evolution rows."""
    from overpaint_spark.sources.catalog import load_table

    d = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).coalesce(1).write.mode("append").parquet(d)

    merged = load_table(spark, d, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5
    # distinct cache entries: the unmerged read is not poisoned
    plain = load_table(spark, d)
    assert set(plain.columns) <= {"id", "v", "score"}


def test_cli_merge_schema_profiles_evolved_table(spark, tmp_path, capsys):
    from overpaint_spark import cli

    root = str(tmp_path / "root")
    d = os.path.join(root, "evolved")
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).coalesce(1).write.mode("append").parquet(d)

    assert cli.main([root, "--merge-schema"]) == 0
    out = capsys.readouterr().out
    assert "score" in out  # the evolved column profiles
    assert cli.main([root]) == 0  # default path still works


def test_cli_dataset_card(spark, capsys):
    from overpaint_spark import cli

    assert cli.main(["/root/testdata/sf0.001", "--dataset-card"]) == 0
    out = capsys.readouterr().out
    assert "Dataset card (documents):" in out
    lines = [l for l in out.splitlines() if l.strip()]
    # header + 20 sources + TOTAL last
    assert lines[-1].startswith("TOTAL")
    assert "quality_ppm" in lines[1]


def test_cli_dataset_card_no_documents(spark, tmp_path, capsys):
    from overpaint_spark import cli

    root = str(tmp_path / "empty_root")
    import os
    os.makedirs(root)
    assert cli.main([root, "--dataset-card"]) == 1
    assert "No `documents` table" in capsys.readouterr().err


# --- profile_entropy ---------------------------------------------------------


def test_column_entropy_constant_column_is_zero(spark):
    """A constant column carries zero information: the single term is
    -(1)·ln(1) = 0 exactly."""
    import overpaint_spark.queries as Q

    df = spark.createDataFrame([(i, "x") for i in range(10)], "id long, v string")
    row = Q.column_entropy(df, "t", "v").collect()[0]
    assert row["entropy_unats"] == 0
    assert row["n_distinct"] == 1 and row["n_rows"] == 10


def test_column_entropy_uniform_column_is_ln_k(spark):
    """A uniform k-way column sits at ln(k) nats — the maximum; each of
    the k terms is floor(ln(k)/k · 1e6 + 0.5)."""
    import math

    import overpaint_spark.queries as Q

    k, reps = 8, 5
    df = spark.createDataFrame(
        [(i, f"v{i % k}") for i in range(k * reps)], "id long, v string"
    )
    row = Q.column_entropy(df, "t", "v").collect()[0]
    want = k * math.floor(-math.log(1.0 / k) * (1.0 / k) * 1e6 + 0.5)
    assert row["entropy_unats"] == want
    assert abs(row["entropy_unats"] - 1e6 * math.log(k)) <= k  # ≈ ln(8)·1e6
    assert row["n_distinct"] == k


def test_column_entropy_null_is_a_category_both_engines(spark):
    """NULL groups, contributes a term, and counts toward n_distinct —
    and the DuckDB oracle (COUNT(DISTINCT)+NULL-group add-back) agrees
    value-for-value on a NULL-bearing column."""
    import duckdb

    import overpaint_spark.queries as Q

    rows = [(i, "a" if i % 3 == 0 else ("b" if i % 3 == 1 else None))
            for i in range(12)]
    df = spark.createDataFrame(rows, "id long, v string")
    got = Q.column_entropy(df, "t", "v").collect()[0]
    assert got["n_distinct"] == 3  # a, b, NULL
    con = duckdb.connect()
    con.register("t_pdf", df.toPandas())
    sql = Q._oracle_profile_entropy().split(" UNION ALL ")[0]
    sql = sql.replace("'documents'", "'t'").replace("'lang'", "'v'")
    sql = sql.replace("lang", "v").replace("documents", "t_pdf")
    want = con.execute(sql).fetchone()
    con.close()
    assert (got["n_rows"], got["n_distinct"], got["entropy_unats"]) == (
        want[2], want[3], want[4]
    )


def test_profile_entropy_skew_orders_below_uniform(spark, sf_dir):
    """Sanity on the fixture: every profiled column's entropy is
    positive and bounded by ln(n_distinct)·1e6 (+k rounding slack)."""
    import math

    import overpaint_spark.queries as Q

    for r in Q.q_profile_entropy(spark, sf_dir).collect():
        assert r["entropy_unats"] >= 0
        cap = 1e6 * math.log(r["n_distinct"]) + r["n_distinct"] if r["n_distinct"] > 1 else 0
        assert r["entropy_unats"] <= cap


def test_fk_edge_summary_counts_planted_orphans(spark):
    """The FK audit must count dangling rows AND distinct dangling keys
    exactly, ignore NULL FKs (a NULL is 'unknown', not an orphan), and
    report zeros on an intact edge."""
    from overpaint_spark.queries import fk_edge_summary

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, 99), (6, 77), (7, None)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    row = fk_edge_summary(child, parent, "c", "fk", "p", "pk").collect()[0]
    assert (row.child_table, row.fk_col, row.parent_table) == ("c", "fk", "p")
    assert row.n_rows == 6  # NULL FK excluded
    assert row.n_keys == 4  # 10, 20 intact; 99, 77 dangling
    assert row.n_orphan_rows == 3  # two 99s + one 77
    assert row.n_orphan_keys == 2

    intact = fk_edge_summary(
        child.filter(F.col("fk").isin(10, 20)), parent, "c", "fk", "p", "pk"
    ).collect()[0]
    assert intact.n_orphan_rows == 0 and intact.n_orphan_keys == 0


def test_fk_col_stem_and_name_candidates():
    from overpaint_spark.queries import fk_col_stem, fk_name_candidates

    assert fk_col_stem("c_nationkey") == "nationkey"
    assert fk_col_stem("ps_partkey") == "partkey"
    assert fk_col_stem("user_id") == "user_id"  # 4-letter prefix: no strip
    assert fk_col_stem("n_chars") == "chars"

    schemas = {
        "t_fact": [("f_widgetkey", "bigint"), ("f_note", "string")],
        "t_dim": [("d_widgetkey", "int"), ("d_name", "string")],
        "t_other": [("o_total", "double")],
    }
    cand = fk_name_candidates(schemas)
    # both directions of the stem pair, nothing for strings/doubles
    assert cand == [
        ("t_dim", "d_widgetkey", "t_fact", "f_widgetkey"),
        ("t_fact", "f_widgetkey", "t_dim", "d_widgetkey"),
    ]


def test_fk_candidate_summary_gates(spark):
    """Planted data: a non-unique parent fails the uniqueness gate, and
    partial containment lands at the exact integer ppm."""
    from overpaint_spark.queries import fk_candidate_summary

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (4,), (None,)], "fk bigint"
    )
    uniq_parent = spark.createDataFrame([(1,), (2,), (9,)], "pk bigint")
    dup_parent = spark.createDataFrame([(1,), (1,), (2,)], "pk bigint")

    row = fk_candidate_summary(
        child, uniq_parent, "c", "fk", "p", "pk", declared=False
    ).collect()[0]
    assert (row.declared, row.parent_unique) == (0, 1)
    assert (row.n_child_rows, row.n_child_keys) == (5, 4)  # NULL excluded
    assert row.n_parent_keys == 3
    # keys 1,2 contained of 4 distinct -> 500000 ppm exactly
    assert (row.n_contained_keys, row.containment_ppm) == (2, 500_000)

    row2 = fk_candidate_summary(
        child, dup_parent, "c", "fk", "p", "pk", declared=True
    ).collect()[0]
    assert (row2.declared, row2.parent_unique) == (1, 0)
    assert row2.n_parent_keys == 2

    # empty child: zero counts, ppm 0, no division error
    empty = spark.createDataFrame([], "fk bigint")
    row3 = fk_candidate_summary(
        empty, uniq_parent, "c", "fk", "p", "pk", declared=False
    ).collect()[0]
    assert (row3.n_child_rows, row3.n_child_keys, row3.containment_ppm) == (
        0, 0, 0,
    )
