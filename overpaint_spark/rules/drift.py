"""Profile snapshots + drift detection — the monitoring sink.

The reference renders its profile to a terminal and forgets it; a
monitoring engine must *persist* each run and compare runs. Snapshots
are long-format metric rows written as Parquet partitioned by
``run_id`` — append-only, so a 100 TB deployment accumulates history
without rewrites, and any two runs diff with one partition-pruned scan
each (SURVEY §7.3: "row-count drift vs previous profile").

Schema: (run_id, table_name, column_name, metric, value_str,
value_num) — numeric metrics carry both a double and a string form so
min/max of temporal or text columns fit the same relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from overpaint_spark.localrel import local_df

from overpaint_spark.functions import typeclass
from overpaint_spark.profiler.profile import TableProfile, profile_data_root

SNAPSHOT_SCHEMA = (
    "run_id string, table_name string, column_name string, "
    "metric string, value_str string, value_num double"
)


def profiles_to_rows(profiles: list[TableProfile]) -> list[tuple]:
    """Flatten TableProfiles into long-format metric rows."""
    rows: list[tuple] = []
    for p in profiles:
        if p.estimated_rows is not None:
            rows.append((p.name, None, "estimated_rows", str(p.estimated_rows), float(p.estimated_rows)))
        if p.exact_rows is not None:
            rows.append((p.name, None, "exact_rows", str(p.exact_rows), float(p.exact_rows)))
        rows.append((p.name, None, "column_count", str(p.column_count), float(p.column_count)))
        for c in p.columns:
            num = typeclass.is_numeric(c.data_type)
            for metric, v in (("min", c.min_value), ("max", c.max_value)):
                if v is not None:
                    rows.append(
                        (p.name, c.name, metric, str(v), float(v) if num else None)
                    )
            for metric, v in (("true_count", c.true_count), ("false_count", c.false_count)):
                if v is not None:
                    rows.append((p.name, c.name, metric, str(v), float(v)))
            # schema fact: the humanized type (listTables.tsx:81-123) rides
            # in value_str so schema_drift() can diff runs structurally
            rows.append((p.name, c.name, "data_type", c.human_type, None))
    return rows


def write_profile_snapshot(
    spark: SparkSession,
    data_root: str,
    out_path: str,
    run_id: str,
    exact: bool = False,
    merge_schema: bool = False,
    profiles=None,
) -> DataFrame:
    """Profile every table under ``data_root`` and append the snapshot
    under ``out_path/run_id=<run_id>/``. Returns the snapshot frame.

    Pass ``profiles`` (the list ``profile_data_root`` returned) to
    persist an already-computed profile instead of re-profiling — the
    CLI does, so the persisted snapshot is exactly what was displayed
    (same exact/top-values/merge-schema settings)."""
    if profiles is None:
        profiles = profile_data_root(
            spark, data_root, exact=exact, merge_schema=merge_schema
        )
    rows = [(run_id, *r) for r in profiles_to_rows(profiles)]
    df = local_df(spark, rows, SNAPSHOT_SCHEMA)
    df.write.mode("append").partitionBy("run_id").parquet(out_path)
    return df


def read_profile_history(spark: SparkSession, path: str) -> DataFrame:
    """Every run's snapshot rows, read through ``SNAPSHOT_SCHEMA``: a
    run id stays the string it was written as (Spark would infer
    ``001`` as the integer 1), and no schema-inference job runs."""
    return spark.read.schema(SNAPSHOT_SCHEMA).parquet(path)


def read_profile_snapshot(spark: SparkSession, path: str, run_id: str) -> DataFrame:
    """One run's snapshot; the run_id filter prunes to one partition."""
    return read_profile_history(spark, path).filter(F.col("run_id") == run_id)


def snapshot_drift(
    current: DataFrame,
    previous: DataFrame,
    tolerance: float = 0.2,
) -> DataFrame:
    """Numeric metric drift between two snapshots.

    Full outer join on (table, column, metric): a metric present in only
    one run is itself drift (appeared/disappeared — e.g. a new column).
    pct_change is NULL when the previous value is 0 or missing; alerts
    fire on |pct_change| > tolerance OR presence change.
    """
    cur = current.select(
        "table_name", "column_name", "metric",
        F.col("value_num").alias("curr_value"),
    ).filter(F.col("curr_value").isNotNull())
    prev = previous.select(
        "table_name", "column_name", "metric",
        F.col("value_num").alias("prev_value"),
    ).filter(F.col("prev_value").isNotNull())
    # table-level metrics have NULL column_name — the join must be
    # null-safe (<=>), a plain equi-join would treat every one of them
    # as a presence change
    cond = (
        cur["table_name"].eqNullSafe(prev["table_name"])
        & cur["column_name"].eqNullSafe(prev["column_name"])
        & cur["metric"].eqNullSafe(prev["metric"])
    )
    j = cur.join(prev, cond, "full_outer").select(
        F.coalesce(cur["table_name"], prev["table_name"]).alias("table_name"),
        F.coalesce(cur["column_name"], prev["column_name"]).alias("column_name"),
        F.coalesce(cur["metric"], prev["metric"]).alias("metric"),
        "curr_value",
        "prev_value",
    )
    pct = F.when(
        F.col("prev_value").isNotNull() & (F.col("prev_value") != 0) & F.col("curr_value").isNotNull(),
        (F.col("curr_value") - F.col("prev_value")) / F.abs(F.col("prev_value")),
    )
    presence_change = F.col("curr_value").isNull() | F.col("prev_value").isNull()
    zero_to_nonzero = (F.col("prev_value") == 0) & (F.col("curr_value") != 0)
    alert = (
        presence_change
        | F.coalesce(zero_to_nonzero, F.lit(False))
        | F.coalesce(F.abs(pct) > F.lit(tolerance), F.lit(False))
    )
    return j.select(
        "table_name", "column_name", "metric", "prev_value", "curr_value",
        pct.alias("pct_change"),
        alert.alias("drift_alert"),
    )


def schema_drift(current: DataFrame, previous: DataFrame) -> DataFrame:
    """Structural drift between two snapshots: columns added, removed,
    or type-changed (the failure mode a numeric-metric diff is blind
    to — a column recreated as a different type keeps its row counts).

    Compares the snapshots' ``data_type`` rows on (table, column) with a
    full outer join; both inputs are one pruned snapshot partition each,
    O(#columns) rows, so this never scans data.
    """
    # explicit aliases: current and previous may be the SAME DataFrame
    # (a self-diff is the "no structural change" assertion), which a
    # bare column-object join would reject as ambiguous
    cur = current.filter(F.col("metric") == "data_type").select(
        "table_name", "column_name", F.col("value_str").alias("curr_type")
    ).alias("cur")
    prev = previous.filter(F.col("metric") == "data_type").select(
        "table_name", "column_name", F.col("value_str").alias("prev_type")
    ).alias("prev")
    cond = (
        F.col("cur.table_name").eqNullSafe(F.col("prev.table_name"))
        & F.col("cur.column_name").eqNullSafe(F.col("prev.column_name"))
    )
    j = cur.join(prev, cond, "full_outer").select(
        F.coalesce(F.col("cur.table_name"), F.col("prev.table_name")).alias("table_name"),
        F.coalesce(F.col("cur.column_name"), F.col("prev.column_name")).alias("column_name"),
        "prev_type",
        "curr_type",
    )
    status = (
        F.when(F.col("prev_type").isNull(), F.lit("added"))
        .when(F.col("curr_type").isNull(), F.lit("removed"))
        .when(F.col("prev_type") != F.col("curr_type"), F.lit("type_changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "table_name", "column_name", "prev_type", "curr_type",
        status.alias("status"),
    ).filter(F.col("status") != "unchanged")


def metric_zscores(
    history: DataFrame,
    threshold: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Anomaly scores for every numeric metric across a snapshot-run
    series: each run's value is z-scored against the rolling mean/std
    of all PRIOR runs (strictly-before frame, so the anomalous run
    cannot mask itself by inflating its own baseline).

    ``anomaly`` fires when |z| ≥ ``threshold`` and at least
    ``min_history`` prior runs exist (no alerts from a cold start).
    A zero-variance baseline with a changed value is an anomaly by
    definition (any change from a constant history) — flagged with
    NULL z.

    One window pass partitioned by (table, column, metric) ordered by
    run id; state per group is O(1) aggregates, so a years-long run
    history stays a single cheap shuffle of metric rows, never data.

    Run ordering is (length, lexicographic): plain lexicographic order
    would rank ``run10`` BEFORE ``run2`` and score each run against a
    baseline containing later runs. Length-then-lex orders numeric
    suffixes of a common prefix correctly and leaves fixed-width ids
    (ISO timestamps, zero-padded counters — the recommended scheme)
    exactly as before.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("table_name", "column_name", "metric")
        .orderBy(F.length("run_id"), F.col("run_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    h = history.filter(F.col("value_num").isNotNull()).select(
        "run_id", "table_name", "column_name", "metric", "value_num"
    )
    h = h.withColumn("prior_n", F.count("value_num").over(w)).withColumn(
        "prior_mean", F.avg("value_num").over(w)
    ).withColumn("prior_std", F.stddev_samp("value_num").over(w))
    z = F.when(
        (F.col("prior_std").isNotNull()) & (F.col("prior_std") > 0),
        (F.col("value_num") - F.col("prior_mean")) / F.col("prior_std"),
    )
    enough = F.col("prior_n") >= F.lit(min_history)
    const_break = (
        (F.col("prior_std").isNotNull())
        & (F.col("prior_std") == 0)
        & (F.col("value_num") != F.col("prior_mean"))
    )
    anomaly = enough & (
        F.coalesce(F.abs(z) >= F.lit(threshold), F.lit(False)) | const_break
    )
    return h.select(
        "run_id", "table_name", "column_name", "metric", "value_num",
        F.col("prior_n").alias("n_history"),
        F.col("prior_mean").alias("history_mean"),
        F.col("prior_std").alias("history_std"),
        z.alias("zscore"),
        anomaly.alias("anomaly"),
    )
