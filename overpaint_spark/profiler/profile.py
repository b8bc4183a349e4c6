"""Single-pass table profiler — the engine's core operator.

Reference behavior (``/root/reference/src/listTables.tsx``) issues one
full-table query **per column**: ``SELECT MIN(c)::text, MAX(c)::text`` per
numeric/temporal column (:236-251), ``COUNT(*) FILTER (WHERE c IS TRUE/
FALSE)`` per boolean column (:310-325), and ``SELECT COUNT(*)`` per table
in exact mode (:478-485) — an N+1 anti-pattern (SURVEY §4).

Here every statistic for a table folds into **one** ``df.agg(...)`` —
a single Spark job, one scan, all aggregates computed in the same
whole-stage-codegen pass with map-side partial aggregation. At 100 TB this
is the difference between scanning each table once and scanning it a
dozen times. Estimated row counts never launch a job at all (Parquet
footer metadata, :mod:`overpaint_spark.sources.catalog`).

NULL semantics parity: boolean histograms use ``count_if(c)`` /
``count_if(NOT c)`` so NULLs land in neither bucket (three-valued logic of
``IS TRUE``/``IS FALSE``, listTables.tsx:314-315); ``count(*) -
count_if(c)`` would be wrong.

Per-item error isolation parity (:248-250, :322-324, :486-488): a failure
profiling one table records null stats for it and never aborts the run.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from overpaint_spark.localrel import local_df

from overpaint_spark.functions import typeclass
from overpaint_spark.sources.catalog import TableHandle, discover_tables, footer_row_count, load_table


@dataclass
class ColumnProfile:
    """One column's profile — mirrors ``ColumnInfo`` (listTables.tsx:13-20)."""

    name: str
    data_type: T.DataType
    min_value: Any = None
    max_value: Any = None
    true_count: int | None = None
    false_count: int | None = None
    # categorical extension (beyond-reference): top-k (value, count) of a
    # low-cardinality string column + its non-null denominator
    top_values: list[tuple[str, int]] | None = None
    non_null_count: int | None = None

    @property
    def human_type(self) -> str:
        return typeclass.human_type(self.data_type)


@dataclass
class TableProfile:
    """One table's profile — mirrors ``TableView`` (listTables.tsx:22-29)."""

    schema: str
    name: str
    columns: list[ColumnProfile] = field(default_factory=list)
    estimated_rows: int | None = None
    exact_rows: int | None = None
    error: str | None = None  # per-table failure sentinel (:486-488)

    @property
    def qualified(self) -> str:
        return f"{self.schema}.{self.name}"

    @property
    def column_count(self) -> int:
        return len(self.columns)


def stat_exprs(
    schema: T.StructType, exact: bool = False, categorical: bool = False
) -> list:
    """Build the flat aggregate-expression list for one table.

    Aliases are positional (``mn_0``/``mx_0``/``tc_3``/``fc_3``) keyed by
    column ordinal so collection is unambiguous even with weird names.
    MIN/MAX are cast to string transport later, not here — values stay
    typed so temporal formatting can dispatch on real datetimes
    (SURVEY §2 E7 "keep values typed and skip parsing", the preferred path).

    With ``categorical`` the same single pass also measures every string
    column's approximate cardinality + non-null count, so deciding WHICH
    columns deserve a top-values histogram costs no extra scan.
    """
    exprs = []
    for i, f_ in enumerate(schema.fields):
        c = F.col(f_.name)
        if typeclass.is_time(f_.dataType):
            # Spark 4.1 MIN/MAX don't support TimeType yet — aggregate the
            # order-preserving string form (zero-padded HH:MM:SS[.f]);
            # profile_table parses the result back to datetime.time
            exprs.append(F.min(c.cast("string")).alias(f"mn_{i}"))
            exprs.append(F.max(c.cast("string")).alias(f"mx_{i}"))
        elif typeclass.is_numeric(f_.dataType) or typeclass.is_temporal(f_.dataType):
            exprs.append(F.min(c).alias(f"mn_{i}"))
            exprs.append(F.max(c).alias(f"mx_{i}"))
        elif typeclass.is_boolean(f_.dataType):
            # count_if == COUNT(*) FILTER (WHERE c IS TRUE) — NULL-safe
            exprs.append(F.count_if(c).alias(f"tc_{i}"))
            exprs.append(F.count_if(~c).alias(f"fc_{i}"))
        elif categorical and isinstance(f_.dataType, T.StringType):
            exprs.append(F.approx_count_distinct(c).alias(f"acd_{i}"))
            exprs.append(F.count(c).alias(f"nn_{i}"))
    if exact:
        exprs.append(F.count(F.lit(1)).alias("n_rows"))
    return exprs


# a string column qualifies for a top-values histogram only when its
# (approximate) cardinality says "enum-ish" — free-text columns would
# produce a meaningless all-count-1 histogram and a vocabulary-sized
# shuffle at scale
TOP_VALUES_MAX_DISTINCT = 50


def _top_values_for(
    df: DataFrame, cols: list[str], k: int
) -> dict[str, list[tuple[str, int]]]:
    """Top-``k`` (value, count) for the given string columns: one
    collect of a stack projection into a distinct-values-sized
    ``groupBy(cname, value).count()``, ranked on the driver by count
    descending, then value ascending. The callers admit only columns
    whose cardinality passed the ``TOP_VALUES_MAX_DISTINCT`` gate, so
    the collected rows are bounded; a window rank plus a global sort
    would cost three more jobs for the same answer."""
    # escape both the string literal and the identifier: column names
    # with quotes/backticks must not break (or inject into) the stack
    # expression — the same bq/lit discipline as profiler/incremental.py
    stack_args = ", ".join(
        "'" + c.replace("'", "''") + "', `" + c.replace("`", "``") + "`"
        for c in cols
    )
    pairs = df.selectExpr(f"stack({len(cols)}, {stack_args}) as (cname, value)")
    counts: dict[str, list[tuple[str, int]]] = {}
    for r in (
        pairs.filter(F.col("value").isNotNull())
        .groupBy("cname", "value")
        .count()
        .collect()
    ):
        counts.setdefault(r["cname"], []).append((r["value"], int(r["count"])))
    # Python orders str by code point, which is Spark's UTF-8 byte order
    return {
        c: sorted(vs, key=lambda vn: (-vn[1], vn[0]))[:k]
        for c, vs in counts.items()
    }


def profile_table(
    spark: SparkSession,
    handle: TableHandle,
    exact: bool = False,
    top_values_k: int = 0,
    merge_schema: bool = False,
) -> TableProfile:
    """Profile one table in a single aggregate job (plus a metadata read).

    ``top_values_k > 0`` adds at most ONE extra collect for the table: a
    top-k histogram over the string columns whose cardinality (measured
    for free inside the main pass) is enum-ish (≤
    ``TOP_VALUES_MAX_DISTINCT``)."""
    prof = TableProfile(schema=handle.schema, name=handle.name)
    try:
        df = load_table(spark, handle, merge_schema=merge_schema)
    except Exception as exc:  # unreadable table → error sentinel, keep going
        prof.error = str(exc)
        return prof
    prof.columns = [ColumnProfile(f_.name, f_.dataType) for f_ in df.schema.fields]
    try:
        prof.estimated_rows = footer_row_count(handle.path)
    except Exception:
        prof.estimated_rows = None

    exprs = stat_exprs(df.schema, exact=exact, categorical=top_values_k > 0)
    if not exprs:
        return prof
    # Spark 4.1 fails to plan ANY aggregate directly over a scan whose
    # schema contains TimeType (UNSUPPORTED_TIME_TYPE — even for aggs on
    # the other columns); an explicit projection casting time columns to
    # their order-preserving string form in between unblocks the plan
    agg_src = df
    for f_ in df.schema.fields:
        if typeclass.is_time(f_.dataType):
            agg_src = agg_src.withColumn(f_.name, F.col(f_.name).cast("string"))
    try:
        row = agg_src.agg(*exprs).collect()[0].asDict()
    except Exception as exc:
        # per-table isolation: stats stay None; exact mode renders `error`
        prof.error = str(exc)
        return prof
    categorical_cols: list[str] = []
    for i, col in enumerate(prof.columns):
        if typeclass.is_time(col.data_type):
            mn, mx = row.get(f"mn_{i}"), row.get(f"mx_{i}")
            col.min_value = _dt.time.fromisoformat(mn) if mn is not None else None
            col.max_value = _dt.time.fromisoformat(mx) if mx is not None else None
        elif typeclass.is_numeric(col.data_type) or typeclass.is_temporal(col.data_type):
            col.min_value = row.get(f"mn_{i}")
            col.max_value = row.get(f"mx_{i}")
        elif typeclass.is_boolean(col.data_type):
            tc, fc = row.get(f"tc_{i}"), row.get(f"fc_{i}")
            col.true_count = int(tc) if tc is not None else None
            col.false_count = int(fc) if fc is not None else None
        elif top_values_k > 0 and f"acd_{i}" in row:
            acd, nn = row.get(f"acd_{i}"), row.get(f"nn_{i}")
            if acd is not None and nn and acd <= TOP_VALUES_MAX_DISTINCT:
                col.non_null_count = int(nn)
                categorical_cols.append(col.name)
    if exact:
        n = row.get("n_rows")
        prof.exact_rows = int(n) if n is not None else None
    if categorical_cols:
        try:
            tops = _top_values_for(df, categorical_cols, top_values_k)
        except Exception:  # isolation: histograms stay blank, stats kept
            tops = {}
        for col in prof.columns:
            if col.name in tops:
                col.top_values = tops[col.name]
    return prof


def profile_data_root(
    spark: SparkSession,
    data_root: str,
    exact: bool = False,
    top_values_k: int = 0,
    merge_schema: bool = False,
    concurrency: int = 1,
    statement_timeout_ms: int | None = None,
) -> list[TableProfile]:
    """Profile every table under a data root, ordered by name (F1).

    ``concurrency`` profiles that many tables at once from a driver
    thread pool — each table is still ONE aggregate job, but the jobs
    overlap in the Spark scheduler instead of serializing their
    latencies (the reference documents ``--concurrency`` yet never reads
    it, listTables.tsx:203-216 — here it is real). Output order stays
    name-sorted regardless of completion order.

    ``statement_timeout_ms`` bounds each table's wall time: the profile
    job runs under a per-table job group that is cancelled on timeout,
    and the table records the timeout as its error sentinel (per-item
    isolation, same contract as any other per-table failure) — the
    analog of the reference's documented-but-dead
    ``--statement-timeout-ms``.
    """
    handles = discover_tables(data_root)

    def one(h: TableHandle) -> TableProfile:
        return profile_table(
            spark, h, exact=exact, top_values_k=top_values_k,
            merge_schema=merge_schema,
        )

    if concurrency <= 1 and statement_timeout_ms is None:
        return [one(h) for h in handles]

    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext
    # setJobGroup thread-locality REQUIRES PySpark pinned-thread mode
    # (each Python thread pinned to its own JVM thread — the default
    # since Spark 3.2). With PYSPARK_PIN_THREAD=false all pool threads
    # share one JVM thread-local, so the watchdog's cancelJobGroup
    # could cancel a DIFFERENT table's jobs; refuse the concurrent path
    # rather than mis-cancel.
    if os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "false":
        raise RuntimeError(
            "concurrent profiling with job-group timeouts requires "
            "PySpark pinned-thread mode; unset PYSPARK_PIN_THREAD or "
            "run with --concurrency 1"
        )
    timeout_s = None if statement_timeout_ms is None else statement_timeout_ms / 1000.0

    def one_guarded(h: TableHandle) -> TableProfile:
        # the job group is thread-local on the driver, so each pool
        # thread tags exactly its own table's jobs; a per-table watchdog
        # timer cancels the group at the deadline and profile_table's
        # per-item isolation converts the cancellation into the table's
        # error sentinel
        group = f"profile:{h.schema}.{h.name}"
        sc.setJobGroup(group, f"profile {h.schema}.{h.name}", True)
        timer: threading.Timer | None = None
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            sc.cancelJobGroup(group)

        if timeout_s is not None:
            timer = threading.Timer(timeout_s, cancel)
            timer.daemon = True
            timer.start()
        try:
            prof = one(h)
        finally:
            if timer is not None:
                timer.cancel()
            sc.setJobGroup("", "")
        if timed_out.is_set() and prof.error is not None:
            prof.error = f"statement timeout after {statement_timeout_ms} ms"
        return prof

    with ThreadPoolExecutor(max_workers=max(1, concurrency)) as pool:
        return list(pool.map(one_guarded, handles))


# ---------------------------------------------------------------------------
# Relational (long-format) projections of the profile — these power the
# declared-query manifest so the DuckDB oracle can hash-check each stat.
# ---------------------------------------------------------------------------

def profile_minmax_df(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    want,
    out_type: str,
) -> DataFrame:
    """Long-format (table, column, min, max) over columns where ``want(dt)``.

    One aggregate job per table (all columns at once), unioned. ``out_type``
    unifies the value columns ("double" for numerics, "timestamp" for
    temporals) so the union is well-typed.
    """
    parts = []
    for tname in sorted(tables):
        df = tables[tname]
        # TimeType is excluded even when want() says temporal: a
        # time-of-day range is not castable to the unified out_type
        # (timestamp), and Spark 4.1 MIN/MAX reject TimeType anyway —
        # time ranges surface through profile_table's typed path
        cols = [
            f_.name
            for f_ in df.schema.fields
            if want(f_.dataType) and not typeclass.is_time(f_.dataType)
        ]
        if not cols:
            continue
        aggs = []
        for c in cols:
            # df[c] resolves the exact name (F.min(str) would parse
            # dots as struct access and choke on backticks)
            aggs.append(F.min(df[c]).cast(out_type).alias(f"mn_{c}"))
            aggs.append(F.max(df[c]).cast(out_type).alias(f"mx_{c}"))
        wide = df.agg(*aggs)
        # unpivot the single wide row to long form, JVM-side (stack);
        # escape literals and identifiers like _top_values_for
        stack_args = ", ".join(
            "'" + c.replace("'", "''") + "', `"
            + f"mn_{c}".replace("`", "``") + "`, `"
            + f"mx_{c}".replace("`", "``") + "`"
            for c in cols
        )
        long = wide.selectExpr(
            f"stack({len(cols)}, {stack_args}) as (column_name, min_value, max_value)"
        ).select(
            F.lit(tname).alias("table_name"),
            "column_name",
            "min_value",
            "max_value",
        )
        parts.append(long)
    if not parts:
        return local_df(
            spark, [],
            f"table_name string, column_name string, min_value {out_type}, max_value {out_type}",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
