"""Declarative data-quality validation rules (SURVEY §7.3 — the north
star's "Spark SQL + DataFrame validation rules").

A :class:`Rule` compiles to **one aggregate expression**; evaluating a
table folds every rule for that table into a single ``df.agg(...)`` —
the same single-pass contract as the profiler (one scan per table no
matter how many rules), vs. the reference's query-per-statistic loop
(listTables.tsx:236-251).

``metric_value`` is the violation count (or the measured quantity for
freshness/row-count rules); ``passed`` is the rule's boolean verdict.
Results form a metrics relation (table, rule, column, metric_value,
passed) — the "monitoring sink" written as Parquet in production.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from overpaint_spark.localrel import local_df


@dataclass(frozen=True)
class Rule:
    name: str
    column: str
    metric: Callable[[], Column]          # aggregate expression → long
    passes: Callable[[Column], Column]    # metric column → boolean


def _violations_pass(metric_col: Column) -> Column:
    return metric_col == 0


def not_null(column: str) -> Rule:
    """Violations = NULL count."""
    return Rule(
        "not_null", column,
        lambda: F.count_if(F.col(column).isNull()),
        _violations_pass,
    )


def unique(column: str) -> Rule:
    """Violations = rows beyond the first per value (0 ⇔ column unique).

    ``count(col) - count_distinct(col)`` — NULLs ignored on both sides.
    Exact distinct is a full shuffle of the key; swap in
    ``approx_count_distinct`` at extreme scale if a tolerance is stated.
    """
    return Rule(
        "unique", column,
        lambda: F.count(F.col(column)) - F.count_distinct(F.col(column)),
        _violations_pass,
    )


def in_range(column: str, lo: float, hi: float) -> Rule:
    """Violations = non-NULL values outside [lo, hi]."""
    return Rule(
        "in_range", column,
        lambda: F.count_if(~F.col(column).between(F.lit(lo), F.lit(hi))),
        _violations_pass,
    )


def accepted_values(column: str, values: list) -> Rule:
    """Violations = non-NULL values outside the accepted set."""
    return Rule(
        "accepted_values", column,
        lambda: F.count_if(~F.col(column).isin(values)),
        _violations_pass,
    )


def min_length(column: str, n: int) -> Rule:
    """Violations = strings shorter than n."""
    return Rule(
        "min_length", column,
        lambda: F.count_if(F.length(F.col(column)) < F.lit(n)),
        _violations_pass,
    )


def freshness_within(column: str, not_before: str) -> Rule:
    """metric = max(ts) as epoch seconds; passes iff max(ts) ≥ not_before
    (ISO timestamp literal). The reference has no freshness concept; this
    is the standard monitoring rule over its temporal-stats machinery."""
    return Rule(
        "freshness", column,
        lambda: F.unix_timestamp(F.max(F.col(column)).cast("timestamp")),
        lambda m: m >= F.unix_timestamp(F.lit(not_before).cast("timestamp")),
    )


def sql_check(predicate: str, name: str = "sql_check") -> Rule:
    """Violations = rows where an arbitrary SQL predicate is not TRUE.

    The escape hatch the north star's "Spark SQL validation rules"
    promises: any boolean Spark SQL expression over the table's columns
    becomes a rule, still folded into the same single per-table pass.
    NULL predicate results count as violations (the ``IS TRUE`` reading
    — 3VL parity with listTables.tsx:314-315), so a predicate over a
    NULLable column can't silently pass.
    """
    return Rule(
        name, predicate,
        lambda: F.count_if(~F.expr(predicate).eqNullSafe(F.lit(True))),
        _violations_pass,
    )


def sql_metric(
    metric_sql: str,
    min_value: float | None = None,
    max_value: float | None = None,
    name: str = "sql_metric",
) -> Rule:
    """metric = an arbitrary SQL *aggregate* expression; passes iff the
    value lands in [min_value, max_value] (either bound optional).

    Covers assertion shapes no violation-count rule can express —
    "avg(value) ≤ 120", "count(distinct user_id) ≥ 10". The metrics
    relation carries values as long (fractional metrics truncate there;
    bounds are checked on the cast value, so pass/fail and the recorded
    metric always agree).
    """
    if min_value is None and max_value is None:
        raise ValueError("sql_metric needs min_value and/or max_value")

    def passes(m: Column) -> Column:
        c = F.lit(True)
        if min_value is not None:
            c = c & (m >= F.lit(min_value))
        if max_value is not None:
            c = c & (m <= F.lit(max_value))
        return c

    return Rule(name, metric_sql, lambda: F.expr(metric_sql), passes)


def row_count_at_least(n: int) -> Rule:
    """metric = exact row count; passes iff ≥ n."""
    return Rule(
        "row_count", "*",
        lambda: F.count(F.lit(1)),
        lambda m: m >= F.lit(n),
    )


#: the metrics relation :func:`evaluate_rules` returns
METRICS_SCHEMA = (
    "table_name string, rule_name string, column_name string, "
    "metric_value long, passed boolean"
)


def evaluate_rules(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    rules: dict[str, list[Rule]],
) -> DataFrame:
    """Evaluate all rules, one aggregate job per table, union the metrics.

    Output: (table_name, rule_name, column_name, metric_value long,
    passed boolean), ordered by the natural (table, rule, column) key.
    """
    parts = []
    for tname in sorted(rules):
        tdf = tables[tname]
        trules = rules[tname]
        if not trules:
            # a table mapped to zero rules (config mid-edit) contributes
            # nothing — df.agg() with no expressions would assert
            continue
        aggs = [r.metric().cast("long").alias(f"m_{i}") for i, r in enumerate(trules)]
        wide = tdf.agg(*aggs)
        rows = []
        for i, r in enumerate(trules):
            m = F.col(f"m_{i}")
            rows.append(
                F.struct(
                    F.lit(tname).alias("table_name"),
                    F.lit(r.name).alias("rule_name"),
                    F.lit(r.column).alias("column_name"),
                    m.alias("metric_value"),
                    r.passes(m).alias("passed"),
                )
            )
        long = wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
        parts.append(long)
    if not parts:
        # an empty suite evaluates to an empty metrics relation, not an
        # IndexError — the on-call's '{}' config edit must not crash
        return local_df(spark, [], METRICS_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
