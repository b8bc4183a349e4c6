"""Streaming rule alerts: the validation engine applied per micro-batch.

``streaming_rule_metrics`` (stream_profile.py) aggregates rule metrics
over event-time windows; this module is the *alerting* sink — each
micro-batch is validated with the SAME rule objects the batch engine
uses (rules/rules.py compile to plain aggregate expressions, so they are
mode-agnostic), and failures are appended to a parquet alert log with
batch provenance.

``foreachBatch`` is the right Spark tool here: the rule evaluation is a
tiny aggregation over one micro-batch's rows (bounded, no streaming
state at all), and the append is exactly-once — the alert log is
written through the batch-id-keyed idempotent sink
(streaming/sink.py), so a crash-replayed batch replaces its own
partition instead of double-logging alerts. At 100 TB/day the cost is
one single-pass agg per micro-batch — the same cost class as the
ingest itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from overpaint_spark.streaming.sink import start_sink


def write_rule_alerts_stream(
    stream: DataFrame,
    rules: Sequence,
    alert_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream",
    trigger_available_now: bool = False,
    include_passes: bool = False,
) -> StreamingQuery:
    """Validate every micro-batch against ``rules``; append violations
    (or all metrics with ``include_passes``) to ``alert_dir`` parquet.

    Output rows: (batch_id, table_name, rule_name, column_name,
    metric_value, passed) — the same metrics relation as the batch
    engine plus batch provenance, so one dashboard reads both. An empty
    micro-batch is validated too: its metrics are the rules' values
    over zero rows, as the batch engine and SQL give them.
    """
    from overpaint_spark.rules import evaluate_rules

    def validate(batch_df: DataFrame, batch_id: int) -> DataFrame:
        metrics = evaluate_rules(
            batch_df.sparkSession, {table_name: batch_df}, {table_name: list(rules)}
        )
        if not include_passes:
            metrics = metrics.filter(~F.col("passed"))
        return metrics.select(F.lit(batch_id).alias("batch_id"), "*")

    return start_sink(
        stream, validate, alert_dir, checkpoint_dir, trigger_available_now
    )
