"""Streaming distribution-drift monitor: per-micro-batch PSI against a
frozen reference histogram.

The batch path (rules/psi.py) compares two runs after the fact; in a
live pipeline the question is "is the data arriving RIGHT NOW still
shaped like the training/baseline window?". Each micro-batch is reduced
to its fixed-bin histogram (a shuffle of n_bins rows — the histogram
cost is independent of batch size), PSI-folded against the reference
on the driver, and appended to a parquet drift log.

The reference is collected ONCE at monitor construction (n_bins+2 rows
held on the driver) — the stream never re-reads it, and because bin
edges are declared up front the comparison stays valid across the whole
run. State: none (no watermarks, no aggregation state); the monitor is
exactly as scalable as the ingest itself.

PSI is kept in the cross-engine-reproducible form: per-bucket PSI terms
half-up ppm-quantized then summed as exact BIGINTs
(rules/psi.psi_ppm_from_histograms — the column_entropy idiom), and
batches self-identified by an optional staged ``label_col``, so the
declared ``stream_psi`` relation is order-independent and a DuckDB
oracle mirrors it bucket-for-bucket. The band is read off the same
ppm value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from overpaint_spark.localrel import local_df
from overpaint_spark.rules.psi import psi_band
from overpaint_spark.streaming.sink import start_sink

#: the drift log's row: one per scored batch
PSI_SCHEMA = "split_id long, n_rows long, psi_ppm long, band string"


def psi_batch_row(
    batch: DataFrame,
    base_counts: list[tuple[int, int]],
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    label_col: str | None = None,
) -> tuple | None:
    """Score ONE batch against the frozen reference histogram — the
    shared body of :func:`write_psi_stream` and the equivalence test.
    Returns ``(split_id, n_rows, psi_ppm, band)``, or ``None`` for a
    batch with no non-NULL values; ``split_id`` is the batch's
    ``label_col`` value when given (assumed constant within the batch
    — the declared query stages files that way), else −1.

    ONE Spark action per batch: the bucket histogram and the batch
    label come back from a single groupBy aggregate (≤ n_bins+2 rows)
    — a separate isEmpty probe / label agg would triple the per-batch
    job count for no information."""
    from overpaint_spark.rules.psi import bucket_expr, psi_ppm_from_histograms

    c = F.col(column)
    label = F.min(label_col) if label_col is not None else F.min(F.lit(-1))
    rows = (
        batch.filter(c.isNotNull())
        .groupBy(bucket_expr(c, lo, hi, n_bins).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), label.alias("split"))
        .collect()
    )
    if not rows:
        return None
    cur = [(r["bucket"], r["n"]) for r in rows]
    n_rows = sum(n for _, n in cur)
    ppm = psi_ppm_from_histograms(base_counts, cur, n_bins)
    split = min(r["split"] for r in rows)
    return (int(split), int(n_rows), int(ppm), psi_band(ppm / 1_000_000.0))


def write_psi_stream(
    stream: DataFrame,
    base_hist: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    label_col: str | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Integer-ppm PSI per micro-batch: one :data:`PSI_SCHEMA` row
    appended to ``out_dir`` per batch with a non-NULL ``column`` value,
    scored against ``base_hist`` (a (bucket, n) relation — collected
    and frozen HERE, once)."""
    base_counts = [(r.bucket, r.n) for r in base_hist.collect()]
    if not base_counts:
        raise ValueError("reference histogram is empty")

    def score(batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        row = psi_batch_row(
            batch_df, base_counts, column, lo, hi, n_bins, label_col
        )
        if row is None:
            return None
        # local_df builds the row from one local slice; createDataFrame
        # + coalesce(1) evaluates every partition in one task, ~5 s per
        # 1-row batch on the bench box (overpaint_spark/localrel.py)
        return local_df(batch_df.sparkSession, [row], PSI_SCHEMA)

    return start_sink(
        stream, score, out_dir, checkpoint_dir, trigger_available_now
    )
