"""Distribution drift: fixed-bin histograms + Population Stability Index.

Count drift (rules/drift.py) answers "did the volume change"; PSI
answers "did the *distribution* change" — the standard monitoring metric
for a numeric column between a baseline window and a current window:

    PSI = Σ_bins (p_cur - p_base) · ln(p_cur / p_base)

with the usual operating bands: < 0.1 stable, 0.1-0.25 shifted, > 0.25
action. Empty bins get a small floor (no ln(0)); the bin edges are FIXED
(lo/hi/n_bins declared up front, two overflow buckets), because a drift
metric whose buckets move with the data can't be compared across runs.

Scale shape: one ``groupBy(bucket).count()`` per side — a shuffle of
n_bins rows regardless of input size — then a driver-side fold over the
(tiny) histogram. The histogram relation is also the thing to persist
per run_id next to the profile snapshot, so PSI between ANY two runs is
a metadata-only computation later.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: probability floor for empty bins (standard PSI practice; keeps the
#: metric finite while still heavily penalizing mass appearing in a
#: previously-empty region)
EPS = 1e-6


def bucket_expr(col: Column, lo: float, hi: float, n_bins: int) -> Column:
    """Fixed-width bucket index in [0, n_bins+1]: 0 = underflow
    (x < lo), n_bins+1 = overflow (x >= hi), NULLs excluded upstream.
    Pure arithmetic (no width_bucket) so the same expression runs in any
    engine."""
    w = (hi - lo) / n_bins
    raw = F.floor((col - F.lit(lo)) / F.lit(w)).cast("int") + F.lit(1)
    return (
        F.when(col < F.lit(lo), F.lit(0))
        .when(col >= F.lit(hi), F.lit(n_bins + 1))
        .otherwise(raw)
    )


def histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """(bucket, n) fixed-bin histogram of a numeric column (NULLs
    dropped; under/overflow in buckets 0 and n_bins+1)."""
    c = F.col(column)
    return (
        df.filter(c.isNotNull())
        .select(bucket_expr(c, lo, hi, n_bins).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_from_histograms(
    base: list[tuple[int, int]],
    cur: list[tuple[int, int]],
    n_bins: int = 10,
) -> float:
    """Driver-side PSI fold over two collected (bucket, count) lists.

    Deterministic: buckets are iterated in index order and the floor is
    applied to proportions, so the same inputs give the same float on
    any platform."""
    nb = dict(base)
    nc = dict(cur)
    tb = sum(nb.values())
    tc = sum(nc.values())
    if tb == 0 or tc == 0:
        raise ValueError("PSI needs non-empty base and current windows")
    out = 0.0
    for b in range(n_bins + 2):
        pb = max(nb.get(b, 0) / tb, EPS)
        pc = max(nc.get(b, 0) / tc, EPS)
        out += (pc - pb) * math.log(pc / pb)
    return out


def psi(
    base_df: DataFrame,
    cur_df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> float:
    """PSI of ``column`` between two DataFrames (two n_bins-row
    aggregations + a driver fold)."""
    b = [(r.bucket, r.n) for r in histogram(base_df, column, lo, hi, n_bins).collect()]
    c = [(r.bucket, r.n) for r in histogram(cur_df, column, lo, hi, n_bins).collect()]
    return psi_from_histograms(b, c, n_bins)


def psi_ppm_from_histograms(
    base: list[tuple[int, int]],
    cur: list[tuple[int, int]],
    n_bins: int = 10,
) -> int:
    """Integer-ppm PSI: each bucket's ``(pc − pb)·ln(pc/pb)`` term is
    half-up quantized to parts-per-million AT THE BUCKET (the
    column_entropy idiom — the bucket relation is n_bins+2 rows, so
    quantizing there costs nothing), then the terms sum as exact
    BIGINTs. That makes the metric reproducible across engines and
    aggregation orders — a float SUM over even 12 bucket terms is
    order-dependent in the last ulp, which is enough to flip a
    quantized value at a boundary; per-term quantization removes the
    ordering from the math entirely. This is the form the streaming
    drift monitor emits and its DuckDB oracle mirrors
    (streaming/drift.py)."""
    nb = dict(base)
    nc = dict(cur)
    tb = sum(nb.values())
    tc = sum(nc.values())
    if tb == 0 or tc == 0:
        raise ValueError("PSI needs non-empty base and current windows")
    out = 0
    for b in range(n_bins + 2):
        pb = max(nb.get(b, 0) / tb, EPS)
        pc = max(nc.get(b, 0) / tc, EPS)
        out += int(math.floor((pc - pb) * math.log(pc / pb) * 1_000_000.0 + 0.5))
    return out


def psi_band(value: float) -> str:
    """Operating band: stable / shifted / action."""
    if value < 0.1:
        return "stable"
    if value <= 0.25:
        return "shifted"
    return "action"


# --- persisted histogram snapshots (the monitoring loop) -------------------

@dataclass(frozen=True)
class HistogramSpec:
    """One monitored distribution: fixed edges declared up front."""

    table: str
    column: str
    lo: float
    hi: float
    n_bins: int = 10

    @classmethod
    def parse(cls, text: str) -> "HistogramSpec":
        """``table.column:lo:hi[:bins]`` (the CLI surface)."""
        try:
            target, lo, hi, *rest = text.split(":")
            table, column = target.split(".", 1)
            return cls(table, column, float(lo), float(hi),
                       int(rest[0]) if rest else 10)
        except (ValueError, IndexError) as exc:
            raise ValueError(
                f"bad histogram spec {text!r}; want table.column:lo:hi[:bins]"
            ) from exc


#: the persisted histogram rows; readers declare it so a numeric-looking
#: run id is not inferred as an integer partition value
HISTOGRAM_SNAPSHOT_SCHEMA = (
    "run_id string, table_name string, column_name string, "
    "n_bins int, bucket int, n long"
)


def write_histogram_snapshot(
    spark,
    tables: dict[str, DataFrame],
    out_path: str,
    run_id: str,
    specs: list[HistogramSpec],
) -> DataFrame:
    """Persist the monitored histograms for one run (appended under
    ``out_path/run_id=<id>/`` like the profile snapshots). Each spec is
    one n_bins-row aggregation; PSI between ANY two runs later is a
    metadata-only read of two tiny partitions."""
    parts = []
    for s in specs:
        h = histogram(tables[s.table], s.column, s.lo, s.hi, s.n_bins)
        parts.append(
            h.select(
                F.lit(run_id).alias("run_id"),
                F.lit(s.table).alias("table_name"),
                F.lit(s.column).alias("column_name"),
                F.lit(s.n_bins).alias("n_bins"),
                "bucket",
                "n",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("append").partitionBy("run_id").parquet(out_path)
    return out


def psi_between_runs(
    spark,
    path: str,
    current_run: str,
    baseline_run: str,
) -> list[tuple[str, str, float, str]]:
    """(table, column, psi, band) for every monitored distribution
    present in both runs — two partition-pruned reads of bucket counts,
    PSI folded driver-side."""
    snap = spark.read.schema(HISTOGRAM_SNAPSHOT_SCHEMA).parquet(path).filter(
        F.col("run_id").isin([current_run, baseline_run])
    )
    rows = snap.collect()
    by_key: dict = {}
    for r in rows:
        key = (r.table_name, r.column_name)
        slot = by_key.setdefault(key, {"n_bins": r.n_bins, current_run: [], baseline_run: []})
        slot[r.run_id].append((r.bucket, r.n))
    out = []
    for (table, column), slot in sorted(by_key.items()):
        if not slot[current_run] or not slot[baseline_run]:
            continue
        val = psi_from_histograms(slot[baseline_run], slot[current_run], slot["n_bins"])
        out.append((table, column, val, psi_band(val)))
    return out
