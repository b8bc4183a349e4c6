"""The pass schedule: a function of the workload and ``--seconds`` only.

Spark in a fresh process keeps speeding up for tens of passes (JIT,
codegen caches, Python worker pools), so there is no steady state to
wait for. Figures are comparable between runs only when every run
starts from a fresh process and executes the same passes in the same
order. The schedule therefore never looks at a clock: pass 0 is the cold
pass, and ``--seconds`` buys a fixed number of timed passes.
"""

from __future__ import annotations

import math

WORKLOADS = ("monitor_lake", "serve_index")

# Seconds of --seconds that buy one timed pass. Not a measured pass
# cost: a divisor chosen so that a run at the declared --seconds (10)
# times two passes after the cold one, which keeps every run of the
# benchmark inside its total time budget.
SECONDS_PER_TIMED_PASS = 5

# the declared query each monitor pass runs and writes out, and the
# declared queries that force one curation stage each, once, at the end
# of a traced monitor run (per-layer metric -> query)
MONITOR_QUERY = "events_daily_drift"
STAGE_QUERIES = {
    "operators.clean": "corpus_clean_v3",
    "operators.span_scrub": "corpus_span_scrubbed",
    "operators.lm": "text_lm_score",
    "operators.lsh": "dedup_minhash_lsh",
    "operators.components": "dedup_clusters",
    "operators.image_decode": "multimodal_photo_phash",
    "operators.phash_pairs": "multimodal_phash_neardups",
    "queries.corpus_pipeline": "corpus_pipeline",
}

MONITOR_STEPS = ("sources.discover", "sources.footer", "profiler.profile",
                 "profiler.render", "rules.evaluate", "queries." + MONITOR_QUERY,
                 "materialize.write", "rules.snapshot")
SERVE_STEPS = ("operators.ann_search", "operators.mmr", "streaming.ingest",
               "operators.ann_load")
# hybrid_rrf_indexed costs more than the rest of a serving pass
# together, so it is not repeated per pass: a traced serve run makes it
# once, after the schedule, on the grown index (operators.rrf)


# the monitor's rule suite, in the program's own config format
# (rules/config.py), and its monitored histograms (table, column, lo, hi,
# bins); the runner recomputes both in DuckDB
RULES = {
    "events": [{"rule": "not_null", "column": "user_id"},
               {"rule": "in_range", "column": "value", "lo": 0.0, "hi": 400.0},
               {"rule": "freshness_within", "column": "ts",
                "not_before": "2024-01-15 00:00:00"}],
    "lineitem": [{"rule": "in_range", "column": "l_discount", "lo": 0.0, "hi": 0.1},
                 {"rule": "in_range", "column": "l_quantity", "lo": 1.0, "hi": 50.0},
                 {"rule": "accepted_values", "column": "l_returnflag",
                  "values": ["A", "N", "R"]},
                 {"rule": "row_count_at_least", "n": 1000}],
    "orders": [{"rule": "not_null", "column": "o_custkey"},
               {"rule": "unique", "column": "o_orderkey"},
               {"rule": "accepted_values", "column": "o_orderstatus",
                "values": ["F", "O", "P"]},
               {"rule": "in_range", "column": "o_totalprice", "lo": 1000.0,
                "hi": 500000.0}],
}
HISTOGRAMS = [("events", "value", 0.0, 400.0, 10),
              ("lineitem", "l_extendedprice", 0.0, 105000.0, 10)]


def n_passes(seconds: int) -> int:
    """Cold pass plus the timed passes."""
    return 1 + max(1, math.ceil(seconds / SECONDS_PER_TIMED_PASS))


def steps(workload: str, p: int) -> tuple[str, ...]:
    """Program calls of pass ``p``, in order. The monitor has no
    previous snapshot to diff against in its first pass."""
    if workload == "monitor_lake":
        return MONITOR_STEPS + (("rules.drift",) if p else ())
    return SERVE_STEPS


def plan(workload: str, seconds: int) -> list[tuple[str, ...]]:
    return [steps(workload, p) for p in range(n_passes(seconds))]
