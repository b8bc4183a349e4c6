"""SparkSession factory with scale-oriented defaults.

The reference needs no session (it delegates to Postgres); for the Spark
engine the session config IS the physical-execution contract, so the
defaults here are chosen for the 100 TB posture:

- AQE on (runtime coalescing, skew-join splitting),
- parquet aggregate pushdown (MIN/MAX/COUNT answered from row-group
  footers when possible — the profiler's hot path),
- Arrow for any pandas interchange (similarity / multimodal UDFs),
- shuffle partitions sized by env so local[32] tests and a 1000-executor
  cluster use the same code path,
- a generated-code cache sized to a monitor pass's working set, so a
  scheduled re-run reuses its compiled classes instead of recompiling
  them in Janino (and re-JITting them) on every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's LRU cache of compiled generated classes (static
# conf: read once per JVM). Counted with CodegenMetrics' compilation
# counter, profiling needs about 11 classes per table and the rest of
# a monitor pass (rules, declared query, snapshot writes, drift) about
# 75: 112 for a 3-table lake. The access pattern is cyclic, so with
# Spark's default of 100 every class is evicted before its next use
# and each warm pass recompiles about 80 (DEPLOY.md). 2048 holds a
# lake of more than 150 tables; ``extra_conf`` or ``spark-submit
# --conf`` override it.
CODEGEN_CACHE_ENTRIES = 2048


def _default_heap_gb() -> int:
    """Half the machine's RAM in GiB, clamped to [2, 64].

    Reads total memory via ``os.sysconf`` (POSIX); if that is
    unavailable (exotic platform), falls back to 8 — the conservative
    pre-r11 default rather than the sandbox-sized 64.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 8
    half_gb = total // (2 * 1024**3)
    return max(2, min(64, int(half_gb)))


def get_spark(app_name: str = "overpaint-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide. ``extra_conf``
    lets a harness layer add session-scoped settings (e.g. a benchmark's
    event log and scratch directories) without forking the builder.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # DSv2 parquet: MIN/MAX/COUNT aggregate pushdown (answered from
        # row-group statistics — the profiler's hot path becomes
        # metadata-only, the Spark analog of reading pg_class.reltuples)
        .config("spark.sql.sources.useV1SourceList", "")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode shares ONE heap between driver and all executor
        # threads: size it to the machine, not to a cluster driver. The
        # old 8g default was the r11 100x scale run's root cause — 32
        # threads exploding char-trigram arrays in 8 GB thrashed GC and
        # turned linear passes super-linear (SCALE.md r11). Default to
        # half the detected RAM capped at 64g, so a 128 GiB box gets
        # the full 64g while a 16 GiB laptop gets 8g instead of an OS
        # OOM kill; SPARK_GRAFT_DRIVER_MEM overrides either way, and on
        # a real cluster spark-submit sets per-executor memory itself.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", f"{_default_heap_gb()}g"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
