"""The session's generated-code cache holds a monitor pass.

A scheduled monitor profiles, snapshots and diffs the same tables on
every run. Spark keeps compiled generated classes in an LRU cache; when
one pass needs more classes than the cache holds, the cyclic access
pattern evicts each class before its next use and every warm pass
recompiles the lot. On sf0.001 this pass needs about 115 classes, more
than Spark's default of 100 entries (which recompiles about 80 per warm
pass); ``session.get_spark`` sizes the cache so a warm pass compiles
nothing.
"""

from overpaint_spark.profiler import profile_data_root
from overpaint_spark.rules.drift import (
    read_profile_snapshot,
    snapshot_drift,
    write_profile_snapshot,
)


def test_warm_monitor_pass_compiles_nothing(spark, sf_dir, tmp_path, compiled_classes):
    snap = str(tmp_path / "snapshots")

    def monitor_pass(run: int) -> None:
        profiles = profile_data_root(spark, sf_dir, exact=True, top_values_k=5)
        write_profile_snapshot(spark, sf_dir, snap, f"r{run}", profiles=profiles)
        if run:
            snapshot_drift(
                read_profile_snapshot(spark, snap, f"r{run}"),
                read_profile_snapshot(spark, snap, f"r{run - 1}"),
            ).collect()

    monitor_pass(0)
    monitor_pass(1)  # the first drift step compiles its own classes
    assert compiled_classes(lambda: monitor_pass(2)) == 0
