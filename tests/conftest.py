import itertools

import pytest

from overpaint_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("overpaint-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def untagged_jobs(spark):
    """Runs ``fn`` under a job group and returns the ids of the Spark jobs
    it started outside that group (work handed to a thread that did not
    inherit the caller's local properties)."""
    sc = spark.sparkContext
    status = sc.statusTracker()

    def run(fn) -> list[int]:
        before = set(status.getJobIdsForGroup(None))
        sc.setJobGroup("untagged-jobs-check", "untagged-jobs-check", False)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(set(status.getJobIdsForGroup(None)) - before)

    return run


@pytest.fixture
def compiled_classes(spark):
    """Runs ``fn`` and returns how many generated classes Spark compiled
    meanwhile: the misses of its codegen cache, counted by the samples
    of CodegenMetrics' compilation-time histogram."""
    metric = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def run(fn) -> int:
        before = metric.getCount()
        fn()
        return metric.getCount() - before

    return run


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_by_stage(spark):
    """Runs ``fn`` under a fresh job group and returns ``{job id: [stage
    names]}`` for the Spark jobs it ran in that group, read through
    ``statusTracker`` once the listener bus has delivered their events.
    A schema-inference job shows as a ``parquet at ...`` stage."""
    sc = spark.sparkContext
    status = sc.statusTracker()

    def run(fn) -> dict[int, list[str]]:
        group = f"jobs-by-stage-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group, False)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {}
        for job in sorted(status.getJobIdsForGroup(group)):
            info = status.getJobInfo(job)
            stages = [status.getStageInfo(s) for s in (info.stageIds if info else [])]
            out[job] = [st.name for st in stages if st is not None]
        return out

    return run
