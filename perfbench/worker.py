"""The measured process: one fresh Python + JVM per run.

``python3 perfbench/worker.py <spec.json>`` starts a session, prepares
the workload (the end of which marks ``setup_s``), runs the fixed pass
schedule and writes what it measured and what the program returned to
``<run>/result.json``. It only calls the program's public functions;
checking their outputs is left to the runner, outside every timed
region.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from probes import PeakRss, tree_cpu_s
from schedule import HISTOGRAMS, MONITOR_QUERY, RULES, STAGE_QUERIES, n_passes

TAG = "perfbench:"
STARTED = time.monotonic()
# A traced run starts no curation stage later than this after the
# worker started, so that a run on a host that is losing CPU to other
# tenants still ends inside the runner's deadline; a stage not started
# is listed as skipped and reads 0.
STAGES_START_BY_S = 110


def _jsonable(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


class Calls:
    """Times every call into the program. With tracing on it also puts
    the call's jobs in a job group named after the layer and reads the
    JVM's JIT and GC counters around it."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.records: list[dict] = []
        self.hook_s = 0.0
        if trace:
            mf = spark._jvm.java.lang.management.ManagementFactory
            self._jit = mf.getCompilationMXBean()
            self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jvm_ms(self) -> tuple[int, int]:
        return (self._jit.getTotalCompilationTime(),
                sum(g.getCollectionTime() for g in self._gcs))

    def __call__(self, layer: str, fn, *args, **kwargs):
        rec = {"layer": layer, "ok": True}
        if self.trace:
            h0 = time.monotonic()
            self.sc.setJobGroup(TAG + layer, layer, False)
            jit0, gc0 = self.jvm_ms()
            self.hook_s += time.monotonic() - h0
        t0 = time.monotonic()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # a failed call is counted, the run goes on
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            out = None
        rec["wall_s"] = time.monotonic() - t0
        if self.trace:
            h0 = time.monotonic()
            jit1, gc1 = self.jvm_ms()
            rec["jit_ms"], rec["gc_ms"] = jit1 - jit0, gc1 - gc0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.hook_s += time.monotonic() - h0
        self.records.append(rec)
        return out

    def take(self) -> list[dict]:
        out, self.records = self.records, []
        return out


class MonitorLake:
    """The reference product: profile, render, validate, snapshot and
    diff a lake, alternating between two seeded variants."""

    def __init__(self, spark, spec, call):
        self.spark, self.call = spark, call
        self.lakes = spec["inputs"]["lakes"]
        self.corpus = spec["inputs"]["corpus"]
        self.snap = os.path.join(spec["run_dir"], "snapshots")
        self.written = os.path.join(spec["run_dir"], "written")

    def setup(self) -> None:
        from overpaint_spark.rules.config import suite_from_config
        from overpaint_spark.rules.psi import HistogramSpec
        from overpaint_spark.sources.catalog import discover_tables, load_table

        # catalog warm-up: resolve every table's schema once
        for h in discover_tables(self.lakes[0]):
            load_table(self.spark, h).schema
        self.suite = suite_from_config(RULES)
        self.hist_specs = [HistogramSpec(*h) for h in HISTOGRAMS]

    def run_pass(self, p: int) -> dict:
        from overpaint_spark.materialize import materialize
        from overpaint_spark.profiler.profile import profile_data_root
        from overpaint_spark.profiler.render import render_tables
        from overpaint_spark.queries import QUERIES
        from overpaint_spark.rules.drift import (
            read_profile_snapshot, snapshot_drift, write_profile_snapshot)
        from overpaint_spark.rules.psi import psi_between_runs, write_histogram_snapshot
        from overpaint_spark.rules.rules import evaluate_rules
        from overpaint_spark.sources.catalog import (
            discover_tables, footer_row_count, load_table)

        spark, call = self.spark, self.call
        lake = self.lakes[p % 2]
        prof_dir, hist_dir = f"{self.snap}/profile", f"{self.snap}/hist"
        handles = call("sources.discover", discover_tables, lake) or []
        counts = call("sources.footer",
                      lambda: {h.name: footer_row_count(h.path) for h in handles})
        profiles = call("profiler.profile", profile_data_root, spark, lake,
                        exact=True, top_values_k=5)
        text = call("profiler.render", render_tables, profiles, mode="exact")

        tables = {}

        def evaluate():
            tables.update({h.name: load_table(spark, h) for h in handles})
            return evaluate_rules(spark, tables, self.suite).collect()

        rules = call("rules.evaluate", evaluate)
        # the declared query runs once, eagerly, through the program's
        # materialize(); the write then reads the materialized rows
        rel = call("queries." + MONITOR_QUERY,
                   lambda: materialize(QUERIES[MONITOR_QUERY](spark, lake)))
        written = f"{self.written}/p{p}"
        call("materialize.write", lambda: rel.write.parquet(written))

        def snapshot():
            write_profile_snapshot(spark, lake, prof_dir, f"p{p}", exact=True,
                                   profiles=profiles)
            write_histogram_snapshot(spark, tables, hist_dir, f"p{p}", self.hist_specs)

        call("rules.snapshot", snapshot)
        out = {
            "lake": p % 2,
            "tables": [h.name for h in handles],
            "footer": counts,
            "profiles": [
                {"name": t.name, "exact_rows": t.exact_rows,
                 "estimated_rows": t.estimated_rows, "error": t.error,
                 "columns": [{"name": c.name, "type": c.data_type.simpleString(),
                              "min": _jsonable(c.min_value), "max": _jsonable(c.max_value),
                              "top": c.top_values} for c in t.columns]}
                for t in profiles or []],
            "render": text,
            "rules": [[r.table_name, r.rule_name, r.column_name, r.metric_value, r.passed]
                      for r in rules or []],
            "written": written,
        }
        if p:
            def drift():
                rows = snapshot_drift(read_profile_snapshot(spark, prof_dir, f"p{p}"),
                                      read_profile_snapshot(spark, prof_dir, f"p{p - 1}")
                                      ).collect()
                return rows, psi_between_runs(spark, hist_dir, f"p{p}", f"p{p - 1}")

            rows, psi = call("rules.drift", drift) or ([], [])
            out["drift"] = [[r.table_name, r.column_name, r.metric, r.prev_value,
                             r.curr_value, r.pct_change, r.drift_alert] for r in rows]
            out["psi"] = [list(x) for x in psi]
        return out

    def run_stages(self) -> tuple[dict, list]:
        """Force each curation stage alone through its declared query,
        once, on the seeded corpus; the rows are kept for the checks."""
        from overpaint_spark.queries import QUERIES

        out, skipped = {}, []
        os.makedirs(self.written, exist_ok=True)
        for layer, name in STAGE_QUERIES.items():
            if time.monotonic() - STARTED > STAGES_START_BY_S:
                skipped.append(layer)
                continue
            rows = self.call(layer, lambda: QUERIES[name](self.spark, self.corpus).toPandas())
            if rows is not None:
                out[layer] = f"{self.written}/{name}.parquet"
                rows.to_parquet(out[layer])
        return out, skipped


class ServeIndex:
    """Index serving under ingest: query batches against a persisted
    IVF-PQ index while a stream grows it, one micro-batch per pass."""

    N_PROBE, K, DEPTH = 4, 10, 50

    def __init__(self, spark, spec, call):
        self.spark, self.call = spark, call
        self.inputs = spec["inputs"]
        run = spec["run_dir"]
        self.index_path = f"{run}/index"
        self.stream_src = f"{run}/arriving"
        self.ckpt = f"{run}/checkpoints/ingest"
        os.makedirs(self.stream_src)

    def setup(self) -> None:
        from overpaint_spark.operators.ann_index import (
            build_ann_index, load_ann_index, persist_ann_index)
        from overpaint_spark.sources.catalog import load_table

        corpus = self.inputs["corpus"]
        self.vectors = load_table(self.spark, f"{corpus}/embeddings.parquet")
        self.docs = load_table(self.spark, f"{corpus}/documents.parquet")

        def build():
            idx = build_ann_index(self.vectors, dim=64, n_centroids=16,
                                  n_subspaces=8, n_codes=16)
            persist_ann_index(idx, self.index_path)

        self.call("operators.ann_build", build)
        self.index = self.call("operators.ann_load", load_ann_index, self.spark,
                               self.index_path)

    def _queries(self, batch: dict, with_terms: bool):
        if with_terms:
            return self.spark.createDataFrame(
                list(zip(batch["ids"], batch["terms"], batch["vecs"])),
                "query_id long, terms array<string>, qvec array<float>")
        return self.spark.createDataFrame(list(zip(batch["ids"], batch["vecs"])),
                                          "query_id long, qvec array<float>")

    def _ingest(self) -> None:
        from overpaint_spark.streaming.ann_ingest import write_ann_ingest_stream

        stream = (self.spark.readStream.schema("vec_id long, embedding array<float>")
                  .parquet(self.stream_src))
        q = write_ann_ingest_stream(stream, self.index_path, self.ckpt,
                                    trigger_available_now=True)
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("ingest micro-batch did not finish in 120 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def _vectors(self, p: int):
        """The true vectors of the index as of pass ``p``: the corpus
        plus every batch the stream has ingested."""
        vectors = self.vectors.select("vec_id", "embedding")
        if p:
            vectors = vectors.unionByName(self.spark.read.parquet(self.stream_src))
        return vectors

    def run_pass(self, p: int) -> dict:
        from pyspark.sql import functions as F

        from overpaint_spark.operators.ann_index import load_ann_index, search_ann_index
        from overpaint_spark.operators.retrieval import mmr_select_indexed

        spark, call = self.spark, self.call
        qs = self.inputs["queries"][p]
        vectors = self._vectors(p)
        qdf = self._queries(qs["search"], False).select(
            F.col("query_id").alias("vec_id"), F.col("qvec").alias("embedding"))
        rows = call("operators.ann_search", lambda: search_ann_index(
            self.index, qdf, n_probe=self.N_PROBE, k=self.K).collect())
        out = {"search": [[r.query_id, r.neighbor_id, r.rank] for r in rows or []]}
        mq = self._queries(qs["mmr"], False)
        rows = call("operators.mmr", lambda: mmr_select_indexed(
            self.index, mq, vectors, k=self.K, shortlist=self.DEPTH,
            n_probe=self.N_PROBE).collect())
        out["mmr"] = [[r.query_id, r.select_rank, r.item_id] for r in rows or []]
        # staging the arriving file is input preparation, not ingest work
        shutil.copy(self.inputs["ingest"][p], self.stream_src)
        call("streaming.ingest", self._ingest)
        self.index = call("operators.ann_load", load_ann_index, spark,
                          self.index_path) or self.index
        return out

    def run_stages(self) -> tuple[dict, list]:
        """One hybrid-RRF batch on the index every pass has grown."""
        from overpaint_spark.operators.retrieval import hybrid_rrf_indexed

        vectors = self._vectors(len(self.inputs["queries"]))
        rq = self._queries(self.inputs["rrf"], True)
        rows = self.call("operators.rrf", lambda: hybrid_rrf_indexed(
            self.docs, self.index, rq, vectors, k=self.K, depth=self.DEPTH,
            n_probe=self.N_PROBE).collect())
        return {"operators.rrf": [[r.query_id, r.doc_id, r.lex_rank, r.vec_rank, r.rrf_ppm]
                                  for r in rows or []]}, []


WORKLOADS = {"monitor_lake": MonitorLake, "serve_index": ServeIndex}


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    run = spec["run_dir"]
    from overpaint_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{run}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run}/tmp -Dderby.system.home={run}/metastore",
    }
    if spec["trace"]:
        os.makedirs(f"{run}/events")
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{run}/events",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(f"perfbench-{spec['workload']}", extra_conf=conf)
    call = Calls(spark, spec["trace"])
    rss = PeakRss(os.getpid())
    workload = WORKLOADS[spec["workload"]](spark, spec, call)
    workload.setup()
    result = {"ready_mono": time.monotonic(), "setup": {"calls": call.take()}, "passes": []}
    rss.sample()
    for p in range(n_passes(spec["seconds"])):
        jvm0 = call.jvm_ms() if spec["trace"] else (0, 0)
        hook0 = call.hook_s
        cpu0, t0_ms, t0 = tree_cpu_s(os.getpid()), time.time() * 1e3, time.monotonic()
        outputs = workload.run_pass(p)
        wall = time.monotonic() - t0
        t1_ms, cpu1 = time.time() * 1e3, tree_cpu_s(os.getpid())
        jvm1 = call.jvm_ms() if spec["trace"] else (0, 0)
        rss.sample()
        result["passes"].append({
            "wall_s": wall, "cpu_s": cpu1 - cpu0, "t0_ms": t0_ms, "t1_ms": t1_ms,
            "jit_ms": jvm1[0] - jvm0[0], "gc_ms": jvm1[1] - jvm0[1],
            "hook_s": call.hook_s - hook0,
            "calls": call.take(), "outputs": outputs})
    rss.sample()
    result["peak_rss_mb"] = rss.mb
    if spec["trace"]:
        # after the schedule and the RSS peak, so neither sees it
        outputs, skipped = workload.run_stages()
        result["stages"] = {"outputs": outputs, "skipped": skipped, "calls": call.take()}
    spark.stop()
    with open(os.path.join(run, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
