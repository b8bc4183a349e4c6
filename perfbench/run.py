"""overpaint-spark benchmark runner.

    python3 perfbench/run.py --workload monitor_lake --seed 1 --seconds 15 --trace 0

Run from the repository root. One invocation is one isolated run: it
generates the seed's inputs, starts a fresh measured process
(worker.py) in a scratch directory of its own, checks every output the
program returned, deletes the scratch directory and prints one JSON
line. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the same schedule runs with Spark's event log on, every
call tagged with a job group and JVM JIT/GC counters read around it,
and the metrics are the per-layer ones. README.md maps each per-layer
metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import inputs
import probes
import schedule
import verify

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKER_TIMEOUT_S = 160
SEARCH_LAYERS = ("operators.ann_search", "operators.mmr")

STEP_METRICS = {  # per-pass wall time of one layer, seconds
    "sources.discover_s": "sources.discover",
    "sources.footer_s": "sources.footer",
    "profiler.profile_s": "profiler.profile",
    "profiler.render_s": "profiler.render",
    "rules.evaluate_s": "rules.evaluate",
    "rules.snapshot_s": "rules.snapshot",
    "rules.drift_s": "rules.drift",
    f"queries.{schedule.MONITOR_QUERY}_s": f"queries.{schedule.MONITOR_QUERY}",
    "materialize.write_s": "materialize.write",
    "operators.ann_load_s": "operators.ann_load",
}
CALL_MS_METRICS = {  # per-call latency of one layer, milliseconds
    "operators.ann_search_ms": "operators.ann_search",
    "operators.mmr_ms": "operators.mmr",
    "streaming.ingest_ms": "streaming.ingest",
}
ENGINE_METRICS = ("spark.jobs", "spark.stages", "spark.tasks", "driver.self_s",
                  "spark.executor_run_s", "spark.executor_cpu_s", "spark.python_s",
                  "spark.shuffle_write_mb", "spark.spill_mb", "spark.untagged_jobs")


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _calls(passes: list[dict], layer: str) -> list[dict]:
    return [c for p in passes for c in p["calls"] if c["layer"] == layer]


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 15
    while probes.process_group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)


def _launch(spec: dict, run_dir: Path, cpus: str) -> tuple[dict, float]:
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir()
    spec_path = run_dir / "spec.json"
    spec_path.write_text(json.dumps(spec))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
    })
    log = open(run_dir / "worker.log", "wb")
    spawned = time.monotonic()
    proc = subprocess.Popen([sys.executable, str(HERE / "worker.py"), str(spec_path)],
                            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        _stop_group(proc)
        log.close()
    result_path = run_dir / "result.json"
    if code != 0 or not result_path.exists():
        tail = (run_dir / "worker.log").read_bytes()[-3000:].decode(errors="replace")
        raise RuntimeError(f"measured process ended with {code}:\n{tail}")
    return json.loads(result_path.read_text()), spawned


def _failures(spec: dict, result: dict) -> tuple[int, int, dict, list]:
    stages = result.get("stages", {"calls": [], "outputs": {}})
    calls = (result["setup"]["calls"] + [c for p in result["passes"] for c in p["calls"]]
             + stages["calls"])
    if spec["workload"] == "monitor_lake":
        bad, recalls = verify.verify_monitor(spec, result), []
        for i, msg in verify.verify_stages(spec, stages).items():
            bad[("stages", i)] = msg
    else:
        bad, recalls = verify.verify_serve(spec, result, k=10)
    for p, rec in enumerate(result["passes"]):
        for i, c in enumerate(rec["calls"]):
            if not c["ok"]:
                bad[(p, i)] = c["error"]
    for i, c in enumerate(stages["calls"]):
        if not c["ok"]:
            bad[("stages", i)] = c["error"]
    failed = len(bad) + sum(not c["ok"] for c in result["setup"]["calls"])
    return len(calls), failed, bad, recalls


def _layer_metrics(result: dict, timed: list[dict], recalls: list[float]) -> dict:
    m = {}
    for name, layer in STEP_METRICS.items():
        m[name] = _median([sum(c["wall_s"] for c in p["calls"] if c["layer"] == layer)
                           for p in timed]) if _calls(timed, layer) else 0.0
    for name, layer in CALL_MS_METRICS.items():
        m[name] = _median([c["wall_s"] * 1e3 for c in _calls(timed, layer)])
    build = _calls([result["setup"]], "operators.ann_build")
    m["operators.ann_build_s"] = build[0]["wall_s"] if build else 0.0
    m["operators.ann_recall"] = statistics.fmean(recalls) if recalls else 0.0
    search = [c["wall_s"] * 1e3 for layer in SEARCH_LAYERS for c in _calls(timed, layer)]
    m["search_ms.p50"] = _median(search)
    m["ingest_ms.p50"] = m["streaming.ingest_ms"]
    stages = {c["layer"]: c["wall_s"] for c in result.get("stages", {}).get("calls", [])}
    for layer in schedule.STAGE_QUERIES:
        m[layer + "_s"] = stages.get(layer, 0.0)
    m["operators.rrf_ms"] = stages.get("operators.rrf", 0.0) * 1e3
    return m


def _engine_metrics(spec: dict, result: dict, timed: list[dict]) -> tuple[dict, list]:
    events = Path(spec["run_dir"]) / "events"
    logs = [p for p in events.iterdir() if not p.name.endswith(".inprogress")]
    jobs = probes.read_event_log(str(logs[0]))
    per_pass = probes.engine_per_pass(jobs, result["passes"], "perfbench:")
    m = {k: _median([pp[k] for pp in per_pass[1:]]) for k in ENGINE_METRICS}
    m["jvm.jit_ms"] = _median([p["jit_ms"] for p in timed])
    m["jvm.gc_ms"] = _median([p["gc_ms"] for p in timed])
    m["pass_s.p50"] = _median([p["wall_s"] for p in timed])
    m["trace.hook_ms"] = _median([p["hook_s"] * 1e3 for p in timed])
    return m, per_pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=schedule.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "overpaint_spark" / "__init__.py").is_file():
        print(f"perfbench: no overpaint_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))  # the checks read the program's declared oracles

    # Spark gets half the CPUs for task threads: the JVM's JIT compiler
    # and GC threads and the Python workers keep the other half busy, and
    # a run that asks for more cores than its share of a shared host
    # measures the host's scheduler (stolen time) rather than the program
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(max(1, len(os.sched_getaffinity(0)) // 2))
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    started = time.monotonic()
    steal0 = probes.steal_s()
    try:
        n_passes = schedule.n_passes(args.seconds)
        data = run_dir / "inputs"
        data.mkdir()
        if args.workload == "monitor_lake":
            ins = inputs.write_monitor_inputs(str(data), args.seed)
        else:
            ins = inputs.write_serve_inputs(str(data), args.seed, n_passes)
        spec = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
                "run_dir": str(run_dir), "inputs": ins}
        result, spawned = _launch(spec, run_dir, cpus)

        executed = [tuple(c["layer"] for c in p["calls"]) for p in result["passes"]]
        if executed != schedule.plan(args.workload, args.seconds):
            raise RuntimeError(f"executed schedule {executed} differs from the plan")
        attempted, failed, bad, recalls = _failures(spec, result)
        timed = result["passes"][1:]
        e2e = {
            "setup_s": result["ready_mono"] - spawned,
            "pass_s.p50": _median([p["wall_s"] for p in timed]),
            "cpu_s": _median([p["cpu_s"] for p in timed]),
        }
        layers = _layer_metrics(result, timed, recalls)
        host = {"host.steal_s": probes.steal_s() - steal0, "host.cpus": float(cpus),
                "fail_ratio": failed / attempted, "peak_rss_mb": result["peak_rss_mb"],
                "cold_pass_s": result["passes"][0]["wall_s"]}
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "SPARK_GRAFT_CPUS": cpus, "run_s": time.monotonic() - started,
                  "schedule": executed,
                  "pass_wall_s": [round(p["wall_s"], 3) for p in result["passes"]],
                  "pass_cpu_s": [round(p["cpu_s"], 3) for p in result["passes"]],
                  "end_to_end": e2e, "layers": layers, "host": host,
                  "wrong_outputs": {f"{p}:{i}": msg for (p, i), msg in bad.items()}}
        if args.trace:
            engine, record["per_pass"] = _engine_metrics(spec, result, timed)
            record["engine"] = engine
            record["pass_jit_ms"] = [p["jit_ms"] for p in result["passes"]]
            record["pass_gc_ms"] = [p["gc_ms"] for p in result["passes"]]
            record["stages_skipped"] = result.get("stages", {}).get("skipped", [])
            metrics = {**layers, **engine, **host}
        else:
            metrics = e2e
        print(json.dumps(record), file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in _declared(bool(args.trace)).items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
