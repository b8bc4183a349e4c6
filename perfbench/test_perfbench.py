"""Smoke tests of the benchmark itself: a one-timed-pass run of each
workload, traced and untraced, must emit every declared metric with its
unit, check clean, and execute the same pass schedule both times."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

import inputs
from schedule import plan

# each smoke run starts a fresh JVM; a bare pytest leaves them out
pytestmark = pytest.mark.slow

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def _record(proc: subprocess.CompletedProcess) -> dict:
    return next(json.loads(line) for line in proc.stderr.splitlines()
                if line.startswith('{"workload"'))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_schedule_emits_every_metric_and_repeats_its_schedule(workload):
    records = []
    for seed, trace in ((1, 0), (2, 1)):
        proc = _run(ROOT, workload, seed, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        declared = BENCH["per_layer" if trace else "end_to_end"]
        assert {k: v["unit"] for k, v in out["metrics"].items()} == {
            m["name"]: m["unit"] for m in declared}
        if not trace:
            assert all(v["value"] > 0 for v in out["metrics"].values())
        records.append(_record(proc))
    schedules = [[tuple(p) for p in r["schedule"]] for r in records]
    assert schedules[0] == schedules[1] == plan(workload, 1)
    assert not any((ROOT / ".perfbench_runs").glob(f"{workload}-*"))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "monitor_lake", 1, 0)
    assert proc.returncode != 0 and proc.stdout == ""


def test_every_seed_gives_the_same_sizes():
    a, b = inputs.lake_tables(1, 0), inputs.lake_tables(2, 0)
    assert {k: t.shape for k, t in a.items()} == {k: t.shape for k, t in b.items()}
    assert not a["events"].equals(b["events"])
    assert inputs.lake_tables(1, 1)["events"].equals(inputs.lake_tables(1, 1)["events"])
    shifted = np.mean(inputs.lake_tables(1, 1)["events"]["value"].to_numpy())
    assert shifted > np.mean(a["events"]["value"].to_numpy())
