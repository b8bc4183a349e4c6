"""Measurements taken from outside the program: process-tree CPU and
memory from /proc, host steal time from /proc/stat, and per-job Spark
accounting parsed from an uncompressed event log (standard library
only)."""

from __future__ import annotations

import json
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """Core-seconds used by the tree so far. A process's cutime/cstime
    hold its reaped children, so Python workers that already exited
    still count."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def hwm_kb(pid: int) -> int:
    """Peak resident set of one process (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of a process tree: each process's own high-water mark,
    sampled at pass boundaries and summed over every process seen."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in process_tree(self.root):
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm_kb(pid))

    @property
    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def steal_s() -> float:
    """Host-wide stolen core-seconds since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def process_group_alive(pgid: int) -> list[int]:
    alive = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields and int(fields[2]) == pgid and fields[0] != "Z":
                alive.append(int(entry))
    return alive


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(path: str) -> list[dict]:
    """Jobs with their tag, span and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "submit_ms": ev["Submission Time"],
                    "end_ms": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                    "shuffle_write_b": 0, "spill_b": 0,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                job["run_ms"] += m.get("Executor Run Time", 0)
                job["cpu_ns"] += m.get("Executor CPU Time", 0)
                job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end_ms"] is not None]


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_per_pass(jobs: list[dict], passes: list[dict], tag_prefix: str) -> list[dict]:
    """Attribute each job to the pass whose wall window holds its
    submission time, then sum the engine counters per pass. A job
    counts as untagged when it ran inside a traced call without that
    call's job-group tag, i.e. a program thread submitted it."""
    out = []
    for p in passes:
        lo, hi = p["t0_ms"], p["t1_ms"]
        mine = [j for j in jobs if lo <= j["submit_ms"] <= hi]
        spans = [(max(j["submit_ms"], lo), min(j["end_ms"], hi)) for j in mine]
        run_s = sum(j["run_ms"] for j in mine) / 1e3
        cpu_s = sum(j["cpu_ns"] for j in mine) / 1e9
        out.append({
            "spark.jobs": len(mine),
            "spark.stages": sum(j["stages"] for j in mine),
            "spark.tasks": sum(j["tasks"] for j in mine),
            "spark.untagged_jobs": sum(
                1 for j in mine if not (j["group"] or "").startswith(tag_prefix)),
            "driver.self_s": (hi - lo - _union_ms(spans)) / 1e3,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": cpu_s,
            "spark.python_s": max(0.0, run_s - cpu_s),
            "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in mine) / 2**20,
            "spark.spill_mb": sum(j["spill_b"] for j in mine) / 2**20,
        })
    return out
