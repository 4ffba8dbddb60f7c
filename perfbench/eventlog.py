"""Spark event-log reader: per-job-group engine metrics.

Reads one uncompressed, non-rolling event log (JSON lines, as written
with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``) and aggregates the jobs whose
``setJobGroup`` id matches a selector: task and stage counts, executor
time, shuffle, spill, task-duration spread, and the SQL metrics the
Python-UDF nodes report for the Arrow boundary.
"""
from __future__ import annotations

import json
import os
import statistics

_PY_METRICS = {
    "time to run Python workers": "worker_run_ms",
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
_MB = 1024 * 1024


def load(path: str) -> list[dict]:
    """Events of the one application log in ``path`` (a file or a dir
    holding exactly one finished log)."""
    if os.path.isdir(path):
        logs = [f for f in os.listdir(path) if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise ValueError(f"expected one finished event log in {path}: "
                             f"{sorted(os.listdir(path))}")
        path = os.path.join(path, logs[0])
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                self.job_group[e["Job ID"]] = group
                for sid in e["Stage IDs"]:
                    self.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)

    def groups(self) -> list[str]:
        return sorted(set(self.job_group.values()))

    def summary(self, select, cores: int, wall_s: float | None = None
                ) -> dict[str, float]:
        """Engine metrics over the job groups for which ``select(group)``
        is true. ``idle_core_frac`` needs the wall time those jobs
        spanned (``wall_s``); it is omitted without one."""
        jobs = [j for j, g in self.job_group.items() if select(g)]
        stages = [s for s, info in self.stages.items()
                  if select(self.stage_group.get(s, ""))]
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        m = [t.get("Task Metrics") or {} for t in tasks]
        dur = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"])
               / 1000 for t in tasks]
        sr = [x.get("Shuffle Read Metrics", {}) for x in m]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "executor_run_s": sum(x.get("Executor Run Time", 0) for x in m)
            / 1000,
            "executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m)
            / 1e9,
            "gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1000,
            "shuffle_write_mb": sum(
                x.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) for x in m) / _MB,
            "shuffle_read_mb": sum(
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                for r in sr) / _MB,
            "fetch_wait_s": sum(r.get("Fetch Wait Time", 0) for r in sr)
            / 1000,
            "spill_mb": sum(x.get("Disk Bytes Spilled", 0) for x in m) / _MB,
            "task_p50_s": statistics.median(dur) if dur else 0.0,
            "task_max_s": max(dur, default=0.0),
        }
        if wall_s:
            out["idle_core_frac"] = max(0.0, 1 - sum(dur) / (cores * wall_s))
        py = dict.fromkeys(_PY_METRICS.values(), 0)
        for s in stages:
            for acc in self.stages[s].get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key:
                    py[key] += int(acc["Value"])
        out.update({
            "py.worker_run_s": py["worker_run_ms"] / 1000,
            "py.worker_init_s": (py["worker_start_ms"]
                                 + py["worker_init_ms"]) / 1000,
            "py.mb_to_py": py["bytes_to_py"] / _MB,
            "py.mb_from_py": py["bytes_from_py"] / _MB,
        })
        return out
