"""Spark event-log parser: executor work per job group.

Each finished task's metrics are charged to the job group of its stage,
taken from the stage's submission properties (or, failing that, from
the first job that listed the stage).  The benchmark sets one job group
per span (trace.py), so a group's totals are the executor work its span
launched, including work of the InheritableThread children it started.
"""

from __future__ import annotations

import json
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"
MB = 1024.0 * 1024.0
FIELDS = ("tasks", "exec_task_s", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")


def _task_totals(metrics: dict) -> dict[str, float]:
    read = metrics.get("Shuffle Read Metrics", {})
    write = metrics.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "exec_task_s": metrics.get("Executor Run Time", 0) / 1e3,
        "exec_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "shuffle_mb": (read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                       + write.get("Shuffle Bytes Written", 0)) / MB,
        "spill_mb": metrics.get("Disk Bytes Spilled", 0) / MB,
    }


def parse(path: str | Path) -> dict[str | None, dict[str, float]]:
    """Job group (None for work outside any group) -> summed task metrics."""
    stage_group: dict[int, str | None] = {}
    stage_tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(JOB_GROUP)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP)
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                stage_tasks.setdefault(ev["Stage ID"], []).append(
                    _task_totals(ev["Task Metrics"]))
    out: dict[str | None, dict[str, float]] = {}
    for sid, tasks in stage_tasks.items():
        acc = out.setdefault(stage_group.get(sid), dict.fromkeys(FIELDS, 0.0))
        for t in tasks:
            for k in FIELDS:
                acc[k] += t[k]
    return out


def total(groups: dict[str | None, dict[str, float]]) -> dict[str, float]:
    acc = dict.fromkeys(FIELDS, 0.0)
    for g in groups.values():
        for k in FIELDS:
            acc[k] += g[k]
    return acc


def find_log(log_dir: str | Path) -> Path:
    """The single event log a session wrote into log_dir."""
    logs = [p for p in Path(log_dir).iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
