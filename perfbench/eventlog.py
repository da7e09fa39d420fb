"""Per-job-group Spark metrics from an uncompressed Spark event log.

Spark 4.1 writes rolled logs as ``eventlog_v2_<app>/events_<N>_<app>``;
a log written with rolling off is one file per application.
Tasks are attributed to the job group (``spark.jobGroup.id``) of the job
that submitted their stage. The Python-worker figures are SQL
accumulables, summed over task updates.
"""

from __future__ import annotations

import json
import os
import re
import statistics

_PY_ACCUMS = {
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_start_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def _log_files(log_dir: str) -> list[str]:
    files = []
    for app in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, app)
        if app.startswith("eventlog_v2_"):
            rolled = [f for f in os.listdir(full) if f.startswith("events_")]
            rolled.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            files.extend(os.path.join(full, f) for f in rolled)
        elif os.path.isfile(full) and not app.endswith(".inprogress"):
            files.append(full)  # one log file per application, not rolled
    return files


def _new_group() -> dict:
    return {
        "tasks": 0, "stages": set(), "executor_run_ms": 0, "executor_cpu_ns": 0,
        "gc_ms": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "python.worker_start_ms": 0, "python.run_ms": 0,
        "python.bytes_sent": 0, "python.bytes_returned": 0,
        "stage_task_ms": {},
    }


def parse(log_dir: str) -> dict[str, dict]:
    """``{job_group: metrics}`` for every group with at least one task."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None and ev.get("Task Metrics"):
                        _add_task(groups.setdefault(group, _new_group()), ev)
    return {name: _finish(g) for name, g in groups.items()}


def _add_task(g: dict, ev: dict) -> None:
    m, info = ev["Task Metrics"], ev["Task Info"]
    g["tasks"] += 1
    g["stages"].add(ev["Stage ID"])
    g["executor_run_ms"] += m["Executor Run Time"]
    g["executor_cpu_ns"] += m["Executor CPU Time"]
    g["gc_ms"] += m["JVM GC Time"]
    g["input_bytes"] += m["Input Metrics"]["Bytes Read"]
    rd = m["Shuffle Read Metrics"]
    g["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
    g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    g["spill_bytes"] += m["Disk Bytes Spilled"]
    g["stage_task_ms"].setdefault(ev["Stage ID"], []).append(
        info["Finish Time"] - info["Launch Time"])
    for acc in info.get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            g[key] += int(acc["Update"])


def _finish(g: dict) -> dict:
    g["stages"] = len(g["stages"])
    return g


def summarize(groups: list[dict]) -> dict[str, float]:
    """The ``spark.*``/``python.*`` per-layer metrics over ``groups``.

    ``spark.task_skew`` is the slowest task over the median task in the
    stage with the most tasks.
    """
    tot = _new_group()
    tot["stages"] = 0
    for g in groups:
        for k, v in g.items():
            if k == "stage_task_ms":
                tot[k].update(v)
            else:
                tot[k] += v
    widest = max(tot["stage_task_ms"].values(), key=len, default=[0])
    return {
        "spark.tasks": tot["tasks"],
        "spark.stages": tot["stages"],
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.input_bytes": tot["input_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.task_skew": max(widest) / max(statistics.median(widest), 1),
        "python.worker_start_s": tot["python.worker_start_ms"] / 1e3,
        "python.run_s": tot["python.run_ms"] / 1e3,
        "python.bytes_sent": tot["python.bytes_sent"],
        "python.bytes_returned": tot["python.bytes_returned"],
    }
