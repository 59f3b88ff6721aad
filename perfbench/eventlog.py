"""Parser for Spark's JSON event log.

The traced run enables ``spark.eventLog.enabled`` (plain JSON lines;
Spark 4 writes a rolling ``eventlog_v2_*`` directory of ``events_N_*``
files by default) and tags every job it starts with a job group named
after the benchmark span that started it.  :func:`summarize` folds the
task and stage events into per-group totals.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

MB = 2**20

# SQL metric names of the Python runners (ArrowEvalPython, MapInArrow)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_files(path: str) -> list[str]:
    """The event-log files under ``path`` in write order: a single
    file, a rolling ``eventlog_v2_*`` directory, or a directory holding
    one of those."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        def index(name: str) -> int:
            return int(re.match(r"events_(\d+)_", name).group(1))
        return [os.path.join(path, n) for n in sorted(rolled, key=index)]
    out = []
    for n in sorted(names):
        if n.startswith(".") or n.startswith("appstatus"):
            continue
        out.extend(event_files(os.path.join(path, n)))
    return out


def read_events(path: str):
    for fn in event_files(path):
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "input_records": 0, "output_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "python_sent_mb": 0.0, "python_recv_mb": 0.0,
        "map_in_arrow_stages": 0,
        # stage id -> per-task executor run times (ms)
        "_task_ms": defaultdict(list),
    }


def summarize(events) -> dict[str, dict]:
    """Per job-group totals.  Jobs started outside any group land in
    the ``""`` group.  Skipped stages (shuffle output reused) emit no
    completion event and are not counted."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            groups[(e.get("Properties") or {}).get("spark.jobGroup.id", "")]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = groups[stage_group.get(info["Stage ID"], "")]
            g["stages"] += 1
            scopes = [json.loads(r["Scope"])["name"] for r in info.get("RDD Info", [])
                      if r.get("Scope")]
            if "MapInArrow" in scopes:
                g["map_in_arrow_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"], "")]
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            # records, not "Bytes Read": that undercounts parquet, whose
            # column chunks are fetched by vectored-IO threads that do not
            # report to the task thread's file-system statistics
            g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            g["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            g["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB)
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    g["python_sent_mb"] += int(acc.get("Update", 0)) / MB
                elif acc.get("Name") == PY_RECV:
                    g["python_recv_mb"] += int(acc.get("Update", 0)) / MB
            g["_task_ms"][e["Stage ID"]].append(m.get("Executor Run Time", 0))
    return dict(groups)


def combine(groups: list[dict]) -> dict:
    """Sum several group summaries; adds ``task_skew``: max ÷ median
    task run time in the stage with the most total task time."""
    out = _new_group()
    for g in groups:
        for k, v in g.items():
            if k == "_task_ms":
                out[k].update(v)
            else:
                out[k] += v
    task_ms = out.pop("_task_ms")
    skew = 0.0
    if task_ms:
        heaviest = max(task_ms.values(), key=sum)
        median = statistics.median(heaviest)
        skew = max(heaviest) / median if median > 0 else 1.0
    out["task_skew"] = skew
    return out
