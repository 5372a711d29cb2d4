"""Fold a Spark event log into per-job totals.

Spark writes the log as a rolling directory
(``eventlog_v2_<app>/events_<N>_<app>``) or as one file; both are read,
uncompressed, in order. Stages, tasks and the SQL metrics of Python
evaluation nodes are summed per job. The benchmark attributes jobs to ops
by job id: it reads the DAGScheduler's next job id before and after each
op, which also catches the jobs a streaming query runs on its own thread,
outside the op's job group.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

# Physical nodes that run Python: the UDF evaluators and the pandas /
# Arrow map and group operators.
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval|BatchEval")


def log_files(event_dir: str, app_id: str) -> list[str]:
    """The log files of one application, in write order."""
    out = []
    for name in sorted(os.listdir(event_dir)):
        if app_id not in name:
            continue
        path = os.path.join(event_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not name.endswith(".inprogress"):
            out.append(path)
    return out


def _python_accumulators(plan: dict, into: dict) -> None:
    if PYTHON_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            into[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _python_accumulators(child, into)


def _job_stats() -> dict:
    return {
        "interval": None,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "task_gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "output_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
        "python_rows": 0,
        "python_mb": 0.0,
        "python_stage_run_s": 0.0,
    }


def fold(event_dir: str, app_id: str) -> dict[int, dict]:
    """job id → totals (see ``_job_stats``) for one application (job ids
    restart with every SparkContext). Times in seconds, sizes in MB (1e6
    bytes), the job's interval as epoch seconds."""
    stage_job: dict[int, int] = {}
    python_acc: dict[int, str] = {}
    stage_run: dict[int, float] = defaultdict(float)
    jobs: dict[int, dict] = defaultdict(_job_stats)
    for path in log_files(event_dir, app_id):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid]["interval"] = (ev["Submission Time"] / 1000.0, None)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    j = jobs[ev["Job ID"]]
                    if j["interval"]:
                        j["interval"] = (j["interval"][0], ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    g = jobs[stage_job.get(ev["Stage ID"], -1)]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += int(bool(info.get("Failed")))
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    g["task_run_s"] += run_s
                    stage_run[ev["Stage ID"]] += run_s
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["task_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
                    g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                    g["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                    g["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
                    g["peak_exec_mem_mb"] = max(g["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 1e6)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    g = jobs[stage_job.get(sid, -1)]
                    g["stages"] += 1
                    python_stage = False
                    for acc in info.get("Accumulables", []):
                        name = python_acc.get(acc.get("ID"))
                        if name is None:
                            continue
                        python_stage = True
                        value = float(acc.get("Value") or 0)
                        if name == "number of output rows":
                            g["python_rows"] += int(value)
                        elif name.startswith("data "):
                            g["python_mb"] += value / 1e6
                    if python_stage:
                        g["python_stage_run_s"] += stage_run.get(sid, 0.0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_accumulators(ev.get("sparkPlanInfo", {}), python_acc)
    return dict(jobs)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
