"""Turn what a run recorded into its result line.

End-to-end metrics come from untraced runs. Per-layer metrics come from
traced runs: op spans recorded by the benchmark around each layer call,
plus the Spark event log, whose jobs are attributed to ops by job id. A
layer a workload does not touch reports 0 for its metrics.
"""

from __future__ import annotations

import json
import os

import eventlog
from harness import REPO_ROOT, WORK_ROOT, cores, median, tail

with open(os.path.join(REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    _BENCHMARK = json.load(_f)
# name → unit of every per-layer metric, and the end-to-end metrics that
# BENCHMARK.json bounds
UNITS = {m["name"]: m["unit"] for m in _BENCHMARK["per_layer"]}
TRACKED = tuple(m["name"] for m in _BENCHMARK["end_to_end"])

SPARK_SUMS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
    "task_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb", "output_mb", "python_rows", "python_mb", "python_stage_run_s",
)


def _ops(run, pass_ids, kind=None) -> list[dict]:
    return [o for o in run.ops if o["pass"] in pass_ids and (kind is None or o["kind"] == kind)]


def _walls(run, pass_ids, kind) -> list[float]:
    return [o["wall_s"] for o in _ops(run, pass_ids, kind)]


def workload_metrics(run, pass_ids: set) -> dict:
    """The end-to-end metrics only one workload has."""
    out = {}
    if run.warm_passes:
        warm = {p[:-1] + "w" for p in pass_ids}
        out["warm_pass_s"] = median(w for p, w in run.warm_passes if p in warm)
    if any(o["kind"] == "ingest_day" for o in run.ops):
        out["ingest_day_s"] = median(_walls(run, pass_ids, "ingest_day"))
        out["stream_batch_s"] = median(s for p, s in run.stream_batches if p in pass_ids)
    return out


def _spark_per_pass(run, folded: dict, pass_id: str) -> dict:
    tot = {k: 0.0 for k in SPARK_SUMS}
    peak, job_s, gap = 0.0, 0.0, 0.0
    for o in _ops(run, {pass_id}):
        jobs = [folded[j] for j in range(*o["job_ids"]) if j in folded]
        tot["jobs"] += len(jobs)
        for j in jobs:
            for k in SPARK_SUMS[1:]:
                tot[k] += j[k]
            peak = max(peak, j["peak_exec_mem_mb"])
        busy = eventlog.union_s([j["interval"] for j in jobs if j["interval"] and j["interval"][1]])
        job_s += busy
        gap += max(0.0, o["wall_s"] - busy)
    wall = run.pass_wall[pass_id]
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.tasks_per_stage": tot["tasks"] / tot["stages"] if tot["stages"] else 0.0,
        "spark.job_s": job_s,
        "spark.driver_gap_s": gap,
        "spark.task_run_s": tot["task_run_s"],
        "spark.task_cpu_s": tot["task_cpu_s"],
        "spark.task_gc_s": tot["task_gc_s"],
        "spark.core_busy": tot["task_run_s"] / (wall * cores()) if wall else 0.0,
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.shuffle_read_mb": tot["shuffle_read_mb"],
        "spark.spill_mb": tot["spill_mb"],
        "spark.input_mb": tot["input_mb"],
        "spark.output_mb": tot["output_mb"],
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.peak_exec_mem_mb": peak,
        "python.rows": tot["python_rows"],
        "python.mb": tot["python_mb"],
        "python.stage_run_s": tot["python_stage_run_s"],
    }


def _history_file(run) -> str:
    return os.path.join(WORK_ROOT, f"untraced-{run.workload}.jsonl")


def record_untraced(run, pass_s: float) -> None:
    """Add this untraced run's pass_s to the workload's history in the
    checkout, under its spec and seed: the traced runs' baseline."""
    with open(_history_file(run), "a", encoding="utf-8") as f:
        f.write(json.dumps({"spec": run.spec_key, "seed": run.seed, "pass_s": pass_s}) + "\n")


def untraced_baseline(run) -> tuple[float | None, dict]:
    """(median pass_s, which runs) of the untraced runs of this workload
    in this checkout with the same spec and seed; with the same spec and
    any seed when none has this seed."""
    try:
        with open(_history_file(run), encoding="utf-8") as f:
            rows = [r for r in map(json.loads, f) if r["spec"] == run.spec_key]
    except (OSError, ValueError, KeyError):
        rows = []
    same = [r for r in rows if r["seed"] == run.seed]
    base = same or rows
    if not base:
        return None, {}
    return median(r["pass_s"] for r in base), {"runs": len(base), "same_seed": bool(same)}


def per_layer(run, traced: set) -> tuple[dict, dict]:
    """(metrics, unavailable reasons) for the traced window."""
    values: dict[str, float] = {}
    missing: dict[str, str] = {}
    # every op ran in the last session
    folded = eventlog.fold(run.event_log_dir, run.app_id) if run.event_log_dir else {}
    if not folded:
        missing["spark.*"] = "no event log was written"
    per_pass = [_spark_per_pass(run, folded, p) for p in sorted(traced)]
    for name in per_pass[0] if per_pass else ():
        values[name] = median(pp[name] for pp in per_pass)

    ops = _ops(run, traced)
    values["session.get_spark_s"] = run.get_spark_s
    values["entry.plan_s"] = median(o["plan_s"] for o in ops if "plan_s" in o)
    values["entry.collect_s"] = median(o["collect_s"] for o in ops if "collect_s" in o)
    info = [run.pass_info[p] for p in traced if p in run.pass_info]
    values["entry.shared_build_s"] = median(i["shared_build_s"] for i in info)
    values["entry.shared_assets_built"] = median(i["shared_assets_built"] for i in info)

    lay = run.layer
    csv_bytes = sum(lay["cli.csv_bytes"])
    values["cli.write_amp"] = sum(lay["cli.version_bytes"]) / csv_bytes if csv_bytes else 0.0
    values["cli.space_amp"] = median(lay["cli.space_amp"])
    values["upsert.rows_added"] = sum(lay["upsert.rows_added"])
    values["daily_metrics.day_s"] = median(_walls(run, traced, "daily_metrics"))
    values["daily_metrics.jobs_per_day"] = median(o["jobs"] for o in _ops(run, traced, "daily_metrics"))
    values["daily_metrics.all_days_s"] = median(_walls(run, traced, "all_days"))
    values["range_metrics.query_s"] = median(_walls(run, traced, "range_metrics"))
    values["range_metrics.jobs_per_query"] = median(o["jobs"] for o in _ops(run, traced, "range_metrics"))
    series = median(_walls(run, traced, "snapshot_series"))
    stream = median(_walls(run, traced, "status_stream"))
    values["snapshot_diff.series_s"] = series
    values["sources.snapshot_rows"] = median(lay["sources.snapshot_rows"])
    values["status_stream.batch_s"] = median(s for p, s in run.stream_batches if p in traced)
    values["status_stream.overhead_s"] = stream - series if stream else 0.0
    values["status_stream.state_mb"] = median(lay["status_stream.state_mb"])
    values["status_stream.events"] = median(lay["status_stream.events"])

    wl = workload_metrics(run, traced)
    values["curate.warm_pass_s"] = wl.get("warm_pass_s", 0.0)
    values["bike.ingest_day_s"] = wl.get("ingest_day_s", 0.0)
    values["bike.stream_batch_s"] = wl.get("stream_batch_s", 0.0)
    base, used = untraced_baseline(run)
    run.extra["trace_baseline"] = used
    if base:
        values["trace.overhead"] = median(run.pass_wall[p] for p in traced) / base - 1.0
    else:
        missing["trace.overhead"] = "no untraced run of this workload and spec in this checkout to compare with"
    for name in UNITS:
        if name not in values:
            values[name] = 0.0
            missing.setdefault(name, "not measured in this run")
    return values, missing


def end_to_end(run, window: set) -> dict:
    """Every end-to-end metric this workload has, with its unit."""
    lat = [o["wall_s"] for o in _ops(run, window)]
    tail_v, pct, n = tail(lat)
    attempted = len(run.ops)
    out = {
        "setup_s": {"value": run.setup_s, "unit": "s"},
        "pass_s": {"value": median(run.pass_wall[p] for p in window), "unit": "s"},
        "op_p50_s": {"value": median(lat), "unit": "s"},
        "op_tail_s": {"value": tail_v, "unit": "s", "percentile": round(pct, 1), "samples": n},
        "fail_ratio": {"value": sum(not o["ok"] for o in run.ops) / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": run.peak_rss_mb(), "unit": "MB"},
        "peak_heap_mb": {"value": run.peak_heap_mb(), "unit": "MB"},
    }
    for name, value in workload_metrics(run, window).items():
        out[name] = {"value": value, "unit": "s"}
    return out


def report(run, windows: dict) -> dict:
    run.pass_wall = {p: w for win in windows.values() for p, w in win}
    window = {p for p, _ in windows["window"]}
    failed = sum(1 for o in run.ops if not o["ok"])
    details = {}
    if run.trace:
        values, missing = per_layer(run, window)
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}
        details["unavailable"] = missing
    else:
        details["end_to_end"] = end_to_end(run, window)
        metrics = {k: details["end_to_end"][k] for k in TRACKED}
    details.update(
        {
            "prime_passes_s": [w for _, w in windows["prime"]],
            "get_spark_s": run.get_spark_s,
            "passes": len(window),
            "jobs_per_pass": median(sum(o["jobs"] for o in _ops(run, {p})) for p in window),
            "stages_per_pass": median(sum(o["stages"] for o in _ops(run, {p})) for p in window),
            **run.extra,
            "failures": [f"{o['group']}: {o['error']}" for o in run.ops if not o["ok"]][:10],
        }
    )
    result = {"correct": failed == 0, "attempted": len(run.ops), "failed": failed, "metrics": metrics}
    return {"result": result, "details": details}
