"""Tiny untraced and traced runs of every workload (``tiny_spec.json``:
sf0.001 data, a few ops, small generated bike inputs).

Checks that each run is correct, that the untraced run reports every
end-to-end metric of BENCHMARK.json and the traced run every per-layer
metric (or records it as unavailable with a reason), and that the runs
leave the repository as they found it: ``git status --porcelain``
unchanged and no file outside ``perfbench/.work`` created or modified.

    python3 -m pytest -q -p no:cacheprovider perfbench/tests
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402

WORKLOADS = ("sql_warm", "curate_cold", "bike_pipeline")
# Named by the workload that owns the layer; every workload reports every
# metric, as 0 where it does not touch the layer.
OWNED = {
    "sql_warm": ["entry.plan_s", "entry.collect_s", "spark.jobs", "spark.tasks", "spark.task_run_s"],
    "curate_cold": ["entry.shared_build_s", "entry.shared_assets_built", "curate.warm_pass_s"],
    "bike_pipeline": [
        "cli.write_amp", "cli.space_amp", "daily_metrics.day_s", "daily_metrics.jobs_per_day",
        "daily_metrics.all_days_s", "range_metrics.query_s", "range_metrics.jobs_per_query",
        "snapshot_diff.series_s", "sources.snapshot_rows", "status_stream.batch_s",
        "status_stream.state_mb", "status_stream.events", "bike.ingest_day_s", "bike.stream_batch_s",
    ],
}


def _tree_state() -> dict:
    """path → (size, mtime) of every file outside .git and perfbench/.work."""
    state = {}
    skip = {os.path.join(REPO, ".git"), os.path.join(BENCH, ".work")}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if os.path.join(root, d) not in skip]
        for f in files:
            p = os.path.join(root, f)
            st = os.lstat(p)
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


def _git_status():
    try:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


@pytest.fixture(scope="module")
def runs():
    before, git_before = _tree_state(), _git_status()
    out = {}
    for wl in WORKLOADS:
        # untraced first: the traced run measures its overhead against it
        for trace in ("0", "1"):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "5",
                 "--seconds", "0", "--trace", trace, "--spec", os.path.join(HERE, "tiny_spec.json")],
                cwd=REPO, capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            out[wl, trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return out, before, _tree_state(), git_before, _git_status()


@pytest.mark.parametrize("wl", WORKLOADS)
def test_traced_run_is_correct_and_reports_every_layer(runs, wl):
    details, result = runs[0][wl, "1"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    metrics = result["metrics"]
    assert set(metrics) == set(layers.UNITS)
    for name, m in metrics.items():
        assert isinstance(m["value"], (int, float)) and m["unit"] == layers.UNITS[name]
        if m["value"] == 0:
            assert name in details["unavailable"] or name not in OWNED[wl], name
    for name in OWNED[wl] + ["trace.overhead", "session.get_spark_s"]:
        assert name not in details["unavailable"], (name, details["unavailable"].get(name))
    assert metrics["spark.jobs"]["value"] > 0 and metrics["spark.tasks"]["value"] > 0
    assert metrics["trace.overhead"]["value"] > -1
    assert details["trace_baseline"]["same_seed"], "the untraced run with this seed and spec"
    if wl == "curate_cold":
        assert metrics["python.rows"]["value"] > 0, "semdedup_keep runs a Python UDF"
    if wl == "bike_pipeline":
        assert metrics["upsert.rows_added"]["value"] == 0, "re-load must add nothing"


@pytest.mark.parametrize("wl", WORKLOADS)
def test_untraced_run_reports_end_to_end_metrics(runs, wl):
    details, result = runs[0][wl, "0"]
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert details["end_to_end"]["fail_ratio"]["value"] == 0


def test_runs_write_only_inside_work_dir(runs):
    _, before, after, git_before, git_after = runs
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    assert changed == []
    assert git_before == git_after
