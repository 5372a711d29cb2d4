"""Streaming/batch equivalence: the Structured Streaming snapshot
differ must emit the same event multiset as the batch series diff over
the reference's real snapA/snapB (SURVEY.md §2.9; reference cadence
src/pipeline.py:13–33).

The real-data tests copy snapA.json and snapB.json from the reference
sample directory (``SAMPLE_DIR``) and skip where it is absent. The
``_generated`` variants check the same claims on every host: the stream
over a seeded ``perfbench/bikegen.py`` series must emit exactly the
generator's own status-change events."""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators.snapshot_diff import diff_snapshot_series
from wroclaw_bike_stats_spark.sources.snapshots import (
    flatten_snapshots,
    read_snapshots,
)
from wroclaw_bike_stats_spark.streaming.status_stream import (
    StatusChangeStream,
    run_available_now,
)

SNAP_A = "/root/reference/data/sample/snapA.json"
SNAP_B = "/root/reference/data/sample/snapB.json"
SAMPLE_DIR = os.path.dirname(SNAP_A)
needs_reference_data = pytest.mark.skipif(
    not os.path.isdir(SAMPLE_DIR),
    reason="reference sample data not present; the generated variant covers it",
)
TRUTH_KEY = ["timestamp", "bike_id", "event_type", "station_id"]

EVENT_KEY = ["timestamp", "bike_id", "event_type", "station_name", "station_id"]


def _multiset(df):
    return sorted(tuple(r) for r in df.select(*EVENT_KEY).collect())


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "landing": str(tmp_path / "landing"),
        "events": str(tmp_path / "events"),
        "state": str(tmp_path / "state"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    (tmp_path / "landing").mkdir()
    return d


@needs_reference_data
def test_streaming_matches_batch_diff(spark, dirs):
    """Both snapshots land before the first run: the stream (one file
    per micro-batch, state carried between batches) must emit exactly
    the batch series-diff events."""
    shutil.copy2(SNAP_A, f"{dirs['landing']}/bike_rides_a.json")
    shutil.copy2(SNAP_B, f"{dirs['landing']}/bike_rides_b.json")
    got = run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    expected = diff_snapshot_series(
        flatten_snapshots(read_snapshots(spark, [SNAP_A, SNAP_B]))
    )
    assert _multiset(got) == _multiset(expected)
    assert got.count() == 24


@needs_reference_data
def test_streaming_three_snapshots_incremental(spark, dirs, tmp_path):
    """Three snapshots across two runs: run 1 sees A+B, run 2 sees a
    synthetic C where bike 590066 vanishes — the union of both runs'
    events must equal the batch series diff over all three."""
    import json

    shutil.copy2(SNAP_A, f"{dirs['landing']}/bike_rides_a.json")
    shutil.copy2(SNAP_B, f"{dirs['landing']}/bike_rides_b.json")
    run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )

    # snapC = snapB minus bike 590066's place, newer timestamp
    doc = json.loads(open(SNAP_B, encoding="utf-8").read())
    doc["_fetched_at"] = "2025-08-21T15:07:02+02:00"
    for city in doc["data"][0]["cities"]:
        city["places"] = [
            p
            for p in city.get("places", [])
            if 590066 not in [b.get("number") for b in (p.get("bikes") or [])]
        ]
    snap_c = tmp_path / "snapC.json"
    snap_c.write_text(json.dumps(doc), encoding="utf-8")
    shutil.copy2(snap_c, f"{dirs['landing']}/bike_rides_c.json")

    got = run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    expected = diff_snapshot_series(
        flatten_snapshots(read_snapshots(spark, [SNAP_A, SNAP_B, str(snap_c)]))
    )
    assert _multiset(got) == _multiset(expected)
    # the C-run must contain 590066's departure stamped with C's ts
    dep = got.filter(
        (F.col("bike_id") == "590066")
        & (F.col("event_type") == "departed")
        & (F.col("timestamp") == "2025-08-21T15:07:02+02:00")
    )
    assert dep.count() == 1


@needs_reference_data
def test_streaming_incremental_runs(spark, dirs):
    """Cron parity: snapA processed in run 1, snapB lands later and is
    processed by run 2 against the durable state — the union of both
    runs' events equals the batch diff; run 2 reprocesses nothing."""
    shutil.copy2(SNAP_A, f"{dirs['landing']}/bike_rides_a.json")
    first = run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    assert first.count() == 0  # single snapshot → no pairs → no events

    shutil.copy2(SNAP_B, f"{dirs['landing']}/bike_rides_b.json")
    got = run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    expected = diff_snapshot_series(
        flatten_snapshots(read_snapshots(spark, [SNAP_A, SNAP_B]))
    )
    assert _multiset(got) == _multiset(expected)
    ev590066 = got.filter(F.col("bike_id") == "590066")
    assert {r["event_type"] for r in ev590066.collect()} == {"departed", "arrived"}


@needs_reference_data
def test_state_versions_are_pruned(spark, dirs, tmp_path):
    """Long-running streams must not accumulate one state dir per
    micro-batch: after N batches at most 2 versions remain (newest +
    its predecessor for retry safety)."""
    import json
    import os

    shutil.copy2(SNAP_A, f"{dirs['landing']}/bike_rides_a.json")
    shutil.copy2(SNAP_B, f"{dirs['landing']}/bike_rides_b.json")
    run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    # third batch: synthetic snapshot C (copy of B with a bumped ts)
    snap = json.load(open(SNAP_B))
    snap["_fetched_at"] = "2025-08-21T15:07:02+02:00"
    with open(f"{dirs['landing']}/bike_rides_c.json", "w") as f:
        json.dump(snap, f)
    run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )
    versions = [n for n in os.listdir(dirs["state"]) if n.startswith("v")]
    assert len(versions) <= 2, versions


# --- the same claims on a generated series -----------------------------------


def _truth_events(df):
    return sorted(tuple(r) for r in df.select(*TRUTH_KEY).collect())


def _land(paths, dirs):
    for p in paths:
        shutil.copy2(p, os.path.join(dirs["landing"], os.path.basename(p)))


def _run(spark, dirs):
    return run_available_now(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    )


def test_streaming_matches_truth_generated(spark, dirs, bike_series):
    """All snapshots land before one run: the stream (one file per
    micro-batch, state carried between batches) emits exactly the
    generator's events."""
    truth, paths = bike_series
    _land(paths, dirs)
    got = _run(spark, dirs)
    assert _truth_events(got) == truth.events
    assert got.count() == len(truth.events)


def test_streaming_three_snapshots_incremental_generated(spark, dirs, bike_series):
    """Run 1 sees the first two snapshots, run 2 the third: run 1 emits
    the first pair's events and the union after run 2 is the truth."""
    truth, paths = bike_series
    _land(paths[:2], dirs)
    first = _truth_events(_run(spark, dirs))
    last_ts = max(e[0] for e in truth.events)
    assert first == [e for e in truth.events if e[0] < last_ts]
    _land(paths[2:], dirs)
    assert _truth_events(_run(spark, dirs)) == truth.events


def test_streaming_incremental_runs_generated(spark, dirs, bike_series):
    """Cron parity, one snapshot per run against the durable state: the
    first run emits nothing, and after each later run the event log is
    the truth up to the newest landed snapshot; nothing is reprocessed."""
    truth, paths = bike_series
    _land(paths[:1], dirs)
    assert _run(spark, dirs).count() == 0  # single snapshot → no pairs
    for k, ts in enumerate(sorted({e[0] for e in truth.events}), start=1):
        _land(paths[k : k + 1], dirs)
        assert _truth_events(_run(spark, dirs)) == [e for e in truth.events if e[0] <= ts]


def test_state_versions_are_pruned_generated(spark, dirs, bike_series):
    """After three micro-batches at most 2 state versions remain."""
    _, paths = bike_series
    _land(paths, dirs)
    _run(spark, dirs)
    versions = [n for n in os.listdir(dirs["state"]) if n.startswith("v")]
    assert len(versions) <= 2, versions
    assert f"v{len(paths) - 1}" in versions, versions  # one batch per file ran


def test_state_version_is_one_file_generated(spark, dirs, bike_series):
    """Each state version is one parquet file: the state is O(fleet),
    and the next batch reads it with one task."""
    _, paths = bike_series
    _land(paths, dirs)
    _run(spark, dirs)
    last = os.path.join(dirs["state"], f"v{len(paths) - 1}")
    parts = [n for n in os.listdir(last) if n.startswith("part-") and n.endswith(".parquet")]
    assert len(parts) == 1, parts


def test_retried_batch_rereads_its_predecessor_generated(spark, dirs, bike_series):
    """A crash after batch 1 wrote its state but before its checkpoint
    commit: the restart retries batch 1, which must re-read v0 (not its
    own v1) and rewrite v1. The retry overwrites batch 1's event
    directory, so the log is the first pair's truth row for row."""
    truth, paths = bike_series
    _land(paths[:2], dirs)
    _run(spark, dirs)
    commits = os.path.join(dirs["checkpoint"], "commits")
    os.remove(os.path.join(commits, "1"))
    os.remove(os.path.join(commits, ".1.crc"))

    got = _run(spark, dirs)
    last_ts = max(e[0] for e in truth.events)
    assert _truth_events(got) == [e for e in truth.events if e[0] < last_ts]
    versions = sorted(n for n in os.listdir(dirs["state"]) if n.startswith("v"))
    assert versions[-1] == "v1", versions
    state = spark.read.parquet(os.path.join(dirs["state"], "v1"))
    second = flatten_snapshots(read_snapshots(spark, paths[1]))
    assert sorted(state.select(*second.columns).collect()) == sorted(second.collect())


def test_uncommitted_event_batch_is_not_read_generated(spark, dirs, bike_series):
    """A ``batch_id=<N>`` directory without its ``_SUCCESS`` marker (a
    crash mid-write) is never read by ``events()``, while a plain
    parquet read of the log root still reads every batch."""
    truth, paths = bike_series
    _land(paths, dirs)
    _run(spark, dirs)
    last = os.path.join(dirs["events"], f"batch_id={len(paths) - 1}")
    os.remove(os.path.join(last, "_SUCCESS"))

    got = StatusChangeStream(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    ).events()
    last_ts = max(e[0] for e in truth.events)
    assert _truth_events(got) == [e for e in truth.events if e[0] < last_ts]
    assert _truth_events(spark.read.parquet(dirs["events"])) == truth.events


def test_micro_batch_job_count_generated(spark, dirs, bike_series):
    """One micro-batch after the first runs at most 10 jobs: the batch's
    JSON is parsed once and the state read infers no schema. The stream
    thread runs its jobs under the query's run id as job group."""
    _, paths = bike_series
    _land(paths[:1], dirs)
    _run(spark, dirs)
    _land(paths[1:2], dirs)
    q = StatusChangeStream(
        spark, dirs["landing"], dirs["events"], dirs["state"], dirs["checkpoint"]
    ).start()
    q.awaitTermination()
    assert [p.numInputRows > 0 for p in q.recentProgress] == [True]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 10, sorted(jobs)
