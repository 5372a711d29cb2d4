"""Golden tests for the snapshot track (S11, O14–O17, J4) against the
reference's curated real snapshots, and the same claims on a seeded
``perfbench/bikegen.py`` series.

Ports the assertions of reference tests/test_bike_status_changes.py:
22–42 (snapA→snapB diff: bike 590066 freestanding→station emits the
exact departed+arrived pair) and :97–139 (freestanding-electric
normalization) to the Spark formulation — re-expressed over DataFrames,
not translated.

The real-data tests read snapA.json and snapB.json from the reference
sample directory (``SAMPLE_DIR``) and skip where it is absent. The ``_generated``
variants check the same claims on every host against the generator's
own truth (its exact status-change events).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators.snapshot_diff import (
    diff_snapshot_pair,
    diff_snapshot_series,
)
from wroclaw_bike_stats_spark.sources.snapshots import (
    flatten_snapshots,
    read_snapshots,
)

SNAP_A = "/root/reference/data/sample/snapA.json"
SNAP_B = "/root/reference/data/sample/snapB.json"
SAMPLE_DIR = os.path.dirname(SNAP_A)
needs_reference_data = pytest.mark.skipif(
    not os.path.isdir(SAMPLE_DIR),
    reason="reference sample data not present; the generated variant covers it",
)
TRUTH_KEY = ["timestamp", "bike_id", "event_type", "station_id"]


def _truth_events(df):
    """An event frame as sorted bikegen ``Truth.events`` tuples."""
    return sorted(tuple(r) for r in df.select(*TRUTH_KEY).collect())


@pytest.fixture(scope="module")
def flat(spark):
    return flatten_snapshots(read_snapshots(spark, [SNAP_A, SNAP_B])).cache()


@pytest.fixture(scope="module")
def pair_events(spark, flat):
    ts_a, ts_b = sorted(
        r["snapshot_ts"] for r in flat.select("snapshot_ts").distinct().collect()
    )
    prev = flat.filter(F.col("snapshot_ts") == ts_a)
    curr = flat.filter(F.col("snapshot_ts") == ts_b)
    return ts_b, diff_snapshot_pair(prev, curr, ts_b).cache()


@needs_reference_data
def test_flatten_counts(flat):
    """snapA has 2425 bikes, snapB 2423 (reference load_snapshot dict
    sizes over the same files)."""
    counts = {
        r["snapshot_ts"]: r["n"]
        for r in flat.groupBy("snapshot_ts").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(counts.values()) == [2423, 2425]


@needs_reference_data
def test_snapA_freestanding_electric_station_name(flat, spark):
    """Reference tests/test_bike_status_changes.py:134–139: bike 590066
    in snapA is freestanding (name AND id normalized)."""
    ts_a = min(r["snapshot_ts"] for r in flat.select("snapshot_ts").distinct().collect())
    row = flat.filter(
        (F.col("snapshot_ts") == ts_a) & (F.col("bike_id") == "590066")
    ).collect()
    assert len(row) == 1
    assert row[0]["station_name"] == "freestanding"
    assert row[0]["station_id"] == "freestanding"


@needs_reference_data
def test_diff_detects_events_snapA_to_snapB(pair_events):
    """Reference tests/test_bike_status_changes.py:22–42: bike 590066
    freestanding→station yields exactly the departed+arrived pair, both
    stamped with the CURRENT (snapB) timestamp."""
    ts_b, events = pair_events
    evs = events.filter(F.col("bike_id") == "590066").collect()
    assert len(evs) == 2
    assert {e["event_type"] for e in evs} == {"departed", "arrived"}
    dep = next(e for e in evs if e["event_type"] == "departed")
    arr = next(e for e in evs if e["event_type"] == "arrived")
    assert dep["station_name"] == "freestanding"
    assert arr["station_name"] == "Wrocław Leśnica, stacja kolejowa"
    assert dep["timestamp"] == ts_b
    assert arr["timestamp"] == ts_b


@needs_reference_data
def test_pair_and_series_diffs_agree(flat, pair_events):
    """The N-snapshot window formulation must be event-for-event
    identical to the 2-snapshot join on the latest pair."""
    _, events = pair_events
    pair_set = sorted(tuple(r) for r in events.collect())
    series_set = sorted(tuple(r) for r in diff_snapshot_series(flat).collect())
    assert pair_set == series_set


@needs_reference_data
def test_series_diff_survives_downstream_filter(flat):
    """Regression (round 6): filtering the series-diff OUTPUT threw
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the _extract_* nested-JSON
    aliases under the old three-branch union plan (Spark's nested-
    schema pruning rewrote the per-branch scans inconsistently). The
    single-pass emission must compose with any downstream filter."""
    ser = diff_snapshot_series(flat)
    one_bike = ser.filter(F.col("bike_id") == "590066").collect()
    assert sorted((r["event_type"], r["station_name"]) for r in one_bike) == [
        ("arrived", "Wrocław Leśnica, stacja kolejowa"),
        ("departed", "freestanding"),
    ]
    # arbitrary predicate over a lagged-info column also composes
    assert ser.filter(F.col("station_name").isNotNull()).count() > 0


def test_freestanding_electric_minimal_snapshot(spark, tmp_path):
    """Reference tests/test_bike_status_changes.py:97–132: a minimal
    FREESTANDING_ELECTRIC_BIKE place normalizes to
    station_name=station_id='freestanding', bike_type 'electric'."""
    payload = {
        "_fetched_at": "2025-01-01T00:00:00",
        "data": [
            {
                "cities": [
                    {
                        "places": [
                            {
                                "uid": "568267505",
                                "name": "BIKE 590066",
                                "placeType": "FREESTANDING_ELECTRIC_BIKE",
                                "geoCoords": {"lat": 51.14448, "lng": 16.854524},
                                "bikes": [
                                    {
                                        "number": 590066,
                                        "bikeType": "ELECTRIC_4G",
                                        "battery": 30,
                                    }
                                ],
                            }
                        ]
                    }
                ]
            }
        ],
    }
    f = tmp_path / "sample.json"
    f.write_text(json.dumps(payload), encoding="utf-8")
    rows = flatten_snapshots(read_snapshots(spark, str(f))).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["snapshot_ts"] == "2025-01-01T00:00:00"
    assert r["bike_id"] == "590066"
    assert r["station_name"] == "freestanding"
    assert r["station_id"] == "freestanding"
    assert r["bike_type"] == "electric"
    assert r["battery"] == 30.0


def test_series_equals_pairwise_diffs_with_gaps(spark):
    """The sparse series formulation must equal the union of pairwise
    diffs over EVERY consecutive pair — including bikes that vanish
    for one or more snapshots and reappear (the case a naive lag over
    observed rows would bridge)."""

    # (ts, bike, station) — bike b1 moves, b2 vanishes at t2 and
    # reappears at t4, b3 appears at t3 only, b4 never moves.
    rows = [
        ("t1", "b1", "s1"), ("t1", "b2", "s2"), ("t1", "b4", "s9"),
        ("t2", "b1", "s1"), ("t2", "b4", "s9"),
        ("t3", "b1", "s3"), ("t3", "b3", "s5"), ("t3", "b4", "s9"),
        ("t4", "b1", "s3"), ("t4", "b2", "s7"), ("t4", "b4", "s9"),
    ]
    flat = spark.createDataFrame(
        [
            (ts, b, st, st, 51.0, 17.0, "standard", 50.0)
            for ts, b, st in rows
        ],
        ["snapshot_ts", "bike_id", "station_name", "station_id",
         "lat", "lon", "bike_type", "battery"],
    )
    ts_list = ["t1", "t2", "t3", "t4"]
    pairwise = None
    for prev_ts, curr_ts in zip(ts_list, ts_list[1:]):
        ev = diff_snapshot_pair(
            flat.filter(F.col("snapshot_ts") == prev_ts),
            flat.filter(F.col("snapshot_ts") == curr_ts),
            curr_ts,
        )
        pairwise = ev if pairwise is None else pairwise.unionByName(ev)
    expected = sorted(tuple(r) for r in pairwise.collect())
    got = sorted(tuple(r) for r in diff_snapshot_series(flat).collect())
    assert got == expected
    # sanity: the gap produced a departed@t2 and arrived@t4 for b2
    kinds = {(r[0], r[1], r[2]) for r in got}
    assert ("t2", "b2", "departed") in kinds
    assert ("t4", "b2", "arrived") in kinds


@needs_reference_data
def test_series_plan_has_no_cross_join(flat):
    plan = diff_snapshot_series(flat)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_duplicate_bike_last_place_wins(spark, tmp_path):
    """O17: a bike listed at two places in ONE snapshot resolves to the
    LATER place (the reference's dict-overwrite order,
    src/bike_status_changes.py:65,77)."""
    payload = {
        "_fetched_at": "2025-01-01T00:00:00",
        "data": [
            {
                "cities": [
                    {
                        "places": [
                            {
                                "uid": "1",
                                "name": "First station",
                                "placeType": "STATION",
                                "geoCoords": {"lat": 51.0, "lng": 17.0},
                                "bikes": [
                                    {"number": 42, "bikeType": "STANDARD", "battery": None}
                                ],
                            },
                            {
                                "uid": "2",
                                "name": "Second station",
                                "placeType": "STATION",
                                "geoCoords": {"lat": 51.1, "lng": 17.1},
                                "bikes": [
                                    {"number": 42, "bikeType": "STANDARD", "battery": None}
                                ],
                            },
                        ]
                    }
                ]
            }
        ],
    }
    f = tmp_path / "dup.json"
    f.write_text(json.dumps(payload), encoding="utf-8")
    rows = flatten_snapshots(read_snapshots(spark, str(f))).collect()
    assert len(rows) == 1
    assert rows[0]["station_name"] == "Second station"
    assert rows[0]["station_id"] == "2"


def test_bike_numbers_only_place_gets_null_type(spark, tmp_path):
    """O16: bikes known only via bikeNumbers (empty bikes list) get
    null bike_type/battery (reference :74–84)."""
    payload = {
        "_fetched_at": "2025-01-01T00:00:00",
        "data": [
            {
                "cities": [
                    {
                        "places": [
                            {
                                "uid": "9",
                                "name": "Numbers only",
                                "placeType": "STATION",
                                "geoCoords": {"lat": 51.0, "lng": 17.0},
                                "bikes": [],
                                "bikeNumbers": [77, 78],
                            }
                        ]
                    }
                ]
            }
        ],
    }
    f = tmp_path / "numbers.json"
    f.write_text(json.dumps(payload), encoding="utf-8")
    rows = {
        r["bike_id"]: r
        for r in flatten_snapshots(read_snapshots(spark, str(f))).collect()
    }
    assert set(rows) == {"77", "78"}
    assert all(r["bike_type"] is None and r["battery"] is None for r in rows.values())
    assert all(r["station_name"] == "Numbers only" for r in rows.values())


def test_empty_place_emits_nothing(spark, tmp_path):
    """O14: a place with neither bikes nor bikeNumbers is skipped."""
    payload = {
        "_fetched_at": "2025-01-01T00:00:00",
        "data": [
            {
                "cities": [
                    {
                        "places": [
                            {
                                "uid": "1",
                                "name": "Empty station",
                                "placeType": "STATION",
                                "geoCoords": {"lat": 51.0, "lng": 17.0},
                                "bikes": [],
                            }
                        ]
                    }
                ]
            }
        ],
    }
    f = tmp_path / "empty.json"
    f.write_text(json.dumps(payload), encoding="utf-8")
    assert flatten_snapshots(read_snapshots(spark, str(f))).count() == 0


def test_null_station_id_pair_series_agree(spark):
    """A present bike with NULL station_id (non-freestanding place with
    null uid) must read as PRESENT, and a null↔non-null transition as a
    move, identically in both diff formulations."""
    cols = ["snapshot_ts", "bike_id", "station_name", "station_id",
            "lat", "lon", "bike_type", "battery"]
    rows = [
        # b1: null station_id at t1 → s1 at t2 (a move, null-safely)
        ("t1", "b1", "mystery", None, 51.0, 17.0, "standard", 50.0),
        ("t2", "b1", "named", "s1", 51.0, 17.0, "standard", 50.0),
        # b2: stays at a null station — no event
        ("t1", "b2", "mystery", None, 51.1, 17.1, "standard", 40.0),
        ("t2", "b2", "mystery", None, 51.1, 17.1, "standard", 40.0),
    ]
    flat = spark.createDataFrame(rows, cols)
    pair = diff_snapshot_pair(
        flat.filter(F.col("snapshot_ts") == "t1"),
        flat.filter(F.col("snapshot_ts") == "t2"),
        "t2",
    )
    series = diff_snapshot_series(flat)
    pair_set = sorted(tuple(r) for r in pair.collect())
    series_set = sorted(tuple(r) for r in series.collect())
    assert pair_set == series_set
    kinds = {(r["bike_id"], r["event_type"]) for r in pair.collect()}
    assert kinds == {("b1", "departed"), ("b1", "arrived")}


# --- the same claims on a generated series -----------------------------------


@pytest.fixture(scope="module")
def gen_flat(spark, bike_series):
    _, paths = bike_series
    flat = flatten_snapshots(read_snapshots(spark, paths)).cache()
    yield flat
    flat.unpersist()


def _snapshot_ts(truth):
    """The series' snapshot timestamps, oldest first (every pair of a
    10%-moving fleet has events, so the events name them all)."""
    return sorted({e[0] for e in truth.events})


def test_flatten_counts_generated(bike_series, gen_flat):
    """One row per present bike per snapshot (the generator's count)."""
    truth, paths = bike_series
    assert gen_flat.count() == truth.snapshot_rows
    assert gen_flat.select("snapshot_ts").distinct().count() == len(paths)


def test_freestanding_station_name_generated(bike_series, gen_flat):
    """FREESTANDING* places normalize name AND id to 'freestanding';
    ELECTRIC* bike types read 'electric' (O14, O16)."""
    _, paths = bike_series
    want = set()
    for path in paths:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        for place in doc["data"][0]["cities"][0]["places"]:
            if place["placeType"].startswith("FREESTANDING"):
                (bike,) = place["bikes"]
                electric = place["placeType"] == "FREESTANDING_ELECTRIC_BIKE"
                want.add((doc["_fetched_at"], bike["number"], "electric" if electric else "standard"))
    assert want
    got = {
        (r["snapshot_ts"], r["bike_id"], r["bike_type"])
        for r in gen_flat.filter(F.col("station_id") == "freestanding").collect()
    }
    assert got == want
    names = gen_flat.filter(F.col("station_id") == "freestanding").select("station_name").distinct()
    assert [r[0] for r in names.collect()] == ["freestanding"]


def test_series_diff_matches_truth_generated(bike_series, gen_flat):
    """The series diff emits exactly the generator's status-change
    events, each stamped with its CURRENT snapshot's timestamp."""
    truth, _ = bike_series
    assert _truth_events(diff_snapshot_series(gen_flat)) == truth.events


def test_pair_and_series_diffs_agree_generated(bike_series, gen_flat):
    """The pair diff on the last pair equals the series diff restricted
    to that pair, and both equal the truth's events at that timestamp."""
    truth, paths = bike_series
    *_, ts_prev, ts_last = _snapshot_ts(truth)
    assert len(_snapshot_ts(truth)) == len(paths) - 1
    pair = diff_snapshot_pair(
        gen_flat.filter(F.col("snapshot_ts") == ts_prev),
        gen_flat.filter(F.col("snapshot_ts") == ts_last),
        ts_last,
    )
    series_last = diff_snapshot_series(gen_flat).filter(F.col("timestamp") == ts_last)
    assert sorted(tuple(r) for r in pair.collect()) == sorted(
        tuple(r) for r in series_last.collect()
    )
    assert _truth_events(pair) == [e for e in truth.events if e[0] == ts_last]


def test_series_diff_survives_downstream_filter_generated(bike_series, gen_flat):
    """Filters on the series-diff OUTPUT compose: one bike's events, and
    a predicate over the lagged station columns."""
    truth, _ = bike_series
    movers = sorted(
        {e[1] for e in truth.events if e[2] == "departed"}
        & {e[1] for e in truth.events if e[2] == "arrived"}
    )
    bike = movers[0]
    ser = diff_snapshot_series(gen_flat)
    assert _truth_events(ser.filter(F.col("bike_id") == bike)) == [
        e for e in truth.events if e[1] == bike
    ]
    assert _truth_events(ser.filter(F.col("station_id") == "freestanding")) == [
        e for e in truth.events if e[3] == "freestanding"
    ]
    # every generated place has a name, so no event loses it
    assert ser.filter(F.col("station_name").isNotNull()).count() == len(truth.events)


def test_series_plan_has_no_cross_join_generated(gen_flat):
    plan = diff_snapshot_series(gen_flat)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_series_diff_one_broadcast_join_five_jobs_generated(spark, gen_flat):
    """Over a materialized input (the persisted union the status stream
    hands it) the series diff is one broadcast join against the
    snapshot table plus one shuffle on bike_id: at most 5 jobs."""
    gen_flat.count()
    series = diff_snapshot_series(gen_flat)
    plan = series._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1, plan
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    series.collect()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 5, sorted(jobs)
