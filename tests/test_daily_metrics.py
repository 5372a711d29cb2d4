"""Golden-value metrics tests — the exact fixture + expected dict of the
reference's tests/test_compute_daily_metrics.py:34–100 (via FIXTURES.md §3)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

import bikegen  # perfbench/ is put on sys.path by conftest.py
from wroclaw_bike_stats_spark.operators.transform import transform_rides
from wroclaw_bike_stats_spark.plans.daily_metrics import (
    compute_all_days,
    compute_daily_metrics,
    distinct_ride_dates,
    latest_ride_date,
    read_year_file,
    write_year_file,
)
from wroclaw_bike_stats_spark.schemas import RIDES_SCHEMA
from wroclaw_bike_stats_spark.sources.rides_csv import read_raw_rides
from wroclaw_bike_stats_spark.sources.stations_csv import read_stations


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


FIXTURE = [
    (1, "100", _ts("2025-04-07 00:10:00"), _ts("2025-04-07 00:30:00"), "A", "A", 10, None, None, None, None, 1.2),
    (2, "101", _ts("2025-04-07 13:00:00"), _ts("2025-04-07 13:20:00"), "A", "B", 20, None, None, None, None, 2.5),
    (3, "102", _ts("2025-04-07 13:15:00"), _ts("2025-04-07 13:45:00"), "B", "A", 30, None, None, None, None, 3.0),
    (6, "105", _ts("2025-04-07 13:30:00"), _ts("2025-04-07 13:32:00"), "C", "D", 2, None, None, None, None, 0.5),
    (4, "103", _ts("2025-04-07 14:05:00"), _ts("2025-04-07 14:25:00"), "B", "Poza stacją", 17, None, None, None, None, 2.0),
    (5, "104", _ts("2025-04-06 10:00:00"), _ts("2025-04-06 10:20:00"), "C", "D", 25, None, None, None, None, 2.0),
]


@pytest.fixture(scope="module")
def rides(spark):
    return spark.createDataFrame(FIXTURE, RIDES_SCHEMA).cache()


def test_golden_day_metrics(rides):
    m = compute_daily_metrics(rides, "2025-04-07")
    assert m["total_rides"] == 4
    assert m["bike_rentals_histogram"] == {"0": 1, "13": 2, "14": 1}
    assert m["total_distance_km"] == pytest.approx(8.7, abs=1e-3)
    assert m["avg_distance_km"] == pytest.approx(2.175, abs=1e-3)
    assert m["total_duration_min"] == 77
    assert m["avg_duration_min"] == pytest.approx(19.25, abs=1e-3)
    assert m["round_trips"] == 1
    assert m["left_outside_station"] == 1

    stations = {s["station"]: s for s in m["busiest_stations_top5"]}
    assert "Poza stacją" not in stations
    # A: dep uid1,uid2 / arr uid1,uid3 → 4; B: dep uid3,uid4 / arr uid2 → 3.
    # (The reference test's comment says "4 each" but its assert only
    # checks membership — the real SQL yields B=3.)
    assert stations["A"]["total"] == 4
    assert stations["B"]["total"] == 3
    assert [s["station"] for s in m["busiest_stations_top5"][:2]] == ["A", "B"]
    assert stations["A"]["departures"] == 2  # uid1 (A→A) + uid2 (A→B)
    assert stations["A"]["arrivals"] == 2  # uid1 + uid3
    assert stations["B"]["arrivals"] == 1

    routes = [(r["start_station"], r["end_station"], r["rides"]) for r in m["top_routes_top5"]]
    assert ("A", "B", 1) in routes
    assert ("B", "A", 1) in routes
    # round trips and Poza stacją routes excluded
    assert all(s != e for s, e, _ in routes)
    assert all("Poza stacją" not in (s, e) for s, e, _ in routes)


def test_empty_day(rides):
    m = compute_daily_metrics(rides, "2025-01-01")
    assert m["total_rides"] == 0
    assert m["bike_rentals_histogram"] == {}
    assert m["avg_distance_km"] == 0.0
    assert m["busiest_stations_top5"] == []


def test_all_days_one_pass_matches_single_day(rides):
    by_day = {r["ride_date"]: r.asDict(recursive=True) for r in compute_all_days(rides).collect()}
    assert set(by_day) == {"2025-04-06", "2025-04-07"}
    single = compute_daily_metrics(rides, "2025-04-07")
    allday = by_day["2025-04-07"]
    for k, v in single.items():
        assert allday[k] == v, k
    # 2025-04-06: one ride C→D
    d6 = by_day["2025-04-06"]
    assert d6["total_rides"] == 1
    assert d6["round_trips"] == 0
    assert d6["bike_rentals_histogram"] == {"10": 1}


def test_duration_filter_strict(rides):
    # uid 6 (duration=2) excluded everywhere: A1 counts 4, not 5
    m = compute_daily_metrics(rides, "2025-04-07")
    stations = {s["station"]: s for s in m["busiest_stations_top5"]}
    assert "C" not in stations and "D" not in stations


def test_distinct_dates_and_latest(rides):
    # A13/A14: no duration filter → both days present
    assert distinct_ride_dates(rides, 2025) == ["2025-04-06", "2025-04-07"]
    assert latest_ride_date(rides) == "2025-04-07"


def test_year_file_merge(tmp_path, rides):
    path = tmp_path / "2025.json"
    m7 = compute_daily_metrics(rides, "2025-04-07")
    write_year_file(path, 2025, {"2025-04-07": m7})
    m6 = compute_daily_metrics(rides, "2025-04-06")
    write_year_file(path, 2025, {"2025-04-06": m6})
    days = read_year_file(path)
    assert set(days) == {"2025-04-06", "2025-04-07"}
    assert days["2025-04-07"]["total_rides"] == 4


def test_year_file_round_trips_to_metrics_table(tmp_path, rides):
    """S14/S16: compute_all_days → write_year_file → the year document
    a UI reads (``json.load``) holds every computed day, date-sorted,
    with each day's values equal to the computed row."""
    import json

    days = {
        r["ride_date"]: {k: v for k, v in r.asDict(recursive=True).items()
                         if k != "ride_date"}
        for r in compute_all_days(rides, year=2025).collect()
    }
    assert days, "vacuous: the fixture has 2025 rides"
    path = tmp_path / "2025.json"
    write_year_file(path, 2025, days)

    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    assert doc == {"year": 2025, "days": days}
    assert list(doc["days"]) == sorted(days)


def _generated(spark, seed, out, **sizes):
    """(truth, rides) of a seeded bikegen input, loaded as the CLI
    loads it: raw CSVs through ``transform_rides``."""
    truth = bikegen.generate(seed, out, snapshots=1, bikes=10, **sizes)
    stations = read_stations(spark, os.path.join(out, "stations.csv"))
    raw = read_raw_rides(spark, os.path.join(out, "rides"))
    return truth, transform_rides(raw, stations)


@pytest.mark.parametrize("seed", [2, 7])
def test_all_days_match_truth_generated(spark, tmp_path, seed):
    """Nine stations (six named) and 60 rides a day: on these seeds,
    equal station and route counts fall on both sides of the fifth
    place, so the top-5 tie-breaks decide which entries are listed."""
    truth, rides = _generated(spark, seed, str(tmp_path), days=2, rides_per_day=60, stations=9)
    by_day = {r["ride_date"]: r.asDict(recursive=True) for r in compute_all_days(rides).collect()}
    assert sorted(by_day) == truth.days
    for day in truth.days:
        single = compute_daily_metrics(rides, day)
        for key, want in truth.metrics[day].items():
            assert by_day[day][key] == want, (day, key)
            assert single[key] == want, (day, key)


def test_daily_metrics_job_count_generated(spark, tmp_path, job_count):
    """The metrics are one plan of two aggregates, with no join and no
    window: at most 4 jobs for one day and for every day at once."""
    truth, rides = _generated(spark, 11, str(tmp_path / "in"), days=2, rides_per_day=400, stations=25)
    table = str(tmp_path / "rides.parquet")
    rides.write.parquet(table)
    rides = spark.read.parquet(table)
    day_jobs = job_count("metrics-day", lambda: compute_daily_metrics(rides, truth.days[0]))
    all_jobs = job_count("metrics-all", lambda: compute_all_days(rides).collect())
    assert 0 < day_jobs <= 4, day_jobs
    assert 0 < all_jobs <= 4, all_jobs
