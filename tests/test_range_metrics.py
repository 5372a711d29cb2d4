"""Range/serving queries (A15–A18, F8) over the per-day metrics table,
mirroring the reference UI's client-side re-aggregations
(reference web/js/app.js:151–194) on the same 6-row fixture as
tests/test_daily_metrics.py."""

from __future__ import annotations

from datetime import datetime

import pytest

from wroclaw_bike_stats_spark.plans.daily_metrics import compute_all_days
from wroclaw_bike_stats_spark.plans.range_metrics import (
    range_busiest_stations,
    range_busiest_stations_exact,
    range_histogram_avg,
    range_metric_series,
    range_top_routes,
    range_top_routes_exact,
)
from wroclaw_bike_stats_spark.schemas import RIDES_SCHEMA


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


@pytest.fixture(scope="module")
def daily(rides):
    return compute_all_days(rides).cache()


def test_range_metric_series(daily):
    """A15: one (date, value) point per day with data, ordered."""
    rows = range_metric_series(daily, "2025-04-01", "2025-04-30", "total_rides").collect()
    assert [(r["ride_date"], r["value"]) for r in rows] == [
        ("2025-04-06", 1),
        ("2025-04-07", 4),
    ]
    # range excludes the 6th → single point
    rows = range_metric_series(daily, "2025-04-07", "2025-04-07", "total_rides").collect()
    assert [(r["ride_date"], r["value"]) for r in rows] == [("2025-04-07", 4)]


def test_range_metric_series_rejects_unknown_metric(daily):
    with pytest.raises(ValueError):
        range_metric_series(daily, "2025-04-01", "2025-04-30", "no_such_metric")


def test_range_histogram_avg(daily):
    """A16: hour sums across days ÷ n_days, half-up rounded, all 24
    hours zero-filled. Day 6 hist: {10:1}; day 7: {0:1, 13:2, 14:1};
    n=2 → hour 13 → round(2/2)=1, hours 0/10/14 → round(1/2)=1
    (Math.round(0.5) rounds up)."""
    rows = range_histogram_avg(daily, "2025-04-01", "2025-04-30").collect()
    got = {r["hour"]: r["avg_rentals"] for r in rows}
    assert len(got) == 24
    assert got["0"] == 1 and got["10"] == 1 and got["13"] == 1 and got["14"] == 1
    assert all(got[str(h)] == 0 for h in range(24) if h not in (0, 10, 13, 14))


@pytest.mark.parametrize(
    "start,end",
    [("2025-04-01", "2025-04-30"), ("2025-04-07", "2025-04-07"), ("2025-05-01", "2025-05-31")],
    ids=["both-days", "one-day", "empty"],
)
def test_range_histogram_avg_job_count(daily, job_count, start, end):
    """A16 is one aggregate over the cached daily table, its hours
    folded from the collected maps: at most 2 jobs, 24 rows in hour
    order, zero-filled even when the range holds no day."""
    daily.count()
    rows = []
    jobs = job_count(
        f"histogram-{start}-{end}",
        lambda: rows.extend(range_histogram_avg(daily, start, end).collect()),
    )
    assert 0 < jobs <= 2, jobs
    assert [r["hour"] for r in rows] == [str(h) for h in range(24)]
    if start == "2025-05-01":
        assert all(r["avg_rentals"] == 0 for r in rows)


def test_range_busiest_stations_reaggregates_top5(daily):
    """A17: sums per-day top-5 entries per station. Day 7 (duration>2
    rides only — the C→D ride has duration 2 and is excluded;
    'Poza stacją' excluded): A dep 2/arr 2, B dep 2/arr 1; day 6:
    C dep 1, D arr 1."""
    rows = range_busiest_stations(daily, "2025-04-01", "2025-04-30").collect()
    got = {r["station"]: (r["arrivals"], r["departures"], r["total"]) for r in rows}
    assert got["A"] == (2, 2, 4)
    assert got["B"] == (1, 2, 3)
    assert got["C"] == (0, 1, 1)
    assert got["D"] == (1, 0, 1)
    # deterministic tie-break: C before D at equal total
    assert [r["station"] for r in rows] == ["A", "B", "C", "D"]


def test_range_top_routes_f8_label(daily):
    """A18 + F8: per-day top-5 route lists re-aggregated under the
    'A → B' label. Round trip A→A, the duration-2 C→D ride on day 7,
    and 'Poza stacją' legs were already excluded by the daily plan."""
    rows = range_top_routes(daily, "2025-04-01", "2025-04-30").collect()
    got = {r["route"]: r["rides"] for r in rows}
    assert got == {"A → B": 1, "B → A": 1, "C → D": 1}
    # equal rides → route-label ascending
    assert [r["route"] for r in rows] == ["A → B", "B → A", "C → D"]


def test_nearest_available_date(spark, daily):
    """As-of lookup parity with the reference's binary-search helpers
    (web/js/app.js:79–110): exact hit, on-or-before/after with edge
    fallbacks, nearest-any with tie to the earlier date."""
    from wroclaw_bike_stats_spark.plans.range_metrics import (
        nearest_available_date,
    )

    # available: 2025-04-06, 2025-04-07
    f = nearest_available_date
    assert f(daily, "2025-04-07", "before") == "2025-04-07"  # exact
    assert f(daily, "2025-04-08", "before") == "2025-04-07"
    assert f(daily, "2025-04-01", "before") == "2025-04-06"  # fallback first
    assert f(daily, "2025-04-01", "after") == "2025-04-06"
    assert f(daily, "2025-04-30", "after") == "2025-04-07"  # fallback last
    assert f(daily, "2025-04-05", "any") == "2025-04-06"
    assert f(daily, "2025-04-20", "any") == "2025-04-07"
    # empty table → target passes through
    empty = daily.filter("ride_date = 'never'")
    assert f(empty, "2025-01-01", "any") == "2025-01-01"


def test_exact_variants_agree_when_top5_covers_everything(rides, daily):
    """With ≤5 stations/routes per day the approximate re-aggregation
    loses nothing — exact and approximate must agree on this fixture."""
    approx_s = {
        (r["station"], r["arrivals"], r["departures"], r["total"])
        for r in range_busiest_stations(daily, "2025-04-01", "2025-04-30").collect()
    }
    exact_s = {
        (r["station"], r["arrivals"], r["departures"], r["total"])
        for r in range_busiest_stations_exact(
            rides, "2025-04-01", "2025-04-30"
        ).collect()
    }
    assert approx_s == exact_s

    approx_r = {
        (r["route"], r["rides"])
        for r in range_top_routes(daily, "2025-04-01", "2025-04-30").collect()
    }
    exact_r = {
        (r["route"], r["rides"])
        for r in range_top_routes_exact(rides, "2025-04-01", "2025-04-30").collect()
    }
    assert approx_r == exact_r


def _trips(day, trips):
    """``n`` qualifying rides (duration 10) per (start, end, n) on ``day``."""
    t = _ts(f"{day} 12:00:00")
    return [(t, a, b) for a, b, n in trips for _ in range(n)]


def _cycle(names):
    """Three rides on each leg of the loop through ``names``."""
    return [(a, b, 3) for a, b in zip(names, names[1:] + names[0])]


def test_exact_variants_see_what_no_daily_top5_holds(spark):
    """F makes 2 round trips on each of two days (4 arrivals, 4
    departures) while five other stations make 3 each, so F is 6th on
    both days but 1st over the range. Likewise route F → G (2 rides a
    day) trails five 3-ride routes each day but leads the range with 4."""
    trips = (
        _trips("2025-05-01", [(s, s, 3) for s in "ABCDE"] + [("F", "F", 2)])
        + _trips("2025-05-02", [(s, s, 3) for s in "HIJKL"] + [("F", "F", 2)])
        + _trips("2025-05-03", _cycle("ABCDE") + [("F", "G", 2)])
        + _trips("2025-05-04", _cycle("HIJKL") + [("F", "G", 2)])
    )
    rows = [
        (uid, "1", t, t, a, b, 10, None, None, None, None, 1.0)
        for uid, (t, a, b) in enumerate(trips)
    ]
    rides = spark.createDataFrame(rows, RIDES_SCHEMA)
    daily = compute_all_days(rides)

    def got_s(q, src):
        return [
            (r["station"], r["arrivals"], r["departures"], r["total"])
            for r in q(src, "2025-05-01", "2025-05-02").collect()
        ]

    assert got_s(range_busiest_stations_exact, rides) == [
        ("F", 4, 4, 8), ("A", 3, 3, 6), ("B", 3, 3, 6), ("C", 3, 3, 6), ("D", 3, 3, 6),
    ]
    assert got_s(range_busiest_stations, daily) == [
        ("A", 3, 3, 6), ("B", 3, 3, 6), ("C", 3, 3, 6), ("D", 3, 3, 6), ("E", 3, 3, 6),
    ]

    def got_r(q, src):
        return [(r["route"], r["rides"]) for r in q(src, "2025-05-03", "2025-05-04").collect()]

    assert got_r(range_top_routes_exact, rides) == [
        ("F → G", 4), ("A → B", 3), ("B → C", 3), ("C → D", 3), ("D → E", 3),
    ]
    assert got_r(range_top_routes, daily) == [
        ("A → B", 3), ("B → C", 3), ("C → D", 3), ("D → E", 3), ("E → A", 3),
    ]
