"""Daily metrics engine (SURVEY.md §2.4 A1–A14, §2.3 J3, §2.6 K1–K3).

The reference runs ~10 sequential SQL statements per day against
SQLite, re-scanning the table each time, and loops day-by-day for
yearly rebuilds (reference: src/compute_daily_metrics.py:30–194,
279–291). That loop is an artifact of SQLite, not of the semantics.

Spark-first design — ``compute_all_days`` computes EVERY day in one
query of two aggregates; nothing is stitched or windowed:
- ``ride_facts`` expands each qualifying ride into its facts (the
  day, its hour, its start station as a departure, its end station as
  an arrival, its route), and one ``groupBy(ride_date, family, key_a,
  key_b)`` counts them: a Generate under one map-side-partial
  aggregate, the Expand-style plan of GROUPING SETS;
- one ``groupBy(ride_date)`` assembles each day's row: the scalars
  from the day family, the histogram and the top-5 lists from sorted
  ``collect_list``s over the other families.

Scale: the input is scanned once, column-pruned and predicate-pushed.
Each day's station and route lists are collected into one task before
the top-5 slice: at most min(rides that day, stations²) entries per
day.

Semantics reproduced exactly (correctness-critical, SURVEY §1.2):
- global ``duration > 2`` filter on every metric (reference :46);
- day key = calendar date of start_time (reference :51);
- histogram map keys '0'..'23' unpadded, absent hours omitted;
- avg/total distance rounded 3 dp, avg duration 2 dp, falsy → 0;
- busiest stations: departures+arrivals full-outer combine (the
  reference emulates FULL OUTER with UNION + 2 LEFT JOINs because
  SQLite lacked it, reference :112–141 — here both roles are facts of
  one station key, summed by the same aggregate; the workaround is
  deliberately NOT ported);
- top-5 tie-breaks: (total DESC, station ASC) / (rides DESC,
  start ASC, end ASC) — part of the output contract.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.schemas import OUTSIDE_STATION


def _with_ride_date(rides: DataFrame) -> DataFrame:
    return rides.withColumn("ride_date", F.to_date("start_time"))


def _at_station(end: Column) -> Column:
    """A ride end that counts at a station: not null, not 'Poza stacją'."""
    return end.isNotNull() & (end != OUTSIDE_STATION)


def _fact(
    family: str,
    key_a: Column | None = None,
    key_b: Column | None = None,
    departures: int = 0,
    arrivals: int = 0,
) -> Column:
    return F.struct(
        F.lit(family).alias("family"),
        F.lit(key_a).cast("string").alias("key_a"),
        F.lit(key_b).cast("string").alias("key_b"),
        F.lit(departures).alias("departures"),
        F.lit(arrivals).alias("arrivals"),
    )


def ride_facts(rides: DataFrame) -> DataFrame:
    """A1–A12 + J3: each qualifying ride as one row per fact it counts
    for, keyed by (ride_date, family, key_a, key_b). Families:

    - ``day``: every ride; with the ride's distance, duration,
      round_trip and left_outside, it feeds A1 and A3–A8;
    - ``hour``: key_a = the start hour ('0'..'23');
    - ``station``: key_a = a station, with departures = 1 (the start
      at a station) or arrivals = 1 (the end at a station);
    - ``route``: key_a → key_b, a departure and an arrival at two
      different stations (reference :156–180).
    """
    s, e = F.col("start_station"), F.col("end_station")
    departs, arrives = _at_station(s), _at_station(e)
    facts = F.array_compact(
        F.array(
            _fact("day"),
            _fact("hour", F.hour("start_time")),
            F.when(departs, _fact("station", s, departures=1)),
            F.when(arrives, _fact("station", e, arrivals=1)),
            F.when(departs & arrives & (s != e), _fact("route", s, e)),
        )
    )
    # O10: the global duration > 2 predicate (strict).
    return (
        _with_ride_date(rides)
        .filter(F.col("duration") > 2)
        .select(
            "ride_date",
            "distance",
            "duration",
            (s == e).cast("int").alias("round_trip"),
            (e == OUTSIDE_STATION).cast("int").alias("left_outside"),
            F.inline(facts),
        )
    )


def _top5(family: str, *fields: Column) -> Column:
    """K1/K2: the first 5 of the day's ``family`` facts as ``fields``
    structs, sorted ascending on the fields in order (``[]`` when there
    are none)."""
    listed = F.collect_list(F.when(F.col("family") == family, F.struct(*fields)))
    return F.slice(F.array_sort(listed), 1, 5)


# A3–A8, read on the day family only.
_DAY_SCALARS = (
    "avg_distance_km",
    "avg_duration_min",
    "total_distance_km",
    "total_duration_min",
    "round_trips",
    "left_outside_station",
)


def compute_all_days(rides: DataFrame, year: int | None = None) -> DataFrame:
    """All metrics for all (or one year's) days — one action, not
    O(days); AQE runs it as at most 3 jobs on a parquet input (one per
    shuffle stage of the two aggregates plus the result), a count that
    does not grow with the number of days.

    Returns one row per ride_date with the full DAILY_METRICS_SCHEMA
    payload.
    """
    if year is not None:
        rides = rides.filter(F.year("start_time") == year)
    counts = (
        ride_facts(rides)
        .groupBy("ride_date", "family", "key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("rides"),
            F.sum("departures").alias("departures"),
            F.sum("arrivals").alias("arrivals"),
            F.coalesce(F.round(F.avg("distance"), 3), F.lit(0.0)).alias("avg_distance_km"),
            F.coalesce(F.round(F.sum("distance"), 3), F.lit(0.0)).alias("total_distance_km"),
            F.coalesce(F.round(F.avg("duration"), 2), F.lit(0.0)).alias("avg_duration_min"),
            F.coalesce(F.sum("duration"), F.lit(0)).cast("long").alias("total_duration_min"),
            F.coalesce(F.sum("round_trip"), F.lit(0)).alias("round_trips"),
            F.coalesce(F.sum("left_outside"), F.lit(0)).alias("left_outside_station"),
        )
    )
    fam, n = F.col("family"), F.col("rides")
    total = F.col("arrivals") + F.col("departures")
    hours = F.collect_list(F.when(fam == "hour", F.struct(F.col("key_a").cast("int"), n)))
    out = counts.groupBy("ride_date").agg(
        F.max(F.when(fam == "day", n)).alias("total_rides"),
        F.map_from_entries(F.array_sort(hours)).alias("hist"),
        *(F.max(F.when(fam == "day", F.col(c))).alias(c) for c in _DAY_SCALARS),
        # Leading negated counts: count DESC, then the names ASC.
        _top5("station", -total, "key_a", "arrivals", "departures", total.alias("total")).alias(
            "stations"
        ),
        _top5("route", -n, "key_a", "key_b", n).alias("routes"),
    )
    return out.select(
        F.date_format("ride_date", "yyyy-MM-dd").alias("ride_date"),
        "total_rides",
        F.transform_keys("hist", lambda k, _: k.cast("string")).alias(
            "bike_rentals_histogram"
        ),
        *_DAY_SCALARS,
        F.transform(
            "stations",
            lambda r: F.struct(
                r["key_a"].alias("station"),
                r["arrivals"].alias("arrivals"),
                r["departures"].alias("departures"),
                r["total"].alias("total"),
            ),
        ).alias("busiest_stations_top5"),
        F.transform(
            "routes",
            lambda r: F.struct(
                r["key_a"].alias("start_station"),
                r["key_b"].alias("end_station"),
                r["rides"].alias("rides"),
            ),
        ).alias("top_routes_top5"),
    )


def compute_daily_metrics(rides: DataFrame, day: str) -> dict[str, Any]:
    """Single-day metric dict, shaped exactly like the reference's
    ``compute_metrics`` return (src/compute_daily_metrics.py:182–194).

    Filters to the day FIRST so a date-partitioned table prunes to one
    partition before any aggregation runs.
    """
    one_day = rides.filter(F.to_date("start_time") == F.lit(day).cast("date"))
    rows = compute_all_days(one_day).drop("ride_date").collect()
    return rows[0].asDict(recursive=True) if rows else _empty_day_metrics()


def _empty_day_metrics() -> dict[str, Any]:
    """Reference semantics for a day with no qualifying rides
    (every falsy aggregate → 0, reference :66–94)."""
    return {
        "total_rides": 0,
        "bike_rentals_histogram": {},
        "avg_distance_km": 0.0,
        "avg_duration_min": 0.0,
        "total_distance_km": 0.0,
        "total_duration_min": 0,
        "round_trips": 0,
        "left_outside_station": 0,
        "busiest_stations_top5": [],
        "top_routes_top5": [],
    }


def distinct_ride_dates(rides: DataFrame, year: int) -> list[str]:
    """A13: ordered distinct ride dates of a year — note NO duration
    filter here (reference :197–202)."""
    rows = (
        _with_ride_date(rides)
        .filter(F.year("start_time") == year)
        .select(F.date_format("ride_date", "yyyy-MM-dd").alias("d"))
        .distinct()
        .orderBy("d")
        .collect()
    )
    return [r["d"] for r in rows]


def latest_ride_date(rides: DataFrame) -> str | None:
    """A14: calendar date of the max start_time (no duration filter,
    reference :300–308)."""
    row = rides.agg(
        F.date_format(F.max(F.to_date("start_time")), "yyyy-MM-dd").alias("d")
    ).collect()[0]
    return row["d"]


# ---------------------------------------------------------------------------
# S14: yearly metrics JSON materialization with merge semantics.


def read_year_file(path: str | Path) -> dict[str, Any]:
    """Read an existing year file; accepts both the structured
    ``{"year": Y, "days": {...}}`` form and a bare day-map (the
    reference tolerates both, src/compute_daily_metrics.py:205–218)."""
    p = Path(path)
    if not p.exists():
        return {}
    payload = json.loads(p.read_text(encoding="utf-8"))
    if isinstance(payload, dict) and "days" in payload:
        return dict(payload["days"])
    if isinstance(payload, dict):
        return {k: v for k, v in payload.items() if k != "year"}
    return {}


def write_year_file(path: str | Path, year: int, days: dict[str, Any]) -> None:
    """Upsert day keys into the year document
    (reference: src/compute_daily_metrics.py:205–228)."""
    merged = read_year_file(path)
    merged.update(days)
    doc = {"year": year, "days": dict(sorted(merged.items()))}
    Path(path).write_text(
        json.dumps(doc, ensure_ascii=False, indent=2), encoding="utf-8"
    )
