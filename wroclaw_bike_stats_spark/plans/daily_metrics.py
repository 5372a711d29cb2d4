"""Daily metrics engine (SURVEY.md §2.4 A1–A14, §2.3 J3, §2.6 K1–K3).

The reference runs ~10 sequential SQL statements per day against
SQLite, re-scanning the table each time, and loops day-by-day for
yearly rebuilds (reference: src/compute_daily_metrics.py:30–194,
279–291). That loop is an artifact of SQLite, not of the semantics.

Spark-first design — ``compute_all_days`` computes EVERY day in one
query:
- one ``groupBy(ride_date)`` for all scalar metrics (conditional
  aggregation folds round_trips / left_outside into the same shuffle);
- hourly histogram, busiest-stations and top-routes as grouped
  aggregations with window ``row_number() <= 5`` top-k per day;
- results stitched with joins on ``ride_date`` (each side is one row
  per day — tiny post-aggregation, AQE picks broadcast).

At 100 TB: the input is scanned once per grouped count (5 scans:
scalars, histogram, departures, arrivals, routes — all column-pruned +
predicate-pushed), every aggregation is map-side-partial first, and a
year-partitioned Parquet/Delta layout makes the day/year filters prune
partitions. A single-day query touches one partition, not the corpus.

Semantics reproduced exactly (correctness-critical, SURVEY §1.2):
- global ``duration > 2`` filter on every metric (reference :46);
- day key = calendar date of start_time (reference :51);
- histogram map keys '0'..'23' unpadded, absent hours omitted;
- avg/total distance rounded 3 dp, avg duration 2 dp, falsy → 0;
- busiest stations: departures+arrivals full-outer combine (the
  reference emulates FULL OUTER with UNION + 2 LEFT JOINs because
  SQLite lacked it, reference :112–141 — Catalyst does it natively;
  the workaround is deliberately NOT ported);
- top-5 tie-breaks: (total DESC, station ASC) / (rides DESC,
  start ASC, end ASC) — part of the output contract.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.schemas import OUTSIDE_STATION


def _with_ride_date(rides: DataFrame) -> DataFrame:
    return rides.withColumn("ride_date", F.to_date("start_time"))


def _filtered(rides: DataFrame) -> DataFrame:
    """O10: the global duration > 2 predicate (strict)."""
    return _with_ride_date(rides).filter(F.col("duration") > 2)


def scalar_metrics_by_day(rides: DataFrame) -> DataFrame:
    """A1, A3–A8 for every day in one shuffle (conditional aggregation)."""
    s, e = F.col("start_station"), F.col("end_station")
    return _filtered(rides).groupBy("ride_date").agg(
        F.count(F.lit(1)).alias("total_rides"),
        F.coalesce(F.round(F.avg("distance"), 3), F.lit(0.0)).alias("avg_distance_km"),
        F.coalesce(F.round(F.sum("distance"), 3), F.lit(0.0)).alias("total_distance_km"),
        F.coalesce(F.round(F.avg("duration"), 2), F.lit(0.0)).alias("avg_duration_min"),
        F.coalesce(F.sum("duration"), F.lit(0)).cast("long").alias("total_duration_min"),
        F.sum(
            F.when(s.isNotNull() & e.isNotNull() & (s == e), 1).otherwise(0)
        ).alias("round_trips"),
        F.sum(F.when(e == OUTSIDE_STATION, 1).otherwise(0)).alias(
            "left_outside_station"
        ),
    )


def hourly_histogram_by_day(rides: DataFrame) -> DataFrame:
    """A2: per-day map hour-string → count; absent hours omitted,
    keys unpadded ('0'..'23') — reference :56–63; zero-fill is the UI's
    job (reference: web/js/app.js:133)."""
    per_hour = (
        _filtered(rides)
        .groupBy("ride_date", F.hour("start_time").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_hour.groupBy("ride_date")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("hour"), F.col("cnt"))
                    )
                )
            ).alias("hist_int")
        )
        .select(
            "ride_date",
            F.transform_keys(
                "hist_int", lambda k, _: k.cast("string")
            ).alias("bike_rentals_histogram"),
        )
    )


def station_counts(rides: DataFrame, *keys: str) -> DataFrame:
    """A9–A11 + J3: arrivals, departures and their total per
    (``keys``, station) over qualifying rides.

    Departures and arrivals are separate grouped counts (each excludes
    null and 'Poza stacją'), combined with a native FULL OUTER join —
    see module docstring for why the reference's UNION workaround is
    not ported.
    """
    dep = (
        rides.filter(
            F.col("start_station").isNotNull()
            & (F.col("start_station") != OUTSIDE_STATION)
        )
        .groupBy(*keys, F.col("start_station").alias("station"))
        .agg(F.count(F.lit(1)).alias("departures"))
    )
    arr = (
        rides.filter(
            F.col("end_station").isNotNull()
            & (F.col("end_station") != OUTSIDE_STATION)
        )
        .groupBy(*keys, F.col("end_station").alias("station"))
        .agg(F.count(F.lit(1)).alias("arrivals"))
    )
    return (
        dep.join(arr, [*keys, "station"], "full_outer")
        .select(
            *keys,
            "station",
            F.coalesce("arrivals", F.lit(0)).alias("arrivals"),
            F.coalesce("departures", F.lit(0)).alias("departures"),
        )
        .withColumn("total", (F.col("arrivals") + F.col("departures")).cast("long"))
    )


def route_counts(rides: DataFrame, *keys) -> DataFrame:
    """A12: ride count per ``keys`` (names or columns over the route's
    ends) over qualifying rides, excluding nulls, round trips, and
    'Poza stacją' on either end (reference :156–180)."""
    s, e = F.col("start_station"), F.col("end_station")
    return (
        rides.filter(
            s.isNotNull()
            & e.isNotNull()
            & (s != e)
            & (s != OUTSIDE_STATION)
            & (e != OUTSIDE_STATION)
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("rides"))
    )


def busiest_stations_by_day(rides: DataFrame, top_n: int = 5) -> DataFrame:
    """A9–A11 + K1: per-day top-N stations by arrivals+departures."""
    combined = station_counts(_filtered(rides), "ride_date")
    w = Window.partitionBy("ride_date").orderBy(F.desc("total"), F.asc("station"))
    topn = combined.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= top_n
    )
    return (
        topn.groupBy("ride_date")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("rn", "station", "arrivals", "departures", "total")
                )
            ).alias("ranked")
        )
        .select(
            "ride_date",
            F.transform(
                "ranked",
                lambda r: F.struct(
                    r["station"].alias("station"),
                    r["arrivals"].cast("long").alias("arrivals"),
                    r["departures"].cast("long").alias("departures"),
                    r["total"].alias("total"),
                ),
            ).alias("busiest_stations_top5"),
        )
    )


def top_routes_by_day(rides: DataFrame, top_n: int = 5) -> DataFrame:
    """A12 + K2: per-day top-N (start,end) routes (see route_counts)."""
    routes = route_counts(_filtered(rides), "ride_date", "start_station", "end_station")
    w = Window.partitionBy("ride_date").orderBy(
        F.desc("rides"), F.asc("start_station"), F.asc("end_station")
    )
    topn = routes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= top_n)
    return (
        topn.groupBy("ride_date")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "start_station", "end_station", "rides"))
            ).alias("ranked")
        )
        .select(
            "ride_date",
            F.transform(
                "ranked",
                lambda r: F.struct(
                    r["start_station"].alias("start_station"),
                    r["end_station"].alias("end_station"),
                    r["rides"].alias("rides"),
                ),
            ).alias("top_routes_top5"),
        )
    )


def compute_all_days(rides: DataFrame, year: int | None = None) -> DataFrame:
    """All metrics for all (or one year's) days — one action, not
    O(days); AQE runs it as several query-stage jobs, one per shuffle
    or broadcast stage plus the result (12 on a parquet input: 8 + 3 +
    1), a count that does not grow with the number of days.

    Returns one row per ride_date with the full DAILY_METRICS_SCHEMA
    payload. Each aggregation family is post-aggregation tiny (rows =
    number of days), so the stitching joins broadcast under AQE.
    """
    if year is not None:
        rides = rides.filter(F.year("start_time") == year)
    scalars = scalar_metrics_by_day(rides)
    hist = hourly_histogram_by_day(rides)
    stations = busiest_stations_by_day(rides)
    routes = top_routes_by_day(rides)
    out = (
        scalars.join(hist, "ride_date", "left")
        .join(stations, "ride_date", "left")
        .join(routes, "ride_date", "left")
    )
    return out.select(
        F.date_format("ride_date", "yyyy-MM-dd").alias("ride_date"),
        "total_rides",
        F.coalesce(
            "bike_rentals_histogram",
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<bigint>")
            ),
        ).alias("bike_rentals_histogram"),
        "avg_distance_km",
        "avg_duration_min",
        "total_distance_km",
        "total_duration_min",
        "round_trips",
        "left_outside_station",
        F.coalesce(
            "busiest_stations_top5",
            F.array().cast(
                "array<struct<station:string,arrivals:bigint,departures:bigint,total:bigint>>"
            ),
        ).alias("busiest_stations_top5"),
        F.coalesce(
            "top_routes_top5",
            F.array().cast(
                "array<struct<start_station:string,end_station:string,rides:bigint>>"
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
    rows = compute_all_days(one_day).collect()
    if not rows:
        return _empty_day_metrics()
    r = rows[0].asDict(recursive=True)
    return {
        "total_rides": r["total_rides"],
        "bike_rentals_histogram": r["bike_rentals_histogram"],
        "avg_distance_km": r["avg_distance_km"],
        "avg_duration_min": r["avg_duration_min"],
        "total_distance_km": r["total_distance_km"],
        "total_duration_min": r["total_duration_min"],
        "round_trips": r["round_trips"],
        "left_outside_station": r["left_outside_station"],
        "busiest_stations_top5": r["busiest_stations_top5"],
        "top_routes_top5": r["top_routes_top5"],
    }


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


def load_year_metrics(spark, path: str | Path) -> DataFrame:
    """S16's engine-side analog (reference web/js/app.js:8–23): load a
    materialized year document back as the per-day metrics table
    (DAILY_METRICS_SCHEMA rows, date-sorted), so the range queries
    (plans/range_metrics.py) can serve a UI from the document alone —
    no recomputation, exactly like the browser consuming rides.json.

    Scale note: a year document is ≤366 rows — driver-side parse +
    createDataFrame is the right tool; the heavy lifting happened once
    in ``compute_all_days``."""
    from pyspark.sql.types import DoubleType, LongType

    from wroclaw_bike_stats_spark.schemas import DAILY_METRICS_SCHEMA

    # JSON erases the int/float distinction (JS serializes 0.0 as 0,
    # and the reference's empty-day convention writes falsy aggregates
    # as 0) — coerce per schema or createDataFrame's verifier rejects
    # an int in a DoubleType field.
    casts = {
        f.name: (float if isinstance(f.dataType, DoubleType) else int)
        for f in DAILY_METRICS_SCHEMA.fields
        if isinstance(f.dataType, (DoubleType, LongType))
    }

    def _coerce(m: dict[str, Any]) -> dict[str, Any]:
        return {
            k: casts[k](v) if k in casts and v is not None else v
            for k, v in m.items()
        }

    days = read_year_file(path)
    rows = [{"ride_date": d, **_coerce(m)} for d, m in sorted(days.items())]
    return spark.createDataFrame(rows, schema=DAILY_METRICS_SCHEMA)


def available_dates(daily: DataFrame) -> list[str]:
    """The UI's sorted available-date list (reference
    web/js/app.js:17–23)."""
    return [
        r["ride_date"]
        for r in daily.select("ride_date").distinct().orderBy("ride_date").collect()
    ]


def write_year_file(path: str | Path, year: int, days: dict[str, Any]) -> None:
    """Upsert day keys into the year document
    (reference: src/compute_daily_metrics.py:205–228)."""
    merged = read_year_file(path)
    merged.update(days)
    doc = {"year": year, "days": dict(sorted(merged.items()))}
    Path(path).write_text(
        json.dumps(doc, ensure_ascii=False, indent=2), encoding="utf-8"
    )
