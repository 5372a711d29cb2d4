"""Date-range serving queries (SURVEY.md §2.4 A15–A18, F8).

The reference ships these as client-side JS re-aggregations over the
materialized per-day metrics document (reference: web/js/app.js:
151–163 metric series + histogram, 165–181 busiest stations, 183–194
top routes). Engine-side they become queries over the per-day metrics
table (``plans.daily_metrics.compute_all_days`` output) so the UI
layer stays dumb.

Faithfulness notes:
- A17/A18 re-aggregate the stored per-day TOP-5 lists, not base data —
  an *approximation by design* (stations/routes outside a day's top-5
  are invisible); reproduced exactly. Exact variants over base rides
  count the daily plan's own facts (``ride_facts``) and are offered
  alongside, not substituted.
- The reference's JS sort leaves ties in Map-insertion order; the
  engine uses deterministic tie-breaks (total/rides DESC, then name
  ASC) — documented deviation, only visible on exact ties.
- A16 divides by the number of days WITH DATA in range (max 1) and
  rounds half-up; hours are zero-filled 0..23 (the one range view the
  UI zero-fills, reference app.js:155–163).

Scale: the metrics table is one row per day — these queries are
driver-cheap by construction; the heavy lifting happened once in
``compute_all_days``. The explode of a top-5 array is ≤ 5 rows/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wroclaw_bike_stats_spark.plans.daily_metrics import ride_facts

# The per-day metric keys the UI charts as line series (app.js:141–149).
SERIES_METRICS = [
    "total_rides",
    "avg_distance_km",
    "avg_duration_min",
    "total_distance_km",
    "total_duration_min",
    "round_trips",
    "left_outside_station",
]


def _in_range(daily: DataFrame, start: str, end: str) -> DataFrame:
    """A15's date predicate: days with data in [start, end] (string
    compare on yyyy-MM-dd keys, exactly like app.js:151–153)."""
    return daily.filter(
        (F.col("ride_date") >= start) & (F.col("ride_date") <= end)
    )


def range_metric_series(
    daily: DataFrame, start: str, end: str, metric: str
) -> DataFrame:
    """A15: (date, value) line series for one metric over the range;
    missing values → 0 (app.js:211: ``days[ds][m.key] || 0``)."""
    if metric not in SERIES_METRICS:
        raise ValueError(f"unknown series metric {metric!r}")
    return (
        _in_range(daily, start, end)
        .select(
            "ride_date",
            F.coalesce(F.col(metric), F.lit(0)).alias("value"),
        )
        .orderBy("ride_date")
    )


def range_histogram_avg(daily: DataFrame, start: str, end: str) -> DataFrame:
    """A16: per-hour rental counts summed across the range's days,
    divided by the day count, half-up rounded; all 24 hours present
    (zero-filled), keys unpadded strings, in hour order
    (app.js:155–163).

    One aggregate collects the range's day count and histogram maps
    into a single row; each of the 24 hours then folds its entries out
    of those maps. No join: 2 jobs."""
    days = _in_range(daily, start, end).agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list("bike_rentals_histogram").alias("hists"),
    )
    hour = F.col("hour").cast("string")
    total = F.aggregate(
        "hists",
        F.lit(0).cast("long"),
        lambda acc, hist: acc + F.coalesce(hist[hour], F.lit(0)),
    )
    return days.select(
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour"), "n", "hists"
    ).select(
        hour.alias("hour"),
        F.round(total / F.greatest("n", F.lit(1))).cast("long").alias("avg_rentals"),
    )


def range_busiest_stations(
    daily: DataFrame, start: str, end: str, top_n: int = 5
) -> DataFrame:
    """A17: re-aggregate the stored per-day top-5 station lists —
    sum arrivals/departures/total per station, top-N by total
    (app.js:165–181). Approximate by design; see module docstring."""
    exploded = _in_range(daily, start, end).select(
        F.explode("busiest_stations_top5").alias("s")
    )
    return (
        exploded.groupBy(F.col("s.station").alias("station"))
        .agg(
            F.sum("s.arrivals").alias("arrivals"),
            F.sum("s.departures").alias("departures"),
            F.sum("s.total").alias("total"),
        )
        .orderBy(F.desc("total"), F.asc("station"))
        .limit(top_n)
    )


def route_label(start_col, end_col):
    """F8: the UI's route key ``"A → B"`` (app.js:185)."""
    return F.concat_ws(" → ", start_col, end_col)


def range_top_routes(
    daily: DataFrame, start: str, end: str, top_n: int = 5
) -> DataFrame:
    """A18: re-aggregate the stored per-day top-5 route lists keyed by
    the F8 label, sum rides, top-N (app.js:183–194)."""
    exploded = _in_range(daily, start, end).select(
        F.explode("top_routes_top5").alias("r")
    )
    return (
        exploded.groupBy(
            route_label(F.col("r.start_station"), F.col("r.end_station")).alias(
                "route"
            )
        )
        .agg(F.sum("r.rides").alias("rides"))
        .orderBy(F.desc("rides"), F.asc("route"))
        .limit(top_n)
    )


# --- exact variants -----------------------------------------------------------
#
# The reference's A17/A18 are approximations forced by its architecture
# (the UI only has the materialized per-day top-5s). The engine also
# offers the EXACT range aggregations over base rides — same filters and
# tie-breaks as the daily plans, date-range predicate pushed to the
# scan. SURVEY §2.4 A17 note: keep both; the approximate one is the
# parity surface.


def _range_facts(rides: DataFrame, start: str, end: str, family: str) -> DataFrame:
    """``ride_facts`` of ``family`` over the rides that start in
    [start, end]."""
    day = F.to_date("start_time")
    in_range = rides.filter(
        (day >= F.lit(start).cast("date")) & (day <= F.lit(end).cast("date"))
    )
    return ride_facts(in_range).filter(F.col("family") == family)


def range_busiest_stations_exact(
    rides: DataFrame, start: str, end: str, top_n: int = 5
) -> DataFrame:
    """Exact A17: arrivals+departures per station over base rides in
    the range — stations never in a daily top-5 are visible here."""
    return (
        _range_facts(rides, start, end, "station")
        .groupBy(F.col("key_a").alias("station"))
        .agg(F.sum("arrivals").alias("arrivals"), F.sum("departures").alias("departures"))
        .withColumn("total", F.col("arrivals") + F.col("departures"))
        .orderBy(F.desc("total"), F.asc("station"))
        .limit(top_n)
    )


def range_top_routes_exact(
    rides: DataFrame, start: str, end: str, top_n: int = 5
) -> DataFrame:
    """Exact A18: route counts over base rides in the range under the
    F8 label, same exclusions as the daily plan (nulls, round trips,
    'Poza stacją')."""
    return (
        _range_facts(rides, start, end, "route")
        .groupBy(route_label(F.col("key_a"), F.col("key_b")).alias("route"))
        .agg(F.count(F.lit(1)).alias("rides"))
        .orderBy(F.desc("rides"), F.asc("route"))
        .limit(top_n)
    )


# --- as-of date lookup (SURVEY §2.5) -----------------------------------------
#
# The UI resolves a requested date to the nearest AVAILABLE date with a
# binary search over the sorted date list (reference web/js/app.js:
# 79–110: lowerBound / nearestOnOrBefore / nearestOnOrAfter /
# nearestAvailableAny). Engine-side this is an as-of lookup over the
# per-day metrics table — expressed as aggregations (max ≤ / min ≥),
# which Catalyst executes as a pruned scan + partial agg, no sort of
# the full table. Fallback semantics match the JS exactly: before →
# earliest when nothing precedes; after → latest when nothing follows;
# any → closer of the two, ties to the earlier date; empty table →
# the target itself.


def nearest_available_date(
    daily: DataFrame, target: str, direction: str = "any"
) -> str:
    """Resolve ``target`` (yyyy-MM-dd) to the nearest date present in
    ``daily`` per the reference's rules. Result sets are tiny (the
    metrics table is one row per day), so the final pick is a
    driver-side scalar."""
    dates = daily.select(F.col("ride_date").alias("d"))
    row = dates.agg(
        F.max(F.when(F.col("d") <= target, F.col("d"))).alias("before"),
        F.min(F.when(F.col("d") >= target, F.col("d"))).alias("after"),
        F.min("d").alias("first"),
        F.max("d").alias("last"),
    ).collect()[0]
    if row["first"] is None:  # empty table → target passes through
        return target
    before, after = row["before"], row["after"]
    if after == target:
        return target
    if direction == "before":
        return before if before is not None else row["first"]
    if direction == "after":
        return after if after is not None else row["last"]
    if direction == "any":
        if before is not None and after is not None:
            import datetime as _dt

            fmt = "%Y-%m-%d"
            t = _dt.datetime.strptime(target, fmt)
            db = abs((t - _dt.datetime.strptime(before, fmt)).total_seconds())
            da = abs((_dt.datetime.strptime(after, fmt) - t).total_seconds())
            return before if db <= da else after
        return before or after
    raise ValueError(f"unknown direction {direction!r}")
