"""Incremental metrics maintenance — recompute ONLY newly arrived
date partitions (the scale form of the reference's daily cron,
src/compute_daily_metrics.py:231–262, which recomputes one hard-coded
day per run).

The metrics store is itself a date-partitioned parquet table. A
refresh:

1. lists the dates already materialized (a scan of the SMALL metrics
   table's partition column — not the fact table);
2. filters the fact table to dates not yet materialized — the NOT-IN
   set is tiny (one row per day), so it rides to the executors as an
   isin predicate that PRUNES PARTITIONS of the fact table: a daily
   refresh reads one day of facts, regardless of history size;
3. aggregates just those partitions and appends them — append-only
   per-partition writes, no rewrite of existing data.

Idempotence: a re-run with no new dates reads nothing and writes
nothing. Late rows landing in an ALREADY-materialized date partition
are NOT picked up by a refresh (the date is considered done) — that
is the documented contract; use ``recompute_dates`` to force specific
days, mirroring the reference CLI's explicit --date flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


EVENT_COLUMNS = ("event_date", "value", "user_id")


def _require_event_columns(events: DataFrame) -> None:
    """Fail naming the columns an events table lacks, e.g. when handed
    the status event log (timestamp, bike_id, event_type, ...)."""
    missing = [c for c in EVENT_COLUMNS if c not in events.columns]
    if missing:
        raise ValueError(
            f"not an events table: missing column(s) {', '.join(missing)}; "
            f"it has {', '.join(events.columns)}"
        )


def daily_event_aggregate(events: DataFrame) -> DataFrame:
    """The per-day metric family maintained incrementally (same shape
    as q_daily_event_metrics, keyed by the partition column)."""
    _require_event_columns(events)
    return events.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
        F.countDistinct("user_id").alias("active_users"),
    )


def _materialized_dates(spark: SparkSession, metrics_path: str) -> list:
    # Only a MISSING store means "first refresh". Any other read error
    # (corrupt files, permissions) must propagate: returning [] there
    # would silently re-materialize every date as duplicate appended
    # rows.
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(metrics_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return []
        raise
    return [r.event_date for r in store.select("event_date").distinct().collect()]


def refresh_daily_metrics(
    spark: SparkSession,
    events_path: str,
    metrics_path: str,
    recompute_dates: list | None = None,
) -> list:
    """Bring the metrics store up to date with the (date-partitioned)
    events table. Returns the list of dates (re)computed.

    ``recompute_dates`` forces specific days (late-data backfill): the
    store's partitions for those dates are overwritten in place via
    dynamic partition overwrite — other dates' files are untouched.
    """
    events = spark.read.parquet(events_path)
    _require_event_columns(events)
    if recompute_dates is not None:
        todo = events.filter(F.col("event_date").isin(recompute_dates))
        mode, conf = "overwrite", "dynamic"
    else:
        done = _materialized_dates(spark, metrics_path)
        # tiny NOT-IN list → partition-pruning predicate on the scan
        todo = events.filter(~F.col("event_date").isin(done)) if done else events
        mode, conf = "append", None

    agg = daily_event_aggregate(todo)
    computed = [r.event_date for r in agg.select("event_date").distinct().collect()]
    if not computed:
        return []
    writer = agg.write.mode(mode).partitionBy("event_date")
    if conf:
        # per-write option, not a session conf: overwrite semantics of
        # unrelated writes later in the session must not change
        writer = writer.option("partitionOverwriteMode", conf)
    writer.parquet(metrics_path)
    return sorted(str(d) for d in computed)
