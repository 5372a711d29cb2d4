"""Incremental partition-wise metrics maintenance
(plans/incremental.py): only new date partitions are read and
written; forced recompute overwrites one partition in place."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.plans.incremental import (
    daily_event_aggregate,
    refresh_daily_metrics,
)


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "value", "event_date"]
    )
    return df.withColumn("event_date", F.col("event_date").cast("date"))


D1, D2, D3 = dt.date(2024, 5, 1), dt.date(2024, 5, 2), dt.date(2024, 5, 3)


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "events"), str(tmp_path / "metrics")


def _write_events(spark, path, rows):
    _events(spark, rows).write.mode("append").partitionBy(
        "event_date"
    ).parquet(path)


def test_refresh_computes_only_new_dates(spark, paths):
    events_path, metrics_path = paths
    _write_events(
        spark,
        events_path,
        [(1, "u1", 1.0, D1), (2, "u2", 2.0, D1), (3, "u1", 3.0, D2)],
    )
    assert refresh_daily_metrics(spark, events_path, metrics_path) == [
        str(D1),
        str(D2),
    ]
    # new day arrives → only that date is computed
    _write_events(spark, events_path, [(4, "u9", 5.0, D3)])
    assert refresh_daily_metrics(spark, events_path, metrics_path) == [str(D3)]
    # no new data → no work
    assert refresh_daily_metrics(spark, events_path, metrics_path) == []

    # store equals a full recompute
    got = {
        str(r.event_date): (r.total_events, r.total_value, r.active_users)
        for r in spark.read.parquet(metrics_path).collect()
    }
    full = {
        str(r.event_date): (r.total_events, r.total_value, r.active_users)
        for r in daily_event_aggregate(
            spark.read.parquet(events_path)
        ).collect()
    }
    assert got == full


def test_refresh_prunes_partitions(spark, paths):
    """The incremental scan must carry PartitionFilters on event_date —
    one day of facts read per refresh, independent of history size."""
    events_path, metrics_path = paths
    _write_events(spark, events_path, [(1, "u1", 1.0, D1), (2, "u2", 2.0, D2)])
    refresh_daily_metrics(spark, events_path, metrics_path)
    _write_events(spark, events_path, [(3, "u3", 3.0, D3)])

    events = spark.read.parquet(events_path)
    done = [D1, D2]
    todo = events.filter(~F.col("event_date").isin(done))
    plan = todo._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan


def test_cli_metrics_refresh(spark, paths, capsys):
    from wroclaw_bike_stats_spark.cli import main

    events_path, metrics_path = paths
    _write_events(spark, events_path, [(1, "u1", 1.0, D1)])
    main(["metrics-refresh", "--events-dir", events_path,
          "--metrics-dir", metrics_path])
    main(["metrics-refresh", "--events-dir", events_path,
          "--metrics-dir", metrics_path])
    out = capsys.readouterr().out
    assert "refreshed 1 date(s): 2024-05-01" in out
    assert "refreshed 0 date(s)" in out


def test_forced_recompute_overwrites_in_place(spark, paths):
    """Late rows in an already-done date: recompute_dates overwrites
    just that partition; other dates' aggregates are untouched."""
    events_path, metrics_path = paths
    _write_events(spark, events_path, [(1, "u1", 1.0, D1), (2, "u2", 2.0, D2)])
    refresh_daily_metrics(spark, events_path, metrics_path)

    _write_events(spark, events_path, [(9, "u9", 10.0, D1)])  # late row
    # a plain refresh must NOT pick it up (documented contract)
    assert refresh_daily_metrics(spark, events_path, metrics_path) == []
    assert refresh_daily_metrics(
        spark, events_path, metrics_path, recompute_dates=[D1]
    ) == [str(D1)]

    got = {
        str(r.event_date): (r.total_events, r.total_value)
        for r in spark.read.parquet(metrics_path).collect()
    }
    assert got[str(D1)] == (2, 11.0)
    assert got[str(D2)] == (1, 2.0)


def test_corrupt_store_fails_loudly(spark, paths):
    """A metrics store that exists but can't be read must raise — NOT
    silently return [] and re-append every date as duplicates."""
    import pathlib

    events_path, metrics_path = paths
    _write_events(spark, events_path, [(1, "u1", 1.0, D1)])
    p = pathlib.Path(metrics_path)
    p.mkdir(parents=True)
    (p / "garbage.txt").write_text("not parquet")
    with pytest.raises(Exception):
        refresh_daily_metrics(spark, events_path, metrics_path)


def test_recompute_does_not_leak_session_conf(spark, paths):
    """Dynamic partition-overwrite is a per-write option; the session
    conf must keep its prior value after a forced recompute."""
    events_path, metrics_path = paths
    _write_events(spark, events_path, [(1, "u1", 1.0, D1)])
    refresh_daily_metrics(spark, events_path, metrics_path)
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    refresh_daily_metrics(spark, events_path, metrics_path, recompute_dates=[D1])
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before


def test_cli_metrics_refresh_requires_events_dir(tmp_path, capsys):
    """No default: the old one named the status event log, which is not
    an events table."""
    from wroclaw_bike_stats_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["metrics-refresh", "--metrics-dir", str(tmp_path / "metrics")])
    assert exc.value.code == 2
    assert "--events-dir" in capsys.readouterr().err


def test_status_event_log_is_refused_naming_missing_columns(spark, paths):
    """A frame shaped like the status stream's event log gets a
    ValueError naming event_date, value and user_id, not an
    UNRESOLVED_COLUMN from deep inside the plan."""
    from wroclaw_bike_stats_spark.schemas import STATUS_EVENT_SCHEMA

    events_path, metrics_path = paths
    log = spark.createDataFrame(
        [("2024-06-09T12:00:00", "590066", "departed", None, None, 51.1, 17.0, "classic", None)],
        STATUS_EVENT_SCHEMA,
    )
    with pytest.raises(ValueError, match="event_date, value, user_id"):
        daily_event_aggregate(log)
    log.write.parquet(events_path)
    for dates in (None, [D1]):
        with pytest.raises(ValueError, match="event_date, value, user_id"):
            refresh_daily_metrics(spark, events_path, metrics_path, recompute_dates=dates)
