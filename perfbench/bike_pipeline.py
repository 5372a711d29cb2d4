"""bike_pipeline: the paper's two ingestion tracks on generated inputs.

One pass, on fresh output directories:

1. load each day's rides CSV into the versioned ``bike_rides`` table
   (``sources`` → ``operators.transform`` → ``operators.upsert`` through
   the ``cli`` versioned-table helpers), then load day 1 again, which
   must add no rows;
2. ``compute_daily_metrics`` once per day, then ``compute_all_days``;
3. range queries over the cached daily frame, cycling through the four
   kinds (metric series, hourly average, busiest stations, top routes);
4. ``diff_snapshot_series`` over every snapshot as one batch;
5. drain the snapshots through ``StatusChangeStream(available_now=True)``,
   one snapshot per micro-batch, the path of the CLI ``pipeline``.

Inputs come from ``bikegen`` with the run's seed, and every op is checked
against the generator's truth.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import bikegen
from harness import CheckFailed


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, want {want!r}")


def range_truth(truth: bikegen.Truth, kind: str, start: str, end: str):
    """What a range query must return, re-aggregated from the truth's
    per-day metrics the way plans.range_metrics does."""
    days = [d for d in truth.days if start <= d <= end]
    ms = [truth.metrics[d] for d in days]
    if kind == "series":
        return [(d, m["total_rides"]) for d, m in zip(days, ms)]
    if kind == "hist_avg":
        n = max(len(ms), 1)
        tot = Counter()
        for m in ms:
            tot.update(m["bike_rentals_histogram"])
        # Spark's round() is half-up; every count is a non-negative integer
        return [(str(h), int(tot[str(h)] / n + 0.5)) for h in range(24)]
    if kind == "busiest":
        agg: dict[str, list[int]] = {}
        for m in ms:
            for s in m["busiest_stations_top5"]:
                a = agg.setdefault(s["station"], [0, 0, 0])
                a[0] += s["arrivals"]
                a[1] += s["departures"]
                a[2] += s["total"]
        top = sorted(agg.items(), key=lambda kv: (-kv[1][2], kv[0]))[:5]
        return [(st, *v) for st, v in top]
    routes = Counter()
    for m in ms:
        for r in m["top_routes_top5"]:
            routes[f"{r['start_station']} → {r['end_station']}"] += r["rides"]
    return sorted(routes.items(), key=lambda kv: (-kv[1], kv[0]))[:5]


RANGE_KINDS = ("series", "hist_avg", "busiest", "routes")


def main(run, t_process: float, spec: dict, segment) -> dict:
    from wroclaw_bike_stats_spark import cli
    from wroclaw_bike_stats_spark.operators.snapshot_diff import diff_snapshot_series
    from wroclaw_bike_stats_spark.operators.transform import transform_rides
    from wroclaw_bike_stats_spark.operators.upsert import idempotent_append
    from wroclaw_bike_stats_spark.plans import daily_metrics as dm
    from wroclaw_bike_stats_spark.plans import range_metrics as rm
    from wroclaw_bike_stats_spark.sources.rides_csv import read_raw_rides
    from wroclaw_bike_stats_spark.sources.snapshots import flatten_snapshots, read_snapshots
    from wroclaw_bike_stats_spark.sources.stations_csv import read_stations
    from wroclaw_bike_stats_spark.streaming.status_stream import StatusChangeStream

    sizes = spec["inputs"]
    inputs = run.path("inputs")
    with run.outside_setup():
        truth = bikegen.generate(run.seed, inputs, **sizes)
    run.extra["input_gen_s"] = run.untimed_s
    stations_csv = os.path.join(inputs, "stations.csv")
    snapshots = os.path.join(inputs, "snapshots")
    rng = random.Random(run.seed)
    n_range = spec["range_calls"]

    def warm_up():
        # A cron-started job: nothing is warm but the session itself.
        read_stations(run.spark, stations_csv).count()

    def load(pass_id, table, day, name, rows_before):
        """One CSV load as the CLI does it; returns the table's row count."""
        csv_path = bikegen.rides_csv_path(inputs, day)
        rows = {}

        def call():
            existing = cli.read_table(run.spark, table)
            raw = read_raw_rides(run.spark, csv_path)
            batch = transform_rides(raw, read_stations(run.spark, stations_csv))
            merged = batch if existing is None else idempotent_append(existing, batch)
            return cli.write_next_version(merged, table)

        def check(version_dir):
            rows["after"] = run.spark.read.parquet(version_dir).count()
            added = rows["after"] - rows_before
            if name == "reload_day":
                run.layer["upsert.rows_added"].append(added)
            run.layer["cli.version_bytes"].append(_dir_bytes(version_dir))
            run.layer["cli.csv_bytes"].append(truth.csv_bytes[day])
            _expect(f"{name} {day} rows_added", added, 0 if name == "reload_day" else truth.rows_added[day])

        run.op(pass_id, f"{name}:{day}", "cli", call, check, kind=name)
        return rows.get("after", rows_before)

    def one_pass(pass_id: str) -> None:
        out = run.path("out", pass_id)
        table = os.path.join(out, "bike_rides")
        rows = 0
        for day in truth.days:
            rows = load(pass_id, table, day, "ingest_day", rows)
        load(pass_id, table, truth.days[0], "reload_day", rows)
        run.layer["cli.space_amp"].append(
            _dir_bytes(table) / _dir_bytes(os.path.join(table, f"v{len(truth.days)}"))
        )

        rides = cli.read_table(run.spark, table)
        for day in truth.days:
            want = truth.metrics[day]

            def check_day(got, want=want, day=day):
                for k, v in want.items():
                    _expect(f"daily {day} {k}", got[k], v)

            run.op(
                pass_id, f"daily_metrics:{day}", "plans.daily_metrics",
                lambda d=day: dm.compute_daily_metrics(rides, d), check_day, kind="daily_metrics",
            )
        holder = {}

        def all_days():
            daily = dm.compute_all_days(rides).cache()
            holder["daily"] = daily
            return {r["ride_date"]: r["total_rides"] for r in daily.collect()}

        run.op(
            pass_id, "all_days", "plans.daily_metrics", all_days,
            lambda got: _expect("all_days", got, {d: truth.metrics[d]["total_rides"] for d in truth.days}),
        )
        daily = holder.get("daily")
        range_queries = {
            "series": lambda s, e: rm.range_metric_series(daily, s, e, "total_rides"),
            "hist_avg": lambda s, e: rm.range_histogram_avg(daily, s, e),
            "busiest": lambda s, e: rm.range_busiest_stations(daily, s, e),
            "routes": lambda s, e: rm.range_top_routes(daily, s, e),
        }
        for i in range(n_range if daily is not None else 0):
            kind = RANGE_KINDS[i % len(RANGE_KINDS)]
            a, b = sorted(rng.sample(range(len(truth.days)), 2))
            start, end = truth.days[a], truth.days[b]
            want = range_truth(truth, kind, start, end)
            run.op(
                pass_id, f"range_{kind}:{start}..{end}", "plans.range_metrics",
                lambda q=range_queries[kind], s=start, e=end: [tuple(r) for r in q(s, e).collect()],
                lambda got, want=want, kind=kind: _expect(f"range {kind}", got, want),
                kind="range_metrics",
            )
        if daily is not None:
            daily.unpersist()

        want_events = truth.events

        def series():
            flat = flatten_snapshots(read_snapshots(run.spark, snapshots))
            ev = diff_snapshot_series(flat).select("timestamp", "bike_id", "event_type", "station_id")
            return flat, sorted(tuple(r) for r in ev.collect())

        def check_series(got):
            flat, events = got
            run.layer["sources.snapshot_rows"].append(flat.count())
            _expect("snapshot_series events", events, want_events)

        run.op(pass_id, "snapshot_series", "operators.snapshot_diff", series, check_series)

        stream = StatusChangeStream(
            run.spark, snapshots, os.path.join(out, "events"),
            os.path.join(out, "state"), os.path.join(out, "checkpoint"),
        )

        def drain():
            q = stream.start(available_now=True)
            q.awaitTermination()
            progress = q.recentProgress
            run.stream_batches.extend(
                (pass_id, p.durationMs["triggerExecution"] / 1000.0) for p in progress if p.numInputRows > 0
            )
            return len(progress)

        def check_stream(_):
            got = sorted(
                tuple(r) for r in stream.events().select("timestamp", "bike_id", "event_type", "station_id").collect()
            )
            run.layer["status_stream.state_mb"].append(_dir_bytes(os.path.join(out, "state")) / 1e6)
            run.layer["status_stream.events"].append(len(got))
            _expect("status_stream events", got, want_events)

        run.op(pass_id, "status_stream", "streaming.status_stream", drain, check_stream)

    run.setup(t_process, warm_up)
    return segment(lambda pass_id: run.timed_pass(pass_id, lambda: one_pass(pass_id)))
