"""CLI surface mirroring the reference's entry points (SURVEY.md §3):

- ``rides``    ← src/bike_rides_cli.py:118–150 (latest / date / all /
  load-folder with --no-transform / --no-sqlite analog --no-load)
- ``metrics``  ← src/compute_daily_metrics.py:231–262 (--date /
  --latest / --year, JSON year-file output with merge)
- ``backfill`` ← src/backfill_distance.py:89–94 (--dry-run)
- ``pipeline`` ← src/pipeline.py:13–33 (fetch snapshot → diff → append)

Storage: the ``bike_rides`` table is a versioned parquet directory
(``v0``, ``v1``, …) kept by ``versioned.py``: the newest version whose
``_SUCCESS`` marker landed is current, so a crashed write is ignored.
Each load reads the current version, applies the idempotent
first-writer-wins upsert (S8) and writes the next version —
append-only history, no in-place overwrite of files a lazy plan may
still be reading. Every version is kept: the previous one is the
backfill's backup. A Delta/Lakehouse deployment replaces this with
``MERGE INTO`` + time travel; the CLI semantics are identical.

Network commands (``rides latest/date/all``, ``pipeline`` fetch) go
through ingest.py's injectable fetch; everything else is fully local.

Usage: ``python -m wroclaw_bike_stats_spark.cli <command> ...``
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from wroclaw_bike_stats_spark import ingest, versioned
from wroclaw_bike_stats_spark.session import get_spark

PORTAL_URL = "https://opendata.cui.wroclaw.pl/dataset/wrmprzejazdy_data"
NEXTBIKE_URL = "https://api-gateway.nextbike.pl/api/maps/service/pl/locations"


# --- versioned parquet table ------------------------------------------------


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    return versioned.read(spark, table_dir)


def write_next_version(df: DataFrame, table_dir: str) -> str:
    return versioned.write(df, table_dir)


# --- rides ------------------------------------------------------------------


def _load_csvs(
    spark: SparkSession,
    paths: list[str],
    stations_csv: str,
    table_dir: str,
    transform: bool,
    load: bool,
    interim_dir: str | None = None,
) -> None:
    from wroclaw_bike_stats_spark.operators.transform import transform_rides
    from wroclaw_bike_stats_spark.operators.upsert import idempotent_append
    from wroclaw_bike_stats_spark.sources.rides_csv import read_raw_rides
    from wroclaw_bike_stats_spark.sources.stations_csv import read_stations

    for p in paths:
        df = read_raw_rides(spark, p)
        if transform:
            stations = read_stations(spark, stations_csv)
            df = transform_rides(df, stations)
        if interim_dir:
            # S7: cleaned-CSV debug sink (reference writes one cleaned
            # CSV per input to data/interim/, src/data_load_sqlite.py:275)
            out = os.path.join(
                interim_dir, os.path.splitext(os.path.basename(p))[0]
            )
            df.write.mode("overwrite").option("header", True).csv(out)
        if load:
            existing = read_table(spark, table_dir)
            merged = df if existing is None else idempotent_append(existing, df)
            write_next_version(merged, table_dir)
        print(f"Processed file: {os.path.basename(p)}")


def cmd_rides(args: argparse.Namespace) -> None:
    spark = get_spark(app_name="wbs-rides-cli")
    if args.rides_cmd == "load-folder":
        folder = os.path.abspath(args.folder)
        if not os.path.isdir(folder):
            raise SystemExit(f"Folder not found: {folder}")
        paths = [
            os.path.join(folder, f)
            for f in sorted(os.listdir(folder))
            if f.lower().endswith(".csv")
        ]
        if not paths:
            raise SystemExit(f"No CSV files in {folder}")
        _load_csvs(
            spark, paths, args.stations_csv, args.table_dir,
            args.transform, args.load, args.interim_dir,
        )
        return

    # network modes: discover portal CSVs (S1), pick (S2/K4), download (S4)
    urls = ingest.get_all_csv_urls(args.portal_url)
    if args.rides_cmd == "latest":
        url, _ = ingest.pick_latest_csv(urls)
        targets = [url] if url else []
    elif args.rides_cmd == "date":
        targets = [
            u
            for u in urls
            if (d := ingest.extract_dt_from_filename(os.path.basename(u)))
            and d.strftime("%Y-%m-%d") == args.date
        ]
    else:  # all
        targets = urls
    if not targets:
        raise SystemExit("No matching CSV files found on the portal")
    paths = [ingest.download_file(u, args.raw_dir) for u in targets]
    _load_csvs(
        spark, paths, args.stations_csv, args.table_dir,
        args.transform, args.load, args.interim_dir,
    )


# --- metrics ----------------------------------------------------------------


def cmd_metrics(args: argparse.Namespace) -> None:
    from wroclaw_bike_stats_spark.plans.daily_metrics import (
        compute_all_days,
        compute_daily_metrics,
        latest_ride_date,
        write_year_file,
    )

    spark = get_spark(app_name="wbs-metrics-cli")
    rides = read_table(spark, args.table_dir)
    if rides is None:
        raise SystemExit(f"No rides table at {args.table_dir}")

    if args.year is not None:
        days = {
            r["ride_date"]: {k: v for k, v in r.asDict(recursive=True).items() if k != "ride_date"}
            for r in compute_all_days(rides, year=args.year).collect()
        }
        out = args.out or os.path.join(args.metrics_dir, f"{args.year}.json")
        write_year_file(out, args.year, days)
        print(f"Wrote {len(days)} day(s) to {out}")
        return

    day = args.day
    if day is None and args.latest:
        day = latest_ride_date(rides)
    if day is None:
        # reference fallback: today in UTC when neither flag is given
        # (src/compute_daily_metrics.py:309–311)
        import datetime as _dt

        day = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d")
    metrics = compute_daily_metrics(rides, day)
    year = int(day[:4])
    out = args.out or os.path.join(args.metrics_dir, f"{year}.json")
    write_year_file(out, year, {day: metrics})
    print(f"Wrote metrics for {day} to {out}")


# --- backfill ---------------------------------------------------------------


def cmd_metrics_refresh(args: argparse.Namespace) -> None:
    import datetime as _dt

    from wroclaw_bike_stats_spark.plans.incremental import refresh_daily_metrics

    spark = get_spark(app_name="wbs-metrics-refresh-cli")
    dates = None
    if args.recompute_date:
        dates = [_dt.date.fromisoformat(d) for d in args.recompute_date]
    done = refresh_daily_metrics(
        spark, args.events_dir, args.metrics_dir, recompute_dates=dates
    )
    print(f"refreshed {len(done)} date(s): {', '.join(done) or '(none)'}")


def cmd_backfill(args: argparse.Namespace) -> None:
    from wroclaw_bike_stats_spark.operators.upsert import (
        backfill_distance,
        count_backfillable,
    )

    spark = get_spark(app_name="wbs-backfill-cli")
    rides = read_table(spark, args.table_dir)
    if rides is None:
        raise SystemExit(f"No rides table at {args.table_dir}")
    n = count_backfillable(rides)
    if args.dry_run:
        print(f"Would backfill {n} row(s)")
        return
    write_next_version(backfill_distance(rides), args.table_dir)
    print(f"Backfilled {n} row(s)")
    # versioned table IS the backup — the previous version dir is the
    # reference's pre-update DB copy (src/backfill_distance.py:33–41)


# --- pipeline ---------------------------------------------------------------


def cmd_pipeline(args: argparse.Namespace) -> None:
    from wroclaw_bike_stats_spark.streaming.status_stream import run_available_now

    if not args.no_fetch:
        path = ingest.fetch_snapshot(args.api_url, args.landing_dir)
        print(f"Fetched snapshot to {path}")
    spark = get_spark(app_name="wbs-pipeline-cli")
    events = run_available_now(
        spark,
        args.landing_dir,
        args.events_dir,
        args.state_dir,
        args.checkpoint_dir,
    )
    print(f"Event log rows: {events.count()}")


def cmd_curate(args: argparse.Namespace) -> None:
    import json

    from wroclaw_bike_stats_spark.plans.curate import (
        curate_corpus,
        curation_report,
        write_curated,
    )

    spark = get_spark(app_name="wbs-curate-cli")
    docs = spark.read.parquet(args.docs)
    eval_set = spark.read.parquet(args.eval) if args.eval else None
    lm = None
    if args.lm_ref and (args.max_ppl is not None or args.min_ppl is not None):
        from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

        lm = train_bigram_lm(spark.read.parquet(args.lm_ref))
    curated = curate_corpus(
        docs,
        eval_set,
        min_tokens=args.min_tokens,
        max_dup_word_frac=args.max_dup_word_frac,
        decontam_mode=args.decontam_mode,
        decontam_n=args.decontam_n,
        fuzzy_threshold=args.fuzzy_threshold,
        lm=lm,
        max_ppl=args.max_ppl,
        min_ppl=args.min_ppl,
        strip_spans=args.strip_spans,
        span_k=args.span_k,
        scrub=not args.no_scrub,
    )
    write_curated(curated, args.out)
    print(json.dumps(curation_report(spark.read.parquet(args.out), docs)))


# --- parser -----------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wroclaw-bike-stats-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    rides = sub.add_parser("rides", help="Ingest ride CSVs")
    rsub = rides.add_subparsers(dest="rides_cmd", required=True)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--table-dir", default="data/processed/bike_rides")
    common.add_argument("--stations-csv", default="data/bike_stations_coords.csv")
    common.add_argument("--raw-dir", default="data/raw")
    common.add_argument("--portal-url", default=PORTAL_URL)
    common.add_argument(
        "--interim-dir", default=None,
        help="Also write cleaned CSVs here (reference: data/interim/)",
    )
    common.add_argument(
        "--no-transform", dest="transform", action="store_false",
        help="Skip data transformation",
    )
    common.add_argument(
        "--no-load", dest="load", action="store_false",
        help="Do not load into the rides table (reference: --no-sqlite)",
    )
    rsub.add_parser("latest", parents=[common]).set_defaults(func=cmd_rides)
    date = rsub.add_parser("date", parents=[common])
    date.add_argument("date", help="Date YYYY-MM-DD")
    date.set_defaults(func=cmd_rides)
    rsub.add_parser("all", parents=[common]).set_defaults(func=cmd_rides)
    lf = rsub.add_parser("load-folder", parents=[common])
    lf.add_argument("folder", help="Folder with CSV files")
    lf.set_defaults(func=cmd_rides)

    metrics = sub.add_parser("metrics", help="Compute daily metrics")
    metrics.add_argument("--date", dest="day", default=None)
    metrics.add_argument("--latest", action="store_true")
    metrics.add_argument("--year", type=int, default=None)
    metrics.add_argument("--table-dir", default="data/processed/bike_rides")
    metrics.add_argument("--metrics-dir", default="data/processed/metrics")
    metrics.add_argument("--out", default=None)
    metrics.set_defaults(func=cmd_metrics)

    refresh = sub.add_parser(
        "metrics-refresh",
        help="Incrementally refresh the partitioned daily-metrics store "
        "(only new event dates are read and written)",
    )
    # No default: the status event log is not an events table (it has
    # no event_date/value/user_id), so a default there could only fail.
    refresh.add_argument(
        "--events-dir", required=True,
        help="date-partitioned events table (event_date, value, user_id)",
    )
    refresh.add_argument("--metrics-dir", default="data/processed/daily_agg")
    refresh.add_argument(
        "--recompute-date", action="append", default=None,
        help="Force recompute of a specific date (repeatable) — "
        "late-data backfill; overwrites just that partition",
    )
    refresh.set_defaults(func=cmd_metrics_refresh)

    backfill = sub.add_parser("backfill", help="Backfill NULL distances")
    backfill.add_argument("--table-dir", default="data/processed/bike_rides")
    backfill.add_argument("--dry-run", action="store_true")
    backfill.set_defaults(func=cmd_backfill)

    pipeline = sub.add_parser("pipeline", help="Fetch snapshot + diff events")
    pipeline.add_argument("--api-url", default=NEXTBIKE_URL)
    pipeline.add_argument("--landing-dir", default="data/raw/api")
    pipeline.add_argument("--events-dir", default="data/processed/status_events")
    pipeline.add_argument("--state-dir", default="data/processed/status_state")
    pipeline.add_argument("--checkpoint-dir", default="data/processed/status_ckpt")
    pipeline.add_argument(
        "--no-fetch", action="store_true",
        help="Skip the network fetch; diff whatever is in the landing dir",
    )
    pipeline.set_defaults(func=cmd_pipeline)

    curate = sub.add_parser(
        "curate",
        help="Corpus curation: decontaminate, filter, dedup, split",
    )
    curate.add_argument("--docs", required=True, help="Input parquet")
    curate.add_argument("--eval", default=None, help="Eval-set parquet")
    curate.add_argument("--out", required=True, help="Output dir")
    curate.add_argument("--min-tokens", type=int, default=10)
    curate.add_argument("--max-dup-word-frac", type=float, default=0.9)
    curate.add_argument("--no-scrub", action="store_true")
    curate.add_argument(
        "--lm-ref", default=None,
        help="Reference-corpus parquet to train the bigram LM on; "
        "enables the perplexity band when --max-ppl/--min-ppl is set",
    )
    curate.add_argument("--max-ppl", type=float, default=None)
    curate.add_argument("--min-ppl", type=float, default=None)
    curate.add_argument(
        "--strip-spans", action="store_true",
        help="Exact substring-span dedup over the survivors "
        "(Lee et al. 2022; output text is the stripped rebuild)",
    )
    curate.add_argument("--span-k", type=int, default=13)
    curate.add_argument(
        "--decontam-mode", default="exact",
        choices=["exact", "ngram", "fuzzy", "bloom"],
        help="Decontamination rule vs --eval: exact normalized text, "
        "any shared n-gram, Jaccard >= --fuzzy-threshold, or the "
        "ngram rule via a Bloom prefilter (huge blocklists)",
    )
    curate.add_argument("--decontam-n", type=int, default=5)
    curate.add_argument("--fuzzy-threshold", type=float, default=0.5)
    curate.set_defaults(func=cmd_curate)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main(sys.argv[1:])
