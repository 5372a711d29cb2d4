"""Driver-side ingest utilities (S1–S4, S10, F10, F11, K4–K5) and the
CLI surface (§3) — all network access injected, nothing leaves the
machine."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark import ingest
from wroclaw_bike_stats_spark.cli import main as cli_main
from wroclaw_bike_stats_spark.cli import read_table

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import bikegen  # noqa: E402

SAMPLE_DIR = "/root/reference/data/sample"
STATIONS_CSV = "/root/reference/data/bike_stations_coords.csv"
needs_reference_data = pytest.mark.skipif(
    not os.path.isdir(SAMPLE_DIR),
    reason="reference sample data not present; the generated variant covers it",
)
# Small seeded bikegen inputs: one rides day, a 2-snapshot series.
GEN_SEED = 11
GEN_SIZES = dict(days=1, rides_per_day=400, stations=25, snapshots=2, bikes=80, move_share=0.1)


# --- F10 / S3 ---------------------------------------------------------------


def test_extract_dt_from_filename():
    """Reference tests/test_data_load_sqlite.py:19–28 semantics."""
    assert ingest.extract_dt_from_filename(
        "Historia_przejazdow_2025-8-18_18_29_14.csv"
    ) == dt.datetime(2025, 8, 18, 18, 29, 14)
    assert ingest.extract_dt_from_filename(
        "Historia_przejazdow_2024-6-5.csv"
    ) == dt.datetime(2024, 6, 5)
    assert ingest.extract_dt_from_filename("no_date_here.csv") is None
    assert ingest.extract_dt_from_filename("x_2024-13-45.csv") is None


def test_filename_datetime_col(spark):
    """F10 as a distributed expression: same results as the driver
    parser, including the no-time default and no-match → NULL."""
    names = [
        ("Historia_przejazdow_2025-8-18_18_29_14.csv",),
        ("Historia_przejazdow_2024-6-5.csv",),
        ("no_date_here.csv",),
    ]
    df = spark.createDataFrame(names, ["name"])
    got = [
        r["ts"]
        for r in df.select(
            ingest.filename_datetime_col(F.col("name")).alias("ts")
        ).collect()
    ]
    assert got[0] == dt.datetime(2025, 8, 18, 18, 29, 14)
    assert got[1] == dt.datetime(2024, 6, 5)
    assert got[2] is None


# --- S1 / S2 / S4 -----------------------------------------------------------

PORTAL_HTML = b"""
<html><body>
<a class="heading" href="files/Historia_przejazdow_2024-6-5_22_18_5.csv">a</a>
<a class="heading" href="files/Historia_przejazdow_2024-6-6_21_0_0.csv">b</a>
<a class="heading" href="files/readme.pdf">not csv</a>
<a href="files/Historia_przejazdow_2024-6-7.csv">no heading class</a>
</body></html>
"""


def test_get_all_csv_urls_and_pick_latest():
    urls = ingest.get_all_csv_urls(
        "https://portal.example/dataset", fetch=lambda u: PORTAL_HTML
    )
    assert urls == [
        "https://portal.example/files/Historia_przejazdow_2024-6-5_22_18_5.csv",
        "https://portal.example/files/Historia_przejazdow_2024-6-6_21_0_0.csv",
    ]
    url, fn = ingest.pick_latest_csv(urls)
    assert fn == "Historia_przejazdow_2024-6-6_21_0_0.csv"
    assert url.endswith(fn)


def test_fetch_with_retry_backs_off_then_succeeds():
    calls = []

    class Transient(Exception):
        code = 503

    def flaky(url):
        calls.append(url)
        if len(calls) < 3:
            raise Transient()
        return b"payload"

    slept = []
    out = ingest.fetch_with_retry(
        "u", fetch=flaky, backoff_factor=1.0, sleep=slept.append
    )
    assert out == b"payload"
    assert slept == [1.0, 2.0]  # exponential


def test_fetch_with_retry_gives_up_and_no_retry_on_4xx():
    class Fatal(Exception):
        code = 404

    with pytest.raises(Fatal):
        ingest.fetch_with_retry("u", fetch=_raise(Fatal()), sleep=lambda s: None)

    class Transient(Exception):
        code = 500

    with pytest.raises(Transient):
        ingest.fetch_with_retry("u", fetch=_raise(Transient()), sleep=lambda s: None)


def _raise(e):
    def f(url):
        raise e

    return f


def test_download_file_skips_existing(tmp_path):
    calls = []

    def fetch(url):
        calls.append(url)
        return b"data"

    p1 = ingest.download_file("https://x/files/a_2024-1-1.csv", str(tmp_path), fetch)
    p2 = ingest.download_file("https://x/files/a_2024-1-1.csv", str(tmp_path), fetch)
    assert p1 == p2
    assert len(calls) == 1  # second call hit the idempotency check
    assert open(p1, "rb").read() == b"data"


# --- S10 / F11 --------------------------------------------------------------


def test_fetch_snapshot_injects_fetched_at(tmp_path):
    payload = {"data": [{"cities": []}]}
    moment = dt.datetime(2025, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    path = ingest.fetch_snapshot(
        "https://api.example/locations",
        str(tmp_path),
        fetch=lambda u: json.dumps(payload).encode(),
        now=moment,
    )
    doc = json.loads(open(path, encoding="utf-8").read())
    # Europe/Warsaw in January is UTC+1
    assert doc["_fetched_at"] == "2025-01-02T04:04:05+01:00"
    assert os.path.basename(path) == "bike_rides_2025-01-02_04_04_05.json"


def test_latest_snapshot_files_by_embedded_ts(tmp_path):
    """S12/K5: sorted by embedded _fetched_at, not filename; unreadable
    JSON skipped (reference tests/test_bike_status_changes.py:65–73)."""
    (tmp_path / "bike_rides_a.json").write_text(
        json.dumps({"_fetched_at": "2025-01-01T00:00:01"}), encoding="utf-8"
    )
    (tmp_path / "bike_rides_b.json").write_text(
        json.dumps({"_fetched_at": "2025-01-01T00:00:03"}), encoding="utf-8"
    )
    (tmp_path / "bike_rides_c.json").write_text(
        json.dumps({"_fetched_at": "2025-01-01T00:00:02"}), encoding="utf-8"
    )
    (tmp_path / "bike_rides_bad.json").write_text("{not json", encoding="utf-8")
    latest = ingest.latest_snapshot_files(str(tmp_path), 2)
    assert [os.path.basename(p) for p in latest] == [
        "bike_rides_c.json",
        "bike_rides_b.json",
    ]


# --- CLI --------------------------------------------------------------------


def test_cli_load_folder_metrics_backfill_generated(spark, tmp_path):
    """End-to-end local CLI on generated inputs: load a day's CSV, re-load
    it (the idempotent upsert adds nothing), compute the day's metrics,
    dry-run backfill. Every count is checked against bikegen's truth."""
    inputs = str(tmp_path / "inputs")
    truth = bikegen.generate(GEN_SEED, inputs, **GEN_SIZES)
    (day,) = truth.days
    table_dir = str(tmp_path / "bike_rides")
    load = [
        "rides", "load-folder", os.path.join(inputs, "rides"),
        "--table-dir", table_dir,
        "--stations-csv", os.path.join(inputs, "stations.csv"),
    ]
    cli_main(load)
    n1 = read_table(spark, table_dir).count()
    assert n1 == truth.rows_added[day]

    cli_main(load)
    assert read_table(spark, table_dir).count() == n1

    out = str(tmp_path / "2024.json")
    cli_main(["metrics", "--latest", "--table-dir", table_dir, "--out", out])
    doc = json.loads(open(out, encoding="utf-8").read())
    assert doc["year"] == 2024
    assert list(doc["days"]) == [day]
    assert doc["days"][day]["total_rides"] == truth.metrics[day]["total_rides"]

    cli_main(["backfill", "--table-dir", table_dir, "--dry-run"])


def test_cli_pipeline_no_fetch_generated(spark, tmp_path):
    """pipeline --no-fetch over a generated 2-snapshot series writes
    exactly the series' status-change events."""
    truth = bikegen.generate(GEN_SEED, str(tmp_path / "inputs"), **GEN_SIZES)
    assert truth.events
    events_dir = str(tmp_path / "events")
    cli_main([
        "pipeline", "--no-fetch",
        "--landing-dir", str(tmp_path / "inputs" / "snapshots"),
        "--events-dir", events_dir,
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    events = spark.read.parquet(events_dir)
    assert events.count() == len(truth.events)
    got = events.select("timestamp", "bike_id", "event_type", "station_id")
    assert sorted(tuple(r) for r in got.collect()) == truth.events


@needs_reference_data
def test_cli_load_folder_metrics_backfill(spark, tmp_path):
    """End-to-end local CLI: load the real sample CSVs, re-load (the
    idempotent upsert must not duplicate), compute a day's metrics,
    dry-run backfill. Mirrors reference tests/test_bike_rides_cli.py."""
    table_dir = str(tmp_path / "bike_rides")
    folder = str(tmp_path / "csvs")
    os.makedirs(folder)
    # one sample day keeps the test fast
    import shutil

    shutil.copy2(
        f"{SAMPLE_DIR}/Historia_przejazdow_2024-6-5_22_18_5.csv", folder
    )

    cli_main([
        "rides", "load-folder", folder,
        "--table-dir", table_dir, "--stations-csv", STATIONS_CSV,
    ])
    n1 = read_table(spark, table_dir).count()
    assert n1 > 6000

    # idempotency: loading the same file again adds nothing
    cli_main([
        "rides", "load-folder", folder,
        "--table-dir", table_dir, "--stations-csv", STATIONS_CSV,
    ])
    assert read_table(spark, table_dir).count() == n1

    out = str(tmp_path / "2024.json")
    cli_main([
        "metrics", "--latest", "--table-dir", table_dir, "--out", out,
    ])
    doc = json.loads(open(out, encoding="utf-8").read())
    assert doc["year"] == 2024
    assert len(doc["days"]) == 1
    (day, payload), = doc["days"].items()
    assert payload["total_rides"] > 0

    cli_main(["backfill", "--table-dir", table_dir, "--dry-run"])


@needs_reference_data
def test_cli_pipeline_no_fetch(tmp_path):
    """pipeline --no-fetch over the real snapshot pair = the streaming
    diff (24 events)."""
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy2(f"{SAMPLE_DIR}/snapA.json", landing / "bike_rides_a.json")
    shutil.copy2(f"{SAMPLE_DIR}/snapB.json", landing / "bike_rides_b.json")
    cli_main([
        "pipeline", "--no-fetch",
        "--landing-dir", str(landing),
        "--events-dir", str(tmp_path / "events"),
        "--state-dir", str(tmp_path / "state"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    import glob

    assert glob.glob(str(tmp_path / "events" / "*.parquet"))
