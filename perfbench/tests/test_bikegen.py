"""The bike-input generator and its truth, checked without Spark.

``_day_metrics`` is pinned to the reference's hand-computed fixture
(FIXTURES.md §3); a generated set is re-read from disk and its truth
recomputed independently, following the parsing and diff rules of
FIXTURES.md §1, §2 and §4.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bikegen  # noqa: E402

SMALL = dict(days=2, rides_per_day=400, stations=25, snapshots=4, bikes=80, move_share=0.1)


def test_day_metrics_matches_reference_fixture():
    # FIXTURES.md §3 golden rows for 2025-04-07 after duration > 2:
    # (hour, start, end) of uids 1, 2, 3 and 4.
    rides = [(0, "A", "A"), (13, "A", "B"), (13, "B", "A"), (14, "B", bikegen.OUTSIDE)]
    m = bikegen._day_metrics(rides)
    assert m["total_rides"] == 4
    assert m["bike_rentals_histogram"] == {"0": 1, "13": 2, "14": 1}
    assert m["round_trips"] == 1
    assert m["left_outside_station"] == 1
    # A: dep 1, 2 / arr 1, 3; B: dep 3, 4 / arr 2 (the fixture's "4 each"
    # comment is wrong, see tests/test_daily_metrics.py).
    assert m["busiest_stations_top5"] == [
        {"station": "A", "arrivals": 2, "departures": 2, "total": 4},
        {"station": "B", "arrivals": 1, "departures": 2, "total": 3},
    ]
    assert [(r["start_station"], r["end_station"], r["rides"]) for r in m["top_routes_top5"]] == [
        ("A", "B", 1),
        ("B", "A", 1),
    ]


def _files(root):
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = bikegen.generate(7, str(tmp_path / "a"), **SMALL)
    b = bikegen.generate(7, str(tmp_path / "b"), **SMALL)
    c = bikegen.generate(8, str(tmp_path / "c"), **SMALL)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a == b
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def _clean(name):
    name = name.replace(bikegen.NBSP, "").rstrip()
    return None if name in ("", "nan") else name


def test_truth_agrees_with_files(tmp_path):
    root = str(tmp_path)
    truth = bikegen.generate(3, root, **SMALL)

    with open(os.path.join(root, "stations.csv"), encoding="utf-8") as f:
        stations = list(csv.reader(f))
    assert ["station_name", "lat", "lon"] in stations[1:], "embedded header row"
    assert any(r[0].startswith("#") and r[1] == "" for r in stations), "junk rows"

    saw_nbsp = False
    for day in truth.days:
        with open(bikegen.rides_csv_path(root, day), encoding="utf-8") as f:
            rows = list(csv.DictReader(f))
        saw_nbsp |= any(bikegen.NBSP in r["Stacja wynajmu"] for r in rows)
        kept = [
            r for r in rows
            if not any((_clean(r[c]) or "").startswith("#") for c in ("Stacja wynajmu", "Stacja zwrotu"))
        ]
        assert truth.rows_added[day] == len(kept)
        counted = [
            (int(r["Data wynajmu"][11:13]), _clean(r["Stacja wynajmu"]), _clean(r["Stacja zwrotu"]))
            for r in kept
            if int(r["Czas trwania"]) > 2 and r["Data wynajmu"].startswith(day)
        ]
        assert truth.metrics[day] == bikegen._day_metrics(counted)
        assert truth.metrics[day]["left_outside_station"] > 0
    assert saw_nbsp

    # Snapshots: flatten (FIXTURES §4), then diff consecutive pairs.
    snaps = []
    kinds = set()
    for path in sorted(glob.glob(os.path.join(root, "snapshots", "*.json"))):
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        where = {}
        for place in doc["data"][0]["cities"][0]["places"]:
            kinds.add(place["placeType"])
            free = place["placeType"].upper().startswith("FREESTANDING")
            sid = "freestanding" if free else str(place["uid"])
            bikes = [b["number"] for b in place.get("bikes") or []] or place.get("bikeNumbers") or []
            for b in bikes:
                where[str(b)] = sid
        snaps.append((doc["_fetched_at"], where))
    assert {"STATION", "FREESTANDING_BIKE", "FREESTANDING_ELECTRIC_BIKE"} <= kinds
    assert truth.snapshot_rows == sum(len(w) for _, w in snaps)
    events = []
    for (_, prev), (ts, cur) in zip(snaps, snaps[1:]):
        for bike in set(prev) | set(cur):
            p, c = prev.get(bike), cur.get(bike)
            if p is not None and p != c:
                events.append((ts, bike, "departed", p))
            if c is not None and p != c:
                events.append((ts, bike, "arrived", c))
    assert sorted(events) == truth.events
    assert events, "the series must contain status changes"
