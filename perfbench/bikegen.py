"""Seeded synthetic Wrocław bike inputs, with the answers computed on the side.

Pure Python (stdlib only). ``generate(seed, out_dir, ...)`` writes

- ``stations.csv``: the coordinates dimension. It carries the edge cases of
  the published file: ``#``-prefixed junk rows with empty coordinates and a
  duplicate header row embedded mid-file.
- ``rides/Historia_przejazdow_<date>.csv``: one Polish-header rides CSV per
  day. Station names arrive with NBSP or space suffixes, some rides start or
  end ``Poza stacją``, some rows name a ``#`` junk station (the transform
  drops them) and some last at most 2 minutes (the metrics drop them).
- ``snapshots/snap_NNN.json``: per-minute Nextbike documents. Bikes dock at
  stations (typed ``bikes`` lists, or ``bikeNumbers`` only), stand free as
  ``FREESTANDING_BIKE`` / ``FREESTANDING_ELECTRIC_BIKE`` places, or vanish
  while ridden. About ``move_share`` of the fleet changes state each minute.

and returns a ``Truth`` holding what the engine must answer: per-day
metrics (after the junk filter and ``duration > 2``), rows added per load
(0 on a re-load) and the exact status-change events of the snapshot series.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

OUTSIDE = "Poza stacją"
NBSP = " "
RIDES_HEADER = [
    "UID wynajmu",
    "Numer roweru",
    "Data wynajmu",
    "Data zwrotu",
    "Stacja wynajmu",
    "Stacja zwrotu",
    "Czas trwania",
]
FIRST_DAY = dt.date(2024, 6, 3)
FIRST_SNAPSHOT = dt.datetime(2024, 6, 3, 8, 0, 0)


@dataclass
class Truth:
    """Expected engine outputs for one generated input set."""

    days: list[str] = field(default_factory=list)
    # day → compute_daily_metrics fields the generator can state exactly
    metrics: dict[str, dict] = field(default_factory=dict)
    # rows each day's load adds to the versioned table (junk rows dropped)
    rows_added: dict[str, int] = field(default_factory=dict)
    csv_bytes: dict[str, int] = field(default_factory=dict)
    # (timestamp, bike_id, event_type, station_id) of every status change
    events: list[tuple] = field(default_factory=list)
    snapshot_rows: int = 0


def _station_names(rng: random.Random, n: int) -> list[str]:
    stems = ["Plac", "Rondo", "Dworzec", "Park", "Most", "Osiedle", "Hala", "Aleja"]
    names = set()
    while len(names) < n:
        names.add(f"{rng.choice(stems)} {rng.randrange(10_000):04d}")
    return sorted(names)


def _write_stations(path: str, rng: random.Random, names: list[str], junk: int) -> None:
    rows = [
        [name, f"{51.05 + rng.random() * 0.1:.6f}", f"{16.95 + rng.random() * 0.15:.6f}"]
        for name in names
    ]
    rows += [[f"#serwis {i}", "", ""] for i in range(junk)]
    rng.shuffle(rows)
    rows.insert(len(rows) // 2, ["station_name", "lat", "lon"])
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["station_name", "lat", "lon"])
        w.writerows(rows)


def _dressed(rng: random.Random, name: str) -> str:
    """A station name as the portal spells it: sometimes NBSP- or
    space-suffixed (the transform strips both)."""
    r = rng.random()
    if r < 0.05:
        return name + NBSP
    if r < 0.08:
        return name + NBSP + " "
    if r < 0.10:
        return name + "  "
    return name


def _top5(counter: dict, key) -> list:
    return sorted(counter.items(), key=key)[:5]


def _day_metrics(rides: list[tuple]) -> dict:
    """Metrics of one day's kept rides: (start_hour, start, end) tuples,
    stations already cleaned; only rides with duration > 2."""
    hist = Counter(str(h) for h, _, _ in rides)
    dep = Counter(s for _, s, _ in rides if s != OUTSIDE)
    arr = Counter(e for _, _, e in rides if e != OUTSIDE)
    totals = {st: dep[st] + arr[st] for st in set(dep) | set(arr)}
    busiest = [
        {"station": st, "arrivals": arr[st], "departures": dep[st], "total": t}
        for st, t in _top5(totals, lambda kv: (-kv[1], kv[0]))
    ]
    routes = Counter(
        (s, e) for _, s, e in rides if s != e and OUTSIDE not in (s, e)
    )
    top_routes = [
        {"start_station": s, "end_station": e, "rides": n}
        for (s, e), n in _top5(routes, lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    ]
    return {
        "total_rides": len(rides),
        "bike_rentals_histogram": dict(hist),
        "round_trips": sum(1 for _, s, e in rides if s == e),
        "left_outside_station": sum(1 for _, _, e in rides if e == OUTSIDE),
        "busiest_stations_top5": busiest,
        "top_routes_top5": top_routes,
    }


def _write_rides_day(
    path: str, rng: random.Random, day: dt.date, day_no: int, n: int, names: list[str]
) -> tuple[int, dict]:
    """Write one day's CSV; return (rows kept by the transform, metrics)."""
    # A skewed station popularity so top-5 lists are not all ties.
    weights = [1.0 / (1 + i) ** 0.7 for i in range(len(names))]
    rows, kept, metric_rides = [], 0, []
    for i in range(n):
        start = rng.choices(names, weights)[0]
        r = rng.random()
        if r < 0.08:
            end = start  # round trip
        elif r < 0.16:
            end = OUTSIDE
        else:
            end = rng.choices(names, weights)[0]
        if rng.random() < 0.03:
            start = OUTSIDE
        junk = rng.random() < 0.01
        if junk:
            end = "#RELOKACJA"
        duration = rng.choice((1, 2)) if rng.random() < 0.05 else rng.randint(3, 90)
        t0 = dt.datetime.combine(day, dt.time()) + dt.timedelta(
            seconds=rng.randrange(24 * 3600)
        )
        t1 = t0 + dt.timedelta(minutes=duration)
        rows.append(
            [
                day_no * 1_000_000 + i,
                str(600_000 + rng.randrange(2_400)),
                t0.strftime("%Y-%m-%d %H:%M:%S"),
                t1.strftime("%Y-%m-%d %H:%M:%S"),
                start if start == OUTSIDE else _dressed(rng, start),
                end if end in (OUTSIDE, "#RELOKACJA") else _dressed(rng, end),
                duration,
            ]
        )
        if junk:
            continue
        kept += 1
        if duration > 2:
            metric_rides.append((t0.hour, start, end))
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(RIDES_HEADER)
        w.writerows(rows)
    return kept, _day_metrics(metric_rides)


def _snapshot_doc(ts: str, fleet: dict, names: list[str], ids: dict, kinds: dict) -> dict:
    """One Nextbike document. ``fleet``: bike → ('station', name) |
    ('free', (lat, lng)) | None (being ridden)."""
    at_station: dict[str, list[int]] = {}
    places = []
    for bike, loc in sorted(fleet.items()):
        if loc is None:
            continue
        if loc[0] == "station":
            at_station.setdefault(loc[1], []).append(bike)
        else:
            electric = kinds[bike] == "ELECTRIC_4G"
            places.append(
                {
                    "uid": str(90_000_000 + bike),
                    "name": f"BIKE {bike}",
                    "placeType": "FREESTANDING_ELECTRIC_BIKE" if electric else "FREESTANDING_BIKE",
                    "geoCoords": {"lat": loc[1][0], "lng": loc[1][1]},
                    "bikes": [{"number": str(bike), "bikeType": kinds[bike], "battery": 55.0 if electric else None}],
                }
            )
    for name in names:
        bikes = at_station.get(name, [])
        place = {
            "uid": ids[name],
            "name": name,
            "placeType": "STATION",
            "geoCoords": {"lat": 51.1, "lng": 17.03},
        }
        if int(ids[name]) % 10 == 0:
            # bikeNumbers-only places: null type and battery downstream
            place["bikeNumbers"] = [str(b) for b in bikes]
            place["bikes"] = []
        else:
            place["bikes"] = [
                {"number": str(b), "bikeType": kinds[b], "battery": 80.0 if kinds[b] == "ELECTRIC_4G" else None}
                for b in bikes
            ]
        places.append(place)
    return {"_fetched_at": ts, "data": [{"cities": [{"places": places}]}]}


def _station_id(loc, ids: dict):
    if loc is None:
        return None
    return ids[loc[1]] if loc[0] == "station" else "freestanding"


def _write_snapshots(
    out: str, rng: random.Random, names: list[str], n_snap: int, n_bikes: int, move_share: float
) -> tuple[list[tuple], int]:
    ids = {name: str(12_000_000 + i) for i, name in enumerate(names)}
    bikes = list(range(590_000, 590_000 + n_bikes))
    kinds = {b: "ELECTRIC_4G" if rng.random() < 0.1 else "STANDARD_4G" for b in bikes}

    def place():
        if rng.random() < 0.1:
            return ("free", (round(51.05 + rng.random() * 0.1, 6), round(16.95 + rng.random() * 0.15, 6)))
        return ("station", rng.choice(names))

    fleet = {b: place() for b in bikes}
    events, rows = [], 0
    n_move = max(1, round(move_share * n_bikes))
    base_mtime = 1_700_000_000
    for k in range(n_snap):
        ts = (FIRST_SNAPSHOT + dt.timedelta(minutes=k)).strftime("%Y-%m-%dT%H:%M:%S")
        if k:
            prev = dict(fleet)
            for b in rng.sample(bikes, n_move):
                fleet[b] = None if (fleet[b] is not None and rng.random() < 0.4) else place()
            for b in bikes:
                p, c = _station_id(prev[b], ids), _station_id(fleet[b], ids)
                if p is not None and p != c:
                    events.append((ts, str(b), "departed", p))
                if c is not None and p != c:
                    events.append((ts, str(b), "arrived", c))
        path = os.path.join(out, f"snap_{k:03d}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(_snapshot_doc(ts, fleet, names, ids, kinds), f, indent=1)
        # strictly increasing mtimes: the file stream source orders by them
        os.utime(path, (base_mtime + 60 * k, base_mtime + 60 * k))
        rows += sum(1 for loc in fleet.values() if loc is not None)
    return sorted(events), rows


def generate(
    seed: int,
    out_dir: str,
    days: int = 7,
    rides_per_day: int = 8000,
    stations: int = 477,
    snapshots: int = 8,
    bikes: int = 2400,
    move_share: float = 0.01,
    junk_stations: int = 3,
) -> Truth:
    """Write every input under ``out_dir`` and return their ``Truth``."""
    rng = random.Random(seed)
    for sub in ("rides", "snapshots"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    names = _station_names(rng, stations - junk_stations)
    _write_stations(os.path.join(out_dir, "stations.csv"), rng, names, junk_stations)
    truth = Truth()
    for d in range(days):
        day = FIRST_DAY + dt.timedelta(days=d)
        key = day.isoformat()
        path = rides_csv_path(out_dir, key)
        kept, metrics = _write_rides_day(path, rng, day, d + 1, rides_per_day, names)
        truth.days.append(key)
        truth.rows_added[key] = kept
        truth.metrics[key] = metrics
        truth.csv_bytes[key] = os.path.getsize(path)
    truth.events, truth.snapshot_rows = _write_snapshots(
        os.path.join(out_dir, "snapshots"), rng, names, snapshots, bikes, move_share
    )
    return truth


def rides_csv_path(out_dir: str, day: str) -> str:
    y, m, d = (int(x) for x in day.split("-"))
    return os.path.join(out_dir, "rides", f"Historia_przejazdow_{y}-{m}-{d}_20_00_00.csv")
