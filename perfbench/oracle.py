"""Output checks for the entry-query workloads.

A query result is compared in the normal form of the repo's oracle test
(``tests/test_entry_oracle._normalize``): sorted column names plus the
sorted multiset of rows, doubles rounded to 3 places. ``sql_warm`` checks
against DuckDB running ``oracle_sql()`` on the same parquet files;
``curate_cold`` and the two rows-only queries check against fingerprints
of that normal form committed in ``goldens.json``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from harness import BENCH_DIR, CheckFailed

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
GOLDENS = os.path.join(BENCH_DIR, "goldens.json")


def normalize(df) -> tuple[list[str], list[tuple]]:
    """pandas frame → (sorted column names, sorted row tuples)."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 3) if not math.isnan(v) else "NaN")
            elif hasattr(v, "tolist"):  # numpy arrays / lists
                vals.append(str(v.tolist()))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return cols, sorted(out)


def fingerprint(norm: tuple[list[str], list[tuple]]) -> dict:
    cols, rows = norm
    blob = json.dumps([cols, [list(r) for r in rows]], default=str).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def compare(name: str, got, want) -> None:
    """Raise CheckFailed unless two normal forms agree."""
    if got[0] != want[0]:
        raise CheckFailed(f"{name}: columns {got[0]} vs {want[0]}")
    if len(got[1]) != len(want[1]):
        raise CheckFailed(f"{name}: {len(got[1])} rows vs {len(want[1])}")
    for i, (a, b) in enumerate(zip(got[1], want[1])):
        if a != b:
            raise CheckFailed(f"{name}: row {i} {a} vs {b}")


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def load_goldens(data: str) -> dict:
    """The committed answers for one data directory (see make_goldens)."""
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)[data]
