"""Local mirror of the driver's t2 gate: run every ``queries()`` entry
on Spark AND its ``oracle_sql()`` on DuckDB over the same parquet
tables; compare row count, column names, and (order-insensitive)
values with 1e-3 tolerance on doubles."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df):
    """pandas frame → (sorted col names, row multiset as sorted tuples)."""
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 3) if not math.isnan(v) else "NaN")
            elif hasattr(v, "tolist"):  # numpy arrays / lists
                vals.append(str(v.tolist() if hasattr(v, "tolist") else v))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return cols, sorted(out)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_bench_sets_derive_from_query_marks():
    """bench.py's gate and shared-warm sets come from the ``@_gate`` /
    ``@_shared_warm`` marks on the ``q_*`` functions; a wrapper that
    dropped the marks would silently make gate_total 0."""
    import bench

    for marked in (bench.GATE_QUERIES, bench.SHARED_WARM):
        assert marked and marked < set(QUERIES)
    for name, fn in QUERIES.items():
        q = getattr(entry_mod, f"q_{name}")
        assert (fn.__name__, fn.__doc__) == (q.__name__, q.__doc__)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    spark_df = QUERIES[name](spark, SF_DIR).toPandas()
    duck_df = duck.execute(ORACLES[name]).df()

    s_cols, s_rows = _normalize(spark_df)
    d_cols, d_rows = _normalize(duck_df)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_no_oracle_query_runs(spark, name):
    """Rows-only check for non-SQL-expressible ops."""
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_shared_cache_gates_are_order_independent(spark):
    """The pair-graph / CC session caches build on demand — results
    must not depend on which consumer gate runs first (a hidden
    'components must run before dedup_keep' coupling is the failure
    mode this pins)."""
    entry_mod.release_shared()
    keep_first = sorted(
        map(tuple, QUERIES["neardup_dedup_keep"](spark, SF_DIR).collect())
    )
    comps_second = sorted(
        map(tuple, QUERIES["neardup_components"](spark, SF_DIR).collect())
    )
    entry_mod.release_shared()
    comps_first = sorted(
        map(tuple, QUERIES["neardup_components"](spark, SF_DIR).collect())
    )
    keep_second = sorted(
        map(tuple, QUERIES["neardup_dedup_keep"](spark, SF_DIR).collect())
    )
    entry_mod.release_shared()
    assert keep_first == keep_second
    assert comps_first == comps_second


@pytest.mark.parametrize("name", ["hourly_histogram", "daily_event_metrics"])
def test_non_utc_session_still_matches_oracle(spark, duck, name):
    """Regression pin for the session-timezone hazard: a driver-owned
    session configured to a NON-UTC timezone must still agree with the
    naive-UTC DuckDB oracle on timestamp-derived queries, because
    every ``queries()`` callable routes the session through the
    ``_acquire`` boundary, which re-pins UTC unconditionally (read
    helpers themselves carry no conf side effects)."""
    original = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Warsaw")
    try:
        spark_df = QUERIES[name](spark, SF_DIR).toPandas()
        duck_df = duck.execute(ORACLES[name]).df()
        s_cols, s_rows = _normalize(spark_df)
        d_cols, d_rows = _normalize(duck_df)
        assert s_cols == d_cols
        assert s_rows == d_rows, f"{name}: diverged under non-UTC session tz"
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
