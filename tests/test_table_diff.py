"""Keyed table diff (operators/table_diff.py) and data-quality report
operators (operators/profile.py skew_report / validate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators.profile import skew_report, validate
from wroclaw_bike_stats_spark.operators.table_diff import table_diff


def test_table_diff_classes(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", 30), (4, None, 40), (5, "e", 50)],
        ["k", "s", "v"],
    )
    got = {r.k: r.change for r in table_diff(old, new, "k").collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "changed",
        4: "unchanged",  # NULL == NULL content-wise
        5: "added",
    }


def test_table_diff_null_is_content_not_wildcard(spark):
    """("x", NULL) -> (NULL, "x") must register as changed — the naive
    xxhash64 over raw columns would collide because null args are
    skipped."""
    old = spark.createDataFrame(
        [(1, "x", None)], "k long, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, None, "x")], "k long, a string, b string"
    )
    got = table_diff(old, new, "k").collect()
    assert got[0].change == "changed"


def test_skew_report_shares(spark):
    df = spark.createDataFrame(
        [("hot",)] * 80 + [("warm",)] * 15 + [("cold",)] * 5, ["k"]
    )
    got = [(r.k, r.n_rows, r.share) for r in skew_report(df, "k", 2).collect()]
    assert got == [("hot", 80, 0.8), ("warm", 15, 0.15)]


def test_validate_one_scan_and_null_violates(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], ["id", "price"]
    )
    got = {
        r.rule: (r.n_violations, r.n_rows)
        for r in validate(
            df,
            {
                "price_positive": F.col("price") > 0,
                "id_not_null": F.col("id").isNotNull(),
            },
        ).collect()
    }
    # NULL price -> predicate NULL -> violation
    assert got == {"price_positive": (2, 3), "id_not_null": (0, 3)}
