"""Keyed table diff — what changed between two versions of a dataset.

The corpus-management twin of the snapshot differ
(operators/snapshot_diff.py, which handles the bike-fleet case): given
two keyed table versions — corpus v1 vs v2, yesterday's dim vs
today's — classify every key as added / removed / changed / unchanged.
The day-to-day uses are CDC extraction (ship only added+changed
downstream), release auditing (how much of the corpus moved between
training runs), and dim-history tracking.

Scale shape: one full-outer shuffle join on the key — the minimal
plan for an unordered diff; both sides get column-pruned to key +
compared columns at the scan. ``changed`` compares a content hash
(xxhash64 of the compared columns) instead of column-by-column
equality, so wide tables diff at hash speed; pass explicit
``compare_cols`` to scope the diff (e.g. ignore mutable metadata).
Null-safe: a NULL column value is part of the content, not a wildcard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _content_hash(cols: list[str]):
    # xxhash64 SKIPS null arguments (they leave the running hash at its
    # seed), so ("x", NULL) and (NULL, "x") would collide; coalescing
    # every column to a sentinel keeps each position's contribution so
    # NULL is part of the content, not a wildcard.
    return F.xxhash64(
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
            for c in cols
        ]
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key present in either version:
    (key, change) with change ∈ added | removed | changed | unchanged.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c != key and c in old.columns
    ]
    o = old.select(
        F.col(key), _content_hash(compare_cols).alias("_oh")
    )
    n = new.select(
        F.col(key), _content_hash(compare_cols).alias("_nh")
    )
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") == F.col("_nh"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )
