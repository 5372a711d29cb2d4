"""Idempotent load + distance backfill (SURVEY.md §2.1 S8, §2.3 J5,
§2.11).

S8 — the reference stages each daily batch into a temp table and runs
``INSERT OR IGNORE`` against a unique index on ``uid``
(reference: src/data_load_sqlite.py:218–235, index :213):
**first-writer-wins dedup**, with the SQLite quirk that NULL uids
always insert (unique indexes admit multiple NULLs).

Spark-first: an anti-join merge. On a Delta deployment this is
``MERGE INTO ... WHEN NOT MATCHED THEN INSERT`` with
``ON t.uid = s.uid`` (null keys never match → NULL-uid rows insert,
matching the quirk for free). This module provides the
storage-agnostic DataFrame formulation used by tests and
parquet-backed runs.

J5 — distance backfill re-computes ``distance`` where NULL and all
four coordinates are present (reference: src/backfill_distance.py:45–53),
expressed as a single projection: no per-row UPDATE loop, the Delta
equivalent is ``MERGE ... WHEN MATCHED THEN UPDATE SET distance``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.functions.distance import haversine_km


def dedupe_batch_by_uid(batch: DataFrame) -> DataFrame:
    """Within one ingest batch keep one row per non-null uid; NULL-uid
    rows all pass through.

    SQLite's INSERT OR IGNORE keeps the first row in file order; Spark
    has no inherent row order after a shuffle, so "first" is realized
    deterministically as the minimum over the remaining row tuple
    (row_number over a full-column ordering) — stable across runs and
    partitionings, unlike ``dropDuplicates``, which keeps an arbitrary
    row. Any deterministic pick satisfies the reference's contract
    (its daily files never actually contain duplicate uids; the index
    exists to make *re-runs* idempotent).
    """
    nulls = batch.filter(F.col("uid").isNull())
    order = [F.col(c).asc_nulls_first() for c in batch.columns if c != "uid"]
    w = Window.partitionBy("uid").orderBy(*order)
    deduped = (
        batch.filter(F.col("uid").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.unionByName(nulls)


def idempotent_append(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """Rows of ``batch`` that survive S8's first-writer-wins semantics
    against ``existing``: new non-null uids + all NULL-uid rows.

    ``left_anti`` on uid never matches null keys, so NULL-uid batch
    rows always survive — exactly the SQLite multiple-NULLs quirk.
    """
    new_rows = dedupe_batch_by_uid(batch).join(
        existing.select("uid").filter(F.col("uid").isNotNull()),
        "uid",
        "left_anti",
    )
    return existing.unionByName(new_rows.select(*existing.columns))


def backfill_distance(rides: DataFrame, scale: int = 3) -> DataFrame:
    """O13 + J5: fill NULL distance where all coords are present;
    leave every other row untouched."""
    eligible = (
        F.col("distance").isNull()
        & F.col("lat_start").isNotNull()
        & F.col("lon_start").isNotNull()
        & F.col("lat_end").isNotNull()
        & F.col("lon_end").isNotNull()
    )
    return rides.withColumn(
        "distance",
        F.when(
            eligible,
            haversine_km(
                F.col("lat_start"),
                F.col("lon_start"),
                F.col("lat_end"),
                F.col("lon_end"),
                scale,
            ),
        ).otherwise(F.col("distance")),
    )


def count_backfillable(rides: DataFrame) -> int:
    """--dry-run support (reference: src/backfill_distance.py:56–66)."""
    return rides.filter(
        F.col("distance").isNull()
        & F.col("lat_start").isNotNull()
        & F.col("lon_start").isNotNull()
        & F.col("lat_end").isNotNull()
        & F.col("lon_end").isNotNull()
    ).count()
