"""S8 idempotent-load semantics: first-writer-wins on uid, the SQLite
multiple-NULLs quirk, and deterministic in-batch dedup
(reference: src/data_load_sqlite.py:218–235, unique index :213)."""

from __future__ import annotations

from datetime import datetime


from wroclaw_bike_stats_spark.operators.upsert import (
    dedupe_batch_by_uid,
    idempotent_append,
)
from wroclaw_bike_stats_spark.schemas import RIDES_SCHEMA


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _row(uid, bike="100", start="2025-04-07 10:00:00", station="A"):
    return (
        uid, bike, _ts(start), _ts("2025-04-07 10:30:00"),
        station, "B", 10, None, None, None, None, 1.0,
    )


def test_dedupe_batch_deterministic_pick(spark):
    """Duplicate uids keep the minimum over the remaining row tuple —
    stable across partitionings (dropDuplicates would be arbitrary)."""
    batch = spark.createDataFrame(
        [
            _row(1, bike="300"),
            _row(1, bike="100"),
            _row(1, bike="200"),
            _row(2, bike="999"),
        ],
        RIDES_SCHEMA,
    )
    for n_parts in (1, 7):
        got = {
            r["uid"]: r["bike_number"]
            for r in dedupe_batch_by_uid(batch.repartition(n_parts)).collect()
        }
        assert got == {1: "100", 2: "999"}


def test_null_uids_all_pass_through(spark):
    batch = spark.createDataFrame(
        [_row(None, bike="a"), _row(None, bike="b"), _row(3)], RIDES_SCHEMA
    )
    out = dedupe_batch_by_uid(batch)
    assert out.count() == 3
    assert out.filter("uid IS NULL").count() == 2


def test_idempotent_append_first_writer_wins(spark):
    existing = spark.createDataFrame(
        [_row(1, bike="old"), _row(None, bike="null-existing")], RIDES_SCHEMA
    )
    batch = spark.createDataFrame(
        [_row(1, bike="new"), _row(2, bike="fresh"), _row(None, bike="null-new")],
        RIDES_SCHEMA,
    )
    out = idempotent_append(existing, batch)
    rows = {r["bike_number"] for r in out.collect()}
    # uid 1 keeps the EXISTING row; uid 2 inserts; both NULL-uid rows live
    assert rows == {"old", "fresh", "null-existing", "null-new"}
    assert out.count() == 4
    # re-running the same batch adds nothing but the NULL-uid quirk row
    again = idempotent_append(out, batch)
    assert again.count() == 5
    assert again.filter("uid IS NULL").count() == 3
