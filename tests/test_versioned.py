"""The versioned-directory store (versioned.py) behind the rides table
and the status stream's state and event log: a version exists once its
``_SUCCESS`` marker is in it."""

from __future__ import annotations

import os

import pytest

from wroclaw_bike_stats_spark import versioned
from wroclaw_bike_stats_spark.cli import read_table, write_next_version


def test_crashed_write_is_ignored_and_replaced(spark, tmp_path):
    """A committed v0 plus the bare ``v1/_temporary/0/`` a crashed write
    leaves: reads see v0, and the next write takes v1 and commits it."""
    table = str(tmp_path / "bike_rides")
    write_next_version(spark.range(3), table)
    os.makedirs(os.path.join(table, "v1", "_temporary", "0"))

    assert sorted(r.id for r in read_table(spark, table).collect()) == [0, 1, 2]
    path = write_next_version(spark.range(5), table)
    assert path == os.path.join(table, "v1")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert read_table(spark, table).count() == 5


def test_write_without_success_marker_raises(spark, tmp_path, monkeypatch):
    """A writer that does not mark successful jobs leaves a version no
    read would ever see; the write raises instead of returning its
    path, and the store keeps its previous version."""
    root = str(tmp_path / "store")
    df = spark.range(3)
    versioned.write(df, root)
    writer = type(df).write
    monkeypatch.setattr(
        type(df),
        "write",
        property(
            lambda self: writer.fget(self).option(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
            )
        ),
    )
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        versioned.write(df, root)
    assert versioned.versions(root) == [0]
