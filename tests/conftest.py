from __future__ import annotations

import os
import sys

import pytest

from wroclaw_bike_stats_spark.session import get_spark

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import bikegen  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wbs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def job_count(spark):
    """``job_count(group, action)``: how many Spark jobs ``action()``
    runs, counted under the job group ``group``."""
    sc = spark.sparkContext

    def count(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="module")
def bike_series(tmp_path_factory):
    """(truth, snapshot paths oldest first) of one seeded bikegen series:
    3 snapshots of 80 bikes, 10% of the fleet moving each minute, so
    every consecutive pair has events. The generator stamps strictly
    increasing mtimes, which the streaming file source orders by and
    ``shutil.copy2`` keeps."""
    out = str(tmp_path_factory.mktemp("bikegen"))
    truth = bikegen.generate(
        11, out, days=1, rides_per_day=400, stations=25, snapshots=3, bikes=80, move_share=0.1
    )
    snap_dir = os.path.join(out, "snapshots")
    return truth, [os.path.join(snap_dir, n) for n in sorted(os.listdir(snap_dir))]
