"""Scratch/checkpoint lifecycle: checkpoint_tracked must attribute
EXACTLY the checkpoint's own RDD — a concurrent query's cache that
happens to materialize around the checkpoint job must never land in
the returned id set and never be force-released (ADVICE r04 medium:
the old before/after getPersistentRDDs diff mis-attributed foreign
RDDs in the multi-query resident-service scenario)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import __spark_entry__ as entry
from wroclaw_bike_stats_spark.operators import scratch


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_checkpoint_tracked_returns_only_own_rdd(spark):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    # A "foreign" persisted frame registered but NOT yet materialized:
    # with the old diff, its cache RDD could register during the
    # checkpoint job and be mis-attributed.
    foreign = spark.range(500).withColumn("w", F.lit(1)).persist()
    try:
        ck, ids = scratch.checkpoint_tracked(df)
        assert len(ids) == 1, f"expected exactly the checkpoint id, got {ids}"
        # materialize the foreign cache AFTER the checkpoint — its RDD id
        # must not be in the tracked set
        foreign.count()
        foreign_ids = _persistent_ids(spark) - ids
        assert ids.isdisjoint(foreign_ids - ids)
        # releasing the tracked ids must not evict the foreign cache
        scratch.release_rdd_ids(spark, ids)
        remaining = _persistent_ids(spark)
        assert ids.isdisjoint(remaining), "checkpoint blocks not freed"
        assert foreign.count() == 500  # still usable
    finally:
        foreign.unpersist()


def test_checkpoint_tracked_ids_are_releasable(spark):
    df = spark.range(100).withColumn("v", F.col("id") + 1)
    ck, ids = scratch.checkpoint_tracked(df)
    assert ck.count() == 100
    before = _persistent_ids(spark)
    assert ids <= before
    scratch.release_rdd_ids(spark, ids)
    assert ids.isdisjoint(_persistent_ids(spark))


def test_checkpoint_tracked_concurrent_cache_materializing_in_flight(spark):
    """The sharpest form of the hazard: the foreign cache's FIRST
    action runs while the checkpoint job is in flight (simulated by
    materializing between the before-snapshot and the checkpoint via
    a second thread is inherently racy on local[N]; instead we pin the
    direct-tracking property — the returned set is exactly one id and
    it is the checkpoint's, independent of what else registered)."""
    a = spark.range(2000).withColumn("x", F.lit(1)).persist()
    b = spark.range(3000).withColumn("y", F.lit(2)).persist()
    try:
        a.count()  # a registered before
        ck, ids = scratch.checkpoint_tracked(
            spark.range(4000).withColumn("z", F.col("id") % 7)
        )
        b.count()  # b registered after
        assert len(ids) == 1
        scratch.release_rdd_ids(spark, ids)
        # both foreign caches survive a release of the tracked ids
        assert a.count() == 2000 and b.count() == 3000
        assert len(_persistent_ids(spark)) >= 2
    finally:
        a.unpersist()
        b.unpersist()


# --- keyed asset store -------------------------------------------------------

SF = "/root/testdata/sf0.001"


def test_store_rebuilds_after_corpus_rewrite(spark, tmp_path):
    """Rewriting documents.parquet at the same path changes the corpus
    fingerprint: the next neardup_components call must rebuild the pair
    graph and the components from the new rows, not serve the cached
    result (nor plan-keyed scratch cached over the old file)."""
    import shutil

    import pyarrow.parquet as pq

    q = entry.queries()["neardup_components"]
    sf_dir = tmp_path / "sf"
    shutil.copytree(SF, sf_dir)
    for f in sf_dir.iterdir():
        f.chmod(0o644)
    entry.release_shared()
    before = {r["doc_id"] for r in q(spark, str(sf_dir)).collect()}

    docs = pq.read_table(sf_dir / "documents.parquet")
    half = docs.slice(0, docs.num_rows // 2)
    pq.write_table(half, sf_dir / "documents.parquet")
    new_ids = set(half.column("doc_id").to_pylist())
    assert before - new_ids, "the rewrite must remove some paired docs"

    warm = sorted(map(tuple, q(spark, str(sf_dir)).collect()))
    entry.release_shared()
    cold = sorted(map(tuple, q(spark, str(sf_dir)).collect()))
    entry.release_shared()
    assert warm == cold
    assert {doc_id for doc_id, _ in warm} <= new_ids


def test_release_shared_frees_every_asset(spark):
    """After release_shared() no RDD persisted by the store or the
    scratch list is left, and the on-disk asset root is deleted."""
    entry.release_shared()
    before = _persistent_ids(spark)
    for name in ("neardup_components", "embedding_topk_ivf_indexed"):
        entry.queries()[name](spark, SF).collect()
    # at this scale the components are resolved on the driver, so pin
    # the freeing of a checkpoint-backed asset directly
    ck = scratch.shared_value(
        spark, SF, "checkpoint_probe",
        lambda: scratch.checkpoint_tracked(spark.range(10))[0],
    )
    assert ck.count() == 10
    root = scratch._ROOT
    assert root and os.path.isdir(root)
    assert _persistent_ids(spark) - before
    entry.release_shared()
    assert _persistent_ids(spark) <= before
    assert not os.path.exists(root)


def test_shared_build_sec_names_each_asset(spark):
    """The components and the IVF index are timed under their own names,
    apart from the pair graph the components read."""
    entry.release_shared()
    for name in ("neardup_dedup_keep", "embedding_topk_ivf_indexed"):
        entry.queries()[name](spark, SF).collect()
    built = entry.shared_build_sec()
    entry.release_shared()
    assert {"ngram_pair_graph", "components", "ivf_index"} <= set(built)
    assert all(v > 0 for v in built.values())


def test_shared_value_builds_once_under_concurrent_callers(spark, tmp_path):
    """8 threads on one session ask for one key at once: one build, and
    every thread gets the one object that build made."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    builds = []
    start = threading.Barrier(8, timeout=60)

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.3)  # hold the build open while the others arrive
        return spark.range(10).collect()

    def ask(_):
        start.wait()
        return scratch.shared_value(spark, str(tmp_path), "single_flight", build)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(ask, range(8), timeout=120))
        assert len(builds) == 1
        assert all(g is got[0] for g in got)
        assert [r.id for r in got[0]] == list(range(10))
    finally:
        sys.setswitchinterval(switch)
        entry.release_shared()
