"""Session lifecycle of persisted intermediates: one keyed asset store
and one unkeyed scratch list, freed by one ``release()``.

**Keyed store.** A shared asset is something several queries read and
that is built once per corpus version: the near-dup pair graph, a fitted
model, a collected sketch, a materialized IVF index. ``shared_value``
memoizes ``build()`` under the key ``(applicationId, sf_dir,
fingerprint, name)``. ``shared_frame`` does the same for a DataFrame (or
a tuple of them), persisting it and materializing it eagerly through the
``noop`` sink so that its one-time cost lands in ``build_sec()`` under
its own name instead of inside its first consumer's timing. The
fingerprint is ``(file name, st_size, st_mtime_ns)`` of every
``*.parquet`` entry of ``sf_dir`` (``"nosrc"`` when there is none), so a
corpus rewritten at the same path misses instead of serving stale rows.
Assets that live on disk are written under ``asset_dir()``, one
per-process temporary root.

**Invalidation.** On a miss, entries of the same name for another
session, corpus or version are dropped before the build, so at most one
instance of each asset stays pinned. Dropping unpersists a frame, frees
the checkpoint blocks its plan reads, and deletes a path under the
store's root. When the fingerprint of an ``sf_dir`` changes, every entry
built from its old version is dropped and the scratch list is released
too: Spark's CacheManager matches a rebuilt plan over the same parquet
path to the old cached data, and the scratch list is not keyed.

**Scratch list.** Iterative and multi-consumer operators (shingle
tables, LSH candidate sets) ``persist``/``track`` intermediates that
stay useful across repeat runs of one query (the CacheManager is
plan-keyed, so a rebuilt identical plan reuses them) but are dead weight
once a session moves on. Its growth is bounded by the number of distinct
plans, not by call count.

**One release.** ``release()`` drops every store entry, the build-time
record, the asset root and the scratch list. It is safe any time (the
next consumer rebuilds) except while a frame read from a dropped
checkpoint is still in use: checkpoint blocks have no lineage to
recompute from. A harness calls it between sections; a resident
service calls it when a corpus version is retired.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame

_SCRATCH: list[DataFrame] = []
# (applicationId, sf_dir, fingerprint, name) → asset
_STORE: dict = {}
# sf_dir → fingerprint at its last store lookup
_FINGERPRINTS: dict = {}
# name → wall seconds spent building it (plan + eager materialization)
_BUILD_SEC: dict = {}
_ROOT: str | None = None


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted/checkpointed frame for release."""
    _SCRATCH.append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """Persist a frame and register it for release."""
    return track(df.persist())


def _fingerprint(sf_dir: str):
    """``(name, size, mtime_ns)`` of each ``*.parquet`` entry, sorted."""
    try:
        with os.scandir(sf_dir) as it:
            fp = tuple(sorted(
                (e.name, st.st_size, st.st_mtime_ns)
                for e in it if e.name.endswith(".parquet")
                for st in (e.stat(),)
            ))
    except OSError:
        fp = ()
    return fp or "nosrc"


def asset_dir(name: str) -> str:
    """A new empty directory under the store's root for an on-disk
    asset; deleted when the asset is dropped."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="wbs-assets-")
    return tempfile.mkdtemp(prefix=f"{name}-", dir=_ROOT)


def shared_value(spark, sf_dir: str, name: str, build):
    """``build()`` memoized once per (session, corpus version, name)."""
    fp = _fingerprint(sf_dir)
    if _FINGERPRINTS.setdefault(sf_dir, fp) != fp:
        _FINGERPRINTS[sf_dir] = fp
        _drop([k for k in _STORE if k[1] == sf_dir and k[2] != fp])
        _release_scratch()
    key = (spark.sparkContext.applicationId, sf_dir, fp, name)
    if key not in _STORE:
        _drop([k for k in _STORE if k[3] == name])
        t0 = time.perf_counter()
        _STORE[key] = build()
        _BUILD_SEC[name] = _BUILD_SEC.get(name, 0.0) + time.perf_counter() - t0
    return _STORE[key]


def shared_frame(spark, sf_dir: str, name: str, build):
    """``shared_value`` for a DataFrame or a tuple of them: persisted
    and materialized eagerly inside the timed build."""

    def persisted():
        got = build()
        for df in got if isinstance(got, tuple) else (got,):
            df.persist()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - consumers still fill lazily
                pass
        return got

    return shared_value(spark, sf_dir, name, persisted)


def build_sec() -> dict:
    """name → build seconds of every asset built since the last release."""
    return {k: round(v, 3) for k, v in _BUILD_SEC.items()}


def _drop(keys) -> None:
    for k in keys:
        asset = _STORE.pop(k)
        for part in asset if isinstance(asset, tuple) else (asset,):
            if isinstance(part, DataFrame):
                try:
                    part.unpersist()
                    release_rdd_ids(part.sparkSession, _checkpoint_ids(part))
                except Exception:  # noqa: BLE001 - session may already be gone
                    pass
            elif _ROOT and isinstance(part, str) and part.startswith(_ROOT + os.sep):
                shutil.rmtree(part, ignore_errors=True)


def _checkpoint_ids(df: DataFrame) -> set:
    """Ids of the RDDs behind the ``LogicalRDD`` leaves of ``df``'s plan
    (its checkpoints; ``DataFrame.unpersist`` does not free them)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    }


def _release_scratch() -> None:
    while _SCRATCH:
        try:
            _SCRATCH.pop().unpersist()
        except Exception:  # noqa: BLE001 - session may already be gone
            pass


def release() -> None:
    """Drop every store entry and scratch frame, and the asset root."""
    global _ROOT
    _drop(list(_STORE))
    _BUILD_SEC.clear()
    _release_scratch()
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)
        _ROOT = None


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def checkpoint_tracked(df: DataFrame) -> tuple[DataFrame, set]:
    """``localCheckpoint`` plus the ids of the RDD blocks it pinned.

    ``DataFrame.unpersist()`` is a NO-OP for checkpoint blocks (it
    only uncaches CacheManager entries, and a checkpoint is not one),
    so iterative operators that want to free superseded rounds must
    release at the RDD level — keep the returned ids and pass them to
    ``release_rdd_ids`` once nothing can reference the frame again.

    The id is read DIRECTLY off the checkpointed plan: a
    ``localCheckpoint`` Dataset is backed by a ``LogicalRDD`` whose
    ``rdd`` is exactly the one persisted block — so RDDs registered by
    CONCURRENT queries on the same session (e.g. another thread's
    cache materializing mid-job) are never mis-attributed and never
    force-released. A before/after diff of ``getPersistentRDDs`` is
    kept only as a fallback for plan shapes where the accessor is
    unavailable; only that fallback carries the old caveat that
    persisted inputs should be touched once before the first tracked
    checkpoint.
    """
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    ck = df.localCheckpoint()
    try:
        # LogicalRDD.rdd() — the one RDD localCheckpoint persisted.
        ids = {ck._jdf.queryExecution().analyzed().rdd().id()}
    except Exception:  # noqa: BLE001 - e.g. a future plan rewrite
        ids = _persistent_rdd_ids(spark) - before
    return ck, ids


def release_rdd_ids(spark, ids) -> None:
    """Truly free checkpoint blocks by JVM-level RDD unpersist.

    DANGER: a released checkpoint frame is unusable (its lineage was
    cut at checkpoint time) — only call for frames no consumer can
    still touch."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        r = m.get(i)
        if r is not None:
            try:
                r.unpersist()
            except Exception:  # noqa: BLE001
                pass
