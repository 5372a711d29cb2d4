"""Versioned parquet directories: the one storage rule behind the
``bike_rides`` table (cli.py), the status stream's per-bike state
(streaming/status_stream.py) and the merge sink's buckets
(streaming/merge_sink.py).

A store is a directory of ``v0``, ``v1``, … subdirectories. A write
goes to a new version, never over the one a lazy plan may still be
reading (Spark refuses to overwrite a path it reads from). The commit
rule: a version exists once its ``_SUCCESS`` marker is in it. A write
that crashed leaves a directory without the marker, which every read,
listing and numbering below ignores; the next write to that number
replaces it. A Delta deployment gets the same from its transaction log.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_SUCCESS = "_SUCCESS"


def _path(root: str, version: int) -> str:
    return os.path.join(root, f"v{version}")


def versions(root: str) -> list[int]:
    """Committed version numbers under ``root``, ascending."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("v") and name[1:].isdecimal():
            if os.path.exists(os.path.join(root, name, _SUCCESS)):
                out.append(int(name[1:]))
    return sorted(out)


def read(
    spark: SparkSession, *roots: str, below: int | None = None
) -> DataFrame | None:
    """The newest committed version of each root (the newest one below
    ``below`` when given), read as one DataFrame; None when no root has
    one."""
    paths = []
    for root in roots:
        vs = [v for v in versions(root) if below is None or v < below]
        if vs:
            paths.append(_path(root, vs[-1]))
    return spark.read.parquet(*paths) if paths else None


def write(df: DataFrame, root: str, version: int | None = None) -> str:
    """Write ``df`` as ``v<version>`` (default: newest committed + 1),
    replacing whatever uncommitted directory holds that number, and
    return its path. Raises if the write did not commit: with
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` no
    version would ever be visible and the next write would reuse its
    number."""
    if version is None:
        vs = versions(root)
        version = vs[-1] + 1 if vs else 0
    path = _path(root, version)
    df.write.mode("overwrite").parquet(path)
    if not os.path.exists(os.path.join(path, _SUCCESS)):
        raise RuntimeError(f"{path} was written without a {_SUCCESS} marker")
    return path


def prune(root: str, keep: int) -> None:
    """Delete all but the newest ``keep`` committed versions."""
    for v in versions(root)[:-keep]:
        shutil.rmtree(_path(root, v), ignore_errors=True)
