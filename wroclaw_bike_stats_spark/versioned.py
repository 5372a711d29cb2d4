"""Versioned parquet directories: the one storage rule behind the
``bike_rides`` table (cli.py) and the status stream's per-bike state
and event log (streaming/status_stream.py).

A store is a directory of numbered subdirectories: ``v<N>`` versions
of a table, whose newest is read, or ``batch_id=<N>`` batches of a log,
all of which are read (partition-style names, so ``spark.read.parquet``
of the root reads the whole log too). A write goes to a new number,
never over one a lazy plan may still be reading (Spark refuses to
overwrite a path it reads from). The commit rule: a number exists once
its ``_SUCCESS`` marker is in it. A write that crashed leaves a
directory without the marker, which every read, listing and numbering
below ignores; the next write to that number replaces it. A Delta
deployment gets the same from its transaction log.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SUCCESS = "_SUCCESS"
BATCH = "batch_id="


def _path(root: str, version: int, prefix: str = "v") -> str:
    return os.path.join(root, f"{prefix}{version}")


def versions(root: str, prefix: str = "v") -> list[int]:
    """Committed numbers under ``root``, ascending."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith(prefix) and name[len(prefix) :].isdecimal():
            if os.path.exists(os.path.join(root, name, _SUCCESS)):
                out.append(int(name[len(prefix) :]))
    return sorted(out)


def read(
    spark: SparkSession,
    root: str,
    *,
    below: int | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """The newest committed version under ``root`` (the newest one below
    ``below`` when given), read with ``schema`` when given (no inference
    job); None when there is none."""
    vs = [v for v in versions(root) if below is None or v < below]
    if not vs:
        return None
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(_path(root, vs[-1]))


def read_batches(spark: SparkSession, root: str, schema: StructType) -> DataFrame:
    """Every committed batch of the log at ``root``, read as one
    DataFrame of ``schema`` (empty before the first commit)."""
    paths = [_path(root, n, BATCH) for n in versions(root, BATCH)]
    return spark.read.schema(schema).parquet(*paths)


def write(
    df: DataFrame, root: str, version: int | None = None, prefix: str = "v"
) -> str:
    """Write ``df`` as ``<prefix><version>`` (default version: newest
    committed + 1), replacing whatever directory holds that number, and
    return its path. Raises if the write did not commit: with
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` no
    version would ever be visible and the next write would reuse its
    number."""
    if version is None:
        vs = versions(root, prefix)
        version = vs[-1] + 1 if vs else 0
    path = _path(root, version, prefix)
    df.write.mode("overwrite").parquet(path)
    if not os.path.exists(os.path.join(path, _SUCCESS)):
        raise RuntimeError(f"{path} was written without a {_SUCCESS} marker")
    return path


def prune(root: str, keep: int) -> None:
    """Delete all but the newest ``keep`` committed versions."""
    for v in versions(root)[:-keep]:
        shutil.rmtree(_path(root, v), ignore_errors=True)
