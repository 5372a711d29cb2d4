"""Keyed idempotent merge sink — exactly-once dedup over ALL history.

The complement to ``dedup_stream``: ``dropDuplicatesWithinWatermark``
bounds state by evicting keys behind the watermark, so a duplicate
arriving later than the delay is re-emitted. When the contract is
"this key is written once, ever", the sink itself must be keyed and
idempotent — the lakehouse answer is ``MERGE INTO``; this is the
plain-parquet formulation of the same semantics.

Layout: the store is hash-bucketed by key into ``kb=<i>/v<j>``
directories — each bucket is a ``versioned.py`` store, the same
never-overwrite-what-a-lazy-plan-reads rule as the rides table and the
status stream's state (Spark refuses to overwrite a path it is
reading; a crash mid-write leaves the previous version intact, since a
version becomes current only once its ``_SUCCESS`` marker lands).

Scale shape: a micro-batch touches only the buckets its keys hash to —
the merge reads and rewrites O(touched buckets), not O(store). Bucket
count trades merge amplification (bigger buckets = more rewrite per
batch) against file count; at 100 TB you size buckets to a few GB and
let the key hash spread load. Batch retries are idempotent: re-merging
already-present keys is an empty anti-join and rewrites a bucket to
identical content.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark import versioned

_BUCKET_PREFIX = "kb="


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _bucket_dirs(store_dir: str) -> list[str]:
    if not os.path.isdir(store_dir):
        return []
    return [
        os.path.join(store_dir, name)
        for name in sorted(os.listdir(store_dir))
        if name.startswith(_BUCKET_PREFIX)
    ]


def read_store(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """Current store contents: the latest committed version of every
    bucket."""
    return versioned.read(spark, *_bucket_dirs(store_dir))


def merge_upsert_batch(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    keys: list[str],
    n_buckets: int = 16,
) -> None:
    """Merge one (micro-)batch into the keyed store: first-writer-wins
    per key, only touched buckets rewritten."""
    compact = batch.dropDuplicates(keys)
    touched = [
        r[0]
        for r in compact.select(
            _bucket_expr(keys, n_buckets).alias("_kb")
        )
        .distinct()
        .collect()
    ]
    for kb in sorted(touched):
        bucket_rows = compact.filter(
            _bucket_expr(keys, n_buckets) == kb
        )
        bucket_dir = os.path.join(store_dir, f"{_BUCKET_PREFIX}{kb}")
        existing = versioned.read(spark, bucket_dir)
        if existing is not None:
            new_rows = bucket_rows.join(
                existing.select(*keys), keys, "left_anti"
            )
            bucket_rows = existing.unionByName(new_rows)
        versioned.write(bucket_rows, bucket_dir)
        # Keep current + predecessor; older versions bound storage on
        # long streams.
        versioned.prune(bucket_dir, keep=2)


def run_merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    store_dir: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    n_buckets: int = 16,
) -> DataFrame:
    """Drain a parquet file stream through the keyed merge sink
    (AvailableNow, one file per micro-batch) and return the store."""
    keys = keys or ["event_id"]
    src = (
        spark.readStream.schema(schema)
        .option("latestFirst", False)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_upsert_batch(spark, store_dir, batch, keys, n_buckets)

    q = (
        src.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_store(spark, store_dir)
