"""Structured Streaming form of the snapshot→event track (SURVEY.md
§2.9; reference orchestration src/pipeline.py:13–33, diff semantics
src/bike_status_changes.py:106–157).

The reference re-runs a script per minute, re-reading the latest two
snapshot files. Here the landing directory is a streaming file source
and the "previous snapshot" becomes explicit, durable per-bike state:

- **source**: ``readStream.json`` over the landing dir (one pretty-
  printed document per file, hence ``multiLine``) with the declared
  nested schema — new files are discovered incrementally via the
  checkpoint, never re-listed into the batch.
- **state**: the flattened per-bike rows of the most recently
  processed snapshot, persisted as versioned parquet (tiny: one row
  per bike in the fleet) under ``versioned.py``'s commit rule: batch
  N writes ``v<N>`` and reads the newest committed version below N,
  and the newest two are kept. A batch retried after a crash (its
  state written, its checkpoint commit not) thus re-reads its
  predecessor and rewrites its own version. Equivalent to the keyed
  last-seen state a ``transformWithStateInPandas`` operator would
  carry, but (a) the disappearance case needs to observe "snapshot
  happened, bike row didn't" — which per-key arbitrary-state
  operators only reach via timers — and (b) the union-with-state
  formulation lets streaming and batch share ONE diff implementation
  (``operators.snapshot_diff.diff_snapshot_series``), so the two
  paths cannot drift.
- **processing**: each micro-batch persists the union of the carried
  state rows and its flattened snapshots (one JSON parse per batch) and
  runs the series diff — emitting exactly the events of every
  consecutive pair, including the bridge pair (state, first-new-snapshot).
- **sink**: one parquet directory per micro-batch,
  ``events_dir/batch_id=<N>/``, under the same commit rule. A retried
  batch overwrites its own directory, so the log holds each batch id
  exactly once. ``events()`` reads the committed batches; a plain
  ``spark.read.parquet(events_dir)`` reads the whole log.
- **trigger**: ``Trigger.AvailableNow`` for cron parity (drain the
  landing dir, then stop); drop the trigger for continuous tailing.

Scale: state size is O(fleet), events are O(changes); each batch does
one broadcast join against the snapshot table and one shuffle keyed by
bike_id — no dense grid, no cross join (see diff_snapshot_series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark import schemas, versioned
from wroclaw_bike_stats_spark.operators.snapshot_diff import diff_snapshot_series
from wroclaw_bike_stats_spark.sources.snapshots import flatten_snapshots


class StatusChangeStream:
    """Streaming snapshot differ with durable per-bike last-seen state.

    Parameters
    ----------
    landing_dir : directory the fetcher drops snapshot JSONs into.
    events_dir  : parquet event log, one directory per batch (output).
    state_dir   : versioned per-bike state (internal).
    checkpoint_dir : Structured Streaming checkpoint location.
    """

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        events_dir: str,
        state_dir: str,
        checkpoint_dir: str,
    ) -> None:
        self.spark = spark
        self.landing_dir = landing_dir
        self.events_dir = events_dir
        self.state_dir = state_dir
        self.checkpoint_dir = checkpoint_dir

    # -- batch processing --------------------------------------------------

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        schema = schemas.BIKE_SNAPSHOT_SCHEMA
        state = versioned.read(self.spark, self.state_dir, below=batch_id, schema=schema)
        flat = flatten_snapshots(batch_df)
        combined = (state.unionByName(flat) if state is not None else flat).persist()
        try:
            latest_ts = combined.agg(F.max("snapshot_ts")).collect()[0][0]
            if latest_ts is None:  # no state and no bike in the batch
                return
            events = diff_snapshot_series(combined)
            versioned.write(events, self.events_dir, batch_id, prefix=versioned.BATCH)
            # New state = the rows of the newest snapshot in this batch,
            # one file: AQE does not coalesce inside the cached union's
            # plan, and the state is O(fleet).
            latest = combined.filter(F.col("snapshot_ts") == latest_ts)
            versioned.write(latest.coalesce(1), self.state_dir, batch_id)
        finally:
            combined.unpersist()
        # The newest version and its predecessor, which a retry of this
        # batch re-reads; storage stays O(fleet), not O(fleet × batches).
        versioned.prune(self.state_dir, keep=2)

    # -- driver ------------------------------------------------------------

    def start(self, available_now: bool = True):
        stream = (
            self.spark.readStream.schema(schemas.SNAPSHOT_SCHEMA)
            .option("multiLine", True)
            # process snapshot files oldest-first so consecutive-pair
            # semantics hold across batches
            .option("latestFirst", False)
            .option("maxFilesPerTrigger", 1)
            .json(self.landing_dir)
        )
        writer = stream.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def events(self) -> DataFrame:
        return versioned.read_batches(
            self.spark, self.events_dir, schemas.STATUS_EVENT_SCHEMA
        )


def run_available_now(
    spark: SparkSession,
    landing_dir: str,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain the landing dir once (cron parity) and return the event
    log. Re-invocations process only files the checkpoint hasn't seen."""
    s = StatusChangeStream(spark, landing_dir, events_dir, state_dir, checkpoint_dir)
    q = s.start(available_now=True)
    q.awaitTermination()
    return s.events()
