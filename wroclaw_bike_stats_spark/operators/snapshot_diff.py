"""Snapshot diff → arrival/departure events (SURVEY.md §2.3 J4, §2.9).

Reference semantics (src/bike_status_changes.py:106–157), keyed by
``bike_id`` between a previous and current snapshot:

- prev-only                          → ``departed`` (prev info)
- curr-only                          → ``arrived`` (curr info)
- in both, ``station_id`` changed    → ``departed`` (prev info)
                                       AND ``arrived`` (curr info)
- in both, unchanged                 → no event

All events are stamped with the **current** snapshot's timestamp.

Two Spark formulations:

1. ``diff_snapshot_pair`` — FULL OUTER join on bike_id, the direct
   analog of the reference's dict walk (anti-join semantics fall out of
   the null sides of the outer join).

2. ``diff_snapshot_series`` — the N-snapshot generalization: one
   ``lag()`` window per bike over the whole snapshot history, emitting
   the same events for EVERY consecutive pair in one pass. On the
   latest pair it is event-for-event identical to the reference; at
   scale it turns "re-run the script per minute" into a single job
   over a day/month of snapshots (one broadcast join of the tiny
   snapshot table plus one shuffle on bike_id). The streaming form
   (streaming/status_stream.py) carries the same state per bike_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INFO_COLS = ["station_name", "station_id", "lat", "lon", "bike_type", "battery"]


def diff_snapshot_pair(prev: DataFrame, curr: DataFrame, timestamp: str) -> DataFrame:
    """Events between exactly two flattened snapshots
    (BIKE_SNAPSHOT_SCHEMA rows, one row per bike each)."""
    p = prev.select(
        F.col("bike_id"),
        F.lit(True).alias("p_present"),
        *[F.col(c).alias(f"p_{c}") for c in _INFO_COLS],
    )
    c = curr.select(
        F.col("bike_id"),
        F.lit(True).alias("c_present"),
        *[F.col(c).alias(f"c_{c}") for c in _INFO_COLS],
    )
    joined = p.join(c, "bike_id", "full_outer")

    # Presence = the join side existed, NOT station_id non-nullness:
    # flatten_snapshots can emit a present bike with null station_id
    # (non-freestanding place with null uid), which must not read as
    # absence. `moved` is null-safe for the same reason, so the pair
    # and series formulations agree on such rows.
    in_prev = F.col("p_present").isNotNull()
    in_curr = F.col("c_present").isNotNull()
    moved = (
        in_prev
        & in_curr
        & ~F.col("p_station_id").eqNullSafe(F.col("c_station_id"))
    )

    def _event(kind: str, prefix: str):
        return F.struct(
            F.lit(kind).alias("event_type"),
            *[F.col(f"{prefix}_{c}").alias(c) for c in _INFO_COLS],
        )

    events = joined.select(
        "bike_id",
        F.filter(
            F.array(
                F.when(~in_curr | moved, _event("departed", "p")),
                F.when(~in_prev | moved, _event("arrived", "c")),
            ),
            lambda x: x.isNotNull(),
        ).alias("evs"),
    ).select("bike_id", F.explode("evs").alias("ev"))

    return events.select(
        F.lit(timestamp).alias("timestamp"),
        "bike_id",
        F.col("ev.event_type").alias("event_type"),
        *[F.col(f"ev.{c}").alias(c) for c in _INFO_COLS],
    )


def diff_snapshot_series(bike_snapshots: DataFrame) -> DataFrame:
    """Events for every consecutive snapshot pair in one windowed pass.

    ``bike_snapshots`` is the flattened per-bike table across N
    snapshots (sources.snapshots.flatten_snapshots over a directory).

    Sparse formulation — no dense bike×snapshot grid, no cross join:

    1. The distinct snapshot timestamps, each with its neighbours in
       the series (``prev_snap``/``next_snap``) — tiny, broadcast.
    2. One window per bike over its OBSERVED rows only, carrying its
       own previous/next observation (``p_ts``/``n_ts``) plus the
       lagged station info.
    3. Absence is detected by comparing the two, not by null grid rows:
       - arrived  @ this row's ts: first-ever observation after the
         series start, or reappearance after a gap (``p_ts`` is not
         ``prev_snap``), or a consecutive move (station changed).
       - departed @ ``next_snap`` with THIS row's info: the bike is
         absent from the next snapshot (``n_ts`` is not ``next_snap``)
         — the reference stamps a disappearance with the *current*
         (post-gap) snapshot's ts.
       - departed @ this row's ts with the LAGGED info: consecutive
         move.

    Cost: one broadcast join against the snapshot table plus one
    shuffle on bike_id for the window. Work is O(|observations|),
    which is ≤ the dense grid's |bikes|×|snapshots| by exactly the
    absence sparsity — at 100× snapshot retention the grid dominated;
    this doesn't. The streaming form (streaming/status_stream.py)
    carries the same per-bike last-seen state incrementally.
    """
    # Tiny (one row per snapshot): the single-partition window only
    # ever runs on this table, never on bike rows.
    w_snap = Window.partitionBy(F.lit(1)).orderBy("snapshot_ts")
    snaps = bike_snapshots.select("snapshot_ts").distinct().select(
        "snapshot_ts",
        F.lag("snapshot_ts").over(w_snap).alias("prev_snap"),
        F.lead("snapshot_ts").over(w_snap).alias("next_snap"),
    )

    w = Window.partitionBy("bike_id").orderBy("snapshot_ts")
    seq = bike_snapshots.join(F.broadcast(snaps), "snapshot_ts").select(
        "bike_id",
        "snapshot_ts",
        "prev_snap",
        "next_snap",
        *_INFO_COLS,
        F.lag("snapshot_ts").over(w).alias("p_ts"),
        F.lead("snapshot_ts").over(w).alias("n_ts"),
        *[F.lag(c).over(w).alias(f"p_{c}") for c in _INFO_COLS],
    )

    consecutive = F.col("p_ts") == F.col("prev_snap")
    # null-safe: a move involving a null station_id still counts
    # (matches diff_snapshot_pair's null-safe `moved`)
    moved = consecutive & ~F.col("p_station_id").eqNullSafe(F.col("station_id"))
    appeared = F.col("prev_snap").isNotNull() & (
        F.col("p_ts").isNull() | (F.col("p_ts") < F.col("prev_snap"))
    )
    absent_next = F.col("next_snap").isNotNull() & (
        F.col("n_ts").isNull() | (F.col("n_ts") > F.col("next_snap"))
    )

    # Single-pass emission, same array-of-structs + explode pattern as
    # diff_snapshot_pair: one scan, one window, no union. A union of
    # per-kind branches re-scans the nested-JSON flatten per branch and
    # trips Spark's nested-schema pruning when a consumer filters the
    # result (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the _extract_* aliases).
    def ev(ts_col, kind, cols):
        return F.struct(
            ts_col.alias("timestamp"),
            F.lit(kind).alias("event_type"),
            *[F.col(c).alias(a) for c, a in cols],
        )

    own = [(c, c) for c in _INFO_COLS]
    lagged = [(f"p_{c}", c) for c in _INFO_COLS]
    evs = F.filter(
        F.array(
            F.when(moved, ev(F.col("snapshot_ts"), "departed", lagged)),
            F.when(absent_next, ev(F.col("next_snap"), "departed", own)),
            F.when(appeared | moved, ev(F.col("snapshot_ts"), "arrived", own)),
        ),
        lambda x: x.isNotNull(),
    )
    events = seq.select("bike_id", F.explode(evs).alias("ev"))
    return events.select(
        F.col("ev.timestamp").alias("timestamp"),
        "bike_id",
        F.col("ev.event_type").alias("event_type"),
        *[F.col(f"ev.{c}").alias(c) for c in _INFO_COLS],
    )
