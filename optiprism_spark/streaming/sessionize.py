"""Sessionization and date-partitioned ingest.

The reference detects new sessions at ingest time and injects a
`Session Begin` event (ingester/src/destinations/local/track.rs:44-52,
EVENT_SESSION_BEGIN common/src/types.rs:70-71); its funnel declares a
Session count unit but leaves it unimplemented. Here:

- lag-gap sessionization (window functions) assigning a session_id
  per (user, 30-min-gap run) and synthesizing the `Session Begin`
  rows — read-path equivalent of the reference's write-path
  injection.
- ingest: date-partitioned append writer — the events table layout
  that makes time-range queries partition-pruned at 100 TB.

``SESSION_GAP_US`` is the one engine-wide gap constant: the funnel's
Session count mode and the ingest-time session store
(sessions.SessionStore) read it from here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import EVENT_ID_COL, EVENT_NAME_COL, EVENT_TIME_COL, EVENT_USER_COL

SESSION_GAP_US = 30 * 60 * 1_000_000
EVENT_SESSION_BEGIN = "Session Begin"  # reference common/src/types.rs:70-71
EVENT_SESSION_END = "Session End"


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Assign session_id: cumulative count of gap-exceeding boundaries
    per user (first event of a user starts session 1)."""
    w = Window.partitionBy(EVENT_USER_COL).orderBy(EVENT_TIME_COL, EVENT_ID_COL)
    prev_ts = F.lag(F.unix_micros(F.col(EVENT_TIME_COL))).over(w)
    is_new = (
        prev_ts.isNull()
        | ((F.unix_micros(F.col(EVENT_TIME_COL)) - prev_ts) > F.lit(gap_us))
    ).cast("long")
    return events.withColumn(
        "session_id", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def session_stats(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Per-user session metrics: session count, events/session, mean
    session duration (seconds; exact µs sums → one division)."""
    s = sessionize(events, gap_us)
    per_session = s.groupBy(EVENT_USER_COL, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.unix_micros(F.col(EVENT_TIME_COL)))
            - F.min(F.unix_micros(F.col(EVENT_TIME_COL)))
        ).alias("dur_us"),
    )
    return per_session.groupBy(EVENT_USER_COL).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        (F.sum("dur_us").cast("double") / F.lit(1e6) / F.count(F.lit(1)).cast("double"))
        .alias("avg_session_secs"),
    )


def synthesize_session_begin(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Emit a `Session Begin` row per session start, unioned with the
    stream (the reference ingester's injection, done declaratively)."""
    s = sessionize(events, gap_us)
    w = Window.partitionBy(EVENT_USER_COL, "session_id").orderBy(EVENT_TIME_COL, EVENT_ID_COL)
    starts = (
        s.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "session_id")
        .withColumn(EVENT_NAME_COL, F.lit(EVENT_SESSION_BEGIN))
        # a verbatim copy of the first event's id would TIE the
        # (ts, event_id) sort key every ordering consumer uses — the
        # Begin row must sort strictly BEFORE the event that started
        # the session, and stay unique for id-keyed joins. -id-1 is
        # injective from the non-negative id space and negative.
        .withColumn(EVENT_ID_COL, -F.col(EVENT_ID_COL) - F.lit(1))
    )
    return events.unionByName(starts)


def append_events(df: DataFrame, path: str, mode: str = "append") -> None:
    """Date-partitioned append — the write layout that gives
    partition-pruned time-range scans (reference's LSM time-ordering
    analogue, SURVEY §1.3 Spark mapping)."""
    from .. import metrics

    with metrics.store_insert_time().time():
        (
            df.withColumn("dt", F.to_date(F.col(EVENT_TIME_COL)))
            .repartition(F.col("dt"))
            .write.mode(mode)
            .partitionBy("dt")
            .parquet(path)
        )
    metrics.store_inserts_total().inc()


def session_duration_histogram(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    bucket_secs: int = 60,
) -> DataFrame:
    """Session-duration distribution: session counts by duration
    bucket (``bucket_secs``-wide, label = inclusive lower edge in
    seconds) — the engagement-depth curve next to the per-user means
    of `session_stats`. Single-event sessions have duration 0 and
    land in the first bucket. Pure integer µs arithmetic end to end
    (exact on both engines); one sessionize window + two
    partial-aggregated groupBys, histogram-cardinality output."""
    if bucket_secs <= 0:
        raise ValueError(f"bucket_secs must be > 0, got {bucket_secs}")
    s = sessionize(events, gap_us)
    per_session = s.groupBy(EVENT_USER_COL, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.unix_micros(F.col(EVENT_TIME_COL)))
            - F.min(F.unix_micros(F.col(EVENT_TIME_COL)))
        ).alias("dur_us"),
    )
    bucket = (
        F.floor(F.col("dur_us") / F.lit(int(bucket_secs) * 1_000_000))
        * F.lit(int(bucket_secs))
    ).alias("bucket_secs")
    return per_session.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )
