"""Batch sessionization + date-partitioned ingest."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from optiprism_spark.streaming.sessionize import (
    append_events,
    sessionize,
    synthesize_session_begin,
)

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _events(spark):
    rows = [
        # user 1: two sessions (45-min gap between event 1 and 2)
        (0, T0, 1, "view", 1.0, "{}"),
        (1, T0 + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        (2, T0 + dt.timedelta(minutes=50), 1, "view", 1.0, "{}"),
        # user 2: one session
        (3, T0, 2, "view", 1.0, "{}"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


def test_batch_sessionize_and_begin_synthesis(spark):
    df = _events(spark)
    s = sessionize(df)
    sid = {(r.user_id, r.event_id): r.session_id for r in s.collect()}
    assert sid[(1, 0)] == 1 and sid[(1, 1)] == 1 and sid[(1, 2)] == 2
    assert sid[(2, 3)] == 1
    begins = synthesize_session_begin(df).filter(F.col("event_type") == "Session Begin")
    assert begins.count() == 3  # two for user 1, one for user 2


def test_append_events_partitioned_and_pruned(spark, tmp_path):
    dest = os.path.join(str(tmp_path), "events_tbl")
    df = _events(spark)
    append_events(df, dest)
    back = spark.read.parquet(dest)
    assert back.count() == 4
    assert "dt" in back.columns
    # partition pruning: the physical plan's PartitionFilters must
    # carry the dt predicate (date-partitioned layout working)
    plan = (
        back.filter(F.col("dt") == "2024-01-01")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(dt" in plan
