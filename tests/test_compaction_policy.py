"""Sustained-ingest compaction: the size/part-count trigger policy
(reference storage/src/table.rs:24-63 l0_max_parts / level sizes) and
the append→compact cycle invariants — snapshot isolation against
concurrent appends, no duplication or loss across cycles, and the
bucketed funnel plan staying Exchange-free after every fold. Every
cycle runs through ``TieredCompactionPolicy(l1_max_tiers=1)``: a
minor fold of L0 into a tier, then a major fold of it into the base."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from optiprism_spark.api import (
    EventFilterSpec,
    EventRef,
    FunnelRequest,
    FunnelStep,
    QueryTime,
    TimeIntervalUnit,
)
from optiprism_spark import snapshot
from optiprism_spark.ingest import (
    TieredCompactionPolicy,
    _append_part_files,
    _live_l0,
    write_events_bucketed,
)
from optiprism_spark.operators.funnel import funnel_attempts
from optiprism_spark.schema import load_table
from optiprism_spark.streaming.sessionize import append_events

from .conftest import drop_table_clean

SF_DIR = "/root/testdata/sf0.001"
TBL = "events_policy_test"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def base_events(spark):
    # unpersist on teardown: a leftover cache entry would substitute
    # the full-schema InMemoryRelation into later tests' plans,
    # breaking the column-pruning assertions in test_plans.py
    df = load_table(spark, SF_DIR, "events").cache()
    yield df
    df.unpersist()


def _fresh(events, n, id_offset):
    return (
        events.orderBy("event_id").limit(n)
        .withColumn("event_id", F.col("event_id") + F.lit(id_offset))
    )


def _folded(rows):
    return {"minor_rows": rows, "major_rows": rows}


def test_policy_triggers_on_parts_or_bytes(spark, base_events, tmp_path):
    appends, tiers = str(tmp_path / "appends"), str(tmp_path / "tiers")
    pol = TieredCompactionPolicy(l0_max_parts=3, l0_max_bytes=10**12,
                                 l1_max_tiers=1)
    drop_table_clean(spark, TBL)
    try:
        write_events_bucketed(base_events, TBL, n_buckets=4)
        # below threshold: no compaction runs
        append_events(_fresh(base_events, 10, 10_000_000), appends)
        assert not pol.l0.should_compact(appends, tiers)
        assert pol.maybe_compact(spark, TBL, appends, tiers) == _folded(0)
        parts0, _ = pol.l0.l0_stats(appends, tiers)
        assert parts0 >= 1
        # accumulate past l0_max_parts: trigger fires, folds ALL
        # accumulated rows, and resets L0 to empty
        append_events(_fresh(base_events, 10, 20_000_000), appends)
        append_events(_fresh(base_events, 10, 30_000_000), appends)
        assert pol.l0.should_compact(appends, tiers)
        assert pol.maybe_compact(spark, TBL, appends, tiers) == _folded(30)
        assert pol.l0.l0_stats(appends, tiers) == (0, 0)
        assert spark.table(TBL).count() == base_events.count() + 30
        # byte trigger, independently of part count
        tiny = TieredCompactionPolicy(l0_max_parts=10**6, l0_max_bytes=1,
                                      l1_max_tiers=1)
        append_events(_fresh(base_events, 5, 40_000_000), appends)
        assert tiny.l0.should_compact(appends, tiers)
        assert tiny.maybe_compact(spark, TBL, appends, tiers) == _folded(5)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")


def test_snapshot_isolation_under_concurrent_appends(
        spark, base_events, tmp_path, monkeypatch):
    """A file landing after the compactor lists its snapshot is
    neither folded nor retired — it survives to the next cycle."""
    from optiprism_spark import ingest as ingest_mod

    appends, tiers = str(tmp_path / "appends"), str(tmp_path / "tiers")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=1)
    drop_table_clean(spark, TBL)
    try:
        write_events_bucketed(base_events, TBL, n_buckets=4)
        append_events(_fresh(base_events, 20, 10_000_000), appends)
        listed = _append_part_files(appends)
        # simulate traffic racing the rewrite: land a new batch now
        append_events(_fresh(base_events, 7, 20_000_000), appends)
        # compact ONLY the listing (what a racing compactor sees)
        monkeypatch.setattr(ingest_mod, "_append_part_files",
                            lambda p: listed)
        assert pol.maybe_compact(spark, TBL, appends, tiers) == _folded(20)
        monkeypatch.undo()
        # the racing batch is still live in L0, untouched
        racing = _live_l0(appends, tiers, snapshot.load(tiers))
        assert racing and not set(racing) & set(listed)
        assert spark.read.parquet(*racing).count() == 7
        # next cycle folds it — nothing lost, nothing doubled
        assert pol.maybe_compact(spark, TBL, appends, tiers) == _folded(7)
        assert spark.table(TBL).count() == base_events.count() + 27
        ids = spark.table(TBL).groupBy("event_id").count() \
            .filter(F.col("count") > 1).count()
        assert ids == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")


def test_repeated_cycles_keep_funnel_invariants(spark, base_events, tmp_path):
    """N append→compact cycles: after every fold the bucketed funnel
    plan is still Exchange-free and matches the unbucketed path."""
    appends, tiers = str(tmp_path / "appends"), str(tmp_path / "tiers")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=1)
    req = FunnelRequest(
        time=QueryTime.between(
            dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59)),
        interval=TimeIntervalUnit.DAY,
        steps=[
            FunnelStep([EventFilterSpec(EventRef("view"))]),
            FunnelStep([EventFilterSpec(EventRef("purchase"))]),
        ],
        window_ms=7 * 86_400_000,
    )

    def key(r):
        return (r.user_id, r.steps_completed, r.is_completed, r.attempt_ts)

    drop_table_clean(spark, TBL)
    try:
        write_events_bucketed(base_events, TBL, n_buckets=4)
        all_events = base_events
        for cycle in range(3):
            fresh = _fresh(base_events, 15, (cycle + 1) * 10_000_000)
            append_events(fresh, appends)
            assert pol.maybe_compact(spark, TBL, appends, tiers) == \
                _folded(15)
            all_events = all_events.unionByName(fresh)
            bucketed = spark.table(TBL)
            assert bucketed.count() == all_events.count()
            fast = funnel_attempts(bucketed, req, assume_partitioned=True)
            assert "Exchange" not in _plan(fast), f"cycle {cycle}"
            slow = funnel_attempts(all_events, req)
            assert sorted(map(key, fast.collect())) == \
                sorted(map(key, slow.collect())), f"cycle {cycle}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TBL}")
