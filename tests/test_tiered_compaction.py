"""Two-tier (minor/major) compaction: bounded write amplification
under sustained ingest (base rewritten only at major folds), crash
recovery of interrupted minor folds, freshness via events_snapshot,
rollup advancement at the major fold, and the funnel plan staying
Exchange-free after every major."""

from __future__ import annotations

import datetime as dt
import os

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
from optiprism_spark.ingest import (
    TieredCompactionPolicy,
    _append_part_files,
    _committed_tiers,
    events_snapshot,
    minor_compact_appends,
    write_events_bucketed,
)
from optiprism_spark.operators.funnel import funnel_attempts
from optiprism_spark.schema import load_table
from optiprism_spark.streaming.sessionize import append_events

SF_DIR = "/root/testdata/sf0.001"
TBL = "events_tiered_test"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def base_events(spark):
    df = load_table(spark, SF_DIR, "events").cache()
    yield df
    df.unpersist()


@pytest.fixture
def table(spark, base_events):
    from .conftest import drop_table_clean

    drop_table_clean(spark, TBL)
    write_events_bucketed(base_events, TBL, n_buckets=4)
    yield TBL
    spark.sql(f"DROP TABLE IF EXISTS {TBL}")
    spark.sql(f"DROP TABLE IF EXISTS {TBL}__compact_staging")


def _fresh(events, n, id_offset):
    return (
        events.orderBy("event_id").limit(n)
        .withColumn("event_id", F.col("event_id") + F.lit(id_offset))
    )


def _base_files(spark, tbl):
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {tbl}")
        .filter(F.col("col_name") == "Location")
        .collect()[0][1]
    ).replace("file:", "")
    return sorted(
        (f, os.path.getmtime(os.path.join(loc, f)))
        for f in os.listdir(loc)
        if f.endswith(".parquet")
    )


def test_minor_fold_moves_l0_without_touching_base(
        spark, base_events, table, tmp_path):
    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    append_events(_fresh(base_events, 20, 10_000_000), appends)
    before = _base_files(spark, table)
    n = minor_compact_appends(spark, appends, tiers)
    assert n == 20
    assert _append_part_files(appends) == []
    assert len(_committed_tiers(tiers)) == 1
    assert _base_files(spark, table) == before  # base untouched
    # tier rows are readable and complete
    assert spark.read.parquet(_committed_tiers(tiers)[0]).count() == 20
    # snapshot view sees base + tier
    snap = events_snapshot(spark, table, appends, tiers)
    assert snap.count() == base_events.count() + 20


def test_sustained_ingest_bounds_write_amplification(
        spark, base_events, table, tmp_path):
    """N append cycles with l1_max_tiers=3: the base is rewritten only
    on every 3rd cycle; between majors its file set (and mtimes) are
    identical, and every cycle's snapshot ≡ all appended rows so far —
    nothing lost, nothing doubled."""
    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=3,
                                 l1_max_bytes=10**12)
    all_events = base_events
    majors = 0
    prev_base = _base_files(spark, table)
    for cycle in range(6):
        fresh = _fresh(base_events, 10, (cycle + 1) * 10_000_000)
        append_events(fresh, appends)
        all_events = all_events.unionByName(fresh)
        res = pol.maybe_compact(spark, table, appends, tiers, n_buckets=4)
        assert res["minor_rows"] == 10
        cur_base = _base_files(spark, table)
        if res["major_rows"] > 0:
            majors += 1
            assert res["major_rows"] == 30  # the 3 accumulated tiers
            assert _committed_tiers(tiers) == []
        else:
            assert cur_base == prev_base, f"cycle {cycle}: base rewritten on minor"
        prev_base = cur_base
        snap = events_snapshot(spark, table, appends, tiers)
        assert snap.count() == all_events.count(), f"cycle {cycle}"
        dupes = snap.groupBy("event_id").count().filter(F.col("count") > 1).count()
        assert dupes == 0, f"cycle {cycle}"
    assert majors == 2


def test_funnel_plan_exchange_free_after_major(
        spark, base_events, table, tmp_path):
    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=1,
                                 l1_max_bytes=10**12)
    append_events(_fresh(base_events, 15, 10_000_000), appends)
    res = pol.maybe_compact(spark, table, appends, tiers, n_buckets=4)
    assert res["minor_rows"] == 15 and res["major_rows"] == 15
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
    fast = funnel_attempts(spark.table(table), req, assume_partitioned=True)
    assert "Exchange" not in _plan(fast)
    assert spark.table(table).count() == base_events.count() + 15


def test_minor_fold_crash_recovery(spark, base_events, table, tmp_path):
    """Manifest-before-write protocol: a crash mid-tier-write leaves a
    manifest + uncommitted tier — recovery drops the partial tier and
    keeps L0; a crash before L0 cleanup leaves a committed tier —
    recovery deletes exactly the listed files. Either way the next
    fold sees each row exactly once."""
    import json, shutil

    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    append_events(_fresh(base_events, 12, 10_000_000), appends)
    snapshot = _append_part_files(appends)

    # crash A: manifest written, tier half-written (no _SUCCESS)
    os.makedirs(tiers, exist_ok=True)
    fake_tier = os.path.join(tiers, "tier_000000")
    os.makedirs(fake_tier)
    with open(os.path.join(fake_tier, "part-0.parquet"), "wb") as f:
        f.write(b"garbage")
    with open(os.path.join(tiers, ".minor_fold.json"), "w") as f:
        json.dump({"tier": fake_tier, "files": snapshot}, f)
    n = minor_compact_appends(spark, appends, tiers)  # runs recovery first
    assert n == 12  # L0 survived crash A and folded exactly once
    committed = _committed_tiers(tiers)
    assert len(committed) == 1
    assert spark.read.parquet(committed[0]).count() == 12

    # crash B: committed tier, manifest present, L0 files not deleted
    append_events(_fresh(base_events, 7, 20_000_000), appends)
    snapshot_b = _append_part_files(appends)
    n2 = minor_compact_appends(spark, appends, tiers)
    assert n2 == 7
    tier_b = _committed_tiers(tiers)[-1]
    # simulate: re-create the manifest as if cleanup never ran, with
    # one stale (already deleted) and no existing files
    with open(os.path.join(tiers, ".minor_fold.json"), "w") as f:
        json.dump({"tier": tier_b, "files": snapshot_b}, f)
    n3 = minor_compact_appends(spark, appends, tiers)  # recovery: no-op deletes
    assert n3 == 0  # L0 empty; nothing re-folded
    total = sum(
        spark.read.parquet(t).count() for t in _committed_tiers(tiers)
    )
    assert total == 19


def test_major_fold_skips_uncommitted_tier(spark, base_events, table, tmp_path):
    """Review finding: the major fold's file walk ingested torn
    (no _SUCCESS) tier dirs whose rows still sit in L0 — recovery
    would then re-fold the same rows, duplicating them. The walk now
    applies the same commit gating as should_major."""
    import shutil

    from optiprism_spark.ingest import compact_appends_into_bucketed

    appends = str(tmp_path / "appends")
    tiers = str(tmp_path / "tiers")
    fresh = _fresh(base_events, 60, 10_000_000)
    append_events(fresh, appends)
    # fold L0 into a tier, then TEAR it: drop _SUCCESS and put the
    # rows back in L0 (the crash-window state: tier written, L0 not
    # yet cleared, commit marker never placed)
    minor_compact_appends(spark, appends, tiers)
    tier_dir = _committed_tiers(tiers)[0]
    os.remove(os.path.join(tier_dir, "_SUCCESS"))
    append_events(fresh, appends)

    before = spark.table(table).count()
    folded = compact_appends_into_bucketed(
        spark, table, appends, n_buckets=4)
    assert folded == 60  # the L0 copy only, never the torn tier's
    assert spark.table(table).count() == before + 60
    shutil.rmtree(tiers, ignore_errors=True)
