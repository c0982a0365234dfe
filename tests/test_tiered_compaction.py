"""Two-tier (minor/major) compaction over the lake's pointer commit:
bounded write amplification under sustained ingest (base rewritten
only at major folds), freshness via events_snapshot, the funnel plan
staying Exchange-free after every major, reads planned before a lake
write still collecting after it, and a kill on either side of the
pointer flip re-running to exactly the uncrashed lake."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from optiprism_spark import snapshot
from optiprism_spark.api import (
    EventFilterSpec,
    EventRef,
    FunnelRequest,
    FunnelStep,
    QueryTime,
    TimeIntervalUnit,
)
from optiprism_spark.ingest import (
    CompactionPolicy,
    TieredCompactionPolicy,
    _append_part_files,
    _live_l0,
    _tier_paths,
    compact_appends_into_bucketed,
    events_snapshot,
    minor_compact_appends,
    write_events_bucketed,
)
from optiprism_spark.lifecycle import erase_users, expire_base
from optiprism_spark.operators.funnel import funnel_attempts
from optiprism_spark.schema import load_table
from optiprism_spark.streaming.sessionize import append_events

from .conftest import drop_table_clean
from .test_snapshot import _Killed, _kill_at_flip

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
    drop_table_clean(spark, TBL)
    write_events_bucketed(base_events, TBL, n_buckets=4)
    yield TBL
    drop_table_clean(spark, TBL)


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


def _tiers(tiers):
    return _tier_paths(tiers, snapshot.load(tiers))


def test_append_listing_skips_temporary_dirs(tmp_path):
    from optiprism_spark.ingest import _append_part_files

    d = str(tmp_path / "appends")
    os.makedirs(os.path.join(d, "dt=2024-01-01"))
    os.makedirs(os.path.join(
        d, "_temporary", "0", "_temporary", "attempt_1", "dt=2024-01-01"))
    committed = os.path.join(d, "dt=2024-01-01", "part-000.parquet")
    open(committed, "wb").write(b"x")
    open(os.path.join(
        d, "_temporary", "0", "_temporary", "attempt_1", "dt=2024-01-01",
        "part-000.parquet"), "wb").write(b"half")
    open(os.path.join(d, "dt=2024-01-01", ".part-000.parquet.crc"),
         "wb").write(b"c")
    assert _append_part_files(d) == [committed]


def test_minor_fold_moves_l0_without_touching_base(
        spark, base_events, table, tmp_path):
    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    append_events(_fresh(base_events, 20, 10_000_000), appends)
    before = _base_files(spark, table)
    n = minor_compact_appends(spark, appends, tiers)
    assert n == 20
    assert _live_l0(appends, tiers, snapshot.load(tiers)) == []
    assert TieredCompactionPolicy().l1_stats(tiers)[0] == 1
    assert _base_files(spark, table) == before  # base untouched
    # tier rows are readable and complete
    assert spark.read.parquet(*_tiers(tiers)).count() == 20
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
        res = pol.maybe_compact(spark, table, appends, tiers)
        assert res["minor_rows"] == 10
        cur_base = _base_files(spark, table)
        if res["major_rows"] > 0:
            majors += 1
            assert res["major_rows"] == 30  # the 3 accumulated tiers
            assert _tiers(tiers) == []
        else:
            assert cur_base == prev_base, f"cycle {cycle}: base rewritten on minor"
        prev_base = cur_base
        snap = events_snapshot(spark, table, appends, tiers)
        assert snap.count() == all_events.count(), f"cycle {cycle}"
        dupes = snap.groupBy("event_id").count().filter(F.col("count") > 1).count()
        assert dupes == 0, f"cycle {cycle}"
    assert majors == 2


_FUNNEL = FunnelRequest(
    time=QueryTime.between(
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59)),
    interval=TimeIntervalUnit.DAY,
    steps=[
        FunnelStep([EventFilterSpec(EventRef("view"))]),
        FunnelStep([EventFilterSpec(EventRef("purchase"))]),
    ],
    window_ms=7 * 86_400_000,
)


def test_funnel_plan_exchange_free_after_major(
        spark, base_events, table, tmp_path):
    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=1,
                                 l1_max_bytes=10**12)
    append_events(_fresh(base_events, 15, 10_000_000), appends)
    res = pol.maybe_compact(spark, table, appends, tiers)
    assert res["minor_rows"] == 15 and res["major_rows"] == 15
    fast = funnel_attempts(spark.table(table), _FUNNEL,
                           assume_partitioned=True)
    assert "Exchange" not in _plan(fast)
    assert spark.table(table).count() == base_events.count() + 15


def test_only_live_l0_parts_count(spark, base_events, table, tmp_path,
                                  monkeypatch):
    """Folded L0 parts stay on disk for earlier readers, retired in
    the lake's pointer: the L0 trigger, the served frame's partitioned
    flag and the next fold skip them, and once due the sweep deletes
    them and the adopted base though both lie outside the pointer's
    directory."""
    from optiprism_spark.server import make_app

    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    append_events(_fresh(base_events, 12, 10_000_000), appends)
    pol = CompactionPolicy(l0_max_parts=1)
    assert pol.should_compact(appends, tiers)
    adopted = _base_files(spark, table)
    compact_appends_into_bucketed(spark, table, appends, tiers)
    folded = _append_part_files(appends)
    assert folded  # retired, still on disk
    assert pol.l0_stats(appends, tiers) == (0, 0)
    assert not pol.should_compact(appends, tiers)
    app = make_app(spark, SF_DIR, result_cache_ttl=None, lake={
        "table_name": table, "appends_path": appends, "tiers_path": tiers})
    assert app._events_resolved()[1] is True
    assert compact_appends_into_bucketed(spark, table, appends, tiers) == 0

    monkeypatch.setattr(snapshot, "RETIRE_AFTER_S", 0.0)
    snapshot.sweep(tiers)
    assert _append_part_files(appends) == []
    assert not any(os.path.exists(p) for p in folded)
    assert adopted and not set(adopted) & set(_base_files(spark, table))
    assert spark.table(table).count() == base_events.count() + 12


def test_reads_stay_exact_while_the_lake_folds(
        spark, base_events, table, tmp_path):
    """Two reader threads plan and count ``events_snapshot`` while
    one-file batches land and the tiered policy folds them (a minor
    fold every batch, a major every other): each read counts the base
    plus a whole prefix of the landed batches. A read that paired one
    pointer's tiers with another pointer's base would count a folded
    tier twice or not at all."""
    import sys
    import threading

    appends, tiers = str(tmp_path / "l0"), str(tmp_path / "l1")
    pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=2)
    day = base_events.filter(F.to_date("ts") == F.lit("2024-01-20"))
    n0, batches = base_events.count(), 6
    allowed = {n0 + 10 * k for k in range(batches + 1)}
    stop = threading.Event()
    seen, errors = [], []

    def reader():
        try:
            while not stop.is_set():
                seen.append(events_snapshot(spark, table, appends,
                                            tiers).count())
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=reader) for _ in range(2)]
    try:
        for t in threads:
            t.start()
        for k in range(batches):
            append_events(_fresh(day, 10, (k + 1) * 10_000_000), appends)
            pol.maybe_compact(spark, table, appends, tiers)
    finally:
        stop.set()
        for t in threads:
            t.join(120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert seen and set(seen) <= allowed, sorted(set(seen) - allowed)
    assert events_snapshot(spark, table, appends, tiers).count() == \
        n0 + 10 * batches


# ------------------------------------------- lake writes and their readers


def _lake(spark, events, name, root):
    """A lake of ``events``: the bucketed base, one tier and L0 parts
    on top, so every lake write has each kind of file to replace."""
    base = events.filter(F.col("event_id") % 5 != 0)
    tier = events.filter((F.col("event_id") % 10) == 5)
    l0 = events.filter((F.col("event_id") % 10) == 0)
    drop_table_clean(spark, name)
    write_events_bucketed(base, name, n_buckets=4)
    appends, tiers = str(root / "appends"), str(root / "tiers")
    append_events(tier, appends)
    minor_compact_appends(spark, appends, tiers)
    append_events(l0, appends)
    return appends, tiers


def _victims(events):
    return [r[0] for r in events.select("user_id").distinct()
            .orderBy("user_id").limit(3).collect()]


_CUTOFF = dt.datetime(2024, 1, 15)

#: each lake write, and the filter its rows keep
_WRITES = {
    "minor": (lambda spark, t, a, l, ev: minor_compact_appends(spark, a, l),
              lambda ev: F.lit(True)),
    "major": (lambda spark, t, a, l, ev:
              compact_appends_into_bucketed(spark, t, a, l),
              lambda ev: F.lit(True)),
    "erase": (lambda spark, t, a, l, ev:
              erase_users(spark, t, a, _victims(ev), tiers_path=l),
              lambda ev: ~F.col("user_id").isin(_victims(ev))),
    "expire": (lambda spark, t, a, l, ev:
               expire_base(spark, t, a, _CUTOFF, tiers_path=l),
               lambda ev: F.col("ts") >= F.lit("2024-01-15")),
}


@pytest.mark.parametrize("write", sorted(_WRITES))
def test_reads_planned_before_a_lake_write_collect_after_it(
        spark, base_events, tmp_path, write):
    """A frame planned before a lake write reads the files of the
    pointer it was planned on, which the write retires but leaves on
    disk: it collects after the write with the pre-write count. A
    frame planned after it sees the post-write rows."""
    from optiprism_spark.server import make_app

    run, keep = _WRITES[write]
    appends, tiers = _lake(spark, base_events, TBL, tmp_path)
    try:
        app = make_app(spark, SF_DIR, result_cache_ttl=None, lake={
            "table_name": TBL, "appends_path": appends,
            "tiers_path": tiers})
        snap = events_snapshot(spark, TBL, appends, tiers)
        raw = app._events()
        before = base_events.count()
        after = base_events.filter(keep(base_events)).count()
        assert after < before or write in ("minor", "major")
        run(spark, TBL, appends, tiers, base_events)
        assert snap.count() == before
        assert raw.count() == before
        assert events_snapshot(spark, TBL, appends, tiers).count() == after
    finally:
        drop_table_clean(spark, TBL)


def _rows(df):
    return sorted(str(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("phase", ["before", "after"])
@pytest.mark.parametrize("write", ["erase", "major", "minor"])
def test_lake_write_killed_at_the_flip_reruns_to_the_uncrashed_lake(
        spark, base_events, tmp_path, monkeypatch, write, phase):
    """Killed just before or just after the pointer lands, a re-run of
    the same write leaves the lake equal to one that never crashed:
    the same rows (each folded exactly once), the table still there
    with its bucket count, and a bucketed paths plan without a
    shuffle on the user."""
    from optiprism_spark.dsl import EventRef as Ref, QueryTime as Time
    from optiprism_spark.operators.paths import event_paths

    run = _WRITES[write][0]
    ref_tbl = f"{TBL}_ref"
    ref = _lake(spark, base_events, ref_tbl, tmp_path / "ref")
    appends, tiers = _lake(spark, base_events, TBL, tmp_path / "lake")
    try:
        run(spark, ref_tbl, *ref, base_events)
        _kill_at_flip(monkeypatch, phase)
        with pytest.raises(_Killed):
            run(spark, TBL, appends, tiers, base_events)
        run(spark, TBL, appends, tiers, base_events)

        assert spark.catalog.tableExists(TBL)
        assert _rows(events_snapshot(spark, TBL, appends, tiers)) == \
            _rows(events_snapshot(spark, ref_tbl, *ref))
        desc = {(r.col_name or "").strip(): (r.data_type or "").strip()
                for r in spark.sql(f"DESCRIBE FORMATTED {TBL}").collect()}
        assert desc["Num Buckets"] == "4"
        plan = _plan(event_paths(
            spark.table(TBL), Ref("signup"),
            Time.between(dt.datetime(2024, 1, 1), dt.datetime(2024, 12, 31)),
            steps=3))
        assert "hashpartitioning(user_id" not in plan, plan
    finally:
        drop_table_clean(spark, TBL)
        drop_table_clean(spark, ref_tbl)
