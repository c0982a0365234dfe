"""Data-lifecycle ops: user erasure across every store tier (base,
L0, tiers, side stores) as one filtered fold of the lake's pointer
commit, and partition-drop / filtered-fold retention."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from optiprism_spark import snapshot
from optiprism_spark.ingest import (
    _live_l0,
    _tier_paths,
    events_snapshot,
    minor_compact_appends,
    write_events_bucketed,
)
from optiprism_spark.lifecycle import (
    erase_users,
    expire_base,
    expire_partitions,
)
from optiprism_spark.schema import load_table
from optiprism_spark.streaming.sessionize import append_events

SF_DIR = "/root/testdata/sf0.001"
TBL = "events_lifecycle_test"


@pytest.fixture
def store(spark, tmp_path):
    """Bucketed base (most events) + L0 appends + one committed tier,
    so erasure has to hit every tier. Setup is debris-proof: a killed
    earlier run can leave an orphaned warehouse dir under TBL (catalog
    entry gone, files present — LOCATION_ALREADY_EXISTS on the next
    saveAsTable), and a setup failure must not leak the .cache() into
    unrelated plan tests as an InMemoryRelation (both bit r12)."""
    from .conftest import drop_table_clean

    events = load_table(spark, SF_DIR, "events").cache()
    try:
        base = events.filter(F.col("event_id") % 5 != 0)
        l0 = events.filter(F.col("event_id") % 5 == 0).filter(F.col("event_id") % 2 == 0)
        tier_src = events.filter(F.col("event_id") % 5 == 0).filter(F.col("event_id") % 2 == 1)
        drop_table_clean(spark, TBL)
        write_events_bucketed(base, TBL, n_buckets=4)
        appends = str(tmp_path / "appends")
        tiers = str(tmp_path / "tiers")
        append_events(tier_src, appends)
        minor_compact_appends(spark, appends, tiers)  # L0 -> committed tier
        append_events(l0, appends)                    # fresh L0 on top
        ptr = snapshot.load(tiers)
        assert _live_l0(appends, tiers, ptr) and _tier_paths(tiers, ptr)
    except BaseException:
        events.unpersist()
        raise
    yield appends, tiers, events
    events.unpersist()
    drop_table_clean(spark, TBL)


def test_erase_users_all_tiers(spark, store, tmp_path):
    appends, tiers, events = store
    victims = [r[0] for r in events.select("user_id").distinct().limit(3).collect()]
    total_before = events_snapshot(spark, TBL, appends, tiers).count()
    victim_rows = (
        events_snapshot(spark, TBL, appends, tiers)
        .filter(F.col("user_id").isin(victims)).count())
    assert victim_rows > 0

    # a side store keyed by user (stand-in for profiles)
    side = str(tmp_path / "profiles.parquet")
    events.select("user_id").distinct().toPandas().to_parquet(side)

    out = erase_users(spark, TBL, appends, victims, tiers_path=tiers,
                      extra_paths=[side])
    snap = events_snapshot(spark, TBL, appends, tiers)
    assert snap.filter(F.col("user_id").isin(victims)).count() == 0
    # nothing else was lost
    assert snap.count() == total_before - victim_rows
    # rewritten files must stay DECODABLE beyond row counts: the
    # pyarrow rewrite once re-encoded Spark's INT96 timestamps as
    # INT64 nanos, failing the first query that materialized ts
    assert snap.select(F.max("ts")).collect()[0][0] is not None
    assert out["base"] + out["l0"] + out["tiers"] == victim_rows
    assert out["extra"] == len(victims)
    import pandas as pd

    assert not pd.read_parquet(side)["user_id"].isin(victims).any()


def test_erase_preserves_bucket_layout(spark, store):
    appends, tiers, events = store
    victims = [r[0] for r in events.select("user_id").distinct().limit(2).collect()]
    erase_users(spark, TBL, appends, victims, tiers_path=tiers)
    desc = {(r.col_name or "").strip(): (r.data_type or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {TBL}").collect()}
    assert desc.get("Num Buckets") == "4", desc.get("Num Buckets")
    # the bucketed read still elides the sequence shuffle
    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.paths import event_paths

    W = QueryTime.between(dt.datetime(2024, 1, 1), dt.datetime(2024, 12, 31))
    plan = (
        event_paths(spark.table(TBL), EventRef("signup"), W, steps=3)
        ._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning(user_id" not in plan, plan


def test_expire_partitions_drops_only_old(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "dated")
    append_events(events, path)
    parts = sorted(d for d in os.listdir(path) if d.startswith("dt="))
    assert len(parts) >= 3
    cutoff = dt.date.fromisoformat(parts[2].split("=")[1])
    out = expire_partitions(path, cutoff)
    assert out["partitions_dropped"] == parts[:2]
    assert out["bytes_freed"] > 0
    left = sorted(d for d in os.listdir(path) if d.startswith("dt="))
    assert left == parts[2:]
    # survivors still readable with the expected rows
    expect = events.filter(F.to_date("ts") >= F.lit(cutoff)).count()
    assert spark.read.parquet(path).count() == expect


def test_expire_base_filters_by_time(spark, store):
    appends, tiers, events = store
    cutoff = dt.datetime(2024, 1, 15)
    removed = expire_base(spark, TBL, appends, cutoff, tiers_path=tiers)
    base = spark.table(TBL)
    assert base.filter(F.col("ts") < F.lit(cutoff)).count() == 0
    assert removed > 0 and base.count() > 0


def test_erase_empty_ids_is_noop(spark, store):
    appends, tiers, _ = store
    before = events_snapshot(spark, TBL, appends, tiers).count()
    out = erase_users(spark, TBL, appends, [], tiers_path=tiers)
    assert out == {"base": 0, "l0": 0, "tiers": 0, "extra": 0,
                   "rollup_days": 0}
    assert events_snapshot(spark, TBL, appends, tiers).count() == before


def test_admin_lifecycle_endpoints(spark, store, tmp_path):
    """POST /admin/erase-user and /admin/retention drive lifecycle.py
    over the configured lake; unconfigured servers answer 409."""
    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    app = make_app(spark, SF_DIR, lake={
        "table_name": TBL, "appends_path": appends, "tiers_path": tiers,
    })
    victim = events.select("user_id").distinct().limit(1).collect()[0][0]
    status, out = call(app, "POST", "/api/v1/admin/erase-user",
                       {"userIds": [int(victim)]})
    assert status == 200 and sum(out.values()) > 0
    snap = events_snapshot(spark, TBL, appends, tiers)
    assert snap.filter(F.col("user_id") == victim).count() == 0

    status, out = call(app, "POST", "/api/v1/admin/retention",
                       {"olderThan": "2024-01-10"})
    assert status == 200
    assert spark.table(TBL).filter(
        F.col("ts") < F.lit("2024-01-10")).count() == 0

    status, _ = call(app, "POST", "/api/v1/admin/erase-user",
                     {"userIds": ["not-an-int"]})
    assert status == 400

    bare = make_app(spark, SF_DIR)
    status, _ = call(bare, "POST", "/api/v1/admin/erase-user",
                     {"userIds": [1]})
    assert status == 409

# ---------------------------------------------------- rollup repair


def _rollup_key(r):
    return tuple(str(r[c]) for c in ("dt", "event_type"))


def _rollup_flat(spark, store):
    """Comparable view of a store: additive metrics exactly, the HLL
    sketch through its estimate (serialized sketch bytes are
    representation-dependent; the estimate is the contract)."""
    return {
        _rollup_key(r): (r["events_count"], r["value_sum"], r["users_est"])
        for r in store.read(spark)
        .withColumn("users_est", F.hll_sketch_estimate("users_hll"))
        .collect()
    }


def test_erase_repairs_rollup_days(spark, store, tmp_path):
    """Rollup maintenance is additive-only; erasure must re-aggregate
    the victims' active days or routed queries keep counting them."""
    from optiprism_spark.rollup import RollupSpec, RollupStore

    appends, tiers, events = store
    st = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    st.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))

    victims = [r[0] for r in events.select("user_id").distinct().limit(3).collect()]
    victim_days = {
        r[0] for r in events.filter(F.col("user_id").isin(victims))
        .select(F.to_date("ts")).distinct().collect()
    }
    out = erase_users(spark, TBL, appends, victims, tiers_path=tiers,
                      day_stores=[st])
    assert out["rollup_days"] == len(victim_days)

    # the repaired store is exactly a from-scratch rebuild of the
    # post-erasure lake — on every day, not just the touched ones
    ref = RollupStore(str(tmp_path / "rollup_ref"), RollupSpec())
    ref.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))
    assert _rollup_flat(spark, st) == _rollup_flat(spark, ref)


def test_recompute_days_drops_emptied_partition(spark, tmp_path):
    """A day whose every raw row was removed yields no batch rows —
    the stale partition must be dropped, not left standing."""
    from optiprism_spark.rollup import RollupSpec, RollupStore

    events = load_table(spark, SF_DIR, "events")
    days = sorted(
        r[0] for r in events.select(F.to_date("ts")).distinct().limit(2).collect())
    two = events.filter(F.to_date("ts").isin([d.isoformat() for d in days]))
    st = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    st.rebuild(spark, two)
    assert {r[0] for r in st.read(spark).select("dt").distinct().collect()} == set(days)

    survivors = two.filter(F.to_date("ts") != F.lit(days[0]))
    assert st.recompute_days(spark, survivors, days) == 2
    assert {r[0] for r in st.read(spark).select("dt").distinct().collect()} == {days[1]}
    assert sorted(snapshot.load(st.path)["files"]) == [f"dt={days[1]}"]


def test_retention_expires_rollup_history(spark, store, tmp_path):
    """Retention drops rollup partitions older than the cutoff with a
    zero-scan partition delete; a mid-day cutoff re-aggregates the
    boundary day from the post-rewrite lake."""
    from optiprism_spark.rollup import RollupSpec, RollupStore, build_rollup

    appends, tiers, events = store
    st = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    st.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))
    cutoff = dt.datetime(2024, 1, 15, 12, 0)  # mid-day on purpose

    expire_base(spark, TBL, appends, cutoff, tiers_path=tiers,
                day_stores=[st])
    left = {r[0] for r in st.read(spark).select("dt").distinct().collect()}
    assert left and min(left) >= cutoff.date()
    # boundary day ≡ a fresh day-aggregate of the live lake view
    snap = events_snapshot(spark, TBL, appends, tiers)
    want = {
        tuple(str(r[c]) for c in ("dt", "event_type")): r["events_count"]
        for r in build_rollup(
            snap.filter(F.to_date("ts") == F.lit(cutoff.date()))).collect()
    }
    got = {
        _rollup_key(r): r["events_count"]
        for r in st.read(spark)
        .filter(F.col("dt") == F.lit(cutoff.date())).collect()
    }
    assert got == want


def test_admin_erase_repairs_served_rollup(spark, store, tmp_path):
    """The admin erasure endpoint repairs the server's own rollup
    store, so routed segmentation stops counting the victim without a
    manual rebuild."""
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    st = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    st.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))
    app = make_app(spark, SF_DIR, rollup_store=st, lake={
        "table_name": TBL, "appends_path": appends, "tiers_path": tiers,
    })
    victim = int(events.select("user_id").distinct().limit(1).collect()[0][0])
    status, out = call(app, "POST", "/api/v1/admin/erase-user",
                       {"userIds": [victim]})
    assert status == 200 and out["rollup_days"] > 0

    ref = RollupStore(str(tmp_path / "rollup_ref"), RollupSpec())
    ref.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))
    assert _rollup_flat(spark, st) == _rollup_flat(spark, ref)


def test_retention_sweeps_tiers_no_resurrection(spark, store):
    """Tiers are user-sorted, not dated — without the tier sweep, the
    next major fold folds their pre-cutoff rows back into the freshly
    expired base, resurrecting deleted history."""
    from optiprism_spark.ingest import compact_appends_into_bucketed

    appends, tiers, events = store
    cutoff = dt.datetime(2024, 1, 15)

    def tiers_now():
        return spark.read.parquet(*_tier_paths(tiers, snapshot.load(tiers)))

    old_in_tier = tiers_now().filter(F.col("ts") < F.lit(cutoff)).count()
    assert old_in_tier > 0

    removed = expire_base(spark, TBL, appends, cutoff, tiers_path=tiers)
    assert tiers_now().filter(F.col("ts") < F.lit(cutoff)).count() == 0
    assert removed > old_in_tier  # base rows + tier rows both counted

    # the fold that previously resurrected: major-fold the swept tier
    # into the expired base
    compact_appends_into_bucketed(spark, TBL, appends, tiers)
    assert spark.table(TBL).filter(F.col("ts") < F.lit(cutoff)).count() == 0


def test_erase_then_cached_routed_query_e2e(spark, store, tmp_path):
    """The GDPR-auditor path, composed end-to-end at the HTTP plane:
    a rollup-ROUTED query is served and result-CACHED; POST
    /admin/erase-user repairs the rollup store AND bumps the data
    version; immediately re-issuing the identical request must (a) not
    replay the cached pre-erasure entry and (b) show the victim gone —
    every bucket the victim was active in drops by exactly one unique
    (sparse-regime HLL is exact at this cardinality)."""
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    st = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    st.rebuild(spark, events_snapshot(spark, TBL, appends, tiers))
    app = make_app(
        spark, SF_DIR, rollup_store=st,
        lake={"table_name": TBL, "appends_path": appends,
              "tiers_path": tiers},
        result_cache_ttl=60.0,  # cache ON: the seam under test
    )
    body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "user", "intervalUnit": "week", "chartType": "line",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countUniqueGroups",
                                 "approx": True}]}],
    }
    path = "/api/v1/projects/1/queries/event-segmentation"

    def series():
        status, payload = call(app, "POST", path, body)
        assert status == 200
        cols = {c["name"]: c["data"] for c in payload["columns"]}
        bucket_col = next(n for n in cols if "bucket" in n or n == "t")
        metric_col = next(n for n in cols if "unique" in n)
        return dict(zip(cols[bucket_col], cols[metric_col]))

    before = series()
    assert series() == before  # identical request → cached replay

    victim = int(events.select("user_id").distinct().limit(1).collect()[0][0])
    victim_weeks = {
        str(r[0]) for r in events.filter(F.col("user_id") == victim)
        .select(F.date_trunc("week", "ts").cast("date")).distinct().collect()
    }
    assert victim_weeks  # the victim is active in the window

    status, out = call(app, "POST", "/api/v1/admin/erase-user",
                       {"userIds": [victim]})
    assert status == 200 and out["rollup_days"] > 0

    after = series()
    assert after != before, "cached pre-erasure result replayed after erase"
    for bucket, n in before.items():
        expect = n - 1 if str(bucket)[:10] in {w[:10] for w in victim_weeks} \
            else n
        assert after.get(bucket, 0) == expect, (
            bucket, n, after.get(bucket), victim_weeks)


def test_erase_and_retention_repair_user_day_and_kmv_stores(
        spark, store, tmp_path):
    """Erasure and retention reach every day store the server folds,
    not only its rollups: after POST /admin/erase-user a user-day-
    ROUTED /queries/rfm no longer lists the victim, and the user-day
    and KMV stores equal a rebuild from the post-erasure lake; after
    POST /admin/retention neither store keeps a day before the
    cutoff, and the mid-day boundary day is re-aggregated from the
    live lake."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore
    from optiprism_spark.userday import UserDayStore
    from tests.test_server import call

    appends, tiers, events = store
    lake = events_snapshot(spark, TBL, appends, tiers)
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, lake)
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    kmv.update(spark, lake)
    app = make_app(
        spark, SF_DIR, user_day_store=userday, kmv_store=kmv,
        lake={"table_name": TBL, "appends_path": appends,
              "tiers_path": tiers},
        result_cache_ttl=None,
    )
    rfm = {"time": {"type": "between", "from": "2024-01-01T00:00:00",
                    "to": "2024-01-31T23:59:59.999999"}}

    def rfm_users():
        metrics.REGISTRY.reset()
        status, payload = call(app, "POST", "/api/v1/projects/1/queries/rfm",
                               rfm)
        assert status == 200
        assert metrics.user_day_routed_total().value(
            surface="rfm", path="store") == 1
        cols = {c["name"]: c["data"] for c in payload["columns"]}
        return {int(u) for u in cols["user_id"]}

    # the smallest id sorts first, inside any response row cap
    victim = int(events.agg(F.min("user_id")).collect()[0][0])
    assert victim in rfm_users()

    status, out = call(app, "POST", "/api/v1/admin/erase-user",
                       {"userIds": [victim]})
    assert status == 200
    assert victim not in rfm_users()
    assert out["rollup_days"] > 0

    def rows(df):
        return sorted(str(tuple(r)) for r in df.collect())

    lake = events_snapshot(spark, TBL, appends, tiers)
    assert lake.filter(F.col("user_id") == victim).count() == 0
    ref_userday = UserDayStore(str(tmp_path / "userday_ref"))
    ref_userday.rebuild(spark, lake)
    ref_kmv = KmvDayStore(str(tmp_path / "kmv_ref"), k=64)
    ref_kmv.update(spark, lake)
    assert rows(userday.read(spark)) == rows(ref_userday.read(spark))
    assert rows(kmv.read(spark)) == rows(ref_kmv.read(spark))

    cutoff = dt.datetime(2024, 1, 15, 12, 0)  # mid-day on purpose
    status, _ = call(app, "POST", "/api/v1/admin/retention",
                     {"olderThan": cutoff.isoformat()})
    assert status == 200
    lake = events_snapshot(spark, TBL, appends, tiers)
    for st, day_col in ((userday, "dt"), (kmv, "day")):
        days = {r[0] for r in
                st.read(spark).select(day_col).distinct().collect()}
        assert days and min(days) == cutoff.date()
        assert min(snapshot.load(st.path)["files"]) \
            == f"{day_col}={cutoff.date()}"
    boundary = lake.filter(F.to_date("ts") == F.lit(cutoff.date()))
    assert rows(userday.read(spark).filter(F.col("dt") == cutoff.date())) \
        == rows(userday.build(boundary).select(*userday.read(spark).columns))
    assert rows(kmv.read(spark).filter(F.col("day") == cutoff.date())) \
        == rows(kmv.build(boundary).select(*kmv.read(spark).columns))


def test_erased_user_leaves_day_store_files_after_next_tick(
        spark, store, tmp_path, monkeypatch):
    """Superseded store files are kept for readers, but not forever:
    right after an erasure the retired files still hold the erased
    user (the user-day row, or the user's KMV hash); once the
    retirement window has run out (monkeypatched to 0), the next
    maintenance tick deletes them even though it carries no batch and
    commits to no store."""
    import pyarrow.parquet as pq

    from optiprism_spark.operators.audience import _kmv_hash
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore
    from optiprism_spark.userday import UserDayStore
    from tests.test_server import call

    appends, tiers, events = store
    lake = events_snapshot(spark, TBL, appends, tiers)
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, lake)
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    kmv.update(spark, lake)
    app = make_app(
        spark, SF_DIR, user_day_store=userday, kmv_store=kmv,
        lake={"table_name": TBL, "appends_path": appends,
              "tiers_path": tiers},
        result_cache_ttl=None,
    )
    victim = int(events.agg(F.min("user_id")).first()[0])
    victim_hash = lake.filter(F.col("user_id") == victim).select(
        _kmv_hash(F.col("user_id"), kmv.seed)).first()[0]

    def on_disk():
        """(user-day files holding the victim, KMV files holding its hash)"""
        def files(st):
            return [os.path.join(r, f) for r, _d, fs in os.walk(st.path)
                    for f in fs if f.endswith(".parquet")]

        return (
            sum(victim in pq.read_table(f, columns=["user_id"])
                .column(0).to_pylist() for f in files(userday)),
            sum(any(victim_hash in (h or []) for h in
                    pq.read_table(f, columns=["kmv"]).column(0).to_pylist())
                for f in files(kmv)))

    assert all(on_disk())
    status, _ = call(app, "POST", "/api/v1/admin/erase-user",
                     {"userIds": [victim]})
    assert status == 200
    assert all(on_disk())  # retired, within the window
    versions = [snapshot.load(st.path)["version"] for st in (userday, kmv)]
    monkeypatch.setattr(snapshot, "RETIRE_AFTER_S", 0.0)
    app.maintain()
    assert [snapshot.load(st.path)["version"]
            for st in (userday, kmv)] == versions
    assert on_disk() == (0, 0)


def test_erased_user_leaves_lake_files_after_next_tick(
        spark, store, monkeypatch):
    """The lake twin of the day-store test above: after an erasure the
    retired base, tier and L0 files still hold the erased user for
    readers planned before it; once the retirement window has run out
    (monkeypatched to 0), the next maintenance tick deletes them, so
    no parquet file of the lake's base, tiers or appends holds the
    user any more."""
    import pyarrow.parquet as pq

    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    adopted = spark.sql(f"DESCRIBE FORMATTED {TBL}").filter(
        F.col("col_name") == "Location").first()[1].removeprefix("file:")
    app = make_app(spark, SF_DIR, result_cache_ttl=None, lake={
        "table_name": TBL, "appends_path": appends, "tiers_path": tiers})
    victim = int(events.agg(F.min("user_id")).first()[0])

    def holding():
        return [os.path.join(r, f)
                for d in (adopted, tiers, appends)
                for r, _d, fs in os.walk(d) for f in fs
                if f.endswith(".parquet") and victim in pq.read_table(
                    os.path.join(r, f), columns=["user_id"])
                .column(0).to_pylist()]

    assert holding()
    status, _ = call(app, "POST", "/api/v1/admin/erase-user",
                     {"userIds": [victim]})
    assert status == 200
    assert holding()  # retired, within the window
    monkeypatch.setattr(snapshot, "RETIRE_AFTER_S", 0.0)
    app.maintain()
    assert holding() == []
    assert events_snapshot(spark, TBL, appends, tiers).count() == \
        events.filter(F.col("user_id") != victim).count()


_T_JAN = {"type": "between", "from": "2024-01-01T00:00:00",
          "to": "2024-01-31T23:59:59.999999"}

_ERASE_SURFACES = {
    "funnel": ("/api/v1/projects/1/queries/funnel", {
        "time": _T_JAN, "group": "user", "intervalUnit": "day",
        "timeWindow": {"n": 7, "unit": "day"},
        "count": "unique", "touch": {"type": "first"},
        "steps": [
            {"events": [{"eventName": "view", "eventType": "regular"}]},
            {"events": [{"eventName": "click", "eventType": "regular"}]},
            {"events": [{"eventName": "purchase", "eventType": "regular"}]},
        ],
    }),
    "paths": ("/api/v1/projects/1/queries/paths", {
        "time": _T_JAN, "steps": 3, "topK": 15,
        "anchorEvent": {"eventName": "signup", "eventType": "regular"},
    }),
    "retention": ("/api/v1/projects/1/queries/retention", {
        "time": _T_JAN, "intervalUnit": "week", "maxPeriods": 8,
        "cohortEvent": {"eventName": "signup", "eventType": "regular"},
        "returnEvent": {"eventName": "purchase", "eventType": "regular"},
    }),
}


@pytest.mark.parametrize("surface", sorted(_ERASE_SURFACES))
def test_erase_visible_on_every_cached_surface(spark, store, tmp_path,
                                               surface):
    """r10 verdict Missing #5: the erase→cache composition held only
    for the segmentation surface. Every cached RAW-SCAN surface must
    drop the victim after /admin/erase-user: (a) the pre-erasure
    cached entry is not replayed, and (b) the post-erasure response
    equals what a fresh cache-less server computes over the mutated
    lake. Writing this found a real integration gap: the server
    erased the LAKE but served queries from the sf_dir parquet, so
    non-routed surfaces never saw an erasure — _events() now serves
    the lake snapshot when a lake is configured."""
    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    lake = {"table_name": TBL, "appends_path": appends,
            "tiers_path": tiers}
    app = make_app(spark, SF_DIR, lake=lake, result_cache_ttl=60.0)
    path, body = _ERASE_SURFACES[surface]

    status, before = call(app, "POST", path, body)
    assert status == 200
    status, replay = call(app, "POST", path, body)
    assert status == 200 and replay == before  # cache replay

    # victim: the most-active January user who did the anchor events
    # every surface keys on — erasing them must move all three
    jan = events.filter(
        (F.col("ts") >= F.lit("2024-01-01")) &
        (F.col("ts") < F.lit("2024-02-01")))
    anchored = (
        jan.filter(F.col("event_type").isin("signup", "view"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("k"))
        .filter(F.col("k") == 2).select("user_id")
    )
    victim = int(
        jan.join(anchored, "user_id")
        .groupBy("user_id").count()
        .orderBy(F.desc("count"), "user_id").limit(1)
        .collect()[0][0]
    )

    status, out = call(app, "POST", "/api/v1/admin/erase-user",
                       {"userIds": [victim]})
    assert status == 200 and (out["base"] + out["l0"] + out["tiers"]) > 0

    status, after = call(app, "POST", path, body)
    assert status == 200
    assert after != before, (
        f"{surface}: cached pre-erasure result replayed after erase")

    # oracle: a fresh server (no cache, same lake) must agree
    fresh = make_app(spark, SF_DIR, lake=lake, result_cache_ttl=None)
    status, expected = call(fresh, "POST", path, body)
    assert status == 200
    assert after == expected, f"{surface}: post-erasure mismatch"


def test_funnel_routes_bucketed_on_compacted_lake(spark, store, tmp_path):
    """Sequence-layout routing (r11): when the lake is fully
    compacted, the served events frame IS the bucketed base table, so
    the funnel route elides its per-user shuffle
    (assume_partitioned) — same discipline as the warehouse fact
    routing. Any pending L0 part or tier keeps the conservative
    shuffle path. Both paths must answer identically."""
    from optiprism_spark import metrics
    from optiprism_spark.ingest import compact_appends_into_bucketed
    from optiprism_spark.server import make_app
    from tests.test_server import call

    appends, tiers, events = store
    lake = {"table_name": TBL, "appends_path": appends,
            "tiers_path": tiers}
    path = "/api/v1/projects/1/queries/funnel"
    body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "user", "intervalUnit": "day",
        "timeWindow": {"n": 7, "unit": "day"},
        "count": "unique", "touch": {"type": "first"},
        "steps": [
            {"events": [{"eventName": "view", "eventType": "regular"}]},
            {"events": [{"eventName": "click", "eventType": "regular"}]},
            {"events": [{"eventName": "purchase", "eventType": "regular"}]},
        ],
    }

    pending = make_app(spark, SF_DIR, lake=lake, result_cache_ttl=None)
    status, before = call(pending, "POST", path, body)
    assert status == 200
    assert pending._events_resolved()[1] is False  # L0 + tier pending

    # fold the tier and L0 into the bucketed base; the folded parts
    # stay on disk, retired, for readers planned before the fold
    compact_appends_into_bucketed(spark, TBL, appends, tiers)

    compacted = make_app(spark, SF_DIR, lake=lake, result_cache_ttl=None)
    status, after = call(compacted, "POST", path, body)
    assert status == 200
    assert compacted._events_resolved()[1] is True

    def rows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        return sorted(zip(*[c["data"] for c in cols]))

    # shuffle-elided path ≡ shuffle path (row order is partitioning-
    # dependent; the response contract is set-of-rows)
    assert rows(after) == rows(before)
    render = metrics.REGISTRY.render()
    assert 'optiprism_funnel_layout_routed_total{path="bucketed"}' in render
    assert 'optiprism_funnel_layout_routed_total{path="shuffle"}' in render
