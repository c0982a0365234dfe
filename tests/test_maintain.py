"""Unified maintenance orchestrator (server.App.maintain): ONE tick
advances every declared store exactly once, replay-safe, with
per-store advance metrics. It is the only path that advances the
rollup, user-day, KMV and ANN stores; the hooks it calls
(maintain_ivf / maintain_ann_indexes / gate_quality / sweep_sessions)
stay public for granular schedules — this file pins the orchestrated
path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from optiprism_spark import metrics
from optiprism_spark.operators.ivf_store import IvfStore
from optiprism_spark.rollup import RollupSpec, RollupStore
from optiprism_spark.schema import load_table
from optiprism_spark.server import make_app
from optiprism_spark.streaming.audience import KmvDayStore
from optiprism_spark.userday import UserDayStore

SF = "/root/testdata/sf0.001"


def _event_batch(spark, day="2024-02-01"):
    """A small append batch shaped like the events table (one new
    day, deterministic rows)."""
    ev = load_table(spark, SF, "events")
    base = ev.orderBy("event_id").limit(50)
    shift = F.lit(day).cast("timestamp")
    return base.withColumn(
        "ts", F.to_timestamp(
            F.concat(F.lit(day + " "),
                     F.date_format("ts", "HH:mm:ss"))))


def test_unified_tick_advances_every_store_once(spark, tmp_path):
    metrics.REGISTRY.reset()
    ev = load_table(spark, SF, "events")
    emb = load_table(spark, SF, "embeddings")

    rollup = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    rollup.rebuild(spark, ev)
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, ev)
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    kmv.update(spark, ev)  # seed the sketch store
    ivf = IvfStore(str(tmp_path / "ivf"))
    ivf.rebuild(spark, emb, n_centroids=4)

    app = make_app(spark, SF, result_cache_ttl=None,
                   rollup_store=rollup, user_day_store=userday,
                   kmv_store=kmv, ivf_store=ivf,
                   ivf_dir=str(tmp_path / "ann"),
                   wal_dir=str(tmp_path / "wal"), session_store=True)
    from .test_server import call

    # one declared ANN index and one declared quality battery take
    # part in the same tick
    st, _ = call(app, "POST", "/api/v1/projects/0/schema/ann-indexes",
                 {"name": "main", "nCentroids": 4})
    assert st == 202 and app.wait_ann_builds()
    st, _ = call(app, "POST", "/api/v1/projects/0/schema/quality-checks",
                 {"name": "ids", "constraints": [
                     {"type": "completeness", "column": "user_id"}]})
    assert st == 201

    batch = _event_batch(spark)
    emb_batch = spark.createDataFrame(
        [(50_000 + i, [float(i + 1)] * 64) for i in range(3)],
        "vec_id long, embedding array<float>")

    ud_days_before = userday.read(spark).select("dt").distinct().count()
    ivf_count_before = ivf.info()["count"]

    out = app.maintain(batch, emb_batch, stream_id="tick", batch_id=1)

    # every tier moved exactly once
    assert out["quality_failures"] == []  # batch is clean
    assert out["rollup_stores"] == 1
    assert out["user_day_days"] == 1  # the one shifted day
    assert out["kmv_days"] == 1
    assert out["ann_stores"] == 2  # declared 'main' + app-level store
    assert out["sessions_ended"] == 0
    assert userday.read(spark).select("dt").distinct().count() == \
        ud_days_before + 1
    assert ivf.info()["count"] == ivf_count_before + 3

    adv = metrics.maintenance_store_advanced_total()
    assert adv.value(store="rollup") == 1
    assert adv.value(store="user_day") == 1
    assert adv.value(store="kmv") == 1
    assert adv.value(store="ann") == 2

    # replay: the SAME (stream_id, batch_id) re-delivered — ledgered
    # stores no-op, merge-idempotent stores keep identical data
    ud_snap = sorted(
        tuple(r) for r in userday.read(spark).collect())
    rollup_snap = sorted(str(tuple(r)) for r in rollup.read(spark).collect())
    advanced = {store: adv.value(store=store)
                for store in ("rollup", "user_day", "kmv")}
    out2 = app.maintain(batch, emb_batch, stream_id="tick", batch_id=1)
    assert out2["user_day_days"] == 0  # ledger no-op
    assert out2["kmv_days"] == 0  # ledger no-op
    assert ivf.info()["count"] == ivf_count_before + 3  # ledger no-op
    assert sorted(tuple(r) for r in userday.read(spark).collect()) == \
        ud_snap
    # the rollup's counts are additive: only its ledger keeps the
    # replayed batch from counting twice
    assert out2["rollup_stores"] == 0  # a ledger no-op is no advance
    assert sorted(str(tuple(r)) for r in rollup.read(spark).collect()) \
        == rollup_snap
    # a replay advances no store, so the staleness metric stays put
    assert {store: adv.value(store=store) for store in advanced} == \
        advanced


def test_unified_tick_reports_quality_failures(spark, tmp_path):
    """A failing declared battery surfaces in the tick's summary and
    metric — the 'vendor broke the feed' alarm fires from the same
    orchestrator call that advances the stores."""
    metrics.REGISTRY.reset()
    app = make_app(spark, SF, result_cache_ttl=None)
    from .test_server import call

    st, _ = call(app, "POST", "/api/v1/projects/0/schema/quality-checks",
                 {"name": "ids", "constraints": [
                     {"type": "completeness", "column": "user_id"}]})
    assert st == 201
    bad = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0)],
        "event_id long, user_id long, value double")
    out = app.maintain(bad)
    assert [f["constraint"] for f in out["quality_failures"]] == [
        "completeness(user_id)"]
    assert metrics.maintenance_store_advanced_total().value(
        store="quality_gate") == 1
    # nothing else configured: every other tier reports zero
    assert out["rollup_stores"] == 0 and out["ann_stores"] == 0
    assert out["user_day_days"] == 0 and out["kmv_days"] == 0


def test_parallel_tick_matches_serial_rebuild(spark, tmp_path):
    """Ticks that fold the rollup, user-day and KMV stores in parallel
    leave the same rows as one serial build over base ∪ batches, bump
    the data version exactly once per tick, carry the tick's job group
    into the fold threads and leave the session-wide partition
    overwrite mode alone."""
    from optiprism_spark.rollup import USERS_HLL_COL

    ev = load_table(spark, SF, "events")
    cut = F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp")
    base = ev.filter(cut)
    rest = ev.filter(~cut)
    # three batches that share days, so every tick merges into
    # partitions an earlier tick wrote
    batches = [rest.filter(F.col("event_id") % 3 == k) for k in range(3)]

    rollup = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    rollup.rebuild(spark, base)
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, base)
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    kmv.update(spark, base)
    app = make_app(spark, SF, rollup_store=rollup, user_day_store=userday,
                   kmv_store=kmv)

    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    sc = spark.sparkContext
    for i, batch in enumerate(batches, 1):
        v0 = app._data_version
        sc.setJobGroup(f"tick-{i}", "maintenance tick", False)
        try:
            out = app.maintain(batch, stream_id="s", batch_id=i)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert out["rollup_stores"] == 1
        assert out["user_day_days"] > 0 and out["kmv_days"] > 0
        assert app._data_version == v0 + 1
        # the fold threads inherit the tick's job group (the jobs of a
        # plain thread would land outside it)
        assert len(sc.statusTracker().getJobIdsForGroup(f"tick-{i}")) > 0
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode

    union = base
    for batch in batches:
        union = union.unionByName(batch)
    want_rollup = RollupStore(str(tmp_path / "rollup_serial"), RollupSpec())
    want_rollup.rebuild(spark, union)
    want_userday = UserDayStore(str(tmp_path / "userday_serial"))
    want_userday.rebuild(spark, union)
    want_kmv = KmvDayStore(str(tmp_path / "kmv_serial"), k=64)
    want_kmv.update(spark, union)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def rollup_rows(store):
        # HLL bytes are not canonical across fold orders: compare
        # every other column and the sketch's estimate
        df = store.read(spark)
        return rows(df.select(
            *[c for c in df.columns if c != USERS_HLL_COL],
            F.hll_sketch_estimate(USERS_HLL_COL).alias("est")))

    assert rollup_rows(rollup) == rollup_rows(want_rollup)
    assert rows(userday.read(spark)) == rows(want_userday.read(spark))
    assert rows(kmv.read(spark)) == rows(want_kmv.read(spark))


def test_failed_fold_joins_the_others_and_reraises(spark, tmp_path):
    """One fold raising does not cut the other folds short: they run
    to completion, the data version still moves (the failed fold may
    have rewritten partitions) and the error reaches the caller."""
    import pytest

    ev = load_table(spark, SF, "events")
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, ev)

    class Broken:
        def exists(self):
            return True

        def update(self, *_a, **_kw):
            raise RuntimeError("kmv fold failed")

    app = make_app(spark, SF, user_day_store=userday, kmv_store=Broken())
    v0 = app._data_version
    days_before = userday.read(spark).select("dt").distinct().count()
    with pytest.raises(RuntimeError, match="kmv fold failed"):
        app.maintain(_event_batch(spark))
    assert userday.read(spark).select("dt").distinct().count() == \
        days_before + 1
    assert app._data_version == v0 + 1


def _compiles(spark) -> int:
    """Generated classes the JVM has compiled so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_repeated_tick_and_request_reuse_generated_classes(spark, tmp_path):
    """With the generated-class cache sized to the working set
    (session.get_spark), a second maintenance tick on a batch of the
    same shape compiles at most one class — the one carrying the
    tick's ``base_event_id`` literal — and a repeated served request
    compiles none. At Spark's default cache size (100) a tick
    recompiled ~115."""
    from optiprism_spark.ingest import tracked_to_events
    from optiprism_spark.server import _TRACK_SCHEMA

    from .test_server import call

    ev = load_table(spark, SF, "events")
    rollup = RollupStore(str(tmp_path / "rollup"), RollupSpec())
    rollup.rebuild(spark, ev)
    userday = UserDayStore(str(tmp_path / "userday"))
    userday.rebuild(spark, ev)
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    kmv.update(spark, ev)
    app = make_app(spark, SF, result_cache_ttl=None, rollup_store=rollup,
                   user_day_store=userday, kmv_store=kmv)
    next_id = [10_000_000]

    def tick():
        for i in range(20):
            st, _ = call(app, "POST", "/api/v1/ingest/tok/track",
                         {"userId": str(i % 7), "event": "view",
                          "timestamp": f"2024-01-10T{i % 24:02d}:00:00Z",
                          "properties": {"revenue": i}})
            assert st == 201
        snap, _ = app.begin_checkpoint()
        new = tracked_to_events(
            spark.createDataFrame(snap, _TRACK_SCHEMA),
            base_event_id=next_id[0]).persist()
        next_id[0] += new.count()
        app.maintain(new)
        app.commit_checkpoint()
        new.unpersist()

    tick()
    before = _compiles(spark)
    tick()
    assert _compiles(spark) - before <= 1

    seg = {"time": {"type": "between", "from": "2024-01-01T00:00:00",
                    "to": "2024-01-31T23:59:59"},
           "group": "user", "intervalUnit": "day",
           "events": [{"eventName": "view", "eventType": "regular",
                       "queries": [{"type": "countEvents"}]}]}
    path = "/api/v1/projects/1/queries/event-segmentation"
    st, first = call(app, "POST", path, seg)
    assert st == 200
    before = _compiles(spark)
    st, again = call(app, "POST", path, seg)
    assert st == 200 and again == first
    assert _compiles(spark) == before
