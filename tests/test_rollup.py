"""Materialized day-grain rollup (rollup.py): build/merge losslessness,
incremental store maintenance (append → merge ≡ full recompute),
query-rewrite routing (routed plan reads the rollup, not raw events;
unsupported shapes fall back), HLL distinct-user estimates, and the
compaction-loop hook."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from optiprism_spark.dsl import (
    AggFn,
    EventQuery,
    EventRef,
    EventSegmentationRequest,
    PropFilter,
    PropOp,
    PropertyRef,
    QueryTime,
    SegQuery,
    TimeIntervalUnit,
)
from optiprism_spark.operators.aggregates import event_segmentation_one
from optiprism_spark.queries.event_segmentation import run_event_segmentation
from optiprism_spark.rollup import (
    ROLLUP_DT_COL,
    USERS_HLL_COL,
    RollupSpec,
    RollupStore,
    build_rollup,
    event_segmentation_from_rollup,
    merge_rollups,
    rollup_supports,
    unique_groups_estimate,
)
from optiprism_spark.schema import load_table

SF_DIR = "/root/testdata/sf0.001"
SPEC = RollupSpec()

T_DAYS = QueryTime.between(
    dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59, 999999)
)


@pytest.fixture(scope="module")
def events(spark):
    df = load_table(spark, SF_DIR, "events").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def roll(spark, events):
    df = build_rollup(events, SPEC).cache()
    yield df
    df.unpersist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _metric_rows(df):
    """Rollup rows minus the HLL binary (sketch bytes are not
    canonical across build orders; estimates are compared instead)."""
    cols = [c for c in df.columns if c != USERS_HLL_COL]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _estimates(df):
    return sorted(
        tuple(r)
        for r in df.select(
            ROLLUP_DT_COL,
            *SPEC.dims,
            F.hll_sketch_estimate(USERS_HLL_COL).alias("est"),
        ).collect()
    )


# ------------------------------------------------------------ losslessness


def test_merge_of_split_equals_full_build(spark, events):
    """Additive metrics and HLL estimates are invariant to how the
    corpus is split — the property incremental maintenance relies on."""
    cut = F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp")
    merged = merge_rollups(
        [build_rollup(events.filter(cut), SPEC), build_rollup(events.filter(~cut), SPEC)],
        SPEC,
    )
    full = build_rollup(events, SPEC)
    assert _metric_rows(merged) == _metric_rows(full)
    assert _estimates(merged) == _estimates(full)


def test_routed_equals_raw_bit_for_bit(spark, events, roll):
    req = EventSegmentationRequest(
        time=T_DAYS,
        interval=TimeIntervalUnit.WEEK,
        events=[],
        breakdowns=[PropertyRef.column("event_type")],
    )
    eq = EventQuery(
        EventRef("purchase"),
        [
            SegQuery("count_events", alias="n"),
            SegQuery("aggregate_property", agg=AggFn.SUM,
                     prop=PropertyRef.column("value"), alias="s"),
            SegQuery("aggregate_property", agg=AggFn.AVG,
                     prop=PropertyRef.column("value"), alias="a"),
            SegQuery("aggregate_property", agg=AggFn.MIN,
                     prop=PropertyRef.column("value"), alias="mn"),
            SegQuery("aggregate_property", agg=AggFn.MAX,
                     prop=PropertyRef.column("value"), alias="mx"),
        ],
    )
    assert rollup_supports(req, eq, SPEC)
    routed = event_segmentation_from_rollup(roll, req, eq, spec=SPEC)
    raw = event_segmentation_one(events, req, eq)
    key = ["bucket", "event_type"]
    assert sorted(map(tuple, routed.orderBy(*key).collect())) == sorted(
        map(tuple, raw.orderBy(*key).collect())
    )


def test_routed_plan_never_scans_raw_events(spark, tmp_path):
    """With a PERSISTED rollup (the production shape), the routed
    query's physical plan reads the rollup parquet and never touches
    events.parquet — the scan-size win that makes dashboards
    interactive at 100 TB."""
    raw_events = load_table(spark, SF_DIR, "events")  # uncached on purpose
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, raw_events)
    req = EventSegmentationRequest(
        time=T_DAYS, interval=TimeIntervalUnit.DAY,
        events=[EventQuery(EventRef(), [SegQuery("count_events", alias="n")])],
    )
    out = run_event_segmentation(raw_events, req, rollup=(store.read(spark), SPEC))
    plan = _plan(out)
    assert "events.parquet" not in plan
    # dt-partition pruning reaches the rollup scan, and the read is
    # column-pruned to the one metric the query needs
    assert "PartitionFilters" in plan and "dt#" in plan
    assert "ReadSchema: struct<events_count:bigint>" in plan
    # and it agrees with the raw path
    raw = run_event_segmentation(raw_events, req)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, raw.collect()))


def test_approx_uniques_route_through_rollup(spark, tmp_path):
    """count_unique_groups with approx=True folds out of the persisted
    day store (HLL union across the bucket's day sketches) — the plan
    never scans events.parquet, and the estimate equals the exact
    distinct at test cardinality (sketches in their sparse regime).
    The identical request WITHOUT approx keeps the exact semantics and
    falls back to the raw scan."""
    raw_events = load_table(spark, SF_DIR, "events")
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, raw_events)

    def req(approx: bool) -> EventSegmentationRequest:
        return EventSegmentationRequest(
            time=T_DAYS, interval=TimeIntervalUnit.WEEK,
            events=[EventQuery(EventRef(), [
                SegQuery("count_unique_groups", alias="uniq", approx=approx),
            ])],
            breakdowns=[PropertyRef.column("event_type")],
        )

    routed = run_event_segmentation(
        raw_events, req(True), rollup=(store.read(spark), SPEC))
    assert "events.parquet" not in _plan(routed)
    exact = run_event_segmentation(
        raw_events, req(False), rollup=(store.read(spark), SPEC))
    assert "events.parquet" in _plan(exact)
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, exact.collect()))
    # a request whose group axis differs from the sketch's group can
    # never route — the sketch counts the wrong thing
    other = req(True)
    other = EventSegmentationRequest(
        time=other.time, interval=other.interval, events=other.events,
        group_col="event_id", breakdowns=other.breakdowns)
    assert not rollup_supports(other, other.events[0], SPEC)


def test_approx_active_groups_route_through_rollup(spark, tmp_path):
    """daily_active_groups with approx=True (DAU summed per chart
    bucket) routes: the day sketches are sub-bucketed by the activity
    unit, each union estimated, estimates summed — mixed with an
    additive count in the SAME event query, so the two routed frames
    join. Plan never scans raw events; values equal the raw exact
    path at test cardinality."""
    raw_events = load_table(spark, SF_DIR, "events")
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, raw_events)
    req = EventSegmentationRequest(
        time=T_DAYS, interval=TimeIntervalUnit.WEEK,
        events=[EventQuery(EventRef(), [
            SegQuery("count_events", alias="n"),
            SegQuery("daily_active_groups", alias="wdau", approx=True),
        ])],
    )
    routed = run_event_segmentation(
        raw_events, req, rollup=(store.read(spark), SPEC))
    assert "events.parquet" not in _plan(routed)
    raw = run_event_segmentation(raw_events, req)
    assert routed.columns == raw.columns  # query-order metric columns
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, raw.collect()))


@pytest.mark.parametrize(
    "req_kw, eq",
    [
        # sub-day interval
        (dict(interval=TimeIntervalUnit.HOUR), EventQuery(EventRef(), [SegQuery("count_events", alias="n")])),
        # non-aligned time bound
        (dict(time=QueryTime.between(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))),
         EventQuery(EventRef(), [SegQuery("count_events", alias="n")])),
        # filter on a non-dim (JSON) property
        (dict(), EventQuery(EventRef(), [SegQuery("count_events", alias="n")],
                            filters=[PropFilter(PropertyRef.json("plan"), PropOp.EQ, ("pro",))])),
        # exact distinct users
        (dict(), EventQuery(EventRef(), [SegQuery("count_unique_groups", alias="u")])),
        # per-user two-level metric
        (dict(), EventQuery(EventRef(), [SegQuery("count_per_group", agg=AggFn.AVG, alias="c")])),
        # breakdown outside the dim set
        (dict(breakdowns=[PropertyRef.json("country")]),
         EventQuery(EventRef(), [SegQuery("count_events", alias="n")])),
    ],
)
def test_unsupported_shapes_fall_back(spark, events, roll, req_kw, eq):
    kw = dict(time=T_DAYS, interval=TimeIntervalUnit.DAY, events=[])
    kw.update(req_kw)
    req = EventSegmentationRequest(**kw)
    assert not rollup_supports(req, eq, SPEC)
    # run_event_segmentation silently falls back and matches raw
    req2 = EventSegmentationRequest(**{**kw, "events": [eq]})
    out = run_event_segmentation(events, req2, rollup=(roll, SPEC))
    raw = run_event_segmentation(events, req2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, raw.collect()))


def test_unique_groups_estimate_close_to_exact(spark, events, roll):
    est = {
        (r[0],): r[1]
        for r in unique_groups_estimate(roll, TimeIntervalUnit.WEEK).collect()
    }
    exact = {
        (r[0],): r[1]
        for r in events.groupBy(
            F.date_trunc("week", "ts").cast("date").alias("b")
        ).agg(F.count_distinct("user_id").alias("u")).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) <= max(2, 0.05 * exact[k]), (k, e, exact[k])


# ------------------------------------------------------ incremental store


def test_store_incremental_update_equals_recompute(spark, events, tmp_path):
    cut = F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp")
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, events.filter(cut))
    touched = store.update(spark, events.filter(~cut))
    assert touched > 0
    got = store.read(spark)
    want = build_rollup(events, SPEC)
    assert _metric_rows(got) == _metric_rows(want)
    assert _estimates(got) == _estimates(want)


def test_store_update_prunes_to_affected_partitions(spark, events, tmp_path):
    """A fold rewrites only the batch's days: the batch's day gets new
    files and every other day keeps its file list — bytes per
    maintenance cycle ∝ batch day span, not history."""
    from optiprism_spark import snapshot

    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, events)
    one_day = events.filter(F.to_date("ts") == F.lit("2024-01-10").cast("date"))
    before = snapshot.load(store.path)["files"]
    assert store.update(spark, one_day) == 1
    after = snapshot.load(store.path)["files"]
    day = f"{ROLLUP_DT_COL}=2024-01-10"
    assert after.keys() == before.keys()
    assert {d for d in before if after[d] != before[d]} == {day}
    assert not set(after[day]) & set(before[day])


def test_http_endpoint_routes_through_rollup(spark, tmp_path):
    """The serving path: an App with a rollup_store answers a
    rollup-expressible segmentation request identically to a
    rollup-less App, and a day folded into the store outside the app
    is served by the very next routed request — no refresh_tables()."""
    import json as _json

    from optiprism_spark.server import make_app
    from tests.test_server import call

    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, load_table(spark, SF_DIR, "events"))
    body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "user", "intervalUnit": "day", "chartType": "line",
        "events": [{
            "eventName": None, "eventType": "regular",
            "queries": [{"type": "countEvents"}],
        }],
    }
    plain = make_app(spark, SF_DIR)
    routed = make_app(spark, SF_DIR, rollup_store=store,
                      result_cache_ttl=None)
    st1, want = call(plain, "POST",
                     "/api/v1/projects/1/queries/event-segmentation", body)
    st2, got = call(routed, "POST",
                    "/api/v1/projects/1/queries/event-segmentation", body)
    assert st1 == st2 == 200

    def rows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        assert [c["name"] for c in cols] == ["0_0_count_events", "bucket"]
        return sorted(zip(*[c["data"] for c in cols]))

    assert rows(got) == rows(want)

    # approx uniques through the same endpoint: the JSON knob reaches
    # the routing decision, and at test cardinality the HLL answer
    # equals the rollup-less app's exact distinct
    abody = dict(body)
    abody["intervalUnit"] = "week"
    abody["events"] = [{
        "eventName": None, "eventType": "regular",
        "queries": [{"type": "countUniqueGroups", "approx": True}],
    }]
    st3, want_u = call(plain, "POST",
                       "/api/v1/projects/1/queries/event-segmentation", abody)
    st4, got_u = call(routed, "POST",
                      "/api/v1/projects/1/queries/event-segmentation", abody)
    assert st3 == st4 == 200

    def urows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        assert [c["name"] for c in cols] == ["0_0_count_unique_groups",
                                             "bucket"]
        return sorted(zip(*[c["data"] for c in cols]))

    assert urows(got_u) == urows(want_u)

    # freshness: the test data ends 2024-01-30; fold a 2024-01-31
    # batch in behind the app's back and the next routed request
    # (result cache off) counts it
    day31 = load_table(spark, SF_DIR, "events").limit(7).withColumn(
        "ts", F.lit("2024-01-31 12:00:00").cast("timestamp"))
    assert store.update(spark, day31) == 1
    st5, fresh = call(routed, "POST",
                      "/api/v1/projects/1/queries/event-segmentation", body)
    assert st5 == 200
    before = {b: n for n, b in rows(got)}
    changed = {b: n for n, b in rows(fresh) if before.get(b) != n}
    assert len(changed) == 1, changed
    (bucket, n), = changed.items()
    assert str(bucket).startswith("2024-01-31") and n == 7


def test_daystore_read_is_memoized_until_update(spark, events, tmp_path):
    """DayStore.read serves one memoized day-first frame until the
    store changes on disk; a fold makes the next read a fresh one."""
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, events)
    first = store.read(spark)
    assert first.columns[0] == ROLLUP_DT_COL
    assert store.read(spark) is first
    day31 = events.limit(5).withColumn(
        "ts", F.lit("2024-01-31 12:00:00").cast("timestamp"))
    assert store.update(spark, day31) == 1
    fresh = store.read(spark)
    assert fresh is not first
    assert fresh.filter(F.col(ROLLUP_DT_COL) == "2024-01-31").count() > 0


def test_update_ledger_skips_replayed_batch(spark, events, tmp_path):
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    first = events.limit(200)
    assert store.update(spark, first, stream_id="s", batch_id=0) > 0
    before = _metric_rows(store.read(spark))
    # replay of batch 0 must be a no-op
    assert store.update(spark, first, stream_id="s", batch_id=0) == 0
    assert _metric_rows(store.read(spark)) == before
    # a new batch id applies
    assert store.update(spark, events.limit(400), stream_id="s", batch_id=1) > 0


def test_json_dims_route_breakdowns_and_filters(spark, events):
    """A rollup declared with materialized JSON dims routes queries
    that break down / filter on those props — bit-identical to raw."""
    spec = RollupSpec(json_dims=(("plan", "string"),))
    roll2 = build_rollup(events, spec)
    assert "plan" in roll2.columns
    req = EventSegmentationRequest(
        time=T_DAYS, interval=TimeIntervalUnit.DAY, events=[],
        breakdowns=[PropertyRef.json("plan")],
    )
    eq = EventQuery(
        EventRef("purchase"),
        [SegQuery("count_events", alias="n"),
         SegQuery("aggregate_property", agg=AggFn.SUM,
                  prop=PropertyRef.column("value"), alias="s")],
        filters=[PropFilter(PropertyRef.json("plan"), PropOp.EXISTS)],
    )
    assert rollup_supports(req, eq, spec)
    routed = event_segmentation_from_rollup(roll2, req, eq, spec=spec)
    raw = event_segmentation_one(events, req, eq)
    assert sorted(map(tuple, routed.collect())) == sorted(map(tuple, raw.collect()))
    # dtype mismatch must NOT route (int64-cast grouping differs)
    req_bad = EventSegmentationRequest(
        time=T_DAYS, interval=TimeIntervalUnit.DAY, events=[],
        breakdowns=[PropertyRef.json("plan", "int64")],
    )
    assert not rollup_supports(req_bad, eq, spec)
    # merge over json dims stays lossless
    cut = F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp")
    merged = merge_rollups(
        [build_rollup(events.filter(cut), spec),
         build_rollup(events.filter(~cut), spec)], spec)
    cols = [c for c in merged.columns if c != USERS_HLL_COL]
    assert sorted(map(tuple, merged.select(*cols).collect())) == sorted(
        map(tuple, build_rollup(events, spec).select(*cols).collect()))


def test_catalog_declared_rollup_crud_and_routing(spark, tmp_path):
    """Product loop: declare a rollup through the schema CRUD →
    initial build runs → segmentation requests route through it
    (identical answers, rollup hit counted) → DELETE stops routing."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app
    from tests.test_server import call

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    seg_body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "user", "intervalUnit": "day", "chartType": "line",
        "breakdowns": [{"propertyName": "plan", "propertyType": "event",
                        "type": "property"}],
        "events": [{
            "eventName": "purchase", "eventType": "regular",
            "queries": [{"type": "countEvents"}],
        }],
    }
    st, before = call(app, "POST",
                      "/api/v1/projects/1/queries/event-segmentation", seg_body)
    assert st == 200

    # invalid declarations are rejected
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "bad dim", "dims": ["event_type"]})
    assert st == 400
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "r1", "dims": ["nope"]})
    assert st == 400

    st, row = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                   {"name": "daily", "dims": ["event_type"],
                    "jsonDims": [["plan", "string"]],
                    "numericProps": ["value"]})
    assert st == 201, row
    st, listed = call(app, "GET", "/api/v1/projects/1/schema/rollups")
    rows_listed = listed["data"] if isinstance(listed, dict) else listed
    assert st == 200 and [r["name"] for r in rows_listed] == ["daily"]

    def routed_count():
        c = metrics.REGISTRY.render()
        for line in c.splitlines():
            if line.startswith('optiprism_query_rollup_routed_total{path="rollup"}'):
                return float(line.rsplit(" ", 1)[1])
        return 0.0

    n0 = routed_count()
    st, after = call(app, "POST",
                     "/api/v1/projects/1/queries/event-segmentation", seg_body)
    assert st == 200
    assert routed_count() > n0  # the request actually hit the rollup

    def rows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        return sorted(zip(*[c["data"] for c in cols]))

    assert rows(after) == rows(before)

    # delete → routing off, answers unchanged
    st, _ = call(app, "DELETE", f"/api/v1/projects/1/schema/rollups/{row['id']}")
    assert st == 200
    app.refresh_tables()
    assert app._rollup(1) is None
    st, final = call(app, "POST",
                     "/api/v1/projects/1/queries/event-segmentation", seg_body)
    assert st == 200 and rows(final) == rows(before)


def test_multiple_declared_rollups_route_by_spec(spark, tmp_path):
    """Two declared rollups with different dim sets: a request only
    the SECOND can answer routes through it (specs are tried in
    declaration order, first supporting wins)."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app
    from tests.test_server import call

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    for body in (
        {"name": "by_event", "dims": ["event_type"]},
        {"name": "by_plan", "dims": ["event_type"],
         "jsonDims": [["plan", "string"]]},
    ):
        st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups", body)
        assert st == 201
    assert len(app._rollup(1)) == 2

    def routed_count():
        for line in metrics.REGISTRY.render().splitlines():
            if line.startswith('optiprism_query_rollup_routed_total{path="rollup"}'):
                return float(line.rsplit(" ", 1)[1])
        return 0.0

    seg_body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "user", "intervalUnit": "day", "chartType": "line",
        "breakdowns": [{"propertyName": "plan", "propertyType": "event",
                        "type": "property"}],
        "events": [{"eventName": "purchase", "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    plain = make_app(spark, SF_DIR)
    _, want = call(plain, "POST",
                   "/api/v1/projects/1/queries/event-segmentation", seg_body)
    n0 = routed_count()
    st, got = call(app, "POST",
                   "/api/v1/projects/1/queries/event-segmentation", seg_body)
    assert st == 200 and routed_count() > n0

    def rows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        return sorted(zip(*[c["data"] for c in cols]))

    assert rows(got) == rows(want)


def test_declared_rollup_stays_fresh_via_maintain(spark, events, tmp_path):
    """Review finding: declared rollups were built once at POST and
    never advanced, so routed queries served stale pre-ingest data.
    The maintenance tick (App.maintain) closes the loop."""
    from optiprism_spark.server import make_app
    from tests.test_server import call

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "fresh", "dims": ["event_type"]})
    assert st == 201

    seg_body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-02-28T23:59:59.999999"},
        "intervalUnit": "month",
        "events": [{"eventName": "purchase", "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    _, before = call(app, "POST",
                     "/api/v1/projects/1/queries/event-segmentation", seg_body)
    n_before = sum(c["data"][0] for c in before["columns"]
                   if c["name"] not in ("bucket", "event", "segment")
                   for _ in [0]) if before["columns"] else 0

    # a February append batch arrives; the maintenance hook advances
    # every declared store
    batch = events.limit(50).withColumn(
        "ts", F.lit("2024-02-10 10:00:00").cast("timestamp"))
    assert app.maintain(batch, pid=1)["rollup_stores"] == 1

    _, after = call(app, "POST",
                    "/api/v1/projects/1/queries/event-segmentation", seg_body)
    feb = [i for i, b in enumerate(
        next(c["data"] for c in after["columns"] if c["name"] == "bucket"))
        if str(b).startswith("2024-02")]
    assert feb, "February bucket appears after maintenance"
    # and the routed numbers match the raw path on the same frame
    from optiprism_spark.api import parse_event_segmentation
    from optiprism_spark.queries.event_segmentation import run_event_segmentation

    raw = run_event_segmentation(
        load_table(spark, SF_DIR, "events").unionByName(batch),
        parse_event_segmentation(seg_body)).collect()
    metric = [c for c in after["columns"]
              if c["name"] not in ("bucket", "event", "segment")][0]
    assert sorted(metric["data"]) == sorted(
        r[metric["name"]] for r in raw)


def test_rollup_put_rejected_delete_stops_routing(spark, events, tmp_path):
    """Review finding: generic PUT mutated the spec without rebuild
    (desyncing routing from the parquet) and DELETE left the cache
    serving the dropped store."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app
    from tests.test_server import call

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    st, row = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                   {"name": "imm", "dims": ["event_type"]})
    assert st == 201
    st, _ = call(app, "PUT", f"/api/v1/projects/1/schema/rollups/{row['id']}",
                 {"dims": ["event_type", "nope"]})
    assert st == 405

    seg_body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "intervalUnit": "day",
        "events": [{"eventName": "purchase", "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    call(app, "POST", "/api/v1/projects/1/queries/event-segmentation", seg_body)
    hits0 = metrics.rollup_hits_total().value() if hasattr(
        metrics, "rollup_hits_total") else None

    st, _ = call(app, "DELETE",
                 f"/api/v1/projects/1/schema/rollups/{row['id']}")
    assert st == 200
    # the store dir is gone and the next query must NOT route to it
    import os

    assert not os.path.exists(str(tmp_path / "rollups" / "p1_imm"))
    st, _ = call(app, "POST",
                 "/api/v1/projects/1/queries/event-segmentation", seg_body)
    assert st == 200  # falls back to raw without error


def test_failed_rollup_build_leaves_no_phantom(spark, tmp_path):
    """Review finding: a build failure after catalog.create left a
    declaration that listed forever but never served."""
    from optiprism_spark.server import make_app
    from tests.test_server import call

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "boom", "jsonDims": [["dt", "string"]]})
    assert st == 400  # reserved-column collision rejected up front
    st, rows = call(app, "GET", "/api/v1/projects/1/schema/rollups")
    assert [r for r in rows if r["name"] == "boom"] == []
    # the name is reusable with a valid dtype
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "boom", "jsonDims": [["plan", "string"]]})
    assert st == 201


def test_result_cache_fresh_after_real_ingest_and_maintenance(spark, tmp_path):
    """r7 verdict regression: with the 60s result cache on, a routed
    query answered BEFORE an ingest cycle must not be replayed AFTER
    it. Drives the REAL path — HTTP /track → WAL buffer → two-phase
    checkpoint (begin → durable write → commit) with App.maintain
    advancing the declared store in between — then re-fires the
    byte-identical request inside the TTL and requires fresh data at
    every stage (post-maintenance pre-commit is the exact moment the
    r7 bug replayed stale responses)."""
    import os

    from optiprism_spark.ingest import tracked_to_events
    from optiprism_spark.server import make_app
    from tests.test_server import call

    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    base = load_table(spark, SF_DIR, "events")
    base.write.mode("overwrite").parquet(f"{data_dir}/events.parquet")

    app = make_app(spark, data_dir, rollup_dir=str(tmp_path / "rollups"),
                   wal_dir=str(tmp_path / "wal"))
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "fresh", "dims": ["event_type"]})
    assert st == 201

    seg_body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-03-31T23:59:59.999999"},
        "intervalUnit": "month",
        "events": [{"eventName": "purchase", "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    url = "/api/v1/projects/1/queries/event-segmentation"
    _, first = call(app, "POST", url, seg_body)
    _, again = call(app, "POST", url, seg_body)
    assert again == first  # identical request inside the TTL: cache path
    buckets0 = next(c["data"] for c in first["columns"]
                    if c["name"] == "bucket")
    assert not any(str(b).startswith("2024-03") for b in buckets0)

    # real ingest: HTTP facade → WAL → checkpoint snapshot
    for i in range(5):
        st, _ = call(app, "POST", "/api/v1/ingest/tok/track", {
            "userId": str(i + 1), "event": "purchase",
            "timestamp": f"2024-03-05T10:0{i}:00Z",
            "properties": {"revenue": 3.0}})
        assert st == 201
    snap_t, _snap_i = app.begin_checkpoint()
    batch = tracked_to_events(
        spark.createDataFrame(snap_t, app.tracked_df(enrich=False).schema),
        base_event_id=10_000_000)
    # maintenance advances the declared store from the append batch;
    # the identical request must MISS the cache and see March NOW,
    # before the base-table fold even commits (the store is ahead of
    # the raw table by design — that's what routing is for)
    assert app.maintain(batch, pid=1)["rollup_stores"] == 1
    _, mid = call(app, "POST", url, seg_body)
    buckets1 = next(c["data"] for c in mid["columns"]
                    if c["name"] == "bucket")
    assert any(str(b).startswith("2024-03") for b in buckets1)

    # durable fold into the served table + checkpoint commit (WAL
    # truncate + refresh); reads come from SF_DIR so the overwrite of
    # data_dir never reads-while-writing
    base.unionByName(batch, allowMissingColumns=True).write.mode(
        "overwrite").parquet(f"{data_dir}/events.parquet")
    app.commit_checkpoint()
    assert app.tracked == []

    _, after = call(app, "POST", url, seg_body)
    metric = [c for c in after["columns"]
              if c["name"] not in ("bucket", "event", "segment")][0]
    mid_metric = [c for c in mid["columns"]
                  if c["name"] not in ("bucket", "event", "segment")][0]
    assert metric["data"] == mid_metric["data"]  # store ≡ post-fold raw
    # and the post-ingest answer matches a raw recompute on the new table
    from optiprism_spark.api import parse_event_segmentation
    from optiprism_spark.queries.event_segmentation import (
        run_event_segmentation as _run,
    )

    raw = _run(load_table(spark, data_dir, "events"),
               parse_event_segmentation(seg_body)).collect()
    assert sorted(metric["data"]) == sorted(r[metric["name"]] for r in raw)


def test_stickiness_routed_equals_raw_and_reads_rollup_only(spark, tmp_path):
    """stickiness_from_rollup must reproduce the raw-path stickiness
    bit-for-bit at test cardinality (sketches in their exact sparse
    regime) while scanning ONLY the persisted rollup parquet — the
    most-refreshed engagement dashboard is the first rollup client."""
    from optiprism_spark.operators.engagement import stickiness
    from optiprism_spark.rollup import stickiness_from_rollup

    raw_events = load_table(spark, SF_DIR, "events")
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, raw_events)
    routed = stickiness_from_rollup(
        store.read(spark), T_DAYS, TimeIntervalUnit.WEEK, SPEC)
    raw = stickiness(raw_events, T_DAYS, period=TimeIntervalUnit.WEEK)
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, raw.collect()))
    plan = _plan(routed)
    assert "events.parquet" not in plan
    # the scan is pruned to (dt partition, users_hll)
    assert "ReadSchema: struct<users_hll:binary>" in plan, plan


def test_cohort_sizes_routed_equals_raw(spark, tmp_path):
    """Cumulative-sketch first-touch sizes == exact per-user min-bucket
    cohort sizes, from the rollup parquet only."""
    from optiprism_spark.operators.retention import _cohorts_and_sizes
    from optiprism_spark.rollup import cohort_sizes_from_rollup

    raw_events = load_table(spark, SF_DIR, "events")
    store = RollupStore(str(tmp_path / "rollup"), SPEC)
    store.rebuild(spark, raw_events)
    routed = cohort_sizes_from_rollup(
        store.read(spark), T_DAYS, TimeIntervalUnit.WEEK, SPEC,
        cohort_event=EventRef("signup"))
    _, sizes = _cohorts_and_sizes(
        raw_events, EventRef("signup"), T_DAYS, TimeIntervalUnit.WEEK,
        (), "user_id")
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, sizes.collect()))
    plan = _plan(routed)
    assert "events.parquet" not in plan


def test_activity_supports_guards(spark):
    from optiprism_spark.rollup import activity_supports

    ok = QueryTime.between(
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 31, 23, 59, 59, 999999))
    assert activity_supports(ok, None, (), SPEC)
    assert activity_supports(ok, EventRef("signup"), (), SPEC)
    # non-day-aligned bounds: not routable
    ragged = QueryTime.between(
        dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 31, 23, 59, 59))
    assert not activity_supports(ragged, None, (), SPEC)
    # property filter outside the dim set: not routable
    f = PropFilter(PropertyRef.json("plan", "string"), PropOp.EQ, ["pro"])
    assert not activity_supports(ok, None, (f,), SPEC)


def test_http_stickiness_routes_through_rollup(spark, tmp_path):
    """POST /queries/stickiness: raw-exact without a store, routed
    through a declared day rollup when the request is day-aligned
    (identical response at test cardinality), raw fallback on ragged
    bounds — with the routing decision visible in the rollup metric."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    metrics.REGISTRY.reset()
    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    url = "/api/v1/projects/1/queries/stickiness"
    body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "period": "week",
    }
    st, raw_resp = call(app, "POST", url, body)
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 0

    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "eng", "dims": ["event_type"]})
    assert st == 201
    st, routed_resp = call(app, "POST", url, body)
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 1
    # sketches are exact in their sparse regime here: identical answer
    # (row ORDER is not part of the response contract — neither path
    # sorts; compare as row sets like the oracle matcher does)
    def _rows(resp):
        return sorted(zip(*[c["data"] for c in resp["columns"]]))

    assert [c["name"] for c in routed_resp["columns"]] == [
        c["name"] for c in raw_resp["columns"]]
    assert _rows(routed_resp) == _rows(raw_resp)

    ragged = dict(body, time={"type": "between",
                              "from": "2024-01-01T12:00:00",
                              "to": "2024-01-31T23:59:59"})
    st, _ = call(app, "POST", url, ragged)
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 1

    st, _ = call(app, "POST", url, dict(body, period="day"))
    assert st == 400


def test_routing_grid_routed_equals_raw(spark):
    """Sweep the (interval x metrics x breakdown x filter) grid: every
    combination rollup_supports claims routable must produce results
    identical to the raw path at test cardinality (additive metrics
    bit-for-bit, sketch-backed metrics exact in the sparse regime) —
    and the grid must exercise both routable and fallback shapes, so a
    routing-predicate regression can't silently shrink coverage."""
    events = load_table(spark, SF_DIR, "events").cache()
    roll = build_rollup(events, SPEC).cache()

    metric_sets = {
        "count": [SegQuery("count_events", alias="m0")],
        "sum_avg": [
            SegQuery("aggregate_property", agg=AggFn.SUM,
                     prop=PropertyRef.column("value"), alias="m0"),
            SegQuery("aggregate_property", agg=AggFn.AVG,
                     prop=PropertyRef.column("value"), alias="m1"),
        ],
        "uniq_approx": [SegQuery("count_unique_groups", alias="m0",
                                 approx=True)],
        "dau_approx": [
            SegQuery("count_events", alias="m0"),
            SegQuery("daily_active_groups", alias="m1", approx=True),
        ],
        "uniq_exact": [SegQuery("count_unique_groups", alias="m0")],
        "per_group": [SegQuery("count_per_group", agg=AggFn.AVG,
                               alias="m0")],
    }
    routable, fallback = 0, 0
    for iv in (TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK):
        for mname, metrics in metric_sets.items():
            for bds in ((), (PropertyRef.column("event_type"),)):
                for flt in ((), (PropFilter(
                        PropertyRef.column("event_type"), PropOp.EQ,
                        ("purchase",)),)):
                    eq = EventQuery(EventRef(), metrics, filters=flt)
                    req = EventSegmentationRequest(
                        time=T_DAYS, interval=iv, events=[eq],
                        breakdowns=bds)
                    tag = f"{iv.value}/{mname}/bd={len(bds)}/f={len(flt)}"
                    if not rollup_supports(req, eq, SPEC):
                        fallback += 1
                        assert mname in ("uniq_exact", "per_group"), tag
                        continue
                    routable += 1
                    routed = event_segmentation_from_rollup(
                        roll, req, eq, spec=SPEC)
                    raw = event_segmentation_one(events, req, eq)
                    assert routed.columns == raw.columns, tag
                    assert sorted(map(tuple, routed.collect())) == sorted(
                        map(tuple, raw.collect())), tag
    # the grid genuinely covered both sides of the routing predicate
    assert routable == 32 and fallback == 16
    events.unpersist()
    roll.unpersist()


def test_declared_group_grain_rollup_routes_org_uniques(spark, tmp_path):
    """A deployment whose events carry a physical group column can
    declare a GROUP-GRAIN rollup over HTTP (groupCol): the HLL
    sketches count orgs, and a group-analytics segmentation with
    approx uniques routes through it — matching the exact org
    distincts of a rollup-less app at test cardinality. A groupCol
    the events table lacks is rejected at declare time."""
    from optiprism_spark.server import make_app
    from tests.test_server import call

    sf = tmp_path / "sf"
    sf.mkdir()
    load_table(spark, SF_DIR, "events").withColumn(
        "org_id", F.col("user_id") % 20
    ).write.parquet(str(sf / "events.parquet"))

    app = make_app(spark, str(sf), rollup_dir=str(tmp_path / "rollups"))
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups", {
        "name": "org_day", "dims": ["event_type"], "groupCol": "org_id",
    })
    assert st == 201
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups", {
        "name": "bad", "groupCol": "no_such_col",
    })
    assert st == 400

    body = {
        "time": {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59.999999"},
        "group": "org", "intervalUnit": "week", "chartType": "line",
        "events": [{
            "eventName": None, "eventType": "regular",
            "queries": [{"type": "countUniqueGroups", "approx": True}],
        }],
    }
    plain = make_app(spark, str(sf))
    st1, want = call(plain, "POST",
                     "/api/v1/projects/1/queries/event-segmentation", body)
    st2, got = call(app, "POST",
                    "/api/v1/projects/1/queries/event-segmentation", body)
    assert st1 == st2 == 200

    def rows(payload):
        cols = sorted(payload["columns"], key=lambda c: c["name"])
        return sorted(zip(*[c["data"] for c in cols]))

    assert rows(got) == rows(want)
    # the routed app really answered from the store, not raw events:
    # the USER-grain default store must NOT serve an org-grain request
    from optiprism_spark.rollup import rollup_supports
    from optiprism_spark.api import parse_event_segmentation

    req = parse_event_segmentation(body)
    assert req.group_col == "org_id"
    assert not rollup_supports(req, req.events[0], SPEC)  # user-grain spec
    org_store = app._declared_rollup_stores(1)[0]
    assert org_store.spec.group_col == "org_id"
    assert rollup_supports(req, req.events[0], org_store.spec)


# ---------------------------------------------- single-partition reads


def test_small_store_reads_plan_no_shuffle(spark, tmp_path):
    """A store under ``daystore.SINGLE_PARTITION_MAX_BYTES`` is read as
    one partition: the routed stickiness, RFM and sketched-venn frames
    above it plan no hash Exchange, and the day window still prunes
    the scan's partitions. The smoke-data stores are far under it."""
    from optiprism_spark.operators.audience import (
        audience_venn_from_day_sketches,
    )
    from optiprism_spark.rollup import day_range, stickiness_from_rollup
    from optiprism_spark.streaming.audience import KmvDayStore
    from optiprism_spark.userday import UserDayStore, rfm_from_user_day

    raw_events = load_table(spark, SF_DIR, "events")
    roll = RollupStore(str(tmp_path / "rollup"), SPEC)
    userday = UserDayStore(str(tmp_path / "userday"))
    kmv = KmvDayStore(str(tmp_path / "kmv"), k=64)
    for store in (roll, userday, kmv):
        store.rebuild(spark, raw_events)
    frames = {
        "stickiness": (roll, stickiness_from_rollup(
            roll.read(spark), T_DAYS, TimeIntervalUnit.WEEK, SPEC)),
        "rfm": (userday, rfm_from_user_day(userday.read(spark), T_DAYS)),
        "venn": (kmv, audience_venn_from_day_sketches(
            kmv.read(spark).filter(day_range(T_DAYS, kmv.day_col)),
            "signup", "purchase", k=kmv.k)),
    }
    for name, (store, df) in frames.items():
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan, (name, plan)
        # a non-empty partition filter on the store's day column (an
        # unpruned scan prints "PartitionFilters: []")
        assert re.search(
            rf"PartitionFilters: \[[^\]]*\b{store.day_col}#", plan), (
            name, plan)
        assert df.collect(), name


def test_store_over_cutoff_keeps_split_read(spark, tmp_path, monkeypatch):
    """A store over ``daystore.SINGLE_PARTITION_MAX_BYTES`` reads with
    the scan's own splits, so the routed aggregate above it keeps its
    shuffle. The smoke store is far under the real cutoff, so the
    cutoff is lowered to 0 bytes, for a fresh store path (the plan memo
    keys on the path, not the cutoff)."""
    from optiprism_spark import daystore
    from optiprism_spark.userday import UserDayStore, rfm_from_user_day

    monkeypatch.setattr(daystore, "SINGLE_PARTITION_MAX_BYTES", 0)
    store = UserDayStore(str(tmp_path / "userday"))
    store.rebuild(spark, load_table(spark, SF_DIR, "events"))
    read = store.read(spark)
    assert "Coalesce" not in _plan(read)
    assert read.rdd.getNumPartitions() > 1
    assert "Exchange hashpartitioning" in _plan(
        rfm_from_user_day(read, T_DAYS))
