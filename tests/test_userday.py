"""UserDayStore — the (dt, user)-grain activity rollup behind RFM and
growth accounting (r15, r14 verdict tasks 6 & 7): routed ≡ raw,
incremental maintenance with replay ledger, HTTP routing + fallback,
and the plan assertion that routed queries never scan raw events."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from optiprism_spark.dsl import EventRef, QueryTime, TimeIntervalUnit
from optiprism_spark.operators.engagement import (
    growth_accounting,
    rfm_scores,
)
from optiprism_spark.schema import load_table
from optiprism_spark.userday import (
    UserDaySpec,
    UserDayStore,
    growth_from_user_day,
    rfm_from_user_day,
    user_day_supports,
)

SF = "/root/testdata/sf0.001"
W = QueryTime.between(dt.datetime(2024, 1, 1),
                      dt.datetime(2024, 1, 31, 23, 59, 59, 999999))


def test_routed_equals_raw_and_never_scans_events(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    st = UserDayStore(str(tmp_path / "ud"))
    st.rebuild(spark, ev)
    sdf = st.read(spark)

    raw = {tuple(r) for r in rfm_scores(
        ev, W, n_tiles=5, percentile_mode="exact").collect()}
    routed_df = rfm_from_user_day(sdf, W, n_tiles=5,
                                  percentile_mode="exact")
    assert {tuple(r) for r in routed_df.collect()} == raw and raw

    rawg = {tuple(r) for r in growth_accounting(
        ev, W, TimeIntervalUnit.WEEK).collect()}
    routed_g = growth_from_user_day(sdf, W, TimeIntervalUnit.WEEK)
    assert {tuple(r) for r in routed_g.collect()} == rawg and rawg

    # event-dim filter folds on the store too
    raw_f = {tuple(r) for r in rfm_scores(
        ev, W, n_tiles=4, event=EventRef("purchase"),
        percentile_mode="exact").collect()}
    routed_f = rfm_from_user_day(
        sdf, W, n_tiles=4, event=EventRef("purchase"),
        percentile_mode="exact")
    assert {tuple(r) for r in routed_f.collect()} == raw_f

    # routed plans read the store parquet, never the events table
    for df in (routed_df, routed_g):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "events.parquet" not in plan
        # the scanned relation carries the store's schema, and the
        # events table's wide payload (props) never appears
        assert "value_sum" in plan and "props" not in plan


def test_supports_guard(spark):
    spec = UserDaySpec()
    assert user_day_supports(W, EventRef("purchase"), (), spec)
    # non-day-aligned bounds: not routable
    ragged = QueryTime.between(dt.datetime(2024, 1, 1, 8),
                               dt.datetime(2024, 1, 31, 23, 59, 59, 999999))
    assert not user_day_supports(ragged, None, (), spec)
    # custom-event OR expansion: not expressible on the event dim
    from optiprism_spark.dsl import EventFilterSpec

    custom = EventRef(custom=[EventFilterSpec(EventRef("view"))])
    assert not user_day_supports(W, custom, (), spec)
    # wrong grain
    assert not user_day_supports(W, None, (), spec, group_col="org_id")


def test_incremental_update_and_replay(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    jan_half = ev.filter(F.col("ts") < "2024-01-16")
    rest = ev.filter(F.col("ts") >= "2024-01-16")

    st = UserDayStore(str(tmp_path / "ud_inc"))
    st.rebuild(spark, jan_half)
    touched = st.update(spark, rest, stream_id="s", batch_id=1)
    assert touched > 0
    # replay no-ops
    assert st.update(spark, rest, stream_id="s", batch_id=1) == 0

    # incrementally-built store ≡ one-shot rebuild (counts and sums
    # merge exactly)
    full = UserDayStore(str(tmp_path / "ud_full"))
    full.rebuild(spark, ev)
    a = {tuple(r) for r in st.read(spark).collect()}
    b = {tuple(r) for r in full.read(spark).collect()}
    assert a == b

    # and the routed readout over the merged store still equals raw
    raw = {tuple(r) for r in growth_accounting(
        ev, W, TimeIntervalUnit.WEEK).collect()}
    got = {tuple(r) for r in growth_from_user_day(
        st.read(spark), W, TimeIntervalUnit.WEEK).collect()}
    assert got == raw


def test_http_routing_and_fallback(spark, tmp_path):
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    st = UserDayStore(str(tmp_path / "ud_http"))
    st.rebuild(spark, load_table(spark, SF, "events"))
    app = make_app(spark, SF, result_cache_ttl=None, user_day_store=st)
    bare = make_app(spark, SF, result_cache_ttl=None)
    T = {"type": "between", "from": "2024-01-01 00:00:00",
         "to": "2024-01-31 23:59:59.999999"}

    def rows(resp):
        cols = sorted(resp["columns"], key=lambda c: c["name"])
        return set(zip(*[c["data"] for c in cols]))

    for url, body in (
        ("/api/v1/projects/1/queries/growth", {"time": T, "period": "week"}),
        ("/api/v1/projects/1/queries/rfm", {"time": T, "grid": True}),
    ):
        before = metrics.user_day_routed_total().value(
            surface=url.rsplit("/", 1)[-1], path="store")
        st_r, routed = call(app, "POST", url, body)
        st_b, raw = call(bare, "POST", url, body)
        assert st_r == 200 and st_b == 200
        assert rows(routed) == rows(raw), url
        after = metrics.user_day_routed_total().value(
            surface=url.rsplit("/", 1)[-1], path="store")
        assert after == before + 1, url

    # a non-routable request (custom valueProperty) falls back to raw
    stx, _ = call(app, "POST", "/api/v1/projects/1/queries/rfm",
                  {"time": T, "grid": True, "valueProperty": "event_id"})
    assert stx == 200
    assert metrics.user_day_routed_total().value(
        surface="rfm", path="raw") >= 1


def test_retention_routed_equals_raw(spark, tmp_path):
    """Retention folds from the store through the shared matrix tail
    (bounded + unbounded), and the HTTP route serves the store with
    raw-equal answers, falling back on non-day-aligned windows."""
    from optiprism_spark import metrics
    from optiprism_spark.operators.retention import retention
    from optiprism_spark.server import make_app
    from optiprism_spark.userday import retention_from_user_day

    from .test_server import call

    ev = load_table(spark, SF, "events")
    st = UserDayStore(str(tmp_path / "ud_ret"))
    st.rebuild(spark, ev)
    for unb in (False, True):
        raw = {tuple(r) for r in retention(
            ev, EventRef("signup"), EventRef("purchase"), W,
            TimeIntervalUnit.WEEK, max_periods=8,
            unbounded=unb).collect()}
        got = {tuple(r) for r in retention_from_user_day(
            st.read(spark), EventRef("signup"), EventRef("purchase"), W,
            TimeIntervalUnit.WEEK, max_periods=8,
            unbounded=unb).collect()}
        assert got == raw and raw, unb

    app = make_app(spark, SF, result_cache_ttl=None, user_day_store=st)
    bare = make_app(spark, SF, result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/retention"
    body = {"time": {"type": "between", "from": "2024-01-01 00:00:00",
                     "to": "2024-01-31 23:59:59.999999"},
            "intervalUnit": "week", "maxPeriods": 8,
            "cohortEvent": {"eventName": "signup", "eventType": "regular"},
            "returnEvent": {"eventName": "purchase", "eventType": "regular"}}

    def rows(resp):
        cols = sorted(resp["columns"], key=lambda c: c["name"])
        return set(zip(*[c["data"] for c in cols]))

    before = metrics.user_day_routed_total().value(
        surface="retention", path="store")
    st_r, routed = call(app, "POST", url, body)
    st_b, raw_http = call(bare, "POST", url, body)
    assert st_r == 200 and st_b == 200
    assert rows(routed) == rows(raw_http)
    assert metrics.user_day_routed_total().value(
        surface="retention", path="store") == before + 1

    # ragged window: not day-aligned -> raw fallback, still 200
    ragged = dict(body, time={"type": "between",
                              "from": "2024-01-01 06:00:00",
                              "to": "2024-01-31 23:59:59.999999"})
    assert call(app, "POST", url, ragged)[0] == 200
    assert metrics.user_day_routed_total().value(
        surface="retention", path="raw") >= 1

    # sub-day interval with a store configured: the routed path must
    # enforce the raw operator's interval validation (r15 advice) —
    # a 400, never silently-wrong period numbers from the dt column
    for bad in ("hour", "minute"):
        st_h, out_h = call(app, "POST", url,
                           dict(body, intervalUnit=bad))
        assert st_h == 400, (bad, st_h, out_h)

    # and the operator itself guards, matching retention()'s error
    import pytest as _pytest

    from optiprism_spark.dsl import TimeIntervalUnit as TIU
    with _pytest.raises(ValueError, match="retention interval"):
        retention_from_user_day(
            st.read(spark), EventRef("signup"), EventRef("purchase"),
            W, TIU.HOUR)


def test_audience_set_routes_through_user_day(spark, tmp_path):
    """/queries/audience type=set serves EXACTLY from the user-day
    store when every audience ref is store-expressible (r15 verdict
    task 5): routed ≡ raw answer, the routing metric flips to
    path=store, and a non-expressible ref (custom event with value
    filter) falls back to raw."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    ev = load_table(spark, SF, "events")
    st = UserDayStore(str(tmp_path / "ud_aud"))
    st.rebuild(spark, ev)
    app = make_app(spark, SF, result_cache_ttl=None, user_day_store=st)
    bare = make_app(spark, SF, result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/audience"
    body = {
        "type": "set",
        "time": {"type": "between", "from": "2024-01-01 00:00:00",
                 "to": "2024-01-07 23:59:59.999999"},
        "audiences": {
            "a": {"eventName": "signup", "eventType": "regular"},
            "c": {"eventName": "error", "eventType": "regular"}},
        "expression": {"op": "and", "args": [
            {"ref": "a"}, {"op": "not", "args": [{"ref": "c"}]}]},
    }

    before = metrics.user_day_routed_total().value(
        surface="audience_set", path="store")
    st_r, routed = call(app, "POST", url, body)
    st_b, raw = call(bare, "POST", url, body)
    assert st_r == 200 and st_b == 200
    assert routed["columns"] == raw["columns"]
    assert metrics.user_day_routed_total().value(
        surface="audience_set", path="store") == before + 1

    # a ragged (non-day-aligned) window is NOT store-expressible
    # -> raw fallback, still 200
    ragged = dict(body, time={"type": "between",
                              "from": "2024-01-01 06:00:00",
                              "to": "2024-01-07 23:59:59.999999"})
    raw_before = metrics.user_day_routed_total().value(
        surface="audience_set", path="raw")
    assert call(app, "POST", url, ragged)[0] == 200
    assert metrics.user_day_routed_total().value(
        surface="audience_set", path="raw") == raw_before + 1


def test_lness_http_routed_equals_raw(spark, tmp_path):
    """POST /queries/lness serves the L7/L28 grid from the user-day
    store when configured (identical rows to the bare-app raw path),
    falls back to raw for out-of-dims filters, and validates the
    window params."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    st = UserDayStore(str(tmp_path / "ud_lness"))
    st.rebuild(spark, load_table(spark, SF, "events"))
    app = make_app(spark, SF, result_cache_ttl=None, user_day_store=st)
    bare = make_app(spark, SF, result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/lness"
    body = {"anchor": "2024-01-28", "lShort": 7, "lLong": 28}

    def rows(resp):
        cols = sorted(resp["columns"], key=lambda c: c["name"])
        return set(zip(*[c["data"] for c in cols]))

    before = metrics.user_day_routed_total().value(
        surface="lness", path="store")
    st_r, routed = call(app, "POST", url, body)
    st_b, raw = call(bare, "POST", url, body)
    assert st_r == 200 and st_b == 200
    assert rows(routed) == rows(raw)
    assert metrics.user_day_routed_total().value(
        surface="lness", path="store") == before + 1

    # event filter stays inside the store dims -> still routed
    st_e, _ = call(app, "POST", url, dict(body, event={"eventName": "view"}))
    assert st_e == 200
    assert metrics.user_day_routed_total().value(
        surface="lness", path="store") == before + 2

    # bad windows and missing anchor are 400s, not wrong numbers
    for bad in ({"anchor": "2024-01-28", "lShort": 28, "lLong": 7},
                {"anchor": "not-a-date"}, {}):
        st_x, _ = call(app, "POST", url, bad)
        assert st_x == 400, bad
