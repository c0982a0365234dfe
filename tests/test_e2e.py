"""The full product loop in one test, end to end through the HTTP
surface: signup (bootstrap admin) → RBAC grant → create project (sdk
token) → create schema property → track through the WAL with
ingest-time Session Begin injection → crash + replay → sweep sessions
→ durable flush (two-phase checkpoint) → compaction into the bucketed
table → funnel + segmentation through the JSON API, asserted against
the same queries run directly on the engine.

Every piece is unit-tested elsewhere; this test exists to catch
integration drift between the catalog, the ingest plane and query
compilation (VERDICT r5 item 7)."""

from __future__ import annotations

import datetime as dt
import io
import json

from pyspark.sql import functions as F

from optiprism_spark.catalog import Catalog
from optiprism_spark.server import make_app

from .test_server import call

T_MARCH = {"type": "between", "from": "2024-03-01T00:00:00",
           "to": "2024-03-31T23:59:59"}


def _authed(app, token, method, path, body=None):
    raw = b"" if body is None else json.dumps(body).encode()
    environ = {
        "REQUEST_METHOD": method, "PATH_INFO": path, "QUERY_STRING": "",
        "CONTENT_LENGTH": str(len(raw)), "wsgi.input": io.BytesIO(raw),
        "HTTP_AUTHORIZATION": f"Bearer {token}",
    }
    captured = {}
    chunks = b"".join(app(environ, lambda s, h: captured.update(
        status=int(s.split()[0]))))
    return captured["status"], json.loads(chunks) if chunks else None


def _col(payload, name):
    for c in payload["columns"]:
        if c["name"] == name:
            return c["data"]
    raise AssertionError(f"column {name} missing: {payload['columns']}")


def test_product_loop_end_to_end(spark, tmp_path):
    data_dir = str(tmp_path / "data")
    wal_dir = str(tmp_path / "wal")
    cat = Catalog(str(tmp_path / "md.db"))

    def new_app():
        return make_app(spark, data_dir, wal_dir=wal_dir, catalog=cat,
                        token_key="e2e-key", session_store=True)

    app = new_app()

    # ---- signup: first account bootstraps as root admin
    st, admin = call(app, "POST", "/api/v1/auth/signup",
                     {"email": "founder@shop.io", "password": "pw-founder-1"})
    assert st == 200
    st, analyst = call(app, "POST", "/api/v1/auth/signup",
                       {"email": "analyst@shop.io", "password": "pw-analyst-1"})
    assert st == 200
    atok, ntok = admin["accessToken"], analyst["accessToken"]

    # ---- project: created by the admin, carries a generated sdk token
    st, proj = _authed(app, atok, "POST", "/api/v1/projects",
                       {"name": "shop"})
    assert st == 201 and len(proj["token"]) == 64
    pid, sdk = proj["id"], proj["token"]

    # ---- RBAC: the analyst can't explore yet; a reader grant fixes it
    seg_body = {
        "time": T_MARCH, "group": "user", "intervalUnit": "day",
        "breakdowns": [{"type": "property", "propertyType": "event",
                        "propertyName": "event_type"}],
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    st, _ = _authed(app, ntok, "POST",
                    f"/api/v1/projects/{pid}/queries/event-segmentation",
                    seg_body)
    assert st == 403
    st, accounts = _authed(app, atok, "GET", "/api/v1/accounts")
    aid = {a["email"]: a["id"] for a in accounts}["analyst@shop.io"]
    st, _ = _authed(app, atok, "PUT", f"/api/v1/accounts/{aid}",
                    {"projects": [[pid, "reader"]]})
    assert st == 200

    # ---- schema: a catalog property the queries will resolve
    st, prop = _authed(app, atok, "POST",
                       f"/api/v1/projects/{pid}/schema/event-properties",
                       {"name": "plan", "dataType": "string"})
    assert st == 201

    # ---- track through the WAL with the project's sdk token; u1's
    # second visit is >30 min after the first -> two sessions
    def track(uid, ev, ts, props=None):
        st, _ = call(app, "POST", f"/api/v1/ingest/{sdk}/track",
                     {"userId": uid, "event": ev, "timestamp": ts,
                      "properties": props or {}})
        assert st == 201

    track("101", "view", "2024-03-05T10:00:00Z")
    track("101", "purchase", "2024-03-05T10:05:00Z", {"plan": "pro"})
    track("102", "view", "2024-03-05T10:01:00Z")
    track("101", "view", "2024-03-05T12:00:00Z")  # new session
    track("102", "purchase", "2024-03-06T09:00:00Z", {"plan": "free"})

    # session store injected Session Begin rows synchronously
    begins = [r for r in app.tracked if r["event_type"] == "Session Begin"]
    assert len(begins) == 4  # u1 x2 sessions, u2 x2 (gap spans a day)

    # ---- crash + replay: a fresh process over the same WAL sees the
    # identical buffer and live-session state
    before = list(app.tracked)
    app = new_app()
    assert app.tracked == before

    # ---- sweep: idle sessions end, emitting Session End rows that
    # carry the sdk token (project-scoped keying). The store keeps ONE
    # current-session record per (project, user) — a session
    # superseded by the user's next Begin expires silently, as in the
    # reference — so the sweep ends one live session per user: 2.
    ended = app.sweep_sessions(
        now_us=int(dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc)
                   .timestamp() * 1e6))
    assert ended == 2
    assert {r["token"] for r in app.tracked
            if r["event_type"] == "Session End"} == {sdk}

    # ---- durable flush: two-phase checkpoint into the events table
    from optiprism_spark.ingest import tracked_to_events

    snap_t, _snap_i = app.begin_checkpoint()
    events_df = tracked_to_events(
        spark.createDataFrame(snap_t, app.tracked_df(enrich=False).schema))
    events_df.write.mode("overwrite").parquet(f"{data_dir}/events.parquet")
    app.commit_checkpoint()
    assert app.tracked == []  # buffers drained, WAL rewritten

    # ---- queries through the JSON API (as the granted analyst),
    # asserted against the engine run directly
    st, seg = _authed(app, ntok, "POST",
                      f"/api/v1/projects/{pid}/queries/event-segmentation",
                      seg_body)
    assert st == 200
    from optiprism_spark.api import parse_event_segmentation
    from optiprism_spark.queries.event_segmentation import run_event_segmentation
    from optiprism_spark.schema import load_table

    direct = run_event_segmentation(
        load_table(spark, data_dir, "events"),
        parse_event_segmentation(seg_body),
    )
    api_rows = set(zip(_col(seg, "bucket"), _col(seg, "event_type"),
                       _col(seg, "0_0_count_events")))
    direct_rows = {(str(r[0]), r[1], r[2]) for r in direct.collect()}
    assert {(b, e, int(n)) for b, e, n in api_rows} == \
        {(str(b)[:10], e, int(n)) for b, e, n in direct_rows}
    # the tracked rows really are what the API counts: 2 purchases
    by_type = {}
    for e, n in zip(_col(seg, "event_type"), _col(seg, "0_0_count_events")):
        by_type[e] = by_type.get(e, 0) + int(n)
    assert by_type["purchase"] == 2 and by_type["view"] == 3
    # every session now gets its End: 2 from the sweeper, 2 emitted at
    # displacement time (a later track starting a new session used to
    # silently drop the old session's End if no sweep ran in between)
    assert by_type["Session Begin"] == 4 and by_type["Session End"] == 4

    # property filter through catalog resolution: only the pro plan
    filt = dict(seg_body)
    filt["events"] = [{
        "eventName": "purchase", "eventType": "regular",
        "queries": [{"type": "countEvents"}],
        "filters": [{"propertyName": "plan", "propertyType": "event",
                     "operation": "eq", "value": ["pro"]}],
    }]
    st, seg_pro = _authed(app, ntok, "POST",
                          f"/api/v1/projects/{pid}/queries/event-segmentation",
                          filt)
    assert st == 200
    assert sum(map(int, _col(seg_pro, "0_0_count_events"))) == 1

    # funnel: both users complete view -> purchase
    fun_body = {
        "time": T_MARCH, "group": "user",
        "steps": [
            {"events": [{"eventName": "view", "eventType": "regular"}]},
            {"events": [{"eventName": "purchase", "eventType": "regular"}]},
        ],
        "timeWindow": {"n": 7, "unit": "day"},
        "count": "unique",
    }
    st, fun = _authed(app, ntok, "POST",
                      f"/api/v1/projects/{pid}/queries/funnel", fun_body)
    assert st == 200

    # ---- compaction: fold the flushed batch into the bucketed table
    # and check the shuffle-free funnel sees the same conversions
    from optiprism_spark.api import parse_funnel
    from optiprism_spark.ingest import (
        TieredCompactionPolicy,
        write_events_bucketed,
    )
    from optiprism_spark.operators.funnel import funnel_attempts
    from optiprism_spark.streaming.sessionize import append_events

    from .conftest import drop_table_clean

    tbl = "events_e2e_bucketed"
    drop_table_clean(spark, tbl)
    try:
        events = load_table(spark, data_dir, "events")
        write_events_bucketed(events.limit(0), tbl, n_buckets=4)
        appends = str(tmp_path / "appends")
        append_events(events, appends)
        pol = TieredCompactionPolicy(l0_max_parts=1, l1_max_tiers=1)
        folded = pol.maybe_compact(spark, tbl, appends,
                                   str(tmp_path / "tiers"))
        assert folded == {"minor_rows": events.count(),
                          "major_rows": events.count()}
        req = parse_funnel(fun_body)
        fast = funnel_attempts(spark.table(tbl), req, assume_partitioned=True)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        completed = {r.user_id for r in fast.collect() if r.is_completed}
        assert completed == {101, 102}
        # both users show as converted in the API payload too
        totals = _col(fun, "total")
        assert totals and totals[0] == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
