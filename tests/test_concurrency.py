"""Concurrent query serving: FAIR pool tagging, the threaded HTTP
server, and result correctness under simultaneous mixed load (the
full latency harness is concur_check.py; this pins the mechanics)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from optiprism_spark.server import make_app, make_threaded_server

SF_DIR = "/root/testdata/sf0.001"

T_JAN = {"type": "between", "from": "2024-01-01T00:00:00",
         "to": "2024-01-31T23:59:59"}

SEG_BODY = {
    "time": T_JAN, "group": "user", "intervalUnit": "day",
    "chartType": "line",
    "events": [{
        "eventName": None, "eventType": "regular",
        "queries": [{"type": "countEvents"}],
    }],
}
FUNNEL_BODY = {
    "time": T_JAN, "group": "user", "intervalUnit": "day",
    "timeWindow": {"n": 7, "unit": "day"},
    "count": "unique", "touch": {"type": "first"},
    "steps": [
        {"events": [{"eventName": "view", "eventType": "regular"}]},
        {"events": [{"eventName": "purchase", "eventType": "regular"}]},
    ],
}


@pytest.fixture(scope="module")
def server(spark):
    app = make_app(spark, SF_DIR)
    srv = make_threaded_server(app)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, path, body):
    req = urllib.request.Request(
        base + path, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_concurrent_mixed_queries_all_correct(server):
    """8 simultaneous requests (funnels + segmentations) through the
    threaded server: every response 200 and identical to the serial
    answer — shared SparkSession + per-thread FAIR pools must not
    leak state across requests."""
    seg_path = "/api/v1/projects/1/queries/event-segmentation"
    fun_path = "/api/v1/projects/1/queries/funnel"
    _, seg_want = _post(server, seg_path, SEG_BODY)
    _, fun_want = _post(server, fun_path, FUNNEL_BODY)

    results: list = [None] * 8
    barrier = threading.Barrier(8)

    def worker(i):
        path, body = (seg_path, SEG_BODY) if i % 2 == 0 else (fun_path, FUNNEL_BODY)
        barrier.wait()
        results[i] = _post(server, path, body)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for i, (status, payload) in enumerate(results):
        assert status == 200, i
        assert payload == (seg_want if i % 2 == 0 else fun_want), i


def test_fair_pools_configured(spark, server):
    """The session runs the FAIR scheduler and the dispatch tags query
    jobs with a per-type pool; the pool local property is cleared
    after each request (no leak into unrelated jobs on that thread)."""
    assert spark.conf.get("spark.scheduler.mode") == "FAIR"
    _post(server, "/api/v1/projects/1/queries/event-segmentation", SEG_BODY)
    # this test's own thread never set a pool
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_accept_backlog_sized_for_bursts(server):
    """A 24-connection burst must not hit the stdlib backlog-of-5 SYN
    drop (which shows up as a ~1s retransmit stall)."""
    import time

    lat: list = [None] * 24
    barrier = threading.Barrier(24)

    def worker(i):
        barrier.wait()
        t0 = time.perf_counter()
        _post(server, "/api/v1/projects/1/queries/event-segmentation", SEG_BODY)
        lat[i] = time.perf_counter() - t0

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(24)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # with backlog=5 several of these land >1s from SYN retransmit
    # alone; generous bound so slow CI hosts don't flake
    assert all(x is not None for x in lat)
    slow = [x for x in lat if x > 5.0]
    assert not slow, f"{len(slow)} requests stalled: {sorted(lat)[-3:]}"


def test_result_cache_never_serves_pre_maintenance_data(spark, tmp_path):
    """Fuzz the result-cache version seam (r7 bug: the rollup
    maintenance hook advanced stores without bumping _data_version,
    so the TTL cache replayed pre-maintenance responses): 4 query
    threads hammer one routed request while a maintenance thread
    applies epochs of 10 March purchases each; every response must
    reflect AT LEAST the epochs completed before its request started
    — a cached replay of an older epoch is exactly the bug."""
    from pyspark.sql import functions as F

    from optiprism_spark.schema import load_table
    from optiprism_spark.server import make_app

    from .test_server import call

    base = load_table(spark, SF_DIR, "events")
    proto = base.filter(F.col("event_type") == "purchase").limit(10).cache()
    proto.count()

    app = make_app(spark, SF_DIR, rollup_dir=str(tmp_path / "rollups"))
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "fuzz", "dims": ["event_type"]})
    assert st == 201

    body = {
        "time": {"type": "between", "from": "2024-03-01T00:00:00",
                 "to": "2024-03-31T23:59:59.999999"},
        "intervalUnit": "month",
        "events": [{"eventName": "purchase", "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    url = "/api/v1/projects/1/queries/event-segmentation"

    EPOCHS = 4
    done = [0]          # epochs fully applied (store advanced + version bumped)
    errors: list = []
    stop = threading.Event()

    def total_purchases(resp) -> int:
        metrics = [c for c in resp["columns"]
                   if c["name"] not in ("bucket", "event", "segment")]
        return int(sum(metrics[0]["data"])) if metrics else 0

    def querier():
        while not stop.is_set():
            e = done[0]  # read BEFORE the request fires
            try:
                st_, resp = call(app, "POST", url, body)
                assert st_ == 200
                got = total_purchases(resp)
                if got < 10 * e:
                    errors.append(
                        f"stale response: saw {got} purchases after "
                        f"{e} completed epochs (expected >= {10 * e})")
            except Exception as exc:  # pragma: no cover - surfaced below
                errors.append(repr(exc))

    def maintainer():
        for e in range(1, EPOCHS + 1):
            batch = proto.withColumn(
                "ts", F.lit(f"2024-03-0{e} 12:00:00").cast("timestamp"))
            try:
                assert app.maintain(batch, pid=1)["rollup_stores"] == 1
            except Exception as exc:  # pragma: no cover
                errors.append(repr(exc))
                break
            done[0] = e

    qs = [threading.Thread(target=querier) for _ in range(4)]
    m = threading.Thread(target=maintainer)
    for t in qs:
        t.start()
    m.start()
    m.join()
    # let the queriers observe the final epoch at least once more
    import time

    time.sleep(0.5)
    stop.set()
    for t in qs:
        t.join()
    proto.unpersist()
    assert not errors, errors[:5]
    # the final state is fully visible
    st_, resp = call(app, "POST", url, body)
    assert total_purchases(resp) == 10 * EPOCHS


def test_result_cache_put_uses_pre_execution_version_snapshot(spark):
    """A write that lands WHILE a query executes must invalidate the
    entry that query caches: the dispatch site snapshots
    _data_version before invoking the handler and puts under that
    snapshot — putting under the post-bump current version would
    bless a pre-bump result for the new version and replay stale data
    for the TTL window (the same staleness class as the r7 rollup
    maintenance bug, reached through the request/write race)."""
    from optiprism_spark import metrics

    app = make_app(spark, SF_DIR)
    url = "/api/v1/projects/1/queries/event-segmentation"

    bumped = [0]
    for i, (m, pat, h, perm) in enumerate(app._routes):
        if m == "POST" and getattr(h, "_query_type", None) and pat.match(url):
            def wrapped(body_, md, qs, _h=h):
                out = _h(body_, md, qs)
                if not bumped[0]:
                    app._data_version += 1  # simulated concurrent write
                    bumped[0] = 1
                return out

            wrapped._query_type = h._query_type
            app._routes[i] = (m, pat, wrapped, perm)
            break
    else:
        pytest.fail(f"no query route matched {url}")

    from .test_server import call

    hits = metrics.query_result_cache_total()
    qt = "event_segmentation"
    h0 = hits.value(query_type=qt, outcome="hit")

    st, r1 = call(app, "POST", url, SEG_BODY)
    assert st == 200 and bumped[0] == 1
    # identical request after the bump: the r1 entry must be invalid
    st, r2 = call(app, "POST", url, SEG_BODY)
    assert st == 200 and r2 == r1
    assert hits.value(query_type=qt, outcome="hit") == h0, (
        "stale pre-bump result served from cache")
    # r2 cached under the (now-stable) version: third request hits
    st, r3 = call(app, "POST", url, SEG_BODY)
    assert st == 200 and r3 == r1
    assert hits.value(query_type=qt, outcome="hit") == h0 + 1
