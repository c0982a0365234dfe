"""Ops-metrics plane: the process-global registry and the /metrics
route, carrying the reference's series names (common/src/types.rs:
86-121) incremented from the server's query/track/backup paths and
the ingest compaction job."""

from __future__ import annotations

import pytest

from optiprism_spark import metrics
from optiprism_spark.server import make_app

from .test_server import call

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def fresh_registry():
    metrics.REGISTRY.reset()
    yield
    metrics.REGISTRY.reset()


# ----------------------------------------------------- primitives

def test_counter_and_labels():
    c = metrics.REGISTRY.counter("t_total", "h", ("k",))
    c.inc(k="a")
    c.inc(2, k="a")
    c.inc(k="b")
    assert c.value(k="a") == 3 and c.value(k="b") == 1
    with pytest.raises(ValueError):
        c.inc(-1, k="a")
    with pytest.raises(ValueError):
        c.inc(wrong="a")
    # same name re-registered with different labels is an error
    with pytest.raises(ValueError):
        metrics.REGISTRY.counter("t_total", "h", ())


def test_histogram_exposition_format():
    h = metrics.REGISTRY.histogram("t_seconds", "h", buckets=(0.1, 1.0))
    h.observe(0.05)
    h.observe(0.5)
    h.observe(5.0)
    text = metrics.REGISTRY.render()
    assert '# TYPE t_seconds histogram' in text
    assert 't_seconds_bucket{le="0.1"} 1' in text
    assert 't_seconds_bucket{le="1"} 2' in text
    assert 't_seconds_bucket{le="+Inf"} 3' in text
    assert 't_seconds_count 3' in text
    assert 't_seconds_sum 5.55' in text


# ------------------------------------------------- the /metrics route

def test_metrics_route_reflects_track_and_query(spark):
    app = make_app(spark, SF_DIR)

    def scrape():
        st, _, text = call(app, "GET", "/metrics", raw=True)
        assert st == 200
        return text

    # nothing yet: names appear only once incremented (prometheus
    # convention — unobserved series are absent, not zero)
    base = scrape()
    assert "optiprism_ingester_tracked_total 1" not in base

    st, _ = call(app, "POST", "/api/v1/ingest/tok/track",
                 {"userId": "u1", "event": "view",
                  "timestamp": "2024-03-01T10:00:00Z"})
    assert st == 201
    st, _ = call(app, "POST", "/api/v1/projects/1/queries/event-segmentation",
                 {"time": {"type": "between", "from": "2024-01-01T00:00:00",
                           "to": "2024-01-31T23:59:59"},
                  "group": "user", "intervalUnit": "day",
                  "events": [{"eventName": None, "eventType": "regular",
                              "queries": [{"type": "countEvents"}]}]})
    assert st == 200

    text = scrape()
    assert "optiprism_ingester_tracked_total 1" in text
    assert 'optiprism_query_queries_total{query_type="event_segmentation"} 1' in text
    assert 'optiprism_query_execution_time_seconds_count{query_type="event_segmentation"} 1' in text
    assert 'optiprism_http_requests_total{method="POST",status="201"} 1' in text
    assert 'optiprism_store_scans_total{table="events"}' in text
    assert "optiprism_store_memtable_rows 1" in text

    # a second track increments, not resets
    call(app, "POST", "/api/v1/ingest/tok/track",
         {"userId": "u2", "event": "view",
          "timestamp": "2024-03-01T10:00:00Z"})
    assert "optiprism_ingester_tracked_total 2" in scrape()


def test_metrics_route_is_outside_auth(spark):
    app = make_app(spark, SF_DIR, token_key="k")
    st, _, text = call(app, "GET", "/metrics", raw=True)
    assert st == 200  # no bearer needed; scrape perimeter-controlled


def _scraped(text: str, name: str) -> float:
    (line,) = [ln for ln in text.splitlines() if ln.startswith(name + " ")]
    return float(line.split()[1])


def test_codegen_series_track_the_jvm(spark):
    """/metrics exports Spark's generated-class compile count and
    compile time, read from the JVM at scrape time: a new plan shape
    moves both, and the count equals CodegenMetrics' own."""
    import time

    app = make_app(spark, SF_DIR)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    st, _, text = call(app, "GET", "/metrics", raw=True)
    assert st == 200
    assert "# TYPE optiprism_codegen_compiles_total counter" in text
    n0 = _scraped(text, "optiprism_codegen_compiles_total")
    s0 = _scraped(text, "optiprism_codegen_compile_seconds")
    assert n0 == codegen.METRIC_COMPILATION_TIME().getCount()
    assert n0 > 0 and s0 > 0  # the session already ran queries

    # a literal no earlier plan carried forces a fresh class
    lit = time.time_ns() % 1_000_000_007
    spark.range(4).selectExpr(f"id * {lit} + 1 AS x").collect()
    st, _, text = call(app, "GET", "/metrics", raw=True)
    n1 = _scraped(text, "optiprism_codegen_compiles_total")
    assert n1 > n0 and n1 == codegen.METRIC_COMPILATION_TIME().getCount()
    assert _scraped(text, "optiprism_codegen_compile_seconds") > s0


def test_flush_and_recovery_series(spark, tmp_path):
    wal_dir = str(tmp_path / "wal")
    app = make_app(spark, SF_DIR, wal_dir=wal_dir)
    assert metrics.store_recovery_time().count() == 1
    call(app, "POST", "/api/v1/ingest/tok/track",
         {"userId": "u1", "event": "view",
          "timestamp": "2024-03-01T10:00:00Z"})
    app.begin_checkpoint()
    app.commit_checkpoint()
    text = metrics.REGISTRY.render()
    assert "optiprism_store_flushes_total 1" in text
    assert "optiprism_store_memtable_rows 0" in text


def test_compaction_series(spark, tmp_path):
    from optiprism_spark.ingest import (
        compact_appends_into_bucketed,
        write_events_bucketed,
    )
    from optiprism_spark.schema import load_table
    from optiprism_spark.streaming.sessionize import append_events

    events = load_table(spark, SF_DIR, "events").limit(200).cache()
    from .conftest import drop_table_clean

    tbl = "t_metrics_compact"
    drop_table_clean(spark, tbl)
    write_events_bucketed(events, tbl, n_buckets=4)
    appends = str(tmp_path / "appends")
    append_events(events.limit(50), appends)
    assert "optiprism_store_inserts_total 1" in metrics.REGISTRY.render()
    n = compact_appends_into_bucketed(spark, tbl, appends,
                                      str(tmp_path / "tiers"))
    assert n == 50
    text = metrics.REGISTRY.render()
    assert "optiprism_store_compactions_total 1" in text
    assert "optiprism_store_compaction_time_seconds_count 1" in text
    events.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_rollup_routing_metric(spark):
    """Routing decisions increment the path-labeled counter."""
    import datetime as dtm

    from optiprism_spark import metrics
    from optiprism_spark.dsl import (
        EventQuery, EventRef, EventSegmentationRequest, QueryTime,
        SegQuery, TimeIntervalUnit,
    )
    from optiprism_spark.queries.event_segmentation import run_event_segmentation
    from optiprism_spark.rollup import RollupSpec, build_rollup
    from optiprism_spark.schema import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    roll = (build_rollup(events), RollupSpec())
    t = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59, 999999))

    def snapshot():
        c = metrics.query_rollup_routed_total()
        return {k: v for k, v in getattr(c, "_values", {}).items()}

    before = metrics.REGISTRY.render()
    run_event_segmentation(
        events,
        EventSegmentationRequest(
            time=t, interval=TimeIntervalUnit.DAY,
            events=[EventQuery(EventRef(), [SegQuery("count_events", alias="n")])]),
        rollup=roll,
    )
    run_event_segmentation(
        events,
        EventSegmentationRequest(
            time=t, interval=TimeIntervalUnit.HOUR,  # sub-day: falls back
            events=[EventQuery(EventRef(), [SegQuery("count_events", alias="n")])]),
        rollup=roll,
    )
    after = metrics.REGISTRY.render()
    assert 'optiprism_query_rollup_routed_total{path="rollup"}' in after
    assert 'optiprism_query_rollup_routed_total{path="raw"}' in after


def test_whale_guard_knobs_reach_plan_and_metrics(spark):
    """The HTTP DSL knobs (attribution maxTouchesPerUser, paths
    maxRowsPerUser) must produce the CAPPED plan — proven by the
    guard's observe() metrics existing for the request — and the
    harvested counters must land in /metrics as
    optiprism_whale_guard_* labeled by guard name."""
    app = make_app(spark, SF_DIR)
    t = {"type": "between", "from": "2024-01-01T00:00:00",
         "to": "2024-01-31T23:59:59"}

    st, _ = call(app, "POST", "/api/v1/projects/1/queries/attribution", {
        "time": t,
        "touchEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "channelProperty": {"propertyName": "event_type",
                            "propertyType": "column"},
        "model": "last_touch",
        "lookbackDays": 30,
        "maxTouchesPerUser": 1,  # cap below real activity so it fires
    })
    assert st == 200
    assert metrics.whale_guard_keys_capped().value(guard="attr_touch_cap") > 0
    assert metrics.whale_guard_max_key_rows().value(guard="attr_touch_cap") > 1

    st, _ = call(app, "POST", "/api/v1/projects/1/queries/paths", {
        "time": t,
        "anchorEvent": {"eventName": "signup", "eventType": "regular"},
        "steps": 3,
        "maxRowsPerUser": 2,
    })
    assert st == 200
    assert metrics.whale_guard_keys_capped().value(guard="path_cap") > 0

    text = call(app, "GET", "/metrics", raw=True)[-1]
    assert 'optiprism_whale_guard_keys_capped_total{guard="attr_touch_cap"}' in text
    assert 'optiprism_whale_guard_keys_capped_total{guard="path_cap"}' in text
    assert 'optiprism_whale_guard_max_key_rows{guard="attr_touch_cap"}' in text


def test_whale_guard_metrics_absent_without_knob(spark):
    """No knob, no guard: the same requests without the cap must not
    create whale-guard series (the guard is OFF by default)."""
    app = make_app(spark, SF_DIR)
    t = {"type": "between", "from": "2024-01-01T00:00:00",
         "to": "2024-01-31T23:59:59"}
    st, _ = call(app, "POST", "/api/v1/projects/1/queries/attribution", {
        "time": t,
        "touchEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "channelProperty": {"propertyName": "event_type",
                            "propertyType": "column"},
    })
    assert st == 200
    assert metrics.whale_guard_keys_capped().value(guard="attr_touch_cap") == 0
