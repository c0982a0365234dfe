"""End-to-end tests for the WSGI HTTP facade (server.py).

Each test POSTs a reference-shaped JSON body through a real WSGI
invocation (environ + start_response, no socket) and checks the
columnar response against the directly-executed runner — the facade
must be a pure transport around the already-oracle-checked engine.
"""

from __future__ import annotations

import io
import json

import pytest

from optiprism_spark.server import make_app

SF_DIR = "/root/testdata/sf0.001"

T_JAN = {"type": "between", "from": "2024-01-01T00:00:00",
         "to": "2024-01-31T23:59:59"}


def call(app, method, path, body=None, query="", raw=False):
    """Drive the WSGI app; ``raw=True`` additionally returns the
    un-decoded body text (non-JSON routes like /metrics)."""
    payload_b = b"" if body is None else json.dumps(body).encode()
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(payload_b)),
        "wsgi.input": io.BytesIO(payload_b),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = int(status.split()[0])
        captured["headers"] = dict(headers)

    chunks = b"".join(app(environ, start_response))
    if raw:
        return captured["status"], captured["headers"], chunks.decode()
    payload = json.loads(chunks) if chunks else None
    return captured["status"], payload


@pytest.fixture(scope="module")
def app(spark):
    return make_app(spark, SF_DIR)


def _col(payload, name):
    for c in payload["columns"]:
        if c["name"] == name:
            return c
    raise AssertionError(f"column {name} missing from {payload['columns']}")


def test_event_segmentation_roundtrip(app, spark):
    body = {
        "time": T_JAN,
        "group": "user",
        "intervalUnit": "day",
        "chartType": "line",
        "events": [{
            "eventName": None, "eventType": "regular",
            "queries": [{"type": "countEvents"}],
        }],
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/event-segmentation", body
    )
    assert status == 200
    # compare against the directly-run engine result
    from optiprism_spark.api import parse_event_segmentation
    from optiprism_spark.queries.event_segmentation import run_event_segmentation
    from optiprism_spark.schema import load_table

    direct = run_event_segmentation(
        load_table(spark, SF_DIR, "events"), parse_event_segmentation(body)
    ).collect()
    names = [c["name"] for c in payload["columns"]]
    assert len(_col(payload, names[0])["data"]) == len(direct)


def test_funnel_roundtrip(app):
    body = {
        "time": T_JAN,
        "group": "user",
        "steps": [
            {"events": [{"eventName": "signup", "eventType": "regular"}]},
            {"events": [{"eventName": "purchase", "eventType": "regular"}]},
        ],
        "timeWindow": {"n": 7, "unit": "day"},
        "count": "unique",
    }
    status, payload = call(app, "POST", "/api/v1/projects/1/queries/funnel", body)
    assert status == 200
    assert payload["columns"], "funnel response has columns"
    # jsonCompact variant: same data, positional
    status2, compact = call(
        app, "POST", "/api/v1/projects/1/queries/funnel", body,
        query="format=jsonCompact",
    )
    assert status2 == 200
    assert compact == [c["data"] for c in payload["columns"]]


def test_funnel_max_rows_per_user_guard(app, spark):
    """maxRowsPerUser on /queries/funnel: absent, the answer is the
    exact funnel; a cap of 1 row per user leaves no user a second step
    to convert on; anything but a positive integer is a 400, on the
    funnel and the paths route alike."""
    from optiprism_spark.api import parse_funnel
    from optiprism_spark.operators.funnel import funnel_report
    from optiprism_spark.schema import load_table

    body = {
        "time": T_JAN,
        "group": "user",
        "steps": [
            {"events": [{"eventName": "view", "eventType": "regular"}]},
            {"events": [{"eventName": "click", "eventType": "regular"}]},
        ],
        "timeWindow": {"n": 7, "unit": "day"},
        "count": "unique",
    }
    url = "/api/v1/projects/1/queries/funnel"

    def converted(payload):
        return sum(_col(payload, "step1_total")["data"])

    status, exact = call(app, "POST", url, body)
    assert status == 200
    direct = funnel_report(load_table(spark, SF_DIR, "events"),
                           parse_funnel(body)).collect()
    assert converted(exact) == sum(r["step1_total"] for r in direct) > 0

    status, capped = call(app, "POST", url, dict(body, maxRowsPerUser=1))
    assert status == 200
    assert converted(capped) == 0
    assert sum(_col(capped, "step0_total")["data"]) > 0

    # /queries/paths parses the field with the same helper
    paths = ("/api/v1/projects/1/queries/paths", {
        "time": T_JAN,
        "anchorEvent": {"eventName": "signup", "eventType": "regular"},
    })
    for bad_url, bad_body in ((url, body), paths):
        for bad in (0, -3, 2.5, "5", True):
            status, err = call(app, "POST", bad_url,
                               dict(bad_body, maxRowsPerUser=bad))
            assert status == 400, (bad_url, bad)
            assert "maxRowsPerUser" in err["error"]


def test_event_records_search_and_get(app):
    body = {
        "time": T_JAN,
        "events": [{"eventName": "purchase", "eventType": "regular"}],
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/event-records/search", body
    )
    assert status == 200
    ids = _col(payload, "event_id")["data"]
    assert 0 < len(ids) <= 100
    assert set(_col(payload, "event_type")["data"]) == {"purchase"}
    # point lookup of one returned id
    status, one = call(app, "GET", f"/api/v1/projects/1/event-records/{ids[0]}")
    assert status == 200
    assert _col(one, "event_id")["data"] == [ids[0]]


def test_group_records_search_and_get(app):
    status, payload = call(
        app, "POST", "/api/v1/projects/1/group-records/search",
        {"group": "user", "sort": {"propertyName": "value", "direction": "desc"}},
    )
    assert status == 200
    uids = _col(payload, "user_id")["data"]
    assert 0 < len(uids) <= 100
    # profiles are deduped: one row per user
    assert len(uids) == len(set(uids))
    status, one = call(
        app, "GET", f"/api/v1/projects/1/group-records/user/{uids[0]}"
    )
    assert status == 200
    assert _col(one, "user_id")["data"] == [uids[0]]


def test_property_values(app):
    status, payload = call(
        app, "POST", "/api/v1/projects/1/property-values",
        {"propertyName": "event_type"},
    )
    assert status == 200
    vals = _col(payload, "value")["data"]
    assert vals == sorted(vals) and len(vals) >= 2


def test_track_identify_and_drain(app):
    track = {
        "userId": "u-1",
        "event": "Buy Product",
        "timestamp": "2024-02-01T10:00:00Z",
        "properties": {"revenue": 5.5},
        "context": {
            "userAgent": "Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                         "AppleWebKit/537.36 (KHTML, like Gecko) "
                         "Chrome/120.0.0.0 Safari/537.36",
            "ip": "8.8.8.8",
            "page": {"path": "/checkout"},
            "campaign": {"source": "newsletter"},
        },
    }
    status, _ = call(app, "POST", "/api/v1/ingest/tok123/track", track)
    assert status == 201
    status, _ = call(
        app, "POST", "/api/v1/ingest/tok123/identify",
        {"group": "user", "id": "u-1", "context": {},
         "properties": {"plan": "pro"}},
    )
    assert status == 201

    df = app.tracked_df()
    row = df.collect()[0]
    assert row["event_type"] == "Buy Product"
    assert row["browser"] == "Chrome"
    assert row["country"] is not None  # GeoIP range join resolved 8.8.8.8
    assert json.loads(row["props"]) == {"revenue": 5.5}

    prof = app.identified_df().collect()[0]
    assert prof["group"] == "user" and prof["id"] == "u-1"


def test_errors(app):
    status, payload = call(app, "POST", "/api/v1/projects/1/queries/nope", {})
    assert status == 404
    status, payload = call(
        app, "GET", "/api/v1/projects/1/queries/funnel"
    )
    assert status == 405
    # malformed body → 400, not a 500
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/funnel", {"time": T_JAN}
    )
    assert status == 400 and "error" in payload
    status, payload = call(app, "POST", "/api/v1/ingest/tok/track", {"noevent": 1})
    assert status == 400


def test_response_column_typing(app):
    """Columns carry the reference's dimension/metric tag
    (ColumnarDataTable, query/src/lib.rs:360-373): bucket/breakdowns
    are dimensions, aggregate outputs metrics."""
    body = {
        "time": T_JAN, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "breakdowns": [{"type": "property", "propertyType": "event",
                        "propertyName": "event_type"}],
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/event-segmentation", body)
    assert status == 200
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["bucket"] == "dimension"
    assert types["event_type"] == "dimension"
    assert types["0_0_count_events"] == "metric"
    # records search (no dims hint): heuristic — numeric=metric, else dimension
    status, rec = call(app, "POST", "/api/v1/projects/1/event-records/search",
                       {"time": T_JAN, "events": []})
    assert status == 200
    rt = {c["name"]: c["type"] for c in rec["columns"]}
    assert rt["event_type"] == "dimension" and rt["event_id"] == "metric"


def test_retention_endpoint(app, spark):
    """POST /queries/retention matches the directly-run operator."""
    body = {
        "time": T_JAN,
        "intervalUnit": "week",
        "cohortEvent": {"eventName": "signup", "eventType": "regular"},
        "returnEvent": {"eventName": "purchase", "eventType": "regular"},
        "maxPeriods": 8,
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/retention", body)
    assert status == 200
    import datetime as dtm

    from optiprism_spark.dsl import EventRef, QueryTime, TimeIntervalUnit
    from optiprism_spark.operators.retention import retention
    from optiprism_spark.schema import load_table

    direct = retention(
        load_table(spark, SF_DIR, "events"),
        cohort_event=EventRef("signup"), return_event=EventRef("purchase"),
        time=QueryTime.between(dtm.datetime(2024, 1, 1),
                               dtm.datetime(2024, 1, 31, 23, 59, 59)),
        interval=TimeIntervalUnit.WEEK, max_periods=8,
    ).collect()
    want = sorted((str(r.cohort_bucket), r.period, r.cohort_size, r.retained)
                  for r in direct)
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    got = sorted(zip(cols["cohort_bucket"], cols["period"],
                     cols["cohort_size"], cols["retained"]))
    assert got == want
    # dimension tagging for the chart layer
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["cohort_bucket"] == "dimension" and types["period"] == "dimension"


def test_paths_endpoint(app, spark):
    """POST /queries/paths matches the directly-run operator, in both
    top-k and dropoff shapes."""
    body = {
        "time": T_JAN,
        "anchorEvent": {"eventName": "signup", "eventType": "regular"},
        "steps": 3,
        "topK": 10,
        "excludeEvents": ["error"],
    }
    status, payload = call(app, "POST", "/api/v1/projects/1/queries/paths", body)
    assert status == 200
    import datetime as dtm

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.paths import event_paths, path_dropoff
    from optiprism_spark.schema import load_table

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = event_paths(
        load_table(spark, SF_DIR, "events"), EventRef("signup"), W,
        steps=3, top_k=10, exclude_events=("error",),
    ).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(cols["path"], cols["n_starts"], cols["n_users"])) == sorted(
        (r.path, r.n_starts, r.n_users) for r in direct)
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["path"] == "dimension" and types["n_starts"] == "metric"

    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/paths",
        {**body, "dropoff": True, "withinSeconds": 3600})
    assert status == 200
    direct = path_dropoff(
        load_table(spark, SF_DIR, "events"), EventRef("signup"), W,
        steps=3, within=dtm.timedelta(hours=1), exclude_events=("error",),
    ).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(cols["step"], cols["next_event"], cols["n_starts"])) == sorted(
        (r.step, r.next_event, r.n_starts) for r in direct)


def test_event_segmentation_sampling_rate(app, spark):
    """samplingRate < 1 routes through estimation mode: identical to
    the directly-run sampled operator, and within sight of the exact
    answer (scaled)."""
    body = {
        "time": T_JAN,
        "intervalUnit": "month",
        "events": [{
            "eventName": None, "eventType": "regular",
            "queries": [{"type": "countEvents"}],
        }],
        "samplingRate": 0.25,
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/event-segmentation", body)
    assert status == 200
    from optiprism_spark.api import parse_event_segmentation
    from optiprism_spark.operators.estimate import estimated_event_segmentation
    from optiprism_spark.schema import load_table

    direct = estimated_event_segmentation(
        load_table(spark, SF_DIR, "events"),
        parse_event_segmentation(body), 0.25,
    ).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    metric = [n for n in cols if n not in ("bucket", "event", "segment")][0]
    assert sorted(cols[metric]) == sorted(float(r[metric]) for r in direct)
    # the estimate is a scaled double, not a raw sampled count
    exact_body = {k: v for k, v in body.items() if k != "samplingRate"}
    _, exact = call(
        app, "POST", "/api/v1/projects/1/queries/event-segmentation", exact_body)
    exact_cols = {c["name"]: c["data"] for c in exact["columns"]}
    est_total, exact_total = sum(cols[metric]), sum(exact_cols[metric])
    assert est_total == pytest.approx(exact_total, rel=0.5)


def test_retention_and_paths_sampling_rate(app, spark):
    """samplingRate on the retention and paths routes: scaled additive
    columns, ratio/path structure preserved."""
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/retention",
        {
            "time": T_JAN, "intervalUnit": "week",
            "cohortEvent": {"eventName": "signup", "eventType": "regular"},
            "returnEvent": {"eventName": "purchase", "eventType": "regular"},
            "maxPeriods": 8, "samplingRate": 0.125,
        })
    assert status == 200
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    # period-0 rows: retained == cohort_size and pct == 1.0 even scaled
    for p, size, ret, pct in zip(cols["period"], cols["cohort_size"],
                                 cols["retained"], cols["pct"]):
        if p == 0:
            assert ret == size and pct == 1.0
        assert ret == ret * 1.0 and isinstance(ret, float)

    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/paths",
        {
            "time": T_JAN, "steps": 3, "topK": 5, "samplingRate": 0.25,
            "anchorEvent": {"eventName": "signup", "eventType": "regular"},
        })
    assert status == 200
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert cols["path"] and all(p.startswith("signup") for p in cols["path"])
    import datetime as dtm

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.estimate import user_sample
    from optiprism_spark.operators.paths import event_paths
    from optiprism_spark.schema import load_table

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = event_paths(
        user_sample(load_table(spark, SF_DIR, "events"), 0.25),
        EventRef("signup"), W, steps=3, top_k=5).collect()
    assert sorted(zip(cols["path"], cols["n_starts"])) == sorted(
        (r.path, r.n_starts * 4.0) for r in direct)


def test_experiment_endpoint(app, spark):
    """POST /queries/experiment matches the directly-run operator.
    The control is picked from the data's actual first-exposure
    variants — an arbitrary value used to compare two vacuously-empty
    reports (the pre-guard behavior this fix exposed)."""
    import datetime as dtm

    from pyspark.sql import Window as Wn
    from pyspark.sql import functions as F

    from optiprism_spark.dsl import EventRef, PropertyRef, QueryTime
    from optiprism_spark.exprs import prop_col
    from optiprism_spark.operators.experiment import experiment_report
    from optiprism_spark.schema import load_table

    events = load_table(spark, SF_DIR, "events")
    first = (
        events.filter(F.col("event_type") == "view")
        .withColumn("__rn", F.row_number().over(
            Wn.partitionBy("user_id").orderBy("ts", "event_id")))
        .filter(F.col("__rn") == 1)
        .select(prop_col(PropertyRef.json("k", "int64")).alias("k"))
    )
    control = str(first.groupBy("k").count()
                  .orderBy(F.desc("count"), "k").first()["k"])

    body = {
        "time": T_JAN,
        "exposureEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "variantProperty": {"propertyName": "k", "dtype": "int64"},
        "control": control,
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/experiment", body)
    assert status == 200

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = experiment_report(
        events,
        variant_col=prop_col(PropertyRef.json("k", "int64")),
        exposure_event=EventRef("view"),
        conversion_event=EventRef("purchase"),
        time=W, control=control,
    ).collect()
    assert direct  # non-vacuous: the control arm exists
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    got = sorted(zip([str(v) for v in cols["variant"]],
                     cols["n_users"], cols["n_converted"]))
    want = sorted((str(r.variant), r.n_users, r.n_converted) for r in direct)
    assert got == want
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["variant"] == "dimension" and types["cvr"] == "metric"


def test_experiment_ci_endpoint(app, spark):
    """type: ci on /queries/experiment matches the directly-run
    Wilson-interval operator (no control needed) and keeps its
    bounds inside [0, 1]."""
    import datetime as dtm

    from optiprism_spark.dsl import EventRef, PropertyRef, QueryTime
    from optiprism_spark.exprs import prop_col
    from optiprism_spark.operators.experiment import conversion_wilson_ci
    from optiprism_spark.schema import load_table

    body = {
        "type": "ci",
        "time": T_JAN,
        "exposureEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "variantProperty": {"propertyName": "k", "dtype": "int64"},
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/experiment", body)
    assert status == 200
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert set(cols) >= {"variant", "n_users", "n_converted", "cvr",
                         "ci_low", "ci_high"}
    for lo, p, hi in zip(cols["ci_low"], cols["cvr"], cols["ci_high"]):
        assert 0.0 <= lo <= p <= hi <= 1.0

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = conversion_wilson_ci(
        load_table(spark, SF_DIR, "events"),
        variant_col=prop_col(PropertyRef.json("k", "int64")),
        exposure_event=EventRef("view"),
        conversion_event=EventRef("purchase"),
        time=W,
    ).collect()
    got = sorted(zip([str(v) for v in cols["variant"]],
                     cols["ci_low"], cols["ci_high"]))
    want = sorted((str(r.variant), r.ci_low, r.ci_high) for r in direct)
    assert got == want


def test_attribution_endpoint(app, spark):
    """POST /queries/attribution matches the directly-run operator."""
    body = {
        "time": T_JAN,
        "touchEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "channelProperty": {"propertyName": "event_type"},
        "model": "last_touch",
        "lookbackDays": 7,
    }
    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/attribution", body)
    assert status == 200
    import datetime as dtm

    from pyspark.sql import functions as F

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.attribution import attribution_report
    from optiprism_spark.schema import load_table

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = attribution_report(
        load_table(spark, SF_DIR, "events"),
        channel_col=F.col("event_type"),
        touch_event=EventRef("view"),
        conversion_event=EventRef("purchase"),
        time=W, model="last_touch", lookback=dtm.timedelta(days=7),
    ).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(cols["channel"], cols["n_conversions"])) == sorted(
        (r.channel, r.n_conversions) for r in direct)
    types = {c["name"]: c["type"] for c in payload["columns"]}
    assert types["channel"] == "dimension" and types["revenue"] == "metric"


def test_attribution_endpoint_fractional_models(app, spark):
    """time_decay (with halfLifeDays) and position route through and
    match the operator; an unknown model is a 400, not a 500."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.attribution import attribution_report
    from optiprism_spark.schema import load_table

    base = {
        "time": T_JAN,
        "touchEvent": {"eventName": "view", "eventType": "regular"},
        "conversionEvent": {"eventName": "purchase", "eventType": "regular"},
        "channelProperty": {"propertyName": "event_type"},
        "lookbackDays": 7,
    }
    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    for model, extra, kw in (
        ("time_decay", {"halfLifeDays": 2},
         {"half_life": dtm.timedelta(days=2)}),
        ("position", {}, {}),
    ):
        status, payload = call(
            app, "POST", "/api/v1/projects/1/queries/attribution",
            {**base, "model": model, **extra})
        assert status == 200
        direct = attribution_report(
            load_table(spark, SF_DIR, "events"),
            channel_col=F.col("event_type"),
            touch_event=EventRef("view"),
            conversion_event=EventRef("purchase"),
            time=W, model=model, lookback=dtm.timedelta(days=7), **kw,
        ).collect()
        cols = {c["name"]: c["data"] for c in payload["columns"]}
        assert sorted(zip(cols["channel"], cols["revenue"])) == sorted(
            (r.channel, r.revenue) for r in direct), model

    status, _ = call(app, "POST", "/api/v1/projects/1/queries/attribution",
                     {**base, "model": "u_shaped"})
    assert status == 400


def test_sampling_rate_validation(app):
    """samplingRate outside (0, 1] is a 400, not a silent exact-path
    fallback (review finding: 2.0 — a percent mistake — was ignored)."""
    body = {
        "time": T_JAN, "intervalUnit": "month",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    for bad in (2.0, 0.0, -0.5, "huh"):
        st, payload = call(
            app, "POST", "/api/v1/projects/1/queries/event-segmentation",
            {**body, "samplingRate": bad})
        assert st == 400, (bad, payload)
    st, _ = call(app, "POST", "/api/v1/projects/1/queries/event-segmentation",
                 {**body, "samplingRate": 1.0})
    assert st == 200


# ------------------------------------------------------- admission control


def test_admission_control_sheds_beyond_pool_cap(spark):
    """With a per-pool in-flight cap, the (cap+1)-th concurrent query
    of one type is shed with 429 + Retry-After and counted in
    optiprism_query_rejected_total{pool=}; a different pool and cache
    hits stay admitted; the slot frees on completion."""
    from optiprism_spark import metrics

    app = make_app(spark, SF_DIR, result_cache_ttl=None, admission_limit=1)
    body = {
        "time": T_JAN, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    path = "/api/v1/projects/1/queries/event-segmentation"
    # saturate the pool (deterministically — the gate reads this dict)
    app._admitted["event_segmentation"] = 1
    status, headers, raw = call(app, "POST", path, body, raw=True)
    assert status == 429, raw
    assert headers.get("Retry-After") == "1"
    assert json.loads(raw)["error"].startswith("query admission")
    assert ('optiprism_query_rejected_total{pool="q_event_segmentation"}'
            in metrics.REGISTRY.render())
    # a different pool is unaffected by this pool's saturation
    fbody = {
        "time": T_JAN, "group": "user",
        "steps": [
            {"events": [{"eventName": "signup", "eventType": "regular"}]},
            {"events": [{"eventName": "purchase", "eventType": "regular"}]},
        ],
        "timeWindow": {"n": 7, "unit": "day"},
    }
    fstatus, _ = call(app, "POST", "/api/v1/projects/1/queries/funnel", fbody)
    assert fstatus == 200
    # free the slot: admission succeeds and decrements back to zero
    app._admitted["event_segmentation"] = 0
    status2, _ = call(app, "POST", path, body)
    assert status2 == 200
    assert app._admitted["event_segmentation"] == 0


def test_admission_enabled_by_default(spark):
    """A default-config server ships with the per-pool caps ON
    (DEFAULT_ADMISSION_LIMITS sized off the FAIR tiers): beyond the
    interactive cap the request sheds with 429; heavy pools get the
    fallback cap; admission_limit=None is the explicit opt-out."""
    from optiprism_spark.server import DEFAULT_ADMISSION_LIMITS

    app = make_app(spark, SF_DIR, result_cache_ttl=None)
    assert app._admission_cap("event_segmentation") == \
        DEFAULT_ADMISSION_LIMITS["event_segmentation"] == 4
    assert app._admission_cap("funnel") == DEFAULT_ADMISSION_LIMITS["*"] == 2
    assert app._admission_cap(None) is None  # CRUD/ingest never shed
    body = {
        "time": T_JAN, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    path = "/api/v1/projects/1/queries/event-segmentation"
    app._admitted["event_segmentation"] = 10_000  # saturated pool
    status, _ = call(app, "POST", path, body)
    assert status == 429
    app._admitted["event_segmentation"] = 0
    status, _ = call(app, "POST", path, body)
    assert status == 200


def test_admission_opt_out_with_none(spark):
    app = make_app(spark, SF_DIR, result_cache_ttl=None,
                   admission_limit=None)
    body = {
        "time": T_JAN, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    app._admitted["event_segmentation"] = 10_000  # would shed if enabled
    status, _ = call(
        app, "POST", "/api/v1/projects/1/queries/event-segmentation", body)
    assert status == 200


def test_admission_slot_freed_when_setup_raises(spark):
    """ADVICE r10: anything that raises between the admission
    increment and the finally-decrement must not leak the slot — a
    leaked slot 429s the pool forever. Force the first thing inside
    the try (setLocalProperty) to raise and check the slot returns."""
    app = make_app(spark, SF_DIR, result_cache_ttl=None, admission_limit=1)
    body = {
        "time": T_JAN, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "events": [{"eventName": None, "eventType": "regular",
                    "queries": [{"type": "countEvents"}]}],
    }
    path = "/api/v1/projects/1/queries/event-segmentation"

    class _Boom(Exception):
        pass

    import unittest.mock as mock

    with mock.patch.object(
        type(app.spark.sparkContext), "setLocalProperty",
        side_effect=_Boom("boom"),
    ):
        with pytest.raises(_Boom):
            call(app, "POST", path, body)
    assert app._admitted.get("event_segmentation", 0) == 0
    status, _ = call(app, "POST", path, body)  # slot is free again
    assert status == 200


def test_growth_endpoint(app, spark):
    """POST /queries/growth matches the directly-run operator and
    rejects a bad period with 400."""
    import datetime as dtm

    from optiprism_spark.dsl import QueryTime, TimeIntervalUnit
    from optiprism_spark.operators.engagement import growth_accounting
    from optiprism_spark.schema import load_table

    status, payload = call(
        app, "POST", "/api/v1/projects/1/queries/growth",
        {"time": T_JAN, "period": "week"})
    assert status == 200
    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = growth_accounting(
        load_table(spark, SF_DIR, "events"), W,
        period=TimeIntervalUnit.WEEK).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(map(str, cols["bucket"]), cols["new_users"],
                      cols["churned_users"])) == sorted(
        (str(r.bucket), r.new_users, r.churned_users) for r in direct)

    status, _ = call(app, "POST", "/api/v1/projects/1/queries/growth",
                     {"time": T_JAN, "period": "hour"})
    assert status == 400


def test_rfm_endpoint(app, spark):
    """POST /queries/rfm: per-user frame and the grid variant match
    the operator; bad nTiles is a 400."""
    import datetime as dtm

    from optiprism_spark.dsl import QueryTime
    from optiprism_spark.operators.engagement import rfm_scores
    from optiprism_spark.schema import load_table

    status, payload = call(app, "POST", "/api/v1/projects/1/queries/rfm",
                           {"time": T_JAN})
    assert status == 200
    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    direct = rfm_scores(load_table(spark, SF_DIR, "events"), W).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(cols["user_id"], cols["r_score"], cols["f_score"],
                      cols["m_score"])) == sorted(
        (r.user_id, r.r_score, r.f_score, r.m_score) for r in direct)

    status, grid = call(app, "POST", "/api/v1/projects/1/queries/rfm",
                        {"time": T_JAN, "grid": True})
    assert status == 200
    gcols = {c["name"]: c["data"] for c in grid["columns"]}
    assert sum(gcols["n_users"]) == len(direct)

    status, _ = call(app, "POST", "/api/v1/projects/1/queries/rfm",
                     {"time": T_JAN, "nTiles": 1})
    assert status == 400


def test_experiment_srm_endpoint(spark):
    """type: srm on /queries/experiment matches the operator; a
    malformed allocation is a 400; a variant frame whose df falls
    outside the crit table is a loud 400, never a silently-False
    flag (r14 advice)."""
    import datetime as dtm

    from optiprism_spark.dsl import (EventFilterSpec, EventRef,
                                     QueryTime)
    from optiprism_spark.operators.experiment import srm_check
    from optiprism_spark.schema import load_table

    # two-armed via a custom exposure event (view|click) with the
    # event type as the variant — the single-variant shape the old
    # test used is now the df=0 error case below
    touch = {"touch": [
        {"eventName": "view", "eventType": "regular"},
        {"eventName": "click", "eventType": "regular"},
    ]}
    app2 = make_app(spark, SF_DIR, custom_events=touch)
    body = {
        "type": "srm", "time": T_JAN,
        "exposureEvent": {"eventName": "touch", "eventType": "custom"},
        "variantProperty": {"propertyName": "event_type"},
    }
    status, payload = call(
        app2, "POST", "/api/v1/projects/1/queries/experiment", body)
    assert status == 200
    from pyspark.sql import functions as F

    W = QueryTime.between(dtm.datetime(2024, 1, 1),
                          dtm.datetime(2024, 1, 31, 23, 59, 59))
    ref = EventRef(custom=[
        EventFilterSpec(EventRef("view")),
        EventFilterSpec(EventRef("click")),
    ])
    direct = srm_check(
        load_table(spark, SF_DIR, "events"), F.col("event_type"),
        ref, W).collect()
    cols = {c["name"]: c["data"] for c in payload["columns"]}
    assert sorted(zip(cols["variant"], cols["n_users"])) == sorted(
        (r.variant, r.n_users) for r in direct)

    status, _ = call(app2, "POST", "/api/v1/projects/1/queries/experiment",
                     {**body, "expected": {"view": "not-a-number"}})
    assert status == 400
    status, _ = call(app2, "POST", "/api/v1/projects/1/queries/experiment",
                     {**body, "expected": {"view": 0.4}})
    assert status == 400  # shares don't sum to 1

    # df outside the crit table: single observed variant (equal-split
    # df=0) surfaces the operator's runtime raise as a 400 with the
    # actionable message, not a 500 and not srm_flag=False
    status, payload = call(
        app2, "POST", "/api/v1/projects/1/queries/experiment",
        {**body,
         "exposureEvent": {"eventName": "view", "eventType": "regular"}})
    assert status == 400
    assert "no defined critical value" in payload["error"]
