"""The query-route contract (server.QueryRoute): every query route
parses its body and project id into a request, then plans and
collects. A parse error is a 4xx; an exception from plan or collect is
an engine fault, answered by the App as a 500 JSON body."""

from __future__ import annotations

import logging

import pytest

from optiprism_spark import metrics
from optiprism_spark.server import QueryRoute, make_app

from .test_server import SF_DIR, T_JAN, call

P = "/api/v1/projects/1"

#: query type → POST path of every body-reading query route
POST_ROUTES = {
    "event_segmentation": "/queries/event-segmentation",
    "funnel": "/queries/funnel",
    "retention": "/queries/retention",
    "paths": "/queries/paths",
    "experiment": "/queries/experiment",
    "attribution": "/queries/attribution",
    "percentiles": "/queries/percentiles",
    "stickiness": "/queries/stickiness",
    "growth": "/queries/growth",
    "rfm": "/queries/rfm",
    "lness": "/queries/lness",
    "drift": "/queries/drift",
    "audience": "/queries/audience",
    "similarity": "/queries/similarity",
    "quality": "/queries/quality",
    "anomaly": "/queries/anomaly",
    "event_records_search": "/event-records/search",
    "group_records_search": "/group-records/search",
    "property_values": "/property-values",
}
#: query routes that read no body (GET by record id)
GET_ROUTES = {"event_record", "group_record"}

MALFORMED = {
    "array": [1, 2],
    "time_not_object": {"time": 5},
    "string_not_object": {"time": T_JAN, "event": "x", "filters": "x"},
}


@pytest.fixture(scope="module")
def app(spark):
    return make_app(spark, SF_DIR, result_cache_ttl=None)


def test_every_query_route_is_a_query_route(app):
    """A new query route must go through QueryRoute and appear in this
    file's malformed-body table, so it cannot skip the contract."""
    qtypes = set()
    for method, _, handler, _ in app._routes:
        qtype = getattr(handler, "_query_type", None)
        if qtype is None:
            continue
        assert isinstance(handler, QueryRoute), qtype
        assert (method == "GET") == (qtype in GET_ROUTES), qtype
        qtypes.add(qtype)
    assert qtypes == set(POST_ROUTES) | GET_ROUTES


@pytest.mark.parametrize("body_name", sorted(MALFORMED))
@pytest.mark.parametrize("qtype", sorted(POST_ROUTES))
def test_malformed_body_is_a_client_error(app, qtype, body_name):
    status, payload = call(app, "POST", P + POST_ROUTES[qtype],
                           MALFORMED[body_name])
    assert 400 <= status < 500, (qtype, body_name, status, payload)
    assert "error" in payload


def test_non_integer_project_id_is_400(app):
    body = {"time": T_JAN}
    status, payload = call(app, "POST",
                           "/api/v1/projects/abc/queries/stickiness", body)
    assert status == 400 and "project id" in payload["error"]
    status, _ = call(app, "GET", "/api/v1/projects/abc/event-records/1")
    assert status == 400
    status, _ = call(app, "POST", P + "/queries/stickiness", body)
    assert status == 200


def _http_500s() -> float:
    return metrics.http_requests_total().value(method="POST", status="500")


def test_engine_fault_is_500_and_missing_field_is_400(app, monkeypatch,
                                                      caplog):
    from optiprism_spark.operators import engagement

    def broken(*a, **kw):
        raise KeyError("engine-side lookup")

    monkeypatch.setattr(engagement, "stickiness", broken)
    url = P + "/queries/stickiness"
    before = _http_500s()
    with caplog.at_level(logging.ERROR, logger="optiprism_spark.server"):
        status, payload = call(app, "POST", url, {"time": T_JAN})
    assert status == 500
    assert "KeyError" in payload["error"]
    assert _http_500s() == before + 1
    assert any(r.exc_info and r.exc_info[0] is KeyError
               for r in caplog.records), "traceback not logged"

    # the same route with its required field missing is the caller's
    status, payload = call(app, "POST", url, {})
    assert status == 400 and "error" in payload
    assert _http_500s() == before + 1


def test_collect_fault_is_500(app, spark, monkeypatch):
    """A plan that builds fine but fails when collected (an ANSI
    divide by zero) is an engine fault too."""
    from optiprism_spark.operators import engagement

    monkeypatch.setattr(
        engagement, "stickiness",
        lambda *a, **kw: spark.range(1).selectExpr("1 / (id - id) AS bucket"))
    before = _http_500s()
    status, payload = call(app, "POST", P + "/queries/stickiness",
                           {"time": T_JAN})
    assert status == 500 and "error" in payload
    assert _http_500s() == before + 1


_VIEW = {"eventName": "view", "eventType": "regular"}

#: caller errors only the data can show, one per operator site that
#: raises ``CallerError`` while the plan is built
CALLER_ERRORS = {
    "unmatched_control": ("/queries/experiment", {
        "time": T_JAN, "exposureEvent": _VIEW,
        "conversionEvent": {"eventName": "purchase",
                            "eventType": "regular"},
        "variantProperty": {"propertyName": "k", "dtype": "int64"},
        "control": "-1",
    }, "matched no exposures"),
    "control_not_of_variant_type": ("/queries/experiment", {
        "time": T_JAN, "exposureEvent": _VIEW,
        "conversionEvent": {"eventName": "purchase",
                            "eventType": "regular"},
        "variantProperty": {"propertyName": "k", "dtype": "int64"},
        "control": "nope",
    }, "matched no exposures"),
    "srm_variant_outside_allocation": ("/queries/experiment", {
        "type": "srm", "time": T_JAN, "exposureEvent": _VIEW,
        "variantProperty": {"propertyName": "event_type"},
        "expected": {"click": 0.5, "purchase": 0.5},
    }, "missing from expected allocation"),
    "nprobe_above_auto_lists": ("/queries/similarity", {
        "type": "topk", "method": "ivf", "queryIds": [1],
        "nprobe": 1_000_000,
    }, "n_centroids"),
}


@pytest.mark.parametrize("case", sorted(CALLER_ERRORS))
def test_data_dependent_caller_error_is_400(app, case):
    path, body, message = CALLER_ERRORS[case]
    before = _http_500s()
    status, payload = call(app, "POST", P + path, body)
    assert status == 400, payload
    assert message in payload["error"]
    assert _http_500s() == before
