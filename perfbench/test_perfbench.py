"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The end-to-end proof that a wrong served answer fails a run is
``run.py --inject-fault``: it corrupts one checked answer and the run
must report ``correct: false``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _seg_response(counts):
    return {"columns": [
        {"name": "bucket", "type": "dimension",
         "data": [f"2024-01-{d:02d}T00:00:00" for d in range(1, 4)]},
        {"name": "event_type", "type": "dimension",
         "data": ["view", "view", "click"]},
        {"name": "0_0_count_events", "type": "metric", "data": counts},
        {"name": "0_1_count_unique_groups", "type": "metric",
         "data": [1, 2, 3]},
    ]}


def _direct(counts):
    return {"columns": {
        "bucket": [f"2024-01-{d:02d} 00:00:00" for d in range(1, 4)],
        "event_type": ["view", "view", "click"],
        "0_0_count_events": [str(c) for c in counts],
        "0_1_count_unique_groups": ["1", "2", "4"],
    }}


def test_segmentation_matches_engine_and_ignores_approx_columns():
    ok, why = checks.same_segmentation(_seg_response([5, 6, 7]),
                                       _direct([5, 6, 7]))
    assert ok, why


def test_injected_wrong_segmentation_answer_is_caught():
    served = checks.corrupt(_seg_response([5, 6, 7]))
    ok, why = checks.same_segmentation(served, _direct([5, 6, 7]))
    assert not ok and "differ" in why


def test_injected_wrong_count_is_caught():
    payload = _seg_response([5, 6, 7])
    assert checks.count_ok(200, payload, 18) == (True, "")
    ok, why = checks.count_ok(200, checks.corrupt(payload), 18)
    assert not ok and "19" in why


def test_tile_check_rejects_errors_and_empty_answers():
    assert not checks.tile_ok(429, {"error": "admission"})[0]
    assert not checks.tile_ok(500, None)[0]
    assert not checks.tile_ok(200, {"columns": []})[0]
    assert not checks.tile_ok(200, {"columns": [{"name": "x",
                                                 "data": []}]})[0]
    assert checks.tile_ok(200, _seg_response([1, 2, 3]))[0]


def _rotations(seed, n=6):
    plan = workloads.DashboardPlan(seed, 4)
    return [[([r.key() for r in tiles], rep) for tiles, rep in
             plan.rotation()] for _ in range(n)]


def test_dashboard_plan_is_seeded_with_a_fixed_shape():
    a = _rotations(1)
    assert a == _rotations(1)
    assert a != _rotations(2)
    for seed in (1, 2, 3):
        plan = workloads.DashboardPlan(seed, 4)
        for _ in range(6):
            rot = plan.rotation()
            # every dashboard once plus one repeat, in every rotation
            assert sum(rep for _t, rep in rot) == 1
            fresh = sorted(tuple(r.kind for r in tiles)
                           for tiles, rep in rot if not rep)
            dashboards = workloads.DASHBOARD_SLOTS
            assert fresh == sorted(tuple(dashboards[i:i + 4])
                                   for i in range(0, len(dashboards), 4))


def test_repeats_replay_a_recent_refresh_and_fresh_ones_are_distinct():
    flat = [r for rot in _rotations(4, 10) for r in rot]
    fresh = [k for keys, rep in flat if not rep for k in keys]
    assert len(fresh) == len(set(fresh))
    for i, (keys, rep) in enumerate(flat):
        if rep:
            assert i > 0 and keys in [
                k for k, _r in flat[max(0, i - 4):i]]


def test_dashboard_refresh_fires_distinct_tile_kinds():
    plan = workloads.DashboardPlan(3, 4)
    for _ in range(5):
        for tiles, _rep in plan.rotation():
            assert len({r.kind for r in tiles}) == 4


def test_ingest_batches_land_in_one_day():
    plan = workloads.IngestPlan(5)
    batch = plan.batch(0)
    assert len(batch) == workloads.INGEST_BATCH_EVENTS
    assert len({b["timestamp"][:10] for b in batch}) == 1
    assert batch == workloads.IngestPlan(5).batch(0)


def test_request_constants_match_the_served_table():
    import datetime as dt

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(workloads.DATA_DIR, "events.parquet"))
    assert t.num_rows == workloads.N_EVENTS
    assert set(t["event_type"].to_pylist()) == set(workloads.EVENT_TYPES)
    users = pc.min_max(t["user_id"]).as_py()
    assert (users["min"], users["max"]) == (0, workloads.N_USERS - 1)
    ts = pc.min_max(t["ts"]).as_py()
    assert ts["min"] >= dt.datetime(2024, 1, 1)
    assert ts["max"] < dt.datetime(2024, 1, 1 + workloads.N_DAYS)
    assert ts["max"] >= dt.datetime(2024, 1, workloads.N_DAYS)


def test_prometheus_counter_deltas():
    before = layers.parse_prometheus(
        '# TYPE x counter\n'
        'optiprism_query_result_cache_total{query_type="a",'
        'outcome="hit"} 2\n')
    after = layers.parse_prometheus(
        'optiprism_query_result_cache_total{query_type="a",'
        'outcome="hit"} 5\n'
        'optiprism_query_result_cache_total{query_type="b",'
        'outcome="miss"} 4\n')
    name = "optiprism_query_result_cache_total"
    assert layers.counter_delta(before, after, name, outcome="hit") == 3
    assert layers.counter_delta(before, after, name) == 7


def test_percentiles_never_leave_the_sample_range():
    assert run.pct([1.0, 3.0], 50) == 2.0
    assert run.pct([1.0, 3.0], 90) <= 3.0
    six = [0.5, 0.6, 0.7, 0.8, 0.9, 2.0]
    assert run.pct(six, 90) <= max(six)
    assert run.pct([4.0], 90) == 4.0


def test_window_is_a_fixed_count_of_at_least_two_units():
    assert run.window_units(12, 4.0) == 3
    assert run.window_units(13, 4.0) == 3
    # one 11 s cycle is nearest to 12 s, but a window needs two halves
    assert run.window_units(12, 11.0) == 2
    assert run.window_units(45, 11.0) == 4


def test_routed_ratio_is_a_share_of_the_window_queries():
    class Win:
        metrics0 = layers.parse_prometheus("")
        metrics1 = layers.parse_prometheus(
            'optiprism_query_rollup_routed_total{path="rollup"} 3\n'
            'optiprism_query_rollup_routed_total{path="raw"} 1\n')

    name = "optiprism_query_rollup_routed_total"
    assert layers.routed_ratio(Win, name, ("rollup",), 6) == 0.5
    # no routing decision at all: no query was answered from the store
    assert layers.routed_ratio(
        Win, "optiprism_user_day_routed_total", ("store",), 6) == 0.0


def test_spans_nest_per_thread_and_carry_the_request_id():
    tr = spans.Tracer()
    tr.rid = 7
    inner = tr.wrap(lambda x: x + 1, "inner")
    with tr.span("outer"):
        assert inner(1) == 2
    tr.rid = None
    with tr.span("after"):
        pass
    outer, inner_s, after = tr.dump()
    assert (outer["parent"], outer["rid"]) == (None, 7)
    assert (inner_s["name"], inner_s["parent"], inner_s["rid"]) == \
        ("inner", outer["id"], 7)
    assert (after["parent"], after["rid"]) == (None, None)
    assert outer["start"] <= inner_s["start"] <= inner_s["end"] \
        <= outer["end"]
