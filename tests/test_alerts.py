"""Anomaly-flag semantics pinned on hand-computed series
(operators/alerts.py; the oracle suite checks engine≡DuckDB)."""

from __future__ import annotations

import pytest

def test_anomaly_flags_hand_computed(spark):
    """Trailing-window z-scores on a hand-computed series: a flat
    baseline then a spike; the spike is flagged, the current bucket
    never pollutes its own baseline, warm-up rows stay NULL."""
    import datetime as dt

    from optiprism_spark.operators.alerts import anomaly_flags

    rows = [
        (dt.date(2024, 1, d), n)
        for d, n in [(1, 10), (2, 12), (3, 11), (4, 9), (5, 30), (6, 11)]
    ]
    series = spark.createDataFrame(rows, "bucket date, n long")
    out = {r["bucket"].day: r for r in
           anomaly_flags(series, "n", window=7, z_threshold=3.0,
                         min_periods=3).collect()}
    # warm-up: days 1-3 have < 3 trailing points
    assert out[1]["z_score"] is None and not out[1]["is_anomaly"]
    assert out[3]["z_score"] is None
    # day 5: baseline (10,12,11,9) mean 10.5, var ((446-42^2/4)/3)=5/3
    import math

    z5 = (30 - 10.5) / math.sqrt(5 / 3)
    assert out[5]["z_score"] == pytest.approx(z5)
    assert out[5]["is_anomaly"]
    # day 6 is ordinary — its baseline now CONTAINS the spike, which
    # inflates the variance and protects against post-spike flapping
    assert not out[6]["is_anomaly"]
    # flags are the only Trues
    assert [d for d, r in out.items() if r["is_anomaly"]] == [5]


def test_anomaly_flags_calendar_gap_shrinks_baseline(spark):
    """A missing calendar day shrinks the trailing RANGE window
    instead of sliding it — day indexes, not row offsets."""
    import datetime as dt

    from optiprism_spark.operators.alerts import anomaly_flags

    rows = [(dt.date(2024, 1, d), 10) for d in (1, 2, 3)] + [
        (dt.date(2024, 1, 20), 10),  # far gap: no trailing points
    ]
    series = spark.createDataFrame(rows, "bucket date, n long")
    out = {r["bucket"].day: r for r in
           anomaly_flags(series, "n", window=7).collect()}
    assert out[20]["z_score"] is None and not out[20]["is_anomaly"]


def test_anomaly_flags_partitioned_baselines(spark):
    """by= gives each dimension group its own independent trailing
    baseline — a spike in one group never flags the other."""
    import datetime as dt

    from optiprism_spark.operators.alerts import anomaly_flags

    rows = []
    for d in range(1, 7):
        rows.append((dt.date(2024, 1, d), "a", 10 + (d % 2)))
        rows.append((dt.date(2024, 1, d), "b", 100 + (d % 3)))
    rows.append((dt.date(2024, 1, 7), "a", 300))   # spike in a only
    rows.append((dt.date(2024, 1, 7), "b", 101))
    series = spark.createDataFrame(rows, "bucket date, g string, n long")
    out = {(r["g"], r["bucket"].day): r["is_anomaly"]
           for r in anomaly_flags(series, "n", by=("g",)).collect()}
    assert out[("a", 7)] is True
    assert out[("b", 7)] is False
    assert not any(v for (g, d), v in out.items() if d < 7)


def test_robust_anomaly_hand_computed(spark):
    """Hampel flags on a hand-computed series: interpolated median of
    [9,10,10,11,12,100] is 10.5; deviations [0.5,0.5,1.5,0.5,1.5,89.5]
    give MAD = (0.5+1.5)/2 = 1.0, so the spike's robust_z =
    89.5/1.4826 ~ 60.4 and nothing else flags."""
    import math

    from optiprism_spark.operators.alerts import robust_anomaly_flags

    vals = [10.0, 10.0, 9.0, 11.0, 12.0, 100.0]
    series = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "bucket int, n double")
    out = {r["bucket"]: r for r in
           robust_anomaly_flags(series, "n").collect()}
    assert all(r["baseline_median"] == 10.5 for r in out.values())
    assert out[5]["is_anomaly"] is True
    assert math.isclose(out[5]["robust_z"], round(89.5 / 1.4826, 9))
    assert all(out[i]["is_anomaly"] is False for i in range(5))


def test_robust_anomaly_outlier_cannot_mask_itself(spark):
    """The motivating case: TWO huge spikes. A trailing mean/std
    baseline lets the first spike inflate sigma enough to hide the
    second; median/MAD flags both."""
    from optiprism_spark.operators.alerts import robust_anomaly_flags

    vals = [10.0, 11.0, 9.0, 10.0, 500.0, 10.0, 11.0, 480.0, 9.0, 10.0]
    series = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "bucket int, n double")
    flagged = {r["bucket"] for r in
               robust_anomaly_flags(series, "n").collect()
               if r["is_anomaly"]}
    assert flagged == {4, 7}


def test_robust_anomaly_flat_series_has_no_scale(spark):
    """MAD == 0 (majority-flat series): robust_z is NULL and nothing
    flags — a deviation from a flat baseline is a level change, the
    same contract as anomaly_flags' zero-variance rule."""
    from optiprism_spark.operators.alerts import robust_anomaly_flags

    series = spark.createDataFrame(
        [(i, 5.0) for i in range(6)] + [(6, 9.0)], "bucket int, n double")
    rows = robust_anomaly_flags(series, "n").collect()
    assert all(r["robust_z"] is None for r in rows)
    assert all(r["is_anomaly"] is False for r in rows)


def test_robust_anomaly_partitioned_baselines(spark):
    """by= gives each group its own median/MAD: a value ordinary for
    one group is a spike for another."""
    from optiprism_spark.operators.alerts import robust_anomaly_flags

    rows = [("big", i, float(v)) for i, v in
            enumerate([100, 102, 98, 101, 99, 103])]
    rows += [("small", i, float(v)) for i, v in
             enumerate([1, 2, 1, 2, 1, 100])]
    series = spark.createDataFrame(rows, "grp string, bucket int, n double")
    out = robust_anomaly_flags(series, "n", by=("grp",)).collect()
    flagged = {(r["grp"], r["bucket"]) for r in out if r["is_anomaly"]}
    assert flagged == {("small", 5)}
    meds = {r["grp"]: r["baseline_median"] for r in out}
    assert meds["big"] == 100.5 and meds["small"] == 1.5


def test_robust_anomaly_null_group_keeps_own_baseline(spark):
    """A NULL group value is a group like any other: the null-safe
    join-back keeps those rows with their own median/MAD, matching
    the row coverage of the window-based anomaly_flags (r13 advice:
    a plain equi-join silently dropped them)."""
    from optiprism_spark.operators.alerts import robust_anomaly_flags

    rows = [("a", i, float(v)) for i, v in
            enumerate([10, 11, 9, 10, 12, 10])]
    rows += [(None, i, float(v)) for i, v in
             enumerate([1, 2, 1, 2, 1, 50])]
    series = spark.createDataFrame(rows, "grp string, bucket int, n double")
    out = robust_anomaly_flags(series, "n", by=("grp",)).collect()
    # every input row survives, including the NULL-group ones
    assert len(out) == len(rows)
    null_rows = [r for r in out if r["grp"] is None]
    assert len(null_rows) == 6
    flagged = {(r["grp"], r["bucket"]) for r in out if r["is_anomaly"]}
    assert flagged == {(None, 5)}
    assert {r["baseline_median"] for r in null_rows} == {1.5}


def test_http_anomaly_route_and_rollup_routing(spark, tmp_path):
    """POST /queries/anomaly: trailing and robust sweeps over the
    daily count series; once a day rollup is declared the series
    folds from the store and — counts being additive — the routed
    response is BIT-EQUAL to raw; dim breakdowns get per-dim
    baselines; caller errors are 400s."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    metrics.REGISTRY.reset()
    app = make_app(spark, "/root/testdata/sf0.001",
                   rollup_dir=str(tmp_path / "rollups"),
                   result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/anomaly"
    time = {"type": "between", "from": "2024-01-01T00:00:00",
            "to": "2024-01-31T23:59:59.999999"}

    st, raw_resp = call(app, "POST", url, {"time": time})
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 0
    cols = {c["name"] for c in raw_resp["columns"]}
    assert {"bucket", "n", "baseline_mean", "z_score",
            "is_anomaly"} <= cols

    # robust flavour returns the Hampel columns
    st, rob = call(app, "POST", url, {"time": time, "method": "robust"})
    assert st == 200
    assert {"baseline_median", "robust_z"} <= {
        c["name"] for c in rob["columns"]}

    # declare a day rollup -> the same requests route and are bit-equal
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/rollups",
                 {"name": "anom", "dims": ["event_type"]})
    assert st == 201
    st, routed_resp = call(app, "POST", url, {"time": time})
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 1
    assert routed_resp == raw_resp

    # dim breakdown: per-dim baselines, still routed
    st, by_dim = call(app, "POST", url, {
        "time": time, "dim": "event_type", "method": "robust"})
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 2
    got = {c["name"]: c["data"] for c in by_dim["columns"]}
    assert set(got["event_type"]) > {"view", "click"}

    # ragged (non-day-aligned) bounds fall back to raw
    st, _ = call(app, "POST", url, {
        "time": {"type": "between", "from": "2024-01-01T12:00:00",
                 "to": "2024-01-31T23:59:59.999999"}})
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="rollup") == 2

    for bad in [
        {},                                         # no time
        {"time": time, "method": "psychic"},
        {"time": time, "threshold": -1},
        {"time": time, "window": "x"},
        {"time": time, "dim": 7},
        {"time": time, "dim": "nope"},
    ]:
        st, _ = call(app, "POST", url, bad)
        assert st == 400, bad
