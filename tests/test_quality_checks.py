"""Data-quality constraint validator (operators/quality_checks).

Semantics pinned here; the DuckDB hash oracles live in
suites/quality.py (dq_events_battery / dq_orders_battery /
dq_ref_integrity).
"""

from __future__ import annotations

import pytest

from optiprism_spark.operators import quality_checks as Q


def _rows(df):
    return {r["constraint"]: r.asDict() for r in df.collect()}


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            (1, "a@x.io", 10.0, "gold"),
            (2, "b@x.io", 20.0, "silver"),
            (3, None, 30.0, "gold"),
            (4, "not-an-email", -5.0, "bronze"),
            (4, "d@x.io", None, "tin"),
        ],
        "id long, email string, score double, tier string",
    )


def test_battery_metrics_and_verdicts(people):
    out = _rows(Q.validate(people, [
        Q.completeness("email"),                      # 4/5
        Q.completeness("id"),                         # 5/5
        Q.uniqueness("id"),                           # 4/5 (dup id=4)
        Q.in_range("score", 0.0, 100.0),              # 3/4 non-null
        Q.non_negative("score"),                      # 3/4
        Q.accepted_values("tier", ["gold", "silver", "bronze"]),  # 4/5
        Q.matches_pattern("email", r"^[a-z]+@[a-z.]+$"),  # 3/4
        Q.mean_between("score", 0.0, 20.0),           # mean 13.75
        Q.row_count_between(5, 10),                   # 5 rows
    ]))
    assert out["completeness(email)"]["metric"] == 0.8
    assert out["completeness(email)"]["passed"] is False
    assert out["completeness(id)"]["passed"] is True
    assert out["uniqueness(id)"]["metric"] == 0.8
    assert out["in_range(score)"]["metric"] == 0.75
    assert out["non_negative(score)"]["metric"] == 0.75
    assert out["accepted_values(tier)"]["metric"] == 0.8
    assert out["matches_pattern(email)"]["metric"] == 0.75
    assert out["mean_between(score)"]["metric"] == 13.75
    assert out["mean_between(score)"]["passed"] is True
    assert out["row_count"]["metric"] == 5.0
    assert out["row_count"]["passed"] is True


def test_thresholds_flip_verdicts(people):
    out = _rows(Q.validate(people, [
        Q.completeness("email", min_ratio=0.5),
        Q.row_count_between(10),
    ]))
    assert out["completeness(email)"]["passed"] is True
    assert out["row_count"]["passed"] is False


def test_empty_frame_fails_not_passes(spark):
    """NULL metric (0-row denominator) must surface as failed, never
    silently pass."""
    empty = spark.createDataFrame([], "id long, email string")
    out = _rows(Q.validate(empty, [
        Q.completeness("email"),
        Q.row_count_between(1),
    ]))
    assert out["completeness(email)"]["metric"] is None
    assert out["completeness(email)"]["passed"] is False
    assert out["row_count"]["metric"] == 0.0
    assert out["row_count"]["passed"] is False


def test_multi_column_and_approx_uniqueness(people):
    # SQL COUNT(DISTINCT) semantics: the (3, NULL) tuple is not
    # counted -> 4 distinct over 5 rows (DuckDB agrees)
    exact = _rows(Q.validate(people, [Q.uniqueness(["id", "email"])]))
    assert exact["uniqueness(id,email)"]["metric"] == 0.8
    # HLL path measures the same quantity within sketch error
    approx = _rows(Q.validate(people, [
        Q.uniqueness(["id", "email"], approx=True)]))
    assert abs(approx["uniqueness(id,email)"]["metric"] - 0.8) < 0.1


def test_single_scan_plan(people):
    """The whole battery is ONE aggregation pass: exactly one scan of
    the input and no join/exchange beyond the single final aggregate."""
    df = Q.validate(people, [
        Q.completeness("email"),
        Q.in_range("score", 0.0, 100.0),
        Q.mean_between("score", 0.0, 20.0),
        Q.row_count_between(1),
    ])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1
    assert "Join" not in plan


def test_ref_integrity_orphans_and_plan(spark):
    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long")
    dim = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    out = Q.ref_integrity(fact, "fk", dim, "pk", max_orphan_ratio=0.0)
    row = out.collect()[0]
    # 3 non-null fks, 1 orphan (99); the null fk is completeness's job
    assert row["metric"] == pytest.approx(1 / 3, abs=1e-9)
    assert row["passed"] is False
    assert row["constraint"] == "ref_integrity(fk->pk)"
    # tolerant probe passes
    ok = Q.ref_integrity(fact, "fk", dim, "pk",
                         max_orphan_ratio=0.5).collect()[0]
    assert ok["passed"] is True
    # dim side broadcasts: the fact table is never shuffled
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys


def test_quoting_in_constraint_names(spark):
    """Column names containing a quote must not break the stack
    projection (names are escaped into the SQL literal)."""
    df = spark.createDataFrame([("x",)], "`it's` string")
    out = _rows(Q.validate(df, [Q.completeness("it's")]))
    assert out["completeness(it's)"]["passed"] is True


def test_http_quality_route(spark):
    """POST /queries/quality: the whole battery over the project's
    events in one response; caller errors (unknown column / type, bad
    regex, empty battery) are 400s, never silent wrong verdicts."""
    from optiprism_spark.server import make_app

    from .test_server import call

    app = make_app(spark, "/root/testdata/sf0.001", result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/quality"
    body = {"constraints": [
        {"type": "completeness", "column": "user_id"},
        {"type": "uniqueness", "columns": ["event_id"]},
        {"type": "inRange", "column": "value", "lo": 0, "hi": 1e6},
        {"type": "acceptedValues", "column": "event_type",
         "values": ["click", "error", "purchase", "signup", "view"]},
        {"type": "matchesPattern", "column": "props",
         "regex": "^\\{\"k\": [0-9]+\\}$"},
        {"type": "rowCount", "min": 1},
        {"type": "freshness", "column": "ts", "maxAgeHours": 1e6,
         "asOf": "2024-02-01T00:00:00"},
    ]}
    st, resp = call(app, "POST", url, body)
    assert st == 200
    cols = {c["name"]: c for c in resp["columns"]}
    got = dict(zip(cols["constraint"]["data"], cols["passed"]["data"]))
    assert len(got) == 7
    assert got["completeness(user_id)"] is True
    assert got["freshness(ts)"] is True
    assert got["row_count"] is True
    # constraint/target are tagged dimensions, metric a metric column
    assert cols["constraint"]["type"] == "dimension"
    assert cols["metric"]["type"] == "metric"

    # time-scoped battery runs over the filtered stream
    st, resp = call(app, "POST", url, dict(
        body, time={"type": "between", "from": "2024-01-01T00:00:00",
                    "to": "2024-01-31T23:59:59"}))
    assert st == 200

    for bad in [
        {},                                       # missing constraints
        {"constraints": []},                      # empty battery
        {"constraints": [{"type": "completeness", "column": "nope"}]},
        {"constraints": [{"type": "teleport", "column": "value"}]},
        {"constraints": [{"type": "matchesPattern", "column": "props",
                          "regex": "("}]},        # bad regex
        {"constraints": [{"type": "inRange", "column": "value",
                          "lo": "x", "hi": 1}]},  # bad number
        {"constraints": [{"type": "rowCount"}]},  # missing min
        {"constraints": [{"type": "freshness", "column": "ts",
                          "maxAgeHours": 1}]},  # missing asOf
    ]:
        st, _ = call(app, "POST", url, bad)
        assert st == 400, bad


def test_union_battery_with_ref_integrity(spark):
    """validate() and ref_integrity() share a schema so a full
    delivery gate is one unioned frame."""
    fact = spark.createDataFrame([(1, 10)], "id long, fk long")
    dim = spark.createDataFrame([(10,)], "pk long")
    battery = Q.validate(fact, [Q.completeness("fk")])
    ref = Q.ref_integrity(fact, "fk", dim, "pk")
    both = battery.unionByName(ref)
    assert both.count() == 2
    assert all(r["passed"] for r in both.collect())


def test_validate_by_groups_and_composes_with_robust_alerts(spark):
    """validate(by=) yields a per-group quality-metric series from
    the same single scan; feeding one constraint's series into the
    Hampel detector flags the day quality rotted."""
    from pyspark.sql import functions as F

    from optiprism_spark.operators.alerts import robust_anomaly_flags

    # ordinary days: 0-2 of 20 emails null (noise, so MAD has scale —
    # a perfectly flat series would hit the detector's documented
    # MAD==0 no-scale contract); day 6: 10 of 20 go missing
    nulls_per_day = {1: 1, 2: 2, 3: 1, 4: 2, 5: 1, 6: 10, 7: 2}
    rows = []
    for day, k in nulls_per_day.items():
        for i in range(20):
            email = None if i < k else f"u{i}@x.io"
            rows.append((f"2024-01-0{day}", email))
    df = spark.createDataFrame(rows, "day string, email string")
    series = Q.validate(df, [Q.completeness("email")], by=["day"])
    got = {r["day"]: r for r in series.collect()}
    assert len(got) == 7
    assert got["2024-01-06"]["metric"] == 0.5
    assert got["2024-01-06"]["passed"] is False
    assert got["2024-01-01"]["passed"] is False  # 0.95 < 1.0 threshold

    flagged = {
        r["day"] for r in robust_anomaly_flags(
            series.select("day", "metric"), "metric", threshold=3.5,
        ).collect() if r["is_anomaly"]
    }
    assert flagged == {"2024-01-06"}

    # single scan even when grouped
    plan = series._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_declared_quality_batteries(spark):
    """schema/quality-checks DDL: declared batteries run as the
    standing gate when /queries/quality has no inline constraints;
    bad batteries are rejected AT DECLARE TIME."""
    from optiprism_spark.server import make_app

    from .test_server import call

    app = make_app(spark, "/root/testdata/sf0.001", result_cache_ttl=None)
    ddl = "/api/v1/projects/1/schema/quality-checks"
    url = "/api/v1/projects/1/queries/quality"

    # nothing declared, nothing inline -> loud 400
    st, _ = call(app, "POST", url, {})
    assert st == 400

    # a bad battery never stores
    st, _ = call(app, "POST", ddl, {"name": "bad", "constraints": [
        {"type": "completeness", "column": "nope"}]})
    assert st == 400
    st, rows = call(app, "GET", ddl)
    assert st == 200 and rows == []

    # declare two batteries; the gate runs their union in one response
    st, _ = call(app, "POST", ddl, {"name": "volume", "constraints": [
        {"type": "rowCount", "min": 1}]})
    assert st == 201
    st, _ = call(app, "POST", ddl, {"name": "keys", "constraints": [
        {"type": "uniqueness", "columns": ["event_id"]},
        {"type": "completeness", "column": "user_id"}]})
    assert st == 201
    st, resp = call(app, "POST", url, {})
    assert st == 200
    names = {c["name"]: c["data"] for c in resp["columns"]}
    assert sorted(names["constraint"]) == [
        "completeness(user_id)", "row_count", "uniqueness(event_id)"]
    assert all(names["passed"])

    # inline constraints still override the declared set
    st, resp = call(app, "POST", url, {"constraints": [
        {"type": "rowCount", "min": 10**9}]})
    assert st == 200
    assert resp["columns"][0]["data"] == ["row_count"]


def test_route_rejects_malformed_shapes_as_400(spark):
    """r13 review findings: malformed constraint shapes and
    non-finite numbers must be 400s, never 500s or silent
    flag-disabling."""
    from optiprism_spark.server import make_app

    from .test_server import call

    app = make_app(spark, "/root/testdata/sf0.001", result_cache_ttl=None)
    qurl = "/api/v1/projects/1/queries/quality"
    for bad in [
        {"constraints": ["completeness"]},          # bare string spec
        {"constraints": [{"type": "uniqueness", "columns": 5}]},
        {"constraints": [{"type": "rowCount", "min": "nan"}]},
        {"constraints": [{"type": "rowCount", "min": "1e999"}]},
        {"constraints": [{"type": "completeness", "column": "user_id",
                          "minRatio": "inf"}]},
    ]:
        st, _ = call(app, "POST", qurl, bad)
        assert st == 400, bad

    aurl = "/api/v1/projects/1/queries/anomaly"
    time = {"type": "between", "from": "2024-01-01T00:00:00",
            "to": "2024-01-31T23:59:59"}
    for bad in [
        {"time": time, "threshold": "NaN"},
        {"time": time, "threshold": "Infinity"},
        {"time": time, "window": "nan"},
        {"time": time, "minPeriods": "1e999"},
    ]:
        st, _ = call(app, "POST", aurl, bad)
        assert st == 400, bad


def test_gate_quality_maintenance_hook(spark):
    """App.gate_quality, step 1 of the maintenance tick — declared
    batteries judge each ingest batch,
    failures land in the quality-gate metric; no declarations = no-op."""
    from optiprism_spark import metrics
    from optiprism_spark.server import make_app

    from .test_server import call

    metrics.REGISTRY.reset()
    app = make_app(spark, "/root/testdata/sf0.001", result_cache_ttl=None)
    schema = "event_id long, user_id long, value double"
    batch = spark.createDataFrame(
        [(1, 10, 1.0), (2, None, 2.0), (3, None, 3.0)], schema)

    # nothing declared: no-op, no metric
    assert app.gate_quality(batch, pid=1) == []

    # declared batteries validate against the PROJECT's events schema
    # (an unknown column is rejected at declare time, tested above);
    # the gate then binds them to each batch's frame
    st, _ = call(app, "POST", "/api/v1/projects/1/schema/quality-checks",
                 {"name": "ids", "constraints": [
                     {"type": "completeness", "column": "user_id"},
                     {"type": "rowCount", "min": 1}]})
    assert st == 201
    failing = app.gate_quality(batch, pid=1)
    assert [f["constraint"] for f in failing] == ["completeness(user_id)"]
    assert failing[0]["metric"] == pytest.approx(1 / 3, abs=1e-9)
    assert metrics.quality_gate_failures_total().value(
        constraint="completeness(user_id)") == 1

    # a clean batch adds nothing
    clean = spark.createDataFrame([(1, 10, 1.0)], schema)
    assert app.gate_quality(clean, pid=1) == []
    assert metrics.quality_gate_failures_total().value(
        constraint="completeness(user_id)") == 1


def test_battery_scan_prunes_to_constrained_columns(spark):
    """Column pruning reaches the parquet scan: a battery over two
    columns of the events table must read exactly those two — at
    100 TB this is the difference between scanning 2 columns and the
    whole table."""
    from optiprism_spark.schema import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    df = Q.validate(events, [
        Q.completeness("user_id"),
        Q.in_range("value", 0.0, 1e6),
    ])
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and m.group(1) == "struct<user_id:bigint,value:double>"


def test_freshness_constraint(spark):
    """Age in hours vs an explicit as_of clock; stale and empty
    deliveries fail, fresh ones pass."""
    df = spark.createDataFrame(
        [("2024-01-31 22:00:00",), ("2024-01-30 00:00:00",)],
        "ts string").selectExpr("CAST(ts AS TIMESTAMP) AS ts")
    out = _rows(Q.validate(df, [
        Q.freshness("ts", 6.0, "2024-02-01 00:00:00")]))
    r = out["freshness(ts)"]
    assert r["metric"] == 2.0 and r["passed"] is True

    stale = _rows(Q.validate(df, [
        Q.freshness("ts", 1.0, "2024-02-01 00:00:00")]))
    assert stale["freshness(ts)"]["passed"] is False

    empty = spark.createDataFrame([], "ts timestamp")
    none = _rows(Q.validate(empty, [
        Q.freshness("ts", 24.0, "2024-02-01 00:00:00")]))
    assert none["freshness(ts)"]["metric"] is None
    assert none["freshness(ts)"]["passed"] is False


def test_put_quality_check_validates_merged_row(spark):
    """PUT gets the same declare-time validation as POST, applied to
    the MERGED row (catalog.update merges partial bodies): a bad
    constraint list can never be stored via update, a rename-only PUT
    still passes, and a malformed name is rejected (r13 advice)."""
    from optiprism_spark.server import make_app

    from .test_server import call

    app = make_app(spark, "/root/testdata/sf0.001", result_cache_ttl=None)
    ddl = "/api/v1/projects/1/schema/quality-checks"

    st, row = call(app, "POST", ddl, {"name": "vol", "constraints": [
        {"type": "rowCount", "min": 1}]})
    assert st == 201
    qid = row["id"]

    # malformed constraints on update -> 400, stored row untouched
    for bad in (
        [{"type": "completeness", "column": "no_such_col"}],
        [{"type": "rowCount"}],                       # missing min
        [{"type": "nonsense", "column": "user_id"}],  # unknown kind
        [],                                           # empty list
        "not-a-list",
    ):
        st, _ = call(app, "PUT", f"{ddl}/{qid}", {"constraints": bad})
        assert st == 400, bad
    st, _ = call(app, "PUT", f"{ddl}/{qid}", {"name": "bad name!"})
    assert st == 400
    st, got = call(app, "GET", f"{ddl}/{qid}")
    assert st == 200 and got["name"] == "vol"
    assert got["constraints"] == [{"type": "rowCount", "min": 1}]

    # rename-only PUT re-validates the merged (still-valid) battery
    st, row2 = call(app, "PUT", f"{ddl}/{qid}", {"name": "vol2"})
    assert st == 200 and row2["name"] == "vol2"

    # a valid constraint swap stores and the standing gate still runs
    st, _ = call(app, "PUT", f"{ddl}/{qid}", {"constraints": [
        {"type": "completeness", "column": "user_id", "minRatio": 0.5}]})
    assert st == 200
    st, res = call(app, "POST", "/api/v1/projects/1/queries/quality", {})
    assert st == 200
    names = {c["name"]: c["data"] for c in res["columns"]}
    assert names["constraint"] == ["completeness(user_id)"]
