"""Audience set algebra (operators/audience.py): flag semantics, the
set-expression AST, KMV sketch regimes, merge equivalence, and the
mixture sampler's budget arithmetic. Oracle hash-matches live in the
registry (suites/audience.py, suites/assembly.py); these tests pin
the semantics the oracles can't see — estimate-regime error bounds,
merge determinism, validation, and plan shape."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import Row, functions as F

from optiprism_spark.dsl import EventRef, QueryTime
from optiprism_spark.operators.audience import (
    audience_flags,
    audience_set_count,
    audience_venn,
    audience_venn_from_day_sketches,
    kmv_day_sketches,
    kmv_estimate,
    kmv_merge,
    overlap_matrix,
    set_expr_col,
)

JAN = QueryTime.between(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, ts=dt.datetime(2024, 1, 2 + (i % 3), 10), user_id=u,
             event_type=t, value=1.0, props="{}")
         for i, (u, t) in enumerate(rows)]
    )


# ------------------------------------------------------------ exact algebra


def test_venn_counts_tiny(spark):
    ev = _events(spark, [
        (1, "signup"), (1, "purchase"),
        (2, "signup"),
        (3, "purchase"),
        (4, "view"),
    ])
    row = audience_venn(ev, EventRef("signup"), EventRef("purchase"), JAN).first()
    assert (row.users_a, row.users_b, row.both) == (2, 2, 1)
    assert (row.a_only, row.b_only, row.union_users) == (1, 1, 3)
    assert row.jaccard == pytest.approx(1 / 3)


def test_set_expression_and_not(spark):
    ev = _events(spark, [
        (1, "signup"), (1, "purchase"), (1, "error"),
        (2, "signup"), (2, "purchase"),
        (3, "signup"),
    ])
    auds = {"a": EventRef("signup"), "b": EventRef("purchase"),
            "c": EventRef("error")}
    expr = {"op": "and", "args": [
        {"ref": "a"}, {"ref": "b"}, {"op": "not", "args": [{"ref": "c"}]}]}
    assert audience_set_count(ev, auds, expr, JAN).first().n_users == 1
    # OR arm
    assert audience_set_count(
        ev, auds, {"op": "or", "args": [{"ref": "b"}, {"ref": "c"}]}, JAN
    ).first().n_users == 2


def test_set_expr_validation(spark):
    names = ["a", "b"]
    with pytest.raises(ValueError, match="unknown audience"):
        set_expr_col({"ref": "zzz"}, names)
    with pytest.raises(ValueError, match="exactly one"):
        set_expr_col({"op": "not", "args": [{"ref": "a"}, {"ref": "b"}]}, names)
    with pytest.raises(ValueError, match="empty argument"):
        set_expr_col({"op": "and", "args": []}, names)
    with pytest.raises(ValueError, match="unknown set op"):
        set_expr_col({"op": "xor", "args": [{"ref": "a"}]}, names)
    ev = _events(spark, [(1, "signup")])
    with pytest.raises(ValueError, match="bad audience name"):
        audience_flags(ev, {"not an ident": EventRef("signup")}, JAN)
    with pytest.raises(ValueError, match="at least one"):
        audience_flags(ev, {}, JAN)


def test_overlap_matrix_single_scan_plan(spark, sf_smoke_events):
    """The distinct (user, dim) frame is materialized ONCE: the final
    plan reads the checkpoint (no parquet re-scan — the naive spelling
    scanned the source 4x) and the self-join runs co-partitioned on
    the cached frame (no Exchange); sizes join broadcast-side."""
    plan = overlap_matrix(sf_smoke_events, JAN)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # sizes joined broadcast-side
    assert "FileScan parquet" not in plan
    assert "Exchange hashpartitioning" not in plan


# ------------------------------------------------------------- KMV sketches


def test_kmv_exact_regime_matches_exact_counts(spark, sf_smoke_events):
    days = kmv_day_sketches(sf_smoke_events, JAN, k=4096)
    got = audience_venn_from_day_sketches(days, "signup", "purchase", 4096).first()
    d = (sf_smoke_events.filter(
            (F.col("ts") >= "2024-01-01") & (F.col("ts") <= "2024-01-31 23:59:59"))
         .select("user_id", "event_type").distinct())
    a = {r.user_id for r in d.filter("event_type = 'signup'").collect()}
    b = {r.user_id for r in d.filter("event_type = 'purchase'").collect()}
    assert got.users_a == len(a) and got.users_b == len(b)
    assert got.both == len(a & b) and got.union_users == len(a | b)


def test_kmv_estimate_regime_error_bound(spark):
    # 5000 distinct users, k=256 -> estimate with rel. err ~ 1/sqrt(k)
    n, k = 5000, 256
    df = spark.range(n).select(
        F.lit(dt.datetime(2024, 1, 2, 10)).alias("ts"),
        F.col("id").alias("user_id"),
        F.lit("signup").alias("event_type"),
    )
    sk = kmv_day_sketches(df, None, k=k)
    est = sk.select(kmv_estimate(F.col("kmv"), k).alias("e")).first().e
    assert est != n  # genuinely estimating, not enumerating
    assert abs(est - n) / n < 5 / (k ** 0.5)  # ~5 sigma


def test_kmv_merge_equals_direct_sketch(spark):
    # merging per-day sketches == sketching the whole window directly:
    # both keep the K smallest distinct hashes, so even in the
    # ESTIMATE regime the arrays are identical
    n, k = 3000, 128
    df = spark.range(n).select(
        F.when(F.col("id") % 3 == 0, F.lit(dt.datetime(2024, 1, 2, 10)))
        .when(F.col("id") % 3 == 1, F.lit(dt.datetime(2024, 1, 3, 10)))
        .otherwise(F.lit(dt.datetime(2024, 1, 4, 10))).alias("ts"),
        (F.col("id") % 2000).alias("user_id"),  # overlap across days
        F.lit("signup").alias("event_type"),
    )
    days = kmv_day_sketches(df, None, k=k)
    assert days.count() == 3
    merged = kmv_merge(days, ["dim"], k).first().kmv
    direct = (
        kmv_day_sketches(
            df.withColumn("ts", F.lit(dt.datetime(2024, 1, 2, 10))), None, k=k)
        .first().kmv
    )
    assert merged == direct and len(merged) == k


def test_kmv_validation(spark):
    df = spark.range(1).select(
        F.lit(dt.datetime(2024, 1, 2)).alias("ts"),
        F.col("id").alias("user_id"), F.lit("x").alias("event_type"))
    with pytest.raises(ValueError, match="k must be"):
        kmv_day_sketches(df, None, k=1)


# -------------------------------------------------------- mixture sampling


def test_mixture_rates_saturation_and_deficit(spark):
    from optiprism_spark.operators.assembly import mixture_rates

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=("a" if i < 4 else "b"), text="w " * 9 + "w")
         for i in range(8)]
    )  # 4 docs x 10 tokens per source
    rates = {r.source: r for r in
             mixture_rates(docs, {"a": 20.0, "b": 100.0, "zzz": 5.0}).collect()}
    assert rates["a"].rate == pytest.approx(0.5) and rates["a"].deficit_tokens == 0.0
    assert rates["b"].rate == 1.0 and rates["b"].deficit_tokens == pytest.approx(60.0)
    assert rates["zzz"].rate == 0.0 and rates["zzz"].available_tokens == 0


def test_mixture_sample_deterministic_and_source_scoped(spark):
    from optiprism_spark.operators.assembly import mixture_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}", text="w " * 19 + "w")
         for i in range(90)]
    )
    targets = {"s0": 300.0, "s1": 600.0}  # s2 unlisted -> excluded
    a = {r.doc_id for r in mixture_sample(docs, targets).collect()}
    b = {r.doc_id for r in mixture_sample(docs, targets).collect()}
    assert a == b and a  # deterministic, non-empty
    kept_sources = {r.source for r in mixture_sample(docs, targets).collect()}
    assert "s2" not in kept_sources
    with pytest.raises(ValueError, match="negative"):
        mixture_sample(docs, {"s0": -1.0})
    with pytest.raises(ValueError, match="at least one"):
        mixture_sample(docs, {})


def test_mixture_sample_no_corpus_shuffle(spark):
    from optiprism_spark.operators.assembly import mixture_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="a", text="w w w") for i in range(10)])
    plan = mixture_sample(docs, {"a": 5.0})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # rates broadcast onto the scan


# --------------------------------------------- survivor-by-quality


def test_survivors_prefer_quality_then_id(spark):
    from optiprism_spark.operators.dedup import neardup_survivors_by_quality

    base = ("tok" + " tok".join(str(i % 7) for i in range(40)))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base + " x" * 40),   # near-dup pair, longer
        Row(doc_id=2, text=base + " x" * 40),   # identical text
        Row(doc_id=9, text="completely different words entirely here "
                           "nothing shared with the cluster at all"),
    ])
    scores = spark.createDataFrame([
        Row(doc_id=1, quality_score=0.2),
        Row(doc_id=2, quality_score=0.9),  # wins despite higher id
        Row(doc_id=9, quality_score=0.5),
    ])
    out = {r.doc_id: r for r in neardup_survivors_by_quality(
        docs, threshold=0.5, k=8, bands=4, scores=scores).collect()}
    assert set(out) == {2, 9}
    assert out[2].component == 1 and out[2].cluster_size == 2
    assert out[9].cluster_size == 1 and out[9].component == 9


@pytest.fixture(scope="module")
def sf_smoke_events(spark):
    from optiprism_spark.schema import load_table

    return load_table(spark, "/root/testdata/sf0.001", "events")


# -------------------------------------------------------------- HTTP route


def _col(resp, name):
    return next(c["data"] for c in resp["columns"] if c["name"] == name)


def test_http_audience_route(spark):
    """POST /queries/audience serves all three shapes with the shared
    RBAC/cache/admission discipline (route table), and its answers
    equal the operator's own."""
    from optiprism_spark.server import make_app

    from .conftest import SF_SMOKE
    from .test_server import call

    app = make_app(spark, SF_SMOKE, result_cache_ttl=None)
    url = "/api/v1/projects/1/queries/audience"
    jan = {"type": "between", "from": "2024-01-01T00:00:00",
           "to": "2024-01-31T23:59:59"}

    st, venn = call(app, "POST", url, {
        "type": "venn", "a": {"eventName": "signup"},
        "b": {"eventName": "purchase"}, "time": jan})
    assert st == 200
    from optiprism_spark.schema import load_table

    direct = audience_venn(
        load_table(spark, SF_SMOKE, "events"),
        EventRef("signup"), EventRef("purchase"), JAN).first()
    assert _col(venn, "both") == [direct.both]
    assert _col(venn, "union_users") == [direct.union_users]

    st, matrix = call(app, "POST", url,
                      {"type": "overlap-matrix", "time": jan})
    assert st == 200 and len(_col(matrix, "dim_a")) == 10  # C(5,2) pairs

    st, setr = call(app, "POST", url, {
        "type": "set",
        "audiences": {"a": {"eventName": "signup"},
                      "b": {"eventName": "purchase"}},
        "expression": {"op": "and", "args": [{"ref": "a"}, {"ref": "b"}]},
        "time": jan})
    assert st == 200 and _col(setr, "n_users") == [direct.both]

    # caller errors are 400s, not stack traces
    st, _ = call(app, "POST", url, {"type": "venn", "a": {
        "eventName": "signup"}, "time": jan})
    assert st == 400
    st, _ = call(app, "POST", url, {
        "type": "overlap-matrix", "dimension": "no_such_col", "time": jan})
    assert st == 400
    st, guarded = call(app, "POST", url, {
        "type": "overlap-matrix", "time": jan, "maxDims": 3})
    assert st == 200 and len(_col(guarded, "dim_a")) == 3  # C(3,2)
    st, _ = call(app, "POST", url, {
        "type": "overlap-matrix", "time": jan, "maxDims": 1})
    assert st == 400
    st, _ = call(app, "POST", url, {
        "type": "set", "audiences": {"a": {"eventName": "signup"}},
        "expression": {"op": "xor", "args": [{"ref": "a"}]}, "time": jan})
    assert st == 400
    st, _ = call(app, "POST", url, {"type": "sideways", "time": jan})
    assert st == 400


# ------------------------------------------------- KMV day store + stream


def _kmv_rows(day, users, etype="signup"):
    return [Row(ts=dt.datetime(2024, 1, day, 10), user_id=u,
                event_type=etype) for u in users]


def test_kmv_store_update_merges_and_is_idempotent(spark, tmp_path):
    from optiprism_spark.streaming.audience import KmvDayStore

    store = KmvDayStore(str(tmp_path / "kmv"), k=64)
    b1 = spark.createDataFrame(
        _kmv_rows(2, range(10)) + _kmv_rows(2, range(5), "purchase"))
    b2 = spark.createDataFrame(
        _kmv_rows(2, range(5, 15)) + _kmv_rows(3, range(20, 25)))
    assert store.update(spark, b1) == 1
    assert store.update(spark, b2) == 2

    def snapshot():
        return sorted(
            (r.day.isoformat(), r.dim, tuple(r.kmv))
            for r in store.read(spark).collect())

    snap = snapshot()
    got = audience_venn_from_day_sketches(
        store.read(spark), "signup", "purchase", 64).first()
    # signup users: 0..14 on day 2 plus 20..24 on day 3 = 20 distinct;
    # purchase users: 0..4, all of them also signups
    assert (got.users_a, got.users_b, got.both) == (20.0, 5.0, 5.0)
    # replaying an already-folded batch is a no-op (set-union merge)
    store.update(spark, b2)
    assert snapshot() == snap


def test_kmv_store_recompute_days_after_erasure(spark, tmp_path):
    from optiprism_spark.streaming.audience import KmvDayStore

    store = KmvDayStore(str(tmp_path / "kmv"), k=64)
    events = spark.createDataFrame(
        _kmv_rows(2, range(8)) + _kmv_rows(3, [99]))
    store.update(spark, events)
    assert store.read(spark).select("day").distinct().count() == 2

    # user 99 (the only day-3 row) exercises full-partition drop;
    # user 0 exercises the in-place day-2 rebuild
    survivors = events.filter(~F.col("user_id").isin([0, 99]))
    import datetime as _dt

    store.recompute_days(
        spark, survivors, [_dt.date(2024, 1, 2), _dt.date(2024, 1, 3)])
    left = store.read(spark).collect()
    assert {r.day.isoformat() for r in left} == {"2024-01-02"}
    assert len(left[0].kmv) == 7  # users 1..7


def test_mixture_sample_exact_budget_edges(spark):
    from optiprism_spark.operators.assembly import mixture_sample_exact

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="a", text="w " * 9 + "w") for i in range(6)]
    )  # 6 docs x 10 tokens
    # budget 25 -> greedy prefix keeps 3 docs (cum 10, 20, 30): the
    # third starts under budget and overruns by at most one doc
    out = mixture_sample_exact(docs, {"a": 25.0}).collect()
    assert len(out) == 3 and max(r.cum_tokens for r in out) == 30
    # zero budget keeps nothing; saturating budget keeps everything
    assert mixture_sample_exact(docs, {"a": 0.0}).count() == 0
    assert mixture_sample_exact(docs, {"a": 1e9}).count() == 6
    with pytest.raises(ValueError, match="negative"):
        mixture_sample_exact(docs, {"a": -5.0})


def test_http_audience_sketched_venn(spark, tmp_path):
    """`sketched: true` on /queries/audience venn serves from the
    maintained KMV store — exact-valued in the sparse regime, counted
    in the rollup-routing metric, and failing loudly (400) for shapes
    the sketches can't answer rather than silently falling back to a
    raw scan with a different dtype."""
    from optiprism_spark import metrics
    from optiprism_spark.schema import load_table
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore

    from .conftest import SF_SMOKE
    from .test_server import call

    metrics.REGISTRY.reset()
    store = KmvDayStore(str(tmp_path / "kmv"), k=4096)
    events = load_table(spark, SF_SMOKE, "events")
    store.update(spark, events)
    app = make_app(spark, SF_SMOKE, result_cache_ttl=None, kmv_store=store)
    url = "/api/v1/projects/1/queries/audience"
    jan = {"type": "between", "from": "2024-01-01T00:00:00",
           "to": "2024-01-31T23:59:59.999999"}  # whole-day bounded

    body = {"type": "venn", "a": {"eventName": "signup"},
            "b": {"eventName": "purchase"}, "time": jan,
            "sketched": True}
    st, resp = call(app, "POST", url, body)
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="kmv") == 1
    exact = audience_venn(events, EventRef("signup"), EventRef("purchase"),
                          JAN).first()
    # sparse regime: the estimates ARE the exact counts (as doubles)
    assert _col(resp, "both") == [float(exact.both)]
    assert _col(resp, "users_a") == [float(exact.users_a)]
    assert _col(resp, "union_users") == [float(exact.union_users)]

    # ragged window, filters, and a store-less app all 400 loudly
    st, _ = call(app, "POST", url, dict(
        body, time={"type": "between", "from": "2024-01-01T12:00:00",
                    "to": "2024-01-31T23:59:59.999999"}))
    assert st == 400
    st, _ = call(app, "POST", url, dict(
        body, filters={"groups": [{"filters": [
            {"type": "property", "propertyType": "event",
             "propertyName": "value", "operation": "gt", "value": [1]}
        ]}]}))
    assert st == 400
    bare = make_app(spark, SF_SMOKE, result_cache_ttl=None)
    st, _ = call(bare, "POST", url, body)
    assert st == 400


def test_kmv_venn_missing_audience_yields_zero_row(spark):
    # one dim entirely absent from the store window must produce a
    # zeros venn row (what the exact path reports), not an empty frame
    days = kmv_day_sketches(
        spark.createDataFrame(_kmv_rows(2, range(7))), None, k=64)
    got = audience_venn_from_day_sketches(days, "signup", "purchase", 64)
    row = got.first()
    assert got.count() == 1
    assert (row.users_a, row.users_b, row.both) == (7.0, 0.0, 0.0)
    assert row.union_users == 7.0 and row.jaccard == 0.0


# ----------------------------------------------------- shard export sink


def test_write_training_shards_roundtrip(spark, tmp_path):
    import glob
    import shutil

    from optiprism_spark.operators.assembly import (
        verify_training_shards,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(500)])
    path = str(tmp_path / "shards")
    m1 = write_training_shards(docs, path, n_shards=8)
    assert m1["total_rows"] == 500 and len(m1["shards"]) == 8
    # one data file per shard dir — no small-files amplification
    for k in m1["shards"]:
        files = glob.glob(f"{path}/shard={k}/*.parquet")
        assert len(files) == 1, files
    assert verify_training_shards(spark, path)["ok"]

    # deterministic: same data -> identical manifest; and a doc's
    # shard never changes when the corpus grows (hash-stable)
    m2 = write_training_shards(docs, str(tmp_path / "s2"), n_shards=8)
    assert m2["shards"] == m1["shards"]
    bigger = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(1000)])
    m3 = write_training_shards(bigger, str(tmp_path / "s3"), n_shards=8)
    small = spark.read.parquet(path).select("doc_id", "shard")
    big = (spark.read.parquet(str(tmp_path / "s3"))
           .select("doc_id", F.col("shard").alias("shard_big")))
    moved = small.join(big, "doc_id").filter("shard != shard_big").count()
    assert moved == 0 and m3["total_rows"] == 1000

    # the receiving side catches a lost shard and a truncated one
    shutil.rmtree(f"{path}/shard=3")
    v = verify_training_shards(spark, path)
    assert not v["ok"] and v["missing"] == ["3"]

    with pytest.raises(ValueError, match="n_shards"):
        write_training_shards(docs, str(tmp_path / "s4"), n_shards=0)


def test_kmv_store_read_prunes_day_partitions(spark, tmp_path):
    """The store is dt-partitioned by day; a windowed read must prune
    to the requested partitions (the sketched-venn serving path reads
    days, not the store)."""
    from optiprism_spark.streaming.audience import KmvDayStore

    store = KmvDayStore(str(tmp_path / "kmv"), k=64)
    store.update(spark, spark.createDataFrame(
        _kmv_rows(2, range(5)) + _kmv_rows(3, range(5))
        + _kmv_rows(4, range(5))))
    pruned = store.read(spark).filter(
        (F.col("day") >= "2024-01-03") & (F.col("day") <= "2024-01-03"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # a non-empty partition filter on the day column (an unpruned
    # scan prints "PartitionFilters: []")
    assert re.search(rf"PartitionFilters: \[[^\]]*\b{store.day_col}#",
                     plan), plan
    # the pruned scan reads exactly the one day
    assert pruned.count() == 1


# ------------------------------------------- r12 review-fix regressions


def test_venn_empty_window_reports_zeros_not_nulls(spark):
    ev = _events(spark, [(1, "view")])
    row = audience_venn(
        ev, EventRef("signup"), EventRef("purchase"),
        QueryTime.between(dt.datetime(2030, 1, 1),
                          dt.datetime(2030, 1, 2))).first()
    assert (row.users_a, row.users_b, row.both,
            row.union_users) == (0, 0, 0, 0)  # zeros, not NULLs


def test_http_audience_caller_errors_are_400s(spark, tmp_path):
    """Malformed caller input must 400 with a reason, never 500:
    non-integer/over-cap maxDims (the operator default of 200 would
    overflow MAX_RESPONSE_ROWS at C(200,2)=19,900 — the route caps at
    141), malformed set audiences/expressions, bad drift bin params,
    and a KMV store keyed on the wrong dimension."""
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore

    from .conftest import SF_SMOKE
    from .test_server import call

    wrong_store = KmvDayStore(str(tmp_path / "kmv"), k=64, dim_col="lang")
    wrong_store.update(spark, spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 2), user_id=1, lang="en")]))
    app = make_app(spark, SF_SMOKE, result_cache_ttl=None,
                   kmv_store=wrong_store)
    url = "/api/v1/projects/1/queries/audience"
    jan = {"type": "between", "from": "2024-01-01T00:00:00",
           "to": "2024-01-31T23:59:59.999999"}

    for bad in ("abc", 1, 142, None):
        st, _ = call(app, "POST", url, {
            "type": "overlap-matrix", "time": jan, "maxDims": bad})
        assert st == 400, bad
    st, _ = call(app, "POST", url, {
        "type": "set", "audiences": {"a": {"eventType": "regular"}},
        "expression": {"ref": "a"}, "time": jan})
    assert st == 400  # audience dict missing eventName
    st, _ = call(app, "POST", url, {
        "type": "set", "audiences": {"a": {"eventName": "signup"}},
        "expression": "a", "time": jan})
    assert st == 400  # non-dict expression node
    st, _ = call(app, "POST", url, {
        "type": "venn", "a": {"eventName": "signup"},
        "b": {"eventName": "purchase"}, "time": jan, "sketched": True})
    assert st == 400  # store sketches 'lang', not event names

    durl = "/api/v1/projects/1/queries/drift"
    base = {"type": "numeric", "property": "value",
            "baseline": {"type": "between", "from": "2024-01-01T00:00:00",
                         "to": "2024-01-15T23:59:59.999999"},
            "actual": {"type": "between", "from": "2024-01-16T00:00:00",
                       "to": "2024-01-31T23:59:59.999999"}}
    for bad_body in (dict(base, quantileBins="x"),
                     dict(base, quantileBins=-5),
                     dict(base, bins=1)):
        st, _ = call(app, "POST", durl, bad_body)
        assert st == 400, bad_body


def test_http_overlap_matrix_default_fits_response_cap(spark):
    """With no maxDims the route must use a default whose worst-case
    pair count fits MAX_RESPONSE_ROWS."""
    from optiprism_spark.server import MAX_RESPONSE_ROWS, make_app

    from .conftest import SF_SMOKE
    from .test_server import call

    app = make_app(spark, SF_SMOKE, result_cache_ttl=None)
    st, resp = call(app, "POST", "/api/v1/projects/1/queries/audience",
                    {"type": "overlap-matrix",
                     "time": {"type": "between",
                              "from": "2024-01-01T00:00:00",
                              "to": "2024-01-31T23:59:59"}})
    assert st == 200
    assert 141 * 140 / 2 <= MAX_RESPONSE_ROWS


def test_kmv_build_is_two_stage_salted(spark):
    """r12 verdict What's-wrong #2: the day-sketch build must never
    rank ALL distinct users of a hot (day, dim) through one window
    task. The plan must show the two-stage K-min: the window over the
    USER-SCALE frame partitions by (day, dim, salt); only the bounded
    (≤ salts × k rows per cell) survivor frame meets a bare (day, dim)
    window. Equivalence of the rewrite is checked value-for-value in
    test_kmv_sketched_venn_* (same sketches, same hashes)."""
    from optiprism_spark.operators.audience import kmv_day_sketches

    ev = spark.createDataFrame(
        _kmv_rows(2, range(50)) + _kmv_rows(3, range(30), "purchase"))
    plan = kmv_day_sketches(
        ev, k=16)._jdf.queryExecution().optimizedPlan().toString()
    wins = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert len(wins) == 2, plan
    outer, inner = wins  # toString is top-down: outer first
    assert "__s" in inner, plan    # user-scale window IS salted
    assert "__s" not in outer, plan  # survivor re-rank needs no salt
    # and the survivor frame really is the rank-filtered one
    assert plan.count("__rn") >= 4 and "WindowGroupLimit" in plan, plan


def test_http_audience_sketched_overlap_matrix(spark, tmp_path):
    """`sketched: true` on /queries/audience overlap-matrix serves
    the K×K matrix from the KMV day store (r13: the family's most
    expensive surface no longer forces a raw scan): exact-valued in
    the sparse regime vs the exact operator, routed-metric counted,
    maxDims honored, and shape mismatches still 400."""
    from optiprism_spark import metrics
    from optiprism_spark.schema import load_table
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore

    from .conftest import SF_SMOKE
    from .test_server import call

    metrics.REGISTRY.reset()
    store = KmvDayStore(str(tmp_path / "kmv"), k=4096)
    events = load_table(spark, SF_SMOKE, "events")
    store.update(spark, events)
    app = make_app(spark, SF_SMOKE, result_cache_ttl=None, kmv_store=store)
    url = "/api/v1/projects/1/queries/audience"
    jan = {"type": "between", "from": "2024-01-01T00:00:00",
           "to": "2024-01-31T23:59:59.999999"}

    body = {"type": "overlap-matrix", "time": jan, "sketched": True}
    st, resp = call(app, "POST", url, body)
    assert st == 200
    assert metrics.query_rollup_routed_total().value(path="kmv") == 1
    exact = {(r.dim_a, r.dim_b): r for r in overlap_matrix(
        events, JAN).collect()}
    got = list(zip(_col(resp, "dim_a"), _col(resp, "dim_b"),
                   _col(resp, "users_a"), _col(resp, "overlap")))
    assert got, "sketched matrix returned no pairs"
    assert {(a, b) for a, b, *_ in got} == set(exact)
    for a, b, ua, ov in got:  # sparse regime: estimates ARE exact
        assert ua == float(exact[(a, b)].users_a)
        assert ov == float(exact[(a, b)].overlap)

    # maxDims guards the sketched path too (top-K by estimated users)
    st, small = call(app, "POST", url, dict(body, maxDims=2))
    assert st == 200
    assert len(_col(small, "dim_a")) <= 1  # C(2,2)=1 pair at most

    # ragged window / filters 400 exactly like the venn path
    st, _ = call(app, "POST", url, dict(
        body, time={"type": "between", "from": "2024-01-01T12:00:00",
                    "to": "2024-01-31T23:59:59.999999"}))
    assert st == 400
    app2 = make_app(spark, SF_SMOKE, result_cache_ttl=None)
    st, _ = call(app2, "POST", url, body)
    assert st == 400  # store-less app


def test_overlap_matrix_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir= swaps localCheckpoint (no recompute path —
    executor loss kills the query) for reliable df.checkpoint files
    under the given dir, the neardup_clusters contract (r12 verdict
    Missing #3). Results are unchanged."""
    ev = _events(spark, [
        (1, "signup"), (1, "purchase"), (2, "signup"),
        (2, "view"), (3, "purchase"), (3, "view"),
    ])
    base = {(r.dim_a, r.dim_b): (r.users_a, r.users_b, r.overlap)
            for r in overlap_matrix(ev, JAN).collect()}
    ckpt = str(tmp_path / "ckpt")
    out = {(r.dim_a, r.dim_b): (r.users_a, r.users_b, r.overlap)
           for r in overlap_matrix(
               ev, JAN, checkpoint_dir=ckpt).collect()}
    assert out == base
    import os

    files = [os.path.join(r, f) for r, _d, fs in os.walk(ckpt) for f in fs]
    assert files, "no reliable checkpoint files landed under the dir"


def test_set_count_from_day_sketches_matches_exact(spark, tmp_path):
    """Common-theta set evaluation: arbitrary and/or/not expressions
    from stored sketches equal the exact flags path in the sparse
    regime — including a NOT, the case HLL-style sketches cannot do.
    Also exercised through the HTTP opt-in (audience names rewritten
    to event names)."""
    from optiprism_spark.operators.audience import (
        audience_set_count_from_day_sketches,
        kmv_day_sketches,
    )
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore

    from .test_server import call

    ev = _events(spark, [
        (1, "signup"), (1, "purchase"), (2, "signup"), (2, "error"),
        (3, "purchase"), (4, "signup"), (4, "purchase"), (4, "error"),
        (5, "view"),
    ])
    expr = {"op": "and", "args": [
        {"ref": "signup"}, {"ref": "purchase"},
        {"op": "not", "args": [{"ref": "error"}]}]}
    exact = audience_set_count(
        ev, {"signup": EventRef("signup"), "purchase": EventRef("purchase"),
             "error": EventRef("error")},
        {"op": "and", "args": [
            {"ref": "signup"}, {"ref": "purchase"},
            {"op": "not", "args": [{"ref": "error"}]}]},
        JAN).first().n_users
    days = kmv_day_sketches(ev, JAN, k=256)
    got = audience_set_count_from_day_sketches(days, expr, k=256).first()
    assert got.n_users == float(exact) == 1.0  # only user 1

    # OR and single-ref shapes
    got_or = audience_set_count_from_day_sketches(
        days, {"op": "or", "args": [{"ref": "signup"}, {"ref": "view"}]},
        k=256).first()
    assert got_or.n_users == 4.0  # users 1, 2, 4, 5
    got_one = audience_set_count_from_day_sketches(
        days, {"ref": "error"}, k=256).first()
    assert got_one.n_users == 2.0

    # HTTP: sketched set with audience-name → event-name rewrite
    store = KmvDayStore(str(tmp_path / "kmv"), k=256)
    store.update(spark, ev)
    from .conftest import SF_SMOKE

    app = make_app(spark, SF_SMOKE, result_cache_ttl=None, kmv_store=store)
    url = "/api/v1/projects/1/queries/audience"
    jan = {"type": "between", "from": "2024-01-01T00:00:00",
           "to": "2024-01-31T23:59:59.999999"}
    body = {"type": "set",
            "audiences": {"a": {"eventName": "signup"},
                          "b": {"eventName": "purchase"},
                          "c": {"eventName": "error"}},
            "expression": {"op": "and", "args": [
                {"ref": "a"}, {"ref": "b"},
                {"op": "not", "args": [{"ref": "c"}]}]},
            "time": jan, "sketched": True}
    st, resp = call(app, "POST", url, body)
    assert st == 200
    assert _col(resp, "n_users") == [1.0]
    # shape mismatches still 400: unknown ref, ragged window (the
    # store's whole-day grain), property filters
    st, _ = call(app, "POST", url, dict(
        body, expression={"ref": "nope"}))
    assert st == 400
    st, _ = call(app, "POST", url, dict(
        body, time={"type": "between", "from": "2024-01-01T12:00:00",
                    "to": "2024-01-31T23:59:59.999999"}))
    assert st == 400
    st, _ = call(app, "POST", url, dict(
        body, filters={"groups": [{"filters": [
            {"type": "property", "propertyType": "event",
             "propertyName": "value", "operation": "gt", "value": [1]}
        ]}]}))
    assert st == 400
