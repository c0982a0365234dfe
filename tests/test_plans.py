"""Plan-shape regression tests — the 100 TB properties.

Correctness tests prove the numbers; these prove the PLANS stay
scale-sane: column pruning reaches the parquet scan, aggregations are
partial/final (map-side combine), small sides broadcast, top-k fuses
into TakeOrdered, and the funnel shuffles exactly once. A regression
here is invisible at sf0.01 and catastrophic at 100 TB.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

from optiprism_spark.registry import QUERIES

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def test_segmentation_scan_prunes_columns(spark):
    plan = _plan(QUERIES["seg_count_daily_by_type"](spark, SF_SMOKE))
    schemas = _scan_read_schemas(plan)
    assert schemas, f"no FileScan in plan:\n{plan}"
    # count-by-type needs ONLY ts + event_type; reading more at 100 TB
    # multiplies scan bytes
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"ts", "event_type"}, cols


def test_segmentation_has_partial_aggregation(spark):
    plan = _plan(QUERIES["seg_count_daily_by_type"](spark, SF_SMOKE))
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") == 1  # one shuffle total


def test_two_level_agg_shuffles_at_most_twice(spark):
    plan = _plan(QUERIES["seg_sum_per_user_outer"](spark, SF_SMOKE))
    # inner per-user agg + outer chart agg: 2 hash exchanges max
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_segment_membership_is_broadcast_semi_join(spark):
    plan = _plan(QUERIES["seg_count_daily_segmented"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_record_search_fuses_sort_and_limit(spark):
    plan = _plan(QUERIES["event_records_search_purchases"](spark, SF_SMOKE))
    # sort+limit must fuse to TakeOrdered (per-partition top-k then
    # merge) — a global Sort of the events table would be a full shuffle
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan


def test_ann_broadcasts_query_side(spark):
    plan = _plan(QUERIES["sim_cosine_topk"](spark, SF_SMOKE))
    assert "Broadcast" in plan  # corpus side never shuffles for the join


def test_funnel_shuffles_once_on_user(spark):
    from optiprism_spark.operators.funnel import funnel_attempts
    from optiprism_spark.suites.funnel import _req
    from optiprism_spark.schema import load_table

    df = funnel_attempts(load_table(spark, SF_SMOKE, "events"), _req())
    plan = _plan(df)
    assert "MapInPandas" in plan
    # exactly one exchange: the explicit repartition on user_id
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_dimension_chain_joins_all_broadcast(spark):
    plan = _plan(QUERIES["wh_top_brands_by_region"](spark, SF_SMOKE))
    # part⋈supplier⋈nation⋈region all broadcast: the fact scan reaches
    # the aggregate without a single join shuffle
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert plan.count("Exchange hashpartitioning") == 1  # final groupBy only


def test_geo_enrich_scan_stays_shuffle_free(spark):
    plan = _plan(QUERIES["ingest_geo_country_counts"](spark, SF_SMOKE))
    # the IP-range lookup must stay a bucketed EQUI-join (residual
    # BETWEEN), never degrade to a broadcast nested-loop range scan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the only exchange is the final groupBy("country") — the events
    # side must NOT shuffle for the dimension join
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dictionary_rank_is_partitioned(spark):
    """build_dictionary must not rank all distinct values through one
    task: the rank runs per range-partition (window partitioned by
    partition id) with broadcast offsets — no un-partitioned Window
    over the values frame."""
    from optiprism_spark.operators.dictionary import build_dictionary
    from optiprism_spark.schema import load_table

    events = load_table(spark, SF_SMOKE, "events")
    d = build_dictionary(events, "event_type")
    plan = _plan(d)
    assert "rangepartitioning" in plan.lower(), plan
    # every Window spec must carry a partitionBy (the __pid column)
    for m in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "__pid" in m or "windowspecdefinition" not in m, plan
    # the mapping itself must still be the value-ordered dense ranking
    rows = sorted((r.key, r.value) for r in d.collect())
    values = sorted(
        r.event_type for r in events.select("event_type").distinct().collect()
    )
    assert rows == [(i + 1, v) for i, v in enumerate(values)]


def test_limit_groups_has_no_global_window(spark):
    """limit_groups must find the top series with TakeOrdered + a
    broadcast semi-join, not a whole-frame un-partitioned window."""
    from optiprism_spark.operators.reshape import limit_groups
    from optiprism_spark.schema import load_table

    events = load_table(spark, SF_SMOKE, "events")
    agg = events.groupBy("event_type").agg(F.sum("value").alias("total"))
    out = limit_groups(agg, ["event_type"], limit=3, order_col="total")
    plan = _plan(out)
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert out.count() == 3


def test_lsh_pipeline_scans_documents_once(spark):
    """The LSH near-dup pipeline must read the documents table exactly
    once — shingles/signatures are computed one time and reused by the
    banding and verification joins (a second full text-shingling scan
    doubles the dominant cost at scale)."""
    spark.catalog.clearCache()  # stale cache entries from other tests
    plan = _plan(QUERIES["dedup_lsh_near_pairs"](spark, SF_SMOKE))
    scans = plan.count("FileScan parquet")
    cached_defs = plan.count("InMemoryRelation")
    in_memory = plan.count("InMemoryTableScan")
    # every FileScan in the printout is the cache's own definition
    # subtree (printed once per InMemoryTableScan) — no direct scan
    assert scans == cached_defs, f"{scans} scans vs {cached_defs} cache defs:\n{plan}"
    assert in_memory >= 2, plan  # base frame reused from cache


def test_embedding_near_pairs_default_is_bucketed(spark):
    """The public near-dup entry point must default to the LSH
    bucketed equi-join — an N² cross join as the reach-for-first path
    is a 100 TB foot-gun (exact=True is the explicit opt-in)."""
    from optiprism_spark.operators.similarity import embedding_near_pairs
    from optiprism_spark.schema import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(embedding_near_pairs(emb, threshold=0.4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    exact_plan = _plan(embedding_near_pairs(emb, threshold=0.4, exact=True))
    assert (
        "CartesianProduct" in exact_plan or "BroadcastNestedLoopJoin" in exact_plan
    ), exact_plan  # the opt-in baseline really is the N² shape


def test_jaccard_default_routes_through_lsh_candidates(spark):
    """jaccard_pairs must default to the LSH candidate-verify pipeline
    (recognizable by its persisted signature base frame), not the raw
    inverted-index self-join whose output grows with shingle
    co-occurrence."""
    from optiprism_spark.operators._util import unpersist_tracked
    from optiprism_spark.operators.dedup import jaccard_pairs
    from optiprism_spark.schema import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    try:
        plan = _plan(jaccard_pairs(docs, threshold=0.5))
        assert "InMemoryTableScan" in plan, plan  # LSH base frame reused
    finally:
        unpersist_tracked()


def test_tracked_persists_are_released(spark):
    """Operators that persist intermediates (LSH base signatures, IVF
    assignment) must release executor storage memory via
    unpersist_tracked — a long-lived session serving many queries
    can't wait for driver-GC ContextCleaner sweeps."""
    import gc
    import time

    from optiprism_spark.operators._util import unpersist_tracked
    from optiprism_spark.operators.dedup import lsh_near_dup_pairs
    from optiprism_spark.operators.similarity import embedding_near_pairs_ivf
    from optiprism_spark.schema import load_table

    def stable_persist_count() -> int:
        # localCheckpoint RDDs from EARLIER tests in this shared
        # session are released by ContextCleaner only after driver GC
        # — force it and wait for the count to settle, else this test
        # is order/timing-dependent
        gc.collect()
        prev = spark.sparkContext._jsc.getPersistentRDDs().size()
        for _ in range(20):
            time.sleep(0.25)
            cur = spark.sparkContext._jsc.getPersistentRDDs().size()
            if cur == prev:
                return cur
            prev = cur
        return prev

    def persistent_ids() -> set:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    spark.catalog.clearCache()
    unpersist_tracked()
    stable_persist_count()
    before = persistent_ids()
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lsh_near_dup_pairs(docs, threshold=0.6).count()
    embedding_near_pairs_ivf(emb, threshold=0.4, persist_assignment=True).count()
    # compare NEW rdd ids, not global counts: ContextCleaner may sweep
    # STALE localCheckpoint RDDs from earlier tests mid-run, shrinking
    # the global count and making a count comparison order/GC-dependent
    created = persistent_ids() - before
    assert len(created) >= 2, created
    assert unpersist_tracked() == 2
    assert not (persistent_ids() & created), "tracked persists not freed"


def test_materialize_properties_is_narrow(spark):
    """Property materialization must stay a pure projection: no
    Exchange anywhere — at 100 TB a shuffle here would turn a
    schema-evolution rewrite into a full re-cluster."""
    from optiprism_spark.catalog import Catalog
    from optiprism_spark.ingest import materialize_properties
    from optiprism_spark.schema import load_table

    cat = Catalog()
    cat.create_property(1, {"name": "k", "dataType": "int64"})
    cat.create_property(1, {"name": "tag", "dataType": "string"})
    out = materialize_properties(load_table(spark, SF_SMOKE, "events"), cat, 1)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "e_i64_0" in out.columns and "e_str_0" in out.columns


def test_gopher_quality_is_narrow_and_prunes(spark):
    """Quality filtering is a narrow map stage reading only (doc_id,
    text) — no shuffle, no extra columns into the scan."""
    from optiprism_spark.operators.text import gopher_quality
    from optiprism_spark.schema import load_table

    out = gopher_quality(load_table(spark, SF_SMOKE, "documents"))
    plan = _plan(out)
    # spread() may inject ONE round-robin redistribution when the scan
    # has fewer splits than cores (no-op at scale); what must never
    # appear is a KEY shuffle — the op has no grouping to pay for.
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    schemas = _scan_read_schemas(plan)
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_geo_csv_loader_broadcasts_locations(spark, tmp_path):
    """The GeoLite2 locations dim must broadcast into the blocks join
    — a shuffle join on a dim of country names would be absurd at any
    scale."""
    from optiprism_spark.ingest import geo_range_table_from_csv

    blocks = tmp_path / "b.csv"
    blocks.write_text("network,geoname_id,registered_country_geoname_id\n"
                      "8.8.8.0/24,1,1\n")
    locs = tmp_path / "l.csv"
    locs.write_text("geoname_id,country_iso_code\n1,US\n")
    plan = _plan(geo_range_table_from_csv(spark, str(blocks), str(locs)))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_funnel_bucketed_table_elides_shuffle(spark, tmp_path):
    """Write-time bucketing by user elides the funnel's only shuffle:
    assume_partitioned=True over a bucketed table produces NO Exchange
    before the state machine AND identical results to the default
    path — the reference's storage-sort invariant as a lake layout."""
    import datetime as dt

    from optiprism_spark.dsl import (
        EventFilterSpec,
        EventRef,
        FunnelRequest,
        FunnelStep,
        QueryTime,
        TimeIntervalUnit,
    )
    from optiprism_spark.ingest import write_events_bucketed
    from optiprism_spark.operators.funnel import funnel_attempts
    from optiprism_spark.schema import load_table

    events = load_table(spark, SF_SMOKE, "events")
    from .conftest import drop_table_clean

    drop_table_clean(spark, "events_bucketed_test")
    write_events_bucketed(events, "events_bucketed_test", n_buckets=4)
    try:
        bucketed = spark.table("events_bucketed_test")
        req = FunnelRequest(
            time=QueryTime.between(
                dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59)),
            interval=TimeIntervalUnit.DAY,
            steps=[
                FunnelStep([EventFilterSpec(EventRef("view"))]),
                FunnelStep([EventFilterSpec(EventRef("purchase"))]),
            ],
            window_ms=7 * 86_400_000,
        )
        fast = funnel_attempts(bucketed, req, assume_partitioned=True)
        plan = _plan(fast)
        assert "Exchange" not in plan, plan
        slow = funnel_attempts(events, req)

        def key(r):
            return (r.user_id, r.steps_completed, r.is_completed, r.attempt_ts)

        assert sorted(map(key, fast.collect())) == sorted(map(key, slow.collect()))

        # ---- maintenance loop: fresh appends land date-partitioned,
        # compaction folds them in, and the invariant (no Exchange,
        # same results as the default path) still holds
        from optiprism_spark.ingest import compact_appends_into_bucketed
        from optiprism_spark.streaming.sessionize import append_events

        fresh = (
            events.orderBy("event_id").limit(40)
            .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
        )
        appends_path = str(tmp_path / "appends")
        append_events(fresh, appends_path)
        n = compact_appends_into_bucketed(
            spark, "events_bucketed_test", appends_path,
            str(tmp_path / "tiers"))
        assert n == 40

        bucketed2 = spark.table("events_bucketed_test")
        assert bucketed2.count() == events.count() + 40
        fast2 = funnel_attempts(bucketed2, req, assume_partitioned=True)
        plan2 = _plan(fast2)
        assert "Exchange" not in plan2, plan2
        slow2 = funnel_attempts(events.unionByName(fresh), req)
        assert sorted(map(key, fast2.collect())) == sorted(map(key, slow2.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS events_bucketed_test")


def test_lsh_incremental_store_probe_is_broadcast(spark):
    """The incremental near-dup path must probe the signature store
    with a BROADCAST of the batch's band keys — the store side (the
    100 TB side) joins without a cartesian and without being shuffled
    for the key probe."""
    from optiprism_spark.operators._util import unpersist_tracked
    from optiprism_spark.operators.dedup import (
        _base_signatures,
        lsh_incremental_pairs,
    )
    from optiprism_spark.schema import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    store = _base_signatures(
        docs.filter(F.col("doc_id") < 400), 8, 3, "text", "doc_id")
    pairs, _ = lsh_incremental_pairs(
        docs.filter(F.col("doc_id") >= 400), store, threshold=0.6)
    plan = _plan(pairs)
    try:
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    finally:
        unpersist_tracked()


def test_event_paths_shuffles_twice_and_fuses_topk(spark):
    """Path analysis: one user-hash exchange feeds the lead() window,
    one path exchange feeds the (count, count_distinct) aggregate —
    the single-distinct rewrite folds the per-(path,user) partial into
    the same exchange — and the top-k cut is TakeOrdered, never a
    global sort."""
    import datetime as dt

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.paths import event_paths
    from optiprism_spark.schema import load_table

    W = QueryTime.between(
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))
    df = event_paths(
        load_table(spark, SF_SMOKE, "events"),
        EventRef("signup"), W, steps=4, top_k=15)
    plan = _plan(df)
    assert plan.count("Exchange") == 2, plan
    assert "hashpartitioning(user_id" in plan
    assert "TakeOrderedAndProject" in plan, plan
    # only the 4 sequence columns reach the scan
    (schema,) = _scan_read_schemas(plan)
    assert set(re.findall(r"(\w+):", schema)) == {
        "event_id", "ts", "user_id", "event_type"}


def test_event_paths_bucketed_table_elides_window_shuffle(spark):
    """Over the user-bucketed events layout the window's distribution
    requirement is satisfied by the scan itself — Catalyst drops the
    user-hash Exchange without any operator hint, leaving only the
    low-cardinality path aggregation."""
    import datetime as dt

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.ingest import write_events_bucketed
    from optiprism_spark.operators.paths import event_paths
    from optiprism_spark.schema import load_table

    W = QueryTime.between(
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))
    events = load_table(spark, SF_SMOKE, "events")
    from .conftest import drop_table_clean

    drop_table_clean(spark, "events_paths_bucketed_test")
    write_events_bucketed(events, "events_paths_bucketed_test", n_buckets=4)
    try:
        fast = event_paths(
            spark.table("events_paths_bucketed_test"),
            EventRef("signup"), W, steps=4, top_k=15)
        plan = _plan(fast)
        assert plan.count("Exchange") == 1, plan
        assert "hashpartitioning(user_id" not in plan, plan
        # identical results to the raw-scan path
        slow = event_paths(events, EventRef("signup"), W, steps=4, top_k=15)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS events_paths_bucketed_test")


def test_attribution_no_cartesian_and_partial_aggs(spark):
    """Attribution pairing is a user-key equi-join (never cartesian),
    the first/last rank shares the join's user-hash partitioning, and
    the per-channel rollup partial-aggregates map-side."""
    import datetime as dt

    from pyspark.sql import functions as F

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.attribution import attribution_report
    from optiprism_spark.schema import load_table

    W = QueryTime.between(
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))
    df = attribution_report(
        load_table(spark, SF_SMOKE, "events"),
        channel_col=F.col("event_type"),
        touch_event=EventRef("view"),
        conversion_event=EventRef("purchase"),
        time=W, model="last_touch", lookback=dt.timedelta(days=7))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_" in plan, plan
    # scans are narrow: only the pairing columns reach parquet
    for schema in _scan_read_schemas(plan):
        cols = set(re.findall(r"(\w+):", schema))
        assert cols <= {"event_id", "ts", "user_id", "event_type", "value"}, cols


def test_whale_guard_joinback_broadcasts_under_aqe(spark):
    """The cap_rows_per_key cutoff frame (one row per over-cap key)
    must come back as a BROADCAST join in AQE's final plan — if a
    conf change ever demoted it to a second full shuffle, the guard
    would double the exchange cost it exists to remove. The pre-AQE
    plan can't show this (the join strategy is a runtime re-plan), so
    execute and read the final adaptive plan."""
    from optiprism_spark.operators.whale import cap_rows_per_key
    from optiprism_spark.schema import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id")
    capped = cap_rows_per_key(ev, "user_id", 5, "ts", "event_id")
    # collect() runs THIS DataFrame's QueryExecution (count() would
    # spawn a fresh one), so its AdaptiveSparkPlan finalizes in place
    capped.collect()
    final = capped._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "BroadcastHashJoin" in final, final


def test_paths_guard_rides_sequence_window(spark):
    """The paths whale guard must NOT add a shuffle or a join: the
    row_number cap shares the lead/lag window's partitioning and sort,
    so the guarded plan keeps exactly one Sort and gains no Join —
    r8 measured the old cutoff-join guard at ~17% overhead on a
    whale-free corpus; this shape is what makes it ~free."""
    import re as _re

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.operators.paths import event_paths
    from optiprism_spark.schema import load_table

    W = QueryTime.between(
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31, 23, 59, 59))
    ev = load_table(spark, SF_SMOKE, "events")
    guarded = event_paths(
        ev, EventRef("signup"), W, steps=3, max_rows_per_user=10)
    plan = _plan(guarded)
    assert len(_re.findall(r"\bSort \[", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Window") == 2, plan  # rank window + lead window


def test_cobucketed_fact_join_elides_exchange(spark):
    """wh_revenue_by_nation_bucketed: the orders⋈lineitem join over
    the co-bucketed layout must plan with NO shuffle Exchange anywhere
    below the final aggregate's own exchange — the write-time layout
    carries the join's partitioning. Broadcast is disabled so the test
    pins the co-partitioned sort-merge path (at real scale neither
    fact side broadcasts anyway)."""
    from optiprism_spark.warehouse_layout import cobucketed_order_facts

    o, l = cobucketed_order_facts(spark, SF_SMOKE, n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
            "l_extendedprice", "o_custkey")
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # the full registered query: the ONLY shuffle left is the
        # final groupBy(nation) aggregate exchange (25 rows wide) —
        # the join itself contributes none
        full = QUERIES["wh_revenue_by_nation_bucketed"](spark, SF_SMOKE)
        fplan = _plan(full)
        assert fplan.count("Exchange hashpartitioning") == 1, fplan
        assert "SortMergeJoin" in fplan, fplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cobucketed_join_matches_plain(spark):
    from optiprism_spark.registry import QUERIES as Q

    a = sorted(map(tuple, Q["wh_revenue_by_nation"](spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, Q["wh_revenue_by_nation_bucketed"](spark, SF_SMOKE).collect()))
    assert a == b


def test_cobucketed_semi_join_elides_exchange(spark):
    """wh_order_priority_bucketed: the left-semi fact join over the
    co-bucketed layout plans with only the final tiny aggregate
    exchange, and the returnflag filter pushes into the bucketed
    lineitem scan."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERIES["wh_order_priority_bucketed"](spark, SF_SMOKE))
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "LeftSemi" in plan, plan
        assert "EqualTo(l_returnflag,R)" in plan or "l_returnflag" in plan.split(
            "PushedFilters")[1].split("]")[0], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_attribution_join_elides_shuffle_on_bucketed_lake(spark):
    """attribution_report's conversions x touches pairing joins on the
    user key — on the user-bucketed lake layout both sides inherit the
    bucket partitioning through their filters/aliases, so the join AND
    the (user, conversion) window run Exchange-free up to the final
    per-channel aggregate (Catalyst does this natively off the bucket
    metadata — no assume_partitioned knob needed, unlike the
    applyInPandas funnel). Results match the raw-scan plan exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from optiprism_spark.dsl import EventRef, QueryTime
    from optiprism_spark.ingest import write_events_bucketed
    from optiprism_spark.operators.attribution import attribution_report
    from optiprism_spark.schema import load_table

    from .conftest import drop_table_clean

    events = load_table(spark, SF_SMOKE, "events")
    drop_table_clean(spark, "events_attr_bucketed_test")
    write_events_bucketed(events, "events_attr_bucketed_test", n_buckets=4)
    try:
        bucketed = spark.table("events_attr_bucketed_test")
        base_kw = dict(
            channel_col=F.col("event_type"),
            touch_event=EventRef("view"),
            conversion_event=EventRef("purchase"),
            time=QueryTime.between(
                dt.datetime(2024, 1, 1),
                dt.datetime(2024, 1, 31, 23, 59, 59)),
            lookback=dt.timedelta(days=7),
        )
        import re
        for model in ("first_touch", "last_touch", "linear",
                      "time_decay", "position"):
            kw = dict(base_kw, model=model)
            fast = attribution_report(bucketed, **kw)
            plan = _plan(fast)
            # no user-keyed shuffle may remain: only the k-row
            # per-channel aggregate (plus broadcasts) shuffles
            shuffles = re.findall(
                r"Exchange hashpartitioning\(([^)]*)\)", plan)
            assert all("user_id" not in s for s in shuffles), (
                model, shuffles)
            slow = attribution_report(events, **kw)
            assert sorted(map(str, fast.collect())) == sorted(
                map(str, slow.collect())), model
    finally:
        spark.sql("DROP TABLE IF EXISTS events_attr_bucketed_test")


def test_market_share_dims_broadcast_fact_shuffles_once(spark):
    plan = _plan(QUERIES["wh_market_share_by_year"](spark, SF_SMOKE))
    # six dimension hops (part, supplier, supp-nation, customer,
    # cust-nation⋈region pre-joined) ALL broadcast: the only
    # non-broadcast exchanges are the fact⋈fact join and the final
    # year-grain groupBy — at 100 TB the lineitem side never shuffles
    # for a dimension
    assert plan.count("BroadcastHashJoin") >= 6, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_lness_grid_is_two_partial_aggregates(spark):
    plan = _plan(QUERIES["eng_l7_l28_grid"](spark, SF_SMOKE))
    # per-user distinct-day counts partial-aggregate before their
    # shuffle; the (l_short, l_long) histogram adds one more — no
    # joins, no windows, per-user state never collects
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # r16: the two count_distincts became a (user, day) dedup + plain
    # conditional counts — no Expand row-doubling into the exchange
    assert "Expand" not in plan, plan


def test_growth_ledger_single_user_exchange(spark):
    plan = _plan(QUERIES["eng_growth_accounting_weekly"](spark, SF_SMOKE))
    # r16: sort_array(collect_set(bucket)) folds each user's activity
    # in ONE user-hash exchange (map-side partial_collect_set); the
    # old distinct-exchange + lag/lead-window-exchange stack is gone
    assert "partial_collect_set" in plan, plan
    assert "Window" not in plan, plan


def test_events_battery_multi_distinct_has_no_expand(spark):
    plan = _plan(QUERIES["dq_events_battery"](spark, SF_SMOKE))
    # r17: the two exact uniqueness constraints plan as independent
    # two-phase distinct aggregates (dedup the key grain map-side,
    # then count) cross-joined onto the plain-agg pass — the old
    # multi-distinct Expand duplicated every scanned row once per
    # distinct group into the first exchange
    assert "Expand" not in plan, plan
    # the plain metrics still partial-aggregate in one scan
    assert "partial_count" in plan, plan


def test_ivf_auto_assignment_builds_once(spark):
    # r17: the bucket-cap count branch must read the persisted
    # assignment, not re-run the quantizer+assignment from parquet.
    # Shape after the two-persist fix: the pre-cap assignment is one
    # cache (built once from parquet), the capped frame is a second
    # cache whose build is the LeftAnti reading the FIRST cache on
    # both sides — so every LeftAnti child in the plan must be an
    # InMemoryTableScan, and the outermost relation (the post-cap
    # cache the pair self-join consumes twice) wraps the anti-join
    # rather than sitting under it.
    from optiprism_spark.operators.similarity import embedding_near_pairs_ivf
    from optiprism_spark.schema import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = embedding_near_pairs_ivf(
        emb, threshold=0.40, n_centroids="auto", max_bucket="auto")
    plan = _plan(df)
    try:
        assert "InMemoryTableScan" in plan, plan
        lines = plan.splitlines()
        anti = [i for i, l in enumerate(lines) if "LeftAnti" in l]
        assert anti, plan
        for i in anti:
            probe_side = "\n".join(lines[i + 1:i + 3])
            assert "InMemoryTableScan" in probe_side, plan
        # post-cap cache wraps the anti-join: the first relation in
        # the plan text appears BEFORE the first LeftAnti (the old
        # single-persist-after-cap shape had it the other way and
        # re-ran the quantizer chain in the count branch)
        assert plan.index("InMemoryRelation") < plan.index("LeftAnti"), plan
    finally:
        from optiprism_spark.operators._util import unpersist_tracked

        unpersist_tracked()


def test_repeated_spans_doc_frequency_is_one_plain_aggregate(spark):
    # r17: "shingle occurs in >=2 distinct docs" is min(doc)!=max(doc)
    # keyed on the shingle hash — ONE map-side-combinable aggregate.
    # The old distinct-(doc,h) + groupBy(h).count() pair shuffled the
    # deduped shingle grain twice; both of those exchanges are gone.
    plan = _plan(QUERIES["text_repeated_spans"](spark, SF_SMOKE))
    assert "partial_min" in plan and "partial_max" in plan, plan
    # shingle-hash flag agg + doc-grain window/island agg (the
    # pre-expansion spread repartition is round-robin, not hash)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_repeated_ngram_stats_no_redundant_distinct(spark):
    # r17: shingles_from_words is array_distinct per doc, so the
    # exploded (doc, hash) rows are already unique — the plan must
    # not contain a distinct aggregate at that grain, and the
    # doc-frequency flag is the same min!=max single aggregate
    plan = _plan(QUERIES["text_repeated_ngram_stats"](spark, SF_SMOKE))
    assert "partial_min" in plan and "partial_max" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_lsh_candidates_first_band_no_distinct_exchange(spark):
    # r17: candidate-pair dedup is first-matching-band emission — a
    # per-row filter over the band join — NOT a distinct(): the plan
    # must contain no aggregate at all (the old shape exchanged the
    # full candidate set on (doc_a, doc_b))
    from optiprism_spark.operators.dedup import lsh_candidate_pairs
    from optiprism_spark.schema import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(lsh_candidate_pairs(docs))
    assert "HashAggregate" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
