#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with the `noop` write format
(complete scan→compute, no result materialization on the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: FROZEN cross-round comparison set: the 21 queries present in every
#: BENCH_r{1..8}.json. `comparable_total` sums exactly these, raw
#: seconds — the series a round-over-round perf claim must cite.
#: Do NOT add to or remove from this list; new queries extend
#: HEADLINE (and the full-suite total) only.
COMPARABLE_21 = [
    "dedup_embedding_cosine_ivf", "dedup_lsh_near_pairs", "dedup_simhash",
    "event_records_search_purchases", "funnel_first_touch_3step",
    "funnel_machine_3step", "funnel_machine_excludes",
    "ingest_ua_browser_counts", "multimodal_features", "seg_chart_pipeline",
    "seg_count_daily_by_type", "seg_dau", "seg_formula_value_per_event",
    "seg_sum_per_user_outer", "seg_sum_value_daily_by_type",
    "segment_and_composition", "session_stats_per_user", "sim_cosine_topk",
    "sim_cosine_topk_ivf", "text_stats_all", "wh_revenue_by_nation",
]

#: per-query all-time bests AT THE SAME FUNCTIONALITY LEVEL — the
#: basis of the per-round creep gate (r10 verdict #3: aggregate drift
#: hid which queries crept). Where functionality changed mid-series
#: the best is taken from the rounds AFTER the change (noted), not
#: the cheaper early implementation. Budget = 2x best per query;
#: violations are reported in the output line (the driver records
#: them; the per-round judge reads them).
BEST_LIKE_FOR_LIKE = {
    "dedup_embedding_cosine_ivf": 0.411,
    "dedup_lsh_near_pairs": 0.71,
    "dedup_simhash": 0.678,
    "event_records_search_purchases": 0.142,
    "funnel_first_touch_3step": 0.55,
    "funnel_machine_3step": 0.585,
    "funnel_machine_excludes": 0.523,
    "ingest_ua_browser_counts": 0.593,  # real UA parse landed r3
    # re-anchored r13: the 0.274 best was BENCH_r01/r02 — before the
    # r6 suite reshuffle (759ba94 moved the small compact scans ahead
    # of the CPU-dense text/multimodal kernels and the headline grew
    # the CPU-bound dedup/ANN tier, changing this entry's cache/CPU
    # context). Every official bench r6-r11 sits 0.459-0.533; the
    # like-for-like best at the current suite shape is r8's 0.459.
    # Re-verified r14 against the official series: r6=0.484 r7=0.533
    # r8=0.459 r9=0.487 r10=0.484 r11=0.488 r13=0.482 — the 0.274
    # pre-reshuffle context is preserved above so it isn't lost.
    "multimodal_features": 0.459,
    "seg_chart_pipeline": 0.898,
    "seg_count_daily_by_type": 0.291,
    "seg_dau": 0.269,
    "seg_formula_value_per_event": 0.205,
    "seg_sum_per_user_outer": 0.401,
    "seg_sum_value_daily_by_type": 0.302,
    "segment_and_composition": 0.284,
    "session_stats_per_user": 0.313,
    "sim_cosine_topk": 0.299,
    "sim_cosine_topk_ivf": 0.692,
    "text_stats_all": 0.332,
    "wh_revenue_by_nation": 0.883,
    # non-comparable HEADLINE entries (min over r8-r10 + the r11
    # forensic idle run) — the r10 drifters retention/stickiness sit
    # here, outside the frozen comparable set, so the creep gate must
    # watch the whole headline, not just the cross-round series
    "eng_stickiness_weekly": 0.313,
    "eng_stickiness_weekly_rollup": 0.401,
    "est_funnel_3step_sampled": 0.722,
    "path_forward_from_signup": 0.434,
    "retention_weekly_signup_purchase": 0.397,
    "seg_rollup_routed_count_daily": 0.181,
    "seg_rollup_uniques_approx": 0.317,
    "wh_revenue_by_nation_bucketed": 0.509,
    "drift_psi_value_half_month": 0.312,  # r11 first in-suite run
    # r12 first in-suite runs (min of two local passes on a host
    # measuring 1.1-1.7x r11's control indicator — these bests are
    # conservative, i.e. likely beatable on a quiet host)
    "aud_overlap_matrix": 0.434,
    "aud_venn_kmv_sketched": 0.68,
    "asm_mixture_sample": 0.579,
    "drift_profile_value_by_type": 0.328,
    "drift_psi_value_rollup_routed": 0.392,
    # r13 first in-suite runs (min of two local passes; control
    # 0.128-0.162 — likely beatable on a quiet host)
    "dq_events_battery": 0.54,
    "text_repeated_spans": 1.515,
    # r14 first in-suite runs (min of two local passes; control 0.137)
    "attr_time_decay_revenue": 1.039,
    "eng_growth_accounting_weekly": 0.423,
    "eng_rfm_segment_counts": 0.609,
    "asm_importance_sample": 0.457,
}

#: headline set — one per operator family (SURVEY §2 coverage)
HEADLINE = [
    "seg_count_daily_by_type",       # CountEvents + breakdown
    "seg_sum_value_daily_by_type",   # AggregateProperty
    "seg_sum_per_user_outer",        # two-level per-user aggregate
    "seg_dau",                       # distinct users
    "seg_chart_pipeline",            # unpivot→pivot→average→top-N
    "funnel_machine_3step",          # applyInPandas state machine
    "funnel_first_touch_3step",      # declarative funnel
    "segment_and_composition",       # behavioral cohort
    "event_records_search_purchases",# search surface
    "session_stats_per_user",        # sessionization windows
    "dedup_lsh_near_pairs",          # minhash+LSH+jaccard pipeline
    "dedup_simhash",                 # simhash fingerprints
    "dedup_embedding_cosine_ivf",    # embedding near-dup (IVF scale path)
    "sim_cosine_topk",               # ANN brute-force baseline
    "sim_cosine_topk_ivf",           # IVF-Flat approximate ANN
    "text_stats_all",                # text analysis
    "multimodal_features",           # mapInPandas plumbing
    "seg_formula_value_per_event",   # formula over sibling metrics
    "funnel_machine_excludes",       # funnel with exclude resets
    "ingest_ua_browser_counts",      # UA-parse enrichment
    "wh_revenue_by_nation",          # fact-fact shuffle join + dims
    "wh_revenue_by_nation_bucketed", # same join, co-bucketed layout
                                     # (Exchange-free; layout build
                                     # amortized by min-of-3)
    "retention_weekly_signup_purchase",  # cohort matrix (two-sided agg+join)
    "eng_stickiness_weekly",         # DAU/WAU ratio, raw scan
    "eng_stickiness_weekly_rollup",  # same from the day rollup (store build
                                     # amortized: first pass builds, min-of-3
                                     # times the routed read)
    "path_forward_from_signup",      # journey window + top-k paths
    "est_funnel_3step_sampled",      # funnel over a 25% coherent sample
    "seg_rollup_uniques_approx",     # HLL uniques from the day rollup
    "drift_psi_value_half_month",    # r11: drift family (bounds bcast
                                     # + one histogram pass, all JVM)
    "drift_profile_value_by_type",   # r12: one-pass table profile
    "drift_psi_value_rollup_routed", # r12: PSI folded from stored bins
                                     # (build amortized by min-of-N —
                                     # the recurring-delivery path)
    "aud_overlap_matrix",            # r12: audience set algebra
                                     # (distinct self-join + bcast sizes)
    "aud_venn_kmv_sketched",         # r12: KMV theta-sketch fold
    "asm_mixture_sample",            # r12: token-budget data mixing
    "dq_events_battery",             # r13: 9-constraint quality gate
                                     # in ONE partial-aggregated scan
    "text_repeated_spans",           # r13: span-level dedup windows
                                     # (pos-explode + df-count + islands)
    "attr_time_decay_revenue",       # r14: multi-touch attribution
                                     # (user-key range join + decimal
                                     # share pipeline)
    "eng_growth_accounting_weekly",  # r14: growth ledger (distinct +
                                     # user-partitioned lag/lead)
    "eng_rfm_segment_counts",        # r14: RFM grid (per-user agg +
                                     # broadcast percentile edges)
    "asm_importance_sample",         # r14: HT-weighted soft filter
                                     # (pure per-row hash filter)
    "sim_cosine_topk_ivf_indexed",   # r15: ANN served from the durable
                                     # IvfStore (probe-only; store build
                                     # amortized by min-of-N like the
                                     # rollup entries)
    "dedup_embedding_cosine_ivf_indexed",  # r15: near-dup from the store
    "eng_growth_weekly_routed",      # r15: growth ledger from the
                                     # (dt, user) store
    "eng_rfm_scores_routed",         # r15: RFM from the (dt, user) store
    "aud_set_count_routed",          # r16: exact audience set algebra
                                     # from the (dt, user) store
    "eng_active_users_weekly_routed",  # r16: exact WAU from the store
    "eng_l7_l28_grid_routed",        # r16: L7/L28 habit grid from the
                                     # store (conditional count-distinct)
    "wh_market_share_by_year",       # r16: Q8-shaped share — widest
                                     # join graph in the suite (routed
                                     # fact pair + 6 bcast dim hops)
]


def best_noop_s(make_df, passes: int) -> float:
    """Best of ``passes`` runs, in seconds rounded to the ms, of
    ``make_df()`` executed to completion through the ``noop`` sink
    (full scan→compute, nothing collected on the driver) — the one
    timer of this harness and the gate scripts. ``make_df`` is called
    inside each timed run, so building the plan is timed too."""
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


#: frozen host-speed reference for the normalized series: r13's
#: control_sec, the quietest official-round host on record. The
#: normalized number divides out HOST weather, not engine changes —
#: see the README perf section for how to read the two series.
CONTROL_BASELINE = 0.133


def main() -> None:
    from optiprism_spark.registry import QUERIES
    from optiprism_spark.session import get_spark

    spark = get_spark("optiprism_spark_bench", cpus=CPUS)
    timings: dict[str, float] = {}
    # warm the JVM AND the Python-worker pool once (excluded): the
    # first pandas-UDF query otherwise pays worker+Arrow startup that
    # a long-lived cluster never sees per-query
    QUERIES["seg_dau"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    QUERIES["multimodal_features"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # Host-drift INDICATOR (informational only): a fixed JVM-only
    # query measured the same way as the suite. It is deliberately NOT
    # a normalization denominator any more — a single codegen'd range
    # sum does not scale like parquet+shuffle+Python queries, and the
    # r7→r8 normalized series inverted a real across-the-board raw
    # improvement when the control itself drifted. Cross-round claims
    # read `comparable_total` (frozen 21-query set, raw seconds); a
    # large control swing just flags that the host changed under us.
    def control_pass() -> float:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1) as s").write \
            .format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    control_pass()  # warm
    control = round(min(control_pass() for _ in range(5)), 3)

    # multiple passes, min per query: the host shows heavy run-to-run
    # interference (same query 1.2s..10s); the min reports the
    # engine's steady-state capability instead of co-tenant noise.
    # The similarity family has shown the worst interference spikes
    # (r3: driver 3.56s vs 0.39s reruns on identical code+data) — give
    # it extra passes so one noisy window can't dominate the total.
    VOLATILE = {"sim_cosine_topk", "sim_cosine_topk_ivf",
                "dedup_embedding_cosine_ivf", "dedup_simhash"}
    # comparability pin: wh_revenue_by_nation routes through the
    # co-bucketed layout when one exists (r11); in THIS harness the
    # layout is first built by the _bucketed entry, which runs after
    # it, so the comparable-21 entry keeps measuring the raw shuffle
    # plan the whole series measured. r12's single-pointer commit made
    # layouts durable ACROSS processes, so a previous bench run (or
    # any routed query) legitimately leaves one behind — asserting
    # freshness killed BENCH_r12 (rc=1). Self-heal instead: a
    # fold-less bootstrap layout is lossless to discard by the
    # module's own contract (it is rebuilt verbatim from the raw
    # parquet), so invalidate it; only a FOLDED layout — whose rows
    # exist nowhere else — is a hard error, because destroying it
    # would lose real ingested data and this harness has no business
    # doing that silently.
    from optiprism_spark.warehouse_layout import (
        invalidate_layout, layout_available, layout_has_folds)

    if layout_has_folds(spark, SF_DIR):
        raise SystemExit(
            "warehouse layout at SF_DIR holds FOLDED appends — bench "
            "refuses to destroy data that lives nowhere else; run "
            "invalidate_layout(spark, sf_dir) deliberately first")
    invalidate_layout(spark, SF_DIR)
    assert not layout_available(spark, SF_DIR)
    for name in HEADLINE:
        fn = QUERIES[name]
        timings[name] = best_noop_s(lambda: fn(spark, SF_DIR),
                                    5 if name in VOLATILE else 3)

    # Rollup-routed segmentation: build the day-grain pre-aggregate
    # once (untimed — amortized maintenance work owned by the ingest
    # compaction loop), then time the SAME daily-count query shape as
    # seg_count_daily_by_type answered from the persisted rollup. The
    # ratio between the two entries is the materialized-view win.
    import datetime as _dt
    import tempfile

    from optiprism_spark.dsl import (
        EventQuery, EventRef, EventSegmentationRequest, PropertyRef,
        QueryTime, SegQuery, TimeIntervalUnit,
    )
    from optiprism_spark.queries.event_segmentation import run_event_segmentation
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.schema import load_table

    events = load_table(spark, SF_DIR, "events")
    spec = RollupSpec()
    with tempfile.TemporaryDirectory() as tmp:
        store = RollupStore(os.path.join(tmp, "rollup"), spec)
        store.rebuild(spark, events)
        req = EventSegmentationRequest(
            time=QueryTime.between(
                _dt.datetime(2024, 1, 1),
                _dt.datetime(2024, 1, 31, 23, 59, 59, 999999)),
            interval=TimeIntervalUnit.DAY,
            events=[EventQuery(EventRef(), [SegQuery("count_events", alias="n")])],
            breakdowns=[PropertyRef.column("event_type")],
        )
        timings["seg_rollup_routed_count_daily"] = best_noop_s(
            lambda: run_event_segmentation(
                events, req, rollup=(store.read(spark), spec)), 3)

    total = round(sum(timings.values()), 3)
    comparable_total = round(sum(timings[n] for n in COMPARABLE_21), 3)
    # per-query creep gate: >2x the like-for-like all-time best is a
    # flagged regression even when the aggregate stays inside its gate
    budget_violations = {
        n: {"sec": t, "best": BEST_LIKE_FOR_LIKE[n],
            "ratio": round(t / BEST_LIKE_FOR_LIKE[n], 2)}
        for n, t in timings.items()
        if n in BEST_LIKE_FOR_LIKE and t > 2.0 * BEST_LIKE_FOR_LIKE[n]
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # frozen 21-query set present in every round's bench —
                # THE cross-round series (raw seconds, no denominator)
                "comparable_total": comparable_total,
                "comparable_queries": len(COMPARABLE_21),
                # queries >2x their like-for-like all-time best —
                # empty means no per-query creep this round
                "budget_violations": budget_violations,
                "budget_pass": not budget_violations,
                # informational host-drift flag, not a denominator
                "control_sec": control,
                # r15 (r14 verdict task 8): the comparable series is
                # ALSO reported normalized by the host-speed control
                # (x CONTROL_BASELINE/control). Raw seconds stay THE
                # series — the normalized twin exists so a raw drift
                # that tracks the control reads as host weather at a
                # glance, while a normalized jump flags a real engine
                # regression. (The control is a JVM range-sum, so the
                # correction is approximate — a flag, not a metric.)
                "control_baseline_sec": CONTROL_BASELINE,
                "comparable_total_control_normalized": round(
                    comparable_total * CONTROL_BASELINE / control, 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
