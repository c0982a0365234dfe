#!/usr/bin/env python
"""sf0.1 oracle spot-gate: scale-sensitive core picks + a rotating
least-recently-checked window, differentially checked against DuckDB
at 10× the driver's gate scale.

Correctness had only ever been proven at sf0.01; scale-dependent bugs
(decimal overflow, bucket edges, sampling coherence, auto-sizing that
changes with N) are invisible there. r12 adds ROTATION (the r11
verdict's task 7): the gate had grown 27→32 by accretion, and queries
outside it were never checked at bench scale. Now a fixed CORE of the
most scale-sensitive shapes runs every round, and a window of
ROTATE_N further queries is chosen least-recently-sf0.1-checked
(suite-round-robin tiebreak, same discipline as the driver gate's
DRIVER_CHECKED_ROUNDS) — over a cycle every registered oracled query
gets an sf0.1 check. Run with --round N; the recorded history below
must be extended each round with the set the gate just checked.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from itertools import zip_longest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.1")

#: always-checked core, biased toward scale-sensitive shapes: sampling
#: coherence (estimate), auto-sizing (similarity/IVF), bucket edges
#: (dedup LSH, percentiles), decimal-width sums, the co-bucketed fact
#: join, bin-edge + ln arithmetic (drift)
CORE = [
    "est_funnel_3step_sampled",
    "est_retention_weekly_sampled",
    "dedup_lsh_near_pairs",
    "dedup_embedding_cosine_ivf_auto",
    "dedup_embedding_cosine_lsh_banded",
    "rollup_percentile_value_by_type",
    "qsketch_percentile_value_by_type",
    "seg_sum_value_daily_by_type",
    "seg_percentiles_by_type",
    "funnel_machine_breakdown",
    "funnel_machine_any_order_touch_last",
    "wh_revenue_by_nation",
    "wh_revenue_by_nation_bucketed",
    "wh_order_priority_bucketed",
    "text_bpe_segments",
    "drift_psi_value_half_month",
    # r12: the rollup-routed PSI must hold at bench scale — routed ≡
    # raw is the serving plane's contract
    "drift_psi_value_rollup_routed",
    # r12: exact-percentile bin edges are the scale-sensitive part of
    # the equi-depth PSI (interpolation arithmetic on 10x the rows)
    "drift_psi_value_quantile_bins",
]

#: rotating-window size on top of the core. r15: 16 → 24 — the
#: registry outgrew 150 queries, so the driver's 50/round gate leaves
#: a tail at age 3; a wider sf0.1 window keeps that tail under the
#: builder's own 10×-scale check every round (r14 verdict task 3).
ROTATE_N = 24

#: per-round record of what this gate checked — extend each round from
#: the previous SF01_ORACLE_r{N}.json's keys (the driver gate's
#: registry.DRIVER_CHECKED_ROUNDS is instead read from the committed
#: CORRECTNESS_r{N}.json files). Pre-r11 members seeded from the
#: r9/r10 gates are folded into round 10's entry.
SF01_CHECKED_ROUNDS: dict[int, frozenset[str]] = {
    10: frozenset({
        "alert_purchase_count_daily", "asm_pack_sequences",
        "attr_last_touch_revenue", "catalog_materialized_property",
        "dedup_embedding_cosine_ivf_auto", "dedup_lsh_near_pairs",
        "eng_stickiness_weekly", "est_funnel_3step_sampled",
        "event_records_search_purchases", "exp_view_to_purchase",
        "funnel_machine_breakdown", "ingest_geo_mmdb_counts",
        "multimodal_decoded_stats", "path_forward_from_signup",
        "qsketch_percentile_value_by_type", "retention_cohort_sizes_rollup",
        "retention_weekly_signup_purchase",
        "rollup_percentile_value_by_type", "seg_percentiles_by_type",
        "seg_rollup_dau_by_week_approx", "seg_sum_value_daily_by_type",
        "segment_historical_count", "text_bpe_segments",
        "wh_revenue_by_nation", "wh_revenue_by_nation_bucketed",
        "win_period_compare",
    }),
    11: frozenset({
        "alert_purchase_count_daily", "asm_pack_sequences",
        "attr_last_touch_revenue", "catalog_materialized_property",
        "dedup_embedding_cosine_ivf_auto",
        "dedup_embedding_cosine_lsh_banded", "dedup_lsh_near_pairs",
        "drift_psi_value_half_month", "eng_stickiness_weekly",
        "est_funnel_3step_sampled", "est_retention_weekly_sampled",
        "event_records_search_purchases", "exp_view_to_purchase",
        "funnel_machine_any_order_touch_last", "funnel_machine_breakdown",
        "ingest_geo_mmdb_counts", "multimodal_decoded_stats",
        "path_forward_from_signup", "qsketch_percentile_value_by_type",
        "retention_cohort_sizes_rollup", "retention_weekly_signup_purchase",
        "rollup_percentile_value_by_type", "seg_chart_pipeline",
        "seg_percentiles_by_type", "seg_rollup_dau_by_week_approx",
        "seg_sum_value_daily_by_type", "segment_historical_count",
        "text_bpe_segments", "wh_order_priority_bucketed",
        "wh_revenue_by_nation", "wh_revenue_by_nation_bucketed",
        "win_period_compare",
    }),
    12: frozenset({
        "asm_split_train_val_test", "aud_overlap_matrix",
        "catalog_property_query", "dedup_embedding_cosine_ivf_auto",
        "dedup_embedding_cosine_lsh_banded", "dedup_exact_survivors",
        "dedup_lsh_near_pairs", "drift_profile_value_by_type",
        "drift_psi_value_half_month", "drift_psi_value_rollup_routed",
        "est_count_daily_sampled", "est_funnel_3step_sampled",
        "est_retention_weekly_sampled", "funnel_first_touch_3step",
        "funnel_machine_any_order_touch_last", "funnel_machine_breakdown",
        "ingest_ua_browser_counts", "multimodal_features",
        "qsketch_percentile_value_by_type",
        "rollup_percentile_value_by_type", "seg_count_daily_by_type",
        "seg_percentiles_by_type", "seg_rollup_count_daily",
        "seg_sum_value_daily_by_type", "segment_has_property_value",
        "sim_cosine_topk", "text_bpe_segments", "text_stats_all",
        "wh_order_priority_bucketed", "wh_revenue_by_nation",
        "wh_revenue_by_nation_bucketed", "wh_top_brands_by_region",
        "win_rolling_avg"
    }),
    13: frozenset({
        "alert_robust_value_daily_by_type",
        "asm_sample_fraction_by_lang",
        "asm_stratified_sample_exact",
        "attr_first_touch_revenue",
        "aud_set_and_not",
        "aud_venn_signup_purchase",
        "dedup_embedding_cosine_ivf_auto",
        "dedup_embedding_cosine_lsh_banded",
        "dedup_lsh_incremental_pairs",
        "dedup_lsh_near_pairs",
        "dedup_minhash_signatures",
        "dq_events_battery",
        "dq_orders_battery",
        "drift_psi_event_mix_half_month",
        "drift_psi_value_fixed_bins",
        "drift_psi_value_half_month",
        "drift_psi_value_quantile_bins",
        "drift_psi_value_rollup_routed",
        "eng_active_days_histogram",
        "eng_stickiness_weekly_rollup",
        "est_dau_sampled",
        "est_funnel_3step_sampled",
        "est_retention_weekly_sampled",
        "est_revenue_weekly_sampled",
        "funnel_machine_3step",
        "funnel_machine_any_order_touch_last",
        "funnel_machine_breakdown",
        "funnel_machine_nonunique",
        "group_records_top_value",
        "ingest_geo_country_counts",
        "ingest_profile_upsert",
        "path_backward_to_purchase",
        "qsketch_percentile_value_by_type",
        "retention_daily_view_click",
        "rollup_percentile_value_by_type",
        "seg_count_hourly_purchase",
        "seg_percentiles_by_type",
        "seg_rollup_routed_weekly",
        "seg_sum_value_daily_by_type",
        "seg_unpivot_compact",
        "segment_and_composition",
        "sim_cosine_topk_lsh",
        "text_bpe_segments",
        "text_lang_distribution",
        "text_quality_scores",
        "wh_order_priority_bucketed",
        "wh_order_priority_pipeline",
        "wh_revenue_by_nation",
        "wh_revenue_by_nation_bucketed",
        "win_logarithmic",
    }),
    14: frozenset({
        "attr_linear_revenue",
        "attr_time_decay_revenue",
        "aud_venn_kmv_sketched",
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_ivf_auto",
        "dedup_embedding_cosine_lsh_banded",
        "dedup_lsh_near_pairs",
        "dedup_neardup_clusters",
        "dq_ref_integrity",
        "drift_psi_event_mix_topk",
        "drift_psi_value_half_month",
        "drift_psi_value_quantile_bins",
        "drift_psi_value_rollup_routed",
        "est_funnel_3step_sampled",
        "est_retention_weekly_sampled",
        "event_record_by_id",
        "funnel_machine_any_order_touch_last",
        "funnel_machine_breakdown",
        "path_forward_excl_errors",
        "qsketch_percentile_value_by_type",
        "retention_revenue_weekly",
        "rollup_percentile_value_by_type",
        "seg_agg_int_prop",
        "seg_percentiles_by_type",
        "seg_rollup_uniques_approx",
        "seg_sum_value_daily_by_type",
        "segment_or_composition",
        "sql_api_revenue_by_segment",
        "text_bpe_segments",
        "text_pii_redact",
        "wh_order_priority_bucketed",
        "wh_revenue_by_nation",
        "wh_revenue_by_nation_bucketed",
        "win_cumulative",
    }),
    15: frozenset({
        "asm_chunk_documents", "attr_position_revenue",
        "aud_set_kmv_sketched", "dedup_embedding_cosine_ivf",
        "dedup_embedding_cosine_ivf_auto", "dedup_embedding_cosine_lsh",
        "dedup_embedding_cosine_lsh_banded", "dedup_jaccard_pairs",
        "dedup_lsh_near_pairs", "dict_roundtrip_event_type",
        "dq_freshness_events", "dq_metrics_daily",
        "drift_embedding_centroid_by_label", "drift_psi_value_half_month",
        "drift_psi_value_quantile_bins", "drift_psi_value_rollup_routed",
        "eng_growth_accounting_weekly", "est_funnel_3step_sampled",
        "est_growth_weekly_sampled", "est_retention_weekly_sampled",
        "exp_srm_check", "funnel_machine_any_order_touch_last",
        "funnel_machine_breakdown", "funnel_machine_dropoff_step1",
        "funnel_machine_excludes", "group_record_by_id",
        "path_dropoff_after_view", "property_values_event_type",
        "qsketch_percentile_value_by_type", "retention_unbounded_weekly",
        "rollup_percentile_value_by_type", "seg_agg_matrix_per_user",
        "seg_percentiles_by_type", "seg_rollup_mixed_fallback",
        "seg_sum_value_daily_by_type", "seg_time_last_n_days",
        "segment_relative_count", "text_bpe_segments", "text_gopher_quality",
        "wh_order_priority_bucketed", "wh_revenue_by_nation",
        "wh_revenue_by_nation_bucketed",
    }),
}


def gate_picks(queries: dict, oracled: set[str]) -> list[str]:
    """CORE + ROTATE_N rotating picks. The rotation COMPLEMENTS the
    driver's 50-query gate (r15 verdict task 4): queries already in
    the upcoming driver window sort last — they are watched this
    round anyway — so the sf0.1 slots go to the driver-unwatched
    tail, least-recently-sf0.1-checked first (suite-round-robin
    tiebreak so any prefix spans operator families; never-checked
    queries sort first)."""
    from optiprism_spark.registry import suite_round_robin

    upcoming = set(list(suite_round_robin(queries))[:50])
    by_suite: dict[str, list[str]] = {}
    for name, fn in queries.items():
        if name in oracled and name not in CORE:
            by_suite.setdefault(
                getattr(fn, "__module__", ""), []).append(name)
    rr = [n for row in zip_longest(*by_suite.values())
          for n in row if n is not None]
    last = {
        n: max((rnd for rnd, names in SF01_CHECKED_ROUNDS.items()
                if n in names), default=0)
        for n in rr
    }
    rotating = sorted(
        rr, key=lambda n: (n in upcoming, last[n], rr.index(n))
    )[:ROTATE_N]
    return list(CORE) + rotating


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SF01_ORACLE_r16.json")
    args = ap.parse_args()

    from optiprism_spark.registry import ORACLE_SQL, QUERIES
    from optiprism_spark.session import get_spark
    from tests._oracle import assert_frames_match, run_oracle

    picks = gate_picks(QUERIES, set(ORACLE_SQL))

    spark = get_spark("optiprism_spark_sf01_oracle")
    results: dict[str, dict] = {}
    for name in picks:
        t0 = time.perf_counter()
        entry: dict = {"suite": QUERIES[name].__module__.rsplit(".", 1)[-1],
                       "core": name in CORE}
        try:
            spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
            oracle_pdf = run_oracle(ORACLE_SQL[name], SF_DIR)
            assert_frames_match(spark_pdf, oracle_pdf, name)
            entry.update(passed=True, rows=len(spark_pdf), err=None)
        except Exception as e:  # record, keep sweeping
            entry.update(passed=False, rows=None,
                         err=f"{type(e).__name__}: {e}")
            traceback.print_exc()
        entry["secs"] = round(time.perf_counter() - t0, 2)
        results[name] = entry
        print(f"  {name}: {'PASS' if entry['passed'] else 'FAIL'} "
              f"({entry['secs']}s)", flush=True)

    n_pass = sum(1 for r in results.values() if r["passed"])
    payload = {
        "metric": "sf01_oracle_spot_gate",
        "sf_dir": SF_DIR,
        "checked": len(results),
        "passed": n_pass,
        "pass": n_pass == len(results),
        "core_size": len(CORE),
        "rotating": [n for n in results if n not in CORE],
        "queries": results,
    }
    with open(args.out, "w") as f:
        f.write(json.dumps(payload) + "\n")
    print(json.dumps({k: payload[k] for k in
                      ("metric", "checked", "passed", "pass")}))
    sys.exit(0 if payload["pass"] else 1)


if __name__ == "__main__":
    main()
