#!/usr/bin/env python
"""Scale validation: measure how each operator family's runtime grows
from a 1x to a FACTOR-x corpus (default 10x the sf0.1 shape).

Every scale judgment in the repo is otherwise plan-shape reasoning at
sf0.1; this harness produces one real datapoint per family:

- events (funnel / sessionization / segmentation): two corpora from
  the SAME deterministic generator (events_gen) at n_users and
  FACTOR*n_users — identical per-user shape, so t(Nx)/t(1x) isolates
  pure data scale for the user-partitioned operators.
- documents / embeddings (dedup / text / assembly / ANN): the sf0.1
  tables replicated FACTOR-x with deterministic JVM-side perturbation
  (30% of words swapped for md5 tokens; embedding components jittered)
  so copies are NOT near-duplicates of each other — replication
  without perturbation would manufacture a quadratic near-dup
  explosion and invalidate the LSH measurement.

Methodology matches bench.py: noop-format writes (full scan→compute,
no driver materialization), min of PASSES runs per query. Output: one
JSON line {"factor": F, "queries": {name: {"t1": s, "tN": s,
"ratio": r}}, ...}; a ratio near FACTOR is linear scaling, below it
sublinear (fixed overhead still dominating), above it superlinear —
the red flag this harness exists to catch.

Usage: python scale_check.py [--factor 10] [--dir /tmp/optiprism_scale]
       [--out SCALE_r05.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench import best_noop_s

SF01 = "/root/testdata/sf0.1"
PASSES = 3

#: registry queries over documents/embeddings — run unchanged on the
#: replicated corpora (their auto-sizing rules adapt to N; that IS the
#: scale path under test)
DOC_EMB_QUERIES = [
    "dedup_exact_survivors",
    "dedup_minhash_signatures",
    "dedup_lsh_near_pairs",
    "dedup_simhash",
    "text_stats_all",
    "text_gopher_quality",
    "asm_training_pipeline",
    "multimodal_features",
    "sim_cosine_topk_lsh",
    "sim_cosine_topk_ivf",
]
# NOT measured via the registry: dedup_embedding_cosine_{lsh,ivf} pin
# tiny fixture sizes (8 centroids / 4 planes) so the DuckDB oracle can
# reproduce them — with fixed buckets the Σ bucket² join grows
# QUADRATICALLY with N (the first factor-10 run measured 59× at 10×).
# The scale path is the auto-sized configuration below.


def embedding_scale_queries():
    from optiprism_spark.operators.similarity import (
        embedding_near_pairs, embedding_near_pairs_banded,
        embedding_near_pairs_ivf)

    def _emb(spark, d):
        return spark.read.parquet(os.path.join(d, "embeddings.parquet"))

    return {
        "dedup_embedding_cosine_lsh_auto": lambda spark, d: embedding_near_pairs(
            _emb(spark, d), threshold=0.40, planes="auto"),
        "dedup_embedding_cosine_banded_auto": lambda spark, d:
            embedding_near_pairs_banded(_emb(spark, d), threshold=0.40),
        "dedup_embedding_cosine_ivf_auto": lambda spark, d: embedding_near_pairs_ivf(
            _emb(spark, d), threshold=0.40, n_centroids="auto",
            max_bucket="auto"),
    }


def build_events(spark, out_dir: str, n_users: int) -> None:
    from optiprism_spark.events_gen import generate_events

    path = os.path.join(out_dir, "events.parquet")
    if os.path.exists(path):
        return
    generate_events(spark, n_users=n_users).write.mode("overwrite").parquet(path)


def build_docs_embeddings(spark, out_dir: str, factor: int) -> None:
    """factor==1: byte-copy sf0.1. factor>1: deterministic perturbed
    replication (copy 0 stays identical to the original)."""
    doc_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(doc_path) and os.path.exists(emb_path):
        return
    if factor == 1:
        shutil.copyfile(os.path.join(SF01, "documents.parquet"), doc_path)
        shutil.copyfile(os.path.join(SF01, "embeddings.parquet"), emb_path)
        return
    variants = spark.range(factor).select(F.col("id").cast("int").alias("__k"))

    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    words = F.split(F.col("text"), " ")
    perturbed_words = F.transform(
        words,
        lambda w, i: F.when(
            (F.col("__k") > 0)
            & (F.pmod(F.xxhash64(w, F.col("doc_id"), F.col("__k"), i), F.lit(10)) < 3),
            F.substring(F.md5(F.concat_ws(":", w, F.col("doc_id").cast("string"),
                                          F.col("__k").cast("string"))), 1, 8),
        ).otherwise(w),
    )
    new_text = F.concat_ws(" ", perturbed_words)
    (
        docs.crossJoin(variants)
        .select(
            (F.col("doc_id") + F.col("__k").cast("long") * F.lit(1_000_000)).alias("doc_id"),
            new_text.alias("text"),
            "lang", "source",
            F.length(new_text).alias("n_chars"),
        )
        .write.mode("overwrite").parquet(doc_path)
    )

    emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    jitter = F.transform(
        "embedding",
        lambda x, i: F.when(
            F.col("__k") > 0,
            x + ((F.pmod(F.xxhash64(F.col("vec_id"), F.col("__k"), i), F.lit(2001))
                  - F.lit(1000)).cast("float") / F.lit(10000.0)),
        ).otherwise(x).cast("float"),
    )
    (
        emb.crossJoin(variants)
        .select(
            (F.col("vec_id") + F.col("__k").cast("long") * F.lit(1_000_000)).alias("vec_id"),
            jitter.alias("embedding"),
            "label",
        )
        .write.mode("overwrite").parquet(emb_path)
    )


def events_queries():
    """Engine-operator queries phrased in the generator's event
    vocabulary (product → add_to_cart → purchase); the registry's own
    funnel entries use the driver tables' vocabulary and would no-op
    on a generated corpus."""
    import datetime as dt

    from optiprism_spark.dsl import (
        EventFilterSpec, EventRef, FunnelCountMode, FunnelExclude,
        FunnelRequest, FunnelStep, PropertyRef, QueryTime, TimeIntervalUnit,
    )
    from optiprism_spark.operators.funnel import funnel_report
    from optiprism_spark.streaming.sessionize import session_stats

    time = QueryTime.between(dt.datetime(2024, 1, 1), dt.datetime(2024, 4, 1))
    steps = [FunnelStep([EventFilterSpec(EventRef(n))])
             for n in ("product", "add_to_cart", "purchase")]

    def funnel_3step(spark, d):
        req = FunnelRequest(time=time, interval=TimeIntervalUnit.DAY,
                            steps=list(steps), window_ms=3_600_000)
        return funnel_report(_ev(spark, d), req)

    def funnel_breakdown(spark, d):
        req = FunnelRequest(
            time=time, interval=TimeIntervalUnit.DAY, steps=list(steps),
            window_ms=3_600_000,
            breakdowns=[PropertyRef.json("product_id", "int64")],
        )
        return funnel_report(_ev(spark, d), req)

    def funnel_session_mode(spark, d):
        req = FunnelRequest(
            time=time, interval=TimeIntervalUnit.DAY, steps=list(steps),
            window_ms=3_600_000, count_mode=FunnelCountMode.SESSION,
        )
        return funnel_report(_ev(spark, d), req)

    def funnel_excludes_nonunique(spark, d):
        req = FunnelRequest(
            time=time, interval=TimeIntervalUnit.DAY, steps=list(steps),
            window_ms=3_600_000,
            excludes=[FunnelExclude(EventFilterSpec(EventRef("refund")))],
            count_mode=FunnelCountMode.NON_UNIQUE,
        )
        return funnel_report(_ev(spark, d), req)

    def session_stats_q(spark, d):
        return session_stats(_ev(spark, d))

    def seg_count_daily_by_type(spark, d):
        return (
            _ev(spark, d)
            .groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def seg_per_user_two_level(spark, d):
        per_user = _ev(spark, d).groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"))
        return per_user.groupBy("event_type").agg(
            F.avg("n").alias("avg_per_user"), F.max("n").alias("max_per_user"))

    def seg_dau(spark, d):
        return (
            _ev(spark, d)
            .groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"))
            .agg(F.count_distinct(F.col("user_id")).alias("dau"))
        )

    def retention_weekly(spark, d):
        import datetime as _dt

        from optiprism_spark.dsl import EventRef, QueryTime, TimeIntervalUnit
        from optiprism_spark.operators.retention import retention

        return retention(
            _ev(spark, d),
            cohort_event=EventRef("index"),
            return_event=EventRef("purchase"),
            time=QueryTime.between(_dt.datetime(2024, 1, 1),
                                   _dt.datetime(2024, 3, 31, 23, 59, 59)),
            interval=TimeIntervalUnit.WEEK,
            max_periods=12,
        )

    def paths_topk(spark, d):
        import datetime as _dt

        from optiprism_spark.operators.paths import event_paths

        return event_paths(
            _ev(spark, d), anchor=EventRef("product"), time=time,
            steps=4, within=_dt.timedelta(hours=1), top_k=50)

    def est_seg_sampled(spark, d):
        from optiprism_spark.dsl import EventQuery, EventSegmentationRequest, SegQuery
        from optiprism_spark.operators.estimate import estimated_event_segmentation

        req = EventSegmentationRequest(
            time=time, interval=TimeIntervalUnit.DAY,
            events=[EventQuery(EventRef(),
                               [SegQuery("count_events", alias="n_est"),
                                SegQuery("count_unique_groups", alias="u_est")])],
            breakdowns=[PropertyRef.column("event_type")],
        )
        return estimated_event_segmentation(_ev(spark, d), req, 0.125)

    def est_funnel_sampled(spark, d):
        from optiprism_spark.operators.estimate import estimated_funnel_report

        req = FunnelRequest(time=time, interval=TimeIntervalUnit.DAY,
                            steps=list(steps), window_ms=3_600_000)
        return estimated_funnel_report(_ev(spark, d), req, 0.125)

    def attribution_last(spark, d):
        import datetime as _dt

        from optiprism_spark.operators.attribution import attribution_report

        return attribution_report(
            _ev(spark, d), channel_col=F.col("event_type"),
            touch_event=EventRef(custom=[
                EventFilterSpec(EventRef("index")),
                EventFilterSpec(EventRef("product")),
            ]),
            conversion_event=EventRef("purchase"),
            time=time, model="last_touch",
            lookback=_dt.timedelta(days=7))

    def experiment_readout(spark, d):
        from optiprism_spark.operators.experiment import experiment_report

        variant = F.concat(
            F.lit("v"), (F.col("user_id") % 3).cast("string"))
        return experiment_report(
            _ev(spark, d), variant_col=variant,
            exposure_event=EventRef("index"),
            conversion_event=EventRef("purchase"),
            time=time, control="v0")

    def _ev(spark, d):
        return spark.read.parquet(os.path.join(d, "events.parquet"))

    return {
        "funnel_3step_gen": funnel_3step,
        "funnel_breakdown_gen": funnel_breakdown,
        "funnel_session_mode_gen": funnel_session_mode,
        "funnel_excludes_nonunique_gen": funnel_excludes_nonunique,
        "session_stats_gen": session_stats_q,
        "seg_count_daily_by_type_gen": seg_count_daily_by_type,
        "seg_per_user_two_level_gen": seg_per_user_two_level,
        "seg_dau_gen": seg_dau,
        "retention_weekly_gen": retention_weekly,
        "paths_topk_gen": paths_topk,
        "est_seg_sampled_gen": est_seg_sampled,
        "est_funnel_sampled_gen": est_funnel_sampled,
        "attribution_last_gen": attribution_last,
        "experiment_readout_gen": experiment_readout,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--dir", default="/tmp/optiprism_scale")
    ap.add_argument("--out", default=None)
    ap.add_argument("--passes", type=int, default=PASSES)
    ap.add_argument("--only", default=None,
                    help="comma-separated substrings; run only matching queries")
    args = ap.parse_args()

    from optiprism_spark.registry import QUERIES
    from optiprism_spark.session import get_spark

    spark = get_spark("optiprism_scale_check",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))

    d1 = os.path.join(args.dir, "x1")
    dN = os.path.join(args.dir, f"x{args.factor}")
    os.makedirs(d1, exist_ok=True)
    os.makedirs(dN, exist_ok=True)

    # calibrate the generator so x1 has ~sf0.1's event count (100k)
    trial_users = 1000
    from optiprism_spark.events_gen import generate_events

    per_user = generate_events(spark, trial_users).count() / trial_users
    n1 = max(1, round(100_000 / per_user))
    print(f"calibration: {per_user:.2f} events/user -> n_users x1={n1} "
          f"x{args.factor}={n1 * args.factor}", file=sys.stderr)
    build_events(spark, d1, n1)
    build_events(spark, dN, n1 * args.factor)
    build_docs_embeddings(spark, d1, 1)
    build_docs_embeddings(spark, dN, args.factor)
    for d in (d1, dN):
        for t in ("events", "documents", "embeddings"):
            n = spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
            print(f"{d} {t}: {n} rows", file=sys.stderr)

    suite = dict(events_queries())
    for name in DOC_EMB_QUERIES:
        suite[name] = QUERIES[name]
    suite.update(embedding_scale_queries())
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        suite = {k: v for k, v in suite.items()
                 if any(p in k for p in pats)}
        if not suite:
            raise SystemExit(f"--only {args.only!r} matched no queries")

    # warm JVM + Python worker pool (same rationale as bench.py)
    warm = ("text_stats_all" if "text_stats_all" in suite
            else next(iter(suite)))
    suite[warm](spark, d1).write.format("noop").mode("overwrite").save()
    if "multimodal_features" in suite:
        suite["multimodal_features"](spark, d1).write.format("noop").mode("overwrite").save()

    results = {}
    for name, fn in suite.items():
        t1 = best_noop_s(lambda: fn(spark, d1), args.passes)
        tN = best_noop_s(lambda: fn(spark, dN), args.passes)
        results[name] = {"t1": t1, f"t{args.factor}": tN,
                         "ratio": round(tN / t1, 2) if t1 > 0 else None}
        print(f"{name}: {t1}s -> {tN}s (x{results[name]['ratio']})",
              file=sys.stderr)

    payload = {
        "metric": "scale_ratio_suite",
        "factor": args.factor,
        "unit": "sec",
        "queries": results,
        "linear_threshold": args.factor,
        "worst_ratio": max(r["ratio"] for r in results.values()),
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
