#!/usr/bin/env python
"""Rollup-routing scale evidence: raw-scan vs rollup-routed dashboards.

Round 9 routed the most-refreshed dashboard surfaces (stickiness,
retention cohort sizes, additive segmentation) through the persisted
day-grain rollup store (rollup.py). The claim that justifies the
routing at 100 TB is structural: the store has one row per
(day, dims) — its size grows with calendar days x dimension
cardinality, NOT with event volume — so a routed query's cost is flat
in data scale while the raw scan grows linearly. This harness turns
that claim into a measured datapoint:

- two corpora from the same deterministic generator (events_gen) at
  n_users and FACTOR*n_users — identical per-user shape, identical
  calendar span, so the rollup store row count is (near-)constant
  across corpora while raw events grow FACTOR-x;
- per corpus: build + persist the day-grain store (build time reported
  separately — it is the maintenance cost, paid once per ingest batch,
  amortized over every dashboard refresh);
- per query pair: min-of-PASSES noop-write timing of the raw path and
  the routed path at both scales, plus an x1 value cross-check
  (additive metrics exact; HLL-backed actives within EPS).

Output: one JSON line. The gate demands (a) every routed query beats
its raw twin at FACTOR-x, and (b) the routed growth ratio stays under
ROUTED_FLAT_THRESH — i.e. the routed path is actually flat, not just
cheaper by a constant.

Usage: python rollup_scale_check.py [--factor 10] [--passes 3]
       [--dir /tmp/optiprism_rollup_scale] [--out ROLLUP_SCALE_r09.json]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench import best_noop_s

PASSES = 3
#: sessions per user — 6 weekly sessions spread activity over ~6
#: calendar weeks so the dashboards have a real bucket axis (the
#: generator's default 2 collapses stickiness to two weeks)
SESSIONS = 6
#: routed queries run on a #days x #event_types frame at every scale;
#: allow 2x for fixed-overhead noise, far under a linear FACTOR ratio
ROUTED_FLAT_THRESH = 2.0
#: relative tolerance for HLL-backed actives at x1 cardinality
EPS = 0.02

#: generator calendar span, day-aligned (microsecond end) so
#: activity_supports/rollup_supports route every query below
_T0 = dt.datetime(2024, 1, 1)
_T1 = dt.datetime(2024, 3, 31, 23, 59, 59, 999999)


def _queries():
    from optiprism_spark.dsl import (
        AggFn, EventQuery, EventRef, EventSegmentationRequest, PropertyRef,
        QueryTime, SegQuery, TimeIntervalUnit,
    )
    from optiprism_spark.exprs import full_filter
    from optiprism_spark.operators.aggregates import bucket_col
    from optiprism_spark.operators.engagement import (
        growth_accounting, lness_grid, rfm_scores, stickiness,
    )
    from optiprism_spark.queries.event_segmentation import run_event_segmentation
    from optiprism_spark.rollup import (
        cohort_sizes_from_rollup, stickiness_from_rollup,
    )
    from optiprism_spark.userday import (
        growth_from_user_day, lness_from_user_day, rfm_from_user_day,
    )

    T = QueryTime.between(_T0, _T1)
    WEEK = TimeIntervalUnit.WEEK

    # the overview dashboard shape: every event, weekly, by type —
    # count + value stats; the raw path reads (ts, event_type, value)
    # of EVERY row, the routed path folds #days x #types store rows
    seg_req = EventSegmentationRequest(
        time=T,
        interval=WEEK,
        events=[EventQuery(
            EventRef(),
            [SegQuery("count_events", alias="n"),
             SegQuery("aggregate_property", agg=AggFn.AVG,
                      prop=PropertyRef.column("value"), alias="avg_v"),
             SegQuery("aggregate_property", agg=AggFn.MAX,
                      prop=PropertyRef.column("value"), alias="max_v")],
        )],
        breakdowns=[PropertyRef.column("event_type")],
    )

    def uniq_req(approx: bool) -> EventSegmentationRequest:
        return EventSegmentationRequest(
            time=T, interval=WEEK,
            events=[EventQuery(EventRef(), [
                SegQuery("count_unique_groups", alias="uniq", approx=approx),
            ])],
            breakdowns=[PropertyRef.column("event_type")],
        )

    def stick_raw(spark, ev, store, spec, ud):
        return stickiness(ev, T, period=WEEK)

    def stick_routed(spark, ev, store, spec, ud):
        return stickiness_from_rollup(store.read(spark), T, period=WEEK,
                                      spec=spec)

    def cohort_raw(spark, ev, store, spec, ud):
        cond = full_filter(T, EventRef("index"), ())
        b = bucket_col(WEEK)
        return (
            ev.filter(cond)
            .groupBy("user_id").agg(F.min(b).alias("cohort_bucket"))
            .groupBy("cohort_bucket")
            .agg(F.count(F.lit(1)).alias("cohort_size"))
        )

    def cohort_routed(spark, ev, store, spec, ud):
        return cohort_sizes_from_rollup(
            store.read(spark), T, interval=WEEK,
            cohort_event=EventRef("index"), spec=spec)

    def seg_raw(spark, ev, store, spec, ud):
        return run_event_segmentation(ev, seg_req, fmt="compact")

    def seg_routed(spark, ev, store, spec, ud):
        return run_event_segmentation(
            ev, seg_req, fmt="compact", rollup=(store.read(spark), spec))

    def uniq_raw(spark, ev, store, spec, ud):
        # the exact-distinct scan a dashboard runs without the rollup:
        # a full shuffle of (week, type, user) triples
        return run_event_segmentation(ev, uniq_req(False), fmt="compact")

    def uniq_routed(spark, ev, store, spec, ud):
        return run_event_segmentation(
            ev, uniq_req(True), fmt="compact",
            rollup=(store.read(spark), spec))

    def growth_raw(spark, ev, store, spec, ud):
        return growth_accounting(ev, T, period=TimeIntervalUnit.DAY)

    def growth_routed(spark, ev, store, spec, ud):
        return growth_from_user_day(ud.read(spark), T,
                                    period=TimeIntervalUnit.DAY)

    def _rfm_grid(df):
        from optiprism_spark.operators.aggregates import DECIMAL_T

        return df.groupBy("r_score", "f_score", "m_score").agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("monetary").cast(DECIMAL_T)).cast("double")
            .alias("total_monetary"))

    def rfm_raw(spark, ev, store, spec, ud):
        return _rfm_grid(rfm_scores(ev, T, n_tiles=5,
                                    percentile_mode="exact"))

    def rfm_routed(spark, ev, store, spec, ud):
        return _rfm_grid(rfm_from_user_day(ud.read(spark), T, n_tiles=5,
                                           percentile_mode="exact"))

    # L7/L28 grid (r16 surface) shaped to the dense corpus's ~6-day
    # calendar: trailing 2 of trailing 7 ending at the last covered
    # day — both counts real axes at this span
    _LNESS_ANCHOR = dt.date(2024, 1, 7)

    def lness_raw(spark, ev, store, spec, ud):
        return lness_grid(ev, _LNESS_ANCHOR, l_short=2, l_long=7)

    def lness_routed(spark, ev, store, spec, ud):
        return lness_from_user_day(ud.read(spark), _LNESS_ANCHOR,
                                   l_short=2, l_long=7)

    # cls "flat": the routed frame is #days x #dims — ratio gated at
    # ROUTED_FLAT_THRESH. cls "user_grain" (r15 user-day store): the
    # store grows WITH users by construction, so flatness is the wrong
    # claim — the gate instead demands the routed path beats raw at
    # x FACTOR and scales no worse than raw does (the win is the
    # narrow pre-deduped scan, honestly characterized). The rfm pair
    # PAIRS run on the DENSE corpus (~3x fewer store rows than raw
    # events at (dt, user, event_type) grain — the activity density a
    # real product has): on the sparse default corpus (~1.4 events
    # per user-day) the store holds almost as many rows as raw events
    # and routing honestly cannot win — a corpus-shape fact, not a
    # store property. Growth runs at DAY grain there (the dense
    # calendar spans ~a week, so daily buckets give the ledger a real
    # axis); both sides are exact-value cross-checked at x1 either
    # way.
    return {
        "stickiness_weekly": (stick_raw, stick_routed, "approx", "flat",
                              "default"),
        "cohort_sizes_weekly": (cohort_raw, cohort_routed, "approx", "flat",
                                "default"),
        "seg_overview_weekly": (seg_raw, seg_routed, "exact", "flat",
                                "default"),
        "uniques_weekly_by_type": (uniq_raw, uniq_routed, "approx", "flat",
                                   "default"),
        "growth_daily_userday": (growth_raw, growth_routed, "exact",
                                 "user_grain", "dense"),
        "rfm_grid_userday": (rfm_raw, rfm_routed, "exact", "user_grain",
                             "dense"),
        "lness_grid_userday": (lness_raw, lness_routed, "exact",
                               "user_grain", "dense"),
    }


def _crosscheck(raw_df, routed_df, mode: str) -> dict:
    """x1 value check: routed answers must reproduce the raw path —
    exactly for additive folds, within EPS for HLL-backed actives."""
    def keyed(df):
        rows = df.collect()
        # every grid coordinate is a key: a grid whose coordinates
        # were values would collapse to one arbitrary row per side
        key_cols = [c for c in df.columns if c in (
            "bucket", "cohort_bucket", "event", "event_type",
            "r_score", "f_score", "m_score", "l_short", "l_long")]
        out = {}
        for r in rows:
            d = r.asDict()
            k = tuple(str(d[c]) for c in key_cols)
            out[k] = {c: d[c] for c in df.columns if c not in key_cols}
        return out

    a, b = keyed(raw_df), keyed(routed_df)
    if set(a) != set(b):
        return {"match": False, "why": "key sets differ",
                "raw_rows": len(a), "routed_rows": len(b)}
    worst = 0.0
    for k, va in a.items():
        vb = b[k]
        for c, x in va.items():
            y = vb.get(c)
            if x is None or y is None:
                if x != y:
                    return {"match": False, "why": f"null mismatch {k}/{c}"}
                continue
            x, y = float(x), float(y)
            rel = abs(x - y) / max(abs(x), 1e-12)
            worst = max(worst, rel)
            if mode == "exact" and rel > 1e-9:
                return {"match": False, "why": f"exact mismatch {k}/{c}",
                        "rel": rel}
            if rel > EPS:
                return {"match": False, "why": f"beyond eps {k}/{c}",
                        "rel": rel}
    return {"match": True, "rows": len(a), "worst_rel": round(worst, 6)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--dir", default="/tmp/optiprism_rollup_scale")
    ap.add_argument("--out", default=None)
    ap.add_argument("--passes", type=int, default=PASSES)
    args = ap.parse_args()

    from optiprism_spark import snapshot
    from optiprism_spark.events_gen import generate_events
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.schema import parquet_bytes
    from optiprism_spark.session import get_spark
    from optiprism_spark.userday import UserDayStore

    spark = get_spark("optiprism_rollup_scale",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spec = RollupSpec()

    # x1 ~ 1M events (10x sf0.1): on local[32] a 100k-row scan never
    # leaves the fixed-overhead regime, so raw-vs-routed would measure
    # scheduler noise; at 1M -> 10M the raw scan's growth is real while
    # the routed frame stays #days x #dims rows at any factor
    per_user = (
        generate_events(spark, 1000, sessions_per_user=SESSIONS).count() / 1000
    )
    n1 = max(1, round(1_000_000 / per_user))
    print(f"calibration: {per_user:.2f} events/user -> x1={n1} users, "
          f"x{args.factor}={n1 * args.factor}", file=sys.stderr)

    corpora = {}
    #: dense-corpus sessions: 96 sessions at 1.5h gaps = ~27 events
    #: per user-day over ~6 days — heavy-product activity density,
    #: where (dt, user, type) partials actually compress the scan
    #: (users scaled down to keep the same ~1M / 10M event volume as
    #: the default corpus)
    DENSE_SESSIONS, DENSE_GAP_S = 96, 5400
    dense_scale = max(1, round(DENSE_SESSIONS / SESSIONS))
    builds = [("x1", n1, None), (f"x{args.factor}", n1 * args.factor, None),
              ("x1_dense", max(1, n1 // dense_scale), "dense"),
              (f"x{args.factor}_dense",
               max(1, n1 * args.factor // dense_scale), "dense")]
    for label, users, kind in builds:
        d = os.path.join(args.dir, label)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "events.parquet")
        if not os.path.exists(path):
            gen_kwargs = (
                {"sessions_per_user": DENSE_SESSIONS,
                 "session_gap_s": DENSE_GAP_S}
                if kind == "dense"
                else {"sessions_per_user": SESSIONS})
            generate_events(
                spark, n_users=users, **gen_kwargs
            ).write.mode("overwrite").parquet(path)
        ev = spark.read.parquet(os.path.join(d, "events.parquet"))
        store = RollupStore(os.path.join(d, "rollup"), spec)
        t0 = time.perf_counter()
        store.rebuild(spark, ev)
        t_build = round(time.perf_counter() - t0, 3)
        ud = UserDayStore(os.path.join(d, "userday"))
        t0 = time.perf_counter()
        ud.rebuild(spark, ev)
        t_ud_build = round(time.perf_counter() - t0, 3)
        corpora[label] = {
            "events": ev, "store": store, "ud": ud,
            "stats": {
                "events_rows": ev.count(),
                "events_bytes": parquet_bytes(
                    os.path.join(d, "events.parquet")),
                "store_rows": store.read(spark).count(),
                "store_bytes": snapshot.nbytes(snapshot.load(store.path)),
                "build_sec": t_build,
                "userday_rows": ud.read(spark).count(),
                "userday_bytes": snapshot.nbytes(snapshot.load(ud.path)),
                "userday_build_sec": t_ud_build,
            },
        }
        print(f"{label}: {corpora[label]['stats']}", file=sys.stderr)

    suite = _queries()
    x1, xN = corpora["x1"], corpora[f"x{args.factor}"]
    pick = {
        "default": (x1, xN),
        "dense": (corpora["x1_dense"], corpora[f"x{args.factor}_dense"]),
    }

    # warm JVM
    next(iter(suite.values()))[0](
        spark, x1["events"], x1["store"], spec, x1["ud"]
    ).write.format("noop").mode("overwrite").save()

    results, gate_fail = {}, []
    for name, (raw_fn, routed_fn, mode, cls, corpus) in suite.items():
        c1, cN = pick[corpus]
        check = _crosscheck(
            raw_fn(spark, c1["events"], c1["store"], spec, c1["ud"]),
            routed_fn(spark, c1["events"], c1["store"], spec, c1["ud"]),
            mode)
        r1, rN, o1, oN = (
            best_noop_s(lambda: fn(spark, c["events"], c["store"], spec,
                                   c["ud"]), args.passes)
            for fn, c in ((raw_fn, c1), (raw_fn, cN), (routed_fn, c1),
                          (routed_fn, cN)))
        entry = {
            "class": cls,
            "corpus": corpus,
            "raw": {"t1": r1, "tN": rN, "ratio": round(rN / r1, 2)},
            "routed": {"t1": o1, "tN": oN, "ratio": round(oN / o1, 2)},
            "speedup_at_N": round(rN / oN, 2),
            "x1_values": check,
        }
        results[name] = entry
        if not check["match"]:
            gate_fail.append(f"{name}: x1 values diverge ({check})")
        if entry["speedup_at_N"] <= 1.0:
            gate_fail.append(f"{name}: routed not faster at x{args.factor}")
        if cls == "flat" and entry["routed"]["ratio"] > ROUTED_FLAT_THRESH:
            gate_fail.append(f"{name}: routed ratio {entry['routed']['ratio']}"
                             f" > {ROUTED_FLAT_THRESH}")
        if cls == "user_grain" and (
                entry["routed"]["ratio"]
                > max(entry["raw"]["ratio"] * 1.2, 2.0)):
            gate_fail.append(
                f"{name}: user-grain routed ratio "
                f"{entry['routed']['ratio']} scales worse than raw "
                f"{entry['raw']['ratio']}")
        print(f"{name}: raw {r1}->{rN}s (x{entry['raw']['ratio']}) "
              f"routed {o1}->{oN}s (x{entry['routed']['ratio']}) "
              f"speedup@N {entry['speedup_at_N']} check={check['match']}",
              file=sys.stderr)

    payload = {
        "metric": "rollup_routing_scale",
        "factor": args.factor,
        "unit": "sec",
        "routed_flat_threshold": ROUTED_FLAT_THRESH,
        "corpora": {k: v["stats"] for k, v in corpora.items()},
        "queries": results,
        "gate": {"pass": not gate_fail, "failures": gate_fail},
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    if gate_fail:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
