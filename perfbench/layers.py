"""Per-layer metrics of a traced run: spans, per-request Spark job
stats and ``/metrics`` counter deltas, restricted to the timed window.

Timings are per-request (or per-batch) means in seconds; a layer the
workload never enters reads 0. A routed ratio counts a store's routed
decisions per query request of the window, so a 0 says no request was
served from it, whether or not one was tried there. The funnel and
warehouse layouts are not measured: no tile is a funnel, and the
warehouse layout serves only orders/lineitem, which the served dataset
does not hold. Self time of a span is its duration minus its direct
children's (children of one span run on its thread, one after another).
"""

from __future__ import annotations

import re
from collections import defaultdict

_LINE = re.compile(r'^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+(\S+)$')
_LABEL = re.compile(r'(\w+)="((?:[^"\\]|\\.)*)"')


def parse_prometheus(text: str) -> dict:
    """{metric name: [(labels, value), ...]} from the text exposition."""
    out: dict = defaultdict(list)
    for line in text.splitlines():
        m = _LINE.match(line.strip())
        if not m or line.startswith("#"):
            continue
        labels = dict(_LABEL.findall(m.group(2) or ""))
        out[m.group(1)].append((labels, float(m.group(3))))
    return out


def counter_delta(before: dict, after: dict, name: str, **match) -> float:
    def total(snap):
        return sum(v for labels, v in snap.get(name, ())
                   if all(labels.get(k) == w for k, w in match.items()))
    return total(after) - total(before)


def routed_ratio(win, name: str, routed_paths: tuple,
                 queries: int) -> float:
    """Routed decisions of counter ``name`` per query request of the
    window."""
    b, a = win.metrics0, win.metrics1
    routed = sum(counter_delta(b, a, name, path=p) for p in routed_paths)
    return routed / queries


def per_layer(trace: dict, run: dict, win) -> dict:
    t0, t1 = win.t0, win.t0 + win.seconds
    spans = trace["spans"]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def self_time(s):
        return dur(s) - sum(dur(c) for c in children[s["id"]])

    in_win = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
    paths = {r["rid"]: r["path"] for r in trace["requests"]}
    query_rids = {rid for rid, p in paths.items()
                  if "/queries/" in p or "/event-records/" in p}
    byname = defaultdict(list)
    for s in in_win:
        byname[s["name"]].append(s)
    q_dispatch = [s for s in byname["server.dispatch"]
                  if s["rid"] in query_rids]
    n_q = max(1, len(q_dispatch))
    win_rids = {s["rid"] for s in q_dispatch}
    by_id = {s["id"]: s for s in spans}

    def outermost(name):
        """Spans of ``name`` in the window's query requests that do not
        sit inside another span of the same name."""
        out = []
        for s in byname[name]:
            if s["rid"] not in win_rids:
                continue
            p = by_id.get(s["parent"])
            if p is not None and p["name"] == name:
                continue
            out.append(s)
        return out

    def per_query(name, fn=dur):
        return sum(fn(s) for s in outermost(name)) / n_q

    reqs = [r for r in trace["requests"] if r["rid"] in win_rids]

    def req_mean(key):
        return sum(r[key] for r in reqs) / max(1, len(reqs))

    ticks = byname["bench.tick"]
    n_t = max(1, len(ticks))

    def per_batch(name):
        return sum(dur(s) for s in byname[name]) / n_t

    def setup(name):
        return sum(dur(s) for s in spans if s["name"] == name)

    wal = byname["wal.append"]
    steps = run.get("steps", [])
    tracked_bytes = sum(s["tracked_bytes"] for s in steps)
    written = sum(s["tick"].get("bytes_written", 0) for s in steps)
    b, a = win.metrics0, win.metrics1
    hits = counter_delta(b, a, "optiprism_query_result_cache_total",
                         outcome="hit")
    misses = counter_delta(b, a, "optiprism_query_result_cache_total",
                           outcome="miss")
    s, c, r = "s", "count", "ratio"
    return {
        "session.build_s": (setup("session.build"), s),
        "rollup.rebuild_s": (setup("rollup.rebuild"), s),
        "userday.rebuild_s": (setup("userday.rebuild"), s),
        "kmv.build_s": (setup("kmv.build"), s),
        "ingest.lake_base_s": (setup("ingest.lake_base"), s),
        "api.parse_s": (per_query("api.parse"), s),
        "server.dispatch_self_s": (
            sum(self_time(x) for x in q_dispatch) / n_q, s),
        "plan.build_s": (per_query("plan.build"), s),
        "plan.eager_jobs": (req_mean("eager_jobs"), c),
        "spark.collect_s": (per_query("spark.collect"), s),
        "server.serialize_s": (per_query("server.serialize", self_time), s),
        "spark.jobs": (req_mean("jobs"), c),
        "spark.stages": (req_mean("stages"), c),
        "spark.tasks": (req_mean("tasks"), c),
        "spark.failed_tasks": (req_mean("failed_tasks"), c),
        "server.cache_hit_ratio": (
            hits / (hits + misses) if hits + misses else 0.0, r),
        "server.rejected": (counter_delta(
            b, a, "optiprism_query_rejected_total"), c),
        "rollup.routed_ratio": (routed_ratio(
            win, "optiprism_query_rollup_routed_total", ("rollup", "kmv"),
            run["queries"]), r),
        "userday.routed_ratio": (routed_ratio(
            win, "optiprism_user_day_routed_total", ("store",),
            run["queries"]), r),
        "wal.append_s": (sum(map(dur, wal)) / max(1, len(wal)), s),
        "ingest.to_events_s": (per_batch("ingest.to_events"), s),
        "ingest.append_s": (per_batch("ingest.append"), s),
        "ingest.minor_fold_s": (per_batch("ingest.minor_fold"), s),
        "ingest.major_fold_s": (per_batch("ingest.major_fold"), s),
        "ingest.bytes_written_per_user_byte": (
            written / tracked_bytes if tracked_bytes else 0.0, r),
        "maintain.rollup_s": (per_batch("maintain.rollup"), s),
        "maintain.userday_s": (per_batch("maintain.userday"), s),
        "maintain.kmv_s": (per_batch("maintain.kmv"), s),
        "server.commit_checkpoint_s": (
            per_batch("server.commit_checkpoint"), s),
        "jvm.gc_s": (win.gc_s / max(1, run["queries"]), s),
        "jvm.jit_s": (win.jit_s / max(1, run["queries"]), s),
        "host.steal_s": (win.steal_s, s),
    }
