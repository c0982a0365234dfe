"""Ops metrics plane — Prometheus text exposition, no dependencies.

The reference exports ~35 series through a metrics exporter wired in
its server binary (names in common/src/types.rs:86-121, served from
src/cmd); operators watch per-query latency histograms, store
scan/insert/compaction timers and ingester counters from day one.
This module is the Spark-facade analogue: a process-global registry
of counters / gauges / histograms carrying the SAME series names,
rendered in Prometheus text exposition format 0.0.4 by ``render()``
and served from ``GET /metrics`` on the WSGI app (server.py).

Semantics note (Spark-first): these series cover the CONTROL plane —
HTTP handling, ingest acks, query compile+submit wall time, WAL
recovery, compaction jobs — i.e. everything that happens in this
process. Executor-side task metrics (bytes scanned per stage, shuffle
spill, task skew) already exist in Spark's own metrics system /
REST API and are deliberately not duplicated here; at cluster scale
you scrape both endpoints.

Thread safety: one lock per metric — the WSGI facade handles requests
from multiple threads and the scrape must never tear a histogram.
"""

from __future__ import annotations

import math
import threading
import time
from typing import Optional

# Series names, verbatim from the reference (common/src/types.rs:86-121).
METRIC_STORE_INSERTS_TOTAL = "optiprism_store_inserts_total"
METRIC_STORE_INSERT_TIME_SECONDS = "optiprism_store_insert_time_seconds"
METRIC_STORE_SCANS_TOTAL = "optiprism_store_scans_total"
METRIC_STORE_SCAN_TIME_SECONDS = "optiprism_store_scan_time_seconds"
METRIC_STORE_MERGES_TOTAL = "optiprism_store_merges_total"
METRIC_STORE_MERGE_TIME_SECONDS = "optiprism_store_merge_time_seconds"
METRIC_STORE_MEMTABLE_ROWS = "optiprism_store_memtable_rows"
METRIC_STORE_COMPACTIONS_TOTAL = "optiprism_store_compactions_total"
METRIC_STORE_COMPACTION_TIME_SECONDS = "optiprism_store_compaction_time_seconds"
METRIC_STORE_RECOVERY_TIME_SECONDS = "optiprism_store_recovery_time_seconds"
METRIC_STORE_FLUSH_TIME_SECONDS = "optiprism_store_flush_time_seconds"
METRIC_STORE_FLUSHES_TOTAL = "optiprism_store_flushes_total"
METRIC_INGESTER_TRACKED_TOTAL = "optiprism_ingester_tracked_total"
METRIC_INGESTER_TRACK_TIME_SECONDS = "optiprism_ingester_track_time_seconds"
METRIC_INGESTER_IDENTIFIED_TOTAL = "optiprism_ingester_identified_total"
METRIC_INGESTER_IDENTIFY_TIME_SECONDS = "optiprism_ingester_identify_time_seconds"
METRIC_QUERY_QUERIES_TOTAL = "optiprism_query_queries_total"
METRIC_QUERY_EXECUTION_TIME_SECONDS = "optiprism_query_execution_time_seconds"
METRIC_HTTP_REQUEST_TIME_SECONDS = "optiprism_http_request_time_seconds"
METRIC_HTTP_REQUESTS_TOTAL = "optiprism_http_requests_total"
METRIC_BACKUPS_TOTAL = "optiprism_query_backups_total"
METRIC_BACKUP_TIME_SECONDS = "optiprism_backup_time_seconds"

#: default latency buckets (seconds) — wide enough for Spark job
#: submission on the right and HTTP handling on the left
_BUCKETS = (0.001, 0.005, 0.025, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0,
            30.0, 60.0)


def _fmt(v: float) -> str:
    if v == math.inf:
        return "+Inf"
    if float(v).is_integer():
        return str(int(v))
    return repr(float(v))


def _labels_key(labelnames, labels: dict) -> tuple:
    if set(labels) != set(labelnames):
        raise ValueError(
            f"labels {sorted(labels)} != declared {sorted(labelnames)}")
    return tuple(str(labels[n]) for n in labelnames)


def _labels_str(labelnames, key: tuple) -> str:
    if not labelnames:
        return ""
    inner = ",".join(
        f'{n}="{v}"' for n, v in zip(labelnames, key))
    return "{" + inner + "}"


class Counter:
    typ = "counter"

    def __init__(self, name: str, help_: str, labelnames: tuple = ()):
        self.name, self.help, self.labelnames = name, help_, tuple(labelnames)
        self._lock = threading.Lock()
        self._values: dict[tuple, float] = {}

    def inc(self, amount: float = 1.0, **labels) -> None:
        if amount < 0:
            raise ValueError("counters only go up")
        key = _labels_key(self.labelnames, labels)
        with self._lock:
            self._values[key] = self._values.get(key, 0.0) + amount

    def value(self, **labels) -> float:
        return self._values.get(_labels_key(self.labelnames, labels), 0.0)

    def render(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}",
               f"# TYPE {self.name} {self.typ}"]
        with self._lock:
            items = sorted(self._values.items())
        for key, v in items:
            out.append(
                f"{self.name}{_labels_str(self.labelnames, key)} {_fmt(v)}")
        return out


class Gauge(Counter):
    typ = "gauge"

    def set(self, value: float, **labels) -> None:
        key = _labels_key(self.labelnames, labels)
        with self._lock:
            self._values[key] = float(value)

    def inc(self, amount: float = 1.0, **labels) -> None:
        key = _labels_key(self.labelnames, labels)
        with self._lock:
            self._values[key] = self._values.get(key, 0.0) + amount


class Histogram:
    typ = "histogram"

    def __init__(self, name: str, help_: str, labelnames: tuple = (),
                 buckets: tuple = _BUCKETS):
        self.name, self.help, self.labelnames = name, help_, tuple(labelnames)
        self.buckets = tuple(buckets) + (math.inf,)
        self._lock = threading.Lock()
        # key -> [bucket counts..., sum, count]
        self._series: dict[tuple, list] = {}

    def observe(self, value: float, **labels) -> None:
        key = _labels_key(self.labelnames, labels)
        with self._lock:
            s = self._series.get(key)
            if s is None:
                s = self._series[key] = [0] * len(self.buckets) + [0.0, 0]
            for i, le in enumerate(self.buckets):
                if value <= le:
                    s[i] += 1
            s[-2] += value
            s[-1] += 1

    def time(self, **labels) -> "_Timer":
        return _Timer(self, labels)

    def count(self, **labels) -> int:
        s = self._series.get(_labels_key(self.labelnames, labels))
        return 0 if s is None else s[-1]

    def render(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}",
               f"# TYPE {self.name} {self.typ}"]
        with self._lock:
            items = sorted((k, list(v)) for k, v in self._series.items())
        for key, s in items:
            pairs = list(zip(self.labelnames, key))
            for i, le in enumerate(self.buckets):
                lbl = ",".join(
                    [f'{n}="{v}"' for n, v in pairs] + [f'le="{_fmt(le)}"'])
                out.append(f"{self.name}_bucket{{{lbl}}} {s[i]}")
            base = _labels_str(self.labelnames, key)
            out.append(f"{self.name}_sum{base} {repr(float(s[-2]))}")
            out.append(f"{self.name}_count{base} {s[-1]}")
        return out


class _Timer:
    def __init__(self, hist: Histogram, labels: dict):
        self._hist, self._labels = hist, labels

    def __enter__(self):
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self._hist.observe(time.monotonic() - self._t0, **self._labels)
        return False


class Registry:
    def __init__(self):
        self._lock = threading.Lock()
        self._metrics: dict[str, object] = {}

    def _get_or_create(self, cls, name, help_, labelnames, **kw):
        with self._lock:
            m = self._metrics.get(name)
            if m is None:
                m = self._metrics[name] = cls(name, help_, labelnames, **kw)
            elif not isinstance(m, cls) or m.labelnames != tuple(labelnames):
                raise ValueError(f"metric {name!r} re-registered differently")
            return m

    def counter(self, name, help_="", labelnames=()) -> Counter:
        return self._get_or_create(Counter, name, help_, labelnames)

    def gauge(self, name, help_="", labelnames=()) -> Gauge:
        return self._get_or_create(Gauge, name, help_, labelnames)

    def histogram(self, name, help_="", labelnames=(),
                  buckets=_BUCKETS) -> Histogram:
        m = self._get_or_create(
            Histogram, name, help_, labelnames, buckets=buckets)
        if m.buckets[:-1] != tuple(buckets):
            # same guarantee as the labelnames check: a second caller
            # must not silently observe into boundaries it never chose
            raise ValueError(f"metric {name!r} re-registered differently")
        return m

    def get(self, name: str) -> Optional[object]:
        return self._metrics.get(name)

    def render(self) -> str:
        with self._lock:
            metrics = sorted(self._metrics.values(), key=lambda m: m.name)
        lines: list[str] = []
        for m in metrics:
            lines.extend(m.render())
        return "\n".join(lines) + "\n"

    def reset(self) -> None:
        """Drop all series (tests; a process restart equivalent)."""
        with self._lock:
            self._metrics.clear()


#: process-global registry, like the reference's global recorder
REGISTRY = Registry()


# ---- the series the engine increments (get-or-create accessors so
# ---- import order never matters)

def http_requests_total() -> Counter:
    return REGISTRY.counter(
        METRIC_HTTP_REQUESTS_TOTAL, "HTTP requests served",
        ("method", "status"))


def http_request_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_HTTP_REQUEST_TIME_SECONDS, "HTTP request handling time",
        ("method",))


def ingester_tracked_total() -> Counter:
    return REGISTRY.counter(
        METRIC_INGESTER_TRACKED_TOTAL, "track events accepted")


def ingester_track_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_INGESTER_TRACK_TIME_SECONDS, "track ingest time")


def ingester_identified_total() -> Counter:
    return REGISTRY.counter(
        METRIC_INGESTER_IDENTIFIED_TOTAL, "identify calls accepted")


def ingester_identify_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_INGESTER_IDENTIFY_TIME_SECONDS, "identify ingest time")


def query_queries_total() -> Counter:
    return REGISTRY.counter(
        METRIC_QUERY_QUERIES_TOTAL, "queries executed", ("query_type",))


def query_execution_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_QUERY_EXECUTION_TIME_SECONDS,
        "query compile+execute wall time", ("query_type",))


def query_rejected_total() -> Counter:
    """Queries shed by admission control (429 + Retry-After), labeled
    by FAIR pool: nonzero means the per-pool in-flight cap fired —
    the overload signal that distinguishes bounded shedding from an
    unbounded queue building toward timeout collapse."""
    return REGISTRY.counter(
        "optiprism_query_rejected_total",
        "queries shed by per-pool admission control", ("pool",))


def user_day_routed_total() -> Counter:
    """Per-query routing decisions of the user-grain activity store
    (userday.UserDayStore): path=store when RFM / growth folds from
    (dt, user) partials, path=raw on fallback — the engagement twin
    of optiprism_query_rollup_routed_total."""
    return REGISTRY.counter(
        "optiprism_user_day_routed_total",
        "rfm/growth queries by answer path", ("surface", "path"))


def percentile_edge_mode_total() -> Counter:
    """Regime decisions of the shared percentile-edge recipe
    (operators/edges.py): mode=exact below the sizing threshold (the
    oracle regime), mode=approx beyond it (bounded-memory sketch).
    surface labels the caller (rfm, curriculum, drift_quantile) —
    'did my readout silently go approximate' is a dashboard question."""
    return REGISTRY.counter(
        "optiprism_percentile_edge_mode_total",
        "percentile-edge computations by regime", ("surface", "mode"))


def maintenance_store_advanced_total() -> Counter:
    """Per-store advances of the unified maintenance tick
    (server.App.maintain): store labels which tier moved (rollup,
    user_day, kmv, ann, quality_gate, sessions) — one orchestrator
    call per lake fold should advance every declared store exactly
    once; a store that stops moving here is a stale serving tier."""
    return REGISTRY.counter(
        "optiprism_maintenance_store_advanced_total",
        "store advances per unified maintenance tick", ("store",))


def query_rollup_routed_total() -> Counter:
    """Per-event-query routing decisions: path=rollup when a request
    folds out of the day-grain pre-aggregate, path=raw on fallback —
    the rollup's hit rate is the first thing to look at when dashboard
    latency regresses."""
    return REGISTRY.counter(
        "optiprism_query_rollup_routed_total",
        "segmentation event-queries by answer path", ("path",))


def warehouse_layout_routed_total() -> Counter:
    """Warehouse fact-pair routing decisions: path=layout when the
    co-bucketed orders/lineitem tables answer (Exchange-free fact⋈fact
    join), path=raw when the query fell back to plain parquet and
    paid the two-table shuffle — at scale a sustained raw count on a
    hot join is the signal to build the layout."""
    return REGISTRY.counter(
        "optiprism_warehouse_layout_routed_total",
        "warehouse fact loads by answer path", ("path",))


def funnel_layout_routed_total() -> Counter:
    """Served funnel queries by physical path: path=bucketed when the
    fully-compacted lake let the per-user shuffle be elided
    (funnel_attempts assume_partitioned — the write layout already
    delivers user-partitioned input), path=shuffle otherwise. A
    sustained shuffle count means the compaction loop is behind."""
    return REGISTRY.counter(
        "optiprism_funnel_layout_routed_total",
        "funnel queries by partitioning path", ("path",))


def whale_guard_keys_capped() -> Counter:
    """Keys truncated by a whale guard (operators/whale.py
    cap_rows_per_key observe() metrics), labeled by guard name
    (attr_touch_cap, path_cap, ...). Non-zero means the lossy
    approximation knob FIRED — the ops signal a 100 TB deployment
    watches before trusting a capped attribution or paths report."""
    return REGISTRY.counter(
        "optiprism_whale_guard_keys_capped_total",
        "keys truncated by a whale (skew) guard", ("guard",))


def whale_guard_max_key_rows() -> Gauge:
    """Largest per-key row count seen by a whale guard in the most
    recent observed query — how big the whale actually was."""
    return REGISTRY.gauge(
        "optiprism_whale_guard_max_key_rows",
        "largest per-key row count at the last guarded query", ("guard",))


def harvest_observed(df) -> dict:
    """Fold a COLLECTED DataFrame's observed metrics (CollectMetrics
    nodes — the whale guards' ``observe_as`` names) into the registry;
    returns {metric_name: {field: value}} for callers and tests.

    The guards are pure-JVM plans (no Python task to update an
    accumulator from), so their counters travel as named observe()
    metrics on the query; the serving layer calls this after the
    response collect, which is the moment the metrics exist. Reading
    an un-executed frame yields an empty map (harmless no-op)."""
    out: dict = {}
    try:
        it = df._jdf.queryExecution().observedMetrics().iterator()
        while it.hasNext():
            kv = it.next()
            name, row = kv._1(), kv._2()
            fields = row.schema().fields()
            out[name] = {
                fields[i].name(): (None if row.isNullAt(i) else row.get(i))
                for i in range(row.size())
            }
    except Exception:
        return out
    for name, vals in out.items():
        if not name.endswith("_cap"):  # whale-guard naming convention
            continue
        capped = vals.get("keys_capped")
        if capped:
            whale_guard_keys_capped().inc(float(capped), guard=name)
        worst = vals.get("max_key_rows")
        if worst is not None:
            whale_guard_max_key_rows().set(float(worst), guard=name)
    return out


def query_result_cache_total() -> Counter:
    """Serving-layer result-cache outcomes per query type: hit = the
    serialized response was replayed without touching Spark, miss =
    executed and stored. A dashboard fleet re-firing identical
    requests should show a hit ratio tracking its refresh cadence."""
    return REGISTRY.counter(
        "optiprism_query_result_cache_total",
        "query result cache lookups", ("query_type", "outcome"))


def store_scans_total() -> Counter:
    return REGISTRY.counter(
        METRIC_STORE_SCANS_TOTAL, "table scans opened", ("table",))


def store_scan_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_STORE_SCAN_TIME_SECONDS,
        "driver-side scan open time (executor-side task metrics live "
        "in the Spark metrics system)", ("table",))


def store_inserts_total() -> Counter:
    return REGISTRY.counter(
        METRIC_STORE_INSERTS_TOTAL, "batch inserts into the events table")


def store_insert_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_STORE_INSERT_TIME_SECONDS, "batch insert time")


def store_compactions_total() -> Counter:
    return REGISTRY.counter(
        METRIC_STORE_COMPACTIONS_TOTAL, "compaction jobs run")


def store_compaction_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_STORE_COMPACTION_TIME_SECONDS, "compaction job time")


def store_recovery_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_STORE_RECOVERY_TIME_SECONDS, "WAL replay time at startup")


def store_flushes_total() -> Counter:
    return REGISTRY.counter(
        METRIC_STORE_FLUSHES_TOTAL, "ingest checkpoint flushes")


def store_flush_time() -> Histogram:
    return REGISTRY.histogram(
        METRIC_STORE_FLUSH_TIME_SECONDS, "ingest checkpoint flush time")


def store_memtable_rows() -> Gauge:
    return REGISTRY.gauge(
        METRIC_STORE_MEMTABLE_ROWS, "rows buffered awaiting flush")


def backups_total() -> Counter:
    return REGISTRY.counter(METRIC_BACKUPS_TOTAL, "backups created")


def backup_time() -> Histogram:
    return REGISTRY.histogram(METRIC_BACKUP_TIME_SECONDS, "backup time")


def quality_gate_failures_total() -> Counter:
    """Failing constraints from the maintenance-loop quality gate
    (App.gate_quality over each ingest batch's declared batteries) —
    a sustained count on one constraint is the 'vendor broke the
    feed' alarm; zero is the steady state."""
    return REGISTRY.counter(
        "optiprism_quality_gate_failures_total",
        "declared-battery constraint failures per ingest batch",
        ("constraint",))


def codegen_compiles_total() -> Counter:
    """Classes Spark's code generator compiled in this process's JVM
    (CodegenMetrics). Distinct plans need new classes; a steady rise
    per maintenance tick or per repeated request means the
    generated-class cache (``spark.sql.codegen.cache.maxEntries``,
    session.py) is smaller than the working set and thrashing. On a
    cluster this is the driver JVM's count, not the executors'."""
    return REGISTRY.counter(
        "optiprism_codegen_compiles_total",
        "generated classes compiled by the driver JVM")


def codegen_compile_seconds() -> Counter:
    """Cumulative time the driver JVM spent compiling generated
    classes (CodeGenerator's compile-time total) — CPU that neither
    serving nor ingest gets."""
    return REGISTRY.counter(
        "optiprism_codegen_compile_seconds",
        "time spent compiling generated classes")


_CODEGEN_LOCK = threading.Lock()


def sync_codegen(spark) -> None:
    """Advance the two codegen counters to the JVM's running totals —
    called at scrape time. The JVM totals only grow, so the counters
    stay monotone; after ``REGISTRY.reset()`` they restart from the
    totals. A dead JVM leaves them where they were."""
    from py4j.protocol import Py4JError

    try:
        jvm = spark._jvm
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator.compileTime()
    except Py4JError:
        return
    with _CODEGEN_LOCK:
        for counter, total in ((codegen_compiles_total(), float(n)),
                               (codegen_compile_seconds(), ns / 1e9)):
            counter.inc(max(0.0, total - counter.value()))
