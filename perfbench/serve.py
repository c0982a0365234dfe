"""The server process of one benchmark run.

Builds the engine the way a deployment does — ``session.get_spark``
with an explicit ``cpus``, the materialized stores, ``server.make_app``
and its threaded WSGI server — on private directories handed in by
``run.py``, prints one ``{"ready": ...}`` line on stdout and serves
until ``run.py`` signals its process group.

Routes under ``/__bench/`` belong to the benchmark, not the engine:

- ``GET  /__bench/stats``    JVM GC / JIT totals (MXBeans over py4j)
- ``POST /__bench/maintain`` one maintenance tick (ingest_fold)
- ``POST /__bench/direct``   a segmentation body run straight through
  ``run_event_segmentation`` on the raw events (answer checks)
- ``GET  /__bench/trace``    spans and per-request Spark job stats

Every other path goes to ``App``. With ``--trace 1`` the wrappers of
``spans.py`` are installed first and each request runs under its own
Spark job group.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

LAKE_TABLE = "perfbench_events"


def jvm_stats(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc_ms / 1000.0,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime()
            / 1000.0}


def dir_sizes(*roots: str) -> dict:
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items()
               if before.get(p, (None, None))[1] != mt)


class Bench:
    """WSGI front: benchmark routes, then the engine's ``App``."""

    def __init__(self, spark, app, tracer, state):
        self.spark = spark
        self.app = app
        self.tracer = tracer
        self.state = state
        self._rids = itertools.count(1)
        #: the Spark job group and eager-job count of the thread's request
        self._local = threading.local()
        self._tick_lock = threading.Lock()
        #: per-request Spark job stats (traced runs)
        self.requests: list[dict] = []
        self._req_lock = threading.Lock()

    # ---------------------------------------------------------- WSGI
    def __call__(self, environ, start_response):
        path = environ.get("PATH_INFO", "")
        if not path.startswith("/__bench/"):
            if self.tracer is None:
                return self.app(environ, start_response)
            return self._traced_call(environ, start_response)
        try:
            n = int(environ.get("CONTENT_LENGTH") or 0)
            raw = environ["wsgi.input"].read(n) if n else b""
            body = json.loads(raw) if raw else {}
            out = getattr(self, "_" + path[len("/__bench/"):])(body)
            status = "200 OK"
        except Exception as e:  # reported to the client, counted there
            import traceback

            traceback.print_exc()
            out, status = {"error": f"{type(e).__name__}: {e}"}, \
                "500 Internal Server Error"
        data = json.dumps(out).encode()
        start_response(status, [("Content-Type", "application/json"),
                                ("Content-Length", str(len(data)))])
        return [data]

    def _traced_call(self, environ, start_response):
        tr = self.tracer
        rid = next(self._rids)
        tr.rid = rid
        sc = self.spark.sparkContext
        group = f"perfbench-{rid}"
        sc.setJobGroup(group, environ.get("PATH_INFO", ""), False)
        self._local.group = group
        self._local.eager_jobs = 0
        try:
            with tr.span("server.dispatch"):
                out = self.app(environ, start_response)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            tr.rid = None
        self._record_jobs(rid, group, environ.get("PATH_INFO", ""),
                          self._local.eager_jobs)
        return out

    def count_eager_jobs(self) -> None:
        """Jobs the request's handler fired before returning its frame."""
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(
            self._local.group)
        self._local.eager_jobs = len(list(ids or []))

    def _record_jobs(self, rid, group, path, eager_jobs) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group) or [])
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        with self._req_lock:
            self.requests.append({
                "rid": rid, "path": path, "jobs": len(jobs),
                "stages": stages, "tasks": tasks, "failed_tasks": failed,
                "eager_jobs": eager_jobs})

    # ------------------------------------------------ benchmark routes
    def _stats(self, body):
        return dict(jvm_stats(self.spark), pid=os.getpid())

    def _trace(self, body):
        if self.tracer is None:
            return {"spans": [], "requests": []}
        with self._req_lock:
            reqs = list(self.requests)
        return {"spans": self.tracer.dump(), "requests": reqs}

    def _direct(self, body):
        from optiprism_spark import api
        from optiprism_spark.queries.event_segmentation import (
            run_event_segmentation,
        )
        from optiprism_spark.schema import load_table

        req = api.parse_event_segmentation(body["body"])
        df = run_event_segmentation(
            load_table(self.spark, workloads.DATA_DIR, "events"), req)
        rows = df.collect()
        return {"columns": {
            f: [None if r[f] is None else str(r[f]) for r in rows]
            for f in df.columns}}

    def _maintain(self, body):
        """One maintenance tick, as a deployment's scheduler runs it."""
        from optiprism_spark.ingest import tracked_to_events
        from optiprism_spark.server import _TRACK_SCHEMA
        from optiprism_spark.streaming.sessionize import append_events

        st = self.state
        tr = self.tracer
        span = tr.span if tr is not None else _no_span
        with self._tick_lock, span("bench.tick"):
            t0 = time.perf_counter()
            before = dir_sizes(*st["write_roots"]) if tr is not None else {}
            snap, _ = self.app.begin_checkpoint()
            with span("ingest.to_events"):
                new = tracked_to_events(
                    self.spark.createDataFrame(snap, _TRACK_SCHEMA),
                    base_event_id=st["next_event_id"]).persist()
                rows = new.count()
            with span("ingest.append"):
                append_events(new, st["appends"])
            with span("bench.maintain"):
                self.app.maintain(new)
            with span("server.commit_checkpoint"):
                self.app.commit_checkpoint()
            with span("bench.compact"):
                folds = st["policy"].maybe_compact(
                    self.spark, LAKE_TABLE, st["appends"], st["tiers"])
            new.unpersist()
            st["next_event_id"] += rows
            out = {"rows": rows, "fold_s": time.perf_counter() - t0,
                   "minor_rows": folds["minor_rows"],
                   "major_rows": folds["major_rows"]}
            if tr is not None:
                out["bytes_written"] = bytes_written(
                    before, dir_sizes(*st["write_roots"]))
            return out


def _no_span(_name):
    return contextlib.nullcontext()


def build(args, tracer):
    """Session, stores and ``App`` for one workload."""
    span = tracer.span if tracer is not None else _no_span
    from optiprism_spark import session
    from optiprism_spark.rollup import RollupSpec, RollupStore
    from optiprism_spark.schema import load_table
    from optiprism_spark.server import make_app
    from optiprism_spark.streaming.audience import KmvDayStore
    from optiprism_spark.userday import UserDayStore

    w = args.work_dir
    with span("session.build"):
        spark = session.get_spark("perfbench", cpus=args.cpus, extra_conf={
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        })
    events = load_table(spark, workloads.DATA_DIR, "events")
    stores = os.path.join(w, "stores")
    state: dict = {}
    lake = None
    wal_dir = None
    if args.workload == "ingest_fold":
        from optiprism_spark.ingest import (
            TieredCompactionPolicy,
            write_events_bucketed,
        )

        with span("ingest.lake_base"):
            write_events_bucketed(events, LAKE_TABLE)
        events = spark.table(LAKE_TABLE)
        lake = {"table_name": LAKE_TABLE,
                "appends_path": os.path.join(w, "lake", "appends"),
                "tiers_path": os.path.join(w, "lake", "tiers")}
        wal_dir = os.path.join(w, "wal")
        state = {"appends": lake["appends_path"],
                 "tiers": lake["tiers_path"],
                 "next_event_id": workloads.N_EVENTS,
                 "policy": TieredCompactionPolicy(
                     l0_max_parts=workloads.INGEST_L0_MAX_PARTS,
                     l1_max_tiers=workloads.INGEST_L1_MAX_TIERS),
                 "write_roots": (os.path.join(w, "warehouse"),
                                 os.path.join(w, "lake"), stores, wal_dir)}
    rollup = RollupStore(os.path.join(stores, "rollup"), RollupSpec())
    with span("rollup.rebuild"):
        rollup.rebuild(spark, events)
    user_day = UserDayStore(os.path.join(stores, "userday"))
    with span("userday.rebuild"):
        user_day.rebuild(spark, events)
    kmv = KmvDayStore(os.path.join(stores, "kmv"))
    with span("kmv.build"):
        kmv.update(spark, events)
    app = make_app(spark, workloads.DATA_DIR, wal_dir=wal_dir, lake=lake,
                   rollup_store=rollup, user_day_store=user_day,
                   kmv_store=kmv)
    return spark, app, state


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    os.chdir(args.work_dir)

    tracer = None
    if args.trace:
        import spans as bench_trace

        tracer = bench_trace.Tracer()
        bench_trace.install(tracer)

    spark, app, state = build(args, tracer)
    bench = Bench(spark, app, tracer, state)
    if tracer is not None:
        bench_trace.wrap_route_handlers(tracer, app,
                                        on_return=bench.count_eager_jobs)

    from optiprism_spark.server import make_threaded_server

    srv = make_threaded_server(bench)
    import pyspark

    print(json.dumps({
        "ready": True, "port": srv.server_address[1], "pid": os.getpid(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", ""),
        "master": spark.sparkContext.master,
    }), flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
