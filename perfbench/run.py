#!/usr/bin/env python3
"""sparkprism benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload dashboard_routed --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. Each run serves the fixed events table
of ``data/`` (the seed picks only the requests), starts the engine's
HTTP server in a fresh process on private directories (warehouse,
stores, WAL, lake, Spark local dirs, temp), drives it from this
process with at most ``nproc`` threads, checks every answer, stops the
server and deletes the directories.

Workloads (closed loops, one client process):

- ``dashboard_routed`` — refreshes of a dashboard: each refresh fires
  ``nproc`` distinct interactive tiles at once and waits for all of
  them. Tiles are served from the rollup, user-day and KMV stores
  (plus records search and the quality battery as raw scans), with the
  default result cache and admission limits. A fixed share of the
  refreshes repeats one from a few seconds earlier; the seed picks
  which, the windows and the event names.
- ``ingest_fold`` — writes beside reads: each step tracks a seeded
  batch over ``/track`` (WAL-journaled), runs the deployment's
  maintenance tick (checkpoint, lake append, store maintenance,
  tiered compaction) and then fires three reads at once that must
  each count exactly the rows acked so far. The window covers whole
  major-compaction cycles.

A window is a fixed number of whole units (dashboard rotations, ingest
compaction cycles): as many as take ``--seconds`` at the nominal pace
of ``workloads.py``, and at least two.
Percentiles interpolate between samples and never extrapolate past
them. Windows are short (at ``--seconds 12``: 48 requests and 12
refreshes on the dashboard, 12 reads and 4 steps on ingest), too short
for a gated p90: the p90s are in the report line, beside their sample
counts.

The last stdout line is the machine-readable result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the server installs the span wrappers of ``spans.py``
and the metrics are the per-layer ones. The line before it is a
report with every diagnostic (error ratio, track/fold figures, window
flatness, host steal, versions).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("dashboard_routed", "ingest_fold")
#: driver heap for the server JVM; recorded in every result
DRIVER_MEMORY = "3g"
SERVER_READY_TIMEOUT_S = 150
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ host probes

def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def session_procs(sid: int) -> list[int]:
    """Pids of every live process in the server's session (the server,
    its JVM and the Python workers the JVM forks)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # a zombie has ended; it only waits for its parent to reap it
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def tree_cpu_s(sid: int) -> float:
    """User+sys CPU of the server's process tree, reaped children
    included."""
    total = 0
    for pid in session_procs(sid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb(sid: int) -> float:
    total_kb = 0
    for pid in session_procs(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def shared_fingerprint() -> dict:
    """What exists of the default (shared) warehouse and metastore in
    the checkout, and of the served dataset: a run must neither create
    nor touch them."""
    out = {}
    for root in [os.path.join(REPO, name) for name in
                 ("spark-warehouse", "metastore_db", "derby.log")] \
            + [workloads.DATA_DIR]:
        if not os.path.exists(root):
            continue
        st = os.stat(root)
        out[root] = st.st_mtime_ns
        for dirpath, dirs, files in os.walk(root):
            for n in dirs + files:
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.stat(p).st_mtime_ns
                except OSError:
                    pass
    return out


# ---------------------------------------------------------------- HTTP

class Client:
    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"

    def call(self, method: str, path: str, body=None, timeout: float = 120):
        """(status, parsed JSON or None, seconds); transport errors come
        back as status 0."""
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"Content-Type": "application/json"})
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                raw = resp.read()
                status = resp.status
        except urllib.error.HTTPError as e:
            raw, status = e.read(), e.code
        except (urllib.error.URLError, OSError) as e:
            return 0, {"error": str(e)}, time.perf_counter() - t0
        sec = time.perf_counter() - t0
        try:
            payload = json.loads(raw) if raw else None
        except ValueError:
            payload = {"error": "non-JSON response"}
        return status, payload, sec

    def text(self, path: str) -> str:
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return resp.read().decode()

    def bench(self, name: str, body=None):
        status, out, _ = self.call("POST" if body is not None else "GET",
                                   f"/__bench/{name}", body)
        if status != 200:
            raise RuntimeError(f"/__bench/{name} -> {status}: {out}")
        return out


# -------------------------------------------------------------- server

class Server:
    """The engine's server process on private directories."""

    def __init__(self, args, work: str, nproc: int):
        # serve.py puts the warehouse, stores, WAL and lake under
        # ``work``; Spark's local dirs and every temp file go here too
        dirs = {k: os.path.join(work, k) for k in ("local", "tmp")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            # every JVM spark-submit starts (launcher and driver): temp
            # files in the run's directory, no /tmp/hsperfdata_* files
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                                 "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [REPO] + [p for p in [env.get("PYTHONPATH")] if p]),
        })
        env.pop("SPARK_GRAFT_ON_CLUSTER", None)
        env.pop("SPARK_GRAFT_NO_PRIME", None)
        self.log_path = os.path.join(work, "server.log")
        self._log = open(self.log_path, "wb")
        cmd = [sys.executable, os.path.join(HERE, "serve.py"),
               "--workload", args.workload, "--work-dir", work,
               "--cpus", str(nproc), "--trace", str(args.trace)]
        # own session: the JVM and Python workers join it, so the
        # whole tree is measured and stopped together
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=subprocess.PIPE,
            stderr=self._log, start_new_session=True)
        self.sid = self.proc.pid

    def wait_ready(self) -> None:
        box: dict = {}

        def read():
            for line in self.proc.stdout:
                try:
                    msg = json.loads(line)
                except ValueError:
                    continue
                if msg.get("ready"):
                    box["info"] = msg
                    return

        th = threading.Thread(target=read, daemon=True)
        th.start()
        th.join(SERVER_READY_TIMEOUT_S)
        if "info" not in box:
            raise RuntimeError("server did not become ready:\n"
                               + self.log_tail())
        self.info = box["info"]
        self.client = Client(self.info["port"])

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path, "rb") as f:
                lines = f.read().decode(errors="replace").splitlines()
            return "\n".join(lines[-n:])
        except OSError:
            return ""

    def stop(self) -> None:
        """Kill the whole session (server, JVM, Python workers) and wait
        until every process in it has exited. Nothing of the server
        needs a clean shutdown: its directories are deleted after it."""
        self.proc.kill()
        self.proc.wait()
        while procs := session_procs(self.sid):
            # by pid: Python workers may sit in their own process group
            for pid in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self._log.close()


# ------------------------------------------------------------ measuring

def pct(values: list[float], q: int) -> float:
    """q-th percentile (1..99), interpolated between the samples (never
    beyond the smallest or largest one)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Window:
    """Host, process-tree and JVM readings around the timed window."""

    def __init__(self, server: Server):
        self.server = server

    def __enter__(self):
        s = self.server
        self.jvm0 = s.client.bench("stats")
        self.cpu0 = tree_cpu_s(s.sid)
        self.steal0 = host_steal_s()
        self.metrics0 = layers.parse_prometheus(s.client.text("/metrics"))
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        s = self.server
        self.seconds = time.perf_counter() - self.t0
        self.steal_s = host_steal_s() - self.steal0
        self.cpu_s = tree_cpu_s(s.sid) - self.cpu0
        jvm1 = s.client.bench("stats")
        self.gc_s = jvm1["gc_s"] - self.jvm0["gc_s"]
        self.jit_s = jvm1["jit_s"] - self.jvm0["jit_s"]
        self.metrics1 = layers.parse_prometheus(s.client.text("/metrics"))
        return False


def halves(units: list[list[float]]) -> dict:
    """Query p50 of the window's first and second half, split between
    units of equal composition (rotations, steps) — the flatness check."""
    k = len(units) // 2
    return {f"{name}_half_query_p50_s":
            statistics.median(x for u in part for x in u) if part else None
            for name, part in (("first", units[:k]), ("second", units[k:]))}


#: a window holds at least two units, so it has two halves to compare
#: and its step median is not the time of a single step
MIN_WINDOW_UNITS = 2


def window_units(seconds: float, unit_s: float) -> int:
    """Whole units (rotations, cycles) in a window: as many as take
    ``seconds`` at the nominal pace ``unit_s``, and at least
    ``MIN_WINDOW_UNITS``. The count does not depend on how fast this run
    goes, so every run of a workload does the same work (a window that
    stopped on the clock would hold fewer, colder units on a slow host)."""
    return max(MIN_WINDOW_UNITS, round(seconds / unit_s))


def run_dashboard(server: Server, args, nproc: int, rec: dict) -> dict:
    cl = server.client
    plan = workloads.DashboardPlan(args.seed, nproc)
    pool = ThreadPoolExecutor(max_workers=nproc)

    def refresh(tiles, repeat: bool) -> dict:
        t0 = time.perf_counter()
        futs = [pool.submit(cl.call, "POST", t.path, t.body) for t in tiles]
        results = [f.result() for f in futs]
        step = time.perf_counter() - t0
        out = []
        for t, (status, payload, sec) in zip(tiles, results):
            ok, why = checks.tile_ok(status, payload)
            rec["attempted"] += 1
            if not ok:
                rec["failed"] += 1
                rec["errors"].append(f"{t.kind}: {why}")
            out.append({"tile": t, "payload": payload, "sec": sec, "ok": ok})
        return {"step_s": step, "tiles": out, "repeat": repeat}

    for _ in range(workloads.DASHBOARD_WARMUP_ROTATIONS):
        for tiles, repeat in plan.rotation():
            refresh(tiles, repeat)
    # whole rotations, so every window holds the same tile mix and the
    # same share of cache hits
    n = window_units(args.seconds, workloads.DASHBOARD_ROTATION_S)
    with Window(server) as win:
        rotations = [[refresh(t, r) for t, r in plan.rotation()]
                     for _ in range(n)]
    pool.shutdown()
    steps = [s for rot in rotations for s in rot]

    # answers: a seeded subset of segmentation tiles against the engine
    # run directly on the raw events
    seg = [t for s in steps if not s["repeat"] for t in s["tiles"]
           if t["tile"].kind == "segmentation" and t["ok"]]
    rng = random.Random(args.seed)
    for t in rng.sample(seg, min(len(seg), workloads.DIRECT_CHECKS)):
        direct = cl.bench("direct", {"body": t["tile"].body})
        served = t["payload"]
        if args.inject_fault:
            served = checks.corrupt(served)
            args.inject_fault = False
        ok, why = checks.same_segmentation(served, direct)
        rec["direct_checks"] += 1
        if not ok:
            rec["failed"] += 1
            rec["errors"].append(f"segmentation vs engine: {why}")

    lat = [t["sec"] for s in steps for t in s["tiles"]]
    step_s = [s["step_s"] for s in steps]
    by_kind: dict = {}
    for s in steps:
        if not s["repeat"]:
            for t in s["tiles"]:
                by_kind.setdefault(t["tile"].kind, []).append(t["sec"])
    rec["report"].update({
        "refreshes": len(steps),
        "repeat_refreshes": sum(s["repeat"] for s in steps),
        "tiles": len(lat),
        "refresh_p50_s": pct(step_s, 50),
        "refresh_p90_s": pct(step_s, 90),
        "cpu_s_per_query": win.cpu_s / len(lat),
        **halves([[t["sec"] for s in rot for t in s["tiles"]]
                  for rot in rotations]),
        "tile_p50_s": {k: statistics.median(v) for k, v in by_kind.items()},
    })
    return {"win": win, "query_lat": lat, "step_s": step_s,
            "queries": len(lat)}


def run_ingest(server: Server, args, nproc: int, rec: dict) -> dict:
    cl = server.client
    plan = workloads.IngestPlan(args.seed)
    pool = ThreadPoolExecutor(max_workers=nproc)

    def step(i: int) -> dict:
        batch = plan.batch(i)
        t0 = time.perf_counter()
        shards = [batch[k::nproc] for k in range(nproc)]

        def send(rows):
            out = []
            for body in rows:
                out.append(cl.call("POST", workloads.TRACK_PATH, body))
            return out

        track = [r for f in [pool.submit(send, s) for s in shards]
                 for r in f.result()]
        acked = 0
        for status, payload, _sec in track:
            rec["attempted"] += 1
            if status == 201:
                acked += 1
            else:
                rec["failed"] += 1
                rec["errors"].append(f"track -> {status}: {payload}")
        plan.acked += acked
        rec["attempted"] += 1
        tick = cl.call("POST", "/__bench/maintain", {})
        if tick[0] != 200 or tick[1].get("rows") != acked:
            rec["failed"] += 1
            rec["errors"].append(f"maintain -> {tick[0]}: {tick[1]}")
        reads = plan.reads()
        futs = [pool.submit(cl.call, "POST", r.path, r.body) for r in reads]
        results = [f.result() for f in futs]
        step_s = time.perf_counter() - t0
        for r, (status, payload, _sec) in zip(reads, results):
            rec["attempted"] += 1
            ok, why = checks.count_ok(status, payload, plan.expected_rows())
            if args.inject_fault:
                ok, why = checks.count_ok(status, checks.corrupt(payload),
                                          plan.expected_rows())
                args.inject_fault = False
            if not ok:
                rec["failed"] += 1
                rec["errors"].append(f"{r.kind}: {why}")
        return {"step_s": step_s, "track_s": [t[2] for t in track],
                "read_s": [r[2] for r in results],
                "tick": tick[1] if tick[0] == 200 else {},
                "tracked_bytes": sum(len(json.dumps(b)) for b in batch),
                "events": acked}

    cycle = plan.cycle_batches
    for i in range(workloads.INGEST_WARMUP_BATCHES):
        step(i)
    # whole compaction cycles: a fold's cost is only known over its cycle
    n = window_units(args.seconds, workloads.INGEST_CYCLE_S) * cycle
    first = workloads.INGEST_WARMUP_BATCHES
    with Window(server) as win:
        steps = [step(i) for i in range(first, first + n)]
    pool.shutdown()

    lat = [x for s in steps for x in s["read_s"]]
    track = [x for s in steps for x in s["track_s"]]
    step_s = [s["step_s"] for s in steps]
    ticks = [s["tick"] for s in steps]
    rec["report"].update({
        "batches": len(steps),
        "batch_events": workloads.INGEST_BATCH_EVENTS,
        "cycle_batches": cycle,
        "major_folds": sum(1 for t in ticks if t.get("major_rows")),
        "minor_folds": sum(1 for t in ticks if t.get("minor_rows")),
        "track_p50_s": pct(track, 50),
        "track_p90_s": pct(track, 90),
        "fold_s_per_batch": sum(t.get("fold_s", 0.0) for t in ticks)
        / len(steps),
        "ingest_events_per_s": sum(s["events"] for s in steps) / win.seconds,
        "cpu_s_per_query": win.cpu_s / len(lat),
        # units of equal composition are whole cycles
        **halves([[x for s in steps[k:k + cycle] for x in s["read_s"]]
                  for k in range(0, len(steps), cycle)]),
    })
    return {"win": win, "query_lat": lat, "step_s": step_s,
            "queries": len(lat), "steps": steps}


# ----------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one checked answer (the check must fail)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "optiprism_spark")):
        print(f"engine package optiprism_spark not found under {REPO}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its server and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    shared_before = shared_fingerprint()
    rec = {"attempted": 0, "failed": 0, "errors": [], "direct_checks": 0,
           "report": {}}
    server = None
    try:
        t_setup = time.perf_counter()
        server = Server(args, os.path.join(work, "server"), nproc)
        server.wait_ready()
        server.client.text("/metrics")
        setup_s = time.perf_counter() - t_setup

        run = (run_dashboard if args.workload == "dashboard_routed"
               else run_ingest)(server, args, nproc, rec)
        win = run["win"]
        peak_rss = tree_peak_rss_mb(server.sid)
        trace = server.client.bench("trace") if args.trace else None
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(work, ignore_errors=True)
    if shared_fingerprint() != shared_before:
        rec["failed"] += 1
        rec["errors"].append("the shared spark-warehouse/ or the served "
                             "data/ was touched")

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (pct(run["query_lat"], 50), "s"),
        "queries_per_s": (run["queries"] / win.seconds, "1/s"),
        "step_p50_s": (pct(run["step_s"], 50), "s"),
        "cpu_s_per_step": (win.cpu_s / len(run["step_s"]), "s"),
    }
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": win.seconds, "cpus": nproc,
        "driver_memory": server.info.get("driver_memory"),
        "master": server.info.get("master"),
        "spark": server.info.get("spark"), "java": server.info.get("java"),
        "python": sys.version.split()[0],
        "base_rows": workloads.N_EVENTS,
        "error_ratio": rec["failed"] / max(1, rec["attempted"]),
        "errors": rec["errors"][:10],
        "direct_checks": rec["direct_checks"],
        "host.steal_s": win.steal_s,
        "cpu_s": win.cpu_s,
        "peak_rss_mb": peak_rss,
        "jvm.jit_s_in_window": win.jit_s, "jvm.gc_s_in_window": win.gc_s,
        **{k: v for k, (v, _u) in end_to_end.items()},
        # too few samples in a window to gate (see the module docstring)
        "query_p90_s": pct(run["query_lat"], 90),
        "query_samples": len(run["query_lat"]),
        "step_p90_s": pct(run["step_s"], 90),
        "step_samples": len(run["step_s"]),
        **rec["report"],
    }
    if args.trace:
        per_layer = layers.per_layer(trace, run, win)
        per_layer["trace.query_p50_s"] = (end_to_end["query_p50_s"][0], "s")
        metrics = per_layer
    else:
        metrics = end_to_end
    report["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
