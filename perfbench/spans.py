"""In-memory span recorder and the wrappers a traced run installs.

A span is (name, start, end, parent, request id). Spans nest per thread
(the parent is the innermost open span on the same thread) and carry the
request id of the HTTP request the thread is serving, if any. They stay
in memory; the server hands them to the client when the run ends.

Only public entry points of the engine are wrapped, from here — the
program itself is not edited. ``install`` must run after the engine
modules are imported and before the session is built.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time


class Tracer:
    def __init__(self) -> None:
        #: [id, name, start, end, parent id, request id] per span
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- request context -------------------------------------------------
    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value) -> None:
        self._local.rid = value

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- spans -------------------------------------------------------------
    def begin(self, name: str) -> list:
        stack = self._stack()
        parent = stack[-1][0] if stack else None
        rec = [None, name, time.perf_counter(), None, parent, self.rid]
        with self._lock:
            rec[0] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[3] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is rec:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            rec = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(rec)

        return traced

    def dump(self) -> list[dict]:
        with self._lock:
            return [
                {"id": i, "name": n, "start": s, "end": e, "parent": p,
                 "rid": r}
                for i, n, s, e, p, r in self.spans if e is not None
            ]


def _rebind(original, replacement) -> None:
    """Point every engine module global bound to ``original`` (``from x
    import y`` copies) at ``replacement``."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("optiprism_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def patch_function(tracer: Tracer, module, attr: str, name: str) -> None:
    original = getattr(module, attr)
    wrapped = tracer.wrap(original, name)
    setattr(module, attr, wrapped)
    _rebind(original, wrapped)


def patch_method(tracer: Tracer, cls, attr: str, name: str) -> None:
    setattr(cls, attr, tracer.wrap(getattr(cls, attr), name))


#: (class path, method, span name) wrapped in every traced run
METHOD_SPANS = (
    ("optiprism_spark.rollup:RollupStore", "update", "maintain.rollup"),
    ("optiprism_spark.userday:UserDayStore", "update", "maintain.userday"),
    ("optiprism_spark.streaming.audience:KmvDayStore", "update",
     "maintain.kmv"),
    ("optiprism_spark.wal:IngestWal", "append", "wal.append"),
    ("pyspark.sql.classic.dataframe:DataFrame", "collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe:DataFrame", "toPandas", "spark.collect"),
    ("pyspark.sql.readwriter:DataFrameWriter", "save", "spark.collect"),
)

#: (module, function, span name)
FUNCTION_SPANS = (
    ("optiprism_spark.ingest", "minor_compact_appends", "ingest.minor_fold"),
    ("optiprism_spark.ingest", "compact_appends_into_bucketed",
     "ingest.major_fold"),
    ("optiprism_spark.server", "frame_to_response", "server.serialize"),
)


def install(tracer: Tracer) -> None:
    import importlib

    import optiprism_spark.api as api
    import optiprism_spark.server  # noqa: F401  (binds api names)

    for attr in sorted(vars(api)):
        if attr.startswith("parse_") and callable(getattr(api, attr)):
            patch_function(tracer, api, attr, "api.parse")
    for mod_name, attr, name in FUNCTION_SPANS:
        patch_function(tracer, importlib.import_module(mod_name), attr, name)
    for path, attr, name in METHOD_SPANS:
        mod_name, cls_name = path.split(":")
        cls = getattr(importlib.import_module(mod_name), cls_name)
        patch_method(tracer, cls, attr, name)


def wrap_route_handlers(tracer: Tracer, app, on_return=None) -> None:
    """Wrap each query route handler of a built ``App`` in a
    ``plan.build`` span (request parse + plan construction + any Spark
    job the handler fires before returning its lazy frame).
    ``on_return()`` runs as the handler returns, still inside the span's
    request — the hook that counts those eager jobs."""

    def wrap(handler):
        traced = tracer.wrap(handler, "plan.build")

        def h(*a, **kw):
            try:
                return traced(*a, **kw)
            finally:
                if on_return is not None:
                    on_return()

        h._query_type = handler._query_type
        return h

    app._routes = [
        (method, pat,
         wrap(handler) if getattr(handler, "_query_type", None) else handler,
         perm)
        for method, pat, handler, perm in app._routes
    ]
