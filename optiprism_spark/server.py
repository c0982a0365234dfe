"""HTTP facade — reference-shaped REST endpoints as a pure-WSGI app.

Routes mirror the reference router (platform/src/http/mod.rs:45-113,
ingester/src/sources/http/mod.rs:240-256). Query plane:

    POST /api/v1/projects/{pid}/queries/event-segmentation
    POST /api/v1/projects/{pid}/queries/funnel
    POST /api/v1/projects/{pid}/event-records/search
    GET  /api/v1/projects/{pid}/event-records/{id}
    POST /api/v1/projects/{pid}/group-records/search
    GET  /api/v1/projects/{pid}/group-records/{group}/{id}
    POST /api/v1/projects/{pid}/property-values
    POST /api/v1/ingest/{token}/track
    POST /api/v1/ingest/{token}/identify

Admin plane (reference platform/src/http/mod.rs:51-65), all backed by
the persisted sqlite catalog (catalog.py):

    POST /api/v1/auth/{signup,login,refresh-token}
    GET  /api/v1/profile; PUT /api/v1/profile/{name,email,password}
    POST+GET /api/v1/admin/backups           (catalog+WAL archive, backup.py)
    POST+GET /api/v1/organizations           (+ GET/PUT/DELETE /{id})
    POST+GET /api/v1/projects                (+ GET/PUT/DELETE /{id})
    POST+GET /api/v1/accounts                (+ GET/PUT/DELETE /{id})
    POST+GET /api/v1/projects/{pid}/groups   (+ /{id})
    POST+GET /api/v1/projects/{pid}/schema/events           (+ /{id}, /name/{name})
    POST+GET /api/v1/projects/{pid}/schema/custom-events    (+ /{id})
    POST+GET /api/v1/projects/{pid}/schema/event-properties (+ /{id}, /name/{name})
    POST+GET /api/v1/projects/{pid}/schema/group-properties/{gid} (+ /{id})
    POST+GET /api/v1/projects/{pid}/dashboards (+ /{id})
    POST+GET /api/v1/projects/{pid}/reports    (+ /{id})
    POST     /api/v1/projects/{pid}/bookmarks  (+ GET /{id})

The admin loop is live, not just CRUD: custom events and property
dtypes created through these routes are consumed by the query plane —
create a property, then filter/break down on it in the next request
(the reference's Property::column_name() protocol; see catalog.py).

Auth (reference platform/src/auth): pass ``token_key=`` to enforce
``Authorization: Bearer <JWT>`` on every route except /auth/* and the
ingest endpoints (whose auth is the per-project ingest token in the
path, as in the reference ingester). ``token_key=None`` keeps the dev
open mode (the reference cfg equivalent of a fixed dev key).

Request bodies are the reference's camelCase JSON DSL, parsed by
`api.py`; responses are the reference's columnar JSON shape
(platform/src/lib.rs:592-640): ``{"columns": [{"name", "dataType",
"data": [...]}]}``, or the compact ``[[...column data...]]`` form with
``?format=jsonCompact``.

Scale note: the query endpoints `.collect()` ONLY final result frames,
which the operators already cap (chart series limits, RECORDS_LIMIT,
VALUES_LIMIT) — and ``frame_to_response`` enforces the bound
structurally (limit(MAX+1) + overflow error), so a future route that
forgets its cap fails loudly instead of materializing an unbounded
result on the driver. Ingest buffers rows in process memory exactly
like the reference ingester's memtable — backed by a WAL-style
journal (see ``wal``) so acked events survive a crash, mirroring the
reference write path WAL → memtable (storage/src/db.rs:214-265) — and
exposes the buffered batch as a DataFrame through the same UA/GeoIP
enrichment used for bulk ingest; a production deployment fronts many
stateless receivers that append to object storage / a log, folded
in by the maintenance tick (``App.maintain``), so the facade process
never becomes the write path's bottleneck.

The app is framework-free WSGI: serve it with stdlib ``wsgiref`` (see
``serve``) or any production WSGI server unchanged.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import re
import threading
from decimal import Decimal
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from . import api, auth as auth_mod, metrics, rbac
from .catalog import Catalog, CatalogError, Conflict, NotFound
from .rbac import Forbidden
from .operators.funnel import funnel_report
from .operators.records import (
    event_record_by_id,
    event_records_search,
    group_record_by_id,
    group_records_search,
    property_values,
)
from .queries.event_segmentation import run_event_segmentation
from .schema import load_table


class HttpError(Exception):
    def __init__(self, status: int, message: str, headers: Optional[list] = None):
        super().__init__(message)
        self.status = status
        self.message = message
        self.headers = headers or []


_STATUS = {
    200: "200 OK", 201: "201 Created", 202: "202 Accepted",
    204: "204 No Content",
    400: "400 Bad Request", 401: "401 Unauthorized", 403: "403 Forbidden",
    404: "404 Not Found", 405: "405 Method Not Allowed",
    409: "409 Conflict", 429: "429 Too Many Requests",
    500: "500 Internal Server Error",
}

#: structural cap on rows any route may collect to the driver — far
#: above every operator's own cap (top-50 series, RECORDS_LIMIT 100,
#: VALUES_LIMIT 1000), so hitting it means a route lost its limit
MAX_RESPONSE_ROWS = 10_000

#: concurrent store folds per maintenance tick (App._fold_stores)
_FOLD_WORKERS = 3

#: interactive FAIR pools (fairscheduler.xml weight 4, minShare 4):
#: sub-second shapes where queueing is the whole latency budget
_INTERACTIVE_POOLS = frozenset({
    "event_segmentation", "event_records_search", "group_records_search",
    "event_record", "group_record", "property_values", "stickiness",
    "percentiles", "audience",
    # r13: one partial-aggregated scan (quality) / a rollup-routed or
    # one-scan day series (anomaly) — sub-second shapes, queueing is
    # their whole budget
    "quality", "anomaly",
    # r14: one distinct + user-window ledger (growth) / one per-user
    # aggregate + broadcast edges (rfm) — the same sub-second class
    "growth", "rfm",
    # r16: two store-pruned aggregates over (dt, user) partials —
    # the same class as growth/rfm when routed, and still one
    # conditional count-distinct pass when raw
    "lness",
})

#: DEFAULT per-pool admission caps, ON by default (the reference
#: backpressures by construction at its tokio runtime; an unbounded
#: HTTP queue in front of a Spark driver is the one config that turns
#: an overload from slow into down). Sized off the FAIR pool tiers:
#: an interactive pool (weight 4) admits its weight in concurrent
#: queries; a heavy scan pool (weight 1) gets a floor of 2 so one
#: straggler can't serialize the tier — beyond that its weight-1 task
#: share means extra in-flight work is pure queue depth. Excess
#: requests get 429 + Retry-After: 1 (the documented contract).
#: Validated by concur_check.py's overload scenario (admitted p95
#: must stay inside the same affine budget as the contention gate).
DEFAULT_ADMISSION_LIMITS = {
    **{q: 4 for q in _INTERACTIVE_POOLS},
    "*": 2,
}


def _json_value(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    return v


def frame_to_response(
    df: DataFrame,
    compact: bool = False,
    max_rows: int = MAX_RESPONSE_ROWS,
    dimensions: Optional[set] = None,
) -> dict | list:
    """DataFrame → reference columnar response (lib.rs:592-640), each
    column tagged dimension|metric like the reference ColumnarDataTable
    (query/src/lib.rs:360-373). ``dimensions``: explicit dimension
    column names (the seg/funnel handlers pass the request's breakdown
    /bucket columns); without it, non-numeric columns are dimensions —
    the same split the reference derives from the request.

    The collect is bounded structurally: ``limit(max_rows + 1)`` rides
    into the plan (a TakeOrderedAndProject/CollectLimit, never a full
    materialization), and an overflow raises instead of silently
    truncating — no future route can collect unbounded rows."""
    from pyspark.sql import types as T

    limited = df.limit(max_rows + 1)
    rows = limited.collect()
    # observed metrics (whale-guard observe() nodes) exist exactly
    # after this collect — fold them into the Prometheus plane
    metrics.harvest_observed(limited)
    if len(rows) > max_rows:
        raise HttpError(
            500,
            f"response exceeds {max_rows} rows; the route's plan lost its "
            "limit (operator caps: top-50 series / 100 records / 1000 values)",
        )

    def col_type(f) -> str:
        if dimensions is not None:
            return "dimension" if f.name in dimensions else "metric"
        return "metric" if isinstance(f.dataType, T.NumericType) else "dimension"

    cols = [
        {
            "name": f.name,
            "type": col_type(f),
            "dataType": f.dataType.simpleString(),
            "data": [_json_value(r[f.name]) for r in rows],
        }
        for f in df.schema.fields
    ]
    if compact:
        return [c["data"] for c in cols]
    return {"columns": cols}


# ------------------------------------------------------------------ ingest

RESERVED_EVENT_TYPES = ("Session Begin", "Session End")


def parse_track(body: dict, token: str = "") -> dict:
    """Reference TrackRequest (ingester/src/sources/http/mod.rs:93-102)
    → one flat event row. Context fields (UA string, IP, page, UTM)
    ride along raw; enrichment (UA parse, GeoIP range join) happens
    Spark-side in ``App.tracked_df`` — per-batch, not per-request."""
    if "event" not in body:
        raise HttpError(400, "track body requires 'event'")
    if body["event"] in RESERVED_EVENT_TYPES:
        # the engine synthesizes these (session store / sweeper); a
        # client-sent one would diverge WAL replay from live state
        # (replay closes sessions on ANY "Session End" row)
        raise HttpError(400, f"event type {body['event']!r} is reserved")
    ctx = body.get("context") or {}
    page = ctx.get("page") or {}
    camp = ctx.get("campaign") or {}
    if body.get("timestamp") is not None:
        _ts_to_us(str(body["timestamp"]))  # 400 on malformed, BEFORE the WAL
    return {
        "token": token,
        "user_id": body.get("userId"),
        "anonymous_id": body.get("anonymousId"),
        "ts": body.get("timestamp"),
        "event_type": body["event"],
        "props": json.dumps(body.get("properties") or {}, sort_keys=True),
        "groups": json.dumps(body.get("groups") or {}, sort_keys=True),
        "user_agent": ctx.get("userAgent"),
        "ip": ctx.get("ip"),
        "page_path": page.get("path"),
        "page_url": page.get("url"),
        "utm_source": camp.get("source"),
    }


def parse_identify(body: dict, token: str = "") -> dict:
    """Reference IdentifyRequest (http/mod.rs:84-91) → profile row."""
    for k in ("group", "id"):
        if k not in body:
            raise HttpError(400, f"identify body requires {k!r}")
    if body.get("timestamp") is not None:
        _ts_to_us(str(body["timestamp"]))  # 400 on malformed, BEFORE the WAL
    return {
        "token": token,
        "group": body["group"],
        "id": body["id"],
        "ts": body.get("timestamp"),
        "props": json.dumps(body.get("properties") or {}, sort_keys=True),
    }


def _ts_to_us(ts: Optional[str]) -> int:
    """ISO timestamp string → epoch µs; missing timestamps use the
    wall clock (the reference track destination stamps Utc::now()).
    A malformed timestamp raises HttpError(400) — callers on the
    ingest path let it propagate to the client; WAL replay (which may
    hold rows journaled before ingest-time validation existed) must
    catch it and skip instead (see App.__init__)."""
    if not ts:
        import time as _time

        return int(_time.time() * 1_000_000)
    try:
        parsed = dt.datetime.fromisoformat(str(ts).replace("Z", "+00:00"))
    except ValueError:
        raise HttpError(400, f"invalid timestamp {str(ts)!r}: expected ISO-8601")
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=dt.timezone.utc)
    return int(parsed.timestamp() * 1_000_000)


def _sampling_rate(body: dict) -> float:
    """samplingRate in (0, 1]; anything else (a percent, a negative,
    NaN) is a client error — silently routing 2.0 to the exact path
    would hand back numbers the caller believes are scaled."""
    raw = body.get("samplingRate", 1.0)
    try:
        rate = float(raw)
    except (TypeError, ValueError):
        raise HttpError(400, f"samplingRate must be a number, got {raw!r}")
    if not 0.0 < rate <= 1.0:
        raise HttpError(
            400, f"samplingRate must be in (0, 1], got {raw!r} "
                 "(a fraction, not a percent)")
    return rate


def _check_name(name, what: str) -> None:
    """400 unless ``name`` is a non-empty [A-Za-z0-9_-]+ string — the
    name rule of declared rollups, ANN indexes (whose names become
    store paths) and quality checks."""
    if not (isinstance(name, str) and re.fullmatch(r"[A-Za-z0-9_\-]+", name)):
        raise HttpError(400, f"{what} needs a name of [A-Za-z0-9_-]+")


def _timed_query(qtype: str, handler: Callable) -> Callable:
    """Per-query-type counter around an explore handler, tagging it so
    the dispatch site can time plan build AND the collect together —
    handlers return LAZY DataFrames; timing only the handler would
    report microseconds for every query (the Spark job runs inside
    frame_to_response)."""

    def h(body, md, qs):
        metrics.query_queries_total().inc(query_type=qtype)
        return handler(body, md, qs)

    h._query_type = qtype
    return h


class _ResultCache:
    """Version- and TTL-bounded LRU of serialized query responses.

    The production observation: a dashboard fleet re-fires IDENTICAL
    requests every refresh tick, and at 100 TB even a rollup-routed
    answer costs a real Spark job. Keyed by the full request identity
    (method, path, query string, canonical JSON body); an entry is
    valid only for the data version it was computed at — any write
    (ingest, checkpoint, CRUD, lifecycle) bumps the version, so a hit
    can never serve pre-write data. The TTL bounds wall-clock
    staleness for relative time windows ("last 7 days" drifts with
    `now`) — version alone can't see the clock move."""

    def __init__(self, max_entries: int = 256, ttl_sec: float = 60.0):
        import collections
        import threading

        self.max_entries = max_entries
        self.ttl_sec = ttl_sec
        self._d: "dict" = collections.OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, version):
        import time

        with self._lock:
            e = self._d.get(key)
            if e is None:
                return None
            v, t, payload = e
            if v != version or (time.monotonic() - t) > self.ttl_sec:
                del self._d[key]
                return None
            self._d.move_to_end(key)
            return payload

    def put(self, key, version, payload) -> None:
        import time

        with self._lock:
            self._d[key] = (version, time.monotonic(), payload)
            self._d.move_to_end(key)
            while len(self._d) > self.max_entries:
                self._d.popitem(last=False)


_TRACK_SCHEMA = (
    "token string, user_id string, anonymous_id string, ts string, "
    "event_type string, props string, groups string, user_agent string, "
    "ip string, page_path string, page_url string, utm_source string"
)
_IDENTIFY_SCHEMA = "token string, `group` string, id string, ts string, props string"


class App:
    """WSGI application bound to a SparkSession + one sf_dir dataset.

    ``catalog``: the persisted metadata catalog (defaults to a private
    in-memory one). ``custom_events``: extra {id_or_name: [member
    event dicts]} merged over the catalog's — kept for programmatic
    use. ``token_key``: enable JWT auth. ``wal_dir``: enable the
    durable ingest journal (see ``wal`` module).
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        custom_events: Optional[dict] = None,
        now: Optional[dt.datetime] = None,
        catalog: Optional[Catalog] = None,
        token_key: Optional[str] = None,
        wal_dir: Optional[str] = None,
        backup_dir: Optional[str] = None,
        session_store: bool = False,
        rollup_store=None,
        rollup_dir: Optional[str] = None,
        lake: Optional[dict] = None,
        result_cache_ttl: Optional[float] = 60.0,
        admission_limit="default",
        kmv_store=None,
        ivf_store=None,
        user_day_store=None,
        ivf_dir=None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.custom_events = custom_events
        self.now = now  # fixed clock for "last N" windows in tests
        self.catalog = catalog if catalog is not None else Catalog()
        self.token_key = token_key
        #: (events frame, per-user-partitioned flag) as ONE cache
        #: entry — resolved/replaced atomically by _events_resolved()
        self._events_cache = None
        # optional day-grain pre-aggregate (rollup.RollupStore):
        # segmentation requests that are rollup-expressible are served
        # from it (run_event_segmentation routes per event-query);
        # maintained by the maintain() tick
        self.rollup_store = rollup_store
        #: optional audience KMV day-sketch store
        #: (streaming.audience.KmvDayStore), maintained by the
        #: maintain() tick; enables `sketched: true` on
        #: /queries/audience venn
        self.kmv_store = kmv_store
        #: optional durable ANN index (operators.ivf_store.IvfStore),
        #: maintained by the maintain() tick (append + drift-triggered
        #: retrain); enables `indexed: true` on /queries/similarity —
        #: the per-call quantizer build is the one cost a standing
        #: search surface cannot pay at 100 TB
        self.ivf_store = ivf_store
        #: optional (dt, user)-grain activity store
        #: (userday.UserDayStore), maintained by the maintain() tick;
        #: /queries/rfm and /queries/growth route through it when the
        #: request is expressible (user_day_supports) — the standing
        #: dashboard surfaces stop rescanning raw events
        self.user_day_store = user_day_store
        #: directory for CATALOG-DECLARED per-project rollups (POST
        #: /projects/{pid}/schema/rollups); None disables the feature
        self.rollup_dir = rollup_dir
        #: directory for CATALOG-DECLARED per-project ANN indexes
        #: (POST /projects/{pid}/schema/ann-indexes); None disables
        self.ivf_dir = ivf_dir
        #: live ANN build threads keyed by (pid, row_id) — declare
        #: returns 202 and the build flips the catalog row to
        #: ready/failed off the request thread (the reference's
        #: compactor is likewise a background thread,
        #: storage/src/db.rs:427-431)
        self._ann_builds: dict = {}
        self._ann_lock = threading.Lock()
        #: lake layout for the admin lifecycle plane (user erasure /
        #: retention): {"table_name", "appends_path", "tiers_path"?,
        #: "extra_paths"?, "dated_paths"?}. None disables the routes
        #: (they answer 409) — the maintenance deployment that owns
        #: the bucketed table opts in.
        self.lake = lake
        #: serving-layer result cache (None = disabled): replays the
        #: serialized response of an identical query route request at
        #: the same data version within the TTL
        self._result_cache = (
            _ResultCache(ttl_sec=result_cache_ttl)
            if result_cache_ttl is not None else None)
        #: bumped by every write (ingest, CRUD, lifecycle, checkpoint)
        #: — the result cache's correctness seam
        self._data_version = 0
        #: admission control: max concurrently-EXECUTING queries per
        #: FAIR pool (query type). Excess requests are shed with
        #: 429 + Retry-After instead of queueing unboundedly — under a
        #: sustained overload burst, bounded in-flight work is the
        #: difference between slow and down. ON by default
        #: (DEFAULT_ADMISSION_LIMITS, sized off the FAIR pool tiers);
        #: pass an int for a uniform per-pool cap, a {pool: cap} dict
        #: ("*" = fallback) for explicit sizing, or None to disable
        #: shedding entirely. Cache hits are never counted — they cost
        #: ~no executor time. Per pool, not global, so one hot query
        #: type can't starve admission for the others.
        self._admission_limit = (
            dict(DEFAULT_ADMISSION_LIMITS)
            if admission_limit == "default" else admission_limit)
        self._admission_lock = threading.Lock()
        self._admitted: dict[str, int] = {}
        self.tracked: list[dict] = []
        self.identified: list[dict] = []
        # serializes buffer+WAL mutation across the multi-threaded
        # WSGI ingest path and the checkpoint steps: without it, a row
        # acked between commit_checkpoint's buffer slice and its WAL
        # rewrite would vanish from both (and wal.rewrite's reopen
        # could race a concurrent wal.append on a closed file)
        self._ingest_lock = threading.Lock()
        self.wal = None
        self._wal_dir = wal_dir
        self.backup_dir = backup_dir or (
            os.path.join(wal_dir, "backups") if wal_dir else None
        )
        self.sessions = None
        if session_store:
            from .sessions import SessionStore

            self.sessions = SessionStore()
        if wal_dir is not None:
            from .wal import IngestWal

            self.wal = IngestWal(wal_dir)
            with metrics.store_recovery_time().time():
                self.tracked, self.identified = self.wal.replay()
            metrics.store_memtable_rows().set(
                len(self.tracked) + len(self.identified))
            if self.sessions is not None:
                # rebuild live-session state from the journal; injected
                # Session Begin/End rows are already IN the replayed
                # buffer and must not feed the store again
                from .streaming.sessionize import (
                    EVENT_SESSION_BEGIN,
                    EVENT_SESSION_END,
                )

                # replay is point-in-time: the live-rotation argument
                # for uncached lookups doesn't apply, so resolve each
                # distinct token ONCE instead of one catalog scan per
                # journaled row (a large WAL would otherwise turn
                # startup into len(WAL) sqlite queries)
                memo: dict = {}
                for row in self.tracked:
                    user = str(row.get("user_id") or row.get("anonymous_id") or "")
                    et = row.get("event_type")
                    tok = row.get("token") or ""
                    if tok not in memo:
                        memo[tok] = self._project_of_token(tok)
                    pid = memo[tok]
                    if et == EVENT_SESSION_END:
                        # the sweeper already closed this session
                        self.sessions.close(pid, user)
                    elif et != EVENT_SESSION_BEGIN:
                        try:
                            ts_us = _ts_to_us(row.get("ts"))
                        except HttpError:
                            # journaled before ingest-time ts validation
                            # existed; skip the touch rather than fail
                            # startup (wall-clock would fake recent
                            # activity for a stale session)
                            continue
                        self.sessions.touch(pid, user, ts_us)
        P = r"^/api/v1/projects/(?P<pid>[^/]+)"

        # ---- permission specs (reference per-handler checks;
        # platform/src/events.rs:32,57 etc). A spec is None (bearer
        # suffices — profile plane) or a callable(ctx, md) raising
        # rbac.Forbidden. Enforcement is active whenever auth is
        # (token_key set); without auth there is no principal to check,
        # exactly the reference's dev mode.
        def proj(perm):
            def chk(ctx, md):
                pid = int(md.get("pid") or md.get("id") or 0)
                # DELIBERATE DIVERGENCE from the reference, which
                # passes ctx.organization_id here (bookmarks.rs:29 et
                # al) — that lets an owner/admin of ANY org pass the
                # org-role fallthrough for projects of EVERY other
                # org. The check must run against the project's OWNING
                # org; the caller's org only applies for unregistered
                # (dev) project ids.
                org_id = ctx.organization_id
                try:
                    org_id = int(
                        self.catalog.get("project", pid).get(
                            "organizationId") or org_id)
                except Exception:
                    pass
                ctx.check_project_permission(org_id, pid, perm)
            return chk

        def org(perm):
            def chk(ctx, md):
                ctx.check_organization_permission(
                    int(md.get("id") or ctx.organization_id), perm)
            return chk

        def root(perm):
            def chk(ctx, md):
                ctx.check_permission(perm)
            return chk

        explore = proj(rbac.EXPLORE_REPORTS)
        schema_perms = dict(
            create=proj(rbac.MANAGE_SCHEMA), put=proj(rbac.MANAGE_SCHEMA),
            delete=proj(rbac.DELETE_SCHEMA),
            list=proj(rbac.VIEW_SCHEMA), get=proj(rbac.VIEW_SCHEMA),
            name=proj(rbac.VIEW_SCHEMA),
        )
        report_perms = dict(
            create=proj(rbac.MANAGE_REPORTS), put=proj(rbac.MANAGE_REPORTS),
            delete=proj(rbac.MANAGE_REPORTS), list=explore, get=explore,
        )

        self._routes: list[tuple[str, re.Pattern, Callable, Optional[Callable]]] = [
            # ---- auth (open) ----
            ("POST", re.compile(r"^/api/v1/auth/signup$"), self._auth_signup, None),
            ("POST", re.compile(r"^/api/v1/auth/login$"), self._auth_login, None),
            ("POST", re.compile(r"^/api/v1/auth/refresh-token$"),
             self._auth_refresh, None),
            # profile (reference http/auth.rs:217-220; requires bearer only)
            ("GET", re.compile(r"^/api/v1/profile$"), self._profile_get, None),
            ("PUT", re.compile(r"^/api/v1/profile/name$"), self._profile_name, None),
            ("PUT", re.compile(r"^/api/v1/profile/email$"), self._profile_email, None),
            ("PUT", re.compile(r"^/api/v1/profile/password$"),
             self._profile_password, None),
            # ---- queries (ExploreReports, reference funnel.rs:55 etc) ----
            ("POST", re.compile(P + r"/queries/event-segmentation$"),
             _timed_query("event_segmentation", self._event_segmentation),
             explore),
            ("POST", re.compile(P + r"/queries/funnel$"),
             _timed_query("funnel", self._funnel), explore),
            ("POST", re.compile(P + r"/queries/retention$"),
             _timed_query("retention", self._retention), explore),
            ("POST", re.compile(P + r"/queries/paths$"),
             _timed_query("paths", self._paths), explore),
            ("POST", re.compile(P + r"/queries/experiment$"),
             _timed_query("experiment", self._experiment), explore),
            ("POST", re.compile(P + r"/queries/attribution$"),
             _timed_query("attribution", self._attribution), explore),
            ("POST", re.compile(P + r"/queries/percentiles$"),
             _timed_query("percentiles", self._percentiles), explore),
            ("POST", re.compile(P + r"/queries/stickiness$"),
             _timed_query("stickiness", self._stickiness), explore),
            ("POST", re.compile(P + r"/queries/growth$"),
             _timed_query("growth", self._growth), explore),
            ("POST", re.compile(P + r"/queries/rfm$"),
             _timed_query("rfm", self._rfm), explore),
            ("POST", re.compile(P + r"/queries/lness$"),
             _timed_query("lness", self._lness), explore),
            ("POST", re.compile(P + r"/queries/drift$"),
             _timed_query("drift", self._drift), explore),
            ("POST", re.compile(P + r"/queries/audience$"),
             _timed_query("audience", self._audience), explore),
            ("POST", re.compile(P + r"/queries/similarity$"),
             _timed_query("similarity", self._similarity), explore),
            ("POST", re.compile(P + r"/queries/quality$"),
             _timed_query("quality", self._quality), explore),
            ("POST", re.compile(P + r"/queries/anomaly$"),
             _timed_query("anomaly", self._anomaly), explore),
            ("POST", re.compile(P + r"/event-records/search$"),
             _timed_query("event_records_search", self._event_records_search),
             explore),
            ("GET", re.compile(P + r"/event-records/(?P<id>\d+)$"),
             _timed_query("event_record", self._event_record_by_id), explore),
            ("POST", re.compile(P + r"/group-records/search$"),
             _timed_query("group_records_search", self._group_records_search),
             explore),
            ("GET", re.compile(P + r"/group-records/(?P<group>[^/]+)/(?P<id>\d+)$"),
             _timed_query("group_record", self._group_record_by_id), explore),
            ("POST", re.compile(P + r"/property-values$"),
             _timed_query("property_values", self._property_values), explore),
            # ---- ingest (token-in-path auth, as the reference ingester) ----
            ("POST", re.compile(r"^/api/v1/ingest/(?P<token>[^/]+)/track$"),
             self._track, None),
            ("POST", re.compile(r"^/api/v1/ingest/(?P<token>[^/]+)/identify$"),
             self._identify, None),
        ]
        # ---- server plane: ManageServer (reference backups.rs:28) ----
        manage_server = root(rbac.MANAGE_SERVER)
        self._routes += [
            ("POST", re.compile(r"^/api/v1/admin/backups$"),
             self._backup_create, manage_server),
            ("GET", re.compile(r"^/api/v1/admin/backups$"),
             self._backup_list, manage_server),
            # admin settings singleton (reference http/settings.rs:28-30)
            ("GET", re.compile(r"^/api/v1/admin/settings$"),
             self._settings_get, manage_server),
            ("PUT", re.compile(r"^/api/v1/admin/settings$"),
             self._settings_put, manage_server),
            # data-lifecycle plane (lifecycle.py): right-to-erasure +
            # retention over the configured lake layout
            ("POST", re.compile(r"^/api/v1/admin/erase-user$"),
             self._erase_user, manage_server),
            ("POST", re.compile(r"^/api/v1/admin/retention$"),
             self._retention_sweep, manage_server),
        ]
        # ---- admin-plane CRUD (reference http/mod.rs:51-65) ----
        def visible_orgs(ctx, rows):
            # reference organizations.rs:46-53: root ViewOrganizations
            # sees all, else per-org ViewOrganization filters the list
            def ok(r):
                try:
                    ctx.check_organization_permission(r["id"], rbac.ORG_VIEW)
                    return True
                except Forbidden:
                    return False
            return [r for r in rows if ok(r)]

        def visible_projects(ctx, rows):
            # reference projects.rs:137-153: org ExploreProjects sees
            # the org's projects, else per-project ViewProject
            def ok(r):
                own_org = int(r.get("organizationId")
                              or ctx.organization_id)
                try:
                    ctx.check_organization_permission(
                        own_org, rbac.ORG_EXPLORE_PROJECTS)
                    return True
                except Forbidden:
                    pass
                try:
                    ctx.check_project_permission(
                        own_org, r["id"], rbac.VIEW_PROJECT)
                    return True
                except Forbidden:
                    return False
            return [r for r in rows if ok(r)]

        self._add_crud(r"^/api/v1/organizations", "organization", scoped=False,
                       perms=dict(
                           create=root(rbac.MANAGE_ORGANIZATIONS),
                           delete=root(rbac.MANAGE_ORGANIZATIONS),
                           put=org(rbac.ORG_MANAGE),
                           get=org(rbac.ORG_VIEW), list=None,
                       ),
                       list_filter=visible_orgs)
        def create_project(body, pid):
            # every project carries a generated sdk/ingest token
            # (reference platform/src/projects.rs:92: 64-char
            # alphanumeric at create); an explicit one is kept
            if not body.get("token"):
                import secrets
                import string

                alphabet = string.ascii_letters + string.digits
                body = dict(body, token="".join(
                    secrets.choice(alphabet) for _ in range(64)))
            return self.catalog.create("project", body, project_id=pid)

        self._add_crud(r"^/api/v1/projects", "project", scoped=False,
                       create=create_project,
                       perms=dict(
                           create=org(rbac.ORG_MANAGE_PROJECTS),
                           delete=proj(rbac.DELETE_PROJECT),
                           put=proj(rbac.MANAGE_PROJECT),
                           get=proj(rbac.VIEW_PROJECT), list=None,
                       ),
                       list_filter=visible_projects)
        manage_accounts = root(rbac.MANAGE_ACCOUNTS)
        self._add_crud(r"^/api/v1/accounts", "account", scoped=False,
                       perms=dict(create=manage_accounts, list=manage_accounts,
                                  get=manage_accounts, put=manage_accounts,
                                  delete=manage_accounts))
        self._add_crud(P + r"/groups", "group", perms=schema_perms)
        self._add_crud(P + r"/schema/events", "event", with_name=True,
                       perms=schema_perms)
        # event<->property links (reference http/events.rs:110-115)
        self._routes += [
            ("POST", re.compile(
                P + r"/schema/events/(?P<id>\d+)/properties/(?P<prop_id>\d+)$"),
             self._attach_property, proj(rbac.MANAGE_SCHEMA)),
            ("DELETE", re.compile(
                P + r"/schema/events/(?P<id>\d+)/properties/(?P<prop_id>\d+)$"),
             self._detach_property, proj(rbac.MANAGE_SCHEMA)),
        ]
        self._add_crud(P + r"/schema/custom-events", "custom_event",
                       perms=schema_perms)
        self._add_crud(P + r"/schema/event-properties", "event_property",
                       with_name=True, create=self._create_event_property,
                       perms=schema_perms)
        self._add_crud(P + r"/schema/group-properties/(?P<gid>\d+)",
                       "group_property", create=self._create_group_property,
                       perms=schema_perms)
        self._add_crud(P + r"/dashboards", "dashboard", perms=report_perms)
        self._add_crud(P + r"/reports", "report", perms=report_perms)
        self._add_crud(P + r"/bookmarks", "bookmark", perms=report_perms)
        self._add_crud(P + r"/schema/rollups", "rollup",
                       create=self._create_rollup,
                       put=functools.partial(self._put_immutable, "rollup"),
                       delete=functools.partial(
                           self._delete_declared, "rollup",
                           self._store_for_rollup_row),
                       perms=schema_perms)
        # declared data-quality batteries: POST /queries/quality with
        # no inline constraints runs these as the standing gate
        self._add_crud(P + r"/schema/quality-checks", "quality_check",
                       create=self._create_quality_check,
                       put=self._put_quality_check,
                       perms=schema_perms)
        # declared per-project ANN indexes (r15): durable IvfStores
        # the similarity route serves via `indexed: true, index: name`
        self._add_crud(P + r"/schema/ann-indexes", "ann_index",
                       create=self._create_ann_index,
                       put=functools.partial(self._put_immutable,
                                             "ann index"),
                       delete=functools.partial(
                           self._delete_declared, "ann_index",
                           self._store_for_ann_row),
                       perms=schema_perms)

    # ----------------------------------------------------- CRUD plumbing

    def _admission_cap(self, qtype: Optional[str]) -> Optional[int]:
        """In-flight cap for this query type's pool, or None when the
        request is not a query (CRUD/ingest/admin never shed) or
        shedding is disabled."""
        al = self._admission_limit
        if qtype is None or al is None:
            return None
        if isinstance(al, int):
            return al
        return al.get(qtype, al.get("*"))

    def _add_crud(self, base: str, kind: str, scoped: bool = True,
                  with_name: bool = False, create: Optional[Callable] = None,
                  put: Optional[Callable] = None,
                  delete: Optional[Callable] = None,
                  perms: Optional[dict] = None,
                  list_filter: Optional[Callable] = None):
        """Register the reference's CRUD route set for one entity kind:
        POST+GET on the collection, GET/PUT/DELETE on /{id}, optional
        GET /name/{name} (events + properties have name lookups).
        ``perms`` maps create/list/get/put/delete/name to a permission
        spec (see __init__); ``list_filter(ctx, rows)`` narrows the
        collection listing to what the principal may view (reference
        organizations.rs:46-53 / projects.rs:137-153 filter instead of
        403ing the whole list)."""
        perms = perms or {}

        def pid_of(m) -> int:
            return int(m["pid"]) if scoped else 0

        def scrub(row):
            # secrets never leave through CRUD responses (the reference
            # account DTO likewise omits password_hash)
            if kind == "account":
                if isinstance(row, list):
                    return [scrub(r) for r in row]
                row = {k: v for k, v in row.items() if k != "passwordHash"}
            return row

        def _create(body, m, q):
            fn = create or (lambda b, p: self.catalog.create(kind, b, project_id=p))
            out = fn(body, pid_of(m))
            # a create handler may pick its own status (202 for an
            # async build acceptance); plain rows stay 201
            if isinstance(out, tuple):
                return out[0], scrub(out[1])
            return 201, scrub(out)

        def _list(body, m, q):
            rows = scrub(self.catalog.list(kind, project_id=pid_of(m)))
            ctx = m.get("__ctx")
            if list_filter is not None and ctx is not None:
                rows = list_filter(ctx, rows)
            return 200, rows

        def _get(body, m, q):
            return 200, scrub(self.catalog.get(kind, int(m["id"]), project_id=pid_of(m)))

        def _put(body, m, q):
            if put is not None:
                return 200, scrub(put(body, int(m["id"]), pid_of(m)))
            return 200, scrub(self.catalog.update(
                kind, int(m["id"]), body, project_id=pid_of(m)))

        def _delete(body, m, q):
            if delete is not None:
                return 200, scrub(delete(int(m["id"]), pid_of(m)))
            return 200, scrub(self.catalog.delete(kind, int(m["id"]), project_id=pid_of(m)))

        def _get_by_name(body, m, q):
            return 200, scrub(self.catalog.get_by_name(kind, m["name"], project_id=pid_of(m)))

        self._routes += [
            ("POST", re.compile(base + r"$"), _create, perms.get("create")),
            ("GET", re.compile(base + r"$"), _list, perms.get("list")),
            ("GET", re.compile(base + r"/(?P<id>\d+)$"), _get, perms.get("get")),
            ("PUT", re.compile(base + r"/(?P<id>\d+)$"), _put, perms.get("put")),
            ("DELETE", re.compile(base + r"/(?P<id>\d+)$"), _delete,
             perms.get("delete")),
        ]
        if with_name:
            self._routes.append(
                ("GET", re.compile(base + r"/name/(?P<name>[^/]+)$"),
                 _get_by_name, perms.get("name")))

    def _create_event_property(self, body: dict, pid: int) -> dict:
        return self.catalog.create_property(pid, body, typ="event")

    def _create_rollup(self, body: dict, pid: int) -> dict:
        """Declare a day-grain rollup (≙ a materialized-view DDL):
        ``{name, dims?, jsonDims? [[name,dtype],...], numericProps?}``.
        The initial build runs synchronously here (the served dataset
        is one table; a cluster deployment hands the build to the
        compaction/maintenance loop and flips routing on when the
        store exists — _rollup() already keys on store.exists())."""
        if self.rollup_dir is None:
            raise HttpError(400, "rollup_dir not configured on this server")
        _check_name(body.get("name"), "rollup")
        events = self._events()
        for d in body.get("dims") or ():
            if d not in events.columns:
                raise HttpError(400, f"unknown dim column {d!r}")
        from .rollup import EVENTS_COUNT_COL, ROLLUP_DT_COL, USERS_HLL_COL

        reserved = {ROLLUP_DT_COL, EVENTS_COUNT_COL, USERS_HLL_COL}
        for jd in body.get("jsonDims") or ():
            if not (isinstance(jd, (list, tuple)) and len(jd) == 2):
                raise HttpError(400, "jsonDims entries are [name, dtype] pairs")
            if jd[0] in reserved or jd[0] in (body.get("dims") or ()):
                raise HttpError(
                    400, f"jsonDim name {jd[0]!r} collides with a rollup "
                         "column")
        for p in body.get("numericProps") or ():
            if p not in events.columns:
                raise HttpError(400, f"unknown numeric column {p!r}")
        for hp in body.get("histogramProps") or ():
            if not (isinstance(hp, (list, tuple)) and len(hp) == 2
                    and hp[0] in events.columns
                    and isinstance(hp[1], (list, tuple)) and len(hp[1]) >= 2
                    and all(isinstance(e, (int, float)) for e in hp[1])
                    and list(hp[1]) == sorted(set(hp[1]))):
                raise HttpError(
                    400, "histogramProps entries are [column, "
                         "[strictly-increasing numeric edges...]] pairs")
        for sp in body.get("sketchProps") or ():
            if sp not in events.columns:
                raise HttpError(400, f"unknown sketch column {sp!r}")
        gc = body.get("groupCol")
        if gc is not None and gc not in events.columns:
            # group-grain rollup (org analytics): the HLL sketches
            # count THIS column, and routing later requires the
            # request's group axis to match it exactly
            raise HttpError(400, f"unknown group column {gc!r}")
        row = self.catalog.create("rollup", body, project_id=pid)
        try:
            self._store_for_rollup_row(pid, row).rebuild(self.spark, events)
        except Exception:
            # a failed build must not leave a phantom declaration that
            # lists forever but never serves and blocks the name
            self.catalog.delete("rollup", row["id"], project_id=pid)
            raise
        return row

    def _put_immutable(self, what: str, body: dict, rid: int,
                       pid: int) -> dict:
        """Declared rollup and ANN index definitions are immutable:
        mutating dims/props or the quantizer config would desync the
        declaration from the persisted store (routing would accept
        breakdowns the store was never built with). Delete and
        re-declare instead; retraining an index is the maintenance
        tick's drift-triggered decision, not a PUT."""
        raise HttpError(
            405, f"{what} definitions are immutable; DELETE and re-create")

    def _delete_declared(self, kind: str, store_for, rid: int,
                         pid: int) -> dict:
        """Drop a declared rollup or ANN index: read its row, delete
        the declaration, then remove the store's files. Routing walks
        the catalog, so the store stops serving with the next
        request."""
        import shutil

        row = self.catalog.get(kind, rid, project_id=pid)
        path = store_for(pid, row).path
        out = self.catalog.delete(kind, rid, project_id=pid)
        shutil.rmtree(path, ignore_errors=True)
        return out

    def maintain(self, new_events=None, new_embeddings=None, *,
                 pid: int = 0, stream_id=None, batch_id=None,
                 now_us=None) -> dict:
        """ONE maintenance tick — the orchestrator a deployment's
        scheduler calls at each lake fold instead of wiring five
        hooks by hand (r15 verdict task 6). Per batch it advances, in
        dependency-safe order:

        1. ``gate_quality``   — declared batteries over the event batch
        2. the store folds, in parallel (``_fold_stores``):
           app-level + catalog-declared rollups, the (dt, user)
           engagement store and the KMV audience day sketches
        3. ``maintain_ann_indexes`` — declared + app-level ANN stores
           (also finishes orphaned ``building`` rows — crash recovery)
        4. ``sweep_sessions`` — TTL expiry + Session End injection

        This tick is the only path that advances the rollup, user-day,
        KMV and ANN stores. Replay safety is per store: every day store
        (rollup, user-day, KMV — daystore.DayStore) honours the
        (stream_id, batch_id) ledger (rollup and user-day counts are
        additive, so a re-delivered batch would otherwise count
        twice), ANN appends ride the IvfStore ledger. Without ids a
        batch is always applied. Each store that applied the batch is
        counted into optiprism_maintenance_store_advanced_total — the
        'which tier went stale' dashboard; a ledger-skipped replay
        counts nothing. Returns a summary dict."""
        out = {"quality_failures": [], "rollup_stores": 0,
               "user_day_days": 0, "kmv_days": 0, "ann_stores": 0,
               "sessions_ended": 0}
        if new_events is not None:
            out["quality_failures"] = self.gate_quality(
                new_events, pid=pid)
            if out["quality_failures"]:
                metrics.maintenance_store_advanced_total().inc(
                    store="quality_gate")
            out.update(self._fold_stores(new_events, pid, stream_id,
                                         batch_id))
            adv = metrics.maintenance_store_advanced_total()
            if out["rollup_stores"]:
                adv.inc(out["rollup_stores"], store="rollup")
            if out["user_day_days"]:
                adv.inc(store="user_day")
            if out["kmv_days"]:
                adv.inc(store="kmv")
        if new_embeddings is not None:
            out["ann_stores"] = self.maintain_ann_indexes(
                new_embeddings, pid=pid, stream_id=stream_id,
                batch_id=batch_id)
            if out["ann_stores"]:
                metrics.maintenance_store_advanced_total().inc(
                    out["ann_stores"], store="ann")
        out["sessions_ended"] = self.sweep_sessions(now_us)
        if out["sessions_ended"]:
            metrics.maintenance_store_advanced_total().inc(
                store="sessions")
        return out

    def _fold_stores(self, new_events, pid, stream_id, batch_id) -> dict:
        """Fold one event batch into every day store of ``pid``
        (``_day_stores``) on a pool of at most ``_FOLD_WORKERS``
        threads: the folds read the same batch and write disjoint
        directories, and each is a chain of small Spark jobs
        (touched-day collect, merge checkpoint, partition overwrite)
        that leaves most cores idle when the folds run one after
        another. Each fold runs under ``inheritable_thread_target``,
        so the tick's job group and scheduler pool carry over. Every
        fold is joined before the first error (in store order) is
        re-raised. ``_data_version`` is bumped once, here, after the
        joins: a ``+=`` per fold thread could lose an update, and a
        result cached between two folds would then survive the
        second. Returns {summary key: count} — rollup stores that
        applied the batch, and days the user-day and KMV folds
        touched."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        counts = {"rollup_stores": 0, "user_day_days": 0, "kmv_days": 0}
        fold = inheritable_thread_target(self.spark)(
            lambda store: store.update(self.spark, new_events,
                                       stream_id=stream_id,
                                       batch_id=batch_id))
        with ThreadPoolExecutor(_FOLD_WORKERS,
                                thread_name_prefix="maintain") as pool:
            futures = [(key, pool.submit(fold, store))
                       for key, store in self._day_stores(pid)]
        errors = []
        for key, f in futures:
            if f.exception() is not None:
                errors.append(f.exception())
            elif f.result():
                counts[key] += 1 if key == "rollup_stores" else f.result()
        # a failed fold may have rewritten partitions before raising
        if errors or any(counts.values()):
            self._data_version += 1
        if errors:
            raise errors[0]
        return counts

    # ------------------------------------------- declared ANN indexes

    def _store_for_ann_row(self, pid: int, row: dict):
        from .operators.ivf_store import IvfStore

        import os as _os

        return IvfStore(
            _os.path.join(self.ivf_dir, f"p{pid}", row["name"]))

    def _create_ann_index(self, body: dict, pid: int):
        """POST /schema/ann-indexes — declare a durable IVF index
        over the embeddings table: ``{name, nCentroids? (int |
        "auto"), method? (sample | kmeans), driftThreshold?}``.

        The build is ASYNC: the route validates, writes the catalog
        row with ``status: "building"`` and returns **202**; a
        background thread (or, after a crash, the
        ``maintain_ann_indexes`` tick) runs the KMeans + assignment
        and flips the row to ``ready`` / ``failed`` — at 100 TB a
        rebuild is hours and must never hold an HTTP worker (the
        reference's compactor is likewise a background thread,
        storage/src/db.rs:427-431). ``indexed: true`` queries
        against a non-ready index 409; DELETE mid-build cancels (the
        build thread observes the missing row and removes any files
        it wrote — no phantom store ever serves)."""
        if self.ivf_dir is None:
            raise HttpError(400, "ivf_dir not configured on this server")
        name = body.get("name")
        _check_name(name, "ann index")
        nc = body.get("nCentroids", "auto")
        if nc != "auto" and not (isinstance(nc, int) and nc >= 1):
            raise HttpError(400, "nCentroids must be a positive int or "
                                 '"auto"')
        method = body.get("method", "sample")
        if method not in ("sample", "kmeans"):
            raise HttpError(400, "method must be sample or kmeans")
        dt_thr = body.get("driftThreshold", 0.02)
        try:
            dt_thr = float(dt_thr)
        except (TypeError, ValueError):
            raise HttpError(400, "driftThreshold must be a number")
        if dt_thr <= 0:
            raise HttpError(400, "driftThreshold must be > 0")
        row = self.catalog.create(
            "ann_index",
            {"name": name, "nCentroids": nc, "method": method,
             "driftThreshold": dt_thr, "status": "building"},
            project_id=pid)
        t = threading.Thread(
            target=self._run_ann_build, args=(pid, row["id"]),
            name=f"ann-build-p{pid}-{name}", daemon=True)
        with self._ann_lock:
            self._ann_builds[(pid, row["id"])] = t
        t.start()
        return 202, row

    def _run_ann_build(self, pid: int, rid: int) -> None:
        """Build-job body: rebuild the store for one declared index
        and flip its catalog row to ready/failed. A row DELETEd
        mid-build (cancel) surfaces as NotFound at the commit step —
        the thread then removes whatever files the build wrote, so a
        cancelled or failed build never leaves a servable phantom."""
        import shutil

        from .catalog import NotFound as _NotFound
        from .schema import load_table

        try:
            try:
                row = self.catalog.get("ann_index", rid, project_id=pid)
            except _NotFound:
                return  # cancelled before the build started
            store = self._store_for_ann_row(pid, row)
            try:
                emb = load_table(self.spark, self.sf_dir, "embeddings")
                store.rebuild(self.spark, emb,
                              n_centroids=row.get("nCentroids", "auto"),
                              method=row.get("method", "sample"))
                self.catalog.update(
                    "ann_index", rid, {"status": "ready"},
                    project_id=pid)
                self._data_version += 1
            except _NotFound:
                # DELETE raced the build: cancel wins
                shutil.rmtree(store.path, ignore_errors=True)
            except Exception as e:
                shutil.rmtree(store.path, ignore_errors=True)
                try:
                    self.catalog.update(
                        "ann_index", rid,
                        {"status": "failed", "error": str(e)[:500]},
                        project_id=pid)
                except _NotFound:
                    pass
        finally:
            with self._ann_lock:
                self._ann_builds.pop((pid, rid), None)

    def wait_ann_builds(self, timeout: float = 120.0) -> bool:
        """Block until every in-flight ANN build thread finishes
        (tests + orderly shutdown). True when none remain alive."""
        import time as _time

        with self._ann_lock:
            threads = list(self._ann_builds.values())
        deadline = _time.monotonic() + timeout
        for t in threads:
            t.join(max(0.0, deadline - _time.monotonic()))
        return not any(t.is_alive() for t in threads)

    def _resolve_ann_store(self, pid: int, name):
        """The store an `indexed: true` similarity request serves
        from: a DECLARED index when ``index: name`` is given (404 on
        an unknown name), else the app-level ivf_store."""
        if name is not None:
            rows = [r for r in self.catalog.list("ann_index", pid)
                    if r.get("name") == name]
            if not rows:
                raise HttpError(404, f"no ann index named {name!r}")
            # async-build lifecycle: only a ready index serves
            # (pre-lifecycle rows carry no status and stay servable)
            status = rows[0].get("status", "ready")
            if status == "building":
                raise HttpError(
                    409, f"ann index {name!r} is still building — "
                         "retry when its status is ready")
            if status == "failed":
                raise HttpError(
                    409, f"ann index {name!r} failed to build "
                         f"({rows[0].get('error', 'unknown error')}) — "
                         "DELETE and re-create it")
            store = self._store_for_ann_row(pid, rows[0])
            # a catalog row whose store files vanished out-of-band
            # (ivf_dir repointed / wiped) must be the documented 409,
            # not a FileNotFoundError 500 from store.info()
            if not store.exists():
                raise HttpError(
                    409, f"ann index {name!r} is declared but its "
                         "store is missing on disk — DELETE and "
                         "re-create it")
            return store
        return self.ivf_store

    def maintain_ann_indexes(self, new_embeddings, pid: int = 0,
                             stream_id=None, batch_id=None) -> int:
        """Advance every DECLARED index (and the app-level one) with
        an embedding batch — step 3 of the ``maintain`` tick:
        append against each frozen quantizer, retrain only on the
        index's declared drift threshold. ``stream_id``/``batch_id``
        ride each store's replay ledger so a re-delivered batch
        no-ops. Returns stores advanced."""
        n = 0
        if self.ivf_dir is not None:
            for row in self.catalog.list("ann_index", pid):
                status = row.get("status", "ready")
                if status == "building":
                    # crash recovery: a building row with no live
                    # thread (process restarted mid-build) is this
                    # tick's job — run the build inline
                    with self._ann_lock:
                        live = (pid, row["id"]) in self._ann_builds
                    if not live:
                        self._run_ann_build(pid, row["id"])
                        n += 1
                    continue
                if status == "failed":
                    continue
                st = self._store_for_ann_row(pid, row)
                if st.exists():
                    out = st.maintain(self.spark, new_embeddings,
                                      drift_threshold=row.get(
                                          "driftThreshold", 0.02),
                                      stream_id=stream_id,
                                      batch_id=batch_id)
                    n += 1 if (out["appended"] or out["retrained"]) else 0
        if self.ivf_store is not None:
            out = self.maintain_ivf(new_embeddings, stream_id=stream_id,
                                    batch_id=batch_id)
            n += 1 if (out["appended"] or out["retrained"]) else 0
        if n:
            self._data_version += 1
        return n

    def maintain_ivf(self, new_embeddings, drift_threshold: float = 0.02,
                     stream_id=None, batch_id=None) -> dict:
        """Advance the app-level ANN index with an embedding batch
        (``maintain_ann_indexes`` calls it each tick): appends are
        assigned against the frozen quantizer (cost follows the
        batch), and a retrain fires only when the appended
        population's centroid drift (operators/drift.py) crosses the
        threshold. No store configured → no-op."""
        if self.ivf_store is None:
            return {"appended": 0, "retrained": False,
                    "centroid_cosine": None}
        out = self.ivf_store.maintain(
            self.spark, new_embeddings, drift_threshold=drift_threshold,
            stream_id=stream_id, batch_id=batch_id)
        if out["appended"] or out["retrained"]:
            self._data_version += 1
        return out

    def _similarity(self, body, m, q):
        """Vector similarity over the embeddings table (beyond the
        reference — it ships no vector search). Body::

            {type: "topk" | "near-pairs",
             method?: "brute" | "lsh" | "banded" | "ivf" (default),
             k?, nprobe?, nCentroids?, threshold?, planes?, bands?,
             rowsPerBand?, maxBucket?, queryIds?: [ids],
             indexed?: bool, index?: name}

        ``indexed: true`` (ivf only) serves from a maintained
        IvfStore — probe-only per query: the DECLARED index named by
        ``index`` (POST /schema/ann-indexes), or the app-level store
        when no name is given; 409 when neither exists (same contract
        as audience's sketched knob)."""
        from pyspark.sql import functions as F

        from .operators import similarity as sim
        from .schema import load_table

        pid = self._pid(m)
        typ = body.get("type")
        method = body.get("method", "ivf")
        indexed = bool(body.get("indexed"))
        if typ not in ("topk", "near-pairs"):
            raise HttpError(400, "type must be topk or near-pairs")
        if indexed and method != "ivf":
            raise HttpError(400, "indexed similarity requires method=ivf")
        store = (self._resolve_ann_store(pid, body.get("index"))
                 if indexed else None)
        if indexed and store is None:
            raise HttpError(
                409, "no ANN index configured — declare one via "
                     "/schema/ann-indexes, pass ivf_store= to the "
                     "server, or drop indexed: true")
        if indexed and not store.exists():
            # app-level ivf_store wiped/never built: same 409 contract
            raise HttpError(
                409, "the configured ANN store has no built index on "
                     "disk — rebuild it or drop indexed: true")
        emb = load_table(self.spark, self.sf_dir, "embeddings")
        try:
            if typ == "topk":
                qids = body.get("queryIds")
                if not qids:
                    raise ValueError("topk requires queryIds")
                queries = emb.filter(
                    F.col("vec_id").isin([int(i) for i in qids]))
                k = int(body.get("k", 5))
                if method == "brute":
                    out = sim.cosine_topk(emb, queries, k=k)
                elif method == "lsh":
                    out = sim.cosine_topk_lsh(
                        emb, queries, k=k, planes=body.get("planes", "auto"))
                elif method == "ivf":
                    out = sim.cosine_topk_ivf(
                        emb, queries, k=k,
                        n_centroids=body.get("nCentroids", "auto"),
                        nprobe=body.get("nprobe", "auto"), store=store)
                else:
                    raise ValueError(f"unknown topk method {method!r}")
            else:
                threshold = float(body.get("threshold", 0.9))
                if method == "brute":
                    out = sim.embedding_near_pairs(
                        emb, threshold=threshold, exact=True)
                elif method == "lsh":
                    out = sim.embedding_near_pairs(
                        emb, threshold=threshold,
                        planes=body.get("planes", "auto"))
                elif method == "banded":
                    out = sim.embedding_near_pairs_banded(
                        emb, threshold=threshold,
                        bands=body.get("bands", "auto"),
                        rows_per_band=body.get("rowsPerBand", "auto"))
                elif method == "ivf":
                    out = sim.embedding_near_pairs_ivf(
                        emb, threshold=threshold,
                        n_centroids=body.get("nCentroids", "auto"),
                        max_bucket=body.get("maxBucket", "auto"),
                        store=store)
                else:
                    raise ValueError(f"unknown near-pairs method {method!r}")
        except (ValueError, TypeError) as e:
            raise HttpError(400, f"bad similarity request: {e}")
        return 200, (out, set())

    def gate_quality(self, new_events, pid: int = 0) -> list[dict]:
        """Run the project's DECLARED quality batteries over an ingest
        batch — step 1 of the ``maintain`` tick, called at the same
        moment a batch folds into the lake. Returns the failing
        constraint rows (each also counted into
        optiprism_quality_gate_failures_total, the 'vendor broke the
        feed' alarm); no declared batteries → no-op, no scan. The
        collect is bounded by the number of FAILING constraints (≤
        battery size), never by batch rows."""
        from .operators.quality_checks import validate

        specs = [c for row in self.catalog.list("quality_check", pid)
                 for c in row["constraints"]]
        if not specs:
            return []
        built = self._parse_quality_specs(specs, new_events)
        failing = [
            r.asDict() for r in
            validate(new_events, built).filter("NOT passed").collect()
        ]
        for r in failing:
            metrics.quality_gate_failures_total().inc(
                constraint=r["constraint"])
        return failing

    def _attach_property(self, body, m, q):
        """Link a property to an event (reference events.rs
        attach_property — the catalog edge the UI uses to offer
        per-event property pickers)."""
        pid, prop_id = self._pid(m), int(m["prop_id"])
        self.catalog.get("event_property", prop_id, project_id=pid)  # must exist
        ev = self.catalog.get("event", int(m["id"]), project_id=pid)
        ids = list(dict.fromkeys((ev.get("propertyIds") or []) + [prop_id]))
        return 200, self.catalog.update(
            "event", ev["id"], {"propertyIds": ids}, project_id=pid)

    def _detach_property(self, body, m, q):
        pid = self._pid(m)
        ev = self.catalog.get("event", int(m["id"]), project_id=pid)
        ids = [i for i in (ev.get("propertyIds") or []) if i != int(m["prop_id"])]
        return 200, self.catalog.update(
            "event", ev["id"], {"propertyIds": ids}, project_id=pid)

    def _create_group_property(self, body: dict, pid: int) -> dict:
        # gid captured by the route pattern rides in via a closure-free
        # re-parse: the catalog stores it on the property row
        return self.catalog.create_property(
            pid, body, typ="group", group_id=int(body.get("groupId", 0)))

    # ---------------------------------------------------- backup handlers

    def _backup_create(self, body, m, q):
        """POST /api/v1/admin/backups — archive the control plane
        (catalog + WAL) into backup_dir (reference http/backups.rs;
        store backup storage/src/db.rs:1348-1546). Data dirs belong to
        the object store at scale (see backup.py)."""
        from .backup import create_backup

        if not self.backup_dir:
            raise HttpError(400, "backups require backup_dir= (or wal_dir=)")
        os.makedirs(self.backup_dir, exist_ok=True)
        n = len(os.listdir(self.backup_dir)) + 1
        path = os.path.join(self.backup_dir, f"backup-{n:04d}.tar.gz")
        with metrics.backup_time().time():
            manifest = create_backup(
                path, catalog=self.catalog, wal_dir=self._wal_dir
            )
        metrics.backups_total().inc()
        return 201, {"id": n, "path": path,
                     "entries": len(manifest["entries"]),
                     "createdAt": manifest["createdAt"]}

    def _backup_list(self, body, m, q):
        if not self.backup_dir or not os.path.isdir(self.backup_dir):
            return 200, []
        return 200, [
            {"name": n, "path": os.path.join(self.backup_dir, n)}
            for n in sorted(os.listdir(self.backup_dir))
        ]

    # -------------------------------------------------- settings handlers

    def _settings_row(self) -> dict:
        try:
            return self.catalog.get_by_name("setting", "settings")
        except NotFound:
            return self.catalog.create("setting", {"name": "settings"})

    def _settings_get(self, body, m, q):
        return 200, self._settings_row()

    def _settings_put(self, body, m, q):
        row = self._settings_row()
        body.pop("name", None)  # the singleton key is fixed
        return 200, self.catalog.update("setting", row["id"], body)

    # ------------------------------------------------- lifecycle handlers

    def _lake(self) -> dict:
        if not self.lake:
            raise HttpError(
                409, "no lake configured (App(lake=...) opts into the "
                     "lifecycle plane)")
        return self.lake

    def _erase_user(self, body, m, q):
        """Right-to-erasure over every lake tier (lifecycle.erase_users)
        — body ``{"userIds": [...]}``; production queues these and
        batches them into the maintenance cadence. Every day store
        (declared and app-level rollups, user-day, KMV) re-aggregates
        the victims' days; ``rollup_days`` counts them across stores."""
        from .lifecycle import erase_users

        lake = self._lake()
        ids = body.get("userIds") or []
        if not isinstance(ids, list) or not all(
                isinstance(i, int) for i in ids):
            raise HttpError(400, "userIds must be a list of ints")
        out = erase_users(
            self.spark, lake["table_name"], lake["appends_path"],
            ids, tiers_path=lake.get("tiers_path"),
            extra_paths=lake.get("extra_paths") or (),
            day_stores=[s for _, s in self._day_stores()],
        )
        self.refresh_tables()
        return 200, out

    def _retention_sweep(self, body, m, q):
        """Time-based retention: partition drops on every dated store
        and every day store (zero bytes scanned) + a filtered rewrite
        of the bucketed base. Body ``{"olderThan":
        "YYYY-MM-DD[THH:MM:SS]"}``."""
        import datetime as _dt

        from .lifecycle import expire_base, expire_partitions

        lake = self._lake()
        raw = body.get("olderThan")
        if not raw:
            raise HttpError(400, "olderThan is required")
        try:
            cutoff = _dt.datetime.fromisoformat(raw)
        except ValueError as e:
            raise HttpError(400, f"bad olderThan: {e}")
        dated = [
            expire_partitions(p, cutoff.date())
            for p in lake.get("dated_paths") or ()
        ]
        removed = expire_base(
            self.spark, lake["table_name"], lake["appends_path"], cutoff,
            tiers_path=lake.get("tiers_path"),
            day_stores=[s for _, s in self._day_stores()])
        self.refresh_tables()
        return 200, {"rows_removed": removed, "dated": dated}

    # ------------------------------------------------------ auth handlers

    def _key(self) -> str:
        if not self.token_key:
            raise HttpError(404, "auth is not enabled (no token_key configured)")
        return self.token_key

    def _auth_signup(self, body, m, q):
        return 200, auth_mod.sign_up(self.catalog, body, self._key())

    def _auth_login(self, body, m, q):
        return 200, auth_mod.log_in(self.catalog, body, self._key())

    def _auth_refresh(self, body, m, q):
        return 200, auth_mod.refresh(self.catalog, body, self._key())

    def _authorize(self, environ, path: str) -> Optional[dict]:
        """Bearer-token guard over every non-auth, non-ingest route
        (reference: axum Extension(auth) middleware on all platform
        routes, platform/src/auth/provider.rs). Returns the access
        claims when a valid token is presented."""
        if self.token_key is None:
            return None
        if path.startswith("/api/v1/auth/") or path.startswith("/api/v1/ingest/"):
            return None
        header = environ.get("HTTP_AUTHORIZATION", "")
        if not header.startswith("Bearer "):
            raise HttpError(401, "missing bearer token")
        try:
            claims = auth_mod.parse_token(header[len("Bearer "):], self.token_key)
        except auth_mod.AuthError as e:
            raise HttpError(401, str(e))
        if ("accountId" not in claims or "organizationId" not in claims
                or claims.get("typ") == "refresh"):
            # a refresh token is not an access token (reference
            # AccessClaims vs RefreshClaims, auth/token.rs:18-30)
            raise HttpError(403, "not an access token")
        return claims

    # --------------------------------------------------- profile handlers

    def _me(self, m) -> dict:
        claims = m.get("__claims") or {}
        if "accountId" not in claims:
            raise HttpError(401, "profile routes require a bearer token")
        return self.catalog.get("account", int(claims["accountId"]))

    @staticmethod
    def _scrub_account(acct: dict) -> dict:
        return {k: v for k, v in acct.items() if k != "passwordHash"}

    def _profile_get(self, body, m, q):
        return 200, self._scrub_account(self._me(m))

    def _profile_name(self, body, m, q):
        acct = self._me(m)
        # only the provided fields change: writing body.get() for both
        # would null out whichever one a partial body omitted
        patch = {k: body[k] for k in ("firstName", "lastName") if k in body}
        if not patch:
            raise HttpError(400, "firstName or lastName required")
        upd = self.catalog.update("account", acct["id"], patch)
        return 200, self._scrub_account(upd)

    def _profile_email(self, body, m, q):
        acct = self._me(m)
        email = body.get("email")
        if not email:
            raise HttpError(400, "email required")
        # account name IS the email (login key) — both move together
        upd = self.catalog.update(
            "account", acct["id"], {"name": email, "email": email})
        return 200, self._scrub_account(upd)

    def _profile_password(self, body, m, q):
        acct = self._me(m)
        if not auth_mod.verify_password(
            body.get("password", ""), acct.get("passwordHash", "")
        ):
            raise HttpError(401, "current password is wrong")
        if not body.get("newPassword"):
            raise HttpError(400, "newPassword required")
        self.catalog.update(
            "account", acct["id"],
            {"passwordHash": auth_mod.make_password_hash(body["newPassword"])},
        )
        return 200, {"status": "ok"}

    # -------------------------------------------------- query handlers

    def _events(self) -> DataFrame:
        """The served events frame, resolved once and reused: the
        re-resolve (file listing + footer schema read) cost ~30% of a
        light query's latency under concurrent load. The cache holds
        the ANALYZED plan only — execution stays lazy per query.
        Invalidated by refresh_tables() whenever the underlying data
        changes (checkpoint commits; callers that swap the parquet
        out-of-band must call it too, as a catalog REFRESH TABLE).

        With a lake configured, queries are served from the LAKE
        snapshot (bucketed base ∪ tiers ∪ L0 appends) — the same
        store the lifecycle plane mutates, so an /admin/erase-user is
        visible to the very next raw-scan query (funnel, paths,
        retention), not only to rollup-routed ones. Serving one store
        and erasing another would quietly violate right-to-erasure on
        every non-routed surface (found closing the r10 verdict's
        Missing #5)."""
        return self._events_resolved()[0]

    def _events_resolved(self) -> "tuple[DataFrame, bool]":
        """(events frame, per-user-partitioned flag) resolved as ONE
        atomic cache entry. The pair must never be read as two
        separate attributes: a refresh between the two reads could
        pair an appends-bearing snapshot with a True flag, and
        assume_partitioned on a non-partitioned frame silently
        undercounts conversions (r11 review finding)."""
        cached = self._events_cache
        if cached is None:
            partitioned = False
            if self.lake:
                from .ingest import (
                    _append_part_files,
                    _committed_tiers,
                    events_snapshot,
                )

                df = events_snapshot(
                    self.spark, self.lake["table_name"],
                    self.lake["appends_path"],
                    self.lake.get("tiers_path"))
                # fully-compacted lake (no L0 parts, no tiers): the
                # snapshot IS the bucketed base table, whose write
                # layout (write_events_bucketed, bucketBy user) puts
                # every user's rows in one partition — sequence
                # operators may elide their per-user shuffle
                # (funnel_attempts assume_partitioned). Any pending
                # append breaks the invariant, so the flag travels
                # WITH the frame it describes and both are replaced
                # together by refresh_tables().
                tiers = self.lake.get("tiers_path")
                partitioned = not (
                    _append_part_files(self.lake["appends_path"])
                    or (tiers and _committed_tiers(tiers)))
            else:
                df = load_table(self.spark, self.sf_dir, "events")
            cached = (df, partitioned)
            self._events_cache = cached
        return cached

    def refresh_tables(self) -> None:
        self._events_cache = None
        self._data_version += 1

    def _day_stores(self, pid: Optional[int] = None) -> list:
        """(summary key, store) for every existing day store
        (daystore.DayStore) of project ``pid``: its catalog-declared
        rollups in declaration order, then the app-level rollup,
        user-day and KMV stores — the one list the maintenance folds,
        rollup routing, erasure and retention walk. ``pid=None`` takes
        the declared rollups of EVERY project (erasure and retention
        are lake-global admin operations, not per-project queries)."""
        pids = [pid] if pid is not None else sorted(
            {0, *(p["id"] for p in self.catalog.list("project"))})
        stores = [("rollup_stores", s) for p in pids
                  for s in self._declared_rollup_stores(p)]
        for key, s in (("rollup_stores", self.rollup_store),
                       ("user_day_days", self.user_day_store),
                       ("kmv_days", self.kmv_store)):
            if s is not None:
                stores.append((key, s))
        return [(key, s) for key, s in stores if s.exists()]

    def _declared_rollup_stores(self, pid: int) -> list:
        """RollupStores for the project's catalog-declared rollups
        (schema/rollups CRUD), declaration order."""
        if self.rollup_dir is None:
            return []
        return [
            self._store_for_rollup_row(pid, row)
            for row in self.catalog.list("rollup", pid)
        ]

    def _store_for_rollup_row(self, pid: int, row: dict):
        from .rollup import RollupSpec, RollupStore

        kw = {}
        if row.get("groupCol"):  # org/group-grain sketches (validated
            kw["group_col"] = row["groupCol"]  # on declare)
        spec = RollupSpec(
            dims=tuple(row.get("dims") or ("event_type",)),
            numeric_props=tuple(row.get("numericProps") or ("value",)),
            json_dims=tuple((n, d) for n, d in (row.get("jsonDims") or ())),
            histogram_props=tuple(
                (n, tuple(float(e) for e in edges))
                for n, edges in (row.get("histogramProps") or ())
            ),
            sketch_props=tuple(row.get("sketchProps") or ()),
            **kw,
        )
        return RollupStore(
            os.path.join(self.rollup_dir, f"p{pid}_{row['name']}"), spec
        )

    def _rollup(self, pid: int = 0) -> Optional[list]:
        """[(rollup_df, spec), ...] for run_event_segmentation (tried
        in order; first spec that supports an event-query wins), or
        None — the project's catalog-declared rollups in declaration
        order, then the App-level store. Each frame comes from
        ``DayStore.read``, whose memo serves the store's current
        version."""
        return [(s.read(self.spark), s.spec)
                for key, s in self._day_stores(pid)
                if key == "rollup_stores"] or None

    def _route_rollup(self, pid: int, supports, routed, raw):
        """``routed(rollup_df, spec)`` from the first of the project's
        rollups (``_rollup``) whose spec ``supports``, else ``raw()``;
        ``supports=None`` marks a request no rollup can answer. The
        decision lands in optiprism_query_rollup_routed_total."""
        if supports is not None:
            for roll, spec in self._rollup(pid) or ():
                if supports(spec):
                    metrics.query_rollup_routed_total().inc(path="rollup")
                    return routed(roll, spec)
        metrics.query_rollup_routed_total().inc(path="raw")
        return raw()

    def _route_user_day(self, surface: str, supports, routed, raw):
        """``routed(store_df, spec)`` from the user-day store when it
        exists and ``supports(spec)``, else ``raw()``; the decision
        lands in optiprism_user_day_routed_total under ``surface``."""
        store = self.user_day_store
        if store is not None and store.exists() and supports(store.spec):
            metrics.user_day_routed_total().inc(surface=surface,
                                                path="store")
            return routed(store.read(self.spark), store.spec)
        metrics.user_day_routed_total().inc(surface=surface, path="raw")
        return raw()

    def _pid(self, m) -> int:
        pid = m.get("pid", "")
        return int(pid) if pid.isdigit() else 0

    def _custom_events(self, pid: int) -> dict:
        out = self.catalog.custom_events_map(pid)
        out.update(self.custom_events or {})
        return out or {}

    def _props(self, pid: int) -> dict:
        return self.catalog.properties_dtypes(pid)

    def _event_segmentation(self, body, m, q):
        pid = self._pid(m)
        req = api.parse_event_segmentation(
            body, now=self.now, custom_events=self._custom_events(pid),
            props=self._props(pid),
        )
        dims = {"bucket", "event", "segment"}
        dims.update(b.name for b in req.breakdowns)
        for e in req.events:
            dims.update(b.name for b in e.breakdowns)
        rate = _sampling_rate(body)
        if rate < 1.0:
            # estimation mode: user-coherent sample, additive metrics
            # Horvitz-Thompson scaled (operators/estimate.py); the
            # rollup is bypassed — it holds exact pre-aggregates, not
            # per-user state, so it cannot answer a sampled request
            from .operators.estimate import estimated_event_segmentation

            return 200, (
                estimated_event_segmentation(self._events(), req, rate),
                dims,
            )
        return 200, (
            run_event_segmentation(self._events(), req, rollup=self._rollup(pid)),
            dims,
        )

    def _funnel(self, body, m, q):
        pid = self._pid(m)
        req = api.parse_funnel(
            body, now=self.now, custom_events=self._custom_events(pid),
            props=self._props(pid),
        )
        dims = {"bucket", "step"}
        dims.update(b.name for b in req.breakdowns)
        # routed layout: a fully-compacted lake serves the bucketed
        # base table, so the funnel's one shuffle (repartition by
        # user) is elided — the write-time layout already delivers
        # per-user partitions. Same discipline as the warehouse
        # fact routing; the decision is counted for operators.
        events, assume = self._events_resolved()
        metrics.funnel_layout_routed_total().inc(
            path="bucketed" if assume else "shuffle")
        return 200, (
            funnel_report(events, req, assume_partitioned=assume), dims)

    def _retention(self, body, m, q):
        """Cohort retention (beyond the reference — no retention
        operator exists there). Body: ``{time, intervalUnit,
        cohortEvent, returnEvent, maxPeriods?, unbounded?, filters?}``
        with the same event/filter dicts as the other query routes."""
        pid = self._pid(m)
        from .dsl import TimeIntervalUnit
        from .operators.retention import _PERIOD_UNITS as \
            _RETENTION_PERIOD_UNITS
        from .operators.retention import retention
        from .userday import user_day_supports

        props = self._props(pid)
        ces = self._custom_events(pid)
        req_filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        kw = dict(
            cohort_event=api.parse_event_ref(body["cohortEvent"],
                                             custom_events=ces, props=props),
            return_event=api.parse_event_ref(body["returnEvent"],
                                             custom_events=ces, props=props),
            time=api.parse_time(body["time"], self.now),
            interval=TimeIntervalUnit(body.get("intervalUnit", "week")),
            max_periods=int(body.get("maxPeriods", 12)),
            unbounded=bool(body.get("unbounded", False)),
            filters=req_filters,
        )
        rate = _sampling_rate(body)
        if rate < 1.0:
            from .operators.estimate import estimated_retention

            out = estimated_retention(self._events(), rate, **kw)
        else:
            # exact routed path: cohorts/returns/sizes fold from
            # (dt, user) partials through the SHARED matrix tail
            from .userday import retention_from_user_day

            out = self._route_user_day(
                "retention",
                lambda spec: (
                    kw["interval"] in _RETENTION_PERIOD_UNITS
                    and user_day_supports(kw["time"], kw["cohort_event"],
                                          req_filters, spec)
                    and user_day_supports(kw["time"], kw["return_event"],
                                          req_filters, spec)),
                lambda df, spec: retention_from_user_day(
                    df, kw["cohort_event"], kw["return_event"], kw["time"],
                    kw["interval"], kw["max_periods"], spec=spec,
                    filters=req_filters, unbounded=kw["unbounded"]),
                lambda: retention(self._events(), **kw))
        return 200, (out, {"cohort_bucket", "period"})

    def _stickiness(self, body, m, q):
        """Engagement stickiness (DAU/WAU or DAU/MAU trend — beyond
        the reference, whose DAU/WAU/MAU stop at chart series). Body:
        ``{time, period? (week|month), event?, filters?}``.
        Automatically answered from a catalog-declared day rollup when
        the request is rollup-expressible (``activity_supports``: the
        most-refreshed engagement surface is the first rollup client;
        sketch estimates, ± ~1% at scale) and falls back to the exact
        raw scan otherwise; the routing decision lands in
        optiprism_query_rollup_routed_total like segmentation's."""
        pid = self._pid(m)
        from .dsl import TimeIntervalUnit
        from .operators.engagement import stickiness
        from .rollup import activity_supports, stickiness_from_rollup

        props = self._props(pid)
        ces = self._custom_events(pid)
        time = api.parse_time(body["time"], self.now)
        try:
            period = TimeIntervalUnit(body.get("period", "week"))
        except ValueError:
            raise HttpError(400, "period must be week or month")
        if period not in (TimeIntervalUnit.WEEK, TimeIntervalUnit.MONTH):
            raise HttpError(400, "period must be week or month")
        event = (
            api.parse_event_ref(body["event"], custom_events=ces, props=props)
            if body.get("event") else None)
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        out = self._route_rollup(
            pid,
            lambda spec: activity_supports(time, event, filters, spec),
            lambda roll, spec: stickiness_from_rollup(
                roll, time, period, spec, event, filters),
            lambda: stickiness(self._events(), time, period=period,
                               event=event, filters=filters))
        return 200, (out, {"bucket"})

    def _growth(self, body, m, q):
        """Growth-accounting ledger (beyond the reference): per-bucket
        new / retained / resurrected / churned / active user counts.
        Body: ``{time, period? (day|week|month), event?, filters?}``.
        One distinct + one user-partitioned window — the standard
        weekly growth chart in a single declarative plan."""
        pid = self._pid(m)
        from .dsl import TimeIntervalUnit
        from .operators.engagement import growth_accounting

        props = self._props(pid)
        ces = self._custom_events(pid)
        time = api.parse_time(body["time"], self.now)
        try:
            period = TimeIntervalUnit(body.get("period", "week"))
        except ValueError:
            raise HttpError(400, "period must be day, week or month")
        if period not in (TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK,
                          TimeIntervalUnit.MONTH):
            raise HttpError(400, "period must be day, week or month")
        event = (
            api.parse_event_ref(body["event"], custom_events=ces, props=props)
            if body.get("event") else None)
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        from .userday import growth_from_user_day, user_day_supports

        out = self._route_user_day(
            "growth",
            lambda spec: user_day_supports(time, event, filters, spec),
            lambda df, spec: growth_from_user_day(
                df, time, period=period, spec=spec, event=event,
                filters=filters),
            lambda: growth_accounting(self._events(), time, period=period,
                                      event=event, filters=filters))
        return 200, (out, {"bucket"})

    def _lness(self, body, m, q):
        """L7/L28 habit-strength grid (beyond the reference): users
        by (distinct active days in the trailing ``lShort``, trailing
        ``lLong``) windows ending at ``anchor`` inclusive. Body:
        ``{anchor (YYYY-MM-DD), lShort?, lLong?, event?, filters?}``.
        Served from the user-day store when the request stays inside
        its dims (both counts are counts over persisted dt values),
        raw events otherwise — same routing contract as /queries/rfm
        and /queries/growth, decision recorded in metrics."""
        pid = self._pid(m)
        import datetime as dt_mod

        from .operators.engagement import lness_grid

        props = self._props(pid)
        ces = self._custom_events(pid)
        try:
            anchor = dt_mod.date.fromisoformat(body["anchor"])
        except KeyError:
            raise HttpError(400, "anchor is required (YYYY-MM-DD)")
        except (TypeError, ValueError):
            raise HttpError(400, "anchor must be YYYY-MM-DD")
        try:
            l_short = int(body.get("lShort", 7))
            l_long = int(body.get("lLong", 28))
        except (TypeError, ValueError):
            raise HttpError(400, "lShort/lLong must be integers")
        if not (1 <= l_short < l_long <= 366):
            raise HttpError(400, "need 1 <= lShort < lLong <= 366")
        event = (
            api.parse_event_ref(body["event"], custom_events=ces, props=props)
            if body.get("event") else None)
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        from .dsl import QueryTime
        from .userday import lness_from_user_day, user_day_supports

        # the operator derives its own day-aligned window from the
        # anchor, so routability is only about event/filter dims —
        # probe supports() with the window it will build
        window = QueryTime.between(
            dt_mod.datetime.combine(
                anchor - dt_mod.timedelta(days=l_long - 1),
                dt_mod.time.min),
            dt_mod.datetime.combine(
                anchor, dt_mod.time(23, 59, 59, 999999)))
        out = self._route_user_day(
            "lness",
            lambda spec: user_day_supports(window, event, filters, spec),
            lambda df, spec: lness_from_user_day(
                df, anchor, l_short=l_short, l_long=l_long, spec=spec,
                event=event, filters=filters),
            lambda: lness_grid(self._events(), anchor,
                               l_short=l_short, l_long=l_long,
                               event=event, filters=filters))
        return 200, (out, {"l_short", "l_long"})

    def _rfm(self, body, m, q):
        """RFM scoring (beyond the reference). Body: ``{time,
        nTiles?, valueProperty?, event?, filters?, grid?}``; with
        ``grid: true`` returns the (r, f, m) segment grid (counts +
        total spend) instead of the per-user frame (per-user output
        is row-capped like the records routes)."""
        pid = self._pid(m)
        from pyspark.sql import functions as F

        from .operators.aggregates import DECIMAL_T
        from .operators.engagement import rfm_scores

        props = self._props(pid)
        ces = self._custom_events(pid)
        time = api.parse_time(body["time"], self.now)
        n_tiles = int(body.get("nTiles", 5))
        if not 2 <= n_tiles <= 10:
            raise HttpError(400, "nTiles must be in [2, 10]")
        event = (
            api.parse_event_ref(body["event"], custom_events=ces, props=props)
            if body.get("event") else None)
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        value_col = body.get("valueProperty", "value")
        from .userday import rfm_from_user_day, user_day_supports

        try:
            out = self._route_user_day(
                "rfm",
                lambda spec: (value_col == spec.value_col
                              and user_day_supports(time, event, filters,
                                                    spec)),
                lambda df, spec: rfm_from_user_day(
                    df, time, n_tiles=n_tiles, spec=spec, event=event,
                    filters=filters),
                lambda: rfm_scores(
                    self._events(), time, n_tiles=n_tiles,
                    value_col=value_col, event=event, filters=filters))
        except ValueError as e:
            raise HttpError(400, str(e))
        if body.get("grid"):
            grid = out.groupBy("r_score", "f_score", "m_score").agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum(F.col("monetary").cast(DECIMAL_T)).cast("double")
                .alias("total_monetary"),
            )
            return 200, (grid, {"r_score", "f_score", "m_score"})
        return 200, (out.orderBy("user_id").limit(MAX_RESPONSE_ROWS),
                     {"user_id"})

    def _audience(self, body, m, q):
        """Audience set algebra (beyond the reference — its segments
        answer one cohort at a time; overlap/intersection questions
        have no operator there). Body:

        - ``{type: "venn", a: event, b: event, time, filters?}`` →
          one row (users_a/users_b/both/a_only/b_only/union_users/
          jaccard) from a single groupBy(user) pass;
        - ``{type: "overlap-matrix", time, dimension?, filters?}`` →
          pairwise distinct-user overlap + Jaccard across the values
          of ``dimension`` (default event_type);
        - ``{type: "set", audiences: {name: event}, expression:
          {ref}|{op: and|or|not, args}, time, filters?}`` → distinct
          users satisfying the boolean combination (the same
          JSON-serializable AST operators/audience.set_expr_col
          compiles)."""
        pid = self._pid(m)
        from .operators.audience import (
            audience_set_count,
            audience_venn,
            overlap_matrix,
        )
        from .userday import user_day_supports

        props = self._props(pid)
        ces = self._custom_events(pid)
        kind = body.get("type")
        time = api.parse_time(body["time"], self.now) if body.get(
            "time") else None
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)

        if kind == "venn":
            try:
                a = api.parse_event_ref(body["a"], custom_events=ces,
                                        props=props)
                b = api.parse_event_ref(body["b"], custom_events=ces,
                                        props=props)
            except KeyError as e:
                raise HttpError(400, f"venn requires {e.args[0]}")
            if body.get("sketched"):
                # EXPLICIT estimate mode (double columns, like the
                # sampling mode's opt-in): answered from maintained
                # day-grain KMV sketches, no raw scan. Unsupported
                # shapes fail loudly — a silent raw fallback would
                # change the result dtype under the caller.
                return 200, (self._sketched_venn(a, b, time, filters),
                             set())
            out = audience_venn(self._events(), a, b, time, filters)
            return 200, (out, set())

        if kind == "overlap-matrix":
            dim = body.get("dimension", "event_type")
            events = self._events()
            if dim not in events.columns:
                raise HttpError(400, f"unknown dimension: {dim}")
            # route ceiling < operator default: C(K,2) pair rows must
            # fit MAX_RESPONSE_ROWS (C(141,2)=9,870 ≤ 10,000; the
            # operator's 200 would 500 the response serializer on
            # exactly the high-cardinality columns the guard is for)
            route_cap = 141
            raw_md = body.get("maxDims", route_cap)
            try:
                max_dims = int(raw_md)
            except (TypeError, ValueError):
                raise HttpError(400, f"maxDims must be an integer, got "
                                     f"{raw_md!r}")
            if not 2 <= max_dims <= route_cap:
                raise HttpError(
                    400, f"maxDims must be in [2, {route_cap}] over HTTP "
                         "(response row cap); use the library operator "
                         "for wider matrices")
            if body.get("sketched"):
                # same explicit estimate-mode opt-in as venn: served
                # from the KMV day store (double columns, no raw
                # scan) — the matrix is the family's most expensive
                # surface, and at production scale this is a store
                # fold instead of a full event scan
                return 200, (self._sketched_matrix(dim, time, filters,
                                                   max_dims),
                             {"dim_a", "dim_b"})
            out = overlap_matrix(
                events, time, dim_col=dim, filters=filters,
                max_dims=max_dims)
            return 200, (out, {"dim_a", "dim_b"})

        if kind == "set":
            auds = body.get("audiences")
            expr = body.get("expression")
            if not auds or not isinstance(auds, dict) or expr is None:
                raise HttpError(400, "set requires audiences and expression")
            try:
                refs = {name: api.parse_event_ref(ev, custom_events=ces,
                                                  props=props)
                        for name, ev in auds.items()}
                if body.get("sketched"):
                    out = self._sketched_set(refs, expr, time, filters)
                else:
                    # exact routed path (r16): membership flags fold
                    # from (dt, user, event) partials — no raw scan
                    from .userday import set_count_from_user_day

                    out = self._route_user_day(
                        "audience_set",
                        lambda spec: all(
                            user_day_supports(time, r, filters, spec)
                            for r in refs.values()),
                        lambda df, spec: set_count_from_user_day(
                            df, refs, expr, time, spec=spec,
                            filters=filters),
                        lambda: audience_set_count(
                            self._events(), refs, expr, time, filters))
            # malformed audience dicts (KeyError), non-dict expression
            # nodes (TypeError/AttributeError), and semantic errors
            # (ValueError) are ALL caller errors — 400, never a 500
            except (ValueError, KeyError, TypeError, AttributeError) as e:
                raise HttpError(400, f"bad set request: {e}")
            return 200, (out, set())

        raise HttpError(400, "type must be venn, overlap-matrix or set")

    def _sketched_venn(self, a, b, time, filters):
        """Venn from the maintained KMV day-sketch store: exact below
        the store's K, ±1/sqrt(K) beyond — the no-raw-scan path for
        the recurring overlap dashboards. Requires plain event-name
        audiences (sketches are keyed by the dim value), no property
        filters (not in the sketch), and a whole-day bounded window
        (the store's grain); each constraint 400s with its reason.
        An event name absent from the window's sketches legitimately
        reads as zero (a sketch cannot distinguish "no users" from
        "never tracked") — only SHAPE mismatches fail loudly."""
        from .operators.audience import audience_venn_from_day_sketches
        from .schema import EVENT_NAME_COL

        if a.custom is not None or b.custom is not None or (
                a.name is None or b.name is None):
            raise HttpError(
                400, "sketched venn needs plain event-name audiences")
        days, store = self._kmv_window_days(
            "venn", EVENT_NAME_COL, time, filters)
        return audience_venn_from_day_sketches(days, a.name, b.name,
                                               k=store.k)

    def _sketched_matrix(self, dim, time, filters, max_dims):
        """The K×K overlap matrix from the KMV day-sketch store —
        same constraints and failure modes as _sketched_venn, same
        estimate contract (exact below the store's K)."""
        from .operators.audience import overlap_matrix_from_day_sketches

        days, store = self._kmv_window_days(
            "overlap-matrix", dim, time, filters)
        return overlap_matrix_from_day_sketches(
            days, k=store.k, max_dims=max_dims)

    def _sketched_set(self, refs, expr, time, filters):
        """Boolean set-expression counts from the KMV day store —
        the estimate-mode opt-in for arbitrary and/or/not audience
        combinations (common-theta membership evaluation,
        operators/audience.audience_set_count_from_day_sketches).
        Audience names are rewritten to their event names, the store's
        sketch key."""
        from .operators.audience import audience_set_count_from_day_sketches
        from .schema import EVENT_NAME_COL

        for ref in refs.values():
            if ref.custom is not None or ref.name is None:
                raise HttpError(
                    400, "sketched set needs plain event-name audiences")
        days, store = self._kmv_window_days(
            "set", EVENT_NAME_COL, time, filters)

        def rewrite(e):
            if not isinstance(e, dict):
                raise ValueError(f"expression nodes must be objects, "
                                 f"got {e!r}")
            if "ref" in e:
                name = e["ref"]
                if name not in refs:
                    raise ValueError(f"unknown audience {name!r}")
                return {"ref": refs[name].name}
            return {"op": e.get("op"),
                    "args": [rewrite(a) for a in e.get("args", ())]}

        return audience_set_count_from_day_sketches(
            days, rewrite(expr), k=store.k)

    def _kmv_window_days(self, what, dim, time, filters):
        """Shared KMV-store resolution for the sketched audience
        surfaces: the store must exist, sketch the requested
        dimension, carry no property filters (not in the sketch), and
        the window must be whole-day bounded (the store's grain) —
        each constraint 400s with its reason. Counts the routed read
        (path="kmv") and returns the windowed (day, dim, kmv) frame
        plus the store."""
        from .rollup import _day_aligned, day_range

        store = self.kmv_store
        if store is None or not store.exists():
            raise HttpError(
                400, f"sketched {what} requires a maintained KMV "
                     "day-sketch store (App(kmv_store=...))")
        if store.dim_col != dim:
            # a store keyed on another dimension would silently return
            # all-zeros (its sketches never match the requested names)
            raise HttpError(
                400, f"the configured KMV store sketches "
                     f"{store.dim_col!r}, not {dim!r}")
        if filters:
            raise HttpError(
                400, f"sketched {what} cannot apply property filters — "
                     "sketches hold hashed users per (day, dim) only")
        days = store.read(self.spark)
        if time is not None:
            aligned = _day_aligned(time)
            if aligned is None or aligned[1] is None:
                raise HttpError(
                    400, f"sketched {what} needs a whole-day bounded "
                         "window")
            days = days.filter(day_range(time, store.day_col))
        metrics.query_rollup_routed_total().inc(path="kmv")
        return days, store

    def _drift(self, body, m, q):
        """Data-quality / drift queries (beyond the reference) — the
        recurring snapshot check a training pipeline schedules between
        deliveries, served with the same RBAC / result-cache /
        admission discipline as every other query family. Body:

        - ``{type: "profile", columns, by?, time?, approxDistinct?}``
          → per-group numeric profile (one aggregation pass);
        - ``{type: "numeric", property, baseline, actual, edges? |
          bins?}`` → PSI between the two periods. With DDL ``edges``
          (or none, when a declared rollup has a histogram for the
          property) the answer FOLDS OUT OF THE ROLLUP's stored bins
          whenever both periods are whole-day unions — no raw-event
          rescan; ``bins`` forces global-min/max binning (raw scan,
          never routed: the bounds depend on the rows themselves);
        - ``{type: "categorical", property, baseline, actual,
          maxCategories?}`` → event-mix PSI; routes through the
          rollup's per-day per-dim counts when the property is a dim.

        Routing decisions land in optiprism_query_rollup_routed_total
        like segmentation's; both periods must be disjoint."""
        pid = self._pid(m)
        from .operators.drift import (
            MAX_CATEGORIES,
            categorical_drift,
            distribution_drift,
            distribution_drift_fixed,
            table_profile,
        )
        from .rollup import (
            categorical_psi_from_rollup,
            drift_supports,
            psi_from_rollup,
        )

        from .exprs import full_filter

        kind = body.get("type")
        if kind == "profile":
            cols = body.get("columns")
            if not cols:
                raise HttpError(400, "profile requires columns")
            events = self._events()
            if body.get("time"):
                time = api.parse_time(body["time"], self.now)
                events = events.filter(full_filter(time))
            missing = [c for c in list(cols) + list(body.get("by") or ())
                       if c not in events.columns]
            if missing:
                raise HttpError(400, f"unknown columns: {missing}")
            out = table_profile(
                events, list(cols), by=list(body.get("by") or ()) or None,
                approx_distinct=bool(body.get("approxDistinct")))
            return 200, (out, set(body.get("by") or ()))

        if kind not in ("numeric", "categorical"):
            raise HttpError(
                400, "type must be profile, numeric or categorical")
        prop = body.get("property")
        if not prop:
            raise HttpError(400, f"{kind} drift requires property")
        try:
            base = api.parse_time(body["baseline"], self.now)
            actual = api.parse_time(body["actual"], self.now)
        except KeyError as e:
            raise HttpError(400, f"missing {e.args[0]} time range")
        b0, b1 = base.range()
        a0, a1 = actual.range()
        if (b1 is None or a1 is None or not
                (b1 < a0 or a1 < b0)):
            raise HttpError(
                400, "baseline and actual must be bounded and disjoint")
        split = full_filter(base)
        pop = full_filter(base) | full_filter(actual)

        def raw_pop():
            events = self._events()
            if prop not in events.columns:
                raise HttpError(400, f"unknown column {prop!r}")
            return events.filter(pop)

        if kind == "categorical":
            raw_max = body.get("maxCategories")
            try:
                max_cat = (MAX_CATEGORIES if raw_max is None
                           else int(raw_max))
            except (TypeError, ValueError):
                raise HttpError(
                    400, f"maxCategories must be an integer, got "
                    f"{raw_max!r}")
            if max_cat < 1:
                # a negative limit flows into hist.limit(-N) and blows
                # up at plan time as a 500 — caller error, reject as
                # 400 like the audience route's maxDims bound check
                raise HttpError(400, "maxCategories must be >= 1")
            out = self._route_rollup(
                pid,
                lambda spec: drift_supports(base, actual, prop, spec,
                                            "categorical"),
                lambda roll, spec: categorical_psi_from_rollup(
                    roll, spec, prop, base, actual,
                    max_categories=max_cat),
                lambda: categorical_drift(raw_pop(), prop, split,
                                          max_categories=max_cat))
            return 200, (out, {"category"})

        # numeric PSI
        try:
            edges = tuple(float(x) for x in (body.get("edges") or ()))
        except (TypeError, ValueError):
            raise HttpError(
                400, "edges must be numbers, got "
                f"{body.get('edges')!r}")
        if edges and list(edges) != sorted(set(edges)):
            # same check as the rollup DDL's histogramProps validator:
            # unsorted/duplicate edges make the fixed-bin conditions
            # overlap and the PSI silently wrong under HTTP 200
            raise HttpError(400, "edges must be strictly increasing")
        bins = body.get("bins")
        qbins = body.get("quantileBins")
        if sum(map(bool, (edges, bins, qbins))) > 1:
            raise HttpError(
                400, "give edges OR bins OR quantileBins, not several")
        for label, raw in (("bins", bins), ("quantileBins", qbins)):
            if raw is not None:
                try:
                    if int(raw) < 2:
                        raise HttpError(400, f"{label} must be >= 2")
                except (TypeError, ValueError):
                    raise HttpError(
                        400, f"{label} must be an integer, got {raw!r}")
        if qbins:
            # equi-depth flavour: baseline-quantile edges (each bin
            # ~1/n of the baseline mass) — never rollup-routed, the
            # edges depend on the baseline rows themselves
            from .operators.drift import distribution_drift_quantile

            out = self._route_rollup(
                pid, None, None, lambda: distribution_drift_quantile(
                    raw_pop(), prop, split, n_bins=int(qbins)))
            return 200, (out, {"bucket"})

        def raw_numeric():
            if edges:
                return distribution_drift_fixed(raw_pop(), prop, split,
                                                edges)
            return distribution_drift(raw_pop(), prop, split,
                                      bins=int(bins or 10))

        # DDL-edge flavour: fold from a rollup whose declared histogram
        # matches (request edges, if given, must agree — a PSI over
        # different edges is a different question); ``bins`` is never
        # routed
        out = self._route_rollup(
            pid,
            None if bins else lambda spec: (
                drift_supports(base, actual, prop, spec, "numeric")
                and (not edges or tuple(spec.hist_edges(prop)) == edges)),
            lambda roll, spec: psi_from_rollup(roll, spec, prop, base,
                                               actual),
            raw_numeric)
        return 200, (out, {"bucket"})

    def _anomaly(self, body, m, q):
        """Metric anomaly sweep (beyond the reference) — the alerting
        surface every dashboard grows: daily event-count series with
        spike flags. Body:

        ``{time, dim?, event?, filters?, method?, window?, threshold?,
        minPeriods?}``

        - ``method: "trailing"`` (default): trailing-window z-scores
          (`alerts.anomaly_flags` — ``window`` days, ``threshold`` =
          |z| cut, ``minPeriods``); the streaming-tick shape.
        - ``method: "robust"``: whole-series Hampel median/MAD
          (`alerts.robust_anomaly_flags`, ``threshold`` = |robust z|
          cut, default 3.5) — the batch-audit shape whose baseline the
          outliers cannot poison.

        The series folds from a catalog-declared day rollup whenever
        the request is rollup-expressible (`count_series_supports`;
        counts are additive, so the routed series is EXACT — bit-equal
        to raw, unlike the sketch-backed stickiness route) and falls
        back to one partial-aggregated raw scan; decisions land in
        optiprism_query_rollup_routed_total. ``dim`` gives every dim
        value its own independent baseline (`by=`)."""
        pid = self._pid(m)
        from .operators.alerts import (
            anomaly_flags,
            daily_count_series,
            robust_anomaly_flags,
        )
        from .rollup import count_series_from_rollup, count_series_supports

        props = self._props(pid)
        ces = self._custom_events(pid)
        if "time" not in body:
            raise HttpError(400, "anomaly requires time")
        time = api.parse_time(body["time"], self.now)
        method = body.get("method", "trailing")
        if method not in ("trailing", "robust"):
            raise HttpError(400, "method must be trailing or robust")
        dim = body.get("dim")
        event = (
            api.parse_event_ref(body["event"], custom_events=ces,
                                props=props)
            if body.get("event") else None)
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)

        def num(key, default):
            import math as _math

            raw = body.get(key, default)
            try:
                v = float(raw)
            except (TypeError, ValueError):
                raise HttpError(400, f"{key} must be a number, got {raw!r}")
            if not _math.isfinite(v):
                # NaN/inf pass a `<= 0` guard and silently disable
                # flagging under HTTP 200 (r13 review finding) —
                # reject like any other caller error
                raise HttpError(400, f"{key} must be finite, got {raw!r}")
            return v

        threshold = num("threshold", 3.0 if method == "trailing" else 3.5)
        if threshold <= 0:
            raise HttpError(400, "threshold must be > 0")

        if dim is not None and not isinstance(dim, str):
            raise HttpError(400, f"dim must be a string, got {dim!r}")

        def raw_series():
            events = self._events()
            if dim is not None and dim not in events.columns:
                raise HttpError(400, f"unknown column {dim!r}")
            return daily_count_series(events, time, dim=dim,
                                      event=event, filters=filters)

        series = self._route_rollup(
            pid,
            lambda spec: count_series_supports(time, dim, event, filters,
                                               spec),
            lambda roll, spec: count_series_from_rollup(
                roll, time, spec, dim=dim, event=event, filters=filters),
            raw_series)

        by = (dim,) if dim else ()
        if method == "robust":
            out = robust_anomaly_flags(series, "n", threshold=threshold,
                                       by=by)
        else:
            window = int(num("window", 7))
            min_periods = int(num("minPeriods", 3))
            if window < 1 or min_periods < 1:
                raise HttpError(400, "window and minPeriods must be >= 1")
            out = anomaly_flags(series, "n", window=window,
                                z_threshold=threshold,
                                min_periods=min_periods, by=by)
        dims = {"bucket"} | ({dim} if dim else set())
        return 200, (out, dims)

    def _quality(self, body, m, q):
        """Declarative data-quality constraint battery (beyond the
        reference) — the delivery gate a pipeline runs before trusting
        a snapshot, over the project's event stream. Body:

        ``{constraints: [spec, ...], time?}`` where each spec is one
        of (camelCase keys, optional thresholds default to 1.0 /
        exact):

        - ``{type: "completeness", column, minRatio?}``
        - ``{type: "uniqueness", columns, minRatio?, approx?}``
        - ``{type: "inRange", column, lo, hi, minRatio?}``
        - ``{type: "nonNegative", column, minRatio?}``
        - ``{type: "acceptedValues", column, values, minRatio?}``
        - ``{type: "matchesPattern", column, regex, minRatio?}``
        - ``{type: "meanBetween", column, lo, hi}``
        - ``{type: "rowCount", min, max?}``

        Every constraint compiles into ONE partial-aggregated scan
        (operators/quality_checks.validate) — adding a constraint
        never adds a scan. Caller errors (unknown column, bad
        threshold, unknown type) fail loudly as 400."""
        from .exprs import full_filter
        from .operators import quality_checks as Q

        pid = self._pid(m)
        specs = body.get("constraints")
        if specs is None:
            # no inline battery: run the project's DECLARED batteries
            # (schema/quality-checks DDL), concatenated in declaration
            # order — still ONE scan, the batteries merge into one agg
            specs = [c for row in self.catalog.list("quality_check", pid)
                     for c in row["constraints"]]
            if not specs:
                raise HttpError(
                    400, "no constraints given and none declared "
                         "(POST schema/quality-checks first)")
        if not isinstance(specs, list) or not specs:
            raise HttpError(400, "constraints must be a non-empty list")
        events = self._events()
        if body.get("time"):
            time = api.parse_time(body["time"], self.now)
            events = events.filter(full_filter(time))
        built = self._parse_quality_specs(specs, events)
        return 200, (Q.validate(events, built), {"constraint", "target"})

    def _parse_quality_specs(self, specs: list, events) -> list:
        """JSON constraint specs → quality_checks constraint dicts,
        validating against the events schema; shared by the query
        route and the schema/quality-checks DDL (declare-time
        validation, so a bad battery can never be stored)."""
        from .operators import quality_checks as Q

        def col_of(spec, key="column"):
            c = spec.get(key)
            if not isinstance(c, str) or c not in events.columns:
                raise HttpError(400, f"unknown column {c!r}")
            return c

        def num(spec, key, default=None, required=False):
            import math as _math

            v = spec.get(key, default)
            if v is None:
                if required:
                    raise HttpError(400, f"{spec.get('type')} requires {key}")
                return None
            try:
                f = float(v)
            except (TypeError, ValueError):
                raise HttpError(400, f"{key} must be a number, got {v!r}")
            if not _math.isfinite(f):
                # int(nan/inf) downstream raises as a 500; and a NaN
                # threshold silently passes every bound comparison
                raise HttpError(400, f"{key} must be finite, got {v!r}")
            return f

        built = []
        for spec in specs:
            if not isinstance(spec, dict):
                # a bare string/number spec would AttributeError into
                # a 500 — caller error, reject loudly
                raise HttpError(
                    400, f"each constraint must be an object, got {spec!r}")
            kind = spec.get("type")
            ratio = num(spec, "minRatio", 1.0)
            if kind == "completeness":
                built.append(Q.completeness(col_of(spec), ratio))
            elif kind == "uniqueness":
                cols = spec.get("columns")
                if isinstance(cols, str):
                    cols = [cols]
                if (not isinstance(cols, list) or not cols
                        or not all(isinstance(c, str) for c in cols)):
                    raise HttpError(
                        400, "uniqueness requires a column name or a "
                             "list of column names")
                for c in cols:
                    if c not in events.columns:
                        raise HttpError(400, f"unknown column {c!r}")
                built.append(Q.uniqueness(
                    cols, ratio, approx=bool(spec.get("approx"))))
            elif kind == "inRange":
                built.append(Q.in_range(
                    col_of(spec), num(spec, "lo", required=True),
                    num(spec, "hi", required=True), ratio))
            elif kind == "nonNegative":
                built.append(Q.non_negative(col_of(spec), ratio))
            elif kind == "acceptedValues":
                vals = spec.get("values")
                if not isinstance(vals, list) or not vals:
                    raise HttpError(
                        400, "acceptedValues requires a non-empty values list")
                built.append(Q.accepted_values(
                    col_of(spec), [str(v) for v in vals], ratio))
            elif kind == "matchesPattern":
                rx = spec.get("regex")
                if not isinstance(rx, str) or not rx:
                    raise HttpError(400, "matchesPattern requires regex")
                try:
                    re.compile(rx)
                except re.error as e:
                    raise HttpError(400, f"bad regex: {e}")
                built.append(Q.matches_pattern(col_of(spec), rx, ratio))
            elif kind == "meanBetween":
                built.append(Q.mean_between(
                    col_of(spec), num(spec, "lo", required=True),
                    num(spec, "hi", required=True)))
            elif kind == "rowCount":
                lo = num(spec, "min", required=True)
                hi = num(spec, "max")
                built.append(Q.row_count_between(
                    int(lo), None if hi is None else int(hi)))
            elif kind == "freshness":
                as_of = spec.get("asOf")
                if not isinstance(as_of, str) or not as_of:
                    # an implicit now() would make the same battery
                    # return different verdicts per call — require the
                    # caller's clock explicitly
                    raise HttpError(400, "freshness requires asOf "
                                         "(timestamp string)")
                built.append(Q.freshness(
                    col_of(spec), num(spec, "maxAgeHours", required=True),
                    as_of))
            else:
                raise HttpError(400, f"unknown constraint type {kind!r}")
        return built

    def _create_quality_check(self, body: dict, pid: int) -> dict:
        """Declare a named quality battery (beyond the reference):
        `POST /queries/quality` with no inline constraints then runs
        every declared battery as the project's standing delivery
        gate. Specs are validated against the CURRENT events schema at
        declare time — a bad battery can never be stored."""
        _check_name(body.get("name"), "quality check")
        specs = body.get("constraints")
        if not isinstance(specs, list) or not specs:
            raise HttpError(400, "constraints must be a non-empty list")
        self._parse_quality_specs(specs, self._events())
        return self.catalog.create("quality_check", body, project_id=pid)

    def _put_quality_check(self, body: dict, qid: int, pid: int) -> dict:
        """Updates get the same declare-time validation as create —
        catalog.update merges partial bodies, so validate the MERGED
        row (a PUT changing only the name must not skip constraint
        checks, and a PUT with bad constraints must never be stored:
        a stored-bad battery would 400/500 every standing-gate run)."""
        merged = dict(self.catalog.get("quality_check", qid, project_id=pid))
        merged.update(body)
        _check_name(merged.get("name"), "quality check")
        specs = merged.get("constraints")
        if not isinstance(specs, list) or not specs:
            raise HttpError(400, "constraints must be a non-empty list")
        self._parse_quality_specs(specs, self._events())
        return self.catalog.update("quality_check", qid, body, project_id=pid)

    def _paths(self, body, m, q):
        """Path / journey exploration (beyond the reference — no path
        operator exists there). Body: ``{time, anchorEvent, steps?,
        direction?, withinSeconds?, topK?, dropoff?, filters?,
        excludeEvents?, maxRowsPerUser?}`` with the same event/filter
        dicts as the other query routes; ``dropoff: true`` returns the
        per-step event distribution instead of top-k full paths.
        ``maxRowsPerUser`` enables the whale guard (lossy for over-cap
        users; surfaces in /metrics as guard=path_cap)."""
        import datetime as _dt

        pid = self._pid(m)
        from .operators.paths import event_paths, path_dropoff

        props = self._props(pid)
        ces = self._custom_events(pid)
        within_s = body.get("withinSeconds")
        cap = body.get("maxRowsPerUser")
        kw = dict(
            anchor=api.parse_event_ref(body["anchorEvent"],
                                       custom_events=ces, props=props),
            time=api.parse_time(body["time"], self.now),
            steps=int(body.get("steps", 4)),
            direction=body.get("direction", "forward"),
            within=(_dt.timedelta(seconds=int(within_s))
                    if within_s is not None else None),
            filters=api._grouped_filters(body, api.EVENT_COLUMNS, props=props),
            exclude_events=tuple(body.get("excludeEvents") or ()),
            max_rows_per_user=(int(cap) if cap is not None else None),
        )
        events = self._events()
        rate = _sampling_rate(body)
        if rate < 1.0:
            # user-coherent sample: journeys stay whole; the top-k
            # ORDER is invariant under uniform scaling, so scaled
            # counts are population estimates over the same path set
            from pyspark.sql import functions as _F

            from .operators.estimate import user_sample

            events = user_sample(events, rate)
        if body.get("dropoff"):
            out = path_dropoff(events, **kw)
            dims = {"step", "next_event"}
        else:
            out = event_paths(events, top_k=int(body.get("topK", 50)), **kw)
            dims = {"path"}
        if rate < 1.0:
            inv = 1.0 / rate
            for c in ("n_starts", "n_users"):
                out = out.withColumn(c, (_F.col(c) * _F.lit(inv)).cast("double"))
        return 200, (out, dims)

    def _experiment(self, body, m, q):
        """A/B experiment readout (beyond the reference). Body:
        ``{time, exposureEvent, conversionEvent, variantProperty,
        control, filters?}`` — variantProperty is a standard property
        dict (column or JSON prop) read off the exposure row.
        ``{type: "srm", time, exposureEvent, variantProperty,
        expected?}`` runs the sample-ratio-mismatch health gate
        instead (chi-square vs the allocation at α=0.001; expected
        maps variant → share, default equal split).
        ``{type: "ci", ...}`` (same body as the readout, minus
        ``control``) returns per-arm conversion rates with the 95%
        Wilson score interval — the error bars the readout's lift
        numbers are drawn with."""
        pid = self._pid(m)
        from .exprs import prop_col
        from .operators.experiment import experiment_report

        props = self._props(pid)
        ces = self._custom_events(pid)
        if body.get("type") == "srm":
            from .operators.experiment import srm_check

            exp = body.get("expected")
            if exp is not None and not (
                isinstance(exp, dict)
                and all(isinstance(v, (int, float)) for v in exp.values())
            ):
                raise HttpError(400, "expected must map variant to share")
            try:
                out = srm_check(
                    self._events(),
                    variant_col=prop_col(api.parse_property(
                        body["variantProperty"], props=props)),
                    exposure_event=api.parse_event_ref(
                        body["exposureEvent"], custom_events=ces,
                        props=props),
                    time=api.parse_time(body["time"], self.now),
                    expected=({str(k): float(v) for k, v in exp.items()}
                              if exp is not None else None),
                    filters=api._grouped_filters(
                        body, api.EVENT_COLUMNS, props=props),
                )
            except ValueError as e:
                raise HttpError(400, str(e))
            return 200, (out, {"variant"})
        if body.get("type") == "ci":
            from .operators.experiment import conversion_wilson_ci

            out = conversion_wilson_ci(
                self._events(),
                variant_col=prop_col(api.parse_property(
                    body["variantProperty"], props=props)),
                exposure_event=api.parse_event_ref(
                    body["exposureEvent"], custom_events=ces, props=props),
                conversion_event=api.parse_event_ref(
                    body["conversionEvent"], custom_events=ces, props=props),
                time=api.parse_time(body["time"], self.now),
                filters=api._grouped_filters(
                    body, api.EVENT_COLUMNS, props=props),
            )
            return 200, (out, {"variant"})
        out = experiment_report(
            self._events(),
            variant_col=prop_col(
                api.parse_property(body["variantProperty"], props=props)),
            exposure_event=api.parse_event_ref(body["exposureEvent"],
                                               custom_events=ces, props=props),
            conversion_event=api.parse_event_ref(body["conversionEvent"],
                                                 custom_events=ces, props=props),
            time=api.parse_time(body["time"], self.now),
            control=str(body["control"]),
            filters=api._grouped_filters(body, api.EVENT_COLUMNS, props=props),
        )
        return 200, (out, {"variant"})

    def _attribution(self, body, m, q):
        """Revenue/conversion attribution (beyond the reference).
        Body: ``{time, touchEvent, conversionEvent, channelProperty,
        model?, lookbackDays?, halfLifeDays?, filters?,
        maxTouchesPerUser?}``; model in first_touch | last_touch |
        linear | time_decay | position (halfLifeDays parameterizes
        time_decay, default 1). ``maxTouchesPerUser``
        enables the whale guard (documented lossy approximation for
        over-cap users; keys_capped/max_key_rows land in /metrics as
        optiprism_whale_guard_* labeled guard=attr_touch_cap)."""
        import datetime as _dt

        pid = self._pid(m)
        from .exprs import prop_col
        from .operators.attribution import attribution_report

        props = self._props(pid)
        ces = self._custom_events(pid)
        cap = body.get("maxTouchesPerUser")
        out = attribution_report(
            self._events(),
            channel_col=prop_col(
                api.parse_property(body["channelProperty"], props=props)),
            touch_event=api.parse_event_ref(body["touchEvent"],
                                            custom_events=ces, props=props),
            conversion_event=api.parse_event_ref(body["conversionEvent"],
                                                 custom_events=ces, props=props),
            time=api.parse_time(body["time"], self.now),
            model=body.get("model", "last_touch"),
            lookback=_dt.timedelta(days=float(body.get("lookbackDays", 30))),
            filters=api._grouped_filters(body, api.EVENT_COLUMNS, props=props),
            max_touches_per_user=(int(cap) if cap is not None else None),
            half_life=_dt.timedelta(days=float(body.get("halfLifeDays", 1))),
        )
        return 200, (out, {"channel"})

    def _percentiles(self, body, m, q):
        """Percentile estimates from a catalog-declared rollup. Body:
        ``{rollup, property, qs?, dims?, method?}``; method
        "histogram" (default — rollup.percentile_estimate, bin-width
        error, needs the property in histogramProps) or "sketch"
        (qsketch.sketch_percentile_estimate, rank-bounded error with
        no DDL bin edges, needs it in sketchProps)."""
        pid = self._pid(m)
        from .operators.qsketch import sketch_percentile_estimate
        from .rollup import percentile_estimate

        name = body.get("rollup")
        rows = [r for r in self.catalog.list("rollup", pid)
                if r.get("name") == name]
        if not rows:
            raise HttpError(404, f"no rollup named {name!r}")
        store = self._store_for_rollup_row(pid, rows[0])
        prop = body.get("property")
        method = body.get("method", "histogram")
        dims = tuple(body.get("dims") or ())
        bad = [d for d in dims if d not in store.spec.all_dim_names]
        if bad:
            raise HttpError(400, f"not rollup dims: {bad}")
        qs = tuple(float(x) for x in (body.get("qs") or (0.5, 0.9)))
        if not all(0.0 < x < 1.0 for x in qs):
            raise HttpError(400, "qs must be in (0, 1)")
        if method == "sketch":
            if prop not in store.spec.sketch_props:
                raise HttpError(
                    400, f"rollup {name!r} declares no sketch for {prop!r}")
            out = sketch_percentile_estimate(
                store.read(self.spark), store.spec, prop, qs, dims=dims)
        elif method == "histogram":
            if prop not in dict(store.spec.histogram_props):
                raise HttpError(
                    400, f"rollup {name!r} declares no histogram for {prop!r}")
            out = percentile_estimate(
                store.read(self.spark), store.spec, prop, qs, dims=dims)
        else:
            raise HttpError(400, f"unknown method {method!r}")
        return 200, (out, set(dims))

    def _event_records_search(self, body, m, q):
        pid = self._pid(m)
        props = self._props(pid)
        specs = tuple(
            api.EventFilterSpec(
                api.parse_event_ref(e, custom_events=self._custom_events(pid),
                                    props=props),
                tuple(api.parse_filter(f, props=props) for f in e.get("filters") or ()),
            )
            for e in body.get("events") or ()
        )
        time = api.parse_time(body["time"], self.now) if body.get("time") else None
        filters = api._grouped_filters(body, api.EVENT_COLUMNS, props=props)
        return 200, event_records_search(
            self._events(), time=time, event_specs=specs, filters=filters
        )

    def _event_record_by_id(self, body, m, q):
        return 200, event_record_by_id(self._events(), int(m["id"]))

    def _group_records_search(self, body, m, q):
        sort = body.get("sort") or {}
        group = body.get("group", 0)
        if group not in api.GROUP_COLS:
            raise HttpError(404, f"unknown group {group!r}")
        entity_col = api.GROUP_COLS[group]
        prop = sort.get("propertyName", entity_col)
        ascending = sort.get("direction", "asc") != "desc"
        pid = self._pid(m)
        return 200, group_records_search(
            self._events(), sort_prop=prop, ascending=ascending,
            user_col=entity_col,
            time=api.parse_time(body["time"], self.now)
            if body.get("time") else None,
            filters=tuple(
                api.parse_filter(f, props=self._props(pid))
                for f in body.get("filters") or ()),
        )

    def _group_record_by_id(self, body, m, q):
        group = m["group"]
        key = int(group) if group.isdigit() else group
        if key not in api.GROUP_COLS:
            raise HttpError(404, f"unknown group {group!r}")
        return 200, group_record_by_id(
            self._events(), int(m["id"]), user_col=api.GROUP_COLS[key]
        )

    def _property_values(self, body, m, q):
        prop = api.parse_property(body, props=self._props(self._pid(m)))
        return 200, property_values(
            self._events(), prop, filter_like=body.get("like")
        )

    def _project_of_token(self, token: str) -> int:
        """Resolve an ingest token to its project id — the reference's
        ``projects.get_by_token`` (metadata/src/projects.rs:101), where
        every project carries a generated sdk token. Unknown or empty
        tokens fall back to project 0 (dev mode: no registered
        projects, single implicit project). Looked up live from the
        catalog (one local sqlite query over a small table) so token
        rotation via PUT applies immediately — a cache here would
        mis-key sessions after an update/delete."""
        if not token:
            return 0
        for p in self.catalog.list("project"):
            if p.get("token") == token:
                return int(p["id"])
        return 0

    def _token_of_project(self, pid: int) -> str:
        """Inverse of ``_project_of_token`` for synthesized rows (the
        sweeper's Session End), so crash replay re-derives the same
        project keying."""
        if pid == 0:
            return ""
        try:
            return self.catalog.get("project", pid).get("token") or ""
        except Exception:
            return ""

    def _track(self, body, m, q):
        with metrics.ingester_track_time().time():
            row = parse_track(body, m["token"])
            # token->project is a catalog lookup independent of buffer
            # state: resolve it BEFORE taking the lock so concurrent
            # ingest threads don't serialize behind sqlite
            pid = (self._project_of_token(row.get("token") or "")
                   if self.sessions is not None else 0)
            with self._ingest_lock:
                for out in self._with_session_begin(row, pid):
                    if self.wal is not None:
                        self.wal.append("track", out)  # fsync'd before the 201 ack
                    self.tracked.append(out)
        metrics.ingester_tracked_total().inc()
        metrics.store_memtable_rows().set(
            len(self.tracked) + len(self.identified))
        return 201, None

    def _with_session_begin(self, row: dict, pid: int = 0) -> list[dict]:
        """Ingest-time Session Begin injection (reference track
        destination, ingester/src/destinations/local/track.rs:46-52):
        when the live-session store says this event starts a new
        session, a synthesized `Session Begin` row precedes it. The
        injected row is WAL'd like any other, so crash replay
        reproduces it verbatim instead of re-deriving it (replay
        rebuilds the STORE by touching replayed non-Begin rows)."""
        if self.sessions is None:
            return [row]
        from .streaming.sessionize import EVENT_SESSION_BEGIN

        ts_us = _ts_to_us(row.get("ts"))
        user = str(row.get("user_id") or row.get("anonymous_id") or "")
        if row["event_type"] != EVENT_SESSION_BEGIN:
            is_new, displaced = self.sessions.touch(pid, user, ts_us)
            if is_new:
                out = []
                if displaced is not None:
                    # this event DISPLACED an idle session the sweeper
                    # had not yet expired: emit its End first, or that
                    # session's End row is lost forever (sweep-timing
                    # dependence the store otherwise avoids)
                    out.append(self._session_end_row(pid, user, *displaced))
                out.append(dict(row, event_type=EVENT_SESSION_BEGIN,
                                props="{}"))
                out.append(row)
                return out
        return [row]

    def sweep_sessions(self, now_us: Optional[int] = None) -> int:
        """Expire idle sessions and emit one `Session End` row each,
        carrying the session's span as ``session_length`` seconds —
        the reference's session-cleaner loop (init_session_cleaner,
        cmd/src/lib.rs:357-430) as an explicit method: call it from a
        scheduler at the reference's session_cleaner_interval. Emitted
        rows are WAL'd like tracked events. Returns the number of
        sessions ended."""
        if self.sessions is None:
            return 0
        from .streaming.sessionize import EVENT_SESSION_END

        if now_us is None:
            import time as _time

            now_us = int(_time.time() * 1_000_000)
        # expire + journal under ONE lock hold: released between them,
        # a concurrent /track for an expired user could journal its
        # NEW Session Begin before the old session's End, and crash
        # replay (which replays in journal order) would then close the
        # live session and inject a duplicate Begin on the next event
        with self._ingest_lock:
            ended = self.sessions.expire(now_us)
            for pid, user, first_us, last_us in ended:  # noqa: B007
                row = self._session_end_row(pid, user, first_us, last_us)
                if self.wal is not None:
                    self.wal.append("track", row)
                self.tracked.append(row)
        return len(ended)

    def _session_end_row(self, pid: int, user: str,
                         first_us: int, last_us: int) -> dict:
        """One synthesized `Session End` event row carrying the
        session's true span (shared by the sweeper and the
        displaced-session path in _with_session_begin)."""
        from .streaming.sessionize import EVENT_SESSION_END

        return {
            "token": self._token_of_project(pid),
            "user_id": user, "anonymous_id": None,
            "ts": dt.datetime.fromtimestamp(
                last_us / 1e6, dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "event_type": EVENT_SESSION_END,
            "props": json.dumps(
                {"session_length": (last_us - first_us) // 1_000_000}),
            "groups": "{}", "user_agent": None, "ip": None,
            "page_path": None, "page_url": None, "utm_source": None,
        }

    def _identify(self, body, m, q):
        with metrics.ingester_identify_time().time():
            row = parse_identify(body, m["token"])
            with self._ingest_lock:
                if self.wal is not None:
                    self.wal.append("identify", row)
                self.identified.append(row)
        metrics.ingester_identified_total().inc()
        metrics.store_memtable_rows().set(
            len(self.tracked) + len(self.identified))
        return 201, None

    # ------------------------------------------------- ingest draining

    def tracked_df(self, enrich: bool = True) -> DataFrame:
        """Buffered /track rows as a DataFrame, through the same
        enrichment transformers as bulk ingest (UA regex catalog over
        distinct UAs, GeoIP broadcast range join) — the Spark half of
        the reference ingester pipeline (sources → transformers →
        destination)."""
        from .ingest import geoip_enrich, ua_enrich

        df = self.spark.createDataFrame(self.tracked or [], _TRACK_SCHEMA)
        if enrich:
            df = ua_enrich(df)
            df = geoip_enrich(df)
        return df

    def identified_df(self) -> DataFrame:
        return self.spark.createDataFrame(self.identified or [], _IDENTIFY_SCHEMA)

    def begin_checkpoint(self) -> tuple[list[dict], list[dict]]:
        """Phase 1 of the flush→truncate step (reference
        storage/src/db.rs:779-790): snapshot the buffered rows for the
        caller to durably write into the events table. Nothing is
        dropped yet — buffers and WAL keep everything, so a crash
        before ``commit_checkpoint`` replays the full set (at-least-
        once, exactly the reference's recovery contract). Rows tracked
        AFTER this call are not in the snapshot and survive the
        commit."""
        with self._ingest_lock:
            self._ckpt_mark = (len(self.tracked), len(self.identified))
            return (self.tracked[: self._ckpt_mark[0]],
                    self.identified[: self._ckpt_mark[1]])

    def commit_checkpoint(self) -> None:
        """Phase 2: the caller reports the snapshot is durable. Drops
        the snapshotted prefix from the buffers and rewrites the WAL
        with only the rows tracked since ``begin_checkpoint`` — those
        stay durable; nothing acked is ever lost to the truncate."""
        with metrics.store_flush_time().time(), self._ingest_lock:
            # mark is read AND cleared under the lock: read outside it,
            # two concurrent commits could both pass the None check and
            # each truncate the buffers/journal once — dropping rows
            # acked after begin_checkpoint. Also under the lock: a row
            # acked between the slice and the rewrite would otherwise
            # be dropped from BOTH memory and the rewritten journal
            # despite its durable 201.
            mark = getattr(self, "_ckpt_mark", None)
            if mark is None:
                raise RuntimeError(
                    "commit_checkpoint without begin_checkpoint")
            self._ckpt_mark = None
            self.tracked = self.tracked[mark[0]:]
            self.identified = self.identified[mark[1]:]
            # the durable flush typically rewrote the events table —
            # drop the cached analyzed plan so queries see the new files
            self.refresh_tables()
            if self.wal is not None:
                self.wal.rewrite(
                    [("track", r) for r in self.tracked]
                    + [("identify", r) for r in self.identified]
                )
        metrics.store_flushes_total().inc()
        metrics.store_memtable_rows().set(
            len(self.tracked) + len(self.identified))

    def checkpoint_ingest(self) -> tuple[list[dict], list[dict]]:
        """One-shot drain: buffers and WAL are cleared in the SAME
        call that returns the rows, so the ONLY safe order is to flush
        the buffers durably (e.g. write ``tracked_df()`` out) BEFORE
        calling this — a crash between this call and the caller's
        write loses acked rows, and rows tracked during the caller's
        flush are dropped. For the crash-safe order use
        ``begin_checkpoint()`` → durable write → ``commit_checkpoint()``."""
        drained = self.begin_checkpoint()
        self.commit_checkpoint()
        return drained

    # ----------------------------------------------------------- WSGI

    def __call__(self, environ, start_response):
        import time as _time

        method = environ.get("REQUEST_METHOD", "GET")
        if method == "GET" and environ.get("PATH_INFO") == "/metrics":
            # text exposition, outside auth — the reference serves its
            # recorder from the server binary the same way (src/cmd);
            # scrapers are perimeter-controlled, not bearer clients
            metrics.sync_codegen(self.spark)
            body = metrics.REGISTRY.render().encode()
            start_response(_STATUS[200], [
                ("Content-Type", "text/plain; version=0.0.4; charset=utf-8"),
                ("Content-Length", str(len(body)))])
            return [body]
        t0 = _time.monotonic()
        extra_headers: list = []
        try:
            status, payload = self._dispatch(environ)
        except HttpError as e:
            status, payload = e.status, {"error": e.message}
            extra_headers = e.headers
        except auth_mod.AuthError as e:
            status, payload = 401, {"error": str(e)}
        except Forbidden as e:
            status, payload = 403, {"error": str(e) or "forbidden"}
        except NotFound as e:
            status, payload = 404, {"error": str(e)}
        except Conflict as e:
            status, payload = 409, {"error": str(e)}
        except CatalogError as e:
            status, payload = 400, {"error": str(e)}
        except (KeyError, ValueError, TypeError) as e:
            # parser-level contract violations → client error, like the
            # reference's serde rejection path
            status, payload = 400, {"error": f"{type(e).__name__}: {e}"}
        except Exception as e:
            # operator-raised runtime guards (F.raise_error — e.g.
            # srm_check's out-of-table df) are CALLER errors that only
            # surface at collect time; everything else re-raises
            from pyspark.errors import PySparkException

            cls = (e.getCondition() or "" if isinstance(
                e, PySparkException) else "")
            if not cls.startswith("USER_RAISED_EXCEPTION"):
                raise
            status, payload = 400, {"error": str(e)}
        metrics.http_requests_total().inc(method=method, status=str(status))
        metrics.http_request_time().observe(
            _time.monotonic() - t0, method=method)
        body = b"" if payload is None else json.dumps(payload).encode()
        headers = [("Content-Type", "application/json"),
                   ("Content-Length", str(len(body)))] + extra_headers
        start_response(_STATUS.get(status, _STATUS[500]), headers)
        return [body]

    def _dispatch(self, environ):
        method = environ["REQUEST_METHOD"]
        path = environ.get("PATH_INFO", "")
        query = environ.get("QUERY_STRING", "")
        matched_path = False
        for route_method, pat, handler, perm in self._routes:
            m = pat.match(path)
            if not m:
                continue
            matched_path = True
            if method != route_method:
                continue
            claims = self._authorize(environ, path)
            ctx = None
            if claims is not None:
                # RBAC (reference per-handler ctx.check_*_permission):
                # the principal's roles come from the live account row,
                # so a grant/revoke applies to existing tokens too
                try:
                    acct = self.catalog.get("account", int(claims["accountId"]))
                except NotFound:
                    raise HttpError(401, "unknown account")
                ctx = rbac.Context.from_account(acct)
                if perm is not None:
                    try:
                        perm(ctx, m.groupdict())
                    except Forbidden:
                        raise HttpError(403, "forbidden")
            body = {}
            if method in ("POST", "PUT"):
                try:
                    n = int(environ.get("CONTENT_LENGTH") or 0)
                except ValueError:
                    n = 0
                raw = environ["wsgi.input"].read(n) if n else b""
                if raw:
                    try:
                        body = json.loads(raw)
                    except json.JSONDecodeError as e:
                        raise HttpError(400, f"invalid JSON body: {e}")
            md = m.groupdict()
            if claims is not None:
                md["__claims"] = claims
            if ctx is not None:
                md["__ctx"] = ctx
            qtype = getattr(handler, "_query_type", None)
            cache = self._result_cache if qtype else None
            ckey = None
            # snapshot the version BEFORE the handler runs: if a
            # concurrent write (maintain, ingest — the server
            # is threaded, no request lock) bumps it mid-execution,
            # the result computed against pre-bump data must be cached
            # under the pre-bump version so the next get() at the new
            # version invalidates it instead of replaying stale data
            cache_ver = self._data_version
            if cache is not None:
                ckey = (method, path, query,
                        json.dumps(body, sort_keys=True, default=str))
                hit = cache.get(ckey, cache_ver)
                if hit is not None:
                    metrics.query_result_cache_total().inc(
                        query_type=qtype, outcome="hit")
                    return hit
            import contextlib

            # everything that could raise must sit either BEFORE the
            # admission increment or INSIDE the try whose finally
            # decrements it — otherwise an exception in between leaks
            # the in-flight slot permanently and the pool 429s forever
            timer = (metrics.query_execution_time().time(query_type=qtype)
                     if qtype else contextlib.nullcontext())
            sc = self.spark.sparkContext
            admitted_pool = None
            cap = self._admission_cap(qtype)
            if cap is not None:
                # shed, don't queue: beyond the per-pool in-flight cap
                # a new query would only deepen every admitted query's
                # latency — reject it now with a retry hint (the
                # reference backpressures at its tokio runtime; a
                # Spark driver needs the same bound ahead of the FAIR
                # pools, which shape but never shed)
                with self._admission_lock:
                    inflight = self._admitted.get(qtype, 0)
                    if inflight >= cap:
                        metrics.query_rejected_total().inc(pool=f"q_{qtype}")
                        raise HttpError(
                            429, "query admission limit reached; retry",
                            headers=[("Retry-After", "1")])
                    self._admitted[qtype] = inflight + 1
                    admitted_pool = qtype
            try:
                if qtype:
                    # FAIR pool per query type (scheduler.mode=FAIR, see
                    # session.py): local properties are thread-scoped, so
                    # each WSGI worker thread tags its own jobs — a long
                    # funnel's stages share task slots with concurrent
                    # light queries instead of blocking them FIFO
                    # (reference serves each request on its own tokio
                    # task, query/src/lib.rs:432-446).
                    sc.setLocalProperty("spark.scheduler.pool", f"q_{qtype}")
                with timer:
                    status, result = handler(body, md, query)
                    # every successful non-query write advances the
                    # data version: any mutation (ingest, checkpoint,
                    # CRUD, lifecycle) drops all cached query results
                    # — coarse, but a hit can then never serve
                    # pre-write data
                    if qtype is None and method in ("POST", "PUT", "DELETE"):
                        self._data_version += 1
                    if result is None:
                        return status, None
                    dims = None
                    if isinstance(result, tuple):
                        result, dims = result
                    if isinstance(result, DataFrame):
                        compact = "format=jsonCompact" in query
                        result = frame_to_response(
                            result, compact=compact, dimensions=dims
                        )
                    if cache is not None and status == 200:
                        metrics.query_result_cache_total().inc(
                            query_type=qtype, outcome="miss")
                        cache.put(ckey, cache_ver, (status, result))
                    return status, result
            finally:
                if admitted_pool is not None:
                    with self._admission_lock:
                        self._admitted[admitted_pool] -= 1
                if qtype:
                    sc.setLocalProperty("spark.scheduler.pool", None)
        if matched_path:
            raise HttpError(405, f"method {method} not allowed for {path}")
        raise HttpError(404, f"no route for {path}")


#: the app factory the deployment scripts and tests call
make_app = App


def serve(app: App, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking THREADED dev server (stdlib wsgiref + ThreadingMixIn):
    requests are handled concurrently, which is what lets the FAIR
    scheduler pools actually overlap queries. Production: any threaded
    WSGI server — the app object is framework-free."""
    srv = make_threaded_server(app, host, port)
    with srv:
        srv.serve_forever()


def make_threaded_server(app: App, host: str = "127.0.0.1", port: int = 0):
    """A thread-per-request WSGI server (port=0 picks a free port);
    callers own serve_forever/shutdown — used by serve() and the
    concurrency harness."""
    import socketserver
    from wsgiref.simple_server import WSGIRequestHandler, WSGIServer

    class ThreadingWSGIServer(socketserver.ThreadingMixIn, WSGIServer):
        daemon_threads = True
        # stdlib default listen backlog is 5: a burst of >5 simultaneous
        # connects overflows it, the kernel drops the SYN, and the
        # client retries after ~1s — which shows up as a constant ~1s
        # p95 spike on otherwise-200ms queries. A dashboard burst is
        # exactly that shape, so size the accept queue for it.
        request_queue_size = 128

    class QuietHandler(WSGIRequestHandler):
        def log_message(self, *a):  # no per-request stderr spam
            pass

    srv = ThreadingWSGIServer((host, port), QuietHandler)
    srv.set_app(app)
    return srv
