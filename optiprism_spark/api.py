"""JSON API layer — parse reference-shaped requests into the DSL.

The reference's query surface is a camelCase JSON DSL over HTTP
(platform/src/event_segmentation.rs:36-446, platform/src/funnel.rs:
293-640, DTO primitives platform/src/lib.rs:400-830). This module
accepts the SAME request bodies and compiles them to this engine's
dataclasses, so a reference user can POST their existing payloads
unchanged:

    req = parse_event_segmentation(json_body)
    df  = run_event_segmentation(events, req)

Coverage: QueryTime (between/from/last), every Query kind incl.
formula, property filters with the full operation set, breakdowns,
analysis (linear/rollingAverage/cumulative) + compare, and the whole
funnel request (steps with exact/any order, timeWindow incl. the
session unit, count modes, excludes with step ranges, holding
constants, drop-off/time-to-convert filters, touch). Property
references resolve by name: a physical events column if one matches,
else a key in the `props` JSON column — the engine's stand-in for the
reference's materialized property catalog.

An HTTP server is deliberately out of scope (any WSGI wrapper works);
the API surface is the parser.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional, Sequence

from .dsl import (
    AggFn,
    Segment,
    SegmentCondition,
    Analysis,
    Compare,
    EventFilterSpec,
    EventQuery,
    EventRef,
    EventSegmentationRequest,
    FunnelCountMode,
    FunnelExclude,
    FunnelFilter,
    FunnelRequest,
    FunnelStep,
    FunnelTouch,
    PropFilter,
    PropOp,
    PropertyRef,
    QueryTime,
    SegQuery,
    StepOrder,
    TimeIntervalUnit,
)

#: physical events-table columns; anything else resolves into `props`
EVENT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")

#: reference group index/name → events column (group 0 = "user",
#: GROUPS_COUNT = 5, common/src/lib.rs:16-22). The driver testdata
#: carries only the user entity physically; group 1 is the org entity
#: (synthesized org_id column — see suites.segmentation org queries).
#: Additional group kinds register here exactly as the reference
#: registers group tables.
GROUP_COLS = {
    0: "user_id", "user": "user_id",
    1: "org_id", "org": "org_id",
}


def _group_col(body: dict) -> str:
    g = body.get("group", 0)
    if g not in GROUP_COLS:
        raise ValueError(
            f"unknown group {g!r}; known: {sorted(GROUP_COLS, key=str)} "
            "(register more in api.GROUP_COLS)"
        )
    return GROUP_COLS[g]

_OPS = {
    "eq": PropOp.EQ, "neq": PropOp.NEQ, "gt": PropOp.GT, "gte": PropOp.GTE,
    "lt": PropOp.LT, "lte": PropOp.LTE, "like": PropOp.LIKE,
    "notLike": PropOp.NOT_LIKE, "regex": PropOp.REGEX,
    "notRegex": PropOp.NOT_REGEX, "true": PropOp.TRUE, "false": PropOp.FALSE,
    "empty": PropOp.EMPTY, "exists": PropOp.EXISTS,
}

_AGGS = {
    "count": AggFn.COUNT, "sum": AggFn.SUM, "min": AggFn.MIN,
    "max": AggFn.MAX, "avg": AggFn.AVG, "median": AggFn.MEDIAN,
    "percentile25": AggFn.P25, "percentile75": AggFn.P75,
    "percentile90": AggFn.P90, "percentile99": AggFn.P99,
    "distinctCount": AggFn.DISTINCT_COUNT,
}

_WINDOW_MS = {
    "second": 1_000, "minute": 60_000,
    "hour": 3_600_000, "day": 86_400_000, "week": 7 * 86_400_000,
    "month": 31 * 86_400_000, "year": 365 * 86_400_000,
}


def _ts(s: str) -> dt.datetime:
    out = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if out.tzinfo:
        # normalize offset-carrying bounds to the naive-UTC convention
        # the stored ts column uses — dropping the offset un-converted
        # would shift the query window by the client's timezone
        out = out.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return out


def parse_time(t: dict, now: Optional[dt.datetime] = None) -> QueryTime:
    kind = t["type"]
    if kind == "between":
        return QueryTime.between(_ts(t["from"]), _ts(t["to"]))
    if kind == "from":
        return QueryTime.from_(_ts(t["from"]))
    if kind == "last":
        return QueryTime.last(
            int(t["last"]), TimeIntervalUnit(t["unit"]), now or dt.datetime.utcnow()
        )
    raise ValueError(f"unknown time type {kind!r}")


def _infer_dtype(values) -> str:
    """Reference-shaped payloads carry no dtype for JSON-resolved
    properties; infer one from the filter's literal values so numeric
    comparisons stay numeric while string values aren't nulled by a
    long cast. No values (breakdowns, empty/exists) → string, the
    safe identity for grouping and null tests."""
    vals = [v for v in (values or ()) if v is not None]
    if not vals:
        return "string"
    if all(isinstance(v, bool) for v in vals):
        return "boolean"
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return "int64"
    if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
        return "decimal"
    return "string"


def parse_property(
    d: dict, columns: Sequence[str] = EVENT_COLUMNS, values=None,
    numeric: bool = False, props: Optional[dict] = None,
) -> PropertyRef:
    """``values``: filter literals for dtype inference; ``numeric``:
    aggregation context (sum/avg… need a numeric cast); ``props``:
    the metadata catalog's {property name -> declared dtype} map
    (catalog.Catalog.properties_dtypes) — a catalog-declared dtype is
    authoritative over inference, the reference's resolution order
    (properties looked up in metadata before use,
    query/src/event_segmentation.rs:103-107). When the payload omits
    dtype in aggregation context with no catalog entry the fallback is
    ``decimal`` (the reference's own aggregate type, DECIMAL_PRECISION
    /SCALE types.rs:14-16) — an int64 fallback would silently truncate
    float-valued JSON properties through the long cast."""
    name = d.get("propertyName")
    if name is None:
        raise ValueError(f"unresolvable property reference: {d!r}")
    if name in columns:
        return PropertyRef.column(name)
    dtype = d.get("dtype")
    if dtype is None and props and name in props:
        dtype = props[name]
    if dtype is None:
        dtype = "decimal" if numeric else _infer_dtype(values)
    return PropertyRef.json(name, dtype)


def parse_filter(d: dict, columns=EVENT_COLUMNS, props: Optional[dict] = None) -> PropFilter:
    if d.get("type", "property") != "property":
        raise ValueError(f"unsupported filter type {d['type']!r}")
    values = tuple(d.get("value") or ())
    op = _OPS[d["operation"]]
    if not values and op not in (PropOp.TRUE, PropOp.FALSE, PropOp.EMPTY,
                                 PropOp.EXISTS):
        # the same rule exprs.property_expression enforces at plan
        # time, checked while the request is still being parsed
        raise ValueError(f"{op} needs at least one value")
    return PropFilter(parse_property(d, columns, values=values, props=props),
                      op, values)


def parse_event_ref(
    d: dict,
    columns: Sequence[str] = EVENT_COLUMNS,
    custom_events: Optional[dict] = None,
    props: Optional[dict] = None,
) -> EventRef:
    """Resolve an event reference. Custom events look up a catalog of
    ``{id_or_name: [member dicts]}`` and expand to an OR of their
    members (each with its own filters), recursively — mirroring the
    reference's metadata resolution + expansion
    (query/src/expr.rs:60-115). The catalog is the Spark stand-in for
    the reference's custom-events metadata store."""
    if d.get("eventType", "regular") == "regular":
        return EventRef(d["eventName"])
    if d.get("eventType") == "custom":
        # explicit null eventId (full-DTO serializers) falls back to
        # eventName like a missing key does
        key = d.get("eventId")
        if key is None:
            key = d.get("eventName")
        if not custom_events or key not in custom_events:
            raise ValueError(
                f"unknown custom event {key!r}; pass custom_events="
                "{id_or_name: [member event dicts]} to the parser"
            )
        members = tuple(
            EventFilterSpec(
                parse_event_ref(m, columns, custom_events, props=props),
                tuple(parse_filter(f, columns, props=props)
                      for f in m.get("filters") or ()),
            )
            for m in custom_events[key]
        )
        return EventRef(custom=members)
    raise ValueError(f"unknown eventType {d.get('eventType')!r}")


def _parse_query(q: dict, columns, props: Optional[dict] = None) -> SegQuery:
    kind = q["type"]
    if kind == "countEvents":
        return SegQuery("count_events")
    if kind == "countUniqueGroups":
        # "approx": true opts the metric into rollup routing via the
        # HLL day sketches (see rollup.rollup_supports) — the knob a
        # dashboard sets to stop exact-distinct scans over raw events
        return SegQuery("count_unique_groups", approx=bool(q.get("approx")))
    if kind in ("dailyActiveGroups", "weeklyActiveGroups", "monthlyActiveGroups"):
        snake = {"dailyActiveGroups": "daily_active_groups",
                 "weeklyActiveGroups": "weekly_active_groups",
                 "monthlyActiveGroups": "monthly_active_groups"}[kind]
        return SegQuery(snake, approx=bool(q.get("approx")))
    if kind == "countPerGroup":
        return SegQuery("count_per_group", agg=_AGGS[q["aggregate"]])
    if kind == "aggregateProperty":
        return SegQuery(
            "aggregate_property", agg=_AGGS[q["aggregate"]],
            prop=parse_property(q, columns, numeric=True, props=props),
        )
    if kind == "aggregatePropertyPerGroup":
        return SegQuery(
            "aggregate_property_per_group",
            inner_agg=_AGGS[q["aggregatePerGroup"]],
            agg=_AGGS[q["aggregate"]],
            prop=parse_property(q, columns, numeric=True, props=props),
        )
    if kind == "formula":
        return SegQuery("formula", formula=q["formula"])
    raise ValueError(f"unknown query type {kind!r}")


def _grouped_filters(body: dict, columns, props: Optional[dict] = None) -> tuple:
    """EventGroupedFilters: the reference flattens groups[0].filters
    into an AND conjunction and ignores groupsCondition/
    filtersCondition (platform/src/event_segmentation.rs:470-474,
    funnel.rs:749) — mirrored here for parity."""
    groups = (body.get("filters") or {}).get("groups", ())
    if not groups:
        return ()
    return tuple(parse_filter(f, columns, props=props)
                 for f in groups[0].get("filters", ()))


def parse_event_segmentation(
    body: dict,
    columns: Sequence[str] = EVENT_COLUMNS,
    now: Optional[dt.datetime] = None,
    custom_events: Optional[dict] = None,
    props: Optional[dict] = None,
) -> EventSegmentationRequest:
    """Reference EventSegmentationRequest JSON → DSL dataclass.
    ``props``: catalog {property name -> dtype} map (see
    parse_property)."""
    events = []
    for e in body["events"]:
        events.append(
            EventQuery(
                parse_event_ref(e, columns, custom_events, props=props),
                [_parse_query(q, columns, props=props) for q in e["queries"]],
                filters=tuple(parse_filter(f, columns, props=props)
                              for f in e.get("filters") or ()),
                breakdowns=tuple(
                    parse_property(b, columns, props=props)
                    for b in e.get("breakdowns") or ()
                ),
            )
        )
    analysis_d = body.get("analysis") or {"type": "linear"}
    analysis = {
        "linear": Analysis.LINEAR,
        "rollingAverage": Analysis.ROLLING_AVERAGE,
        "cumulative": Analysis.CUMULATIVE,
        "logarithmic": Analysis.LOGARITHMIC,
    }[analysis_d["type"]]
    compare = None
    if body.get("compare"):
        compare = Compare(
            int(body["compare"]["offset"]), TimeIntervalUnit(body["compare"]["unit"])
        )
    return EventSegmentationRequest(
        time=parse_time(body["time"], now),
        interval=TimeIntervalUnit(body["intervalUnit"]),
        events=events,
        group_col=_group_col(body),
        filters=_grouped_filters(body, columns, props=props),
        breakdowns=tuple(
            parse_property(b, columns, props=props)
            for b in body.get("breakdowns") or ()
        ),
        analysis=analysis,
        rolling_window=int(analysis_d.get("window", 7)),
        compare=compare,
        segments=parse_segments(body, columns, now, custom_events, props=props),
    )




def _seg_time(d: Optional[dict], now=None):
    """SegmentTime subset compatible with QueryTime (between/from/
    last); the reference's afterFirstUse/windowEach windows are
    per-user anchors with no engine implementation there either."""
    if not d:
        return None
    if d.get("type") in ("between", "from", "last"):
        return parse_time(d, now)
    raise ValueError(f"unsupported segment time {d.get('type')!r}")


def parse_segment_condition(
    d: dict, columns=EVENT_COLUMNS, now=None,
    custom_events: Optional[dict] = None, props: Optional[dict] = None,
) -> SegmentCondition:
    """One externally-tagged SegmentCondition (reference
    common/src/query.rs:374-393; serde external tagging =>
    {"HasPropertyValue": {...}} — camelCase first letters accepted)."""
    if len(d) != 1:
        raise ValueError(f"segment condition must have one variant key: {d}")
    (tag, c), = d.items()
    key = tag[0].lower() + tag[1:]
    if key == "hasPropertyValue" or key == "hadPropertyValue":
        return SegmentCondition(
            kind="has_property_value" if key == "hasPropertyValue"
            else "had_property_value",
            prop=parse_property(c["property"], columns, props=props),
            op=_OPS[c["operation"]],
            values=tuple(c.get("value") or ()),
            time=_seg_time(c.get("time"), now),
        )
    if key == "didEvent":
        event = parse_event_ref(c["event"], columns, custom_events, props=props)
        filters = tuple(parse_filter(f, columns, props=props)
                        for f in c.get("filters") or ())
        (atag, a), = c["aggregate"].items()
        akey = atag[0].lower() + atag[1:]
        if akey == "count":
            return SegmentCondition(
                kind="did_event", event=event, filters=filters,
                compare_op=_OPS[a["operation"]], right=float(a["value"]),
                time=_seg_time(a.get("time"), now))
        if akey == "relativeCount":
            return SegmentCondition(
                kind="did_event_relative_count", event=event, filters=filters,
                compare_op=_OPS[a["operation"]],
                relative_event=parse_event_ref(
                    a["event"], columns, custom_events, props=props),
                relative_filters=tuple(parse_filter(f, columns, props=props)
                                       for f in a.get("filters") or ()),
                time=_seg_time(a.get("time"), now))
        if akey == "aggregateProperty":
            return SegmentCondition(
                kind="did_event", event=event, filters=filters,
                agg=_AGGS[a["aggregate"]],
                agg_prop=parse_property(a["property"], columns, props=props),
                compare_op=_OPS[a["operation"]],
                right=float(a["value"]) if a.get("value") is not None else 0.0,
                time=_seg_time(a.get("time"), now))
        if akey == "historicalCount":
            return SegmentCondition(
                kind="did_event_historical_count", event=event,
                filters=filters, compare_op=_OPS[a["operation"]],
                right=float(a["value"]))
        raise ValueError(f"unknown didEvent aggregate {atag!r}")
    raise ValueError(f"unknown segment condition {tag!r}")


def parse_segments(
    body: dict, columns=EVENT_COLUMNS, now=None,
    custom_events: Optional[dict] = None, props: Optional[dict] = None,
) -> tuple:
    """body["segments"] -> tuple[Segment] (Or<And<condition>>)."""
    out = []
    for s in body.get("segments") or ():
        conditions = tuple(
            tuple(parse_segment_condition(c, columns, now, custom_events, props)
                  for c in and_group)
            for and_group in s.get("conditions") or ()
        )
        out.append(Segment(s.get("name", f"segment_{len(out)}"),
                           conditions=conditions))
    return tuple(out)


def parse_funnel(
    body: dict,
    columns: Sequence[str] = EVENT_COLUMNS,
    now: Optional[dt.datetime] = None,
    custom_events: Optional[dict] = None,
    props: Optional[dict] = None,
) -> FunnelRequest:
    """Reference FunnelRequest JSON → DSL dataclass."""
    steps = []
    for s in body["steps"]:
        order_d = s.get("order", {"type": "exact"})
        if isinstance(order_d, str):
            order_d = {"type": order_d}
        order = StepOrder.ANY if order_d["type"] == "any" else StepOrder.EXACT
        steps.append(
            FunnelStep(
                [
                    EventFilterSpec(
                        parse_event_ref(e, columns, custom_events, props=props),
                        tuple(parse_filter(f, columns, props=props)
                              for f in e.get("filters") or ()),
                    )
                    for e in s["events"]
                ],
                order=order,
                any_ranges=tuple(tuple(r) for r in order_d.get("steps", ())),
            )
        )

    tw = body["timeWindow"]
    unit = tw["unit"]
    if unit not in _WINDOW_MS and unit != "session":
        raise ValueError(
            f"unsupported timeWindow unit {unit!r}; the funnel window "
            f"units are {sorted(_WINDOW_MS)} + 'session' (reference "
            "TimeIntervalUnitSession, platform/src/funnel.rs)"
        )
    if unit == "session":
        count_mode, window_ms = FunnelCountMode.SESSION, _WINDOW_MS["day"]
    else:
        count_mode = {
            "unique": FunnelCountMode.UNIQUE,
            "nonUnique": FunnelCountMode.NON_UNIQUE,
            "session": FunnelCountMode.SESSION,
        }[body.get("count", "unique")]
        window_ms = int(tw["n"]) * _WINDOW_MS[unit]

    # NB: dropOffOnStep/touch step indices pass through unchanged — the
    # reference's JSON contract is already 0-based for these (platform/
    # src/funnel.rs converts ONLY exclude ranges with from-1/to-1; the
    # machine tests steps_completed - 1 == step, funnel.rs:196)
    flt = None
    if body.get("filter"):
        f = body["filter"]
        flt = {
            "dropOffOnAnyStep": lambda: FunnelFilter("drop_off_on_any_step"),
            "dropOffOnStep": lambda: FunnelFilter("drop_off_on_step", step=int(f["step"])),
            "timeToConvert": lambda: FunnelFilter(
                "time_to_convert", min_ms=int(f["from"]), max_ms=int(f["to"])
            ),
        }[f["type"]]()

    touch_d = body.get("touch") or {"type": "first"}
    touch = {
        "first": FunnelTouch.FIRST, "last": FunnelTouch.LAST, "step": FunnelTouch.STEP,
    }[touch_d["type"]]

    excludes = []
    for ex in body.get("exclude") or ():
        between = None
        steps_d = ex.get("steps")
        if steps_d and steps_d["type"] == "between":
            # reference converts 1-based JSON to 0-based internal
            # (platform/src/funnel.rs ExcludeSteps::Between from-1/to-1)
            between = (int(steps_d["from"]) - 1, int(steps_d["to"]) - 1)
        excludes.append(
            FunnelExclude(
                EventFilterSpec(
                    parse_event_ref(ex, columns, custom_events, props=props),
                    tuple(parse_filter(f, columns, props=props)
                          for f in ex.get("filters") or ()),
                ),
                between_steps=between,
            )
        )

    return FunnelRequest(
        time=parse_time(body["time"], now),
        interval=TimeIntervalUnit.DAY,
        steps=steps,
        window_ms=window_ms,
        group_col=_group_col(body),
        count_mode=count_mode,
        excludes=tuple(excludes),
        constants=tuple(
            parse_property(p, columns, props=props)
            for p in body.get("holdingConstants") or ()
        ),
        filter=flt,
        touch=touch,
        touch_step=int(touch_d.get("step", 0)),
        breakdowns=tuple(
            parse_property(b, columns, props=props)
            for b in body.get("breakdowns") or ()
        ),
        filters=_grouped_filters(body, columns, props=props),
    )
