"""Materialized day-grain rollup for event segmentation.

The reference scans every parquet part for every query
(storage/src/db.rs:657-666 — SURVEY §1.3 calls the absence of a
pre-aggregate layer out); at 100 TB that is the difference between an
interactive dashboard and a batch job. This module adds the standard
production design the reference lacks:

- ``build_rollup``: one groupBy over events at day grain ×
  a declared dimension set → additive metrics (count, per-numeric-prop
  sum/min/max/non-null-count on exact decimals) plus a **mergeable HLL
  sketch** of distinct users (``hll_sketch_agg``). Every metric is
  re-aggregable, so any coarser grain (week/month/year) and any dim
  subset folds out of the day rows with plain SUM/MIN/MAX/HLL-union —
  never re-touching raw events.
- ``RollupStore``: the rollup persisted as dt-partitioned parquet
  (the shared ``daystore.DayStore``) with **incremental
  maintenance**: an append batch is day-aggregated and merged into
  only the affected dt partitions (partition-pruned read,
  new files committed in one pointer flip). Advanced by the server's
  maintenance tick (server.App.maintain), which folds each ingest
  batch into every rollup store. On a production lake the per-partition swap is
  a transactional commit (Delta/Iceberg ``replaceWhere``); the plan
  shape (one shuffle on (dt, dims), writes proportional to affected
  days — not history) is identical.
- ``rollup_supports`` + ``event_segmentation_from_rollup``: the
  query-rewrite seam. ``queries.event_segmentation.
  run_event_segmentation(rollup=...)`` routes a request to the rollup
  when it is rollup-expressible (interval ≥ day, day-aligned bounds,
  filters/breakdowns within the dim set, additive metrics) and falls
  back to the raw scan otherwise — results are bit-identical either
  way (exact decimal arithmetic, same bucket/alias protocol).

Scale notes (100 TB): the rollup is smaller than raw events by the
events-per-(day, dims) factor — typically 3-5 orders of magnitude — so
a routed dashboard query reads megabytes instead of terabytes. The
build is one map-side-combining shuffle on (dt, dims); incremental
updates shuffle only the append batch. Distinct-user counts stay
mergeable via HLL sketches (estimate ± ~1% at lg_k=14; exact
count-distinct queries fall back to raw by design).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dsl import (
    EventQuery,
    EventRef,
    EventSegmentationRequest,
    PropFilter,
    PropKind,
    PropertyRef,
    QueryTime,
    TimeIntervalUnit,
)
from .daystore import DayStore
from .exprs import event_expression, multi_and, property_expression
from .operators.aggregates import BUCKET_COL, DECIMAL_T, _query_alias, bucket_col
from .schema import EVENT_NAME_COL, EVENT_TIME_COL, EVENT_USER_COL

ROLLUP_DT_COL = "dt"
USERS_HLL_COL = "users_hll"
EVENTS_COUNT_COL = "events_count"

#: intervals a day-grain rollup can serve
_DAY_OR_COARSER = (
    TimeIntervalUnit.DAY,
    TimeIntervalUnit.WEEK,
    TimeIntervalUnit.MONTH,
    TimeIntervalUnit.YEAR,
)


@dataclass(frozen=True)
class RollupSpec:
    """Definition of one rollup table (≙ a materialized-view DDL).

    ``dims``: physical event columns the rollup is grouped by;
    ``json_dims``: (name, dtype) JSON properties MATERIALIZED into
    physical rollup columns at build time (the reference's
    properties-as-columns move, applied to the pre-aggregate) — a
    query is routable only if its breakdowns and property filters stay
    inside these two sets. ``numeric_props``: physical numeric columns
    that get sum/min/max/cnt metrics.
    """

    dims: tuple[str, ...] = (EVENT_NAME_COL,)
    numeric_props: tuple[str, ...] = ("value",)
    group_col: str = EVENT_USER_COL
    hll_lg_k: int = 14
    json_dims: tuple[tuple[str, str], ...] = ()
    #: (prop, bin edges) — adds per-bin count columns, the mergeable
    #: state behind percentile_estimate. Edges are fixed at DDL time
    #: (like every histogram-backed materialized view); estimate
    #: error is bounded by the local bin width.
    histogram_props: tuple[tuple[str, tuple[float, ...]], ...] = ()
    #: numeric columns that get a mergeable KLL-style quantile-sketch
    #: column ({p}_qsk, binary — operators/qsketch.py): RANK-bounded
    #: percentile error with no DDL-time bin edges, the
    #: data-independent twin of histogram_props. The histogram path
    #: stays the oracle-checkable one (deterministic arithmetic DuckDB
    #: can mirror); the sketch path is pinned by error-bound tests.
    sketch_props: tuple[str, ...] = ()
    sketch_k: int = 200

    @property
    def all_dim_names(self) -> tuple[str, ...]:
        return self.dims + tuple(n for n, _ in self.json_dims)

    def dim_matches(self, prop: PropertyRef) -> bool:
        """Does a property reference resolve to a rollup dim? Physical
        columns match by name; JSON props by (name, dtype) — a dtype
        mismatch would group/compare differently than the raw path."""
        if prop.kind == PropKind.COLUMN:
            return prop.name in self.dims
        return (prop.name, prop.dtype) in self.json_dims

    def sum_col(self, p: str) -> str:
        return f"{p}_sum"

    def min_col(self, p: str) -> str:
        return f"{p}_min"

    def max_col(self, p: str) -> str:
        return f"{p}_max"

    def cnt_col(self, p: str) -> str:
        return f"{p}_cnt"

    def hist_col(self, p: str, i: int) -> str:
        return f"{p}_h{i}"

    def hist_edges(self, p: str) -> tuple[float, ...]:
        return dict(self.histogram_props)[p]


def build_rollup(events: DataFrame, spec: RollupSpec = RollupSpec()) -> DataFrame:
    """Aggregate raw events to the day × dims grain.

    One shuffle with map-side partial aggregation; at 100 TB this runs
    once (then incrementally per append batch), not per query.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias(EVENTS_COUNT_COL)]
    for p in spec.numeric_props:
        c = F.col(p)
        aggs += [
            F.sum(c.cast(DECIMAL_T)).alias(spec.sum_col(p)),
            F.min(c).alias(spec.min_col(p)),
            F.max(c).alias(spec.max_col(p)),
            F.count(c).alias(spec.cnt_col(p)),
        ]
    for p, edges in spec.histogram_props:
        c = F.col(p)
        for i in range(len(edges) + 1):
            if i == 0:
                cond = c < F.lit(edges[0])
            elif i == len(edges):
                cond = c >= F.lit(edges[-1])
            else:
                cond = (c >= F.lit(edges[i - 1])) & (c < F.lit(edges[i]))
            # NULL values fall to otherwise(0) — excluded, same as cnt
            aggs.append(
                F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
                .alias(spec.hist_col(p, i)))
    aggs.append(
        F.hll_sketch_agg(F.col(spec.group_col), F.lit(spec.hll_lg_k)).alias(USERS_HLL_COL)
    )
    from .exprs import prop_col as _prop_col

    # a column that is also a dim (e.g. group_col declared as a dim)
    # is already in the key projection — selecting it twice would make
    # every downstream reference ambiguous
    value_cols = sorted(
        (
            set(spec.numeric_props)
            | {p for p, _ in spec.histogram_props}
            | set(spec.sketch_props)
            | {spec.group_col}
        )
        - set(spec.all_dim_names)
    )
    keyed = events.select(
        F.to_date(F.col(EVENT_TIME_COL)).alias(ROLLUP_DT_COL),
        *[F.col(d) for d in spec.dims],
        *[
            _prop_col(PropertyRef.json(n, dtype)).alias(n)
            for n, dtype in spec.json_dims
        ],
        *[F.col(c) for c in value_cols],
    )
    keys = [ROLLUP_DT_COL, *spec.all_dim_names]
    base = keyed.groupBy(*keys).agg(*aggs)
    if spec.sketch_props:
        # the quantile-sketch fold is stateful-per-group Python — it
        # runs as a SECOND aggregation on the same keys and joins back
        # co-partitioned; the corpus-sized metric aggregation above
        # stays JVM-side
        from .operators.qsketch import sketch_day_frame

        base = base.join(
            sketch_day_frame(keyed, keys, spec.sketch_props, spec.sketch_k),
            keys, "left",
        )
    return base


def merge_rollups(parts: Sequence[DataFrame], spec: RollupSpec = RollupSpec()) -> DataFrame:
    """Re-aggregate rollup rows (same schema) back to one row per
    (dt, dims) — every metric is mergeable by construction: counts and
    decimal sums add, min/max fold, HLL sketches union."""
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    aggs: list[Column] = [F.sum(EVENTS_COUNT_COL).alias(EVENTS_COUNT_COL)]
    for p in spec.numeric_props:
        aggs += [
            F.sum(spec.sum_col(p)).cast("decimal(38,6)").alias(spec.sum_col(p)),
            F.min(spec.min_col(p)).alias(spec.min_col(p)),
            F.max(spec.max_col(p)).alias(spec.max_col(p)),
            F.sum(spec.cnt_col(p)).alias(spec.cnt_col(p)),
        ]
    for p, edges in spec.histogram_props:
        for i in range(len(edges) + 1):
            name = spec.hist_col(p, i)
            aggs.append(F.sum(name).alias(name))
    aggs.append(F.hll_union_agg(F.col(USERS_HLL_COL)).alias(USERS_HLL_COL))
    keys = [ROLLUP_DT_COL, *spec.all_dim_names]
    base = df.groupBy(*keys).agg(*aggs)
    if spec.sketch_props:
        from .operators.qsketch import merged_sketch_frame

        base = base.join(
            merged_sketch_frame(df, keys, spec.sketch_props), keys, "left")
    return base


class RollupStore(DayStore):
    """The rollup persisted as dt-partitioned parquet — the shared
    day-store protocol (daystore.DayStore: incremental ``update``
    touching only the batch's dt partitions, replay ledger,
    ``recompute_days`` for erasure, ``expire_before`` for retention)
    over ``build_rollup`` / ``merge_rollups``."""

    day_col = ROLLUP_DT_COL

    def __init__(self, path: str, spec: RollupSpec = RollupSpec()):
        self.path = path
        self.spec = spec

    def build(self, events: DataFrame) -> DataFrame:
        return build_rollup(events, self.spec)

    def merge(self, parts: Sequence[DataFrame]) -> DataFrame:
        return merge_rollups(parts, self.spec)


# ------------------------------------------------------------- query rewrite


def _day_aligned(time: QueryTime) -> Optional[tuple[dt.date, Optional[dt.date]]]:
    """A day-grain rollup can answer a time range only when the range
    is exactly a union of whole days: start at midnight, end at the
    last representable µs of its day (or unbounded). Returns the
    inclusive (start_day, end_day) or None when not alignable."""
    start, end = time.range()
    if start is None or start.time() != dt.time(0, 0, 0, 0):
        return None
    if end is None:
        return start.date(), None
    if end.time() != dt.time(23, 59, 59, 999999):
        return None
    return start.date(), end.date()


def _filters_routable(filters: Sequence[PropFilter], spec) -> bool:
    return all(spec.dim_matches(f.prop) for f in filters)


def window_supports(time: QueryTime, event, filters: Sequence[PropFilter],
                    spec) -> bool:
    """The routability core every day-store reader shares (rollup
    activity and count series, user-day): ``time`` is a union of whole
    days, every property filter is a stored dim (``spec.dim_matches``)
    and the event is none or a plain name the store can filter on.
    Each family's ``*_supports`` adds only its own check on top."""
    if _day_aligned(time) is None or not _filters_routable(filters, spec):
        return False
    return event is None or (
        getattr(event, "custom", None) is None
        and (event.name is None or EVENT_NAME_COL in spec.dims))


def day_range(time: QueryTime, day_col: str = ROLLUP_DT_COL) -> str:
    """SQL condition selecting ``time``'s whole days on ``day_col``
    (inclusive; no upper bound when the window is open-ended) — the one
    day-window predicate of every day-store read. Callers check the
    window is day-aligned first."""
    aligned = _day_aligned(time)
    assert aligned is not None, "caller must check the store's supports"
    start_day, end_day = aligned
    cond = f"`{day_col}` >= DATE '{start_day.isoformat()}'"
    if end_day is not None:
        cond += f" AND `{day_col}` <= DATE '{end_day.isoformat()}'"
    return f"({cond})"


def _rollup_filter(f: PropFilter) -> "Column":
    """A property filter evaluated against the ROLLUP's columns: a
    JSON dim was materialized as a physical column at build time, so
    the reference into ``props`` is rewritten to the plain column
    (keeping the declared dtype's comparison semantics — the value was
    already cast when materialized)."""
    if f.prop.kind == PropKind.JSON:
        f = PropFilter(PropertyRef.column(f.prop.name), f.op, f.values)
    return property_expression(f)


def day_window_rows(store_df: DataFrame, time: QueryTime,
                    event: Optional[EventRef],
                    filters: Sequence[PropFilter]) -> DataFrame:
    """The rows of a dt-grain store inside ``time``'s whole-day window
    (dt partition pruning) that match ``event`` and ``filters`` on the
    stored dim columns — the one scan every rollup and user-day routed
    read starts from. Callers check their store's ``*_supports``
    first."""
    conds: list[Column] = [F.expr(day_range(time))]
    if event is not None:
        conds.append(event_expression(event, EVENT_NAME_COL))
    conds += [_rollup_filter(f) for f in filters]
    return store_df.filter(multi_and(conds))


def _event_routable(eq: EventQuery, spec: RollupSpec) -> bool:
    ev = eq.event
    if ev.custom is not None:
        # member filters stay inside event_expression (which resolves
        # props via prop_col) — so custom events route only when every
        # member filter is a PHYSICAL dim column, not a JSON dim
        return EVENT_NAME_COL in spec.dims and all(
            m.event.custom is None
            and all(
                f.prop.kind == PropKind.COLUMN and f.prop.name in spec.dims
                for f in m.filters
            )
            for m in ev.custom
        )
    return ev.name is None or EVENT_NAME_COL in spec.dims


_ROUTABLE_AGGS = {"sum", "min", "max", "avg", "count"}


def rollup_supports(
    req: EventSegmentationRequest, eq: EventQuery, spec: RollupSpec
) -> bool:
    """True iff this (request, event-query) pair folds out of the
    rollup with results bit-identical to the raw scan."""
    if req.interval not in _DAY_OR_COARSER:
        return False
    if req.segments:
        return False
    if _day_aligned(req.time) is None:
        return False
    if not _filters_routable(list(req.filters) + list(eq.filters), spec):
        return False
    if not _event_routable(eq, spec):
        return False
    for b in list(req.breakdowns) + list(eq.breakdowns):
        if not spec.dim_matches(b):
            return False
    for q in eq.queries:
        if q.kind == "count_events":
            continue
        if q.kind == "formula":
            continue  # a projection over sibling metrics — routable iff they are
        if (
            q.kind == "aggregate_property"
            and q.agg is not None
            and q.agg.value in _ROUTABLE_AGGS
            and q.prop is not None
            and q.prop.kind == PropKind.COLUMN
            and q.prop.name in spec.numeric_props
        ):
            continue
        if (
            q.kind in (
                "count_unique_groups", "daily_active_groups",
                "weekly_active_groups", "monthly_active_groups",
            )
            and q.approx
            and req.group_col == spec.group_col
        ):
            # opt-in estimate: per-(bucket, dims) uniques fold as the
            # union of the day sketches — the distinct-count a 100 TB
            # dashboard should be reading (± ~1% at lg_k=14; exact in
            # the sparse regime, which is what the oracle checks).
            # *_active_groups additionally sub-bucket the union by the
            # activity unit and sum the estimates (both buckets are
            # functions of the day, so day grain loses nothing).
            continue
        # exact count_unique_groups / *_active_groups need raw-grain
        # distincts (HLL is an estimate — see unique_groups_estimate);
        # per-group two-level metrics need user grain. Fall back to raw.
        return False
    return True


def event_segmentation_from_rollup(
    rollup: DataFrame,
    req: EventSegmentationRequest,
    eq: EventQuery,
    event_idx: int = 0,
    spec: RollupSpec = RollupSpec(),
) -> DataFrame:
    """The rollup-side twin of ``operators.aggregates.
    event_segmentation_one`` — same long output format
    (bucket, *breakdowns, metrics…), same alias protocol, exact decimal
    arithmetic, so results hash-match the raw path. The scan here is
    the rollup table: dt-partition-pruned, orders of magnitude smaller
    than events."""
    assert rollup_supports(req, eq, spec), "caller must check rollup_supports"
    df = day_window_rows(rollup, req.time, eq.event,
                         list(req.filters) + list(eq.filters))

    breakdowns = list(req.breakdowns) + list(eq.breakdowns)
    keys = [bucket_col(req.interval, ts_col=ROLLUP_DT_COL).alias(BUCKET_COL)] + [
        F.col(b.name) for b in breakdowns  # JSON dims are materialized columns
    ]
    aggs: list[Column] = []
    actives: list[tuple[str, str]] = []
    formulas: list[tuple[str, str]] = []
    for qi, q in enumerate(eq.queries):
        alias = _query_alias(event_idx, qi, q)
        if q.kind == "formula":
            formulas.append((alias, q.formula))
        elif q.kind == "count_events":
            aggs.append(F.sum(EVENTS_COUNT_COL).alias(alias))
        elif q.kind == "count_unique_groups":  # approx-gated in supports
            aggs.append(
                F.hll_sketch_estimate(
                    F.hll_union_agg(F.col(USERS_HLL_COL))
                ).alias(alias)
            )
        elif q.kind in (
            "daily_active_groups", "weekly_active_groups",
            "monthly_active_groups",
        ):  # approx-gated in supports
            actives.append((alias, q.kind))
        else:  # aggregate_property on a declared numeric prop
            p = q.prop.name
            agg = q.agg.value
            if agg == "sum":
                aggs.append(F.sum(spec.sum_col(p)).cast("double").alias(alias))
            elif agg == "min":
                aggs.append(F.min(spec.min_col(p)).alias(alias))
            elif agg == "max":
                aggs.append(F.max(spec.max_col(p)).alias(alias))
            elif agg == "count":
                aggs.append(F.sum(spec.cnt_col(p)).alias(alias))
            elif agg == "avg":
                aggs.append(
                    (F.sum(spec.sum_col(p)).cast("double") / F.sum(spec.cnt_col(p)))
                    .cast("double")
                    .alias(alias)
                )
    join_keys = [BUCKET_COL] + [b.name for b in breakdowns]
    parts: list[DataFrame] = []
    if aggs:
        parts.append(df.groupBy(*keys).agg(*aggs))
    _ACTIVE_UNIT = {
        "daily_active_groups": TimeIntervalUnit.DAY,
        "weekly_active_groups": TimeIntervalUnit.WEEK,
        "monthly_active_groups": TimeIntervalUnit.MONTH,
    }
    for alias, kind in actives:
        # distinct (group, activity-bucket) pairs per chart bucket:
        # union the day sketches per (chart bucket, activity bucket,
        # dims) — both buckets are functions of dt — estimate each
        # union, then sum the estimates per chart bucket. Frame sizes
        # are #buckets x #activity-buckets x #dims at every step.
        ab = bucket_col(
            _ACTIVE_UNIT[kind], ts_col=ROLLUP_DT_COL
        ).alias("__ab")
        per_ab = df.groupBy(*keys, ab).agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col(USERS_HLL_COL))
            ).alias("__e")
        )
        parts.append(
            per_ab.groupBy(*join_keys).agg(F.sum("__e").alias(alias))
        )
    if not parts:  # formulas-only — same contract as the raw path
        raise ValueError(
            "a formula query needs sibling metric queries to reference")
    out = parts[0]
    for p in parts[1:]:
        # NULL-SAFE key equality, mirroring the raw path
        # (operators/aggregates.py): a NULL breakdown value (missing
        # JSON key materialized as a NULL dim) is one group on both
        # sides; a plain equi-join would drop that group entirely.
        # The right side's keys are renamed first — both parts share
        # the rollup scan's lineage, so out[k]/p[k] would be ambiguous.
        rhs = p
        for kn in join_keys:
            rhs = rhs.withColumnRenamed(kn, f"__r_{kn}")
        cond = None
        for kn in join_keys:
            c = F.col(kn).eqNullSafe(F.col(f"__r_{kn}"))
            cond = c if cond is None else cond & c
        joined = out.join(rhs, cond, "full_outer")
        out = joined.select(
            *[
                F.coalesce(F.col(kn), F.col(f"__r_{kn}")).alias(kn)
                for kn in join_keys
            ],
            *[F.col(c) for c in out.columns if c not in join_keys],
            *[F.col(c) for c in p.columns if c not in join_keys],
        )
    # restore the metric column order the raw path produces
    metric_cols = [
        _query_alias(event_idx, qi, q)
        for qi, q in enumerate(eq.queries)
        if q.kind != "formula"
    ]
    out = out.select(*join_keys, *metric_cols)
    for alias, formula in formulas:
        out = out.withColumn(alias, F.expr(formula))
    return out


def unique_groups_estimate(
    rollup: DataFrame,
    interval: TimeIntervalUnit = TimeIntervalUnit.DAY,
    dims: Sequence[str] = (),
) -> DataFrame:
    """Approximate distinct users per bucket (× dims) by unioning the
    day sketches — the rollup's answer to count_unique_groups at any
    coarser grain without touching raw events. ± ~1% at lg_k=14;
    callers needing exactness route to the raw scan."""
    keys = [bucket_col(interval, ts_col=ROLLUP_DT_COL).alias(BUCKET_COL)] + [
        F.col(d) for d in dims
    ]
    return rollup.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(USERS_HLL_COL))).alias(
            "unique_groups_est"
        )
    )


def activity_supports(
    time: QueryTime,
    event,
    filters: Sequence[PropFilter],
    spec: RollupSpec,
    group_col: str = EVENT_USER_COL,
) -> bool:
    """Routability guard for the activity readers below (stickiness,
    cohort sizes): day-aligned bounds, event filter expressible on the
    rollup's event dim, property filters within the dim set, and the
    rollup's user sketches built at the grain the caller is asking
    about — an org-grain rollup must not answer a user-grain
    stickiness question (mirrors ``rollup_supports``'s
    ``req.group_col == spec.group_col`` check)."""
    return spec.group_col == group_col and window_supports(
        time, event, filters, spec)


def _activity_day_sketches(
    rollup: DataFrame,
    time: QueryTime,
    spec: RollupSpec,
    event=None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """(dt, __sk): one merged user-HLL sketch per day after event/dim
    filtering — the shared scan for every activity-shaped rollup read.
    The frame is at most #days-in-window rows regardless of data size;
    everything downstream operates on it, never on raw events."""
    return (
        day_window_rows(rollup, time, event, filters)
        .groupBy(ROLLUP_DT_COL)
        .agg(F.hll_union_agg(F.col(USERS_HLL_COL)).alias("__sk"))
    )


def stickiness_from_rollup(
    rollup: DataFrame,
    time: QueryTime,
    period: TimeIntervalUnit = TimeIntervalUnit.WEEK,
    spec: RollupSpec = RollupSpec(),
    event=None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """`operators.engagement.stickiness` answered from the day-grain
    store: daily actives are per-day sketch estimates, period actives
    the estimate of the day-sketch union — the most-refreshed
    engagement dashboard never touches raw events. Same output shape
    and conventions as the raw path (sum ÷ calendar days of the
    period, so zero-activity days count as zero). Estimates carry
    HLL error (± ~1% at lg_k=14) at high cardinality; below the
    sketch's sparse-mode threshold they are exact, which is what makes
    the routed result hash-match the exact oracle at test scale."""
    if period not in (TimeIntervalUnit.WEEK, TimeIntervalUnit.MONTH):
        raise ValueError("stickiness period must be week or month")
    day_sk = _activity_day_sketches(rollup, time, spec, event, filters)
    pb = bucket_col(period, ts_col=ROLLUP_DT_COL).alias("bucket")
    days_in_period = (
        F.lit(7)
        if period == TimeIntervalUnit.WEEK
        else F.dayofmonth(F.last_day(F.col("bucket")))
    )
    # the avg-DAU sum and the period union come from ONE aggregate, so
    # the per-day sketch frame is consumed once and needs no persist
    per = day_sk.select(pb, F.col("__sk")).groupBy("bucket").agg(
        F.sum(F.hll_sketch_estimate("__sk")).alias("__dau"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("period_active"),
    )
    avg_dau = F.col("__dau") / days_in_period
    return per.select(
        "bucket",
        avg_dau.alias("avg_dau"),
        "period_active",
        (avg_dau / F.col("period_active")).alias("stickiness"),
    )


def cohort_sizes_from_rollup(
    rollup: DataFrame,
    time: QueryTime,
    interval: TimeIntervalUnit = TimeIntervalUnit.WEEK,
    spec: RollupSpec = RollupSpec(),
    cohort_event=None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """Retention cohort sizes from the day-grain store: a user's
    first-touch bucket is recovered from CUMULATIVE sketch unions —
    |first touch ≤ B| = estimate(union of day sketches ≤ end(B)), so
    size(B) is the difference of consecutive cumulative estimates (the
    standard first-seen estimator over mergeable distinct sketches).
    The cumulative union runs on the per-bucket sketch frame (#buckets
    rows), so the triangular self-join and the global lag window are
    driver-trivial at any data scale. Buckets where the difference is
    zero are dropped, matching the raw path (no row for a bucket with
    no first-touch users)."""
    if interval not in (
        TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK, TimeIntervalUnit.MONTH,
    ):
        raise ValueError("cohort interval must be day, week or month")
    from pyspark.sql import Window

    day_sk = _activity_day_sketches(rollup, time, spec, cohort_event, filters)
    pb = bucket_col(interval, ts_col=ROLLUP_DT_COL).alias("cohort_bucket")
    per_b = (
        day_sk.select(pb, "__sk")
        .groupBy("cohort_bucket")
        .agg(F.hll_union_agg("__sk").alias("__bsk"))
    )
    a, b = per_b.alias("a"), per_b.alias("b")
    cum = (
        a.join(b, F.col("b.cohort_bucket") <= F.col("a.cohort_bucket"))
        .groupBy(F.col("a.cohort_bucket").alias("cohort_bucket"))
        .agg(F.hll_sketch_estimate(
            F.hll_union_agg(F.col("b.__bsk"))).alias("__cum"))
    )
    # global window over #buckets rows — bounded by the window's span
    # in periods, never by data size; constant partition key keeps the
    # 'No Partition Defined' warning out of logs (identical semantics)
    w = Window.partitionBy(F.lit(0)).orderBy("cohort_bucket")
    return (
        cum.withColumn(
            "cohort_size",
            F.col("__cum") - F.coalesce(F.lag("__cum").over(w), F.lit(0)),
        )
        .filter(F.col("cohort_size") > 0)
        .select("cohort_bucket", "cohort_size")
    )


def percentile_estimate(
    rollup: DataFrame,
    spec: RollupSpec,
    prop: str,
    qs: Sequence[float],
    dims: Sequence[str] = (),
) -> DataFrame:
    """Approximate percentiles from the rollup's histogram bins — the
    rollup's answer to median/p90 without touching raw events.

    Bins merge across days/dims by summation, then the estimate walks
    the cumulative counts to the first bin holding rank ``q·N`` and
    interpolates linearly inside it; mass below the lowest edge clamps
    to it (likewise above the highest). Error ≤ the local bin width —
    the DDL-time knob (sizing edges to the data's scale is the same
    trade every histogram-backed metrics store makes). Deterministic
    arithmetic (integer bin counts, one double expression per q), so
    even the estimates are oracle-hashable.

    Output: (*dims, n, p{q}_est per q). Rows with n = 0 return NULL
    estimates.
    """
    edges = spec.hist_edges(prop)
    n_bins = len(edges) + 1
    g = rollup.groupBy(*[F.col(d) for d in dims]).agg(*[
        F.sum(spec.hist_col(prop, i)).alias(f"__b{i}") for i in range(n_bins)
    ])
    bins = [F.col(f"__b{i}") for i in range(n_bins)]
    total = bins[0]
    for b in bins[1:]:
        total = total + b
    cums = []
    acc = None
    for b in bins:
        acc = b if acc is None else acc + b
        cums.append(acc)

    def est(q: float):
        target = F.lit(q) * total
        expr = F.when(cums[0] >= target, F.lit(float(edges[0])))
        for i in range(1, n_bins - 1):
            lo, hi = float(edges[i - 1]), float(edges[i])
            interp = (
                F.lit(lo)
                + (F.lit(hi) - F.lit(lo))
                * (target - cums[i - 1]) / bins[i]
            )
            expr = expr.when(cums[i] >= target, interp)
        expr = expr.otherwise(F.lit(float(edges[-1])))
        return F.when(total > 0, expr)

    return g.select(
        *[F.col(d) for d in dims],
        total.alias("n"),
        # rounded to 6 decimals: the last-ulp of the interpolation is
        # engine-specific (FMA contraction), and an estimate with
        # bin-width error bars has no meaningful 1e-13 digits anyway
        *[F.round(est(q), 6).alias(f"p{int(round(q * 100))}_est")
          for q in qs],
    )


def drift_supports(
    base: QueryTime,
    actual: QueryTime,
    prop: str,
    spec: RollupSpec,
    kind: str = "numeric",
) -> bool:
    """True iff a PSI between the two periods folds out of this
    rollup bit-identically to the raw scan: both periods must be
    whole-day unions (the store's grain) with bounded ends, and the
    property must be materialized — as DDL-time histogram bins for
    numeric drift, as a grouping dim for categorical drift."""
    for t in (base, actual):
        aligned = _day_aligned(t)
        if aligned is None or aligned[1] is None:
            return False
    if kind == "numeric":
        return prop in dict(spec.histogram_props)
    if kind == "categorical":
        return prop in spec.dims
    return False


def psi_from_rollup(
    rollup: DataFrame,
    spec: RollupSpec,
    prop: str,
    base: QueryTime,
    actual: QueryTime,
) -> DataFrame:
    """Numeric PSI folded from STORED histogram bins — the recurring
    snapshot check a training pipeline runs between deliveries,
    answered from the day-grain pre-aggregate the store already
    maintains instead of rescanning raw events (at 100 TB the fold
    touches ~bins × days rows vs the full corpus).

    Bit-equality with the raw path (distribution_drift_fixed on the
    same edges): the stored bins were computed with the identical bin
    conditions at build time (NULL values excluded there like the raw
    path's isNotNull filter; NULL timestamps have NULL dt and fall
    outside both day ranges), and the PSI tail is the shared
    _psi_from_bin_sums expression. Pinned by the
    drift_psi_value_rollup_routed registry query hash-matching the
    fixed-edge oracle, and the routed≡raw test in tests/test_drift.py.
    """
    from .operators.drift import _psi_from_bin_sums

    edges = spec.hist_edges(prop)
    n_bins = len(edges) + 1
    # parsed-SQL aggregate construction (guide §7.3): 2×n_bins
    # when/sum py4j Column trees were most of this query's per-call
    # driver cost; the SQL text below builds the identical expressions
    # in one parse each.
    in_base_sql = day_range(base)
    in_act_sql = day_range(actual)
    aggs: list[Column] = []
    for i in range(n_bins):
        c = spec.hist_col(prop, i)
        aggs.append(F.expr(
            f"CAST(SUM(CASE WHEN {in_base_sql} THEN `{c}` ELSE 0 END) "
            f"AS BIGINT) AS __e{i}"))
        aggs.append(F.expr(
            f"CAST(SUM(CASE WHEN {in_act_sql} THEN `{c}` ELSE 0 END) "
            f"AS BIGINT) AS __a{i}"))
    row = rollup.filter(f"{in_base_sql} OR {in_act_sql}").agg(*aggs)
    return _psi_from_bin_sums(row, n_bins)


def categorical_psi_from_rollup(
    rollup: DataFrame,
    spec: RollupSpec,
    dim: str,
    base: QueryTime,
    actual: QueryTime,
    max_categories: Optional[int] = None,
) -> DataFrame:
    """Categorical (event-mix) PSI folded from the rollup's per-day
    per-dim event counts — no raw scan. The histogram is
    sum(events_count) per dim value per period; the top-K guard and
    PSI tail are shared with the raw operator
    (operators/drift.categorical_psi_tail), so routed ≡ raw."""
    from .operators.drift import MAX_CATEGORIES, categorical_psi_tail

    if max_categories is None:
        max_categories = MAX_CATEGORIES
    in_base = F.expr(day_range(base))
    in_act = F.expr(day_range(actual))
    d = F.col(dim)
    hist = (
        rollup.filter((in_base | in_act) & d.isNotNull())
        .groupBy(d.cast("string").alias("category"))
        .agg(
            F.sum(F.when(in_base, F.col(EVENTS_COUNT_COL))
                  .otherwise(F.lit(0))).cast("long").alias("n_expected"),
            F.sum(F.when(in_act, F.col(EVENTS_COUNT_COL))
                  .otherwise(F.lit(0))).cast("long").alias("n_actual"),
        )
    )
    return categorical_psi_tail(hist, max_categories)


def count_series_supports(
    time: QueryTime,
    dim: Optional[str],
    event,
    filters: Sequence[PropFilter],
    spec: RollupSpec,
) -> bool:
    """Routability guard for `count_series_from_rollup`: day-aligned
    bounds, the breakdown dim (if any) stored on the rollup, event
    filter expressible on the event dim, property filters within the
    dim set. Counts are ADDITIVE in the store, so — unlike the sketch-
    backed activity readers — a routed series is EXACT, bit-equal to
    the raw scan."""
    return (dim is None or dim in spec.dims) and window_supports(
        time, event, filters, spec)


def count_series_from_rollup(
    rollup: DataFrame,
    time: QueryTime,
    spec: RollupSpec = RollupSpec(),
    dim: Optional[str] = None,
    event=None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """Daily event-count series (``[dim,] bucket, n``) folded from the
    store's per-(day, dims) counts — the input frame for the anomaly
    detectors (`operators/alerts`), served without a raw-event scan.
    dt partition pruning bounds the read to the window; the output is
    at most #days × |dim| rows regardless of corpus size."""
    # full routability assert (the sibling readers' convention,
    # rollup_supports at :552): a caller that skipped the supports
    # check must fail loudly here, not silently read a store that
    # cannot express its dim/event/filters
    assert count_series_supports(time, dim, event, filters, spec), \
        "caller must check count_series_supports"
    keys = ([F.col(dim)] if dim else []) + [
        F.col(ROLLUP_DT_COL).alias("bucket")]
    return (
        day_window_rows(rollup, time, event, filters)
        .groupBy(*keys)
        .agg(F.sum(EVENTS_COUNT_COL).alias("n"))
    )
