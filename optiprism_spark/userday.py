"""(dt, user)-grain activity rollup — the pre-aggregate behind the
per-USER engagement surfaces (r15, closing r14 verdict tasks 6 & 7).

The day-grain RollupStore (rollup.py) folds users into HLL sketches —
perfect for counts and uniques, structurally unable to answer
anything that needs per-user state. Two standing dashboard surfaces
do: RFM (per-user recency/frequency/monetary) and the growth-
accounting ledger (per-user first/last activity per bucket). Until
r15 both rescanned raw events per query; this module gives them the
same store-routed serving tier, from ONE new table:

    (dt, user, *dims) → n_events, value_sum[decimal]

Everything both surfaces need folds from these partials:
- RFM recency  = datediff(window end, max dt)          — max folds;
- RFM frequency = Σ n_events                           — sums fold;
- RFM monetary  = Σ value_sum (exact decimal)          — sums fold;
- growth ledger = the distinct (user, bucket(dt)) set  — presence
  folds; the ledger tail (engagement.growth_ledger) is SHARED with
  the raw path, so routed ≡ raw is an equality of inputs.

Size honesty at 100 TB: (dt, user, event_type) is NOT megabytes —
it's bounded by active-user-days (~10⁹ users × days × few dims),
typically 30–300× smaller than raw events and free of the wide
prop payload. The win is that the per-query scan drops to that
bounded table with dt partition pruning, and maintenance is the
shared DayStore fold (daystore.py, the RollupStore's too): a
day-partitioned dynamic overwrite touching only the batch's days,
merge = re-aggregation (counts/sums add, which is why the grain
stores SUMS, never averages).

Reference note: the reference has no pre-aggregate tier at all (it
rescans parts per query — storage/src/db.rs:657-666); this extends
the repo's own materialized-view design to user grain.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .daystore import DayStore
from .dsl import (EventRef, PropFilter, PropKind, PropertyRef, QueryTime,
                  TimeIntervalUnit)
from .exprs import event_expression
from .operators.aggregates import DECIMAL_T, bucket_col
from .rollup import ROLLUP_DT_COL, day_window_rows, window_supports
from .schema import EVENT_NAME_COL, EVENT_TIME_COL, EVENT_USER_COL

N_EVENTS_COL = "n_events"
VALUE_SUM_COL = "value_sum"


@dataclass(frozen=True)
class UserDaySpec:
    """DDL of one user-day table: which event dims it can filter on
    and which value column its decimal sum carries. Mirrors
    RollupSpec's routability contract — a query routes only when its
    event/property filters stay inside ``dims`` and it asks about the
    same ``group_col`` grain."""

    dims: tuple[str, ...] = (EVENT_NAME_COL,)
    value_col: str = "value"
    group_col: str = EVENT_USER_COL

    def dim_matches(self, prop: PropertyRef) -> bool:
        """Only physical columns are stored dims (no JSON dims here)."""
        return prop.kind == PropKind.COLUMN and prop.name in self.dims


def build_user_day(events: DataFrame,
                   spec: UserDaySpec = UserDaySpec()) -> DataFrame:
    """ONE map-side-combinable groupBy over the scan — the same build
    shape as build_rollup, keyed by (dt, user, *dims)."""
    keys = [
        F.to_date(F.col(EVENT_TIME_COL)).alias(ROLLUP_DT_COL),
        F.col(spec.group_col),
        *[F.col(d) for d in spec.dims],
    ]
    return events.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(N_EVENTS_COL),
        F.coalesce(
            F.sum(F.col(spec.value_col).cast(DECIMAL_T)),
            F.lit(0).cast(DECIMAL_T),
        ).alias(VALUE_SUM_COL),
    )


def merge_user_day(parts: Sequence[DataFrame],
                   spec: UserDaySpec = UserDaySpec()) -> DataFrame:
    """Re-aggregate same-schema partials — counts and decimal sums
    add, so the merge is exact and order-free."""
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.groupBy(
        ROLLUP_DT_COL, spec.group_col, *spec.dims
    ).agg(
        F.sum(N_EVENTS_COL).alias(N_EVENTS_COL),
        # keep the build's decimal(38,6) schema — a narrowing cast
        # here would desync merged partitions from rebuilt ones
        F.sum(VALUE_SUM_COL).cast("decimal(38,6)").alias(VALUE_SUM_COL),
    )


class UserDayStore(DayStore):
    """dt-partitioned parquet persistence + incremental maintenance
    through the shared day-store protocol (daystore.DayStore — the
    same fold, replay ledger, erasure repair and retention as the
    RollupStore) over ``build_user_day`` / ``merge_user_day``."""

    day_col = ROLLUP_DT_COL

    def __init__(self, path: str, spec: UserDaySpec = UserDaySpec()):
        self.path = path
        self.spec = spec

    def build(self, events: DataFrame) -> DataFrame:
        return build_user_day(events, self.spec)

    def merge(self, parts: Sequence[DataFrame]) -> DataFrame:
        return merge_user_day(parts, self.spec)


# ------------------------------------------------------------ routing


def user_day_supports(
    time: QueryTime,
    event: Optional[EventRef],
    filters: Sequence[PropFilter],
    spec: UserDaySpec,
    group_col: str = EVENT_USER_COL,
) -> bool:
    """Routability guard (mirrors rollup.activity_supports): whole-day
    bounds, the event filter expressible on the stored dims, property
    filters inside the dim set, and the caller asking about the grain
    the store was built at."""
    return spec.group_col == group_col and window_supports(
        time, event, filters, spec)


def rfm_from_user_day(
    store_df: DataFrame,
    time: QueryTime,
    n_tiles: int = 5,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
    percentile_mode: str = "auto",
) -> DataFrame:
    """`engagement.rfm_scores` answered from the user-day store: the
    per-user frame folds from (dt, user) partials — max(dt) for
    recency, Σn_events for frequency, Σvalue_sum (exact decimal) for
    monetary — then runs the SHARED scoring tail. dt partition
    pruning bounds the scan to the window's days; nothing touches raw
    events."""
    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    _, end = time.range()
    if end is None:
        raise ValueError("rfm needs a bounded time window")
    from .operators.engagement import rfm_from_per_user

    rows = day_window_rows(store_df, time, event, filters)
    per_user = rows.groupBy(F.col(spec.group_col)).agg(
        F.datediff(
            F.lit(end.date().isoformat()).cast("date"),
            F.max(F.col(ROLLUP_DT_COL)),
        ).alias("recency_days"),
        F.sum(N_EVENTS_COL).alias("frequency"),
        # decimal sums are exact; one final cast to double, exactly
        # where the raw path casts — no narrowing re-cast in between
        F.sum(VALUE_SUM_COL).cast("double").alias("monetary"),
    )
    return rfm_from_per_user(per_user, n_tiles, spec.group_col,
                             percentile_mode)


def active_days_from_user_day(
    store_df: DataFrame,
    time: QueryTime,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """`engagement.active_days_histogram` (the L28 power-user curve)
    answered from the store: a user's distinct active days are the
    distinct dt values of their partial rows — exact, one
    (user → count distinct dt) aggregate over the pruned store scan,
    then the count-by-k histogram."""
    rows = day_window_rows(store_df, time, event, filters)
    per_user = rows.groupBy(F.col(spec.group_col)).agg(
        F.count_distinct(F.col(ROLLUP_DT_COL)).alias("active_days"))
    return per_user.groupBy("active_days").agg(
        F.count(F.lit(1)).alias("n_users"))


def lness_from_user_day(
    store_df: DataFrame,
    anchor: "datetime.date",
    l_short: int = 7,
    l_long: int = 28,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """`engagement.lness_grid` (the L7/L28 habit-strength grid)
    answered from the store: both distinct-day counts are counts over
    a user's dt values inside the anchored window — the short window
    is a conditional count-distinct on the SAME pruned store scan.
    Exact by construction (the partials are (dt, user) grain), and
    the scan is the bounded store with dt pruning instead of raw
    events."""
    import datetime as _dt

    if not (1 <= l_short < l_long):
        raise ValueError(
            f"need 1 <= l_short < l_long, got {l_short}/{l_long}")
    lo = anchor - _dt.timedelta(days=l_long - 1)
    short_lo = anchor - _dt.timedelta(days=l_short - 1)
    time = QueryTime.between(
        _dt.datetime.combine(lo, _dt.time.min),
        _dt.datetime.combine(anchor, _dt.time(23, 59, 59, 999999)))
    rows = day_window_rows(store_df, time, event, filters)
    day = F.col(ROLLUP_DT_COL)
    # two-phase instead of two count_distincts (mirrors
    # engagement.lness_grid): dedup the (dt, user, event_type)
    # partials to (user, dt) grain in one map-side-combinable
    # aggregate — no Expand row-doubling — then both window counts
    # are plain conditional counts.
    per_user_day = rows.select(
        F.col(spec.group_col), day.alias("__day")).distinct()
    per_user = per_user_day.groupBy(spec.group_col).agg(
        F.count(F.lit(1)).alias("l_long"),
        F.count(F.when(F.col("__day") >= F.lit(short_lo), F.lit(1)))
        .alias("l_short"),
    )
    return per_user.groupBy("l_short", "l_long").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def retention_from_user_day(
    store_df: DataFrame,
    cohort_event: Optional[EventRef],
    return_event: Optional[EventRef],
    time: QueryTime,
    interval: TimeIntervalUnit = TimeIntervalUnit.WEEK,
    max_periods: int = 12,
    spec: UserDaySpec = UserDaySpec(),
    filters: Sequence[PropFilter] = (),
    unbounded: bool = False,
) -> DataFrame:
    """`operators.retention.retention` answered from the user-day
    store: first-touch cohorts are min(bucket(dt)) per user over the
    cohort-event rows, the return side is the distinct (user, bucket)
    projection of the return-event rows — all three inputs of the
    SHARED retention_matrix tail fold from (dt, user, event_type)
    partials, so routed ≡ raw by construction. Event filters must be
    expressible on the stored dims (check with ``user_day_supports``
    for BOTH events)."""
    from .operators.retention import _PERIOD_UNITS, retention_matrix

    # Same guard as the raw operator (retention.py): the store's dt
    # column is date-grained, so sub-day intervals are meaningless
    # here and must fail exactly like the raw path does.
    if interval not in _PERIOD_UNITS:
        raise ValueError(
            f"retention interval must be one of {_PERIOD_UNITS}")
    pb = bucket_col(interval, ts_col=ROLLUP_DT_COL)
    c_rows = day_window_rows(store_df, time, cohort_event, filters)
    cohorts = c_rows.groupBy(spec.group_col).agg(
        F.min(pb).alias("__cohort_b"))
    sizes = cohorts.groupBy(
        F.col("__cohort_b").alias("cohort_bucket")).agg(
        F.count(F.lit(1)).alias("cohort_size"))
    r_rows = day_window_rows(store_df, time, return_event, filters)
    returns = r_rows.select(
        spec.group_col, pb.alias("__return_b")).distinct()
    return retention_matrix(cohorts, returns, sizes, interval,
                            max_periods, unbounded, spec.group_col)


def growth_from_user_day(
    store_df: DataFrame,
    time: QueryTime,
    period: TimeIntervalUnit = TimeIntervalUnit.WEEK,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """`engagement.growth_accounting` answered from the user-day
    store: the distinct (user, bucket) activity set — the ledger's
    whole input — is a projection of (dt, user) partials, identical
    to the raw path's by construction, and feeds the SHARED
    engagement.growth_ledger tail."""
    if period not in (TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK,
                      TimeIntervalUnit.MONTH):
        raise ValueError("growth accounting period must be day|week|month")
    from .operators.engagement import growth_ledger

    rows = day_window_rows(store_df, time, event, filters)
    pb = bucket_col(period, ts_col=ROLLUP_DT_COL)
    a = rows.select(
        F.col(spec.group_col).alias("__u"), pb.alias("bucket")
    )
    last_b = rows.agg(F.max(pb).alias("__last")).withColumn(
        "__k", F.lit(1))
    return growth_ledger(a, last_b, period)


def active_users_from_user_day(
    store_df: DataFrame,
    time: QueryTime,
    interval: TimeIntervalUnit = TimeIntervalUnit.DAY,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """EXACT DAU/WAU/MAU trend answered from the store — the
    user-grain twin of the rollup's sketched active-user series
    (rollup.py serves ±1% KMV estimates; this is the no-error path
    the estimate family's sampled DAU approximates from raw scans).
    A bucket's active users are the distinct ``group_col`` values of
    its (dt, user) partials, so the count is exact by construction.
    Returns (bucket, active_users)."""
    if interval not in (TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK,
                        TimeIntervalUnit.MONTH):
        raise ValueError("active-user interval must be day|week|month")
    rows = day_window_rows(store_df, time, event, filters)
    pb = bucket_col(interval, ts_col=ROLLUP_DT_COL)
    return rows.groupBy(pb.alias("bucket")).agg(
        F.count_distinct(F.col(spec.group_col)).alias("active_users"))


def audience_flags_from_user_day(
    store_df: DataFrame,
    audiences,
    time: QueryTime,
    spec: UserDaySpec = UserDaySpec(),
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """operators.audience.audience_flags answered from the store:
    per-user boolean membership, one column per audience — a user is
    in an audience iff they have ≥1 store row matching its event
    ref, which for name-expressible refs is identical to the raw
    flags frame (a (dt, user, event) partial exists iff ≥1 raw event
    did). Every ref must pass ``user_day_supports``; callers check."""
    if not audiences:
        raise ValueError("audience_flags needs at least one audience")
    for name in audiences:
        if name == spec.group_col or not name.isidentifier():
            raise ValueError(f"bad audience name {name!r}")
    rows = day_window_rows(store_df, time, None, filters)
    aggs = []
    for name, ref in audiences.items():
        pred = event_expression(ref, EVENT_NAME_COL)
        if pred is None:  # "all events" audience
            pred = F.lit(True)
        aggs.append(F.max(pred.cast("boolean")).alias(name))
    return rows.groupBy(F.col(spec.group_col)).agg(*aggs)


def set_count_from_user_day(
    store_df: DataFrame,
    audiences,
    expr,
    time: QueryTime,
    spec: UserDaySpec = UserDaySpec(),
    filters: Sequence[PropFilter] = (),
) -> DataFrame:
    """operators.audience.audience_set_count answered from the store
    — EXACT boolean set-expression counts with no raw-event scan
    (the KMV day-sketch path estimates; this is its exact sibling
    for name-expressible audiences). Same observed-behavior universe:
    only users in ≥1 listed audience exist to the expression."""
    from .operators.audience import set_expr_col

    flags = audience_flags_from_user_day(
        store_df, audiences, time, spec, filters)
    cond = set_expr_col(expr, list(audiences))
    return flags.filter(cond).agg(F.count(F.lit(1)).alias("n_users"))


def scoped_count_from_user_day(
    store_df: DataFrame,
    audiences,
    expr,
    time: QueryTime,
    interval: TimeIntervalUnit = TimeIntervalUnit.DAY,
    spec: UserDaySpec = UserDaySpec(),
    event: Optional[EventRef] = None,
    filters: Sequence[PropFilter] = (),
    audience_time: Optional[QueryTime] = None,
) -> DataFrame:
    """Audience-scoped event-count trend from the store (the
    aud_scoped_count_daily shape): membership folds from the flags
    frame, the trend is Σ n_events of the scoped users' partials —
    both sides one pruned store scan, no raw events touched.
    ``audience_time`` lets the membership window differ from the
    counting window (the classic 'week-1 cohort, month-long trend');
    it defaults to ``time``. Returns (bucket, count)."""
    from .operators.audience import set_expr_col

    if interval not in (TimeIntervalUnit.DAY, TimeIntervalUnit.WEEK,
                        TimeIntervalUnit.MONTH):
        raise ValueError("scoped-count interval must be day|week|month")
    flags = audience_flags_from_user_day(
        store_df, audiences, audience_time or time, spec, filters)
    cond = set_expr_col(expr, list(audiences))
    users = flags.filter(cond).select(spec.group_col)
    rows = day_window_rows(store_df, time, event, filters)
    pb = bucket_col(interval, ts_col=ROLLUP_DT_COL)
    return (
        rows.join(F.broadcast(users), spec.group_col, "left_semi")
        .groupBy(pb.alias("bucket"))
        .agg(F.sum(F.col(N_EVENTS_COL)).alias("count"))
    )
