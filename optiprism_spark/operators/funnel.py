"""Funnel — per-user sequential state machine via ``applyInPandas``.

The reference's flagship operator (SURVEY §2.5): a greedy state
machine over each user's time-ordered event stream
(query/src/physical_plan/expressions/aggregate/partitioned/funnel/
funnel.rs:457-660), with conversion windows, Exact/Any step order,
excludes, holding constants, count modes and drop-off filters.

No composition of built-in Spark operators expresses the greedy
restart semantics (window expiry flushes the attempt and re-seeds
from the current row; excludes/constants reset and REPROCESS the
row), so this is the honest ``applyInPandas`` case: Spark plans the
scan/filter/shuffle declaratively, and a vectorized per-user pandas
kernel runs the sequential scan.

Scale design (100 TB):
- The kernel only sees *funnel-relevant* rows: the input is
  pre-filtered to rows matching any step or exclude expression —
  typically a tiny fraction of the stream — and only the needed
  columns (Catalyst prunes the parquet scan accordingly). Two modes
  need the full time-filtered stream and skip that reduction:
  holding constants (the reference resets an attempt on ANY row with
  a deviating constant, funnel.rs:571-584) and Session count mode
  (gaps are measured over all activity).
- ``groupBy(user).applyInPandas`` shuffles once on the user key
  (AQE handles skew); if the table is bucketed by user at write time
  the shuffle is elided.
- Output is one row per *attempt* (≪ input rows); the per-step
  report aggregation is declarative Spark on that small frame.

Semantics mirrored from the reference, with two deliberate fixes:
- Ranged excludes: the reference's check_exclude (funnel.rs:144-166)
  `break`s out before testing a ranged exclude, making step-ranged
  excludes dead code. We implement the declared semantics: an
  exclude with steps (from, to) fires while the machine is seeking a
  step in [from, to].
- avg_time_to_convert: the reference finalize multiplies the mean by
  100 (funnel.rs:795-805, same pattern as the ratio columns — a
  display artifact). We report the plain mean in milliseconds.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dsl import (
    FunnelCountMode,
    FunnelFilter,
    FunnelRequest,
    FunnelTouch,
    StepOrder,
)
from ..exprs import event_spec_expression, full_filter, multi_or, prop_col
from ..schema import EVENT_ID_COL, EVENT_TIME_COL, EVENT_USER_COL

# Session count-mode boundaries derive from the ONE engine-wide gap
# constant (streaming/sessionize.py) — the same definition the
# sessionizer and the Session Begin synthesizer use; two session
# definitions in one engine would drift.
from ..streaming.sessionize import SESSION_GAP_US


def _attempt_schema(req: FunnelRequest, bd_types: list[T.DataType]) -> T.StructType:
    k = len(req.steps)
    fields = [
        T.StructField(EVENT_USER_COL, T.LongType()),
        *[
            T.StructField(b.name, t)
            for b, t in zip(req.breakdowns, bd_types)
        ],
        T.StructField("steps_completed", T.IntegerType()),
        T.StructField("is_completed", T.BooleanType()),
        T.StructField("attempt_ts", T.LongType()),  # touch-attributed, epoch µs
    ]
    fields += [T.StructField(f"ts_{i}", T.LongType()) for i in range(k)]
    return T.StructType(fields)


def _is_completed(steps_completed: int, k: int, flt: Optional[FunnelFilter], ts: list) -> bool:
    """Reference Group::push_result filter semantics (funnel.rs:185-207)."""
    if flt is None:
        return steps_completed == k
    if flt.kind == "drop_off_on_any_step":
        return steps_completed != k
    if flt.kind == "drop_off_on_step":
        return steps_completed - 1 == flt.step
    if flt.kind == "time_to_convert":
        if steps_completed != k:
            return False
        diff_ms = (ts[k - 1] - ts[0]) / 1000
        return flt.min_ms <= diff_ms <= flt.max_ms
    raise ValueError(flt.kind)


def _run_machine(
    ts: np.ndarray,
    steps: list[np.ndarray],
    excludes: list[tuple[np.ndarray, Optional[tuple[int, int]]]],
    consts: list[np.ndarray],
    step_orders: list,
    window_us: int,
    k: int,
    flt: Optional[FunnelFilter],
    unique: bool,
) -> list[tuple[int, bool, list]]:
    """Greedy scan over one partition's rows → list of attempts
    (steps_completed, is_completed, [ts_0..ts_{k-1} or None]).

    Faithful to the reference evaluate loop (funnel.rs:457-660):
    - window expiry: flush attempt, reset, SAME row continues at step 0
    - exclude/constant violation: reset WITHOUT flushing, reprocess row
    - completion: flush; Unique mode stops the partition
    """
    n = len(ts)
    out: list[tuple[int, bool, list]] = []
    cur = 0
    completed_n = 0
    step_ts: list = [None] * k
    const_idx = -1

    def flush():
        nonlocal completed_n
        if completed_n == 0:
            return False
        done = _is_completed(completed_n, k, flt, step_ts)
        # null out slots beyond the attempt's progress — the machine
        # reuses the buffer across attempts (as the reference does) but
        # stale timestamps must not escape
        out.append((completed_n, done, [step_ts[j] if j < completed_n else None for j in range(k)]))
        return done

    def matches(step_idx: int, row: int) -> bool:
        order = step_orders[step_idx]
        if isinstance(order, tuple) and order[0] == "any":
            return any(steps[s][row] for rng in order[1] for s in range(rng[0], rng[1] + 1))
        return bool(steps[step_idx][row])

    i = 0
    while i < n:
        if cur > 0:
            # ORDER mirrors the reference loop (funnel.rs:545-591):
            # excludes FIRST (reset without flush — an expired attempt
            # ended by an exclude row is dropped unflushed, as the
            # reference does), THEN window expiry (flush + reset, same
            # row continues), THEN constants — so a constant-violating
            # row arriving after expiry flushes the expired attempt
            # before its deviating value can erase it.
            violated = False
            for arr, rng in excludes:
                relevant = rng is None or (rng[0] <= cur <= rng[1])
                if relevant and arr[i]:
                    violated = True
                    break
            if violated:
                cur = 0
                completed_n = 0
                continue  # reprocess this row at step 0
            if ts[i] - step_ts[0] > window_us:
                flush()
                cur = 0
                completed_n = 0
                # no continue: same row may start a new attempt below
        if cur == 0:
            const_idx = i
        elif consts:
            violated = False
            for c in consts:
                a, b = c[const_idx], c[i]
                if not (a == b or (a != a and b != b)):  # NaN-safe equality
                    violated = True
                    break
            if violated:
                cur = 0
                completed_n = 0
                continue  # reprocess this row at step 0
        if matches(cur, i):
            step_ts[cur] = int(ts[i])
            completed_n += 1
            if cur < k - 1:
                cur += 1
            else:
                done = flush()
                cur = 0
                completed_n = 0
                if done and unique:
                    break
        i += 1
    flush()
    return out


def funnel_attempts(
    events: DataFrame,
    req: FunnelRequest,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """Per-attempt funnel results: one row per attempt with per-step
    timestamps (epoch µs), completion flag and touch-attributed ts.

    ``assume_partitioned``: the caller guarantees every user's rows
    already live in one partition (events read from a table bucketed
    by the group column — see ingest.write_events_bucketed). Skips
    the funnel's single shuffle: the machine then only sorts within
    partitions, which is the write-time-bucketing payoff the
    reference gets from its (project, user) LSM sort order. Wrong use
    (unbucketed input) silently splits users across partitions and
    undercounts conversions — only set it when the write layout
    enforces the invariant.

    ``max_rows_per_user``: whale-user guard. A pathological user (bot
    traffic) can carry millions of rows; the kernel would buffer all
    of them across Arrow batches. With a cap, only the FIRST
    ``max_rows_per_user`` rows (time order) of each user feed the
    machine; the rest are dropped with an executor-log warning. The
    reference inherits the same hazard from its (project, user) sort
    order and has no cap — this exceeds it. Default None (no cap).

    ``whale_acc``: optional Spark accumulator
    (``sc.accumulator(0)``). Executor warnings are invisible to the
    driver, so the truncation path also adds the number of dropped
    rows here — harnesses and monitors read it after an action to
    assert the guard actually fired (skew_check.py does)."""
    k = len(req.steps)
    if k < 1:
        raise ValueError("funnel needs at least one step")

    from ..shipping import ensure_shipped

    ensure_shipped(events.sparkSession)

    cond = full_filter(req.time, None, req.filters)
    df = events.filter(cond) if cond is not None else events
    if segment_users is not None:
        df = df.join(segment_users.hint("broadcast"), req.group_col, "left_semi")

    # step / exclude match expressions evaluated ONCE, JVM-side.
    # event_spec_expression returns None for a match-ALL spec
    # (EventRef() with no name, no filters) — that None means TRUE,
    # not "drop this member": an OR containing a match-all member is
    # TRUE, and a match-all exclude excludes every row.
    def _spec_or(specs) -> Column:
        exprs = [event_spec_expression(s) for s in specs]
        if any(e is None for e in exprs):
            return F.lit(True)
        return multi_or(exprs)

    step_cols = [
        _spec_or(st.events).alias(f"__s{i}") for i, st in enumerate(req.steps)
    ]
    excl_cols = [
        (e if (e := event_spec_expression(ex.event)) is not None else F.lit(True)
         ).alias(f"__x{j}")
        for j, ex in enumerate(req.excludes)
    ]
    const_cols = [prop_col(c).alias(f"__c{j}") for j, c in enumerate(req.constants)]
    bd_cols = [prop_col(b).alias(b.name) for b in req.breakdowns]

    # rows whose group key is null (anonymous events) or fails the
    # long cast can't enter the per-user machine: the kernel's numpy
    # int conversion would crash on the NaN they decode to, and
    # NaN != NaN would make every such row its own "user". Drop them
    # here, explicitly — the reference never sees them because its
    # ingest always assigns a user id.
    df = df.filter(F.col(req.group_col).cast("long").isNotNull())
    proj = df.select(
        F.col(req.group_col).cast("long").alias(EVENT_USER_COL),
        F.unix_micros(F.col(EVENT_TIME_COL)).alias("__ts"),
        F.col(EVENT_ID_COL).alias("__eid"),
        *step_cols,
        *excl_cols,
        *const_cols,
        *bd_cols,
    )
    # scan reduction: only funnel-relevant rows reach the Python kernel.
    # EXCEPT when holding constants are present: the reference checks
    # constants on EVERY row while mid-funnel (check_constants,
    # funnel.rs:571-584 — input is only time/global-filtered), so a
    # non-step event carrying a different constant value must reset the
    # attempt; pre-filtering to step/exclude rows would hide it.
    # Session count-mode likewise needs the full stream: the session
    # gap detection must see every event, not just step rows.
    if not req.constants and req.count_mode != FunnelCountMode.SESSION:
        relevant = multi_or(
            [F.col(f"__s{i}") for i in range(k)]
            + [F.col(f"__x{j}") for j in range(len(req.excludes))]
        )
        proj = proj.filter(relevant)

    if req.count_mode == FunnelCountMode.SESSION and req.breakdowns:
        # With breakdowns the kernel sorts (user, bd, ts) and sees one
        # bd-group's timestamps at a time — gap detection there would
        # fragment a user's REAL session (module contract: gaps are
        # measured over all activity). Precompute the session id over
        # the user's full stream; the window's (user) distribution is
        # the same key the funnel shuffles on, so Catalyst satisfies
        # it with that single exchange (plus a sort the kernel's
        # sortWithinPartitions redoes by (user, bd, ts) afterwards).
        from pyspark.sql import Window as _W

        _w = _W.partitionBy(EVENT_USER_COL).orderBy("__ts", "__eid")
        _gap = F.col("__ts") - F.lag("__ts").over(_w)
        _new = F.when(
            _gap.isNull() | (_gap > F.lit(SESSION_GAP_US)), F.lit(1)
        ).otherwise(F.lit(0))
        proj = proj.withColumn(
            "__sess",
            F.sum(_new).over(_w.rowsBetween(_W.unboundedPreceding, 0)),
        )

    bd_types = [proj.schema[b.name].dataType for b in req.breakdowns]
    schema = _attempt_schema(req, bd_types)
    for idx, st in enumerate(req.steps):
        if st.order == StepOrder.ANY and not st.any_ranges:
            # any() over zero ranges is constant-False: the funnel
            # would silently stall at this step and report plausible
            # zero conversions — reject at request validation instead
            raise ValueError(
                f"step {idx}: StepOrder.ANY requires non-empty any_ranges")
    step_orders = [
        ("any", [tuple(r) for r in st.any_ranges]) if st.order == StepOrder.ANY else "exact"
        for st in req.steps
    ]
    excl_ranges = [ex.between_steps for ex in req.excludes]
    n_excl = len(req.excludes)
    n_const = len(req.constants)
    bd_names = [b.name for b in req.breakdowns]
    window_us = req.window_ms * 1000
    flt = req.filter
    unique = req.count_mode == FunnelCountMode.UNIQUE
    sessionized = req.count_mode == FunnelCountMode.SESSION
    touch = req.touch
    touch_step = req.touch_step

    out_cols = [f.name for f in schema.fields]

    cap = max_rows_per_user
    if cap is not None:
        # PRE-SHUFFLE whale prune: the kernel-side cap alone would
        # still ship every whale row through the user-hash shuffle
        # into one task (a 100M-row bot user = one monster task no
        # matter what the kernel drops afterwards). ONE pass over a
        # (user, ts, eid)-only projection computes both the per-user
        # total (count over the user partition) and the cap-th cutoff
        # (ordered row_number) in the SAME user-hash exchange — the
        # two window specs share partitioning and sort, so Catalyst
        # plans one shuffle and one sort, two Window nodes on top.
        # Cutoffs join back and filter the main scan, so the wide
        # shuffle carries at most ``cap`` rows per user. Cost: one
        # extra column-pruned pass over the filtered events (was two —
        # a count pass plus a whale-only sort pass; the fold halves
        # the scan work, which dominated the guard's premium).
        # The cutoff frame is NOT force-broadcast: one row per
        # over-cap user is usually tiny, but a small cap over a large
        # bot population could make it arbitrarily large, and a forced
        # broadcast bypasses autoBroadcastJoinThreshold — AQE picks
        # broadcast on its own when the side is actually small.
        from pyspark.sql import Window

        narrow = proj.select(EVENT_USER_COL, "__ts", "__eid")
        w = Window.partitionBy(EVENT_USER_COL).orderBy("__ts", "__eid")
        wu = Window.partitionBy(EVENT_USER_COL)
        cut = (
            narrow.select(
                EVENT_USER_COL,
                "__ts",
                "__eid",
                F.row_number().over(w).alias("__rn"),
                F.count(F.lit(1)).over(wu).alias("__wn"),
            )
            .filter((F.col("__wn") > cap) & (F.col("__rn") == cap))
            .select(
                EVENT_USER_COL,
                F.col("__ts").alias("__cut_ts"),
                F.col("__eid").alias("__cut_eid"),
                "__wn",
            )
        )
        proj = (
            proj.join(cut, EVENT_USER_COL, "left")
            .filter(
                F.col("__cut_ts").isNull()
                | (F.col("__ts") < F.col("__cut_ts"))
                | ((F.col("__ts") == F.col("__cut_ts"))
                   & (F.col("__eid") <= F.col("__cut_eid")))
            )
            .drop("__cut_ts", "__cut_eid")
        )  # __wn rides along (null for non-whales) so the kernel can warn

    def process_frame(pdf: pd.DataFrame) -> list:
        """All attempts for a frame of COMPLETE users (index reset):
        numpy boundary detection instead of per-group pandas frames —
        the per-user-call overhead of groupBy().applyInPandas is the
        dominant cost at scale."""
        users = pdf[EVENT_USER_COL].to_numpy()
        wn_arr = pdf["__wn"].to_numpy() if "__wn" in pdf.columns else None
        all_sess = pdf["__sess"].to_numpy() if "__sess" in pdf.columns else None
        all_ts = pdf["__ts"].to_numpy()
        all_steps = [pdf[f"__s{i}"].fillna(False).to_numpy() for i in range(k)]
        all_excls = [pdf[f"__x{j}"].fillna(False).to_numpy() for j in range(n_excl)]
        all_consts = [pdf[f"__c{j}"].to_numpy() for j in range(n_const)]
        if bd_names:
            # rows arrive sorted by (user, *breakdowns, ts): each
            # (user, bd) machine input is CONTIGUOUS, so group starts
            # fall out of one vectorized row-vs-previous comparison —
            # no per-user pandas groupby (whose per-group machinery
            # dominated when users x breakdown-values was large)
            bdf = pdf[bd_names]
            prev = bdf.shift()
            bd_change = (bdf.ne(prev) & ~(bdf.isna() & prev.isna())) \
                .any(axis=1).to_numpy()
            if len(bd_change):
                bd_change[0] = True
            bd_arrs = [pdf[c].to_numpy() for c in bd_names]
        else:
            bd_change = bd_arrs = None

        bounds = np.flatnonzero(users[1:] != users[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(users)]))
        results = []

        def run_rows(idx, user: int, bd_vals: tuple):
            # idx is a SLICE for the contiguous common case (numpy
            # views, zero copies per group) and an int array only on
            # the cold backstop path where kept rows are non-contiguous
            ts = all_ts[idx]
            steps = [a[idx] for a in all_steps]
            excls = [(all_excls[j][idx], excl_ranges[j]) for j in range(n_excl)]
            consts = [c[idx] for c in all_consts]
            if sessionized:
                if all_sess is not None:
                    # true sessions precomputed over the FULL user
                    # stream (breakdown grouping fragments the ts view)
                    sess = all_sess[idx]
                else:
                    gaps = np.diff(ts, prepend=ts[0] if len(ts) else 0)
                    sess = np.cumsum(gaps > SESSION_GAP_US)
            else:
                sess = None
            sessions = np.unique(sess) if sess is not None else [None]
            for s in sessions:
                m = slice(None) if s is None else sess == s
                attempts = _run_machine(
                    ts[m], [a[m] for a in steps],
                    [(a[m], r) for a, r in excls],
                    [c[m] for c in consts],
                    step_orders, window_us, k, flt, unique,
                )
                for steps_completed, done, sts in attempts:
                    ti = 0 if touch == FunnelTouch.FIRST else (
                        max(steps_completed - 1, 0) if touch == FunnelTouch.LAST
                        else min(touch_step, max(steps_completed - 1, 0))
                    )
                    attr = sts[ti] if sts[ti] is not None else sts[0]
                    results.append((user, *bd_vals, steps_completed, done, attr, *sts))

        for st, en in zip(starts, ends):
            user = int(users[st])
            sel = None
            if wn_arr is not None and not np.isnan(wn_arr[st]):
                # pre-shuffle prune already truncated this whale to
                # cap rows; __wn carries their TRUE row count
                _warn_whale(user, int(wn_arr[st]))
            elif cap is not None and en - st > cap:
                # backstop — unreachable when the prune ran, but keeps
                # the kernel safe if called on a hand-built frame
                _warn_whale(user, en - st)
                if bd_names:
                    # keep the cap time-EARLIEST rows: the frame is
                    # (bd, ts)-sorted here, so a positional cut would
                    # keep whole early-sorting breakdown groups instead
                    # of the earliest events, diverging from the
                    # prune's (ts, eid) cutoff. np.sort restores the
                    # kept rows to (bd, ts) order for the grouping.
                    order = np.argsort(
                        all_ts[st:en], kind="stable")[:cap]
                    sel = st + np.sort(order)
                else:
                    en = st + cap
            if bd_names:
                if sel is None:
                    cs = np.flatnonzero(bd_change[st:en])
                    if len(cs) == 0 or cs[0] != 0:
                        cs = np.concatenate(([0], cs))
                    ce = np.append(cs[1:], en - st)
                    for s, e in zip(cs, ce):
                        bd_vals = tuple(a[st + s] for a in bd_arrs)
                        run_rows(slice(st + s, st + e), user, bd_vals)
                else:
                    sub = pdf.iloc[sel][bd_names]
                    prev = sub.shift()
                    chg = (sub.ne(prev) & ~(sub.isna() & prev.isna())) \
                        .any(axis=1).to_numpy()
                    chg[0] = True
                    cs = np.flatnonzero(chg)
                    ce = np.append(cs[1:], len(sel))
                    for s, e in zip(cs, ce):
                        bd_vals = tuple(a[sel[s]] for a in bd_arrs)
                        run_rows(sel[s:e], user, bd_vals)
            else:
                run_rows(slice(st, en), user, ())
        return results

    def _warn_whale(user: int, n: int) -> None:
        import warnings

        warnings.warn(
            f"funnel: user {user} has {n} rows, truncating to first "
            f"{cap} (max_rows_per_user)", RuntimeWarning)
        if whale_acc is not None:
            whale_acc.add(n - cap)

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """STREAM the sorted partition batch-by-batch: memory is
        O(Arrow batch + one boundary user), not O(partition). Rows
        are (user, ts) sorted, so only the LAST user of each batch
        can continue into the next — that user's rows are carried
        over; everything before the boundary is processed and
        emitted immediately. The reference streams 4096-row batches
        through its state machine the same way (funnel.rs:457-660)."""
        carry: Optional[pd.DataFrame] = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                if int(pdf[EVENT_USER_COL].iat[0]) == int(carry[EVENT_USER_COL].iat[-1]):
                    # boundary user straddles the batch edge: buffer
                    # ONLY their rows, keep streaming everything else
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                else:
                    res = process_frame(carry)
                    if res:
                        yield pd.DataFrame(res, columns=out_cols)
                carry = None
            users = pdf[EVENT_USER_COL].to_numpy()
            last = users[-1]
            neq = np.flatnonzero(users != last)
            cut = int(neq[-1]) + 1 if len(neq) else 0
            carry = pdf.iloc[cut:]
            if cap is not None and len(carry) > cap:
                # bound the carry buffer itself: concat above would
                # otherwise re-grow a whale across many batches. Keep
                # the cap time-EARLIEST rows (matching the prune's
                # cutoff semantics — a positional cut under the
                # (bd, ts) sort would keep early breakdown groups
                # instead), preserving their original relative order.
                _warn_whale(int(last), len(carry))
                keep = np.sort(np.argsort(
                    carry["__ts"].to_numpy(), kind="stable")[:cap])
                carry = carry.iloc[keep]
            carry = carry.reset_index(drop=True)
            if cut:
                res = process_frame(pdf.iloc[:cut].reset_index(drop=True))
                if res:
                    yield pd.DataFrame(res, columns=out_cols)
        if carry is not None and len(carry):
            res = process_frame(carry)
            if res:
                yield pd.DataFrame(res, columns=out_cols)

    base = proj if assume_partitioned else proj.repartition(F.col(EVENT_USER_COL))
    # breakdown columns join the sort key so each (user, bd) machine
    # input is contiguous and ts-ordered — the kernel then finds group
    # boundaries with one vectorized comparison instead of a pandas
    # groupby per user (see process_frame)
    sorted_by_user = base.sortWithinPartitions(
        EVENT_USER_COL, *bd_names, "__ts", "__eid")
    return sorted_by_user.mapInPandas(run_partition, schema)


def _report_from_attempts(attempts: DataFrame, k: int, keys: list,
                          key_names: Optional[list] = None) -> DataFrame:
    """Shared per-step metric block over an attempts frame: total,
    conversion_ratio, dropped_off, drop_off_ratio, time_to_convert
    (+ the from-start twins), avg_time_to_convert — the reference's
    reserved result columns (common/src/types.rs:73-80, finalize
    funnel.rs:699-860).

    Deliberately NOT filtered by FunnelRequest.filter — reference
    parity: push_result (funnel.rs:209-235) accumulates EVERY attempt
    into the bucket counters regardless of the filter; the filter's
    is_completed verdict only controls Unique-mode early-stop
    (funnel.rs:637-641) and the attempts frame's is_completed column,
    which drop-off queries consume directly."""
    # r16 (optimization round): every metric is ONE parsed SQL
    # expression instead of a tree of F.when/F.col py4j calls — the
    # per-call report construction measured ~0.4 s of driver
    # round-trips for k=3 (guide §7.3: planning is driver-side,
    # single-process). Semantics are expression-for-expression
    # identical; double literals carry the `D` suffix (a bare 1000.0
    # parses as DECIMAL(5,1) in Spark SQL, which would change the
    # division's type and break the hash oracle).
    aggs = []
    for i in range(k):
        # sum exact integer µs, divide ONCE at the end: float summation
        # order varies with partitioning, an integer sum doesn't — this
        # is what makes the report reproducible by a SQL oracle
        aggs.append(F.expr(
            f"sum(cast((steps_completed > {i}) as bigint)) AS step{i}_total"))
        if i > 0:
            aggs.append(F.expr(
                f"sum(CASE WHEN steps_completed > {i} "
                f"THEN ts_{i} - ts_{i-1} END) / 1000.0D "
                f"AS step{i}_time_to_convert"))
            aggs.append(F.expr(
                f"sum(CASE WHEN steps_completed > {i} "
                f"THEN ts_{i} - ts_0 END) / 1000.0D "
                f"AS step{i}_time_to_convert_from_start"))

    out = attempts.groupBy(*keys).agg(*aggs) if keys else attempts.agg(*aggs)

    # ONE selectExpr call for the whole projection: every string is
    # parsed server-side in a single py4j round-trip (a Column-list
    # select was ~20 round-trips per report)
    cols = [f"`{n}`" for n in (key_names or [])]
    for i in range(k):
        cols.append(f"step{i}_total")
        if i == 0:
            cols.append(f"100.0D AS step{i}_conversion_ratio")
            continue
        ratio = (
            f"(CASE WHEN step0_total > 0 THEN cast(step{i}_total as double)"
            f" / cast(step0_total as double) * 100 ELSE 0.0D END)"
        )
        cols.append(f"{ratio} AS step{i}_conversion_ratio")
        cols.append(
            f"step{i-1}_total - step{i}_total AS step{i}_dropped_off")
        cols.append(f"100.0D - {ratio} AS step{i}_drop_off_ratio")
        cols.append(f"step{i}_time_to_convert")
        cols.append(
            f"CASE WHEN step{i}_total > 0 THEN step{i}_time_to_convert"
            f" / step{i}_total ELSE 0.0D END AS step{i}_avg_time_to_convert")
        # from-start twins — the reference's reserved columns
        # (finalize funnel.rs:743-758 emits both per-step sums and
        # averages measured from step 0, not just from step i-1)
        cols.append(f"step{i}_time_to_convert_from_start")
        cols.append(
            f"CASE WHEN step{i}_total > 0 THEN"
            f" step{i}_time_to_convert_from_start / step{i}_total"
            f" ELSE 0.0D END AS step{i}_avg_time_to_convert_from_start")
    cols.append("step0_total AS total")
    cols.append(f"step{k-1}_total AS completed")
    return out.selectExpr(*cols)


def funnel_report(
    events: DataFrame,
    req: FunnelRequest,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """ConversionOverTime chart: per (bucket, *breakdowns) one row with
    per-step metrics (reference ChartType::ConversionOverTime,
    common/src/funnel.rs:134-153). ``assume_partitioned`` /
    ``max_rows_per_user`` / ``whale_acc`` pass through to
    funnel_attempts (bucketed-layout shuffle elision and the
    whale-user guard apply to chart queries the same way)."""
    k = len(req.steps)
    attempts = funnel_attempts(
        events, req, segment_users,
        assume_partitioned=assume_partitioned,
        max_rows_per_user=max_rows_per_user, whale_acc=whale_acc,
    )

    bucket = F.date_trunc(req.interval.value, F.timestamp_micros(F.col("attempt_ts")))
    if req.interval.value in ("day", "week", "month", "year"):
        bucket = bucket.cast("date")
    keys = [bucket.alias("bucket")] + [F.col(b.name) for b in req.breakdowns]
    return _report_from_attempts(
        attempts, k, keys, ["bucket"] + [b.name for b in req.breakdowns]
    )


def funnel_steps_report(
    events: DataFrame,
    req: FunnelRequest,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """Steps chart: bucketless per-step totals — the reference's
    ChartType::Steps maps to time_interval None, i.e. one global
    bucket (common/src/funnel.rs:146-153, funnel.rs push_result takes
    the single pre-created bucket when time_unit is None). The layout
    and whale-guard knobs pass through like every report wrapper —
    a Steps chart over a whale corpus needs the guard just as much."""
    k = len(req.steps)
    attempts = funnel_attempts(
        events, req, segment_users,
        assume_partitioned=assume_partitioned,
        max_rows_per_user=max_rows_per_user, whale_acc=whale_acc,
    )
    keys = [F.col(b.name) for b in req.breakdowns]
    return _report_from_attempts(attempts, k, keys, [b.name for b in req.breakdowns])


def funnel_time_to_convert_dist(
    events: DataFrame,
    req: FunnelRequest,
    interval_ms: int = 3_600_000,
    min_interval: int = 0,
    max_interval: Optional[int] = None,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """TimeToConvert chart: histogram of completed attempts by
    conversion duration, bucketed into ``interval_ms`` bins clamped to
    [min_interval, max_interval] (bin indices). The reference declares
    ChartType::TimeToConvert{interval_unit, min_interval, max_interval}
    (common/src/funnel.rs:139-144) but never assembles it engine-side;
    semantics defined here: bin = clamp(floor((ts_last-ts_0)/interval),
    min, max), one row per non-empty bin with its attempt count."""
    k = len(req.steps)
    if max_interval is None:
        max_interval = req.window_ms // interval_ms + 1
    attempts = funnel_attempts(
        events, req, segment_users,
        assume_partitioned=assume_partitioned,
        max_rows_per_user=max_rows_per_user, whale_acc=whale_acc,
    )
    # exact integer µs division — float flooring could misbin boundary
    # values differently than a SQL oracle's integer division
    interval_us = interval_ms * 1000
    bin_ = F.expr(f"(ts_{k-1} - ts_0) div {interval_us}")
    bin_ = F.greatest(F.lit(min_interval).cast("long"),
                      F.least(F.lit(max_interval).cast("long"), bin_))
    return (
        attempts.filter(F.col("steps_completed") == k)
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def funnel_ttc_percentiles(
    events: DataFrame,
    req: FunnelRequest,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """Per-step time-to-convert summary: for completed attempts, the
    distribution of ts_step − ts_anchor per step — (step, n_conversions,
    p50_us, p90_us, max_us), one row per non-anchor step. The summary
    the TimeToConvert chart's histogram (funnel_time_to_convert_dist)
    is usually reduced to in a UI header ("median time to purchase"),
    computed exactly from the same attempt frame: durations are exact
    integer µs, percentiles are Spark's native interpolated
    `percentile` over them. NonUnique so every completion contributes.

    Plan: the attempt frame is user-partitioned (one shuffle, shared
    with every funnel chart); the stack() step-unpivot is narrow; the
    final per-step aggregate is k−1 groups."""
    import dataclasses

    k = len(req.steps)
    req_nu = dataclasses.replace(req, count_mode=FunnelCountMode.NON_UNIQUE)
    attempts = funnel_attempts(
        events, req_nu, segment_users,
        assume_partitioned=assume_partitioned,
        max_rows_per_user=max_rows_per_user, whale_acc=whale_acc,
    )
    pairs = ", ".join(f"{i}, ts_{i} - ts_0" for i in range(1, k))
    durs = attempts.filter(F.col("steps_completed") == k).select(
        F.expr(f"stack({k - 1}, {pairs}) AS (step, dur_us)"))
    return durs.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.percentile("dur_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("dur_us", F.lit(0.9)).alias("p90_us"),
        F.max("dur_us").alias("max_us"),
    )


def funnel_frequency(
    events: DataFrame,
    req: FunnelRequest,
    segment_users: Optional[DataFrame] = None,
    assume_partitioned: bool = False,
    max_rows_per_user: Optional[int] = None,
    whale_acc=None,
) -> DataFrame:
    """Frequency chart: distribution of users by how many times they
    completed the funnel (reference ChartType::Frequency,
    common/src/funnel.rs:144 — declared, never assembled engine-side).
    Counts every completion, so the machine runs in NonUnique mode;
    users who attempted but never converted appear as n_conversions=0.
    """
    import dataclasses

    k = len(req.steps)
    req_nu = dataclasses.replace(req, count_mode=FunnelCountMode.NON_UNIQUE)
    attempts = funnel_attempts(
        events, req_nu, segment_users,
        assume_partitioned=assume_partitioned,
        max_rows_per_user=max_rows_per_user, whale_acc=whale_acc,
    )
    per_user = attempts.groupBy(EVENT_USER_COL).agg(
        F.sum((F.col("steps_completed") == k).cast("long")).alias("n_conversions")
    )
    return per_user.groupBy("n_conversions").agg(
        F.count(F.lit(1)).alias("n_users")
    )
