"""A/B experiment analysis — beyond the reference.

The reference ships segments and funnels but no experiment readout
(no experiment/variant types anywhere in common/src or query/src);
every product-analytics surface pairs one with its event stream, so
it is built here Spark-first:

- assignment: each user's FIRST exposure event inside the window
  (deterministic (ts, event_id) order) fixes their variant — first
  touch, the standard guard against mid-experiment reassignment
  contaminating the readout;
- conversion: a user converts when the conversion event occurs
  STRICTLY AFTER their first exposure timestamp (a conversion logged
  before the user ever saw the experiment cannot be attributed);
- readout per variant: users, conversions, conversion rate, absolute
  lift vs the named control, and the two-proportion pooled z-score —
  pure arithmetic on the aggregates, so the whole report is
  engine-deterministic and oracle-checkable (no simulation, no RNG).

Plan shape (the 100 TB story): exposures reduce to one row per user
via a row_number window (same user-hash partitioning as the funnel);
conversions reduce to one (user, max ts) row via partial-aggregated
groupBy BEFORE the join — both sides are user-scale, not event-scale;
the per-variant aggregate is a handful of rows, and the control row
joins back by broadcast. Nothing leaves the JVM.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..dsl import EventRef, PropFilter, QueryTime
from ..exprs import full_filter
from ..schema import EVENT_ID_COL, EVENT_TIME_COL, EVENT_USER_COL
from ._util import CallerError


def _variant_conversions(
    events: DataFrame,
    variant_col: Column,
    exposure_event: EventRef,
    conversion_event: EventRef,
    time: QueryTime,
    filters: tuple[PropFilter, ...],
    group_col: str,
) -> DataFrame:
    """(variant, n_users, n_converted, cvr) — the shared
    first-exposure → strictly-later-conversion recipe both readouts
    aggregate from (see module docstring for the semantics and the
    plan shape)."""
    exp_cond = full_filter(time, exposure_event, filters)
    exposures = events.filter(exp_cond) if exp_cond is not None else events
    w = Window.partitionBy(group_col).orderBy(EVENT_TIME_COL, EVENT_ID_COL)
    first_exp = (
        exposures.select(
            F.col(group_col),
            EVENT_TIME_COL,
            EVENT_ID_COL,
            variant_col.alias("variant"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(group_col, F.col(EVENT_TIME_COL).alias("__t0"), "variant")
    )

    conv_cond = full_filter(time, conversion_event, filters)
    conv = events.filter(conv_cond) if conv_cond is not None else events
    conv_max = conv.groupBy(group_col).agg(
        F.max(EVENT_TIME_COL).alias("__conv_max"))

    per_user = first_exp.join(conv_max, group_col, "left").select(
        "variant",
        F.when(F.col("__conv_max") > F.col("__t0"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__converted"),
    )
    return per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__converted").alias("n_converted"),
    ).withColumn(
        "cvr", F.col("n_converted").cast("double") / F.col("n_users"))


#: z_{0.975} — the two-sided 95% normal quantile the Wilson interval
#: conventionally uses; a double literal so both engines compute with
#: the identical constant
Z_95 = 1.959963984540054


def conversion_wilson_ci(
    events: DataFrame,
    variant_col: Column,
    exposure_event: EventRef,
    conversion_event: EventRef,
    time: QueryTime,
    filters: tuple[PropFilter, ...] = (),
    group_col: str = EVENT_USER_COL,
    z: float = Z_95,
) -> DataFrame:
    """Per-variant conversion rate with the Wilson score interval —
    (variant, n_users, n_converted, cvr, ci_low, ci_high).

    The Wilson interval is the standard small-and-skewed-safe CI for
    a binomial proportion (never leaves [0, 1], behaves at cvr ≈ 0 or
    1 where the naive Wald interval collapses) — it is what an
    experiment UI draws as the error bars per arm. Pure arithmetic
    over the per-variant aggregate, expression structure mirrored
    verbatim in the oracle SQL so the doubles match bit-for-bit:

        denom  = 1 + z²/n
        center = (p + z²/(2n)) / denom
        half   = z·sqrt(p(1−p)/n + z²/(4n²)) / denom

    Plan: the per-variant frame is a handful of rows; the CI columns
    are projection-only on top of the shared user-grain reduction."""
    per_variant = _variant_conversions(
        events, variant_col, exposure_event, conversion_event, time,
        filters, group_col)
    z2 = z * z
    n = F.col("n_users").cast("double")
    p = F.col("cvr")
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (p + F.lit(z2) / (F.lit(2.0) * n)) / denom
    half = (F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n
        + F.lit(z2) / (F.lit(4.0) * n * n))) / denom
    return per_variant.select(
        "variant",
        "n_users",
        "n_converted",
        "cvr",
        (center - half).alias("ci_low"),
        (center + half).alias("ci_high"),
    )


def experiment_report(
    events: DataFrame,
    variant_col: Column,
    exposure_event: EventRef,
    conversion_event: EventRef,
    time: QueryTime,
    control: str,
    filters: tuple[PropFilter, ...] = (),
    group_col: str = EVENT_USER_COL,
) -> DataFrame:
    """Per-variant experiment readout.

    Output: (variant, n_users, n_converted, cvr, lift, z_score),
    ``lift``/``z_score`` NULL on the control row. ``variant_col`` is
    any deterministic expression over the exposure event's row (a
    property column, a JSON prop, a derived bucket)."""
    per_variant = _variant_conversions(
        events, variant_col, exposure_event, conversion_event, time,
        filters, group_col)
    # the control as the variant's type: a name that does not parse
    # as that type (``"nope"`` against an int property) is NULL and
    # matches nothing, instead of failing the job on the ANSI cast
    control_v = F.lit(control).try_cast(per_variant.schema["variant"].dataType)
    ctrl = per_variant.filter(F.col("variant") == control_v).select(
        F.col("n_users").alias("__cn"),
        F.col("n_converted").alias("__cx"),
        F.col("cvr").alias("__ccvr"),
    )
    # a control that matches no exposures would cross-join the report
    # against zero rows and return an EMPTY readout with no hint the
    # control name was wrong — fail loudly instead (one bounded job
    # over the user-grain aggregate; a readout query, not a pipeline)
    if not ctrl.head(1):
        raise CallerError(
            f"control variant {control!r} matched no exposures")
    # two-proportion pooled z: p = (x1+x2)/(n1+n2),
    # z = (cvr - ccvr) / sqrt(p (1-p) (1/n1 + 1/n2)) — expression
    # structure mirrored verbatim in the oracle SQL so the doubles
    # match bit-for-bit
    p = (F.col("n_converted") + F.col("__cx")).cast("double") / (
        F.col("n_users") + F.col("__cn"))
    se = F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n_users") + F.lit(1.0) / F.col("__cn")))
    not_ctrl = F.col("variant") != control_v
    return (
        per_variant.join(F.broadcast(ctrl))
        .select(
            "variant",
            "n_users",
            "n_converted",
            "cvr",
            F.when(not_ctrl, F.col("cvr") - F.col("__ccvr")).alias("lift"),
            F.when(not_ctrl & (se > 0),
                   (F.col("cvr") - F.col("__ccvr")) / se).alias("z_score"),
        )
    )


#: chi-square critical values at alpha = 0.001 (the conventional SRM
#: threshold — Fabijan et al., "Diagnosing Sample Ratio Mismatch",
#: KDD'19 is the public reference), df 1..9
SRM_CRIT_001 = {
    1: 10.828, 2: 13.816, 3: 16.266, 4: 18.467, 5: 20.515,
    6: 22.458, 7: 24.322, 8: 26.124, 9: 27.877,
}

# z_{0.999} (one-sided) for the Wilson-Hilferty chi-square critical
# value used when df >= 10 (past the exact SRM_CRIT_001 table).
SRM_Z_001 = 3.090232306167813


def srm_check(
    events: DataFrame,
    variant_col: Column,
    exposure_event: EventRef,
    time: QueryTime,
    expected: Optional[dict] = None,
    filters: tuple[PropFilter, ...] = (),
    group_col: str = EVENT_USER_COL,
) -> DataFrame:
    """Sample-ratio-mismatch check — the A/B experiment's health
    gate: per-variant FIRST-EXPOSURE user counts vs the expected
    allocation, chi-square statistic, and a flag at the α=0.001
    critical value (an SRM means the assignment mechanism is broken
    and every downstream readout is invalid; testing it at 0.001 is
    the standard convention, see SRM_CRIT_001).

    ``expected`` maps variant → allocation share (must cover every
    observed variant and sum to ~1); ``None`` means equal split
    across the observed variants. Output: one row per variant
    (variant, n_users, expected_users, chi2_contrib) with the global
    ``chi2_stat``/``srm_flag`` repeated — the grid a dashboard
    renders, flag first.

    Determinism: counts are integers; expected and contrib are
    single correctly-rounded double ops; contribs round-9 → DECIMAL
    before the SUM (the attribution share recipe), so the statistic
    hash-matches the oracle. Scale shape: assignment reduces to one
    row per user (window, user-hash partitioned), then ONE tiny
    groupBy(variant); everything after operates on k rows.
    """
    exp_cond = full_filter(time, exposure_event, filters)
    exposures = events.filter(exp_cond) if exp_cond is not None else events
    w = Window.partitionBy(group_col).orderBy(EVENT_TIME_COL, EVENT_ID_COL)
    first_exp = (
        exposures.select(
            F.col(group_col), EVENT_TIME_COL, EVENT_ID_COL,
            variant_col.alias("variant"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    from ._util import track_persist

    # persist at the reduction point: `counts` is k rows but derives
    # from the scan + per-user assignment window, and it feeds FOUR
    # consumers (the missing-variant validation head, the totals
    # aggregate, the contrib join, and the chi2 stat) — unpersisted,
    # each re-ran the whole assignment subtree (4 scans in
    # plans/r16/exp_srm_check_before.txt; 1 after).
    counts = track_persist(
        first_exp.groupBy("variant").agg(
            F.count(F.lit(1)).alias("n_users")).withColumn(
            "__k", F.lit(1)))
    spark = events.sparkSession
    if expected is not None:
        if abs(sum(expected.values()) - 1.0) > 1e-9:
            raise ValueError(f"expected shares must sum to 1: {expected}")
        # a declared 0-share arm makes the chi-square undefined (its
        # expected cell is 0 while any observed traffic there is an
        # infinite contribution) — reject up front rather than letting
        # the zero-TOTAL guard below silently zero the cell
        if any(s <= 0 for s in expected.values()):
            raise ValueError(
                f"expected shares must all be > 0: {expected}")
        # df is fixed by the DECLARED allocation — validate before any
        # job so a malformed request (a single arm) fails as a 400,
        # never a silently-unflagged statistic; df ≥ 10 is served by
        # the Wilson-Hilferty approximation below
        if len(expected) < 2:
            raise ValueError(
                f"srm_check needs >= 2 expected variants, got "
                f"{len(expected)}")
        shares = spark.createDataFrame(
            [(v, float(s)) for v, s in sorted(expected.items())],
            "variant string, __share double")
        # chi-square cells are the UNION of expected and observed
        # variants: an expected-but-UNOBSERVED arm is the most extreme
        # sample-ratio mismatch there is (all its traffic went
        # elsewhere) and must contribute its zero-count cell — a left
        # join from observed counts would drop it and could report
        # srm_flag=False on a totally broken allocation
        counts = counts.join(shares, "variant", "full_outer")
        # an observed variant missing from the allocation IS an SRM
        # by definition — but a silent NULL would drop it from the
        # statistic; fail loudly (bounded job over k rows)
        if counts.filter(F.col("__share").isNull()).head(1):
            raise CallerError(
                "observed variants missing from expected allocation")
        counts = counts.withColumn(
            "n_users", F.coalesce(F.col("n_users"), F.lit(0))
        ).withColumn("__k", F.lit(1))
    totals = counts.groupBy("__k").agg(
        F.sum("n_users").alias("__total"),
        F.count(F.lit(1)).alias("__n_variants"),
    )
    x = counts.join(F.broadcast(totals), "__k")
    share = (F.col("__share") if expected is not None
             else F.lit(1.0) / F.col("__n_variants").cast("double"))
    e = F.col("__total").cast("double") * share
    # zero total exposures (all cells injected from the allocation):
    # no traffic is no EVIDENCE of mismatch — chi2 = 0, unflagged —
    # rather than a 0/0 NaN poisoning the statistic
    contrib = F.when(F.col("__total") > 0, F.round(
        (F.col("n_users").cast("double") - e)
        * (F.col("n_users").cast("double") - e) / e, 9)
    ).otherwise(F.lit(0.0))
    x = x.withColumn("expected_users", e).withColumn(
        "chi2_contrib", contrib)
    stat = x.groupBy("__k").agg(
        F.sum(F.col("chi2_contrib").cast("decimal(28,9)"))
        .cast("double").alias("chi2_stat"),
        (F.count(F.lit(1)) - F.lit(1)).alias("__df"),
    )
    crit = spark.createDataFrame(
        sorted(SRM_CRIT_001.items()), "__df long, __crit double")
    stat = stat.join(F.broadcast(crit), "__df", "left")
    # df 1..9 reads the exact table (the oracle-checked regime);
    # df >= 10 falls back to the Wilson-Hilferty cube approximation
    # chi2_{1-a}(k) ~= k*(1 - 2/9k + z*sqrt(2/9k))^3 — deterministic,
    # engine-side, <1% relative error in this range. df < 1 (a single
    # observed variant in equal-split mode — the expected-mode df is
    # validated up front) must ERROR, not default the flag to False.
    k = F.col("__df").cast("double")
    h = F.lit(2.0) / (F.lit(9.0) * k)
    wh = k * F.pow(F.lit(1.0) - h + F.lit(SRM_Z_001) * F.sqrt(h),
                   F.lit(3.0))
    crit_val = F.coalesce(
        F.col("__crit"),
        F.when(F.col("__df") >= 10, F.round(wh, 6)))
    flag = F.when(
        crit_val.isNotNull(),
        F.col("chi2_stat") > crit_val,
    ).otherwise(F.raise_error(F.concat(
        F.lit("srm_check: df="), F.col("__df").cast("string"),
        F.lit(" has no defined critical value; need >= 2 variants"))))
    return (
        x.join(F.broadcast(stat), "__k")
        .select(
            "variant", "n_users", "expected_users", "chi2_contrib",
            "chi2_stat",
            flag.alias("srm_flag"),
        )
    )
