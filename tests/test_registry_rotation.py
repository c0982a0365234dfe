"""The driver's 50-query correctness gate samples the registry in
iteration order; ``suite_round_robin`` must therefore lead with the
stalest queries (gate_rN ∩ gate_rN-1 = ∅ and no query older than the
rotation's arithmetic bound). The per-round history
(``registry.DRIVER_CHECKED_ROUNDS``) is the key sets of the committed
``CORRECTNESS_r{N}.json`` files. Pure-Python — no Spark session."""

from __future__ import annotations

from optiprism_spark.registry import (
    DRIVER_CHECKED_ROUNDS,
    QUERIES,
    suite_round_robin,
)

GATE_SIZE = 50


def _last_checked(name: str, history: dict = DRIVER_CHECKED_ROUNDS) -> int:
    return max((r for r, s in history.items() if name in s), default=0)


def test_every_query_has_a_recorded_check():
    """No registered query may be absent from every recorded round —
    that would mean a query shipped without ever passing the gate
    (new queries are oracle-checked locally pre-commit, then appear
    in the next round's record)."""
    recorded = set().union(*DRIVER_CHECKED_ROUNDS.values())
    new = set(QUERIES) - recorded
    # allow genuinely new queries this round, but they must sort first
    order = list(suite_round_robin(QUERIES))
    for n in new:
        assert order.index(n) < GATE_SIZE, (
            f"new query {n} not in the upcoming gate window")


def test_gate_window_leads_with_stalest():
    order = list(suite_round_robin(QUERIES))
    assert len(order) == len(QUERIES)
    window = order[:GATE_SIZE]
    latest = max(DRIVER_CHECKED_ROUNDS)
    # the upcoming gate re-checks nothing from the latest round …
    assert not set(window) & DRIVER_CHECKED_ROUNDS[latest]
    # … and no query outside the window is staler than one inside it
    worst_in = max(_last_checked(n) for n in window)
    best_out = min(_last_checked(n) for n in order[GATE_SIZE:])
    assert worst_in <= best_out, (
        "a staler query was left outside the gate window")


def _simulated_ages(monkeypatch, n_rounds: int) -> list[dict]:
    """Run ``n_rounds`` future gates that each check the first
    GATE_SIZE names of ``suite_round_robin``, starting from the
    recorded history. Returns, per simulated round, every query's
    driver-check age at that round."""
    from optiprism_spark import registry

    history = dict(DRIVER_CHECKED_ROUNDS)
    monkeypatch.setattr(registry, "DRIVER_CHECKED_ROUNDS", history)
    out = []
    for _ in range(n_rounds):
        rnd = max(history) + 1
        history[rnd] = frozenset(list(suite_round_robin(QUERIES))[:GATE_SIZE])
        out.append({n: rnd - _last_checked(n, history) for n in QUERIES})
    return out


def test_max_staleness_within_cycle_bound(monkeypatch):
    """Gates that follow the rotation keep every registered query's
    driver-check age within the rotation's PROVABLE bound,
    ceil(N / GATE_SIZE) - 1 rounds: a 50-query gate covers the
    registry every ceil(N/50) rounds, so a ≤ 2-round age is
    achievable only while N ≤ 150 (it held through r11 at 137 and
    became 3 when round 12's new queries pushed N past 150 — the
    bound is registry-size arithmetic, not a regression). The
    recorded history may start above the bound (rounds 16 and 17
    checked the same 50 names), so the bound must hold from one
    full cycle of simulated gates on, and keep holding."""
    import math

    cycle = math.ceil(len(QUERIES) / GATE_SIZE)
    bound = max(2, cycle - 1)
    for i, ages in enumerate(_simulated_ages(monkeypatch, 2 * cycle)):
        if i + 1 < cycle:
            continue
        stale = {n: a for n, a in ages.items() if a > bound}
        assert not stale, (
            f"simulated gate {i + 1}: ages over the bound {bound} at "
            f"N={len(QUERIES)}: {stale}")


def test_measured_age_histogram_at_arithmetic_floor(monkeypatch):
    """r15 verdict task 4: the driver-check age histogram must sit at
    the rotation's arithmetic floor — every age tier below the max
    holds exactly GATE_SIZE queries and the max tier holds the
    remainder (N - max_age*GATE_SIZE). Anything else means the
    round-robin leaked: some query aged past the floor while a
    fresher one was re-checked. The recorded history is off the
    floor where a round re-checked its predecessor's names (16 → 17),
    so the floor is pinned on the gates that follow it: reached
    within one cycle, and kept."""
    import math
    from collections import Counter

    cycle = math.ceil(len(QUERIES) / GATE_SIZE)
    max_age = cycle - 1
    for i, ages in enumerate(_simulated_ages(monkeypatch, 2 * cycle)):
        if i + 1 < cycle:
            continue
        hist = Counter(ages.values())
        assert max(hist) == max_age, dict(hist)
        for k in range(max_age):
            assert hist[k] == GATE_SIZE, dict(hist)
        assert hist[max_age] == len(QUERIES) - max_age * GATE_SIZE, \
            dict(hist)


def test_recorded_rounds_are_registered_queries():
    """A typo'd name in DRIVER_CHECKED_ROUNDS would silently never
    match, making its query eternally stale."""
    known = set(QUERIES)
    for r, names in DRIVER_CHECKED_ROUNDS.items():
        unknown = names - known
        assert not unknown, f"round {r} records unknown queries: {unknown}"


# ---------------------------------------------- sf0.1 spot-gate rotation


def _sf01():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "sf01_oracle_check", "/root/repo/sf01_oracle_check.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_sf01_gate_rotates_least_recently_checked():
    """The sf0.1 gate (r11 verdict task 7) must lead its rotating
    window with the least-recently-sf0.1-checked oracled queries —
    CORE always present, picks all oracled, and nothing in the
    upcoming rotation re-checks the latest recorded round unless the
    pool has cycled."""
    from optiprism_spark.registry import ORACLE_SQL

    m = _sf01()
    picks = m.gate_picks(QUERIES, set(ORACLE_SQL))
    assert [p for p in picks[:len(m.CORE)]] == list(m.CORE)
    assert len(picks) == len(m.CORE) + m.ROTATE_N
    assert all(p in ORACLE_SQL for p in picks)
    rotating = picks[len(m.CORE):]
    latest = max(m.SF01_CHECKED_ROUNDS)

    def last(n):
        return max((r for r, s in m.SF01_CHECKED_ROUNDS.items() if n in s),
                   default=0)

    # nothing outside the upcoming rotation may be staler than
    # anything inside it
    # the rotation complements the driver gate (r15 task 4): its
    # primary split is driver-window membership — within each side
    # of that split, nothing outside the rotation may be staler
    # (by sf0.1 age) than anything inside it
    upcoming_driver = set(list(suite_round_robin(QUERIES))[:GATE_SIZE])
    pool = [n for n in QUERIES
            if n in ORACLE_SQL and n not in m.CORE]
    for side in (True, False):
        ins = [n for n in rotating if (n in upcoming_driver) is side]
        outs = [n for n in pool
                if n not in rotating and (n in upcoming_driver) is side]
        if ins and outs:
            assert max(last(n) for n in ins) <= min(last(n) for n in outs)
    # driver-unwatched queries fill the rotation before any query the
    # driver will re-check this round
    n_unwatched_pool = sum(1 for n in pool if n not in upcoming_driver)
    n_unwatched_in = sum(1 for n in rotating if n not in upcoming_driver)
    assert n_unwatched_in == min(m.ROTATE_N, n_unwatched_pool)
    # the latest round's record exists and only lists real queries
    assert all(n in QUERIES for n in m.SF01_CHECKED_ROUNDS[latest])


def test_staleness_bound_never_exceeds_three():
    """r14 verdict task 3: the provable staleness bound is registry
    arithmetic — ceil(N / GATE_SIZE) - 1 — and it must stay ≤ 3. When
    the registry crosses 200 queries this trips, and the fix is a
    DELIBERATE one (grow the driver gate's gate-size assumption, or
    split/retire queries), never a silent slide to age-4 windows
    where regressions hide."""
    import math

    bound = math.ceil(len(QUERIES) / GATE_SIZE) - 1
    assert bound <= 3, (
        f"registry has {len(QUERIES)} queries: ceil(N/{GATE_SIZE})-1 = "
        f"{bound} > 3 — widen the gate or restructure before adding more")
