"""Answer checks. A failed check counts as a failed request."""

from __future__ import annotations

import copy


def _columns(payload) -> list:
    if not isinstance(payload, dict):
        return []
    cols = payload.get("columns")
    return cols if isinstance(cols, list) else []


def tile_ok(status: int, payload) -> tuple[bool, str]:
    """Status 200 and a non-empty columnar response."""
    if status != 200:
        return False, f"status {status}: {payload}"
    cols = _columns(payload)
    if not cols or not any(c.get("data") for c in cols):
        return False, "empty response"
    return True, ""


def _count_col(cols: list):
    for c in cols:
        if "count_events" in c.get("name", ""):
            return c
    return None


def _norm(v) -> str:
    """Day-or-finer timestamps print as 'YYYY-MM-DDTHH:MM:SS' in the
    response and 'YYYY-MM-DD HH:MM:SS' from a collected row."""
    s = "" if v is None else str(v).replace("T", " ")
    return s[:19]


def count_total(payload) -> int | None:
    col = _count_col(_columns(payload))
    if col is None:
        return None
    return sum(int(x) for x in col["data"] if x is not None)


def count_ok(status: int, payload, expected: int) -> tuple[bool, str]:
    """A segmentation read whose countEvents column sums to exactly
    ``expected`` rows."""
    ok, why = tile_ok(status, payload)
    if not ok:
        return ok, why
    got = count_total(payload)
    if got != expected:
        return False, (f"counted {got} events, expected {expected} "
                       "(base rows plus every acked track)")
    return True, ""


def same_segmentation(served, direct) -> tuple[bool, str]:
    """Served segmentation (possibly store-routed) vs the engine run on
    the raw events: every dimension key with the same event count.
    Approximate columns (HLL uniques) are not compared."""
    cols = _columns(served)
    count = _count_col(cols)
    if count is None:
        return False, "served response has no countEvents column"
    dims = [c for c in cols if c.get("type") == "dimension"]
    d_cols = direct.get("columns", {})
    if count["name"] not in d_cols or any(c["name"] not in d_cols
                                          for c in dims):
        return False, "served columns missing from the engine result"

    def keyed(rows_of, names, value):
        keys = zip(*[rows_of(n) for n in names]) if names else \
            [()] * len(rows_of(value))
        return {tuple(_norm(k) for k in key): int(float(v))
                for key, v in zip(keys, rows_of(value))}

    names = [c["name"] for c in dims]
    by_name = {c["name"]: c["data"] for c in cols}
    a = keyed(lambda n: by_name[n], names, count["name"])
    b = keyed(lambda n: d_cols[n], names, count["name"])
    if a != b:
        diff = sorted(set(a.items()) ^ set(b.items()))[:3]
        return False, f"{len(a)} vs {len(b)} rows; differ at {diff}"
    return True, ""


def corrupt(payload):
    """The same response with one event count off by one — the fault
    the checks must catch."""
    bad = copy.deepcopy(payload)
    col = _count_col(_columns(bad))
    if col is not None and col["data"]:
        col["data"][0] = int(col["data"][0]) + 1
    return bad
