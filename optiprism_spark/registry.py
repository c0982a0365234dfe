"""Query registry: named (spark, sf_dir) -> DataFrame callables plus
their DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 registers here via the
``@query`` decorator; ``__spark_entry__`` re-exports the two dicts for
the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    """Register a query; ``oracle=None`` => non-SQL-expressible op
    (driver records a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _driver_checked_rounds() -> dict[int, frozenset[str]]:
    """Names the driver's correctness gate actually checked each round:
    the keys of each committed ``CORRECTNESS_r{N}.json`` at the
    checkout root (where the driver runs ``__spark_entry__.py``).
    The gate caps how many entries it checks in dict order, so
    ``suite_round_robin`` leads with the least-recently-checked
    queries — otherwise the same tail stays unchecked round after
    round. A new round counts as soon as its file is committed."""
    import json
    import re
    from pathlib import Path

    rounds = {}
    for path in Path(__file__).resolve().parents[1].glob(
            "CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rounds[int(m.group(1))] = frozenset(json.loads(path.read_text()))
    return dict(sorted(rounds.items()))


DRIVER_CHECKED_ROUNDS: dict[int, frozenset[str]] = _driver_checked_rounds()


def suite_round_robin(queries: dict) -> dict:
    """Reorder queries for the driver's capped correctness gate:
    primary key = the round a query was last driver-checked (never →
    0, so it sorts first); tie-break = round-robin position across
    suites so any prefix still covers every operator family."""
    from itertools import zip_longest

    by_suite: dict[str, list[str]] = {}
    for name, fn in queries.items():
        by_suite.setdefault(getattr(fn, "__module__", ""), []).append(name)
    rr_order = [
        n
        for row in zip_longest(*by_suite.values())
        for n in row
        if n is not None
    ]
    last_checked = {
        n: max(
            (rnd for rnd, names in DRIVER_CHECKED_ROUNDS.items() if n in names),
            default=0,
        )
        for n in rr_order
    }
    order = sorted(rr_order, key=lambda n: (last_checked[n], rr_order.index(n)))
    return {n: queries[n] for n in order}


# Suites self-register on import (order = SURVEY §2 section order).
# Extend this list as suites are added — no try/except, a broken suite
# module must fail loudly.
from .suites import (  # noqa: E402,F401
    alerts,
    assembly,
    attribution,
    audience,
    catalog_admin,
    dedup,
    drift,
    engagement,
    estimate,
    experiment,
    funnel,
    ingest,
    multimodal,
    paths,
    quality,
    records,
    reshape,
    retention,
    rollup,
    rollup_hist,
    segmentation,
    segments,
    similarity,
    text,
    warehouse,
    windows,
)
