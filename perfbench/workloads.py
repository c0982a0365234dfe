"""Seeded request streams of the two workloads.

Everything a run sends is a function of its seed: tile windows, event
names, which refreshes repeat an earlier one, tracked batches. The
*shape* of a run is fixed — the tile kinds rotate in the same order,
the repeat share and batch sizes are constants — so seeds change the
inputs, not the amount of work.

The events table is fixed: ``data/events.parquet`` is a byte-identical
copy of the sf0.1 ``events`` table of the engine's test fixtures
(TESTDATA.md), so every seed and every run serves the same data.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import math
import os
import random

#: the served dataset (``sf_dir`` of the engine): events.parquet only
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: shape of that table, which the requests below are built against
#: (checked against the file by test_perfbench.py): 100,000 events of
#: users 0..1499 over 2024-01-01..30, five event types
N_EVENTS = 100_000
N_USERS = 1_500
N_DAYS = 30
EVENT_TYPES = ("signup", "view", "click", "purchase", "error")

PROJECT = "/api/v1/projects/1"
TRACK_PATH = "/api/v1/ingest/perfbench/track"

#: dashboard: rotations run before the timed window (JIT, codegen,
#: Python workers, FAIR pools and parquet footers warm up)
DASHBOARD_WARMUP_ROTATIONS = 1
#: nominal seconds of one warm rotation and of one ingest cycle on a
#: 4-vCPU Xeon host (local[4]); they turn ``--seconds`` into a fixed
#: number of units per window (run.window_units)
DASHBOARD_ROTATION_S = 4.0
INGEST_CYCLE_S = 11.0
#: a repeat replays one of the last this-many refreshes (a few seconds)
REPEAT_BACK_REFRESHES = 4
#: tile window lengths: the seed moves the window, and every length
#: costs about the same, so seeds do not change the amount of work
WINDOW_DAYS = (14, 15, 16, 17)
#: segmentation tiles re-run directly through the engine per run
DIRECT_CHECKS = 4

#: ingest: tracked events per batch, one day per batch (one L0 part)
INGEST_BATCH_EVENTS = 200
#: compaction policy of the ingest server: a minor fold every
#: L0_MAX_PARTS batches, a major fold every L0_MAX_PARTS*L1_MAX_TIERS
INGEST_L0_MAX_PARTS = 1
INGEST_L1_MAX_TIERS = 2
#: warm-up batches: one whole cycle, so the window's folds (its major
#: fold too) run on warm code
INGEST_WARMUP_BATCHES = INGEST_L0_MAX_PARTS * INGEST_L1_MAX_TIERS


@dataclasses.dataclass(frozen=True)
class Request:
    kind: str
    path: str
    body: dict

    def key(self) -> str:
        return self.path + json.dumps(self.body, sort_keys=True)


def day_window(start: int, days: int) -> dict:
    end = start + days - 1
    return {"type": "between", "from": f"2024-01-{start:02d}T00:00:00",
            "to": f"2024-01-{end:02d}T23:59:59.999999"}


def _ref(name):
    return {"eventName": name, "eventType": "regular"}


def _segmentation(rng, w):
    return f"{PROJECT}/queries/event-segmentation", {
        "time": w, "group": "user", "intervalUnit": "day",
        "chartType": "line",
        "breakdowns": [{"propertyName": "event_type",
                        "propertyType": "event", "type": "property"}],
        "events": [{"eventName": rng.choice((None,) + EVENT_TYPES),
                    "eventType": "regular",
                    "queries": [{"type": "countEvents"},
                                {"type": "countUniqueGroups",
                                 "approx": True}]}],
    }


def _stickiness(rng, w):
    return f"{PROJECT}/queries/stickiness", {"time": w, "period": "week"}


def _growth(rng, w):
    return f"{PROJECT}/queries/growth", {"time": w, "period": "week"}


def _rfm(rng, w):
    return f"{PROJECT}/queries/rfm", {"time": w, "grid": True}


def _lness(rng, w):
    return f"{PROJECT}/queries/lness", {
        "anchor": f"2024-01-{rng.randint(8, N_DAYS):02d}",
        "lShort": rng.choice((3, 5, 7)), "lLong": rng.choice((14, 21, 28))}


def _venn(rng, w):
    a, b = rng.sample(EVENT_TYPES, 2)
    return f"{PROJECT}/queries/audience", {
        "type": "venn", "sketched": True, "time": w,
        "a": _ref(a), "b": _ref(b)}


def _anomaly(rng, w):
    return f"{PROJECT}/queries/anomaly", {"time": w, "method": "robust"}


def _records(rng, w):
    return f"{PROJECT}/event-records/search", {
        "time": w, "events": [_ref(rng.choice(EVENT_TYPES))]}


def _quality(rng, w):
    return f"{PROJECT}/queries/quality", {
        "time": w,
        "constraints": [
            {"type": "completeness", "column": "user_id"},
            {"type": "uniqueness", "columns": ["event_id"]},
            {"type": "inRange", "column": "value", "lo": 0,
             "hi": rng.choice((1e4, 1e5, 1e6))},
            {"type": "rowCount", "min": 1},
        ],
    }


TILES = {
    "segmentation": _segmentation, "stickiness": _stickiness,
    "growth": _growth, "rfm": _rfm, "lness": _lness, "venn": _venn,
    "anomaly": _anomaly, "records": _records, "quality": _quality,
}
#: three 4-tile dashboards, refreshed in turn; a refresh of width w
#: fires the next w slots, so with w = 4 each refresh is one dashboard.
#: Each dashboard carries one of the three slowest tiles (rfm, growth
#: and anomaly), so refresh times cluster. Cache hits and the light
#: tiles (records, segmentation) are 6 of the 16 requests of a
#: rotation, and the mid-weight quality and lness tiles are the next 4,
#: so the median request falls between two tiles of like cost, not in
#: the gap between the light tiles and the rest
DASHBOARD_SLOTS = (
    "segmentation", "stickiness", "rfm", "records",
    "lness", "anomaly", "quality", "stickiness",
    "lness", "growth", "venn", "quality",
)


class DashboardPlan:
    """Refreshes in rotations. A rotation refreshes every dashboard once
    with fresh windows (result-cache misses) and, at a seeded position,
    replays one of the last few refreshes (cache hits): the repeat
    share is fixed, the seed picks which refresh repeats."""

    def __init__(self, seed: int, width: int):
        self.rng = random.Random(seed)
        self.width = width
        self.fresh_per_rotation = len(DASHBOARD_SLOTS) // math.gcd(
            len(DASHBOARD_SLOTS), width)
        self._seen: set = set()
        self._history: list[list[Request]] = []
        self._fresh = 0

    def rotation(self) -> list[tuple[list[Request], bool]]:
        """[(tile requests of one refresh, is a repeat), ...]"""
        n = self.fresh_per_rotation
        at = self.rng.randint(0 if self._history else 1, n)
        out = []
        for k in range(n + 1):
            if k == at:
                back = self.rng.randint(
                    1, min(REPEAT_BACK_REFRESHES, len(self._history)))
                refresh = self._history[-back]
            else:
                refresh = self._new_refresh()
            self._history.append(refresh)
            out.append((refresh, k == at))
        return out

    def _new_refresh(self) -> list[Request]:
        j = self._fresh
        self._fresh += 1
        out = []
        for k in range(self.width):
            kind = DASHBOARD_SLOTS[(self.width * j + k) % len(DASHBOARD_SLOTS)]
            make = TILES[kind]
            while True:
                days = self.rng.choice(WINDOW_DAYS)
                start = self.rng.randint(1, N_DAYS - days + 1)
                req = Request(kind, *make(self.rng, day_window(start, days)))
                if req.key() not in self._seen:
                    break
            self._seen.add(req.key())
            out.append(req)
        return out


class IngestPlan:
    """Tracked batches and the reads that verify them."""

    def __init__(self, seed: int):
        self.seed = seed
        self.base_rows = N_EVENTS
        self.acked = 0
        self.cycle_batches = INGEST_L0_MAX_PARTS * INGEST_L1_MAX_TIERS

    def expected_rows(self) -> int:
        return self.base_rows + self.acked

    def batch(self, i: int) -> list[dict]:
        rng = random.Random(f"{self.seed}:{i}")
        day = dt.datetime(2024, 1, rng.randint(1, N_DAYS))
        out = []
        for _ in range(INGEST_BATCH_EVENTS):
            ts = day + dt.timedelta(seconds=rng.randrange(86_400))
            out.append({
                "event": rng.choice(EVENT_TYPES),
                "userId": str(rng.randrange(N_USERS)),
                "timestamp": ts.isoformat(),
                "properties": {"k": rng.randrange(100),
                               "revenue": round(rng.expovariate(0.02), 2)},
            })
        return out

    @staticmethod
    def reads() -> list[Request]:
        """Three reads fired together after each fold; each counts every
        event of January. The first two are day-aligned (rollup-routed),
        the last is not (raw lake snapshot scan)."""
        count = [{"type": "countEvents"}]
        seg = f"{PROJECT}/queries/event-segmentation"
        jan = day_window(1, 31)

        def body(time, interval, breakdown=False):
            b = {"time": time, "group": "user", "intervalUnit": interval,
                 "chartType": "line",
                 "events": [{"eventName": None, "eventType": "regular",
                             "queries": count}]}
            if breakdown:
                b["breakdowns"] = [{"propertyName": "event_type",
                                    "propertyType": "event",
                                    "type": "property"}]
            return b

        return [
            Request("routed_daily", seg, body(jan, "day")),
            Request("routed_weekly_by_type", seg,
                    body(jan, "week", breakdown=True)),
            Request("raw_monthly", seg, body(
                {"type": "between", "from": "2024-01-01T00:00:00",
                 "to": "2024-01-31T23:59:59"}, "month")),
        ]
