"""Incrementally maintained audience KMV day sketches — the
production path behind operators/audience.py's set algebra: sketches
are maintained once per day-grain as events land, and any window's
distinct/overlap/Venn question is then a fold over stored rows, never
a raw scan (the same economics as the rollup store, rollup.py).
``server.App.maintain`` folds each ingest batch in through
``KmvDayStore.update``.

Replay: a KMV sketch is the set of the K smallest distinct hashes,
so merging the same rows twice leaves the sketch unchanged (set
union). The store still keeps the shared (stream_id, batch_id)
ledger of daystore.DayStore, so a re-delivered batch is skipped
without the merge jobs and the tick does not count it as an advance.

Erasure: like HLL, a hash can't be subtracted from a sketch —
``recompute_days`` (DayStore's) re-builds exactly the affected day
partitions from the post-rewrite lake.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame

from ..daystore import DayStore
from ..operators.audience import kmv_day_sketches, kmv_merge
from ..schema import EVENT_TIME_COL, EVENT_USER_COL


class KmvDayStore(DayStore):
    """Persisted (day, dim, kmv) sketches, partitioned by day so a
    micro-batch rewrites only the day partitions it touches, committed
    with its replay-ledger entry in one pointer flip. Storage, fold,
    ledger and erasure repair are the shared day-store protocol
    (daystore.DayStore over snapshot.py)."""

    day_col = "day"

    def __init__(
        self,
        path: str,
        k: int = 4096,
        dim_col: str = "event_type",
        group_col: str = EVENT_USER_COL,
        seed: str = "kmv",
        ts_col: str = EVENT_TIME_COL,
    ) -> None:
        self.path = path
        self.k = k
        self.dim_col = dim_col
        self.group_col = group_col
        self.seed = seed
        self.ts_col = ts_col

    def build(self, events: DataFrame) -> DataFrame:
        return kmv_day_sketches(
            events, None, self.k, self.dim_col, self.group_col, self.seed,
            ts_col=self.ts_col,
        )

    def merge(self, parts: Sequence[DataFrame]) -> DataFrame:
        return kmv_merge(reduce(DataFrame.unionByName, parts),
                         [self.day_col, "dim"], self.k)
