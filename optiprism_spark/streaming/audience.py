"""Incrementally maintained audience KMV day sketches — the
production path behind operators/audience.py's set algebra: sketches
are maintained once per day-grain as events land, and any window's
distinct/overlap/Venn question is then a fold over stored rows, never
a raw scan (the same economics as the rollup store, rollup.py).
``server.App.maintain`` folds each ingest batch in through
``KmvDayStore.update``.

Idempotence WITHOUT a batch ledger: a KMV sketch is the set of the K
smallest distinct hashes, so merging the same rows twice is a no-op
by construction (set union), unlike the rollup's additive counts
which need the (stream_id, batch_id) ledger to survive a re-delivered
batch. Replay safety therefore falls out of the math.

Erasure: like HLL, a hash can't be subtracted from a sketch —
``recompute_days`` re-builds exactly the affected dt partitions from
the post-rewrite lake (the RollupStore.recompute_days contract).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.audience import kmv_day_sketches, kmv_merge
from ..schema import EVENT_TIME_COL, EVENT_USER_COL, overwrite_partitions


class KmvDayStore:
    """Persisted (day, dim, kmv) sketches, dt-partitioned by day so a
    micro-batch rewrites only the day partitions it touches (dynamic
    partition overwrite — one replaceWhere commit on a transactional
    lake)."""

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

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith((".", "_")) for n in os.listdir(self.path))

    def read(self, spark: SparkSession) -> DataFrame:
        from ..schema import memo_parquet

        return memo_parquet(spark, self.path)

    def _write_days(self, days_df: DataFrame, first: bool) -> None:
        # localCheckpoint: the merged frame reads from the path the
        # overwrite below replaces (same idiom as RollupStore)
        out = days_df.repartition("day")
        if not first:
            out = out.localCheckpoint()
        overwrite_partitions(out, "day", self.path)

    def update(self, spark: SparkSession, batch: DataFrame) -> int:
        """Fold a batch of raw events in: sketch the batch at day
        grain, union-merge with the stored sketches of the SAME days,
        overwrite those partitions. Returns days touched. Re-applying
        the same batch is a no-op (KMV merge is a set union)."""
        days_df = kmv_day_sketches(
            batch, None, self.k, self.dim_col, self.group_col, self.seed,
            ts_col=self.ts_col,
        ).persist()
        try:
            days = [r[0] for r in days_df.select("day").distinct().collect()]
            if not days:
                return 0
            if not self.exists():
                self._write_days(days_df, first=True)
                return len(days)
            existing = self.read(spark).filter(F.col("day").isin(days))
            merged = kmv_merge(
                existing.unionByName(days_df), ["day", "dim"], self.k)
            self._write_days(merged, first=False)
            return len(days)
        finally:
            days_df.unpersist()

    def recompute_days(
        self, spark: SparkSession, events: DataFrame, days: Sequence
    ) -> int:
        """Re-sketch exactly the given days from the (post-rewrite)
        lake — the erasure hook: union can't subtract, so affected
        partitions are rebuilt, and days whose rows all vanished are
        dropped explicitly (a dynamic overwrite would leave the stale
        partition standing)."""
        import shutil

        day_list = sorted({d.isoformat() if hasattr(d, "isoformat") else str(d)
                           for d in days})
        if not self.exists() or not day_list:
            return 0
        fresh = kmv_day_sketches(
            events.filter(F.to_date(F.col(self.ts_col)).isin(day_list)),
            None, self.k, self.dim_col, self.group_col, self.seed,
            ts_col=self.ts_col,
        ).persist()
        try:
            have = {r[0].isoformat()
                    for r in fresh.select("day").distinct().collect()}
            if have:
                self._write_days(fresh, first=False)
            for gone in set(day_list) - have:
                shutil.rmtree(os.path.join(self.path, f"day={gone}"),
                              ignore_errors=True)
            return len(day_list)
        finally:
            fresh.unpersist()

