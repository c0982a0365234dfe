"""One day-partitioned parquet store — the storage protocol shared by
the rollup (rollup.py), user-day (userday.py) and KMV day-sketch
(streaming/audience.py) stores.

A subclass supplies its day column (``day_col``), ``build(events)``
(one aggregate of raw events at day grain) and ``merge(parts)`` (the
re-aggregation of same-schema partials). Everything else lives here
once:

- ``update``: build the batch aggregate, collect the days it touches,
  merge it with the stored partitions of those days (pruned scan),
  dynamic-overwrite exactly those partitions. Bytes rewritten per
  fold follow the batch's day span, never history.
- the ``(stream_id, batch_id)`` replay ledger, written AFTER the
  overwrite: a crash between the two reapplies one batch, which
  ``rebuild`` repairs; on a transactional lake the overwrite and the
  ledger write are one commit.
- ``recompute_days``: the deletion hook. A fold is additive (counts
  and sums add, sketches union), so removed rows can never be merged
  out as a delta; erasure and retention re-aggregate the affected days
  from the post-rewrite lake instead.
- ``expire_before``: retention as a zero-scan partition drop.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import EVENT_TIME_COL, memo_parquet, overwrite_partitions


class DayStore:
    """Day-partitioned parquet at ``self.path``. Subclasses set
    ``day_col`` and implement ``build`` and ``merge``; ``ts_col`` is
    the raw-event timestamp whose date selects a day's events."""

    day_col: str
    ts_col: str = EVENT_TIME_COL
    path: str

    def build(self, events: DataFrame) -> DataFrame:
        raise NotImplementedError

    def merge(self, parts: Sequence[DataFrame]) -> DataFrame:
        raise NotImplementedError

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith(f"{self.day_col}=") for e in os.listdir(self.path))

    def read(self, spark: SparkSession) -> DataFrame:
        df = memo_parquet(spark, self.path)
        # partitionBy surfaces the day as the LAST column; restore
        # schema order
        return df.select(
            self.day_col, *[c for c in df.columns if c != self.day_col])

    def rebuild(self, spark: SparkSession, events: DataFrame) -> None:
        self.build(events).repartition(self.day_col).write.mode(
            "overwrite").partitionBy(self.day_col).parquet(self.path)

    def _ledger_path(self) -> str:
        return os.path.join(self.path, "_applied_batches.json")

    def _applied(self) -> dict:
        try:
            with open(self._ledger_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _mark_applied(self, stream_id: Optional[str],
                      batch_id: Optional[int]) -> None:
        if stream_id is None or batch_id is None:
            return
        applied = self._applied()
        applied[stream_id] = batch_id
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(applied, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._ledger_path())

    def update(self, spark: SparkSession, new_events: DataFrame,
               stream_id: Optional[str] = None,
               batch_id: Optional[int] = None) -> int:
        """Fold an append batch in; returns the days touched. A
        re-delivered ``(stream_id, batch_id)`` (a restarted scheduler
        replays its last uncommitted batch) returns 0 untouched —
        merging it twice would double-count. Without ids the batch is
        always applied."""
        if stream_id is not None and batch_id is not None:
            if self._applied().get(stream_id, -1) >= batch_id:
                return 0
        # persisted: the batch aggregate feeds both the touched-day
        # collect and the merge write
        batch = self.build(new_events).persist()
        try:
            days = [r[0] for r in
                    batch.select(self.day_col).distinct().collect()]
            if days:
                out = batch.repartition(self.day_col)
                if self.exists():
                    existing = self.read(spark).filter(
                        F.col(self.day_col).isin(days))
                    # localCheckpoint materializes the merged partitions
                    # so the overwrite does not read from the path it
                    # replaces; block loss fails the write BEFORE the
                    # overwrite touches the store, and the ledger
                    # re-runs the merge
                    out = self.merge([existing, batch]).repartition(
                        self.day_col).localCheckpoint()
                overwrite_partitions(out, self.day_col, self.path)
            self._mark_applied(stream_id, batch_id)
            return len(days)
        finally:
            batch.unpersist()

    def recompute_days(self, spark: SparkSession, events: DataFrame,
                       days: Sequence) -> int:
        """Re-aggregate exactly the given days from ``events`` (the
        post-rewrite lake) — the erasure and retention hook. Cost is
        O(affected days), not O(store). Days whose every raw row was
        removed yield no rows, so a dynamic overwrite would leave the
        stale partition standing — those are dropped explicitly."""
        day_list = sorted({d.isoformat() if hasattr(d, "isoformat")
                           else str(d) for d in days})
        if not self.exists() or not day_list:
            return 0
        fresh = self.build(events.filter(
            F.to_date(F.col(self.ts_col)).isin(day_list))).persist()
        try:
            have = {r[0].isoformat() for r in
                    fresh.select(self.day_col).distinct().collect()}
            if have:
                overwrite_partitions(fresh.repartition(self.day_col),
                                     self.day_col, self.path)
            for gone in set(day_list) - have:
                shutil.rmtree(os.path.join(self.path,
                                           f"{self.day_col}={gone}"),
                              ignore_errors=True)
        finally:
            fresh.unpersist()
        spark.catalog.refreshByPath(self.path)
        return len(day_list)

    def expire_before(self, older_than) -> list[str]:
        """Retention on the store itself: drop day partitions strictly
        older than the cutoff — the same zero-scan partition delete as
        ``lifecycle.expire_partitions``. A mid-day cutoff additionally
        needs ``recompute_days`` on the boundary day; the lifecycle
        wiring does both."""
        from .lifecycle import expire_partitions

        return expire_partitions(
            self.path, older_than, date_col=self.day_col)["partitions_dropped"]
