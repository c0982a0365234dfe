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
  overwrite. KNOWN GAP: a crash between the two leaves the batch's
  days merged but unrecorded, so the restarted scheduler's replay
  merges them again and double-counts those days. Nothing calls
  ``rebuild`` after a restart to repair it; only a commit that writes
  data and ledger together (a transactional lake, or one pointer file
  holding both) closes the gap.
- ``recompute_days``: the deletion hook. A fold is additive (counts
  and sums add, sketches union), so removed rows can never be merged
  out as a delta; erasure and retention re-aggregate the affected days
  from the post-rewrite lake instead.
- ``expire_before``: retention as a zero-scan partition drop.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import (
    EVENT_TIME_COL,
    memo_plan,
    overwrite_partitions,
    parquet_bytes,
    read_json,
    write_json_durable,
)


#: Largest store, in parquet bytes, that ``DayStore.read`` serves as
#: one partition, set from a measured crossover (DAYSTORE_CUTOFF.json;
#: local[4], 4 vCPU). The user-day store is the only one that grows
#: with users. Four threads running the routed growth, RFM and L-ness
#: queries over it at once, as the dashboard does, ran 13-16% faster
#: as one task at 0.65 and 1.6 MB, within 4% at 2.3 and 3.3 MB, and
#: 30% slower at 6.6 MB. Run alone on an idle host, growth and RFM are
#: already slower as one task at 0.3 MB, while L-ness (a 7-day pruned
#: scan) is faster at every size measured, up to 10 MB.
SINGLE_PARTITION_MAX_BYTES = 2 << 20


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
        """The store as a lazy frame, day column first (``partitionBy``
        surfaces it LAST) — the one read every routed query, fold and
        repair starts from. The frame is memoized in ``schema``'s plan
        memo under a ``day:<day_col>`` namespace, so a repeat read
        skips both the footer round-trip and re-analysing the
        projection; the memo's stat fingerprint makes any fold,
        recompute or expiry a miss, so the next read sees it.

        SINGLE-PARTITION RULE: a store whose data files total no more
        than ``SINGLE_PARTITION_MAX_BYTES`` is served as
        ``coalesce(1)``: one scan task and no shuffle. The coalesced
        child reports ``SinglePartition``, which meets every clustered
        and all-tuples requirement, so the aggregates, windows and
        joins above a routed read plan no ``Exchange``. A day-window
        ``Filter`` still pushes through the coalesce into the scan's
        ``PartitionFilters``. A larger store reads with the scan's own
        file splits. The store is sized on each memo miss; a store past
        the memo's 2048-entry fingerprint limit misses on every call,
        so it is re-walked per read — the same per-file listing
        ``spark.read.parquet`` already pays for it."""
        def day_first() -> DataFrame:
            df = spark.read.parquet(self.path)
            df = df.select(
                self.day_col, *[c for c in df.columns if c != self.day_col])
            if parquet_bytes(self.path) <= SINGLE_PARTITION_MAX_BYTES:
                df = df.coalesce(1)
            return df

        return memo_plan(spark, self.path, f"day:{self.day_col}", day_first)

    def rebuild(self, spark: SparkSession, events: DataFrame) -> None:
        self.build(events).repartition(self.day_col).write.mode(
            "overwrite").partitionBy(self.day_col).parquet(self.path)

    def _ledger_path(self) -> str:
        return os.path.join(self.path, "_applied_batches.json")

    def _applied(self) -> dict:
        return read_json(self._ledger_path(), {})

    def _mark_applied(self, stream_id: Optional[str],
                      batch_id: Optional[int]) -> None:
        if stream_id is None or batch_id is None:
            return
        applied = self._applied()
        applied[stream_id] = batch_id
        write_json_durable(self._ledger_path(), applied)

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
