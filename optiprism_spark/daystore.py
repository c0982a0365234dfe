"""One day-partitioned parquet store — the storage protocol shared by
the rollup (rollup.py), user-day (userday.py) and KMV day-sketch
(streaming/audience.py) stores, over snapshot.py's pointer commit
(one ``<day_col>=<day>`` file group per day).

A subclass supplies its day column (``day_col``), ``build(events)``
(one aggregate of raw events at day grain) and ``merge(parts)`` (the
re-aggregation of same-schema partials). Everything else lives here
once:

- ``update``: build the batch aggregate, merge it with the stored
  files of the days it touches (pruned scan) and commit those days'
  new files with the batch's ``(stream_id, batch_id)`` in one flip —
  bytes per fold follow the batch's day span, and a replayed batch
  lands exactly once whichever side of the flip a crash hit.
- ``recompute_days``: the deletion hook. A fold is additive (counts
  and sums add, sketches union), so removed rows can never be merged
  out as a delta; erasure and retention re-aggregate the affected days
  from the post-rewrite lake instead.
- ``expire_before``: retention as a zero-scan drop of days from the
  pointer.

A concurrent read keeps scanning the snapshot it loaded, so no commit
fails or tears it.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshot
from .schema import EVENT_TIME_COL


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


def _iso(day) -> str:
    return day.isoformat() if hasattr(day, "isoformat") else str(day)


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
        """Whether the store's pointer names any file."""
        return bool(snapshot.load(self.path)["files"])

    def read(self, spark: SparkSession) -> DataFrame:
        """The store as a lazy frame, day column first (``partitionBy``
        surfaces it LAST) — the one read every routed query, fold and
        repair starts from. It scans exactly the pointer's files
        (``snapshot.frame``: the day column stays a partition column
        for ``PartitionFilters``, memoized per pointer version).

        SINGLE-PARTITION RULE: a store whose files total no more than
        ``SINGLE_PARTITION_MAX_BYTES`` (the pointer's sizes) is served
        as ``coalesce(1)``: one scan task and no shuffle. The coalesced
        child reports ``SinglePartition``, which meets every clustered
        and all-tuples requirement, so the aggregates, windows and
        joins above a routed read plan no ``Exchange``. A day-window
        ``Filter`` still pushes through the coalesce into the scan's
        ``PartitionFilters``. A larger store reads with the scan's own
        file splits."""
        ptr = snapshot.load(self.path)
        if not ptr["files"]:
            raise FileNotFoundError(f"no day store at {self.path}")
        return self._read(spark, ptr)

    def _read(self, spark: SparkSession, ptr: dict) -> DataFrame:
        def day_first(df: DataFrame) -> DataFrame:
            df = df.select(
                self.day_col, *[c for c in df.columns if c != self.day_col])
            if snapshot.nbytes(ptr) <= SINGLE_PARTITION_MAX_BYTES:
                df = df.coalesce(1)
            return df

        return snapshot.frame(spark, self.path, ptr, f"day:{self.day_col}",
                              shape=day_first)

    def _put(self, files: dict, days: Sequence, frame: DataFrame) -> dict:
        """``files`` with the given days replaced by ``frame``'s rows,
        written as new files; a day ``frame`` holds no rows for leaves
        the map."""
        drop = {f"{self.day_col}={_iso(d)}" for d in days}
        out = {g: fs for g, fs in files.items() if g not in drop}
        out.update(snapshot.write(frame.repartition(self.day_col),
                                  self.path, partition_col=self.day_col))
        return out

    def rebuild(self, spark: SparkSession, events: DataFrame) -> None:
        """Replace every day with ``events``' aggregate in one commit.
        The ledger carries over: the batches it records are inside the
        events a rebuild reads, so their replays must keep no-opping."""
        with snapshot.writer(self.path):
            base = snapshot.load(self.path)
            snapshot.commit(self.path, base, self._put(
                {}, (), self.build(events)))

    def update(self, spark: SparkSession, new_events: DataFrame,
               stream_id: Optional[str] = None,
               batch_id: Optional[int] = None) -> int:
        """Fold an append batch in; returns the days touched. A
        re-delivered ``(stream_id, batch_id)`` returns 0 untouched —
        merging it twice would double-count. Without ids the batch is
        always applied."""
        with snapshot.writer(self.path):
            base = snapshot.load(self.path)
            if snapshot.applied(base, stream_id, batch_id):
                return 0
            files = base["files"]
            # persisted: the batch aggregate feeds both the touched-day
            # collect and the merge write
            batch = self.build(new_events).persist()
            try:
                days = [r[0] for r in
                        batch.select(self.day_col).distinct().collect()]
                if days:
                    out = batch
                    if files:  # superseded files outlive this write
                        out = self.merge([self._read(spark, base).filter(
                            F.col(self.day_col).isin(days)), batch])
                    files = self._put(files, days, out)
                snapshot.commit(self.path, base, files, stream_id, batch_id)
                return len(days)
            finally:
                batch.unpersist()

    def recompute_days(self, spark: SparkSession, events: DataFrame,
                       days: Sequence) -> int:
        """Re-aggregate exactly the given days from ``events`` (the
        post-rewrite lake) — the erasure and retention hook. Cost is
        O(affected days), not O(store). A day whose every raw row was
        removed yields no rows and leaves the pointer."""
        day_list = sorted({_iso(d) for d in days})
        with snapshot.writer(self.path):
            base = snapshot.load(self.path)
            if not base["files"] or not day_list:
                return 0
            fresh = self.build(events.filter(
                F.to_date(F.col(self.ts_col)).isin(day_list)))
            snapshot.commit(self.path, base,
                            self._put(base["files"], day_list, fresh))
        return len(day_list)

    def expire_before(self, older_than: dt.date) -> list[str]:
        """Retention on the store itself: drop the days strictly older
        than the cutoff from the pointer — zero bytes scanned. Returns
        the dropped ``<day_col>=<day>`` groups. A mid-day cutoff
        additionally needs ``recompute_days`` on the boundary day; the
        lifecycle wiring does both."""
        with snapshot.writer(self.path):
            base = snapshot.load(self.path)
            files = base["files"]
            # ISO days order as strings; Spark's null-day partition
            # (__HIVE_DEFAULT_PARTITION__) sorts after them and stays
            gone = sorted(g for g in files
                          if g.split("=", 1)[1] < older_than.isoformat())
            if gone:
                snapshot.commit(self.path, base, {
                    g: fs for g, fs in files.items() if g not in gone})
        return gone
