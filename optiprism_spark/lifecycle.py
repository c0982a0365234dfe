"""Data-lifecycle operations: user erasure and time-based retention.

The reference has no deletion story at all (OptiDBImpl exposes
insert/replace/get and compaction — storage/src/db.rs — but nothing
removes committed rows); at production scale both operations are
non-optional: right-to-erasure requests arrive continuously, and an
events lake that never expires old data grows without bound.

Design, per store tier:

- **events lake** (bucketed base, L1 tiers, L0 appends): erasure and
  retention are one filtered fold through the lake's pointer commit
  (ingest.py over snapshot.py). The base is rewritten as a new
  bucketed directory of the rows ``keep`` passes, and the live tiers
  plus the L0 snapshot become one new tier of their kept rows; one
  pointer flip makes both live and retires every file they replace,
  and the catalog table is re-pointed at the new base. A crash before
  the flip leaves the lake as it was (the operation is simply
  retried); a query planned before it keeps reading the retired files
  for ``snapshot.RETIRE_AFTER_S``, after which the maintenance tick's
  sweep deletes them. At 100 TB this is why erasure is BATCHED: the
  standard GDPR design queues requests and folds them into the next
  maintenance rewrite (the 30-day SLA exists precisely because
  erasure rides the compaction cadence, not the request path).
- **side stores** (``extra_paths``, e.g. a profile store): per-file
  filter-and-replace with pyarrow, ``os.replace`` making each file
  swap atomic; a crash mid-file leaves only a dot-prefixed temp that
  every part lister already skips.
- **date-partitioned stores** (appends, compacted layout): retention
  is a partition DROP — directory deletes decided by the dt= value,
  no data scanned at all. This is the reason the ingest layout is
  date-partitioned in the first place.
- **day stores** (rollup, user-day, KMV): the affected days are
  re-aggregated (erasure) or leave the store's pointer (retention).

Lake operations hold the lake's writer lock
(``snapshot.writer(tiers_path)``) like the folds, so they run one at a
time with them in a process.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .ingest import events_snapshot, filter_lake
from .exprs import _ts_lit
from .schema import EVENT_TIME_COL, EVENT_USER_COL


def _repair_day_stores(spark: SparkSession, day_stores, table_name: str,
                       appends_path: str, tiers_path: str, days) -> int:
    """Re-aggregate the affected days of every day store (rollup,
    user-day, KMV — daystore.DayStore) from the post-rewrite lake view.
    A fold (``DayStore.update``) is additive-only — counts and sums
    add, HLL and KMV sketches union — so a deletion can never be merged
    in as a delta; without this repair a routed dashboard query keeps
    counting erased users until a full rebuild. Cost is O(affected
    days × stores), never O(store)."""
    if not day_stores or not days:
        return 0
    snap = events_snapshot(spark, table_name, appends_path, tiers_path)
    n = 0
    for store in day_stores:
        n += store.recompute_days(spark, snap, days)
    return n


def _rewrite_file_filtered(path: str, keep_mask_fn) -> int:
    """Atomic per-file filter: read with pyarrow, keep the rows
    ``keep_mask_fn(table)`` marks True, os.replace into place. The fn
    returns None to leave the file untouched. Returns rows removed
    (0 → file untouched)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    # Spark writes timestamps as INT96 by default; pyarrow reads those
    # as timestamp[ns] and would re-encode them as INT64 nanos, which
    # Spark then fails to decode against the union's merged schema
    # (KD001 type mismatch) the first time a query materializes ts
    # from a rewritten file. Preserve the source's physical encoding.
    has_int96 = any(
        pf.schema.column(i).physical_type == "INT96"
        for i in range(len(pf.schema))
    )
    table = pf.read()
    keep = keep_mask_fn(table)
    if keep is None:
        return 0
    keep = pc.fill_null(keep, False)
    n_hit = len(table) - (pc.sum(keep).as_py() or 0)
    if not n_hit:
        return 0
    kept = table.filter(keep)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".erase")
    pq.write_table(kept, tmp, use_deprecated_int96_timestamps=has_int96)
    os.replace(tmp, path)
    # Hadoop's ChecksumFileSystem keeps a sidecar .<name>.crc for
    # files Spark wrote locally; the rewritten bytes no longer match
    # it and the next scan fails with ChecksumException. Object
    # stores have no sidecar — local-FS-only cleanup.
    crc = os.path.join(os.path.dirname(path),
                       "." + os.path.basename(path) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    return n_hit


def _rewrite_file_excluding_users(path: str, user_ids, user_col: str) -> int:
    import pyarrow as pa
    import pyarrow.compute as pc

    def keep(table):
        if user_col not in table.column_names:
            return None
        return pc.invert(pc.fill_null(
            pc.is_in(table[user_col], value_set=pa.array(list(user_ids))),
            False))

    return _rewrite_file_filtered(path, keep)


def erase_users(
    spark: SparkSession,
    table_name: str,
    appends_path: str,
    user_ids: Sequence[int],
    tiers_path: str,
    extra_paths: Sequence[str] = (),
    user_col: str = EVENT_USER_COL,
    day_stores: Sequence = (),
) -> dict:
    """Right-to-erasure: remove every event of ``user_ids`` from the
    events lake (bucketed base, L1 tiers, L0 append parts — one
    filtered fold) and from any ``extra_paths`` parquet files keyed by
    the same user column (e.g. a profile store). Returns per-tier
    removed-row counts.

    ``day_stores``: day stores (rollup, user-day, KMV) maintained
    against this lake — their affected day partitions (the days the
    erased users were active, computed before the rewrite) are
    re-aggregated from the post-rewrite lake, because their folds are
    additive-only and a routed query would otherwise keep counting the
    erased users. ``rollup_days`` in the result sums the days
    re-aggregated across every day store.

    The L0 snapshot is the part list at entry — parts landing
    mid-erasure are untouched (re-run for stragglers; the standard
    queue-and-batch flow re-sweeps anyway)."""
    ids = sorted(set(user_ids))
    out = {"base": 0, "l0": 0, "tiers": 0, "extra": 0, "rollup_days": 0}
    if not ids:
        return out
    # affected store days BEFORE any rewrite: the distinct event dates
    # of the victims across the full lake view — one narrow
    # (user, ts)-projected scan, pruned to two columns
    days: list[dt.date] = []
    if day_stores:
        days = [
            r[0]
            for r in events_snapshot(spark, table_name, appends_path,
                                     tiers_path)
            .filter(F.col(user_col).isin(ids))
            .select(F.to_date(F.col(EVENT_TIME_COL)).alias("d"))
            .distinct()
            .collect()
        ]
    out.update(filter_lake(
        spark, table_name, appends_path, tiers_path,
        ~F.col(user_col).isin(ids), bucket_col=user_col))
    for p in extra_paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                for name in files:
                    if name.endswith(".parquet") and not name.startswith("."):
                        out["extra"] += _rewrite_file_excluding_users(
                            os.path.join(root, name), ids, user_col)
        elif os.path.exists(p):
            out["extra"] += _rewrite_file_excluding_users(p, ids, user_col)
    out["rollup_days"] = _repair_day_stores(
        spark, day_stores, table_name, appends_path, tiers_path, days)
    return out


def expire_partitions(dated_path: str, older_than: dt.date,
                      date_col: str = "dt") -> dict:
    """Time-based retention on a date-partitioned store: drop every
    ``dt=YYYY-MM-DD`` partition strictly older than the cutoff — a
    directory delete decided from the partition value, zero bytes
    scanned. This is the 100 TB retention path; it is O(partitions),
    not O(data)."""
    dropped, bytes_freed = [], 0
    if not os.path.isdir(dated_path):
        return {"partitions_dropped": [], "bytes_freed": 0}
    for name in sorted(os.listdir(dated_path)):
        if not name.startswith(f"{date_col}="):
            continue
        try:
            part_date = dt.date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            continue
        if part_date < older_than:
            full = os.path.join(dated_path, name)
            for root, _dirs, files in os.walk(full):
                bytes_freed += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files)
            shutil.rmtree(full)
            dropped.append(name)
    return {"partitions_dropped": dropped, "bytes_freed": bytes_freed}


def expire_base(
    spark: SparkSession,
    table_name: str,
    appends_path: str,
    older_than: dt.datetime,
    ts_col: str = EVENT_TIME_COL,
    *,
    tiers_path: str,
    day_stores: Sequence = (),
) -> int:
    """Retention on the events lake (its base is not date-partitioned,
    so a filtered fold): drops rows with ts < cutoff from the base, the
    L1 tiers and the L0 parts in one pointer flip, like erasure. Tiers
    are user-sorted, not dated, so a partition drop can't reach them —
    and a fold that skipped them would let the next major fold bring
    their pre-cutoff rows back into the expired base. Run at the
    compaction cadence.

    ``day_stores``: day stores (rollup, user-day, KMV) maintained
    against this lake. Their expired days leave the store's pointer in
    one commit (``DayStore.expire_before``, zero bytes scanned), so no
    reader's file listing goes stale; a mid-day cutoff additionally
    re-aggregates the boundary day, which keeps its post-cutoff rows.

    Returns total rows removed."""
    removed = sum(filter_lake(
        spark, table_name, appends_path, tiers_path,
        F.col(ts_col) >= _ts_lit(older_than)).values())
    for store in day_stores:
        store.expire_before(older_than.date())
    if older_than.time() != dt.time.min:
        _repair_day_stores(spark, day_stores, table_name, appends_path,
                           tiers_path, [older_than.date()])
    return removed
