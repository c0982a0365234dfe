"""Data-lifecycle operations: user erasure and time-based retention.

The reference has no deletion story at all (OptiDBImpl exposes
insert/replace/get and compaction — storage/src/db.rs — but nothing
removes committed rows); at production scale both operations are
non-optional: right-to-erasure requests arrive continuously, and an
events lake that never expires old data grows without bound.

Design, per store tier:

- **bucketed base** (the big one): a staged filtered rewrite through
  the SAME staging-table + manifest + swap protocol compaction uses
  (`ingest._recover_compaction` finishes or discards an interrupted
  cycle), so a crash can never lose the table — at worst the erasure
  simply has not happened yet and is retried. At 100 TB this is why
  erasure is BATCHED: the standard GDPR design queues requests and
  folds them into the next maintenance rewrite (the 30-day SLA exists
  precisely because erasure rides the compaction cadence, not the
  request path).
- **L0 append parts / L1 tier files / side stores** (small by
  construction — the compaction loop keeps them bounded): per-file
  filter-and-replace with pyarrow, `os.replace` making each file
  swap atomic; a crash mid-file leaves only a dot-prefixed temp that
  every part lister already skips. Driver-side per-file work is fine
  at this tier's size; an object-store deployment distributes the
  same loop with a mapPartitions over the file list.
- **date-partitioned stores** (appends, compacted layout): retention
  is a partition DROP — directory deletes decided by the dt= value,
  no data scanned at all. This is the reason the ingest layout is
  date-partitioned in the first place.

Single-writer assumption: lifecycle ops run inside the same
maintenance loop as compaction (they share its staging name and
manifest), never concurrently with it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .ingest import (
    _append_part_files,
    _committed_tiers,
    _recover_compaction,
    events_snapshot,
    write_events_bucketed,
)
from .schema import EVENT_ID_COL, EVENT_TIME_COL, EVENT_USER_COL

_ERASE_MANIFEST = ".compaction_folded.json"  # shared with compaction


def _repair_day_stores(spark: SparkSession, day_stores, table_name: str,
                       appends_path: str, tiers_path, days) -> int:
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


def _table_num_buckets(spark: SparkSession, table_name: str, default: int = 32) -> int:
    """Bucket count of a metastore table (DESCRIBE FORMATTED) — the
    rewrite must preserve it or assume_partitioned readers break."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect():
        if (row.col_name or "").strip() == "Num Buckets":
            try:
                return int(row.data_type.strip())
            except (TypeError, ValueError):
                break
    return default


def _rewrite_base_filtered(
    spark: SparkSession,
    table_name: str,
    appends_path: str,
    keep,
    bucket_col: str = EVENT_USER_COL,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
) -> int:
    """Crash-safe staged rewrite of the bucketed base keeping only
    rows matching ``keep``; returns rows removed."""
    import json as _json

    _recover_compaction(spark, table_name, appends_path)
    base = spark.table(table_name)
    # one narrow pass computes total and kept together — at the scale
    # this module targets, separate before/after counts would double
    # the rewrite's scan cost just to report a number
    counts = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(keep, F.lit(1)).otherwise(F.lit(0))).alias("kept"),
    ).collect()[0]
    removed = int(counts["total"] or 0) - int(counts["kept"] or 0)
    staging = f"{table_name}__compact_staging"
    manifest = os.path.join(appends_path, _ERASE_MANIFEST)
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    write_events_bucketed(
        base.filter(keep), staging,
        n_buckets=_table_num_buckets(spark, table_name),
        bucket_col=bucket_col, sort_cols=sort_cols,
    )
    # empty files list: the protocol's swap/recovery semantics apply,
    # there is just no L0 cleanup tied to this rewrite
    with open(manifest, "w") as f:
        _json.dump({"staging": staging, "files": []}, f)
    spark.sql(f"DROP TABLE {table_name}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    os.remove(manifest)
    return removed


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


def _rewrite_file_excluding_before(path: str, cutoff: dt.datetime,
                                   ts_col: str) -> int:
    """Per-file retention: drop rows with ts < cutoff. Null-ts rows
    are kept (they have no age). The naive cutoff is interpreted as
    UTC — the engine convention every table is stamped with."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def keep(table):
        if ts_col not in table.column_names:
            return None
        col = table[ts_col]
        scalar = pa.scalar(cutoff).cast(col.type)
        return pc.fill_null(pc.greater_equal(col, scalar), True)

    return _rewrite_file_filtered(path, keep)


def erase_users(
    spark: SparkSession,
    table_name: str,
    appends_path: str,
    user_ids: Sequence[int],
    tiers_path: Optional[str] = None,
    extra_paths: Sequence[str] = (),
    user_col: str = EVENT_USER_COL,
    day_stores: Sequence = (),
) -> dict:
    """Right-to-erasure: remove every event of ``user_ids`` from the
    bucketed base, the L0 append parts, the committed L1 tiers, and
    any ``extra_paths`` parquet files keyed by the same user column
    (e.g. a profile store). Returns per-tier removed-row counts.

    ``day_stores``: day stores (rollup, user-day, KMV) maintained
    against this lake — their affected day partitions (the days the
    erased users were active, computed before the rewrite) are
    re-aggregated from the post-rewrite lake, because their folds are
    additive-only and a routed query would otherwise keep counting the
    erased users. ``rollup_days`` in the result sums the days
    re-aggregated across every day store.

    The L0/tier snapshot is the file list at entry — parts landing
    mid-erasure are untouched (re-run for stragglers; the standard
    queue-and-batch flow re-sweeps anyway)."""
    ids = sorted(set(user_ids))
    if not ids:
        return {"base": 0, "l0": 0, "tiers": 0, "extra": 0,
                "rollup_days": 0}
    out = {"base": 0, "l0": 0, "tiers": 0, "extra": 0, "rollup_days": 0}
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
    out["base"] = _rewrite_base_filtered(
        spark, table_name, appends_path,
        ~F.col(user_col).isin(ids), bucket_col=user_col,
    )
    for part in _append_part_files(appends_path):
        out["l0"] += _rewrite_file_excluding_users(part, ids, user_col)
    if tiers_path:
        for tier_dir in _committed_tiers(tiers_path):
            for name in sorted(os.listdir(tier_dir)):
                if name.endswith(".parquet") and not name.startswith("."):
                    out["tiers"] += _rewrite_file_excluding_users(
                        os.path.join(tier_dir, name), ids, user_col)
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
    # drop Spark's cached leaf-file statuses for the rewritten paths —
    # the in-place os.replace changed file lengths, and a stale
    # FileStatusCache entry fails the next scan with FAILED_READ_FILE
    for p in (appends_path, tiers_path, *extra_paths):
        if p:
            spark.catalog.refreshByPath(p)
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
    tiers_path: Optional[str] = None,
    day_stores: Sequence = (),
) -> int:
    """Retention on the bucketed base (not date-partitioned, so a
    filtered rewrite): drops rows with ts < cutoff through the same
    crash-safe staged swap as erasure. Run at the compaction cadence
    — on a transactional lake this and the fold are one commit.

    ``tiers_path``: ALSO sweep the committed L1 tiers (per-file
    atomic rewrite, like erasure). Tiers are user-sorted, not dated,
    so a partition drop can't reach them — and without this sweep the
    next major fold would fold their pre-cutoff rows back into the
    freshly-expired base, resurrecting deleted history.

    ``day_stores``: day stores (rollup, user-day, KMV) maintained
    against this lake. Their expired days leave the store's pointer in
    one commit (``DayStore.expire_before``, zero bytes scanned), so no
    reader's file listing goes stale; a mid-day cutoff additionally
    re-aggregates the boundary day, which keeps its post-cutoff rows.

    Returns total rows removed (base + tiers)."""
    removed = _rewrite_base_filtered(
        spark, table_name, appends_path, F.col(ts_col) >= F.lit(older_than))
    if tiers_path:
        for tier_dir in _committed_tiers(tiers_path):
            for name in sorted(os.listdir(tier_dir)):
                if name.endswith(".parquet") and not name.startswith("."):
                    removed += _rewrite_file_excluding_before(
                        os.path.join(tier_dir, name), older_than, ts_col)
        spark.catalog.refreshByPath(tiers_path)
    for store in day_stores:
        store.expire_before(older_than.date())
    if older_than.time() != dt.time.min:
        _repair_day_stores(spark, day_stores, table_name, appends_path,
                           tiers_path, [older_than.date()])
    return removed
