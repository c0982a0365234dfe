"""Data model: type mapping and table catalog.

The reference's user-facing type system (``DType``, reference
common/src/types.rs:126-137) maps onto Spark types 1:1; its events
table is one wide, append-only fact table scanned by every analytics
query (reference common/src/types.rs:20). Here the driver-provided
parquet tables play that role.

At 100 TB the events table should be written date-partitioned
(``.partitionBy(F.to_date("ts"))``) and optionally bucketed by
``user_id`` so sequence operators (funnel) avoid a shuffle; readers
here take plain parquet paths and rely on Catalyst pushdown/pruning.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: reference DType -> Spark type (SURVEY §1.2; reference common/src/types.rs:126-137)
DTYPE_TO_SPARK = {
    "string": T.StringType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "decimal": T.DecimalType(28, 16),  # reference DECIMAL_PRECISION/SCALE, types.rs:14-16
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),  # ms in the reference; Spark is µs — superset
}

#: display rounding for decimal metrics (reference ROUND_DIGITS, types.rs:17)
ROUND_DIGITS = 3

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Events-table column roles (driver testdata schema; the reference's
# system columns project_id/group_0..4/created_at/event map onto these:
# user_id ≙ group_0, ts ≙ created_at, event_type ≙ event).
EVENT_TIME_COL = "ts"
EVENT_USER_COL = "user_id"
EVENT_NAME_COL = "event_type"
EVENT_ID_COL = "event_id"


#: session confs the engine's tables require. Consulted at EXECUTION
#: time, not just at read(): restoring a prior value after load_table
#: returned would silently change how the (lazy) DataFrame decodes its
#: TIMESTAMP(NANOS) column when it finally runs — per-read scoping is
#: unsafe by construction, so these are stamped session-wide.
_IO_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
)


def ensure_io_confs(spark: SparkSession) -> None:
    """Stamp the engine's required session confs (idempotent). If a
    conf was already EXPLICITLY set to a conflicting value, it is
    still overridden — the tables are unreadable otherwise — but with
    a visible warning, so the session-wide mutation is never silent.
    (Confs merely at their Spark defaults are stamped without noise:
    ``conf.get(key, None)`` returns None unless the user set them.)"""
    import warnings

    for key, want in _IO_CONFS:
        try:
            cur = spark.conf.get(key)
        except Exception:
            cur = None
        if cur == want:
            continue
        try:
            explicit = spark.conf.get(key, None)
        except Exception:
            explicit = None
        if explicit is not None and explicit != want:
            warnings.warn(
                f"optiprism_spark overrides {key}={explicit!r} with {want!r} "
                "(engine convention: driver tables carry TIMESTAMP(NANOS) "
                "decoded under these confs, UTC everywhere)",
                RuntimeWarning,
            )
        spark.conf.set(key, want)


#: (session, realpath, mtime_ns, size) → lazy DataFrame. Plan
#: metadata only — NO data/result caching: executing a memoized frame
#: re-reads the parquet bytes like any scan. What it skips is the
#: per-call `spark.read.parquet` footer/schema round-trip (~0.1 s of
#: driver py4j + file I/O PER TABLE PER QUERY — guide §7.3 driver-side
#: work; a real deployment resolves tables through a catalog once).
#: The stat snapshot in the key makes a rewritten table (new mtime /
#: size) a cache miss, so mutated tmp-dir fixtures re-read schemas.
_TABLE_PLANS: dict[tuple, DataFrame] = {}
_TABLE_PLANS_MAX = 256


def _memo_key(spark: SparkSession, path: str, ns: str) -> "tuple | None":
    """Shared memo key: (namespace, session, realpath, stat
    fingerprint) or None when the path cannot be fingerprinted.

    ``ns`` disambiguates the frames built from one path — load_table
    caches the nanos→µs-TRANSFORMED frame, memo_parquet the raw read,
    DayStore.read the day-first projection (``day:<day_col>``);
    without the namespace a path read through two of them would
    silently serve the wrong variant (r16 advice).

    The directory fingerprint stores the (name, mtime_ns) entries
    tuple ITSELF, not hash(tuple(...)) — a 64-bit in-process hash
    collision would serve a stale plan silently (r16 advice). DEPTH
    LIMIT (documented, by design): only ONE level of children is
    statted; a write that only touches files two levels deep without
    bumping its partition directory's mtime is not detected. POSIX
    directory mtime bumps on child create/delete/rename — the way
    parquet writers land files — so partitioned stores (the intended
    users) are covered; deeper custom layouts should not rely on
    this memo."""
    try:
        st = os.stat(path)
        fingerprint: tuple = (st.st_mtime_ns, st.st_size)
        if os.path.isdir(path):
            # a date-partitioned append lands in a SUBdirectory and
            # does not bump the top-level mtime — fingerprint one
            # level of children too; beyond 2048 entries skip the
            # memo rather than pay a large scandir per call
            entries = tuple(sorted(
                (e.name, e.stat().st_mtime_ns) for e in os.scandir(path)
            ))
            if len(entries) > 2048:
                return None
            fingerprint += (entries,)
        # session-scoped (not applicationId-scoped): a frame memoized
        # under one session must not execute under another session of
        # the same application (spark.newSession(), a cloned session)
        # with different session confs
        return (ns, spark, os.path.realpath(path), fingerprint)
    except Exception:
        return None  # unstattable path / stopped context


def memo_plan(spark: SparkSession, path: str, ns: str,
              read: Callable[[], DataFrame]) -> DataFrame:
    """The one plan memo behind ``load_table``, ``memo_parquet`` and
    ``daystore.DayStore.read``: ``read()`` once per (namespace,
    session, path, stat fingerprint), the frame served from
    ``_TABLE_PLANS`` after that. ``ns`` names the variant the caller
    builds from the path (see _memo_key); an unstattable path is read
    every call."""
    key = _memo_key(spark, path, ns)
    if key is not None:
        hit = _TABLE_PLANS.get(key)
        if hit is not None:
            return hit
    df = read()
    if key is not None:
        if len(_TABLE_PLANS) >= _TABLE_PLANS_MAX:
            _TABLE_PLANS.clear()  # tmp-dir fixtures churn keys; plans are cheap to rebuild
        _TABLE_PLANS[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table.

    SIDE EFFECT (deliberate, session-wide, loud on conflict): stamps
    the ``_IO_CONFS`` above via ``ensure_io_confs`` — every session
    that touches these tables (including the driver's own) needs the
    same three settings, so the first load sets them."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # runtime-set for sessions not built by session.get_spark (e.g. the
    # driver's own session): events.parquet carries TIMESTAMP(NANOS)
    ensure_io_confs(spark)
    from . import metrics

    metrics.store_scans_total().inc(table=name)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def read() -> DataFrame:
        with metrics.store_scan_time().time(table=name):
            df = spark.read.parquet(path)
        # TIMESTAMP(NANOS) columns arrive as long (see session.py
        # nanosAsLong); floor-convert to µs timestamps — the same
        # truncation DuckDB applies reading nanos into its µs timestamps.
        from pyspark.sql import functions as F

        for field in df.schema.fields:
            if (field.name == EVENT_TIME_COL
                    and isinstance(field.dataType, T.LongType)):
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"{field.name} div 1000")))
        return df

    return memo_plan(spark, path, "table", read)


def memo_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Memoized lazy ``spark.read.parquet`` of a persisted store
    directory (the IVF index generations): plan metadata only, never
    data — executing the frame re-reads the parquet bytes, and a
    rewrite or an appended partition changes the stat fingerprint, so
    it misses. Skipping the per-call footer/schema round-trip was
    ~0.1 s of driver time per store read per query. The day stores
    memoize their day-first projection instead (``DayStore.read``,
    namespace ``day:<day_col>``)."""
    return memo_plan(spark, path, "raw", lambda: spark.read.parquet(path))


def write_json_durable(path: str, obj) -> None:
    """Commit ``obj`` as the JSON file at ``path``: write a temp file
    unique to this process and thread, flush + fsync it, then
    ``os.replace`` it over ``path`` — a reader sees the old document
    or the new one, never a torn write, and two concurrent writers
    never share a temp file. Keys are written sorted."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_json(path: str, default=None):
    """The document ``write_json_durable`` committed at ``path``, or
    ``default`` when the file is missing or unparsable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return default


def overwrite_partitions(df: DataFrame, partition_col: str,
                         path: str) -> None:
    """Write ``df`` to the parquet store at ``path``, partitioned by
    ``partition_col``, replacing only the partitions ``df`` holds rows
    for (a dynamic partition overwrite) — the fold/recompute write of
    every dt-partitioned store.

    The mode rides on this one writer, never on the session-wide
    ``spark.sql.sources.partitionOverwriteMode``: flipping the session
    conf races with every other writer of the session, which could
    inherit ``dynamic`` (a static rebuild that leaves stale partitions
    standing) or lose it (a fold that wipes the unmerged partitions)."""
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(partition_col).parquet(path))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path).

    The fact pair (orders/lineitem) is routed through the co-bucketed
    warehouse layout when a current build exists, so ad-hoc SQL joins
    on the order key get the Exchange-free plan too — the layout is a
    property of the store, not of one registered query."""
    dfs = load_tables(spark, sf_dir)
    from .warehouse_layout import order_facts

    # routed loader: bucketed tables when current, raw otherwise (the
    # raw fallback is the same frame load_tables already produced)
    dfs["orders"], dfs["lineitem"] = order_facts(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
