"""Ingest surface — transformers, denormalization, upsert, compaction.

Re-expresses the reference's ingester (SURVEY §2.1) Spark-first:

- ``parse_user_agent``: the uaparser enrichment (reference
  ingester/src/transformers/user_agent/mod.rs:1-191) as pure
  ``regexp_extract`` column expressions — JVM-side, codegen-friendly,
  no Python in the hot path. A curated pattern subset, not a port of
  the uap-core database; swap in a fuller pattern list for coverage.
- ``geoip_enrich``: the GeoIP enrichment (reference
  ingester/src/transformers/geo/mod.rs:1-54) as an IP-integer RANGE
  join — ranges exploded into fixed-width prefix buckets, the fact
  side hash-joins on its bucket with the BETWEEN as residual: a
  broadcast equi-join, never a nested-loop range scan.
  ``geo_range_table`` ships deterministic test ranges in the exact
  shape of a public GeoLite2 country CSV export; production swaps in
  the real export without touching callers.
- ``denormalize_group_attrs``: the reference copies group/user
  attributes onto event rows at ingest time (ingester/src/
  destinations/local/track.rs:54-100) so queries never join. Same
  here: broadcast the profile table, stamp its columns onto events.
- ``upsert_profiles``: the replacing-table write (storage/src/
  db.rs:802-864 `replace`) as union + latest-version-wins dedup —
  Spark's idiom for ReplacingMergeTree semantics.
- ``compact_events``: the LSM leveled-merge analogue (storage/src/
  compaction.rs, parquet_merger.rs:403-714): read → repartition by
  date → sort within partitions by (user, ts) → overwrite. Restores
  the physical order the sequence operators (funnel) exploit and
  collapses small files — run it periodically, exactly like the
  reference's background compactor.
- ``load_csv``: explicit-schema CSV source (reference test
  ListingTable source, query/src/lib.rs:701-719).

At 100 TB: every transformer here is either a pure projection (scales
embarrassingly) or a broadcast join (no shuffle of the big side); the
only shuffle is compaction's repartition, which is the point of the
job.
"""

from __future__ import annotations

import os
import threading
import uuid
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import snapshot
from .schema import EVENT_ID_COL, EVENT_TIME_COL, EVENT_USER_COL

# ------------------------------------------------------------------ user agent

#: (family, detection regex, version regex) — FIRST match wins, as in
#: the public uap-core rule set whose top families these re-derive
#: (reference uses uaparser with the same rules,
#: ingester/src/transformers/user_agent/mod.rs:1-191). Order is load-
#: bearing: vendor browsers ship "Chrome/" (Edge, Opera, Samsung,
#: Yandex, UC, Vivaldi), iOS browsers ship "Safari/" (CriOS, FxiOS,
#: EdgiOS), and mobile variants are distinct uap-core families.
_BROWSERS = (
    ("Googlebot", r"Googlebot/", r"Googlebot/(\d+[\.\d]*)"),
    ("Edge Mobile", r"Edg(?:A|iOS)/", r"Edg(?:A|iOS)/(\d+[\.\d]*)"),
    ("Edge", r"Edge?/", r"Edge?/(\d+[\.\d]*)"),
    ("Opera", r"OPR/", r"OPR/(\d+[\.\d]*)"),
    ("Samsung Internet", r"SamsungBrowser/", r"SamsungBrowser/(\d+[\.\d]*)"),
    ("Yandex Browser", r"YaBrowser/", r"YaBrowser/(\d+[\.\d]*)"),
    ("UC Browser", r"UCBrowser/", r"UCBrowser/(\d+[\.\d]*)"),
    ("Vivaldi", r"Vivaldi/", r"Vivaldi/(\d+[\.\d]*)"),
    ("Chrome Mobile iOS", r"CriOS/", r"CriOS/(\d+[\.\d]*)"),
    ("Firefox iOS", r"FxiOS/", r"FxiOS/(\d+[\.\d]*)"),
    ("Chrome Mobile", r"Chrome/[\d.]+ Mobile", r"Chrome/(\d+[\.\d]*)"),
    ("Chrome", r"Chrome/", r"Chrome/(\d+[\.\d]*)"),
    ("Firefox Mobile", r"(?:Mobile|Tablet).{0,40}Firefox/", r"Firefox/(\d+[\.\d]*)"),
    ("Firefox", r"Firefox/", r"Firefox/(\d+[\.\d]*)"),
    ("IE", r"MSIE ", r"MSIE (\d+[\.\d]*)"),    # IE<=10: version from MSIE token
    ("IE", r"Trident/", r"rv:(\d+[\.\d]*)"),   # IE11 drops MSIE, keeps rv:
    ("Mobile Safari", r"Version/[\d.]+.*Mobile.*Safari/", r"Version/(\d+[\.\d]*)"),
    ("Safari", r"Safari/", r"Version/(\d+[\.\d]*)"),
)
_OSES = (
    ("Windows Phone", r"Windows Phone"),
    ("Windows", r"Windows NT"),
    ("Chrome OS", r"CrOS"),       # before Linux: CrOS UAs carry "X11"
    ("Android", r"Android"),      # before Linux: Android UAs carry "Linux"
    ("iOS", r"iPhone|iPad|iPod"),
    ("macOS", r"Mac OS X"),
    ("Linux", r"Linux|X11"),
)

#: device rules: (family literal or None, detection regex, model
#: extraction regex or None) — uap-core's device dimension, subset
_IS_MOBILE_RE = r"Mobile|Android|iPhone|iPad|iPod|Windows Phone|Opera Mobi"


def _sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal (backslashes
    doubled — the default parser consumes escape sequences — and
    single quotes escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ua_field_sqls(ua_sql: str) -> dict[str, str]:
    """The five parsed-UA fields as SQL expression text over
    ``ua_sql`` — CASE chains semantically identical to the former
    chained-`when` Column trees (first match wins, NULL fallbacks).
    Parsed-SQL construction because the Column-tree version was ~300
    py4j round-trips per call (guide §7.3: planning is single-process
    driver work)."""
    q = _sql_str
    b_arms = " ".join(
        f"WHEN {ua_sql} RLIKE {q(det)} THEN {q(fam)}"
        for fam, det, _ in _BROWSERS)
    v_arms = " ".join(
        f"WHEN {ua_sql} RLIKE {q(det)} "
        f"THEN regexp_extract({ua_sql}, {q(ver)}, 1)"
        for _, det, ver in _BROWSERS)
    o_arms = " ".join(
        f"WHEN {ua_sql} RLIKE {q(det)} THEN {q(fam)}"
        for fam, det in _OSES)
    _sm_re = q(r"\b(SM-[A-Za-z0-9]+)")
    _px_re = q(r"\b(Pixel [0-9a-zA-Z]+)")
    samsung = f"regexp_extract({ua_sql}, {_sm_re}, 1)"
    pixel = f"regexp_extract({ua_sql}, {_px_re}, 1)"
    device = (
        f"CASE WHEN {ua_sql} RLIKE 'Googlebot|bingbot|Slurp|crawler|spider'"
        " THEN 'Spider'"
        f" WHEN {ua_sql} RLIKE 'iPhone' THEN 'iPhone'"
        f" WHEN {ua_sql} RLIKE 'iPad' THEN 'iPad'"
        f" WHEN {ua_sql} RLIKE 'iPod' THEN 'iPod'"
        f" WHEN {samsung} != '' THEN concat('Samsung ', {samsung})"
        f" WHEN {pixel} != '' THEN {pixel}"
        f" WHEN {ua_sql} RLIKE 'Macintosh' THEN 'Mac'"
        f" WHEN {ua_sql} RLIKE 'Android' THEN 'Generic Smartphone'"
        " ELSE 'Other' END"
    )
    return {
        "browser": f"CASE {b_arms} ELSE CAST(NULL AS STRING) END",
        "browser_version": f"CASE {v_arms} ELSE CAST(NULL AS STRING) END",
        "os": f"CASE {o_arms} ELSE CAST(NULL AS STRING) END",
        "is_mobile": f"{ua_sql} RLIKE {q(_IS_MOBILE_RE)}",
        "device": device,
    }


_BARE_REF_RE = None  # compiled lazily below


def parse_user_agent(ua: "Column | str") -> Column:
    """struct(browser, browser_version, os, is_mobile, device) from a
    raw user-agent string — CASE chains over the uap-core-derived
    family table, fully JVM-side (built as one parsed SQL expression).

    Accepts a column NAME (str — the preferred form; backtick-quoted
    into the SQL text verbatim) or a plain attribute-reference Column
    (``F.col("ua")``). Arbitrary Column expressions are REJECTED with
    a clear error: the SQL text is rebuilt from the column's string
    form, which is not a reliable round-trip for literals (printed
    unquoted), aliases ("x AS y" inside CASE is a parse error), or
    dotted names (silently resolve as struct-field access) — r16
    advice. Wrap the expression in a named projection first and pass
    the name."""
    global _BARE_REF_RE
    import re

    if _BARE_REF_RE is None:
        _BARE_REF_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
    if isinstance(ua, str):
        name = ua
    else:
        from pyspark.sql.classic.column import Column as _CC

        printed = ua._jc.toString() if isinstance(ua, _CC) else str(ua)
        if not _BARE_REF_RE.match(printed):
            raise ValueError(
                "parse_user_agent needs a column name or a bare column "
                f"reference; got the expression {printed!r}. Project it "
                "to a named column first (df.withColumn('ua', <expr>)) "
                "and pass 'ua'.")
        name = printed
    fields = _ua_field_sqls("`" + name.replace("`", "``") + "`")
    return F.expr(
        "struct(" + ", ".join(
            f"{sql} AS {name_}" for name_, sql in fields.items()) + ")")


def ua_enrich(
    df: DataFrame,
    ua_col: str = "user_agent",
    via_distinct: bool = True,
    known_uas: "Sequence[str] | None" = None,
) -> DataFrame:
    """Stamp parsed UA fields onto rows.

    ``via_distinct`` (default) runs the regex chain over DISTINCT UA
    strings and broadcast-joins the result back — UA cardinality is
    orders of magnitude below row count, so the regex work drops from
    O(rows) to O(distinct UAs). Set False to evaluate inline (cheaper
    when UAs are near-unique).

    ``known_uas``: skip the distinct scan entirely by parsing a
    caller-provided UA catalog (ingest tiers typically maintain one —
    the analogue of the reference's dictionary tables). Unlisted UA
    strings resolve to null fields via the left join, so the hint is
    an optimization, never a correctness dependency. This halves the
    input scans: the distinct pass over a 100 TB events table exists
    only to discover strings the catalog already knows."""
    field_sqls = [
        f"{sql} AS {name}"
        for name, sql in _ua_field_sqls(f"`{ua_col}`").items()
    ]
    if not via_distinct and known_uas is None:
        return df.selectExpr("*", *field_sqls)
    if known_uas is not None:
        base = df.sparkSession.createDataFrame(
            [(u,) for u in known_uas], f"{ua_col} string"
        )
    else:
        base = df.select(ua_col).distinct()
    dim = base.selectExpr("*", *field_sqls)
    return df.join(F.broadcast(dim), ua_col, "left")


# ------------------------------------------------------------------ geoip

_GEO_COUNTRIES = (
    "US", "DE", "BR", "IN", "JP", "GB", "FR", "AU",
)

#: prefix-bucket width for the range join: ranges are exploded into
#: 2^20-address buckets (a /12 CIDR). GeoLite2 country ranges are
#: mostly /16../24, so each range lands in 1-2 buckets and each bucket
#: holds few ranges — the equi-join stays selective and the residual
#: BETWEEN filter cheap.
GEO_PREFIX_SHIFT = 20


def ip_to_int(ip: Column) -> Column:
    """Dotted-quad IPv4 string → uint32-as-long (the integer form a
    GeoLite2 CSV export keys its ranges by)."""
    o = F.split(ip, r"\.")
    return (
        o.getItem(0).cast("long") * F.lit(1 << 24)
        + o.getItem(1).cast("long") * F.lit(1 << 16)
        + o.getItem(2).cast("long") * F.lit(1 << 8)
        + o.getItem(3).cast("long")
    )


def geo_range_table_from_csv(
    spark: SparkSession, blocks_csv: str, locations_csv: str
) -> DataFrame:
    """(start_ip, end_ip, country) from a REAL GeoLite2-Country CSV
    export — the production data path. Column contract (MaxMind's
    published export format, the same database the reference reads
    through maxminddb, ingester/src/transformers/geo/mod.rs:1-54):

    - ``GeoLite2-Country-Blocks-IPv4.csv``: ``network`` ("1.2.3.0/24"
      CIDR), ``geoname_id``, ``registered_country_geoname_id``, …
    - ``GeoLite2-Country-Locations-<lang>.csv``: ``geoname_id``,
      ``country_iso_code``, …

    CIDR → [start, end] integer range entirely in column expressions
    (no UDF); the locations dim broadcasts into the blocks join. Feed
    the result to geoip_enrich(geo=...) — identical mechanics to the
    synthetic table, real data."""
    blocks = spark.read.csv(blocks_csv, header=True)
    locs = spark.read.csv(locations_csv, header=True)
    net = F.split(F.col("network"), "/")
    prefix_len = net.getItem(1).cast("int")
    base = ip_to_int(net.getItem(0))
    # shiftleft's bit count must be a literal in this API; 2^(32-p) is
    # exact in a double for p in [0, 32]
    size = F.pow(F.lit(2.0), (F.lit(32) - prefix_len)).cast("long")
    # fall back to registered_country when the block has no geoname
    gid = F.coalesce(F.col("geoname_id"), F.col("registered_country_geoname_id"))
    return (
        blocks.select(
            base.alias("start_ip"),
            (base + size - 1).alias("end_ip"),
            gid.alias("geoname_id"),
        )
        .join(
            F.broadcast(locs.select("geoname_id", "country_iso_code")),
            "geoname_id",
            "left",
        )
        .select("start_ip", "end_ip", F.col("country_iso_code").alias("country"))
    )


def geo_range_table(spark: SparkSession) -> DataFrame:
    """(start_ip, end_ip, country) IPv4-integer ranges. TEST data: one
    range per /8 block, countries cycling — deterministic so the
    oracle can reproduce the lookup. Production loads a real GeoLite2
    export via geo_range_table_from_csv (same schema, no caller
    changes — the range-join mechanics are identical)."""
    return spark.range(256).select(
        (F.col("id") * (1 << 24)).alias("start_ip"),
        ((F.col("id") + 1) * (1 << 24) - 1).alias("end_ip"),
        F.element_at(
            F.array(*[F.lit(c) for c in _GEO_COUNTRIES]),
            (F.col("id") % len(_GEO_COUNTRIES) + 1).cast("int"),
        ).alias("country"),
    )


def geoip_enrich(
    df: DataFrame, ip_col: str = "ip", geo: Optional[DataFrame] = None
) -> DataFrame:
    """Stamp `country` onto rows by IP-range lookup — the Spark-native
    equivalent of the reference's maxminddb longest-prefix search.

    A naive range join (ip BETWEEN start AND end) degenerates to a
    broadcast nested-loop scan of every range per row. Instead each
    range is exploded into the fixed-width prefix buckets it overlaps
    and the fact side hash-joins on its own bucket, with the BETWEEN
    as a residual condition — a broadcast EQUI-join, so the event side
    never shuffles and per-row work is the handful of ranges sharing
    one bucket. Rows matching no range keep a null country (left
    join), like the reference's unresolved-IP path."""
    geo = geo if geo is not None else geo_range_table(df.sparkSession)
    bucketed = geo.withColumn(
        "__geo_bucket",
        F.explode(
            F.sequence(
                F.shiftright("start_ip", GEO_PREFIX_SHIFT),
                F.shiftright("end_ip", GEO_PREFIX_SHIFT),
            )
        ),
    )
    fact = df.withColumn("__ip_int", ip_to_int(F.col(ip_col))).withColumn(
        "__ip_bucket", F.shiftright("__ip_int", GEO_PREFIX_SHIFT)
    )
    cond = (F.col("__ip_bucket") == bucketed["__geo_bucket"]) & F.col(
        "__ip_int"
    ).between(bucketed["start_ip"], bucketed["end_ip"])
    return (
        fact.join(F.broadcast(bucketed), cond, "left")
        .drop("__ip_int", "__ip_bucket", "__geo_bucket", "start_ip", "end_ip")
    )


# ------------------------------------------------------- denormalize profiles

def denormalize_group_attrs(
    events: DataFrame,
    profiles: DataFrame,
    attrs: Sequence[str],
    on: str = EVENT_USER_COL,
) -> DataFrame:
    """Copy profile attributes onto event rows (the reference's
    ingest-time denormalization) — broadcast left join, so analytics
    queries stay join-free."""
    dim = profiles.select(on, *attrs)
    return events.join(F.broadcast(dim), on, "left")


def write_events_bucketed(
    df: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    bucket_col: str = EVENT_USER_COL,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
    mode: str = "overwrite",
) -> None:
    """Write the events table bucketed by the group column — the
    write layout that lets sequence operators skip their shuffle
    (funnel_attempts(assume_partitioned=True)): a bucketed read puts
    every user's rows in one partition, which is exactly the
    reference's (project, user) LSM sort invariant re-expressed as a
    lake layout. Requires a metastore table (bucketBy is a
    saveAsTable feature); the bucket count is the funnel's max
    parallelism, so size it to the cluster (reading combines each
    bucket's files into one task)."""
    _bucketed(df, n_buckets, bucket_col, sort_cols).mode(mode) \
        .saveAsTable(table_name)


def _bucketed(df: DataFrame, n_buckets: int, bucket_col: str,
              sort_cols: Sequence[str]):
    """``df``'s writer for the bucketed layout: one shuffle on the
    bucket column, sorted within each bucket."""
    return (
        df.repartition(n_buckets, F.col(bucket_col))
        .sortWithinPartitions(*sort_cols)
        .write.bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
    )


def _append_part_files(appends_path: str) -> list[str]:
    """Leaf parquet files currently in the appends dir (the L0 part
    listing — one walk on the driver; an object store swaps this for
    one LIST call). Folded parts stay here until retired; ``_live_l0``
    drops them.

    ``_temporary`` subtrees are pruned: a Spark write job that is
    still running keeps its task files under
    ``_temporary/<attempt>/...`` until the committer renames them into
    place. Listing those would fold in-flight (possibly half-written)
    data — and after the commit rename, the SAME rows would be listed
    again at their final path and folded twice. Only committed files
    are part of the snapshot."""
    out: list[str] = []
    for root, dirs, files in os.walk(appends_path):
        dirs[:] = [d for d in dirs
                   if d != "_temporary" and not d.startswith(".")]
        out.extend(
            os.path.join(root, f) for f in files
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return sorted(out)


# ------------------------------------------------------------ the lake
#
# The events lake is a snapshot.py store whose pointer lives in
# ``tiers_path``. It names the live base directory (group
# ``meta["base"]``, bucket count ``meta["buckets"]``), the live tier
# files (every other group) and, among its retired files, the L0 parts
# already folded. Every write (minor fold, major fold, erasure,
# retention) writes new files, then flips the pointer once under
# ``snapshot.writer(tiers_path)``, so a frame planned before it still
# reads its own files. The caller's catalog table keeps its name and
# bucket spec; its location is derived state, set to the pointer's base
# by ``_point``. The base directory is adopted from the catalog by the
# first write that replaces it; until then the catalog table is the
# base.

#: Held across a pointer flip and the re-point that follows it, and by
#: a reader from loading the pointer to resolving the catalog table, so
#: a reader never pairs one pointer's tiers with another's base.
_POINTING = threading.Lock()


def _catalog_table(spark: SparkSession, table_name: str):
    """The catalog's metadata of ``table_name`` (location, bucket
    spec): one driver-side lookup, no SQL command."""
    state = spark._jsparkSession.sessionState()
    return state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(table_name))


def _point(spark: SparkSession, table_name: str, tiers_path: str,
           ptr: dict) -> DataFrame:
    """The catalog table at the pointer's base, re-pointed first when
    its location differs (a kill between flip and re-point, or a table
    adopted by an earlier process). Caller holds ``_POINTING``."""
    base = ptr["meta"].get("base")
    if base:
        want = os.path.abspath(os.path.join(tiers_path, base))
        if _catalog_table(spark, table_name).location().getPath() != want:
            spark.sql(f"ALTER TABLE {table_name} SET LOCATION {_sql_str(want)}")
    return spark.table(table_name)


def _tiers(ptr: dict) -> dict:
    """The pointer's tier groups: every group but the base."""
    return {g: fs for g, fs in ptr["files"].items()
            if g != ptr["meta"].get("base")}


def _tier_paths(tiers_path: str, ptr: dict) -> list[str]:
    return snapshot.paths(tiers_path, _tiers(ptr))


def _live_l0(appends_path: str, tiers_path: str, ptr: dict) -> list[str]:
    """The L0 parts the pointer has not folded."""
    return [p for p in _append_part_files(appends_path)
            if os.path.relpath(p, tiers_path) not in ptr["retired"]]


def _read_parts(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Tier and L0 part files as one frame, without L0's ``dt``."""
    df = spark.read.parquet(*paths)
    return df.drop("dt") if "dt" in df.columns else df


def _lake_view(spark: SparkSession, table_name: str, appends_path: str,
               tiers_path: str) -> tuple[DataFrame, bool]:
    """(base ∪ live tiers ∪ live L0 as of one pointer, whether that is
    the base alone): a fully folded lake is the bucketed base table,
    every user's rows in one partition."""
    with _POINTING:
        ptr = snapshot.load(tiers_path)
        df = _point(spark, table_name, tiers_path, ptr)
    pending = _tier_paths(tiers_path, ptr) + _live_l0(
        appends_path, tiers_path, ptr)
    if pending:
        df = df.unionByName(_read_parts(spark, pending).select(*df.columns))
    return df, not pending


def _open(spark: SparkSession, table_name: str, tiers_path: str) -> dict:
    """The lake pointer for a write that replaces the base, with the
    catalog table's directory adopted as base on first use. Caller
    holds ``snapshot.writer(tiers_path)``."""
    ptr = snapshot.load(tiers_path)
    if ptr["meta"].get("base"):
        return ptr
    meta = _catalog_table(spark, table_name)
    rel = os.path.relpath(meta.location().getPath(), tiers_path)
    return dict(ptr, files={**ptr["files"], **_base_group(tiers_path, rel)},
                meta={"base": rel,
                      "buckets": meta.bucketSpec().get().numBuckets()})


def _base_group(tiers_path: str, rel: str) -> dict:
    """``{rel: {file: bytes}}`` of every file in base directory ``rel``,
    Spark's ``_SUCCESS`` and checksum files too: a retired base leaves
    an empty directory, where a table of the same name can be created
    again."""
    path = os.path.normpath(os.path.join(tiers_path, rel))
    return {rel: {os.path.join(rel, f): os.path.getsize(os.path.join(path, f))
                  for f in sorted(os.listdir(path))
                  if os.path.isfile(os.path.join(path, f))}}


def _write_base(spark: SparkSession, table_name: str, tiers_path: str,
                df: DataFrame, ptr: dict, bucket_col: str,
                sort_cols: Sequence[str]) -> tuple[dict, dict]:
    """``df`` as a new base directory of the lake, bucketed like the
    catalog table. Spark writes a bucketed layout only through
    ``saveAsTable``, so a transient external table lands the files
    and is dropped (its files stay). Returns the new base's
    ``{group: files}`` and the pointer meta naming it."""
    rel = f"base-{uuid.uuid4().hex}"
    vehicle = f"{table_name}__{rel.replace('-', '_')}"
    try:
        _bucketed(df, ptr["meta"]["buckets"], bucket_col, sort_cols) \
            .option("path", os.path.join(tiers_path, rel)) \
            .saveAsTable(vehicle)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {vehicle}")
    return _base_group(tiers_path, rel), dict(ptr["meta"], base=rel)


def _commit(spark: SparkSession, table_name: Optional[str],
            tiers_path: str, ptr: dict, files: dict, folded: list[str],
            meta: Optional[dict] = None) -> None:
    """Flip the lake pointer from ``ptr`` to ``files``, retiring what
    ``ptr`` named and ``files`` drops plus the L0 parts ``folded``
    (read as if ``ptr`` had named them), then re-point the catalog
    table when the base moved."""
    read = dict(ptr, files={**ptr["files"], "l0": {
        os.path.relpath(p, tiers_path): 0 for p in folded}})
    with _POINTING:
        new = snapshot.commit(tiers_path, read, files, meta=meta)
        if table_name:
            _point(spark, table_name, tiers_path, new)


def compact_appends_into_bucketed(
    spark,
    table_name: str,
    appends_path: str,
    tiers_path: str,
    bucket_col: str = EVENT_USER_COL,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
) -> int:
    """Major fold: the live tiers and L0 parts into a new bucketed base
    — the maintenance loop that keeps ``funnel_attempts(
    assume_partitioned=True)`` valid under continuous ingest. Fresh
    events land date-partitioned (streaming/sessionize.append_events:
    cheap, partition-pruned); the bucketed layout is what elides the
    funnel shuffle. This job reads base ∪ tiers ∪ L0 and writes them as
    a new base directory with the catalog table's bucket count — the
    reference's LSM compaction invariant (parts are merged back into
    sorted runs, storage/src/parquet/parquet_merger.rs:403-714)
    re-expressed as a lake rewrite.

    The new base lands beside the old one; one pointer flip makes it
    live and retires the old base, the folded tiers and the folded L0
    parts together, and the catalog table is re-pointed at it (a
    transactional-format lake makes the same move as a Delta/Iceberg
    rewrite commit). A frame planned before the flip still reads the
    retired files, which stay for ``snapshot.RETIRE_AFTER_S``.

    Sustained-ingest safety: the L0 parts are the snapshot listed under
    the writer lock; a part landing while the rewrite runs is neither
    folded nor retired, so no row is ever lost or folded twice across
    repeated cycles (the reference merger likewise only merges the
    parts it selected, table.rs compactor loop).

    The fold moves rows between lake layouts only; the materialized
    stores (rollup, user-day, KMV) advance in ``server.App.maintain``,
    which the maintenance tick calls with the same batch.

    Returns the number of tier and L0 rows folded in.
    """
    from . import metrics

    with snapshot.writer(tiers_path):
        ptr = _open(spark, table_name, tiers_path)
        with _POINTING:
            base = _point(spark, table_name, tiers_path, ptr)
        l0 = _live_l0(appends_path, tiers_path, ptr)
        pending = _tier_paths(tiers_path, ptr) + l0
        if not pending:
            return 0
        # ONE scan of the pending set: the count materializes the cache
        # the union write then reads, instead of re-reading every part
        rows = _read_parts(spark, pending).select(*base.columns).persist()
        try:
            n = rows.count()
            with metrics.store_compaction_time().time():
                files, meta = _write_base(
                    spark, table_name, tiers_path, base.unionByName(rows),
                    ptr, bucket_col, sort_cols)
        finally:
            rows.unpersist()
        _commit(spark, table_name, tiers_path, ptr, files, l0, meta)
    metrics.store_compactions_total().inc()
    return n


# ------------------------------------------------------ two-tier compaction

def minor_compact_appends(
    spark,
    appends_path: str,
    tiers_path: str,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
    n_files: int = 4,
) -> int:
    """Minor fold: the live L0 parts → ONE sorted L1 tier, WITHOUT
    touching the bucketed base — the reference's per-level merge
    (storage/src/table.rs:44-63: l0 parts merge into a level-1 run;
    only level overflow cascades further). Cost ∝ L0 bytes, so
    sustained ingest stops paying a full base rewrite per trigger —
    that write amplification moves to the (rarer) major fold. The tier
    and the retirement of the folded parts land in one pointer flip.

    Returns rows folded into the new tier (0 = empty L0)."""
    from . import metrics

    with snapshot.writer(tiers_path):
        ptr = snapshot.load(tiers_path)
        l0 = _live_l0(appends_path, tiers_path, ptr)
        if not l0:
            return 0
        # ONE scan of the L0 set: the count materializes the cache the
        # tier write then reads
        df = _read_parts(spark, l0).persist()
        try:
            n = df.count()
            with metrics.store_compaction_time().time():
                tier = _write_tier(df, tiers_path, sort_cols, n_files)
        finally:
            df.unpersist()
        _commit(spark, None, tiers_path, ptr, {**ptr["files"], **tier}, l0)
    return n


def _write_tier(df: DataFrame, tiers_path: str,
                sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL,
                                            EVENT_ID_COL),
                n_files: int = 4) -> dict:
    """``df`` as one new sorted tier of the lake: ``{group: files}``."""
    return snapshot.write(
        df.repartition(n_files, F.col(EVENT_USER_COL))
        .sortWithinPartitions(*sort_cols),
        tiers_path, group=f"tier-{uuid.uuid4().hex}")


def _removed(df: DataFrame, keep: Column) -> int:
    """Rows of ``df`` that ``filter(keep)`` drops, in one narrow pass."""
    total, kept = df.agg(F.count(F.lit(1)), F.count(F.when(keep, 1))).first()
    return total - kept


def filter_lake(
    spark: SparkSession,
    table_name: str,
    appends_path: str,
    tiers_path: str,
    keep: Column,
    bucket_col: str = EVENT_USER_COL,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
) -> dict:
    """Keep only the lake rows ``keep`` passes, in one pointer flip — the
    write behind erasure and retention (lifecycle.py): a new base
    directory of the base's kept rows, and one new tier of the kept
    rows of the live tiers and L0 parts, which retire. A part that
    loses no row is left as it is. Returns rows removed from each:
    ``{"base", "l0", "tiers"}``."""
    with snapshot.writer(tiers_path):
        ptr = _open(spark, table_name, tiers_path)
        with _POINTING:
            base = _point(spark, table_name, tiers_path, ptr)
        tiers = _tier_paths(tiers_path, ptr)
        l0 = _live_l0(appends_path, tiers_path, ptr)
        removed = {"base": _removed(base, keep), "l0": 0, "tiers": 0}
        for key, paths in (("tiers", tiers), ("l0", l0)):
            if paths:
                removed[key] = _removed(_read_parts(spark, paths), keep)
        meta, folded = ptr["meta"], []
        tier_files = _tiers(ptr)
        base_files = {g: fs for g, fs in ptr["files"].items()
                      if g not in tier_files}
        if removed["base"]:
            base_files, meta = _write_base(
                spark, table_name, tiers_path, base.filter(keep), ptr,
                bucket_col, sort_cols)
        if removed["tiers"] or removed["l0"]:
            tier_files = _write_tier(
                _read_parts(spark, tiers + l0).filter(keep), tiers_path,
                sort_cols)
            folded = l0
        if any(removed.values()):
            _commit(spark, table_name, tiers_path, ptr,
                    {**base_files, **tier_files}, folded, meta)
    return removed


class TieredCompactionPolicy:
    """Two-tier trigger loop ≙ the reference's leveled scheme
    (storage/src/table.rs:24-63: ``l0_max_parts`` forces an L0 merge,
    levels grow by ``level_size_multiplier`` before cascading). Tier
    layout here:

    - **L0**: the date-partitioned appends dir (cheap landing zone).
    - **L1**: sorted tier runs under ``tiers_path`` — minor folds move
      L0 here at L0-cost.
    - **base**: the bucketed table — rewritten only when L1 overflows
      (major fold), so bytes-rewritten-per-append-cycle is bounded by
      L0+L1 size, not base size.

    Queries needing unfolded freshness read
    ``events_snapshot(...)`` (base ∪ tiers ∪ appends). Each fold holds
    the lake's writer lock (``snapshot.writer(tiers_path)``) from
    reading the pointer to flipping it, so folds, erasure and
    retention of one lake run one at a time in a process.
    """

    def __init__(
        self,
        l0_max_parts: int = 4,
        l0_max_bytes: int = 64 * 1024 * 1024,
        l1_max_tiers: int = 4,
        l1_max_bytes: int = 512 * 1024 * 1024,
    ):
        self.l0 = CompactionPolicy(l0_max_parts, l0_max_bytes)
        self.l1_max_tiers = l1_max_tiers
        self.l1_max_bytes = l1_max_bytes

    def l1_stats(self, tiers_path: str) -> tuple[int, int]:
        tiers = _tiers(snapshot.load(tiers_path))
        return len(tiers), sum(sum(fs.values()) for fs in tiers.values())

    def should_major(self, tiers_path: str) -> bool:
        n, size = self.l1_stats(tiers_path)
        return n >= self.l1_max_tiers or size >= self.l1_max_bytes

    def maybe_compact(
        self,
        spark,
        table_name: str,
        appends_path: str,
        tiers_path: str,
        **kw,
    ) -> dict:
        """One maintenance tick: minor fold if L0 trips, then major
        fold if L1 trips."""
        minor = major = 0
        if self.l0.should_compact(appends_path, tiers_path):
            minor = minor_compact_appends(spark, appends_path, tiers_path)
        if self.should_major(tiers_path):
            major = compact_appends_into_bucketed(
                spark, table_name, appends_path, tiers_path, **kw)
        return {"minor_rows": minor, "major_rows": major}


def events_snapshot(spark, table_name: str, appends_path: str,
                    tiers_path: str) -> DataFrame:
    """Freshness view: base ∪ live tiers ∪ live L0 appends as of one
    pointer — what a query sees between folds (the reference likewise
    scans parts across all levels, storage/src/db.rs:657-666)."""
    return _lake_view(spark, table_name, appends_path, tiers_path)[0]


class CompactionPolicy:
    """When to run the minor fold — the reference's size-tiered
    trigger (storage/src/table.rs:24-63: ``l0_max_parts`` fresh parts
    force an L0 merge) over the date-partitioned appends dir, L0. The
    policy's job is amortization: fold when enough live L0 parts or
    bytes have accumulated, never per-append (write amplification) and
    never so rarely that reads pay for many small parts.
    """

    def __init__(self, l0_max_parts: int = 4,
                 l0_max_bytes: int = 64 * 1024 * 1024):
        self.l0_max_parts = l0_max_parts
        self.l0_max_bytes = l0_max_bytes

    def l0_stats(self, appends_path: str,
                 tiers_path: str) -> tuple[int, int]:
        """(parts, bytes) of the L0 parts the lake pointer has not
        folded."""
        parts, total = 0, 0
        for f in _live_l0(appends_path, tiers_path,
                          snapshot.load(tiers_path)):
            try:
                sz = os.path.getsize(f)
            except OSError:  # expired by a concurrent retention sweep
                continue  # excluded from BOTH count and size — a
                # gone file must not trip the l0_max_parts trigger
            parts += 1
            total += sz
        return parts, total

    def should_compact(self, appends_path: str, tiers_path: str) -> bool:
        parts, size = self.l0_stats(appends_path, tiers_path)
        return parts >= self.l0_max_parts or size >= self.l0_max_bytes


def tracked_to_events(
    tracked: DataFrame,
    base_event_id: int = 0,
    user_resolver: Optional[Column] = None,
) -> DataFrame:
    """Facade /track batch → events-table rows — the ingester
    DESTINATION step (reference ingester/src/destinations/local/
    track.rs:44-130 writes the typed event row; enrichment columns
    ride along as properties). Produces the driver events schema
    (event_id, ts, user_id, event_type, value, props):

    - event_id: ``base_event_id + monotonically_increasing_id()`` —
      monotonic within a batch like the reference's record id; the
      caller threads the high-water mark between batches.
    - user_id: numeric ids pass through; non-numeric (anonymous ids,
      external ids) hash into the id space — the reference resolves
      them against its identify store, ``user_resolver`` is the seam
      for the same lookup here.
    - value: the ``revenue`` property if present (the fixture's
      metric column); everything else stays in ``props``.
    - enrichment columns (browser/os/country/...) merge INTO props so
      downstream JSON-property queries see them — the reference
      materializes them as physical property columns; here they ride
      the props map until materialize_properties lifts them.
    """
    uid = F.col("user_id")
    if user_resolver is None:
        # try_cast, not cast: ANSI mode throws on non-numeric ids
        user_resolver = F.coalesce(
            uid.try_cast("long"),
            F.conv(F.substring(F.md5(F.coalesce(uid, F.col("anonymous_id"))), 1, 15),
                   16, 10).cast("long"),
        )
    enrich_cols = [
        c for c in ("browser", "browser_version", "os", "is_mobile", "device",
                    "country", "page_path", "page_url", "utm_source")
        if c in tracked.columns
    ]
    client_map = F.from_json(
        F.coalesce(F.col("props"), F.lit("{}")), "map<string,string>")
    enrich_map = F.map_from_arrays(
        F.array(*[F.lit(c) for c in enrich_cols]),
        F.array(*[F.col(c).cast("string") for c in enrich_cols]),
    )
    # CLIENT keys win; enrichment only fills keys the client did not
    # send. A bare map_concat would hit Spark's default
    # mapKeyDedupPolicy=EXCEPTION the moment any client sends a prop
    # named "os"/"country"/... — one overlapping payload failing the
    # whole batch job.
    enrich_only = F.map_filter(
        enrich_map, lambda k, v: ~F.map_contains_key(client_map, k))
    props = F.to_json(
        F.map_filter(
            F.map_concat(client_map, enrich_only),
            lambda k, v: v.isNotNull(),
        )
    )
    return tracked.select(
        (F.lit(base_event_id) + F.monotonically_increasing_id()).alias(EVENT_ID_COL),
        F.to_timestamp(F.col("ts")).alias(EVENT_TIME_COL),
        user_resolver.alias(EVENT_USER_COL),
        F.col("event_type").alias("event_type"),
        F.get_json_object(F.coalesce(F.col("props"), F.lit("{}")), "$.revenue")
        .cast("double").alias("value"),
        props.alias("props"),
    )


def materialize_properties(
    events: DataFrame,
    catalog,
    project_id: int,
    names: Optional[Sequence[str]] = None,
    mark: bool = True,
) -> DataFrame:
    """Materialize catalog properties as physical columns — the Spark
    half of the reference's dynamic schema (``add_field`` appends a
    column at runtime, old parquet parts are null-filled on merge;
    storage/src/db.rs:1233, parquet_merger.rs:14).

    For each named (default: all unmaterialized, non-system) event
    property, adds a column ``Property::column_name()`` =
    json-extracted + dtype-cast value — a pure per-row projection, no
    shuffle; a compaction pass (compact_events) persists it, after
    which parquet schema merge plays the null-fill role for old
    files. ``mark=True`` flips the catalog flag so resolve_property
    serves the physical column from now on.

    CONTRACT: after marking, queries must run against the RETURNED
    frame (which carries the column) or against data rewritten from
    it. Marking and then querying the un-rewritten stored table
    resolves a column that is not there (AnalysisException) — if the
    durable rewrite happens later or might fail, pass ``mark=False``
    and call ``catalog.mark_materialized`` after the write commits."""
    from .dsl import PropertyRef
    from .exprs import prop_col

    props = [
        p for p in catalog.list("event_property", project_id)
        if not p["isSystem"]
        and not p.get("materialized")
        and (names is None or p["name"] in names)
    ]
    cols = {
        p["columnName"]: prop_col(PropertyRef.json(p["name"], p["dataType"]))
        for p in props
    }
    out = events.withColumns(cols)
    if mark:
        for p in props:
            catalog.mark_materialized(project_id, p["name"])
    return out


# ------------------------------------------------------------------ upsert

def upsert_profiles(
    current: DataFrame,
    updates: DataFrame,
    key_col: str = EVENT_USER_COL,
    version_cols: Sequence[str] = (EVENT_TIME_COL, EVENT_ID_COL),
) -> DataFrame:
    """Replacing-merge upsert: union then keep the max-version row per
    key (reference OptiDBImpl::replace + replace-dedup compaction).
    With Delta/Iceberg this becomes MERGE INTO; plain-parquet Spark
    expresses it as a read-side window dedup."""
    merged = current.unionByName(updates, allowMissingColumns=True)
    w = Window.partitionBy(key_col).orderBy(*[F.desc(c) for c in version_cols])
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------------ compaction

def compact_events(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    date_col: str = "dt",
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
) -> None:
    """Periodic rewrite job: re-cluster the append-heavy events table
    into one date-partitioned, (user, ts)-sorted layout. This is the
    reference's LSM compaction re-expressed as `read → repartition →
    sortWithinPartitions → overwrite`: small files collapse, and the
    physical order lets sequence operators skip their shuffle when the
    table is also bucketed."""
    df = spark.read.parquet(src_path)
    if date_col not in df.columns:
        df = df.withColumn(date_col, F.to_date(F.col(EVENT_TIME_COL)))
    (
        df.repartition(F.col(date_col))
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .partitionBy(date_col)
        .parquet(dst_path)
    )


# ------------------------------------------------------------------ sources

def load_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """Explicit-schema CSV source — no inference pass over the data
    (inference is a full extra scan at 100 TB)."""
    return spark.read.csv(path, schema=schema, header=header)
