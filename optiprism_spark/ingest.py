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
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import (
    EVENT_ID_COL,
    EVENT_TIME_COL,
    EVENT_USER_COL,
    parquet_bytes,
)

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
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
        .saveAsTable(table_name)
    )


def _append_part_files(appends_path: str) -> list[str]:
    """Leaf parquet files currently in the appends dir (the L0 part
    listing — one walk on the driver; an object store swaps this for
    one LIST call).

    ``_temporary`` subtrees are pruned: a Spark write job that is
    still running keeps its task files under
    ``_temporary/<attempt>/...`` until the committer renames them into
    place. Listing those would fold in-flight (possibly half-written)
    data — and after the commit rename, the SAME rows would be listed
    again at their final path and folded twice. Only committed files
    are part of the snapshot."""
    out: list[str] = []
    for root, dirs, files in os.walk(appends_path):
        # besides in-flight _temporary trees: an UNCOMMITTED tier dir
        # (no _SUCCESS) is a torn minor fold whose rows still sit in
        # L0 — folding it would ingest them twice once recovery
        # re-folds the intact L0 (the should_major/_committed_tiers
        # gating must hold for the fold's own file walk too)
        dirs[:] = [
            d for d in dirs
            if d != "_temporary"
            and not d.startswith(".")
            and not (
                d.startswith(_TIER_PREFIX)
                and not os.path.exists(os.path.join(root, d, "_SUCCESS"))
            )
        ]
        out.extend(
            os.path.join(root, f) for f in files
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return sorted(out)


_COMPACT_MANIFEST = ".compaction_folded.json"


def _recover_compaction(spark, table_name: str, appends_path: str) -> None:
    """Finish (or discard) a compaction cycle interrupted by a crash.

    The swap (DROP old -> RENAME staging) is not atomic in a Hive-ish
    catalog; the recovery protocol derives what happened from table
    existence plus the folded-files marker:

    - no marker: any leftover staging table is a stale fold from a
      crash before the marker write — drop it, nothing was committed.
    - marker + BOTH tables: crash before the DROP — the staged fold is
      stale (appends may have grown); discard staging + marker.
    - marker + staging only: crash between DROP and RENAME — complete
      the rename, then the marker's files are folded: delete them.
    - marker + main only: crash after the swap, before the append
      cleanup — delete the marker's files.

    Net effect with compact_appends_into_bucketed: every append file
    is folded exactly once and the table always exists after recovery.
    """
    staging = f"{table_name}__compact_staging"
    manifest = os.path.join(appends_path, _COMPACT_MANIFEST)
    staging_exists = spark.catalog.tableExists(staging)
    if not os.path.exists(manifest):
        if staging_exists and spark.catalog.tableExists(table_name):
            spark.sql(f"DROP TABLE {staging}")
        return
    import json as _json

    with open(manifest) as f:
        info = _json.load(f)
    main_exists = spark.catalog.tableExists(table_name)
    if main_exists and staging_exists:
        spark.sql(f"DROP TABLE {staging}")
        os.remove(manifest)
        return
    if not main_exists and staging_exists:
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    for f_path in info.get("files", ()):
        try:
            os.remove(f_path)
        except FileNotFoundError:
            pass
    os.remove(manifest)


def compact_appends_into_bucketed(
    spark,
    table_name: str,
    appends_path: str,
    n_buckets: int = 32,
    bucket_col: str = EVENT_USER_COL,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
    clear_appends: bool = True,
) -> int:
    """Fold date-partitioned appends into the bucketed table — the
    maintenance loop that keeps ``funnel_attempts(assume_partitioned=
    True)`` valid under continuous ingest. Fresh events land
    date-partitioned (streaming/sessionize.append_events: cheap,
    partition-pruned); the bucketed layout is what elides the funnel
    shuffle. This job reads both, unions, and rewrites the bucketed
    table — the reference's LSM compaction invariant (parts are merged
    back into sorted runs, storage/src/parquet/parquet_merger.rs:
    403-714) re-expressed as a lake rewrite.

    The rewrite goes through a staging table + rename because Spark
    cannot overwrite a table it is reading from — the same
    write-new-parts-then-swap move the reference merger makes. On a
    production lake the swap is a transactional-format commit (Delta/
    Iceberg rewrite) and the union is incremental per bucket; the
    plan shape (one shuffle on the bucket column, then a sorted
    bucketed write) is identical.

    Sustained-ingest safety: the appends are read from a SNAPSHOT of
    the part files listed at entry, and (with ``clear_appends``, the
    default for a maintenance loop) exactly those files are deleted
    after the swap — append files landing while the rewrite runs are
    neither folded nor deleted, so no row is ever lost or folded
    twice across repeated cycles (the reference merger likewise only
    merges the parts it selected, table.rs compactor loop).

    The fold moves rows between lake layouts only; the materialized
    stores (rollup, user-day, KMV) advance in ``server.App.maintain``,
    which the maintenance tick calls with the same batch.

    Returns the number of appended rows folded in.
    """
    _recover_compaction(spark, table_name, appends_path)
    part_files = _append_part_files(appends_path)
    if not part_files:
        return 0
    bucketed = spark.table(table_name)
    appends = spark.read.parquet(*part_files)
    if "dt" in appends.columns and "dt" not in bucketed.columns:
        appends = appends.drop("dt")
    # ONE scan of the append set: the count materializes the cache the
    # union write then reads, instead of re-reading every part file
    appends = appends.select(*bucketed.columns).persist()
    n = appends.count()
    if n == 0:
        appends.unpersist()
        return 0
    from . import metrics

    staging = f"{table_name}__compact_staging"
    manifest = os.path.join(appends_path, _COMPACT_MANIFEST)
    try:
        with metrics.store_compaction_time().time():
            spark.sql(f"DROP TABLE IF EXISTS {staging}")
            write_events_bucketed(
                bucketed.unionByName(appends), staging,
                n_buckets=n_buckets, bucket_col=bucket_col, sort_cols=sort_cols,
            )
            if clear_appends:
                # crash-recovery marker: written AFTER the staged fold
                # and BEFORE the swap, listing exactly the folded
                # files. _recover_compaction reads table existence +
                # this marker to finish (or discard) an interrupted
                # cycle without losing the table or folding twice.
                import json as _json

                with open(manifest, "w") as f:
                    _json.dump({"staging": staging, "files": part_files}, f)
            spark.sql(f"DROP TABLE {table_name}")
            spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    finally:
        appends.unpersist()
    metrics.store_compactions_total().inc()
    if clear_appends:
        for f in part_files:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        try:
            os.remove(manifest)
        except FileNotFoundError:
            pass
        # prune now-empty dt= partition dirs (cosmetic)
        for root, dirs, files in list(os.walk(appends_path, topdown=False)):
            if root != appends_path and not dirs and not files:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
    return n


# ------------------------------------------------------ two-tier compaction

_MINOR_MANIFEST = ".minor_fold.json"
_TIER_PREFIX = "tier_"


def _committed_tiers(tiers_path: str) -> list[str]:
    """Tier directories whose Spark write committed (``_SUCCESS``
    present) — the only tiers a major fold may read."""
    if not os.path.isdir(tiers_path):
        return []
    return sorted(
        os.path.join(tiers_path, d)
        for d in os.listdir(tiers_path)
        if d.startswith(_TIER_PREFIX)
        and os.path.exists(os.path.join(tiers_path, d, "_SUCCESS"))
    )


def _recover_minor_fold(tiers_path: str) -> None:
    """Finish or discard a minor fold interrupted by a crash. The
    manifest is written BEFORE the tier write (it lists the L0
    snapshot + the tier path), so recovery is decidable:

    - manifest + committed tier: crash before L0 cleanup — delete the
      listed files (fold happened exactly once).
    - manifest + missing/uncommitted tier: crash mid-write — drop the
      partial tier, keep L0 (nothing folded).
    - uncommitted tier without manifest: unreachable garbage — drop.
    """
    import json as _json
    import shutil

    manifest = os.path.join(tiers_path, _MINOR_MANIFEST)
    if os.path.exists(manifest):
        with open(manifest) as f:
            info = _json.load(f)
        tier = info["tier"]
        if os.path.exists(os.path.join(tier, "_SUCCESS")):
            for fp in info["files"]:
                try:
                    os.remove(fp)
                except FileNotFoundError:
                    pass
        elif os.path.isdir(tier):
            shutil.rmtree(tier)
        os.remove(manifest)
    if os.path.isdir(tiers_path):
        for d in os.listdir(tiers_path):
            p = os.path.join(tiers_path, d)
            if (
                d.startswith(_TIER_PREFIX)
                and os.path.isdir(p)
                and not os.path.exists(os.path.join(p, "_SUCCESS"))
            ):
                shutil.rmtree(p)


def minor_compact_appends(
    spark,
    appends_path: str,
    tiers_path: str,
    sort_cols: Sequence[str] = (EVENT_USER_COL, EVENT_TIME_COL, EVENT_ID_COL),
    n_files: int = 4,
) -> int:
    """Minor fold: the L0 append snapshot → ONE sorted L1 tier,
    WITHOUT touching the bucketed base — the reference's per-level
    merge (storage/src/table.rs:44-63: l0 parts merge into a level-1
    run; only level overflow cascades further). Cost ∝ L0 bytes, so
    sustained ingest stops paying a full base rewrite per trigger —
    that write amplification moves to the (rarer) major fold.

    Returns rows folded into the new tier (0 = empty L0)."""
    import json as _json

    _recover_minor_fold(tiers_path)
    part_files = _append_part_files(appends_path)
    if not part_files:
        return 0
    os.makedirs(tiers_path, exist_ok=True)
    existing = [
        d for d in os.listdir(tiers_path) if d.startswith(_TIER_PREFIX)
    ]
    seq = 1 + max(
        (int(d[len(_TIER_PREFIX):]) for d in existing), default=-1
    )
    tier = os.path.join(tiers_path, f"{_TIER_PREFIX}{seq:06d}")
    manifest = os.path.join(tiers_path, _MINOR_MANIFEST)
    with open(manifest, "w") as f:
        _json.dump({"tier": tier, "files": part_files}, f)
    df = spark.read.parquet(*part_files)
    if "dt" in df.columns:
        df = df.drop("dt")
    # ONE scan of the L0 set: the count materializes the cache the
    # tier write then reads (same rationale as the major fold's
    # persist — without it every minor tick pays the L0 read twice)
    df = df.persist()
    try:
        n = df.count()
        from . import metrics

        with metrics.store_compaction_time().time():
            (
                df.repartition(n_files, F.col(EVENT_USER_COL))
                .sortWithinPartitions(*sort_cols)
                .write.mode("errorifexists")
                .parquet(tier)
            )
    finally:
        df.unpersist()
    for fp in part_files:
        try:
            os.remove(fp)
        except FileNotFoundError:
            pass
    os.remove(manifest)
    for root, dirs, files in list(os.walk(appends_path, topdown=False)):
        if root != appends_path and not dirs and not files:
            try:
                os.rmdir(root)
            except OSError:
                pass
    return n


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
    ``events_snapshot(...)`` (base ∪ tiers ∪ appends). Single
    maintenance thread assumed, like the reference's compactor loop.
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
        tiers = _committed_tiers(tiers_path)
        return len(tiers), sum(parquet_bytes(t) for t in tiers)

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
        fold if L1 trips (compact_appends_into_bucketed over the tiers
        dir — same manifest/recovery protocol)."""
        minor = major = 0
        if self.l0.should_compact(appends_path):
            minor = minor_compact_appends(spark, appends_path, tiers_path)
        if self.should_major(tiers_path):
            major = compact_appends_into_bucketed(
                spark, table_name, tiers_path, **kw
            )
            # the fold deleted the tier PARQUET files; drop the now
            # data-less tier dirs (their _SUCCESS markers would
            # otherwise keep counting toward the l1_max_tiers trigger)
            import shutil

            for t in _committed_tiers(tiers_path):
                if not any(
                    fn.endswith(".parquet")
                    for _r, _d, fns in os.walk(t)
                    for fn in fns
                ):
                    shutil.rmtree(t)
        return {"minor_rows": minor, "major_rows": major}


def events_snapshot(spark, table_name: str, appends_path: str,
                    tiers_path: Optional[str] = None) -> DataFrame:
    """Freshness view: base ∪ committed tiers ∪ L0 appends — what a
    query sees between folds (the reference likewise scans parts
    across all levels, storage/src/db.rs:657-666)."""
    df = spark.table(table_name)
    sources: list[str] = []
    if tiers_path:
        sources.extend(_committed_tiers(tiers_path))
    sources.extend(_append_part_files(appends_path))
    if sources:
        extra = spark.read.parquet(*sources)
        if "dt" in extra.columns and "dt" not in df.columns:
            extra = extra.drop("dt")
        df = df.unionByName(extra.select(*df.columns))
    return df


class CompactionPolicy:
    """When to run the fold — the reference's size-tiered trigger
    (storage/src/table.rs:24-63: ``l0_max_parts`` fresh parts force an
    L0 merge; levels grow by ``level_size_multiplier``) collapsed to
    the two tiers a lake layout actually has: the date-partitioned
    appends dir is L0, the bucketed table is the merged sorted run.
    A compaction rewrites the whole bucketed table, so the policy's
    job is amortization: fold when enough L0 parts or bytes have
    accumulated, never per-append (write amplification) and never
    so rarely that the funnel's shuffle-free read loses freshness.
    """

    def __init__(self, l0_max_parts: int = 4,
                 l0_max_bytes: int = 64 * 1024 * 1024):
        self.l0_max_parts = l0_max_parts
        self.l0_max_bytes = l0_max_bytes

    def l0_stats(self, appends_path: str) -> tuple[int, int]:
        parts, total = 0, 0
        for f in _append_part_files(appends_path):
            try:
                sz = os.path.getsize(f)
            except OSError:  # deleted by a concurrent compaction tick
                continue  # excluded from BOTH count and size — a
                # gone file must not trip the l0_max_parts trigger
            parts += 1
            total += sz
        return parts, total

    def should_compact(self, appends_path: str) -> bool:
        parts, size = self.l0_stats(appends_path)
        return parts >= self.l0_max_parts or size >= self.l0_max_bytes

    def maybe_compact(self, spark, table_name: str, appends_path: str,
                      **kw) -> int:
        """One tick of the maintenance loop: fold iff the trigger
        fires. Returns rows folded (0 = below threshold or no data).
        Call from a scheduler at the reference's compactor cadence."""
        if not self.should_compact(appends_path):
            return 0
        return compact_appends_into_bucketed(
            spark, table_name, appends_path, **kw)


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
