"""SparkSession factory tuned for the analytics workload.

Local mode for tests/bench; the same configs are the right defaults on
a real cluster (AQE on, Arrow on, UTC, shuffle partitions sized to
parallelism instead of the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory, capped at 48g. A fixed 48g let a local JVM
    outgrow a 15 GB host (the kernel OOM-killed it mid test suite)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "optiprism_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, drop ``master`` and let spark-submit set it; every
    other config below is cluster-appropriate:

    - AQE enabled: runtime coalescing of small shuffle partitions and
      skew-join splitting — the 100 TB safety net for skewed user_ids.
    - ``spark.sql.shuffle.partitions`` sized to local parallelism here;
      on a cluster AQE's coalescing makes the initial number forgiving.
    - Arrow enabled for the pandas-UDF path (funnel) — batched columnar
      transfer instead of per-row pickling.
    - UTC session timezone so timestamp semantics match the oracle
      (DuckDB is UTC-naive).
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        # FAIR job scheduling: the HTTP server multiplexes dashboard
        # queries from many threads onto this one context; FIFO would
        # park every light query behind a long funnel's stages
        # (head-of-line blocking). Pools are assigned per query type
        # at the server dispatch (server.py); the allocation file
        # tiers them — interactive shapes (lookups, searches,
        # segmentation, rollup-routed stickiness) get weight 4 +
        # minShare over funnel/paths/retention/attribution/experiment
        # — and undeclared pools still get default equal weight.
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "fairscheduler.xml"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ→SHJ rewrite (guide §3.1): when every
        # post-shuffle partition of a planned sort-merge join fits a
        # local hash map, AQE replaces the join and drops both sides'
        # sorts — the win is largest for equi-joins carrying heavy
        # payloads (IVF vector self-joins: both sides sort ~512 B/row
        # vectors just to merge on a low-cardinality centroid key).
        # Off by default (0); 64m matches the AQE advisory partition
        # size, so the build side a task materializes is the same
        # order as the shuffle partition AQE already targets —
        # size-conditioned at runtime, NOT a local[32] constant (a
        # skewed/giant partition simply keeps sort-merge and its
        # graceful spill).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Bucketed-layout correctness (ADVICE r11): the funnel's
        # assume_partitioned fast path is scan -> sortWithinPartitions
        # -> mapInPandas — no distribution-REQUIRING operator — so
        # Spark's autoBucketedScan "optimization" would downgrade the
        # bucketed scan to a plain file scan, which splits files at
        # maxPartitionBytes and can split one user across partitions:
        # silent undercounting. The downgrade only ever helps plans
        # that don't rely on the bucket layout; every bucketed table
        # in this engine exists precisely FOR its layout, so pin the
        # bucketed scan on.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
        # events.parquet has carried TIMESTAMP(NANOS) (read as long,
        # converted in schema.load_table) and TIMESTAMP(MICROS,
        # isAdjustedToUTC=false) across driver testdata generations;
        # disable NTZ inference so the latter reads as plain TIMESTAMP
        # under the UTC session zone — identical wall-clock semantics
        # to DuckDB's naive timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Generated-class cache (static; Spark default 100) sized to
        # the working set. Distinct classes measured on local[4]:
        # 200 over a perfbench ingest_fold run (track batches,
        # maintenance ticks, count reads), 263 over a dashboard_routed
        # run, 1,902 over all 194 registry queries at sf0.01
        # (metaspace +59 MB, ~32 KB per class). At 100 the cache
        # thrashed: an ingest_fold window (4 ticks, 12 reads) compiled
        # 537 classes, against 4 at 4096 — a tick now compiles ~1, the
        # class carrying its batch's event-id literal.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
    )
    # last-wins overrides (e.g. skew_check enables the UI so it can
    # read per-task timings from the monitoring REST API); only
    # effective before the first getOrCreate of the JVM
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    spark = builder.getOrCreate()
    # runtime SQLConf: re-assert even when getOrCreate returned a
    # pre-existing session whose builder configs were ignored — the
    # assume_partitioned correctness contract must hold regardless of
    # who created the JVM session first
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
    _prime(spark)
    return spark


#: sessions already primed (id() keys; sessions are process-lived)
_PRIMED: set = set()


def _prime(spark: SparkSession) -> None:
    """One-time session warm-up: run a few μ-queries that force the
    heavyweight one-time class loading and JIT the FIRST real query
    otherwise pays — SQL parser/analyzer/optimizer classes, the
    whole-stage-codegen compiler (janino), the hash-aggregate /
    broadcast-join / window operator paths, higher-order array
    expressions, and the Python worker pool + Arrow lanes for the
    pandas paths. BENCH_COLD_r16 measured the first queries of a
    fresh session at 2-12× their steady state with this tax dominated
    by exactly these costs (not I/O); a real cluster pays them once
    at startup — priming moves them to startup here too, which is the
    honest place (they are session costs, not query costs). Costs
    about 10 s at session build: ``get_spark(cpus=4)`` with a 3g heap,
    timed in 3 fresh processes each on a 4-vCPU Intel Xeon host, took
    17.2-19.0 s (median 17.5) primed and 6.5-8.8 s (median 7.5) with
    SPARK_GRAFT_NO_PRIME=1. Set that variable to skip priming (e.g.
    for startup-latency-sensitive tooling)."""
    key = id(spark)
    if key in _PRIMED or os.environ.get("SPARK_GRAFT_NO_PRIME"):
        return
    _PRIMED.add(key)
    try:
        from pyspark.sql import Window, functions as F

        a = spark.range(0, 1024, 1, 2).selectExpr(
            "id", "id % 7 AS k",
            "aggregate(transform(sequence(0, 3), i -> cast(i + id as"
            " double)), 0.0D, (acc, x) -> acc + x) AS v",
            # regex + digest expression classes (UA parse, shingling)
            "cast(cast(id as string) RLIKE '[0-9]+' as int) AS re1",
            "regexp_extract(cast(id as string), '([0-9]+)', 1) AS re2",
            "conv(substr(md5(cast(id as string)), 1, 8), 16, 10) AS h",
        )
        b = spark.range(7).selectExpr("id AS k", "id * 2 AS w")
        (a.join(F.broadcast(b), "k")
          .groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
          .withColumn("r", F.row_number().over(
              Window.orderBy(F.desc("s"))))
          .write.format("noop").mode("overwrite").save())

        # parquet datasource classes (reader + writer + footer codecs):
        # the first load_table otherwise pays ~0.5 s of class loading
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="spark_prime_")
        try:
            p = os.path.join(d, "p.parquet")
            spark.range(8).selectExpr(
                "id", "cast(id as double) AS x").write.mode(
                "overwrite").parquet(p)
            spark.read.parquet(p).write.format("noop").mode(
                "overwrite").save()
        finally:
            shutil.rmtree(d, ignore_errors=True)

        # Python worker pool + Arrow serialization lanes (the first
        # pandas-UDF query otherwise spawns workers per core)
        import pandas as pd

        def _echo(it):
            for pdf in it:
                yield pdf

        (spark.range(0, 256, 1, 2).selectExpr("id", "cast(id as double) x")
              .mapInPandas(_echo, "id long, x double")
              .write.format("noop").mode("overwrite").save())
    except Exception:
        # priming is best-effort: a failure must never block session
        # construction (e.g. stripped-down Python without pandas)
        pass
