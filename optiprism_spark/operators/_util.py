"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


class CallerError(ValueError):
    """A request that only the data can show to be wrong: an unmatched
    control variant, observed variants outside an allocation, ANN sizes
    that cannot work. The server answers it 400 whether it is raised
    while the plan is built or at collect; library callers still catch
    ``ValueError``."""


#: frames persisted by operators (LSH base signatures, IVF assignment)
#: so long-lived sessions can free executor storage memory explicitly
#: instead of waiting for the driver-GC ContextCleaner sweep
_TRACKED_PERSISTS: list[DataFrame] = []


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for `unpersist_tracked` — operators that
    materialize an intermediate (both sides of a self-join consume it)
    persist through this so callers own a deterministic lifecycle."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    _TRACKED_PERSISTS.append(df)
    return df


def unpersist_tracked() -> int:
    """Unpersist every operator-persisted frame; returns the count.
    Safe to call mid-query-stream: a consumed plan recomputes."""
    n = 0
    while _TRACKED_PERSISTS:
        _TRACKED_PERSISTS.pop().unpersist()
        n += 1
    return n


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure at least defaultParallelism partitions before a
    CPU-heavy projection.

    Row-count-based file splitting gives few partitions for small-but-
    expensive inputs (e.g. 5k docs in one parquet file → 1 partition →
    md5-per-shingle work runs on one core). At scale the scan is
    already parallel and this is a no-op.

    The parallelism probe uses inputFiles() — plan metadata only — not
    df.rdd.getNumPartitions(), which would convert the plan to an RDD
    just to inspect it. A many-file scan is already parallel; few/no
    files (small table, in-memory test frame) get the repartition."""
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def cap_buckets(df: DataFrame, keys, max_bucket: int) -> DataFrame:
    """Drop ALL rows belonging to join-key buckets larger than
    ``max_bucket`` — the shared degenerate-bucket guard for every
    candidate-pair self-join (LSH bands, IVF centroid lists): one
    dense bucket makes the Σ bucket² join quadratic in its size.
    Implemented as a pre-aggregated count + broadcast anti-join so the
    main frame is NOT shuffled for the cap (the count aggregate is at
    most one row per distinct bucket)."""
    from pyspark.sql import functions as F

    oversized = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket)
        .select(*keys)
    )
    return df.join(F.broadcast(oversized), list(keys), "left_anti")
