"""Dataset assembly for training pipelines: deterministic splits,
stratified sampling, and sequence packing.

These are the operations between "corpus is clean" and "batches hit
the trainer": carve train/val/test, subsample per stratum, and pack
variable-length documents into fixed token budgets. Everything is
content-hash-deterministic (md5-derived, like the dedup family) so
re-runs — and the DuckDB oracle — reproduce assignments bit-for-bit;
no `rand()`, which would break resume and cross-engine checks.

Scale notes:
- dataset_split / stratified_sample_fraction: pure per-row
  projections, NO shuffle — the split of a 100 TB corpus is a filter,
  not a sort. This is the scale path for sampling.
- stratified_sample_exact: one shuffle (window over strata). Exact
  per-stratum N costs a per-stratum ordering; a giant stratum makes
  its window partition hot — prefer the fraction variant at scale, or
  pre-filter with a generous fraction and trim exactly afterwards.
- pack_sequences: packs WITHIN hash buckets, so packing is
  embarrassingly parallel across buckets (one shuffle on bucket id) —
  the way real pipelines shard-then-pack. No global ordering anywhere.
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 2^32 — md5-prefix hashes are uniform over [0, 2^32)
_HASH_SPACE = float(1 << 32)


def md5_prefix_int(key: Column, chars: int, seed: str = "") -> Column:
    """The engine-portable hash idiom, in ONE place: integer value of
    the first ``chars`` hex digits of md5("seed:" + key) — DuckDB
    reproduces it exactly ('0x' || substr(md5(...))). Every
    deterministic assignment in the repo (splits, samples, pack/shard
    buckets, KMV sketch hashes, shard fingerprints) derives from this
    expression; width and seed are the only degrees of freedom."""
    prefixed = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    return F.conv(F.substring(F.md5(prefixed), 1, chars), 16, 10)


def unit_hash(key: Column, seed: str = "") -> Column:
    """Deterministic uniform [0,1) from md5 — engine-independent
    (DuckDB reproduces it with the same md5-hex-prefix arithmetic)."""
    return md5_prefix_int(key, 8, seed).cast("double") / F.lit(_HASH_SPACE)


def dataset_split(
    df: DataFrame,
    weights: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Stamp a deterministic split label: hash the id into [0,1) and
    cut at the cumulative weights. A document's split never changes
    when the corpus grows (hash-stable), unlike randomSplit whose
    assignment depends on partitioning."""
    if not weights:
        raise ValueError("dataset_split needs at least one (name, weight)")
    if any(w <= 0 for _, w in weights):
        raise ValueError(f"split weights must be > 0: {list(weights)}")
    if sum(w for _, w in weights[:-1]) >= 1:
        raise ValueError(
            "non-last split weights must sum to < 1 — the last label "
            f"would be unreachable: {list(weights)}")
    u = unit_hash(F.col(id_col), seed)
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = weights[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def stratified_sample_fraction(
    df: DataFrame,
    strata_cols: Sequence[str],
    fraction: float,
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Keep ~fraction of each stratum by hash threshold — shuffle-free
    (per-row filter), the sampling shape that survives 100 TB. The
    stratum ships into the hash so the same id draws independently
    across strata definitions.

    The key joins parts with a unit-separator delimiter and a null
    sentinel: bare concat_ws('') would collide distinct (strata, id)
    combinations (('e','n42') vs ('en','42')) and SKIP null strata
    entirely, correlating every strata definition's draw for
    null-stratum rows."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
             for c in strata_cols]
    key = F.concat_ws("\u001f", *parts, F.col(id_col))
    return df.filter(unit_hash(key, seed) < F.lit(float(fraction)))


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: Sequence[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Exactly n rows per stratum, chosen by hash order (deterministic
    'random' sample). One shuffle: a row_number window per stratum.
    For skewed strata at scale, pre-thin with
    stratified_sample_fraction first so the window sees a bounded
    partition."""
    from pyspark.sql import Window

    u = unit_hash(F.col(id_col), seed)
    w = Window.partitionBy(*strata_cols).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: Column | str = None,
    n_buckets: int = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "pack",
) -> DataFrame:
    """Streaming concat-and-chunk sequence packing: assign each doc to
    a fixed-token-budget pack. Docs are sharded into ``n_buckets``
    hash buckets; within a bucket (ordered by id) a doc joins the pack
    its running-token-offset falls into — the concat-then-chunk
    packing real pipelines use, where a pack may overrun the budget by
    at most one document (no bin-packing search, which is neither
    streamable nor deterministic under reordering).

    Bucketing hashes the id (md5-derived, so string ids work and the
    DuckDB oracle reproduces the assignment bit-for-bit — no xxhash in
    DuckDB). ``n_buckets=None`` scales to the session's
    defaultParallelism so packing parallelism follows the cluster, not
    a fixture-sized constant; pass an explicit value for reproducible
    pack ids across differently-sized clusters.

    Returns (doc_id, n_tokens, bucket, pack_id, pack_offset) with
    pack_id globally unique: ``(bucket << 40) | pack_index`` — 2^40
    (~10^12) packs per bucket before collision, vs the token count of
    a bucket at 100 TB (~10^10 packs at budget=512), with headroom for
    2^23 buckets in the long. One shuffle on the bucket id; packing is
    embarrassingly parallel across buckets.
    """
    from pyspark.sql import Window

    if budget < 1:
        # floor(offset / 0) would otherwise fail per-row mid-job (ANSI)
        # or emit all-null pack ids silently (non-ANSI)
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_buckets is None:
        n_buckets = df.sparkSession.sparkContext.defaultParallelism
    if n_buckets >= 1 << 23:
        raise ValueError(f"n_buckets={n_buckets} exceeds the 2^23 pack-id namespace")
    tokens = (
        F.size(F.split(F.col(text_col), " "))
        if token_col is None
        else (F.col(token_col) if isinstance(token_col, str) else token_col)
    )
    # md5-prefix hash (md5_prefix_int): string-id safe, oracle-reproducible
    bucket = F.pmod(
        md5_prefix_int(F.col(id_col), 15, seed).cast("long"),
        F.lit(n_buckets),
    )
    w = Window.partitionBy("bucket").orderBy(F.col(id_col).asc())
    out = (
        df.select(F.col(id_col), tokens.alias("n_tokens"), bucket.alias("bucket"))
        .withColumn(
            "__start",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    )
    return out.select(
        id_col,
        "n_tokens",
        "bucket",
        (F.shiftleft(F.col("bucket"), 40) + F.floor(F.col("__start") / F.lit(budget)))
        .alias("pack_id"),
        F.pmod(F.col("__start"), F.lit(budget)).alias("pack_offset"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size word windows —
    the standard context-window chunking step between "document" and
    "training sequence" (overlap preserves cross-boundary context).

    Returns (doc_id, chunk_idx, chunk_text, chunk_words); the last
    chunk per doc may be short. A narrow map + posexplode (row
    expansion, no shuffle) — chunking 100 TB is scan-bound by
    construction."""
    if not 0 <= overlap < chunk_words:
        raise ValueError(
            f"need 0 <= overlap({overlap}) < chunk_words({chunk_words})"
        )
    step = chunk_words - overlap
    words = F.split(F.col(text_col), " ")
    # last useful start is size - overlap - 1: a start at or past
    # size - overlap begins inside the previous chunk's overlap region
    # and is fully contained in it — emitting it would duplicate the
    # document tail into the training set (hit by 1/3 of doc lengths
    # at the default stride)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(words) - overlap - 1, F.lit(0)),
        F.lit(step),
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(words, s + 1, chunk_words), " ")
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).withColumn("chunk_words", F.size(F.split(F.col("chunk_text"), " ")))


def mixture_rates(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    token_col: Column = None,
) -> DataFrame:
    """Per-source keep rates to hit a token-budget mixture:
    rate(source) = min(1, target_tokens / available_tokens).

    ``targets`` maps source → target token count (callers with a
    total budget and weights pass {s: budget * w_s}). One map-side-
    combinable aggregate over the corpus computes availability; the
    result is a tiny (n_sources)-row frame meant to be broadcast.
    Sources absent from ``targets`` get rate 0 (excluded from the
    mixture) — explicit is better than silently passing them through.
    Over-asked sources (target > available) saturate at rate 1; the
    shortfall is reported in ``deficit_tokens`` so a pipeline can
    rebalance instead of silently under-delivering a mixture.
    """
    if not targets:
        raise ValueError("mixture_rates needs at least one source target")
    if any(t < 0 for t in targets.values()):
        raise ValueError(f"negative target in {targets}")
    if token_col is None:
        token_col = F.size(F.split(F.col("text"), " "))
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(t)) for s, t in sorted(targets.items())],
        f"{source_col} string, target_tokens double",
    )
    avail = df.groupBy(source_col).agg(
        F.sum(token_col.cast("long")).alias("available_tokens")
    )
    # NOT least(1, t/a) alone: least() IGNORES nulls in Spark and
    # DuckDB both, so an absent/empty source (a null or 0) would
    # silently get rate 1.0 instead of 0
    rate = F.when(
        F.col("available_tokens").isNull()
        | (F.col("available_tokens") == 0),
        F.lit(0.0),
    ).otherwise(
        F.least(F.lit(1.0), F.col("target_tokens") / F.col("available_tokens"))
    )
    return (
        avail.join(tgt, source_col, "right")  # keep asked-for sources
        .select(
            source_col,
            F.coalesce(F.col("available_tokens"), F.lit(0)).alias(
                "available_tokens"),
            "target_tokens",
            rate.alias("rate"),
            F.greatest(
                F.lit(0.0),
                F.col("target_tokens")
                - F.coalesce(F.col("available_tokens"), F.lit(0)).cast(
                    "double"),
            ).alias("deficit_tokens"),
        )
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    token_col: Column = None,
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic token-budget mixture sample: keep each document
    iff unit_hash(id) < its source's mixture rate — the data-mixing
    step of a training pipeline ("40% web, 40% code, 20% books" at a
    token budget) as a broadcast join + filter.

    Plan shape: one aggregate pass for availability (tiny result,
    broadcast), then a pure per-row filter at the scan — the 100 TB
    path; no shuffle touches the corpus itself. Hash-stable: a
    document's membership never changes when OTHER sources grow, and
    only degrades gracefully (rate drops) when its own source grows.
    Expected kept tokens per source ≈ min(target, available);
    exact-budget trimming (a per-source running-sum cut) costs a
    per-source ordering — the same trade stratified_sample_exact
    documents.
    """
    rates = mixture_rates(df, targets, source_col, token_col)
    keep = unit_hash(F.col(id_col), seed) < F.col("rate")
    return (
        df.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .filter(keep)
        .drop("rate")
    )


def mixture_sample_exact(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    token_col: Column = None,
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Exact-budget mixture: per source, take documents in
    deterministic hash order until the token budget fills (greedy
    prefix — the first document whose predecessors already meet the
    target is the first excluded). Delivers within one document of
    the target, vs mixture_sample's ±sqrt(n)-ish expectation, at the
    cost of one per-source ordering window — same trade
    stratified_sample_exact documents: prefer the fraction variant at
    scale, or pre-filter with a generous fraction and trim exactly.
    Adds ``cum_tokens`` (running total INCLUDING the row) so callers
    can see how full each source's budget ran."""
    if not targets:
        raise ValueError("mixture_sample_exact needs at least one target")
    if any(t < 0 for t in targets.values()):
        raise ValueError(f"negative target in {targets}")
    if token_col is None:
        token_col = F.size(F.split(F.col("text"), " "))
    from pyspark.sql import Window

    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(t)) for s, t in sorted(targets.items())],
        f"{source_col} string, __target double",
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(unit_hash(F.col(id_col), seed), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.join(F.broadcast(tgt), source_col)
        .withColumn("__n", token_col.cast("long"))
        .withColumn("cum_tokens", F.sum("__n").over(w))
        .filter((F.col("cum_tokens") - F.col("__n")) < F.col("__target"))
        .drop("__n", "__target")
    )


def _content_fingerprint(id_col: str) -> Column:
    """Order-independent per-shard content fingerprint: SUM of a
    52-bit md5 prefix of each id, exact in a decimal(38,0) — additive,
    so it is partition-order independent and recomputable from the
    written files for verification."""
    h = md5_prefix_int(F.col(id_col), 13)
    return F.sum(h.cast("decimal(38,0)"))


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> dict:
    """Deterministic sharded export — the hand-off from "corpus is
    assembled" to "trainer reads shards". Each row's shard is an
    md5-bucket of its id (hash-stable: a document's shard never
    changes as the corpus grows, so incremental re-exports move only
    new documents), written as ``path/shard=K/`` with ONE file per
    shard (repartition by the shard key first — without it every task
    writes a file per shard, the classic small-files amplification),
    plus an atomically-committed ``_MANIFEST.json`` recording per-shard
    row counts and an order-independent content fingerprint.

    The manifest is the delivery contract: ``verify_training_shards``
    recomputes both from the written files and flags any divergence
    (truncated copy, lost shard, non-deterministic upstream). Returns
    the manifest dict."""
    import os

    from ..schema import write_json_durable

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = F.pmod(
        md5_prefix_int(F.col(id_col), 15, seed).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    out = df.withColumn("shard", shard)
    (
        out.repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # stats from the WRITTEN files, not the input lineage: (a) the
    # manifest must describe the artifact itself (a nondeterministic
    # upstream would otherwise be fingerprinted on a SECOND evaluation
    # and the contract born divergent from its files); (b) the
    # read-back scans only (id, shard) of the just-written parquet —
    # re-aggregating `out` would re-run the whole upstream pipeline
    written = df.sparkSession.read.parquet(path)
    stats = (
        written.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("rows"),
             _content_fingerprint(id_col).alias("fp"))
        .collect()  # n_shards rows — the manifest, not data
    )
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "seed": seed,
        "total_rows": int(sum(r["rows"] for r in stats)),
        "shards": {
            str(r["shard"]): {"rows": int(r["rows"]), "fp": str(r["fp"])}
            for r in stats
        },
    }
    write_json_durable(os.path.join(path, "_MANIFEST.json"), manifest)
    return manifest


def verify_training_shards(spark, path: str, id_col: str = None) -> dict:
    """Recompute per-shard rows + fingerprints from the WRITTEN files
    and diff against the manifest — the receiving side's integrity
    check before training starts. Returns {"ok": bool, "mismatched":
    [shard, ...], "missing": [...], "unexpected": [...]}."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    id_col = id_col or manifest["id_col"]
    got = {
        str(r["shard"]): (int(r["rows"]), str(r["fp"]))
        for r in spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("rows"),
             _content_fingerprint(id_col).alias("fp"))
        .collect()
    }
    want = {k: (v["rows"], v["fp"]) for k, v in manifest["shards"].items()}
    return {
        "ok": got == want,
        "mismatched": sorted(k for k in got.keys() & want.keys()
                             if got[k] != want[k]),
        "missing": sorted(want.keys() - got.keys()),
        "unexpected": sorted(got.keys() - want.keys()),
    }


def importance_sample(
    df: DataFrame,
    weight_col: Column,
    pivot: float,
    id_col: str = "doc_id",
    seed: str = "importance",
) -> DataFrame:
    """Quality-weighted (importance) sampling: keep each row with
    probability ``p = min(1, weight/pivot)`` — rows at or above the
    pivot always survive, weaker rows survive proportionally. The
    soft-filtering step of a training-data pipeline (hard filtering
    throws the tail away; importance sampling keeps an unbiased,
    reweightable slice of it).

    Membership is ``unit_hash(id) < p`` — deterministic, hash-stable
    (a document's fate never depends on the rest of the corpus), and
    exactly reproducible in SQL. Kept rows carry ``keep_prob`` and
    ``ht_weight = 1/p`` so downstream token/doc counts stay unbiased
    via Horvitz–Thompson reweighting (the same estimator
    operators/estimate.py uses for user sampling). Rows with weight
    <= 0 have p = 0 and are dropped.

    Scale shape: a pure per-row projection + filter at the scan — no
    aggregate, no shuffle, nothing leaves the JVM. Per-row arithmetic
    is single correctly-rounded double ops, so the output (including
    ht_weight) is hash-exact cross-engine with no rounding step.
    """
    if pivot <= 0:
        raise ValueError(f"pivot must be > 0, got {pivot}")
    p = F.least(F.lit(1.0), weight_col.cast("double") / F.lit(float(pivot)))
    return (
        df.withColumn("keep_prob", p)
        .filter(unit_hash(F.col(id_col), seed) < F.col("keep_prob"))
        .withColumn("ht_weight", F.lit(1.0) / F.col("keep_prob"))
    )


def curriculum_phases(
    df: DataFrame,
    score_col: str,
    n_phases: int = 4,
    id_col: str = "doc_id",
    seed: str = "curriculum",
    percentile_mode: str = "auto",
) -> DataFrame:
    """Curriculum assignment: equi-depth quantile bucket of
    ``score_col`` (phase 0 = lowest quartile … n_phases-1 = highest)
    plus a deterministic ``shuffle_key`` for stable intra-phase
    ordering — the "easy-to-hard with shuffled lessons" schedule a
    curriculum-training pipeline consumes.

    Edges come from the SHARED regime-switched recipe
    (operators/edges.percentile_edges): one aggregate whose 1-row
    result broadcasts onto the scan — no collect, no driver
    round-trip. ``percentile_mode="auto"`` keeps EXACT interpolated
    percentiles (the hash-oracle regime) below
    sizing.EXACT_PERCENTILE_MAX_ROWS documents and switches to
    percentile_approx beyond (exact buffers every score on one final
    task — the 10⁹-doc OOM seam); the decision is counted under
    surface="curriculum". Ties at an edge fall to the lower phase on
    both engines (strict > comparisons).
    """
    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    from ._util import track_persist
    from .edges import percentile_edges

    if percentile_mode == "auto":
        # the frame feeds the count, the edge aggregate, and the
        # phase projection — persist once instead of scanning thrice
        df = track_persist(df)
    qs = [i / n_phases for i in range(1, n_phases)]
    edges, _mode = percentile_edges(
        df, [(score_col, qs, "q")], mode=percentile_mode,
        surface="curriculum")
    # edge columns are __q0.._q{n-2} (0-based spec positions); the
    # phase fold below keeps its historical 1-based names via offset
    x = df.withColumn("__k", F.lit(1)).join(F.broadcast(edges), "__k")
    phase = functools.reduce(
        lambda acc, i: acc
        + (F.col(score_col).cast("double") > F.col(f"__q{i - 1}")).cast("int"),
        range(1, n_phases),
        F.lit(0),
    )
    return x.select(
        F.col(id_col),
        F.col(score_col),
        phase.alias("phase"),
        unit_hash(F.col(id_col), seed).alias("shuffle_key"),
    )
