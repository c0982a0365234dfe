"""Document deduplication — exact and near-dup, 100 TB-grade.

Beyond the reference's surface (BASELINE.json north star): the
operators an LLM-training-data pipeline needs over a `documents`
table. Everything here is declarative Spark SQL — shingling, MinHash,
LSH banding and SimHash are built from `split/transform/slice/md5`
higher-order functions, so the whole pipeline stays inside
whole-stage codegen; no Python UDFs anywhere.

Portability note: hashes are md5-derived (not Spark's xxhash64 /
murmur) so signatures are engine-independent — the DuckDB oracle
reproduces them bit-for-bit. MinHash hashes each shingle ONCE
(md5 → 32-bit int) and derives the k permutations with affine maps
`(a_j·x + b_j) mod p` in int64 — the classic universal-hashing
scheme; k md5 digests per shingle would be ~k× the CPU for no
statistical gain.

Scale notes:
- exact_dedup: one shuffle on the content hash.
- minhash_signatures: per-row array expressions only — no shuffle.
- lsh_candidate_pairs: explode k/r band keys per doc (cheap), shuffle
  on band key; the self-join output is bounded by bucket sizes, the
  standard LSH trade-off. Hot buckets (boilerplate docs) are the skew
  risk → AQE skew-join handles it; callers can also cap bucket size.
- jaccard verification joins only the candidate pairs, not n².
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import spread, track_persist


#: MinHash permutation domain: Mersenne prime 2^31-1. x is 32-bit, a_j
#: < p, so a_j·x < 2^62 — no int64 overflow on either engine.
MINHASH_P = (1 << 31) - 1


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine coefficients (Knuth-hash spread,
    a_j forced odd/nonzero). Shared with the DuckDB oracle builder."""
    return [
        (((j * 2654435761 + 1) % MINHASH_P) | 1, (j * 40503 + 7) % MINHASH_P)
        for j in range(k)
    ]


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def shingles_expr(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-shingles, JVM-side — delegates to the ONE
    shingling kernel (text.shingles_from_words: per-position
    try_element_at, ~7x faster than slice, byte-identical) instead of
    keeping a second raw-SQL copy that must be changed in lockstep;
    F.col also handles column names that need quoting."""
    from .text import shingles_from_words

    return shingles_from_words(F.split(F.col(text_col), " "), n)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: the lowest id per md5(text) wins.
    Returns the surviving rows + group size."""
    from pyspark.sql import Window

    h = F.md5(F.col(text_col))
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("__h")))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def _base_signatures(
    docs: DataFrame, k: int, n: int, text_col: str, id_col: str
) -> DataFrame:
    """One-scan base frame (id, sh, sig_0..sig_{k-1}): each shingle
    hashed ONCE (md5 hex prefix → 32-bit int x), then sig_j = min over
    shingles of (a_j·x + b_j) mod p. One digest + k·|shingles|
    multiply-adds per row — pure per-row expressions, no shuffle."""
    out = spread(docs).select(
        F.col(id_col), shingles_expr(text_col, n).alias("sh")
    ).withColumn(
        "__x",
        F.expr("transform(sh, s -> cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint))"),
    )
    # parsed-SQL signature columns: the k Python-lambda transform
    # trees were ~15 py4j round-trips each (guide §7.3); the SQL text
    # builds identical expressions — INT literals promote to BIGINT
    # against the BIGINT x exactly as the F.lit trees did
    sig_sqls = [
        f"array_min(transform(__x, x -> ({a} * x + {b}) % {MINHASH_P}))"
        f" AS sig_{j}"
        for j, (a, b) in enumerate(minhash_params(k))
    ]
    return out.selectExpr(f"`{id_col}`", "sh", *sig_sqls)


def minhash_signatures(
    docs: DataFrame, k: int = 8, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """k-permutation MinHash signatures (see _base_signatures)."""
    return _base_signatures(docs, k, n, text_col, id_col).drop("sh")


def _banded(sigs: DataFrame, k: int, bands: int, id_col: str,
            carry_keys: bool = False) -> DataFrame:
    """(id, band, key) rows: one row per doc per band, the band key
    being the concatenation of that band's k/bands signature slots.

    ``carry_keys`` additionally carries the doc's FULL band-key array
    (``__ks``, ``bands`` short strings) on every row — what the
    first-matching-band pair emission in `_banded_pairs` compares to
    decide whether an earlier band already produced the pair."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    # one parsed inline() call instead of bands× struct/concat_ws
    # Column trees + explode + field projection (identical rows:
    # inline(array(struct...)) ≡ explode + struct-field select)
    structs = ", ".join(
        "struct({b} AS band, concat_ws(',', {cols}) AS key)".format(
            b=b, cols=", ".join(f"sig_{b * r + i}" for i in range(r)))
        for b in range(bands)
    )
    cols = [f"`{id_col}`", f"inline(array({structs}))"]
    if carry_keys:
        keys = ", ".join(
            "concat_ws(',', {cols})".format(
                cols=", ".join(f"sig_{b * r + i}" for i in range(r)))
            for b in range(bands)
        )
        cols.insert(1, f"array({keys}) AS __ks")
    return sigs.selectExpr(*cols)


def _banded_pairs(sigs: DataFrame, k: int, bands: int, id_col: str,
                  max_bucket: int = None) -> DataFrame:
    """Banding over a signature frame → distinct candidate pairs.

    Pair dedup (a pair can collide in several bands) is FIRST-
    MATCHING-BAND emission, not ``distinct()``: each banded row
    carries its doc's full band-key array (bands short strings), and
    the joined pair is kept only when no earlier band's keys are also
    equal — exactly one surviving row per candidate pair, same set as
    the distinct, with ZERO post-join shuffle (guide §2.4: the
    distinct was a full exchange of the candidate set, the single
    largest shuffle of the pipeline on a near-dup-rich corpus; the
    carried keys add ~bands×8 bytes per banded row to the band-key
    exchange instead).

    ``max_bucket`` drops band buckets larger than the cap BEFORE the
    self-join: a boilerplate-heavy corpus puts thousands of docs in
    one bucket, and the join output grows with bucket² — the standard
    web-scale LSH guard (oversized buckets are almost always template
    text whose members are caught by other bands or exact dedup).
    With a cap the dedup REVERTS to ``distinct()``: first-band
    emission assumes an earlier colliding band implies the pair was
    emitted there, but the cap can drop exactly that band's bucket
    while a later, smaller bucket survives — first-band would then
    lose the pair the distinct path keeps."""
    if max_bucket is not None:
        from ._util import cap_buckets

        banded = cap_buckets(
            _banded(sigs, k, bands, id_col), ("band", "key"), max_bucket)
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(b, ["band", "key"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"))
            .distinct()
        )
    banded = _banded(sigs, k, bands, id_col, carry_keys=True)
    a = banded.alias("a")
    b = banded.alias("b")
    # slice(ks, 1, band) = the band's PREDECESSORS (1-based slice of
    # length `band`, empty for band 0); any elementwise equality
    # means an earlier band already emitted this pair
    first_band = (
        "!exists(zip_with(slice(a.__ks, 1, band), slice(b.__ks, 1, band),"
        " (x, y) -> x = y), h -> h)"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(F.expr(first_band))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"))
    )


def lsh_candidate_pairs(
    docs: DataFrame, k: int = 8, bands: int = 4, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int = None,
) -> DataFrame:
    """LSH banding: k/bands rows per band; docs sharing any band key
    become a candidate pair (doc_a < doc_b)."""
    sigs = minhash_signatures(docs, k, n, text_col, id_col)
    return _banded_pairs(sigs, k, bands, id_col, max_bucket)


def _verify_candidates(
    candidates: DataFrame, sh_map: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs: two equi-joins carrying each
    doc's shingle array + one array_intersect per pair."""
    out = (
        candidates.join(
            sh_map.select(F.col(sh_map.columns[0]).alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_map.select(F.col(sh_map.columns[0]).alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS inter",
            "size(sh_a) AS sz_a",
            "size(sh_b) AS sz_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "cast(inter AS double)"
            " / cast(sz_a + sz_b - inter AS double) AS jaccard",
        )
    )
    return out.filter(F.col("jaccard") >= F.lit(threshold))


def lsh_near_dup_pairs(
    docs: DataFrame, threshold: float = 0.6, k: int = 8, bands: int = 4,
    n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int = None,
) -> DataFrame:
    """Full single-scan near-dup pipeline: MinHash → banding →
    candidate pairs → exact-Jaccard verification, with the shingle
    arrays computed ONCE and carried through. The (id, shingles,
    signatures) base frame is persisted and feeds both the banding
    join and the verification joins — the corpus text is read and
    shingled exactly once (at 100 TB a second full text-shingling
    scan would have doubled the pipeline's dominant cost). The persist
    is tracked: call `_util.unpersist_tracked()` after consuming the
    result to free executor storage memory in a long-lived session."""
    base = track_persist(_base_signatures(docs, k, n, text_col, id_col))
    cands = _banded_pairs(base, k, bands, id_col, max_bucket)
    return _verify_candidates(cands, base.select(id_col, "sh"), threshold)


def lsh_incremental_pairs(
    new_docs: DataFrame, store: Optional[DataFrame],
    threshold: float = 0.6, k: int = 8, bands: int = 4, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: dedup an ingest batch against a settled
    corpus WITHOUT re-shingling the corpus.

    ``store`` is the settled corpus's signature table — the
    ``new_base`` frame a previous call returned (or
    ``_base_signatures`` of a backfill), persisted as parquet by the
    caller; it carries (id, sh, sig_0..k-1), so the corpus text is
    never touched again. Returns ``(pairs, new_base)``:

    - ``pairs``: near-dup pairs involving >= 1 new doc (new x new and
      new x old), verified with exact Jaccard — exactly the full
      pipeline's pair set restricted to pairs touching the batch,
      since band-key collision is pairwise.
    - ``new_base``: signature rows to append to the store.

    Scale shape (the reason this exists): the store is FIRST
    semi-joined on the new batch's distinct band keys — a broadcast
    of O(|batch| x bands) keys — so everything downstream (bucket
    cap, pair join, Jaccard verify) touches only store rows that
    collide with the batch. Per-batch cost follows the batch size
    and the collision count, never the corpus; the full corpus-wide
    rerun (`lsh_near_dup_pairs`) is reserved for the periodic
    compaction sweep. ``max_bucket`` keeps full-pipeline semantics:
    for any key the batch probes, the store contributes ALL its rows
    with that key, so the observed bucket size is the true corpus
    bucket size and the cap drops the same buckets either way."""
    new_base = track_persist(_base_signatures(new_docs, k, n, text_col, id_col))
    new_banded = _banded(new_base, k, bands, id_col)
    if store is None:
        cands = _banded_pairs(new_base, k, bands, id_col, max_bucket)
        return (
            _verify_candidates(cands, new_base.select(id_col, "sh"), threshold),
            new_base,
        )
    new_keys = new_banded.select("band", "key").distinct()
    store_hits = _banded(store, k, bands, id_col).join(
        F.broadcast(new_keys), ["band", "key"]
    )
    probed = store_hits.unionByName(new_banded)
    if max_bucket is not None:
        from ._util import cap_buckets

        probed = cap_buckets(probed, ("band", "key"), max_bucket)
        new_banded = new_banded.join(
            probed.select(id_col, "band", "key"), [id_col, "band", "key"],
            "left_semi",
        )
    a, b = new_banded.alias("a"), probed.alias("b")
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    # Verification needs store shingles only for docs that COLLIDED
    # with the batch (store-side candidates ⊆ store_hits ids). The
    # restriction is persisted so the store's sh column — the wide,
    # corpus-sized column — is scanned ONCE here instead of once per
    # verify join; the verify joins then probe a collision-sized frame.
    hit_ids = store_hits.select(id_col).distinct()
    sh_store = track_persist(
        store.select(id_col, "sh").join(F.broadcast(hit_ids), id_col, "left_semi")
    )
    sh_map = sh_store.unionByName(new_base.select(id_col, "sh"))
    return _verify_candidates(cands, sh_map, threshold), new_base


def jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    candidates="lsh",
) -> DataFrame:
    """n-gram Jaccard similarity pairs (doc_a, doc_b, jaccard).

    ``candidates`` selects the pair-generation strategy:

    - ``"lsh"`` (default — the 100 TB path): MinHash-LSH banding
      proposes candidate pairs, exact Jaccard verifies them. Cost
      scales with the candidate count, never with shingle
      co-occurrence. Approximate: pairs missed by every band are not
      verified (raise k/bands for recall).
    - a DataFrame of (doc_a, doc_b): verify exactly those pairs.
    - ``"all"``: exact inverted-index self-join on shingles (only
      docs sharing ≥1 shingle are compared — never n², but the join
      output grows with shingle co-occurrence, so a boilerplate-heavy
      corpus explodes it). The differential-oracle baseline; opt-in.
    """
    if candidates == "lsh":
        return lsh_near_dup_pairs(docs, threshold, n=n, text_col=text_col, id_col=id_col)
    if isinstance(candidates, DataFrame):
        sh_map = spread(docs).select(F.col(id_col), shingles_expr(text_col, n).alias("sh"))
        return _verify_candidates(candidates, sh_map, threshold)
    if candidates != "all":
        raise ValueError(f"candidates must be 'lsh', 'all', or a DataFrame: {candidates!r}")

    # one shingling pass: persist the compact (doc, distinct-shingle
    # array) frame so the self-join's two sides explode from the
    # cache instead of each re-running scan→split→shingle (3x the
    # corpus tokenization before), and per-doc sizes are just
    # F.size of the already-distinct array — the old explode +
    # groupBy(doc) exchange computed a count the array already knew
    # (guide §2.4: a shuffle for information the row already has).
    from ._util import track_persist

    with_sh = track_persist(spread(docs).select(
        F.col(id_col), shingles_expr(text_col, n).alias("__sh")))
    sh = with_sh.select(F.col(id_col), F.explode("__sh").alias("sh"))
    sizes = with_sh.select(F.col(id_col), F.size("__sh").alias("sz"))

    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= F.lit(threshold))


def simhash(
    docs: DataFrame, bits: int = 16,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per token a 60-bit md5-derived integer;
    each output bit is the sign of the vote sum over tokens.

    r16 (optimization round): the vote sums are computed DOC-LOCALLY
    with array higher-order functions instead of explode + groupBy.
    A document's tokens all live in one row, so per-doc bit votes
    never needed a shuffle: the old shape materialized one row per
    token (~200x the rows) and pushed them through a hash aggregate
    plus an Exchange on doc_id; this one hashes the token array once
    (same md5 per token — the dominant CPU, unchanged) and folds each
    bit's vote with `aggregate(hs, ...)` in place. Plan: scan →
    project — ZERO exchanges (guide §2.4 remove shuffles outright);
    the map-side row expansion disappears too."""
    hs = F.expr(
        f"transform(split({text_col}, ' '), "
        "t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))")
    votes_and_fp = (
        "aggregate(__hs, 0L, (acc, h) -> acc + "
        "(cast(shiftright(h, {j}) & 1 as bigint) * 2 - 1))")
    fp = " + ".join(
        f"(CASE WHEN ({votes_and_fp.format(j=j)}) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0L END)"
        for j in range(bits)
    )
    # null-text docs produced no exploded rows in the old shape and
    # were absent from the output; keep that contract
    return spread(docs).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(text_col)
    ).withColumn("__hs", hs).select(
        F.col(id_col), F.expr(f"cast(({fp}) as bigint)").alias("simhash")
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 25,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Connected components over an undirected edge list →
    (node, component), where component = min node id in the component.

    Iterative min-label propagation: every node starts as its own
    label; each round a node takes the min of its own and its
    neighbors' labels. Rounds needed = component diameter — near-dup
    components are LSH cliques plus short bridges, so 2-3 rounds in
    practice.

    Scale notes: one shuffle per round (edge⋈label equi-join + min
    groupBy); lineage is cut per round so the plan stays flat instead
    of doubling each iteration (the edge frame is checkpointed once up
    front — it may sit on an expensive LSH pipeline and is re-read
    every round). Convergence is exact: labels only ever decrease per
    node, so the round's join already knows whether ANY node improved
    (nbr < label) — one boolean-sum agg per round over the frame being
    checkpointed anyway, valid for numeric AND string node ids (a
    label-sum fingerprint would crash or silently no-op on strings
    under ANSI casts).

    Fault tolerance: ``checkpoint_dir=None`` cuts lineage with
    ``localCheckpoint`` — blocks live on executors with NO recompute
    path, so losing one executor in a late round kills the job. Fine
    on local[*]; on a cluster pass a reliable ``checkpoint_dir``
    (HDFS/S3) and each round writes a recoverable ``df.checkpoint()``
    there instead — the standard trade (extra FS round-trip per
    round) for iterative jobs that must survive executor loss.
    """
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)

    sym = _cut(
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
    )
    labels = _cut(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr"))
        )
        improved = F.coalesce(F.col("nbr") < F.col("label"), F.lit(False))
        labels = _cut(
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr"), F.col("label"))).alias("label"),
                improved.alias("__chg"),
            )
        )
        changed = labels.agg(F.sum(F.col("__chg").cast("long"))).first()[0] or 0
        labels = labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # partially-propagated labels would silently split one real
        # component into several "survivors"
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter too large) — raise max_iters or contract "
            "with large-star/small-star first")
    return labels.select("node", F.col("label").alias("component"))


def neardup_clusters(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = None,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Near-duplicate clusters: LSH near-dup pairs → connected
    components → (doc_id, component, cluster_size). The component id
    (min doc id in the cluster) IS the survivor a dedup pass keeps;
    docs in no pair are their own trivial cluster and are omitted
    (survivors by definition). ``checkpoint_dir``: reliable checkpoint
    location for cluster runs (see connected_components)."""
    from pyspark.sql import Window

    pairs = lsh_near_dup_pairs(
        docs, threshold, k, bands, n, text_col, id_col, max_bucket
    )
    cc = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    return cc.select(
        F.col("node").alias(id_col),
        "component",
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("cluster_size"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_overlap`` distinct word n-shingles with ANY benchmark
    document — the standard n-gram-overlap eval-leak check a training
    corpus runs before a model sees it.

    Scale shape: the benchmark side (eval sets — thousands of docs,
    not billions) collapses to a DISTINCT shingle set and BROADCASTS;
    the corpus side explodes its shingles and equi-joins the broadcast
    set, so the 100 TB side never shuffles for the probe — its only
    wide op is the per-doc overlap count, one groupBy on doc id.
    Returns (doc_id, n_contaminated) for flagged docs only.
    """
    bench_sh = (
        benchmark.select(F.explode(shingles_expr(text_col, n)).alias("s")).distinct()
    )
    doc_sh = spread(docs).select(
        F.col(id_col), F.explode(shingles_expr(text_col, n)).alias("s")
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "s")
        # shingles_expr emits DISTINCT shingles per doc, so the row
        # count per doc IS the distinct-overlap count
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .filter(F.col("n_contaminated") >= min_overlap)
    )


def neardup_survivors_by_quality(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scores: DataFrame = None,
    max_bucket: int = None,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Quality-aware dedup survivor selection: one document per
    near-dup cluster, the HIGHEST-quality member instead of the
    lowest id — what a training pipeline actually wants to keep when
    a boilerplate-riddled copy and a clean copy are near-dups of each
    other. Docs in no cluster survive trivially.

    ``scores``: (id_col, quality_score) frame; defaults to
    text.quality_score(docs). Ties break on lowest id so survivor
    choice is deterministic.

    Output: (id_col, component, cluster_size, quality_score) — one
    row per SURVIVOR; component is the cluster's min doc id
    (singletons: their own id, size 1).

    Plan shape: clustering is the LSH pipeline + label propagation of
    neardup_clusters (bounded buckets, checkpointed rounds); survivor
    election is one row_number window per component — component
    cardinality is cluster-count-scale, members per cluster are small,
    so the window never sees a hot partition; singleton recovery is a
    left-anti join against the (small) clustered-id set."""
    from pyspark.sql import Window

    from .text import quality_score

    if scores is None:
        scores = quality_score(docs, text_col, id_col)
    clusters = neardup_clusters(
        docs, threshold, k, bands, n, text_col, id_col,
        max_bucket, checkpoint_dir)
    member = clusters.join(scores, id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.col(id_col))
    winners = (
        member.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "component", "cluster_size", "quality_score")
    )
    singles = scores.join(
        clusters.select(id_col), id_col, "left_anti"
    ).select(
        F.col(id_col),
        F.col(id_col).alias("component"),
        F.lit(1).cast("long").alias("cluster_size"),
        "quality_score",
    )
    return winners.unionByName(singles)


def contamination_matrix(
    docs: DataFrame,
    benchmark: DataFrame,
    group_col: str,
    bench_group_col: str,
    n: int = 3,
    min_overlap: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus contamination MATRIX: for every (training source,
    eval slice) pair, how many training documents share at least
    ``min_overlap`` distinct word n-shingles with that slice — the
    per-source audit behind `decontaminate`'s boolean flag ("which
    vendor feed leaked which benchmark", the first question after a
    decontamination pass fires).

    Returns (group_col, bench_group_col, n_contaminated_docs);
    absent pairs are clean (0 — emit-nothing keeps the frame sparse).

    Scale shape mirrors `decontaminate`: the eval side collapses to
    distinct (slice, shingle) rows and BROADCASTS (eval sets are
    thousands of docs); the corpus explodes once and equi-joins the
    broadcast, then reduces at (doc, source, slice) grain — the
    100 TB side's only wide op. All shuffles carry ids and group
    keys, never text.
    """
    bench_sh = (
        benchmark.select(F.col(bench_group_col),
                         F.explode(shingles_expr(text_col, n)).alias("s"))
        .distinct()
    )
    doc_sh = spread(docs).select(
        F.col(id_col), F.col(group_col),
        F.explode(shingles_expr(text_col, n)).alias("s"),
    )
    per_doc = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        # shingles_expr is distinct-per-doc, so count == distinct
        # shingle overlap between this doc and this slice
        .groupBy(id_col, group_col, bench_group_col)
        .agg(F.count(F.lit(1)).alias("__overlap"))
        .filter(F.col("__overlap") >= min_overlap)
    )
    return (
        per_doc.groupBy(group_col, bench_group_col)
        .agg(F.countDistinct(F.col(id_col)).alias("n_contaminated_docs"))
    )
