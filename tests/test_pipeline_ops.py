"""Unit tests for the training-data pipeline operators (dedup /
similarity / text / multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optiprism_spark.operators.dedup import exact_dedup, jaccard_pairs, minhash_signatures
from optiprism_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
    resize_stub,
)
from optiprism_spark.operators.similarity import cosine_topk


@pytest.fixture(autouse=True)
def _free_tracked_persists():
    """LSH/IVF operators track_persist their base frames; without an
    unconditional unpersist the cached InMemoryRelations leak into
    later plan-assertion sessions (the cross-test hazard a584e5e fixed
    once) — every test in this module frees them on exit."""
    yield
    from optiprism_spark.operators._util import unpersist_tracked

    unpersist_tracked()


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    df = docs_df(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.doc_id: r.dup_count for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_share_signature(spark):
    df = docs_df(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "q r s t u")])
    rows = {r.doc_id: (r.sig_0, r.sig_1) for r in minhash_signatures(df, k=2).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_jaccard_pairs_exact_value(spark):
    # 5 words -> 3 shingles each; docs share 2 of 4 distinct shingles
    df = docs_df(spark, [(1, "a b c d e"), (2, "b c d e f")])
    out = jaccard_pairs(df, threshold=0.0, candidates="all").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.jaccard == pytest.approx(2 / 4)


def test_connected_components_chain_and_island(spark):
    from optiprism_spark.operators.dedup import connected_components

    # chain 1-2-3 (diameter 2, needs >1 propagation round) + island 7-8
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 8)], "doc_a long, doc_b long"
    )
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_connected_components_empty_edges(spark):
    from optiprism_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.05]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = cosine_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [3, 1]
    assert out[0].sim > out[1].sim > 0.9


def test_multimodal_feature_plumbing(spark, tmp_path):
    docs = docs_df(spark, [(1, "hello world"), (2, "spark engine")])
    media = media_from_documents(docs.withColumnRenamed("id", "doc_id"))
    feats = extract_features(media, dim=4).collect()
    by_id = {r.media_id: r for r in feats}
    assert by_id[1].n_bytes == len("hello world")
    assert len(by_id[1].feature) == 4
    assert all(0 <= x <= 1 for x in by_id[1].feature)
    # determinism
    feats2 = extract_features(media, dim=4).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_real_decode_rejects_non_media(spark):
    """decode_stub=False REALLY decodes; a raw text payload is not
    PNG/WAV and must fail loudly at the codec seam."""
    docs = docs_df(spark, [(1, "hello")])
    media = media_from_documents(docs)
    with pytest.raises(Exception, match="unsupported media format"):
        extract_features(media, decode_stub=False).collect()


def test_multimodal_real_decode_roundtrip(spark):
    """synthesize_media emits genuine PNG/WAV; extract_features with
    decode_stub=False decodes them and the features equal the known
    synthesis formula."""
    from optiprism_spark.operators.multimodal import (
        decoded_stats,
        synthesize_media,
    )

    ids = spark.createDataFrame([(2,), (3,)], "doc_id long")
    media = synthesize_media(ids)
    metas = {r.media_id: r.meta for r in media.collect()}
    assert metas[2].kind == "image" and metas[2].format == "png"
    assert metas[3].kind == "audio" and metas[3].duration_ms == 16

    feats = {r.media_id: r for r in
             extract_features(media, dim=4, decode_stub=False).collect()}
    # image 2: pixel[i] = (2*31 + i) % 256 -> 62, 63, 64, 65
    assert [round(v * 255) for v in feats[2].feature] == [62, 63, 64, 65]
    # audio 3: sample[i] = ((21 + 13 i) % 65536) - 32768
    expect = [((21 + 13 * i) % 65536 - 32768) / 32768.0 for i in range(4)]
    assert feats[3].feature == pytest.approx(expect)

    stats = {r.media_id: r for r in decoded_stats(media).collect()}
    assert stats[2].width == 16 and stats[2].n_values == 256
    assert stats[2].value_sum == sum((62 + i) % 256 for i in range(256))
    assert stats[3].width is None and stats[3].n_values == 256


def test_png_codec_all_filters():
    """The PNG decoder is a real baseline decoder: all five scanline
    filters, gray/RGB/RGBA, crc validation."""
    import numpy as np

    from optiprism_spark.operators.media_codec import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in [(16, 16), (5, 9, 3), (4, 4, 4)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert (decode_png(encode_png(a)) == a).all()
    corrupt = bytearray(encode_png(rng.integers(0, 256, (4, 4), dtype=np.uint8)))
    corrupt[40] ^= 0xFF  # flip a byte inside a chunk -> crc must catch
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def test_resize_and_frame_sampling(spark):
    docs = docs_df(spark, [(1, "hello")])
    media = resize_stub(media_from_documents(docs), 224, 224)
    meta = media.select("meta.width", "meta.height").collect()[0]
    assert (meta.width, meta.height) == (224, 224)
    vid = media.withColumn(
        "meta",
        F.struct(
            F.lit("video").alias("kind"), F.lit("raw").alias("format"),
            F.lit(0).alias("width"), F.lit(0).alias("height"),
            F.lit(3000).cast("long").alias("duration_ms"),
        ),
    )
    frames = frame_sample_plan(vid, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_ivf_kmeans_centroids_recall(spark):
    """Trained-KMeans IVF must recover most of the brute-force top-k:
    the quantizer seam swaps without changing the plan, and recall
    against exact top-5 stays high on the fixture embeddings."""
    from optiprism_spark.operators.similarity import cosine_topk, cosine_topk_ivf
    from optiprism_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(
            emb, queries, k=5, n_centroids=4, nprobe=2, centroids="kmeans"
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_lsh_near_dup_recall_vs_exact(spark):
    """MinHash-LSH banding is the approximate half of the near-dup
    pipeline; this pins its quality, not just its speed. Ground truth
    is the exact inverted-index path (candidates='all' — every pair
    sharing a shingle, exactly verified). Two invariants:

    - PRECISION is exact by construction (every LSH candidate is
      re-verified with true Jaccard), so lsh ⊆ exact — asserted as
      an empty difference, not a ratio.
    - RECALL at the default (k=8, bands=4) stays high at the 0.5
      threshold: the banding s-curve midpoint is (1/bands)^(bands/k)
      = 0.5, and the fixture corpus's 28 planted near-dup pairs sit
      well above it. The floor is 0.8 to leave room for minhash
      collisions on future fixture regenerations; measured today: 1.0.
    """
    from optiprism_spark.operators.dedup import lsh_near_dup_pairs
    from optiprism_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.5, candidates="all").collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in lsh_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert len(exact) >= 10, f"fixture lost its near-dup pairs ({len(exact)})"
    assert lsh - exact == set(), "verification must make precision exact"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f}"


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches lineage cuts from localCheckpoint to
    reliable df.checkpoint() (survives executor loss on a cluster);
    results identical, checkpoint files actually land in the dir."""
    import os

    from optiprism_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 8)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "ckpt")
    out = {
        r.node: r.component
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote no files"


def test_pack_sequences_string_ids(spark):
    """Hash bucketing must accept non-numeric doc ids (the round-3
    pmod-on-id shape threw); namespace is bucket << 40."""
    from optiprism_spark.operators.assembly import pack_sequences

    df = spark.createDataFrame(
        [("doc-a", "w " * 300), ("doc-b", "w " * 300), ("doc-c", "w " * 300)],
        "doc_id string, text string",
    )
    rows = pack_sequences(df, budget=512, n_buckets=4).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.pack_id >> 40 == r.bucket
        assert 0 <= r.pack_offset < 512


def test_pack_sequences_default_buckets_scale(spark):
    from optiprism_spark.operators.assembly import pack_sequences

    df = spark.createDataFrame([(i, "w " * 10) for i in range(20)],
                               "doc_id long, text string")
    out = pack_sequences(df, budget=64)
    n_buckets = out.select("bucket").distinct().count()
    # defaultParallelism-scaled: buckets land in [1, defaultParallelism]
    assert 1 <= n_buckets <= spark.sparkContext.defaultParallelism
    with pytest.raises(ValueError):
        pack_sequences(df, budget=64, n_buckets=1 << 24)


def test_sizing_rules():
    from optiprism_spark.operators.sizing import (
        ivf_params,
        lsh_planes,
        max_bucket_default,
        minhash_bands,
    )

    assert ivf_params(1_000_000)["n_centroids"] == 1000
    assert ivf_params(10)["n_centroids"] == 8  # clamp floor
    assert ivf_params(10**10)["n_centroids"] == 65536  # clamp ceiling
    p = ivf_params(1_000_000)
    assert 1 <= p["nprobe"] <= p["n_centroids"]
    # planes: 1M rows / 1024 target bucket -> 2^10 buckets
    assert lsh_planes(1_048_576) == 10
    assert lsh_planes(100) == 2  # clamp floor
    assert lsh_planes(10**12) == 24  # clamp ceiling
    # bands: S-curve midpoint (1/b)^(b/k) nearest the threshold
    assert minhash_bands(8, 1.0) == 1  # b=1 -> midpoint 1.0
    assert minhash_bands(8, 0.2) == 8  # many bands -> low threshold
    b = minhash_bands(16, 0.6)
    assert 16 % b == 0
    assert max_bucket_default(1_000_000, 1000) == 100_000
    with pytest.raises(ValueError):
        ivf_params(0)
    with pytest.raises(ValueError):
        minhash_bands(8, 1.5)


def test_ann_param_validation(spark):
    from optiprism_spark.operators.similarity import cosine_topk_ivf, cosine_topk_lsh

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    q = emb.limit(1)
    with pytest.raises(ValueError, match="nprobe"):
        cosine_topk_ivf(emb, q, n_centroids=4, nprobe=9).collect()
    with pytest.raises(ValueError, match="planes"):
        cosine_topk_lsh(emb, q, planes=0).collect()
    with pytest.raises(ValueError, match="k must be"):
        cosine_topk_lsh(emb, q, k=0).collect()


def test_ann_auto_sizing_sf01(spark):
    """The sizing rules applied to the real sf0.1 embeddings table:
    "auto" resolves from the corpus row count (sqrt-N centroids), and
    the auto-sized query returns well-formed top-k."""
    import math

    from optiprism_spark.operators.similarity import _auto_ivf, cosine_topk_ivf
    from optiprism_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    n_centroids, nprobe = _auto_ivf("auto", "auto", emb)
    assert n_centroids == max(8, min(65536, round(math.sqrt(n))))
    assert 1 <= nprobe <= n_centroids
    out = cosine_topk_ivf(
        emb, emb.limit(2), k=3, n_centroids="auto", nprobe="auto"
    ).collect()
    assert 0 < len(out) <= 2 * 3
    assert all(r.rank <= 3 for r in out)


def test_chunk_documents_invariants(spark):
    """Structural invariants: with overlap=0 the chunks concatenate
    back to the original text; with overlap>0 consecutive chunks
    share exactly `overlap` words (except a short tail); chunk sizes
    never exceed chunk_words."""
    from optiprism_spark.operators.assembly import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))),
         (2, " ".join(f"v{i}" for i in range(7))),
         (3, "single")],
        "doc_id long, text string",
    )
    flat = chunk_documents(docs, chunk_words=64, overlap=0)
    by_doc = {}
    for r in flat.collect():
        assert r.chunk_words <= 64
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    originals = {r.doc_id: r.text for r in docs.collect()}
    for did, chunks in by_doc.items():
        joined = " ".join(t for _, t in sorted(chunks))
        assert joined == originals[did], did

    lap = chunk_documents(docs, chunk_words=64, overlap=16)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_text) for r in lap.collect())
    )
    seq = [r for r in rows if r[0] == 1]
    for (_, i1, t1), (_, i2, t2) in zip(seq, seq[1:]):
        w1, w2 = t1.split(" "), t2.split(" ")
        if len(w2) >= 16:
            assert w1[-16:] == w2[:16], (i1, i2)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_words=8, overlap=8)


def test_pack_sequences_invariants(spark):
    """Every pack's member offsets tile the token budget in id order:
    offsets are the running token sum mod budget, and a pack never
    starts mid-budget (first member of each pack has offset < budget;
    members stay in doc-id order within a pack)."""
    from optiprism_spark.operators.assembly import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join("w" * 1 for _ in range(37 + (i * 13) % 90)))
         for i in range(60)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, budget=128, n_buckets=4).collect()
    by_bucket = {}
    for r in rows:
        assert 0 <= r.pack_offset < 128
        assert r.pack_id >> 40 == r.bucket
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, members in by_bucket.items():
        members.sort(key=lambda r: r.doc_id)
        start = 0
        for r in members:
            assert r.pack_offset == start % 128, r
            assert r.pack_id == (bucket << 40) + start // 128, r
            start += r.n_tokens


def test_lsh_incremental_matches_full_and_chains(spark):
    """Three invariants of the incremental near-dup path:

    1. full-pipeline equivalence: incremental(batch, store(settled))
       == lsh_near_dup_pairs(all) restricted to pairs touching the
       batch (band-key collision is pairwise, so probing the store
       with the batch's keys loses nothing);
    2. chaining: feeding batch1's returned new_base back as (part of)
       the store lets batch2 find its pairs against batch1;
    3. cold start: store=None degrades to the batch-only pipeline.
    """
    from optiprism_spark.operators.dedup import (
        _base_signatures,
        lsh_incremental_pairs,
        lsh_near_dup_pairs,
    )
    from optiprism_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        (r.doc_a, r.doc_b)
        for r in lsh_near_dup_pairs(docs, threshold=0.5).collect()
    }
    want = {p for p in full if p[0] >= 400 or p[1] >= 400}

    settled = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    store = _base_signatures(settled, 8, 3, "text", "doc_id")
    pairs, new_base = lsh_incremental_pairs(batch, store, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == want and len(want) > 0, (sorted(got), sorted(want))
    assert set(new_base.columns) == set(store.columns)

    # chaining: split the batch in two; batch2 must see batch1 pairs
    b1 = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    b2 = docs.filter(F.col("doc_id") >= 450)
    p1, nb1 = lsh_incremental_pairs(b1, store, threshold=0.5)
    p2, _ = lsh_incremental_pairs(b2, store.unionByName(nb1), threshold=0.5)
    got2 = {(r.doc_a, r.doc_b) for r in p1.collect()} | {
        (r.doc_a, r.doc_b) for r in p2.collect()
    }
    assert got2 == want, (sorted(got2 ^ want))

    # cold start
    cold, _ = lsh_incremental_pairs(batch, None, threshold=0.5)
    want_cold = {
        (r.doc_a, r.doc_b)
        for r in lsh_near_dup_pairs(batch, threshold=0.5).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in cold.collect()} == want_cold


def test_lsh_incremental_max_bucket_parity(spark):
    """For every band key the batch probes, the store contributes ALL
    its rows with that key, so the incremental bucket count equals the
    full-corpus bucket count and max_bucket drops the same buckets as
    the full pipeline would."""
    from optiprism_spark.operators.dedup import (
        _base_signatures,
        lsh_incremental_pairs,
        lsh_near_dup_pairs,
    )

    # 6 near-identical template docs (one LSH bucket) + 2 distinct
    tmpl = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, tmpl + f" v{i % 2}") for i in range(6)] + [
        (10, "completely different content one two three four five six"),
        (11, "another unrelated document body seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 4
    full = {
        (r.doc_a, r.doc_b)
        for r in lsh_near_dup_pairs(docs, threshold=0.3, max_bucket=cap).collect()
    }
    want = {p for p in full if p[0] >= 3 or p[1] >= 3}
    store = _base_signatures(docs.filter(F.col("doc_id") < 3), 8, 3, "text", "doc_id")
    pairs, _ = lsh_incremental_pairs(
        docs.filter(F.col("doc_id") >= 3), store, threshold=0.3, max_bucket=cap
    )
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == want


def test_ivf_incremental_matches_full_and_chains(spark):
    """Vector twin of the incremental-LSH invariants: incremental
    against the settled index == full IVF pairs restricted to pairs
    touching the batch; chaining two batches through the growing store
    recovers the same set; store=None degrades to batch-only."""
    from optiprism_spark.operators.similarity import (
        _coarse_centroids,
        embedding_incremental_pairs_ivf,
        embedding_near_pairs_ivf,
        ivf_assign,
    )
    from optiprism_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = {
        (r.doc_a, r.doc_b)
        for r in embedding_near_pairs_ivf(
            emb, threshold=0.40, n_centroids=8).collect()
    }
    want = {p for p in full if p[0] >= 400 or p[1] >= 400}
    assert len(want) > 0

    settled = emb.filter(F.col("vec_id") < 400)
    cent = _coarse_centroids(settled, 8, "vec_id", "embedding", "sample")
    store = ivf_assign(settled, cent)
    pairs, new_assigned = embedding_incremental_pairs_ivf(
        emb.filter(F.col("vec_id") >= 400), store, cent, threshold=0.40)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == want
    assert set(new_assigned.columns) == set(store.columns)

    b1 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    b2 = emb.filter(F.col("vec_id") >= 450)
    p1, nb1 = embedding_incremental_pairs_ivf(b1, store, cent, threshold=0.40)
    p2, _ = embedding_incremental_pairs_ivf(
        b2, store.unionByName(nb1), cent, threshold=0.40)
    got2 = {(r.doc_a, r.doc_b) for r in p1.collect()} | {
        (r.doc_a, r.doc_b) for r in p2.collect()
    }
    assert got2 == want, sorted(got2 ^ want)

    # cold start (store=None) still quantizes with the SAME centroids,
    # so the reference set is the full run restricted to new x new
    cold, _ = embedding_incremental_pairs_ivf(
        emb.filter(F.col("vec_id") >= 400), None, cent, threshold=0.40)
    want_nn = {p for p in full if p[0] >= 400 and p[1] >= 400}
    assert {(r.doc_a, r.doc_b) for r in cold.collect()} == want_nn


def test_ivf_incremental_max_bucket_parity(spark):
    """A probed centroid contributes its complete bucket, so the
    incremental bucket count equals the full-corpus count and
    max_bucket drops the same buckets as embedding_near_pairs_ivf."""
    from optiprism_spark.operators.similarity import (
        _coarse_centroids,
        embedding_incremental_pairs_ivf,
        embedding_near_pairs_ivf,
        ivf_assign,
    )

    # ids chosen so the lowest-2 ids (the "sample" quantizer) span the
    # clusters: bucket A = {0,2,3,4,5,6} (oversized), B = {1,10,11}
    rows = [(i, [1.0, 0.0, 0.01 * i]) for i in (0, 2, 3, 4, 5, 6)] + [
        (j, [0.0, 1.0, 0.01 * j]) for j in (1, 10, 11)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cap = 4
    cent = _coarse_centroids(emb, 2, "vec_id", "embedding")
    full = {
        (r.doc_a, r.doc_b)
        for r in embedding_near_pairs_ivf(
            emb, threshold=0.9, n_centroids=2, max_bucket=cap).collect()
    }
    want = {p for p in full if p[0] >= 3 or p[1] >= 3}
    store = ivf_assign(emb.filter(F.col("vec_id") < 3), cent)
    pairs, _ = embedding_incremental_pairs_ivf(
        emb.filter(F.col("vec_id") >= 3), store, cent,
        threshold=0.9, max_bucket=cap)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == want
    # sanity: the healthy bucket produced pairs, the oversized did not
    assert want == {(1, 10), (1, 11), (10, 11)}


@pytest.mark.parametrize("seed", [3, 11, 42])
def test_lsh_incremental_randomized_equivalence(spark, seed):
    """Randomized corpora (deterministic per seed): for ANY split
    point, incremental(batch, store(settled)) must equal the full
    pipeline restricted to pairs touching the batch — the structural
    invariant behind the oracle query, exercised on corpora the
    fixture never shaped."""
    import random

    from optiprism_spark.operators.dedup import (
        _base_signatures,
        lsh_incremental_pairs,
        lsh_near_dup_pairs,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(80):
        if rows and rng.random() < 0.4:
            # perturbed copy of an earlier doc -> planted near-dups
            base = rng.choice(rows)[1].split()
            k = max(1, len(base) // 5)
            for _ in range(k):
                base[rng.randrange(len(base))] = rng.choice(vocab)
            text = " ".join(base)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 18)))
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cutoff = rng.randint(20, 60)

    full = {
        (r.doc_a, r.doc_b)
        for r in lsh_near_dup_pairs(docs, threshold=0.4).collect()
    }
    want = {p for p in full if p[0] >= cutoff or p[1] >= cutoff}
    store = _base_signatures(
        docs.filter(F.col("doc_id") < cutoff), 8, 3, "text", "doc_id")
    pairs, _ = lsh_incremental_pairs(
        docs.filter(F.col("doc_id") >= cutoff), store, threshold=0.4)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == want, (seed, cutoff, sorted(got ^ want))


def test_connected_components_string_ids(spark):
    """Min-label propagation must work for STRING doc ids: the old
    label-sum convergence fingerprint crashed (ANSI cast) or silently
    returned singletons for non-numeric ids."""
    from optiprism_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string")
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_raises_when_unconverged(spark):
    """Exhausting max_iters mid-propagation must raise, not silently
    split one real component into several survivors."""
    from optiprism_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2).collect()
    ok = {r.component for r in connected_components(chain, max_iters=10).collect()}
    assert ok == {0}


def test_hyperplane_bucket_uses_actual_vector_length(spark):
    """Vectors shorter than the old dim=64 default all collapsed into
    bucket 0 (null-padded fold), silently turning the LSH join into a
    cross join; the sketch must spread short vectors across buckets."""
    from optiprism_spark.operators.similarity import hyperplane_bucket

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.5]), (3, [0.3, -2.0])],
        "vec_id long, embedding array<double>")
    buckets = {r.b for r in emb.select(
        hyperplane_bucket(F.col("embedding"), planes=4).alias("b")).collect()}
    assert len(buckets) > 1, buckets


def test_chunk_documents_no_redundant_tail(spark):
    """A 50-word doc with (64, 16) chunking fits entirely in chunk 0;
    the old bound emitted a second chunk fully contained in the first,
    duplicating tail text into the training set."""
    from optiprism_spark.operators.assembly import chunk_documents

    doc = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(50)))], "doc_id long, text string")
    got = chunk_documents(doc, chunk_words=64, overlap=16).collect()
    assert len(got) == 1 and got[0].chunk_words == 50
    # 65 words: a tail chunk IS needed (one new word past the first)
    doc2 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(65)))], "doc_id long, text string")
    got2 = chunk_documents(doc2, chunk_words=64, overlap=16).collect()
    assert [r.chunk_words for r in sorted(got2, key=lambda r: r.chunk_idx)] == [64, 17]


def test_stratified_sample_key_distinguishes_collision_shapes(spark):
    """('e','n42') vs ('en','42') and a null stratum must produce
    three DISTINCT sampling draws — the old undelimited concat_ws
    collided the first two and skipped the null entirely."""
    from optiprism_spark.operators.assembly import stratified_sample_fraction

    df = spark.createDataFrame(
        [("e", "n42"), ("en", "42"), (None, "42")],
        "lang string, doc_id string")
    # sweep fractions: if the three keys hash identically, every
    # fraction keeps either all three or none; distinct keys produce
    # at least one fraction separating them
    seen = set()
    for frac in (0.1, 0.25, 0.5, 0.75, 0.9):
        kept = stratified_sample_fraction(df, ["lang"], frac).count()
        seen.add(kept)
    assert len(seen) > 1, seen


def test_assembly_validation_errors(spark):
    from optiprism_spark.operators.assembly import dataset_split, pack_sequences

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unreachable"):
        dataset_split(df, (("train", 0.8), ("val", 0.3), ("test", 0.1)))
    with pytest.raises(ValueError, match="> 0"):
        dataset_split(df, (("train", -0.1), ("rest", 1.1)))
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, budget=0)


def test_banded_embedding_lsh_beats_single_table_recall(spark):
    """The banded variant exists for recall: at matched total planes
    (4x3 banded vs 12 single-table) OR-amplification must recover
    pairs the single AND-only table splits. Ground truth is the exact
    O(N^2) path at the same threshold. Also pins precision-exactness
    (candidates are exactly verified, so banded ⊆ exact) and sizing
    sanity."""
    from optiprism_spark.operators.similarity import (
        embedding_near_pairs,
        embedding_near_pairs_banded,
    )
    from optiprism_spark.operators.sizing import hyperplane_bands
    from optiprism_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    t = 0.40
    exact = {(r.doc_a, r.doc_b)
             for r in embedding_near_pairs(emb, threshold=t, exact=True).collect()}
    single = {(r.doc_a, r.doc_b)
              for r in embedding_near_pairs(emb, threshold=t, planes=12).collect()}
    banded = {(r.doc_a, r.doc_b)
              for r in embedding_near_pairs_banded(
                  emb, threshold=t, bands=4, rows_per_band=3).collect()}
    assert len(exact) >= 10, f"fixture lost its near-dup pairs ({len(exact)})"
    assert banded - exact == set(), "sim is exactly verified: banded ⊆ exact"
    r_banded = len(banded & exact) / len(exact)
    r_single = len(single & exact) / len(exact)
    assert r_banded > r_single, (r_banded, r_single)
    assert r_banded >= 0.5, f"banded recall {r_banded:.2f}"

    sized = hyperplane_bands(1_000_000, 0.9)
    assert 2 <= sized["bands"] <= 16 and 2 <= sized["rows_per_band"] <= 20
    # tighter threshold (closer pairs) needs fewer bands at fixed r
    import pytest as _pytest

    assert (hyperplane_bands(1_000_000, 0.99)["bands"]
            <= hyperplane_bands(1_000_000, 0.8)["bands"])
    with _pytest.raises(ValueError):
        hyperplane_bands(0, 0.9)


def test_banded_embedding_lsh_plan_shape(spark):
    """One persisted corpus scan feeds both join sides; candidates
    come from a (band, bucket) equi-join — no cartesian anywhere."""
    from optiprism_spark.operators._util import unpersist_tracked
    from optiprism_spark.operators.similarity import embedding_near_pairs_banded
    from optiprism_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    df = embedding_near_pairs_banded(emb, threshold=0.4, bands=4, rows_per_band=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    try:
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
        # both join sides read the SAME persisted sketch frame (the
        # raw parquet scan + B·r sign-bit folds run once, not twice)
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        unpersist_tracked()


def test_repeated_ngram_stats_semantics(spark):
    """Doc-frequency at shingle grain: a shingle repeated inside ONE
    doc is not corpus-repeated; shared boilerplate across docs is."""
    from optiprism_spark.operators.text import repeated_ngram_stats

    docs = spark.createDataFrame(
        [
            # a and b share the boilerplate "terms of service"
            (1, "terms of service apply here now"),
            (2, "terms of service govern everything said"),
            # c repeats its own trigram twice but shares nothing
            (3, "x y z q x y z"),
            # short doc: fewer words than n -> one degenerate shingle
            (4, "hello"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           repeated_ngram_stats(docs, n=3).collect()}
    # doc1: 4 shingles, only "terms of service" shared
    assert out[1]["n_shingles"] == 4
    assert out[1]["n_repeated"] == 1
    assert out[1]["repeated_fraction"] == 0.25
    assert out[2]["n_repeated"] == 1
    # doc3: "x y z" occurs twice WITHIN doc3 only -> distinct pairs
    # collapse it, df == 1, nothing repeated
    assert out[3]["n_repeated"] == 0
    # doc4: degenerate single shingle, not shared
    assert out[4]["n_shingles"] == 1 and out[4]["n_repeated"] == 0


def test_repeated_spans_hand_computed(spark):
    """Island merging + min_run on a hand-built corpus: docs 1 and 2
    share a 5-word boilerplate run (3 consecutive shingle positions);
    doc 3 shares only an isolated trigram (run of 1, dropped)."""
    from optiprism_spark.operators.text import repeated_spans

    boiler = "all rights reserved by acme"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} delta epsilon zeta"),
            # isolated shared trigram "delta epsilon zeta" with doc 2
            (3, "one two delta epsilon zeta three"),
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"]): r for r in
           repeated_spans(docs, n=3, min_run=2).collect()}
    # doc1: boilerplate at words 3..7 -> positions 3,4,5 -> span 3..7
    assert (out[1]["start_word"], out[1]["end_word"],
            out[1]["n_positions"]) == (3, 7, 3)
    # doc2: boilerplate at words 1..5
    assert (out[2]["start_word"], out[2]["end_word"],
            out[2]["n_positions"]) == (1, 5, 3)
    # doc2/doc3's single shared trigram is a run of 1 -> dropped;
    # doc3 emits nothing at all
    assert 3 not in out

    # min_run=1 surfaces the isolated hits
    with_iso = repeated_spans(docs, n=3, min_run=1)
    doc3 = [r for r in with_iso.collect() if r["doc_id"] == 3]
    assert [(r["start_word"], r["end_word"]) for r in doc3] == [(3, 5)]


def test_remove_repeated_spans_transform(spark):
    """The cut keeps the unique remainder, leaves span-free docs
    verbatim, and counts removals."""
    from optiprism_spark.operators.text import remove_repeated_spans

    boiler = "all rights reserved by acme"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} delta epsilon zeta"),
            (3, "totally unique content here today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           remove_repeated_spans(docs, n=3, min_run=2).collect()}
    assert out[1]["text_clean"] == "alpha beta gamma"
    assert (out[1]["n_words"], out[1]["n_removed"]) == (8, 5)
    assert out[2]["text_clean"] == "delta epsilon zeta"
    assert out[3]["text_clean"] == "totally unique content here today"
    assert out[3]["n_removed"] == 0

    # a fully-boilerplate doc empties out rather than erroring
    dup = spark.createDataFrame(
        [(1, boiler), (2, boiler)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            remove_repeated_spans(dup, n=3, min_run=2).collect()}
    assert rows[1]["text_clean"] == "" and rows[1]["n_removed"] == 5


def test_contamination_matrix_semantics(spark):
    """Per-pair doc counts with the min_overlap floor; clean pairs
    emit nothing; a doc contaminated against two slices counts in
    both."""
    from optiprism_spark.operators.dedup import contamination_matrix

    leak_a = "the quick brown fox jumps"
    leak_b = "pack my box with jugs"
    bench = spark.createDataFrame(
        [(100, "en", leak_a), (101, "de", leak_b)],
        "doc_id long, slice string, text string")
    train = spark.createDataFrame(
        [
            (1, "vendor_x", f"intro {leak_a} outro words"),     # en leak
            (2, "vendor_x", f"{leak_a} and also {leak_b} here"),  # both
            (3, "vendor_y", "completely clean text with no overlap"),
            # single shared trigram only -> below min_overlap=2
            (4, "vendor_y", "zz the quick brown yy xx ww vv"),
        ],
        "doc_id long, src string, text string")
    out = {(r["src"], r["slice"]): r["n_contaminated_docs"]
           for r in contamination_matrix(
               train, bench, "src", "slice", n=3, min_overlap=2).collect()}
    assert out == {("vendor_x", "en"): 2, ("vendor_x", "de"): 1}


def test_importance_sample_semantics(spark):
    """Weights >= pivot always survive with ht_weight 1; weight 0 is
    always dropped; kept fractions track keep_prob; HT-reweighted
    totals are near-unbiased."""
    from optiprism_spark.operators.assembly import importance_sample

    import pyspark.sql.functions as F

    n = 4000
    rows = [(i, [0.0, 0.35, 0.7, 1.4][i % 4]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = importance_sample(df, F.col("w"), pivot=0.7).collect()
    by_w = {}
    for r in out:
        by_w.setdefault(r["w"], []).append(r)
    assert 0.0 not in by_w                      # p=0 dropped
    assert len(by_w[0.7]) == n // 4             # p=1 all kept
    assert len(by_w[1.4]) == n // 4
    assert all(r["ht_weight"] == 1.0 for r in by_w[0.7] + by_w[1.4])
    assert all(r["keep_prob"] == 0.5 and r["ht_weight"] == 2.0
               for r in by_w[0.35])
    # kept fraction of the p=0.5 stratum near 0.5 (hash-uniform)
    frac = len(by_w[0.35]) / (n / 4)
    assert 0.4 < frac < 0.6
    # HT estimate of the stratum's row count is near-unbiased
    est = sum(r["ht_weight"] for r in by_w[0.35])
    assert abs(est - n / 4) / (n / 4) < 0.2

    with pytest.raises(ValueError):
        importance_sample(df, F.col("w"), pivot=0.0)


def test_curriculum_phases_semantics(spark):
    """Quartile phases are balanced, monotone in score, ties fall to
    the lower phase, and the shuffle key is deterministic."""
    from optiprism_spark.operators.assembly import curriculum_phases

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, s double")
    out = curriculum_phases(df, "s", n_phases=4).collect()
    phases = {r["doc_id"]: r["phase"] for r in out}
    # equi-depth: ~25 per phase; monotone boundaries at exact quartiles
    import collections
    sizes = collections.Counter(phases.values())
    assert set(sizes) == {0, 1, 2, 3}
    assert all(abs(v - 25) <= 1 for v in sizes.values())
    assert all(phases[i] <= phases[j]
               for i, j in zip(range(99), range(1, 100)))
    # deterministic shuffle_key across runs
    again = {r["doc_id"]: r["shuffle_key"]
             for r in curriculum_phases(df, "s", n_phases=4).collect()}
    assert again == {r["doc_id"]: r["shuffle_key"] for r in out}

    with pytest.raises(ValueError):
        curriculum_phases(df, "s", n_phases=1)
