"""Sizing rules + validation for the ANN / dedup family.

The operator defaults in similarity.py / dedup.py are fixture-sized
(n_centroids=8, planes=4, bands=4) so the differential oracles stay
deterministic. A 100 TB run must size them from corpus statistics.
This module is the one place those rules live; the IVF/LSH operators
accept ``"auto"`` to apply them.

Rules of thumb (standard IVF/LSH practice):

| parameter      | rule                                   | why |
|----------------|----------------------------------------|-----|
| n_centroids    | ~ sqrt(N), clamped [8, 65536]          | balances quantizer cost (N·C) vs list length (N/C): both O(N·sqrt N) total at C=sqrt N; bucket self-join work Σb² ≈ N²/C |
| nprobe         | max(1, n_centroids // 16)              | ~6% of lists probed; recall/cost knob — raise for recall |
| planes (LSH)   | ceil(log2(N / target_bucket)),         | 2^planes buckets; target same-bucket candidate count ≈ N/2^planes ≈ target_bucket |
|                | clamped [2, 24]                        | >24 planes ⇒ empty buckets dominate, recall collapses |
| bands × rows   | threshold ≈ (1/bands)^(1/rows)         | the MinHash S-curve midpoint; pick bands dividing k with midpoint nearest the target Jaccard |
| max_bucket     | ~100 × expected bucket size            | caps Σb² blowup from degenerate keys (boilerplate shingles, zero vectors) while keeping real clusters |

`N` (corpus rows) comes from a parquet-metadata count — cheap even at
100 TB (footer statistics, no data scan).
"""

from __future__ import annotations

import math

from ._util import CallerError

#: exact-percentile ceiling for the shared edge recipe
#: (operators/edges.percentile_edges): F.percentile's FINAL aggregate
#: buffers every input value on one reduce task — 5·10⁷ doubles is
#: ~400 MB of raw values (about 1–2 GB with per-element overhead),
#: comfortably inside one executor task's memory at standard sizing;
#: beyond it the recipe switches to percentile_approx (bounded
#: buffer, mergeable partials). The driver fixtures (≤ sf1) sit far
#: below this, so the hash-oracle regime is always exact.
EXACT_PERCENTILE_MAX_ROWS = 50_000_000


def ivf_params(n_rows: int) -> dict:
    """n_centroids ~ sqrt(N) (clamped), nprobe ~ C/16."""
    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    c = int(max(8, min(65536, round(math.sqrt(n_rows)))))
    return {"n_centroids": c, "nprobe": max(1, c // 16)}


def lsh_planes(n_rows: int, target_bucket: int = 1024) -> int:
    """planes = ceil(log2(N / target_bucket)), clamped [2, 24]."""
    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    if target_bucket <= 0:
        raise ValueError(f"target_bucket must be positive, got {target_bucket}")
    return int(max(2, min(24, math.ceil(math.log2(max(2, n_rows / target_bucket))))))


def hyperplane_bands(
    n_rows: int,
    threshold: float,
    target_bucket: int = 64,
    recall: float = 0.9,
) -> dict:
    """Size the banded hyperplane LSH (embedding_near_pairs_banded).

    rows_per_band r: 2^r buckets per band ≈ N / target_bucket, so the
    per-band candidate work stays ~N·target_bucket (clamped [2, 20]).
    bands B: OR-amplification to hit the recall target at the given
    cosine threshold — a pair at exactly `threshold` collides in one
    band with p_band = p_plane^r, p_plane = 1 − θ/π (the hyperplane
    split probability), so B = ceil(ln(1−recall) / ln(1−p_band)),
    clamped [2, 16]. Pairs ABOVE the threshold do strictly better.
    Single-table LSH at the same bucket size has recall p_band — for
    near-dup thresholds and r ≥ 8 that is a coin flip at best, which
    is why the banded variant exists."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < recall < 1.0:
        raise ValueError(f"recall must be in (0, 1), got {recall}")
    if n_rows <= 0:
        raise ValueError(f"n_rows must be positive, got {n_rows}")
    r = int(max(2, min(20, math.ceil(math.log2(max(2, n_rows / target_bucket))))))
    p_plane = 1.0 - math.acos(threshold) / math.pi
    p_band = p_plane ** r
    if p_band >= 1.0:
        b = 2
    else:
        b = int(math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_band)))
    return {"bands": int(max(2, min(16, b))), "rows_per_band": r}


def minhash_bands(k: int, threshold: float) -> int:
    """Pick bands dividing k whose S-curve midpoint (1/b)^(1/r),
    r = k/b, is nearest the target Jaccard threshold."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    divisors = [b for b in range(1, k + 1) if k % b == 0]
    return min(
        divisors, key=lambda b: abs((1.0 / b) ** (b / k) - threshold)
    )


def max_bucket_default(n_rows: int, n_buckets: int) -> int:
    """Cap per-bucket membership at ~100× the expected uniform size —
    wide enough for real dup clusters, tight enough that one
    degenerate key (empty text, zero vector) cannot drive the
    Σ bucket² join cost."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    return max(100, (n_rows // n_buckets) * 100)


def validate_ann_params(
    n_centroids: int = None, nprobe: int = None, planes: int = None, k: int = None
) -> None:
    """Shared input validation for the ANN operators — fail loudly on
    sizes that silently destroy recall or blow up the join."""
    if n_centroids is not None and n_centroids < 1:
        raise CallerError(f"n_centroids must be >= 1, got {n_centroids}")
    if nprobe is not None:
        if nprobe < 1:
            raise CallerError(f"nprobe must be >= 1, got {nprobe}")
        if n_centroids is not None and nprobe > n_centroids:
            raise CallerError(
                f"nprobe={nprobe} > n_centroids={n_centroids}: probing more "
                "lists than exist is an exact scan in disguise"
            )
    if planes is not None and not 1 <= planes <= 30:
        raise CallerError(
            f"planes must be in [1, 30] (2^planes buckets), got {planes}"
        )
    if k is not None and k < 1:
        raise CallerError(f"k must be >= 1, got {k}")
