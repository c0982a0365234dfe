#!/usr/bin/env python
"""Measure the incremental-dedup claim: deduping an ingest batch
against a persisted index must cost like the BATCH, not like the
corpus.

Setup mirrors production: the settled 90% of a large corpus has its
index materialized to parquet once (signature store for LSH, ivf_assign
frame + quantizer for IVF — build time excluded, it is amortized over
every batch); the remaining 10% arrives as the batch. Measured head to
head, min of PASSES noop-write runs:

- full rerun: the corpus-wide pipeline over settled+batch — what a
  pipeline without an incremental path pays on every ingest cycle;
- incremental: `lsh_incremental_pairs` / `embedding_incremental_pairs_
  ivf` probing the store with the batch's band keys / centroid ids.

Reuses the perturbation-replicated corpus scale_check builds (so
near-dups are planted, not manufactured by replication). Output: one
JSON line {"metric": "incremental_dedup", ...}; appended to
SCALE_r{N}.json by hand alongside the factor sweep.

Usage: python incremental_check.py [--dir /tmp/optiprism_scale100/x100]
       [--out /tmp/incremental.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench import best_noop_s

PASSES = 3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/optiprism_scale100/x100")
    ap.add_argument("--work", default="/tmp/optiprism_incremental")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from optiprism_spark.operators._util import unpersist_tracked
    from optiprism_spark.operators.dedup import (
        _base_signatures,
        lsh_incremental_pairs,
        lsh_near_dup_pairs,
    )
    from optiprism_spark.operators.similarity import (
        _coarse_centroids,
        embedding_incremental_pairs_ivf,
        embedding_near_pairs_ivf,
        ivf_assign,
    )
    from optiprism_spark.session import get_spark

    spark = get_spark("optiprism_incremental_check",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.makedirs(args.work, exist_ok=True)
    results = {}

    # ---- text LSH --------------------------------------------------
    # Two batch sizes (10% and 1%): if incremental cost followed the
    # corpus, both would cost the same; a visible drop at 1% shows the
    # slope follows the BATCH, with the store probe as the flat term.
    docs = spark.read.parquet(os.path.join(args.dir, "documents.parquet"))
    n_all = docs.count()
    full = lsh_near_dup_pairs(docs, threshold=0.6)
    t_full = best_noop_s(lambda: full, PASSES)
    unpersist_tracked()
    for frac, q in (("10pct", 0.9), ("1pct", 0.99)):
        cut = docs.approxQuantile("doc_id", [q], 0.0001)[0]
        settled = docs.filter(F.col("doc_id") < cut)
        batch = docs.filter(F.col("doc_id") >= cut)
        n_batch = batch.count()

        store_path = os.path.join(args.work, f"lsh_store_{frac}.parquet")
        _base_signatures(settled, 8, 3, "text", "doc_id").write.mode(
            "overwrite").parquet(store_path)
        store = spark.read.parquet(store_path)

        pairs, _ = lsh_incremental_pairs(batch, store, threshold=0.6)
        t_inc = best_noop_s(lambda: pairs, PASSES)
        unpersist_tracked()
        results[f"lsh_{frac}"] = {
            "corpus": n_all, "batch": n_batch,
            "t_full_rerun": t_full, "t_incremental": t_inc,
            "speedup": round(t_full / t_inc, 2),
        }
        print(f"lsh_{frac}: full {t_full}s vs incremental {t_inc}s "
              f"(x{results[f'lsh_{frac}']['speedup']})", file=sys.stderr)

    # ---- embedding IVF ---------------------------------------------
    emb = spark.read.parquet(os.path.join(args.dir, "embeddings.parquet"))
    cut = emb.approxQuantile("vec_id", [0.9], 0.001)[0]
    settled_e = emb.filter(F.col("vec_id") < cut)
    batch_e = emb.filter(F.col("vec_id") >= cut)
    n_all_e, n_batch_e = emb.count(), batch_e.count()

    from optiprism_spark.operators.sizing import ivf_params, max_bucket_default

    n_cent = ivf_params(n_all_e)["n_centroids"]
    cap = max_bucket_default(n_all_e, n_cent)
    cent_path = os.path.join(args.work, "ivf_centroids.parquet")
    _coarse_centroids(settled_e, n_cent, "vec_id", "embedding").write.mode(
        "overwrite").parquet(cent_path)
    cent = spark.read.parquet(cent_path)
    assign_path = os.path.join(args.work, "ivf_store.parquet")
    ivf_assign(settled_e, cent).write.mode("overwrite").parquet(assign_path)
    e_store = spark.read.parquet(assign_path)

    full = embedding_near_pairs_ivf(
        emb, threshold=0.40, n_centroids="auto", max_bucket="auto")
    t_full = best_noop_s(lambda: full, PASSES)
    unpersist_tracked()
    pairs_e, _ = embedding_incremental_pairs_ivf(
        batch_e, e_store, cent, threshold=0.40, max_bucket=cap)
    t_inc = best_noop_s(lambda: pairs_e, PASSES)
    unpersist_tracked()
    results["ivf"] = {
        "corpus": n_all_e, "batch": n_batch_e,
        "t_full_rerun": t_full, "t_incremental": t_inc,
        "speedup": round(t_full / t_inc, 2),
    }
    print(f"ivf: full {t_full}s vs incremental {t_inc}s "
          f"(x{results['ivf']['speedup']})", file=sys.stderr)

    line = json.dumps({"metric": "incremental_dedup", "unit": "sec",
                       "batch_fraction": 0.1, "queries": results})
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
