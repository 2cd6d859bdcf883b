#!/usr/bin/env python
"""ANN at 1M vectors: recall + wall for every ANN path, on BOTH data shapes.

SCALING.md argues the similarity stack is 100 TB-shaped (corpus never
shuffled, candidates blocked, driver materialization k-bounded); this
probe puts numbers behind the argument at 1M × 64-d — 2000× the fixture
corpus — and, per the r5 verdict ("What's missing" #1), measures recall
on the ADVERSARIAL shape too:

  * ``clustered`` — 100 clusters, per-dimension center + bounded noise
    from integer hashes. Coarse-cluster blocking is easy mode here: real
    embedding corpora are clustered, and a query's true neighbors share
    its block almost surely.
  * ``uniform`` — i.i.d. per-dimension hash noise, no cluster structure.
    This is where IVF cell boundaries and LSH singleton buckets actually
    lose neighbors: the ``label`` column (what ``blocked_topk`` inherits)
    carries no signal, and hyperplane agreement among "nearest" uniform
    vectors is weak. Recall here is the honest lower bound of each path.

Methods, each vs `brute_force_topk_vectorized` (exact Arrow/BLAS
baseline: per-partition dgemm against the broadcast query matrix, local
top-k, global re-rank):

  1. ``blocked_topk``      — IVF with an inherited partition (label).
  2. ``lsh_topk``          — single-bucket hyperplane LSH.
  3. ``lsh_topk_multiprobe`` — + all Hamming-1 buckets (the recall-gap
     closer whose uniform-data number the r5 verdict asked for).
  4. ``ivf_kmeans_topk``   — TRAINED coarse quantizer (integer Lloyd).

All generation is JVM-side (no Python), deterministic from integer
hashes. Usage: python scripts/probe_ann_scale.py [n_vectors] [n_queries]
[k] [shapes]   (shapes: comma list of clustered,uniform; default both)
Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_Q = int(sys.argv[2]) if len(sys.argv) > 2 else 64
K = int(sys.argv[3]) if len(sys.argv) > 3 else 10
SHAPES = (sys.argv[4] if len(sys.argv) > 4 else "clustered,uniform").split(",")
N_CLUSTERS = 100
DIM = 64


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def build_corpus(spark, shape: str):
    from pyspark.sql import functions as F

    label = (F.col("id") % N_CLUSTERS).alias("label")
    if shape == "clustered":
        dims = [
            (
                (F.hash(F.col("id") % N_CLUSTERS, F.lit(j)) % 2000) / F.lit(1000.0)
                + (F.hash(F.col("id"), F.lit(j)) % 1000) / F.lit(3000.0)
            ).cast("float")
            for j in range(DIM)
        ]
    else:  # uniform in [-1, 1), no structure; label is pure id arithmetic
        dims = [
            (
                F.pmod(F.hash(F.col("id"), F.lit(j)), F.lit(2_000_001)) / F.lit(1_000_000.0)
                - F.lit(1.0)
            ).cast("float")
            for j in range(DIM)
        ]
    return (
        spark.range(0, N, 1, 64)
        .select(F.col("id").alias("vec_id"), F.array(*dims).alias("embedding"), label)
        .localCheckpoint()  # materialize once; every method scans the same data
    )


def main() -> None:
    from kafka_stream_sorter_spark.operators.similarity import (
        blocked_topk,
        brute_force_topk_vectorized,
        ivf_kmeans_topk,
        lsh_topk,
        lsh_topk_multiprobe,
    )
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-ann-scale")
    query_ids = list(range(0, N, max(1, N // N_Q)))[:N_Q]
    out = {
        "probe": "ann_scale_r8",
        "n_vectors": N,
        "dim": DIM,
        "n_queries": len(query_ids),
        "k": K,
        "shapes": {},
    }

    for shape in SHAPES:
        emb = build_corpus(spark, shape)
        t0 = time.perf_counter()
        exact = brute_force_topk_vectorized(emb, query_ids, k=K)
        exact_rows = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        t_exact = round(time.perf_counter() - t0, 1)
        rec = {
            "exact_bruteforce_blas": {
                "sec": t_exact,
                "vectors_per_sec": int(N / t_exact),
            }
        }
        methods = {
            "ivf_blocked": lambda e: blocked_topk(e, query_ids, k=K),
            "lsh_hyperplane": lambda e: lsh_topk(e, query_ids, k=K),
            "lsh_multiprobe": lambda e: lsh_topk_multiprobe(e, query_ids, k=K),
            "lsh_multiprobe_h2": lambda e: lsh_topk_multiprobe(
                e, query_ids, k=K, hamming=2
            ),
            "ivf_kmeans": lambda e: ivf_kmeans_topk(
                e, query_ids, n_clusters=8, n_iter=2, k=K
            ),
            # the n_probe dial (r6 verdict item 4): p nearest cells probed
            # per query — same single corpus-side equi-join, candidate
            # volume scales with p; p=8 probes every trained cell (recall
            # 1.0 by construction, the cost ceiling of the dial)
            "ivf_kmeans_np2": lambda e: ivf_kmeans_topk(
                e, query_ids, n_clusters=8, n_iter=2, k=K, n_probe=2
            ),
            "ivf_kmeans_np4": lambda e: ivf_kmeans_topk(
                e, query_ids, n_clusters=8, n_iter=2, k=K, n_probe=4
            ),
            # the sampled-training dial (r7 verdict item 4): Lloyd rounds
            # on a deterministic 1/mod hash-sample; only the final
            # assignment touches the full corpus. Recall parity with the
            # full-corpus ivf_kmeans rows above is the acceptance bar.
            "ivf_kmeans_smp64": lambda e: ivf_kmeans_topk(
                e, query_ids, n_clusters=8, n_iter=2, k=K,
                train_sample_mod=64,
            ),
            "ivf_kmeans_smp256_np4": lambda e: ivf_kmeans_topk(
                e, query_ids, n_clusters=8, n_iter=2, k=K, n_probe=4,
                train_sample_mod=256,
            ),
        }
        for name, fn in methods.items():
            t0 = time.perf_counter()
            got = {(r.query_id, r.neighbor_id) for r in fn(emb).collect()}
            sec = round(time.perf_counter() - t0, 1)
            rec[name] = {
                "sec": sec,
                "recall_at_k": round(len(exact_rows & got) / max(1, len(exact_rows)), 4),
            }
        out["shapes"][shape] = rec
        emb.unpersist()

    out["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    out["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
