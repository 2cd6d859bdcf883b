#!/usr/bin/env python
"""Planted-pair recall of the near-duplicate stack at corpus scale.

The ANN stack's recall is measured and published (SCALING.md round-6/7
tables: clustered vs uniform, hamming and n_probe dials). The near-dup
DEDUP stack — `minhash_lsh_pairs` (operators/dedup.py) and
`embedding_near_dup_pairs` (operators/similarity.py) — had only its
design argument: banding theory says a Jaccard-s pair survives with
p = 1-(1-s^r)^b (r=LSH_ROWS=4, b=LSH_BANDS=4), hyperplane theory says a
cosine-c pair shares the 6-bit bucket with p = (1-acos(c)/pi)^6. This
probe PLANTS pairs of exactly-known similarity inside a large synthetic
corpus and reports measured recall per similarity level next to the
closed-form expectation, so the published numbers are measurements, not
formulas.

Text side (1M docs, TWO token shapes — see _doc_text): base docs carry
doc-unique tokens (cross-doc Jaccard 0, so recall attribution is
unambiguous); a planted twin shares T-m of its base's T tokens and
replaces m, giving EXACT Jaccard (T-m)/(T+m). One `minhash_lsh_pairs`
run at threshold 0.45 covers every planted level; per-level recall =
found planted pairs / P. The first run of the SEQUENTIAL shape found a
real defect — the linear permutation family lost min-wise independence
on arithmetic-run hash sets (recall 0.81 at J=0.9 vs theory 0.986) —
fixed by the h³ premix in functions/text_hash.py; both shapes are now
theory-exact (SCALING.md round-7).

Embedding side also sweeps the `n_bands` blocking dial (1/2/3
independent 6-bit plane sets): recall 0.92 / 0.9935 / 1.00 at cosine
0.999 for ~1/2/3× the candidate volume.

Flags: --skip-text runs only the embedding sweep.

Embedding side (~110k vectors, 64-d): base vectors are randn Gaussians
(frozen to parquet — randn re-evaluation inside the self-join plan must
not resample); a twin at cosine c is c*v_hat + sqrt(1-c^2)*u_hat with u
Gram-Schmidt-orthogonalized against v, all in column ops. Corpus size is
deliberately 110k, not 1M: the operator is within-bucket quadratic over
2^6 buckets by design (docstring: at real scale LSH_BITS grows to keep
blocks executor-sized), so 1M vectors at 6 bits would be a 7.8e9-pair
self-join — the probe reports the candidate-pair count so that boundary
stays visible. Planted recall is pair-intrinsic (bucket-match
probability does not depend on corpus size).

Usage: python scripts/probe_dedup_recall.py [n_docs] [n_vecs]
Defaults: 1_000_000 docs, 100_000 vectors. Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_DOCS = int(ARGS[0]) if ARGS else 1_000_000
N_VECS = int(ARGS[1]) if len(ARGS) > 1 else 100_000
P_PAIRS = 4000  # planted pairs per similarity level
SCRATCH = "/tmp/probe_dedup_recall"

# (T tokens per doc, m replaced in twin) -> exact Jaccard (T-m)/(T+m)
JACCARD_LEVELS = [(195, 5), (95, 5), (90, 10), (85, 15), (75, 25)]
COSINE_LEVELS = [0.999, 0.99, 0.95, 0.90]


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def _doc_text(id_col, n_tokens, mode, shared_with=None, n_replaced=0):
    """concat_ws of n_tokens doc-unique tokens; a twin keeps the first
    n_tokens - n_replaced tokens of `shared_with` and appends n_replaced
    fresh ones. Two token shapes:

      sequential — 'w{id}_{i}' with i counting up: the hashes of a doc's
        tokens form arithmetic runs (the rolling char hash of consecutive
        decimal suffixes steps by 1), an ADVERSARIAL set shape for the
        linear MinHash permutation family (a*h+b keeps runs as runs, so
        per-hash agreement is far from min-wise-independent J — measured
        offline: 0.70 mean agreement at J=0.9).
      uniform — 't{xxhash64(id, i) mod 1e15}': well-mixed token strings,
        the realistic-corpus model (real words hash to unstructured
        values). Matches banding theory.
    """
    from pyspark.sql import functions as F

    base_id = shared_with if shared_with is not None else id_col
    keep = n_tokens - n_replaced

    def tok(prefix, owner, salt):
        if mode == "sequential":
            return lambda i: F.concat(
                F.lit(prefix), owner.cast("string"), F.lit("_"), i.cast("string")
            )
        return lambda i: F.concat(
            F.lit(prefix),
            F.pmod(F.xxhash64(owner, i, F.lit(salt)), F.lit(10**15)).cast("string"),
        )

    parts = F.transform(F.sequence(F.lit(0), F.lit(keep - 1)), tok("w", base_id, 0))
    if n_replaced:
        extra = F.transform(
            F.sequence(F.lit(0), F.lit(n_replaced - 1)), tok("x", id_col, 1)
        )
        parts = F.concat(parts, extra)
    return F.array_join(parts, " ")


def probe_minhash(spark, report, mode):
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.dedup import minhash_lsh_pairs

    n_planted = len(JACCARD_LEVELS) * P_PAIRS
    frames = []
    # planted base docs + twins, one id stripe per level
    for lvl, (t, m) in enumerate(JACCARD_LEVELS):
        ids = spark.range(lvl * P_PAIRS, (lvl + 1) * P_PAIRS, 1, 4)
        frames.append(
            ids.select(
                F.col("id").alias("doc_id"),
                _doc_text(F.col("id"), t, mode).alias("text"),
            )
        )
        frames.append(
            ids.select(
                (F.col("id") + N_DOCS).alias("doc_id"),
                _doc_text(
                    F.col("id") + N_DOCS, t, mode,
                    shared_with=F.col("id"), n_replaced=m,
                ).alias("text"),
            )
        )
    # background corpus
    frames.append(
        spark.range(n_planted, N_DOCS, 1, 64).select(
            F.col("id").alias("doc_id"), _doc_text(F.col("id"), 100, mode).alias("text")
        )
    )
    docs = frames[0]
    for f in frames[1:]:
        docs = docs.unionByName(f)
    # documents-table schema expected by _word_sets
    docs = docs.withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text").cast("long")
    )

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, threshold=0.45)
    pairs.write.mode("overwrite").parquet(f"{SCRATCH}/mh_pairs")
    wall = round(time.perf_counter() - t0, 1)

    got = spark.read.parquet(f"{SCRATCH}/mh_pairs")
    n_out = got.count()
    levels = {}
    for lvl, (t, m) in enumerate(JACCARD_LEVELS):
        j = (t - m) / (t + m)
        found = got.filter(
            (F.col("doc_a") >= lvl * P_PAIRS)
            & (F.col("doc_a") < (lvl + 1) * P_PAIRS)
            & (F.col("doc_b") == F.col("doc_a") + N_DOCS)
        ).count()
        levels[f"j_{j:.3f}"] = {
            "planted": P_PAIRS,
            "found": found,
            "recall": round(found / P_PAIRS, 4),
            "theory": round(1 - (1 - j**4) ** 4, 4),
        }
    report["configs"][f"minhash_lsh_pairs_{mode}"] = {
        "n_docs": N_DOCS,
        "token_shape": mode,
        "wall_sec": wall,
        "n_output_pairs": n_out,
        "false_pairs": n_out - sum(v["found"] for v in levels.values()),
        "levels": levels,
    }


def _dot(a, b):
    from pyspark.sql import functions as F

    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def probe_embedding(spark, report, n_bands=1):
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.similarity import (
        EMB_DIM,
        embedding_near_dup_pairs,
    )

    def randn_vec(seed):
        return F.array(*[F.randn(seed + d) for d in range(EMB_DIM)])

    n_planted = len(COSINE_LEVELS) * P_PAIRS // 2  # 2000 per level
    per = P_PAIRS // 2
    base = spark.range(0, N_VECS, 1, 32).select(
        F.col("id").alias("vec_id"), randn_vec(11).alias("v"), randn_vec(77).alias("u")
    )
    # Gram-Schmidt: u_perp = u - (u.v / v.v) v; unit vectors of both
    uv, vv = _dot(F.col("u"), F.col("v")), _dot(F.col("v"), F.col("v"))
    u_perp = F.zip_with(F.col("u"), F.col("v"), lambda x, y: x - (uv / vv) * y)
    base = base.withColumn("u_perp", u_perp)
    vn = F.sqrt(_dot(F.col("v"), F.col("v")))
    un = F.sqrt(_dot(F.col("u_perp"), F.col("u_perp")))

    frames = [base.select("vec_id", F.col("v").alias("embedding"))]
    for lvl, c in enumerate(COSINE_LEVELS):
        s = math.sqrt(1 - c * c)
        twin = (
            base.filter(
                (F.col("vec_id") >= lvl * per) & (F.col("vec_id") < (lvl + 1) * per)
            )
            .select(
                (F.col("vec_id") + N_VECS).alias("vec_id"),
                F.zip_with(
                    F.col("v"), F.col("u_perp"),
                    lambda x, y: F.lit(c) * x / vn + F.lit(s) * y / un,
                ).alias("embedding"),
            )
        )
        frames.append(twin)
    allv = frames[0]
    for f in frames[1:]:
        allv = allv.unionByName(f)
    # freeze randn: the near-dup self-join would otherwise re-evaluate the
    # generator independently per side
    allv.write.mode("overwrite").parquet(f"{SCRATCH}/vecs")
    vecs = spark.read.parquet(f"{SCRATCH}/vecs")

    t0 = time.perf_counter()
    pairs = embedding_near_dup_pairs(vecs, threshold=0.89, n_bands=n_bands)
    pairs.write.mode("overwrite").parquet(f"{SCRATCH}/emb_pairs")
    wall = round(time.perf_counter() - t0, 1)

    got = spark.read.parquet(f"{SCRATCH}/emb_pairs")
    n_out = got.count()
    # candidate volume the blocking admits (the quadratic-per-bucket term)
    from kafka_stream_sorter_spark.operators.similarity import hyperplane_bucket

    cand = 0
    for band in range(n_bands):
        cand += (
            vecs.select(hyperplane_bucket(F.col("embedding"), band=band).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
            .collect()[0]["pairs"]
        )
    levels = {}
    for lvl, c in enumerate(COSINE_LEVELS):
        found = got.filter(
            (F.col("vec_a") >= lvl * per)
            & (F.col("vec_a") < (lvl + 1) * per)
            & (F.col("vec_b") == F.col("vec_a") + N_VECS)
        ).count()
        p1 = (1 - math.acos(c) / math.pi) ** 6
        theory = 1 - (1 - p1) ** n_bands
        levels[f"cos_{c}"] = {
            "planted": per,
            "found": found,
            "recall": round(found / per, 4),
            "theory": round(theory, 4),
        }
    report["configs"][f"embedding_near_dup_pairs_b{n_bands}"] = {
        "n_vecs": N_VECS + n_planted,
        "n_bands": n_bands,
        "wall_sec": wall,
        "n_output_pairs": n_out,
        "false_pairs": n_out - sum(v["found"] for v in levels.values()),
        "candidate_pairs_admitted": int(cand),
        "levels": levels,
    }


def main() -> None:
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-dedup-recall")
    # JIT/executor warmup (CLAUDE.md rule): recall numbers are timing-
    # independent, but without this the FIRST probe's wall_sec absorbs
    # cold-JVM spin-up the later shapes never pay, skewing any per-shape
    # wall comparison.
    from pyspark.sql import functions as F

    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        f"{SCRATCH}/warmup"
    )
    report: dict = {"probe": "dedup_recall_r7", "configs": {}}
    if "--skip-text" not in sys.argv:
        probe_minhash(spark, report, "uniform")
        probe_minhash(spark, report, "sequential")
    for nb in (1, 2, 3):
        probe_embedding(spark, report, n_bands=nb)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
