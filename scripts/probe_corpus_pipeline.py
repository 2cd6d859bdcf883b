#!/usr/bin/env python
"""Training-corpus pipeline throughput at 1M documents.

`pipeline_quality_dedup_split` composes the nightly corpus build
(quality gate → exact dedup → hash split → manifest); the text and
MinHash operators carry per-family design audits in SCALING.md. This
probe measures the composition at 1M docs (2000× the sf0.01 fixture,
200× sf0.1), built by replicating the fixture's real text 2000× with
controlled duplication (every replica keeps its source text → exact-dup
clusters of ~2000; ~15% of docs get a whitespace-normalized variant so
near-dup has work to do):

  stage 1  quality scores (operators/text.quality_scores — pure JVM)
  stage 2  exact dedup (groupBy sha2 digest)
  stage 3  MinHash signatures + LSH bucket pairs (near-dup candidates)
  stage 4  the full quality→dedup→split manifest plan

Reports wall + docs/s per stage, calibration-bracketed.

Usage: python scripts/probe_corpus_pipeline.py [replication]
Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
SF_DIR = "/root/testdata/sf0.01"  # 500 docs -> 1M at REPL=2000


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators import dedup
    from kafka_stream_sorter_spark.operators.text import quality_scores
    from kafka_stream_sorter_spark.session import get_spark
    from kafka_stream_sorter_spark.sources.parquet import load_table

    c_before = calib()
    spark = get_spark(app_name="probe-corpus-pipeline")

    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    n_base = base.count()
    reps = spark.range(0, REPL).select(F.col("id").alias("rep"))
    docs = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            # ~15% of replicas get a near-dup variant (double inner spaces
            # collapsed adds whitespace-level drift without changing words)
            F.when(
                F.col("rep") % 7 == 3,
                F.regexp_replace(F.col("text"), r"\s+", " "),
            )
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
            "n_chars",
        )
        .repartition(64)
        .localCheckpoint()  # materialize the corpus so stages time compute
    )
    n_docs = docs.count()
    results: dict = {"n_docs": n_docs}

    def timed(name: str, df_fn) -> None:
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        results[name] = {"sec": round(dt, 1), "docs_per_sec": int(n_docs / dt)}

    timed("quality_scores", lambda: quality_scores(docs))
    timed(
        "exact_dedup_digest",
        lambda: docs.groupBy(F.sha2(F.col("text"), 256).alias("digest")).agg(
            F.min("doc_id").alias("canonical"), F.count(F.lit(1)).alias("n_copies")
        ),
    )
    timed("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs, threshold=0.9))
    timed(
        "quality_dedup_split_manifest",
        lambda: (
            docs.filter(F.col("n_chars") >= 150)
            .groupBy("text")
            .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"))
            .select(
                "lang",
                F.when(
                    F.pmod(
                        F.pmod(F.col("doc_id") * 1_000_003 + 12_289, F.lit(1_000_000_007)),
                        F.lit(100),
                    )
                    < 80,
                    "train",
                )
                .when(
                    F.pmod(
                        F.pmod(F.col("doc_id") * 1_000_003 + 12_289, F.lit(1_000_000_007)),
                        F.lit(100),
                    )
                    < 90,
                    "val",
                )
                .otherwise("test")
                .alias("split"),
            )
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        ),
    )

    c_after = calib()
    results["calib_matmul_sec"] = {"before": c_before, "after": c_after}
    results["load_avg"] = round(os.getloadavg()[0], 2)
    results["probe"] = "corpus_pipeline_r5"
    print(json.dumps(results))


if __name__ == "__main__":
    main()
