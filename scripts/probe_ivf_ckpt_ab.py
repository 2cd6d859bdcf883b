#!/usr/bin/env python
"""A/B: ivf_kmeans_topk eager vs lazy localCheckpoint of the training base.

The eager checkpoint ran one full job over the corpus projection (scan +
double cast + interpreted _micros_vec) BEFORE the seed collect; the lazy
form lets the seed collect materialize the blocks — one fewer full pass at
any scale (the CC loop's established fold, operators/dedup.py:_cc_loop).

Design per CLAUDE.md timing rules: warmed session, ALTERNATING repeats
(L E L E ...) through a noop sink, per-repeat walls + medians, calib
bracket. Two scales: the registered sf0.1 fixture shape (2k vectors — job
overhead regime) and a 300k×64 synthetic (scan-cost regime).

Usage: python scripts/probe_ivf_ckpt_ab.py [repeats] [synth_rows]
Run EXCLUSIVELY.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPEATS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
SYNTH_ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.similarity import ivf_kmeans_topk
    from kafka_stream_sorter_spark.session import get_spark
    from kafka_stream_sorter_spark.sources.parquet import load_table

    c0 = calib()
    spark = get_spark(app_name="probe-ivf-ckpt-ab")
    # Warm: a shuffle + a parquet read + one Python-free ivf run end to end
    # (JVM JIT, footers) so neither arm pays first-touch costs.
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()
    fix = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    ivf_kmeans_topk(fix, query_ids=list(range(20)), eager_checkpoint=True).write.format(
        "noop"
    ).mode("overwrite").save()

    # synthetic corpus: 64-d pseudo-random doubles in [0,1), vec_id dense
    synth = spark.range(0, SYNTH_ROWS, 1, 32).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.pmod(F.xxhash64(F.col("id") * 64 + i), F.lit(10_000)) / 10_000.0),
        ).alias("embedding"),
        F.lit("x").alias("label"),
    )

    def run(df, eager: bool) -> float:
        spark.sparkContext.setJobDescription(
            f"ivf {'eager' if eager else 'lazy'} ckpt"
        )
        t0 = time.perf_counter()
        ivf_kmeans_topk(
            df, query_ids=list(range(20)), eager_checkpoint=eager
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out: dict[str, list[float]] = {}
    for scale_name, df in (("sf0.1", fix), ("synth", synth)):
        walls: dict[str, list[float]] = {"lazy": [], "eager": []}
        for _ in range(REPEATS):
            walls["lazy"].append(run(df, False))
            walls["eager"].append(run(df, True))
        out[scale_name] = walls
        med_l = statistics.median(walls["lazy"])
        med_e = statistics.median(walls["eager"])
        print(
            f"{scale_name}: lazy={[round(w,3) for w in walls['lazy']]} "
            f"eager={[round(w,3) for w in walls['eager']]} "
            f"median lazy/eager={med_l/med_e:.3f}"
        )
    c1 = calib()
    print(f"calib bracket {c0} -> {c1}")


if __name__ == "__main__":
    main()
