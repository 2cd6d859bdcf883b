#!/usr/bin/env python
"""Streaming-stack throughput at reference scale (fills the one missing
quantitative row in SCALING.md §Streaming).

Generates 50M reference-shaped rows (the reference's own workload size)
as a MULTI-FILE parquet table, then drives two Structured Streaming
paths end to end with Trigger.AvailableNow and maxFilesPerTrigger so the
run exercises REAL multi-batch behavior (checkpointing, per-batch
planning, state handoff), not one giant batch:

  1. stateless windowed aggregation: 1-minute tumbling count+sum over
     event-time with a watermark — the canonical streaming rollup;
  2. the engine's sorted drain (streaming/ops.drain_sorted semantics:
     foreachBatch per-batch total order + run-merge contract).

Prints rows/s for each. The reference's whole pipeline moves 50M rows
through Kafka at ~60-70k rows/s produce and ~500-600k rows/s sort
(BASELINE.md); the streaming stack should clear the same bar.

Usage: python scripts/probe_streaming_throughput.py [n_rows] [n_batches]
Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 8


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.session import get_spark
    from kafka_stream_sorter_spark.sources.generator import (
        jit_friendly_codegen,
        reference_records,
    )

    c_before = calib()
    spark = get_spark(app_name="probe-streaming")
    tmp = tempfile.mkdtemp(prefix="probe_stream_")
    src = os.path.join(tmp, "src")
    results: dict = {}
    try:
        t0 = time.perf_counter()
        with jit_friendly_codegen(spark):
            # synthetic event time rides on id so the windowed agg has a
            # real watermark column; N_BATCHES files => N_BATCHES triggers
            reference_records(spark, N).repartition(N_BATCHES).withColumn(
                "ts",
                F.timestamp_micros(
                    F.lit(1_704_067_200_000_000) + F.col("id").cast("long") * 1000
                ),
            ).write.mode("overwrite").parquet(src)
        results["produce_sec"] = round(time.perf_counter() - t0, 1)

        schema = spark.read.parquet(src).schema

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        # 1. watermarked tumbling window rollup, multi-batch
        ck = os.path.join(tmp, "ck1")
        t0 = time.perf_counter()
        q = (
            stream()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 minute"), "continent")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        results["windowed_agg"] = {
            "sec": round(dt, 1),
            "rows_per_sec": int(N / dt),
            "batches": N_BATCHES,
        }

        # 2. sorted drain (the engine's streaming twin of the reference's
        # sorter): per-batch total order into per-batch parquet runs
        out = os.path.join(tmp, "runs")
        ck2 = os.path.join(tmp, "ck2")

        def emit(batch_df, batch_id):
            batch_df.orderBy("id").write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        t0 = time.perf_counter()
        q = (
            stream()
            .writeStream.foreachBatch(emit)
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        n_out = spark.read.parquet(out).count()
        results["sorted_drain"] = {
            "sec": round(dt, 1),
            "rows_per_sec": int(N / dt),
            "rows_out": n_out,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    c_after = calib()
    print(
        json.dumps(
            {
                "probe": "streaming_throughput_r5",
                "n_rows": N,
                "results": results,
                "calib_matmul_sec": {"before": c_before, "after": c_after},
                "load_avg": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
