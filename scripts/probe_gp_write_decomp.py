#!/usr/bin/env python
"""Decompose the 2-key positioned-write gap (SCALING.md round-9).

At 300M/16384 the (event_type, event_id) positioned WRITE ran ~4×
its unique-key twin in the same window even with the string compares
removed from the bucket search (build ratio collapsed 2.8 → 1.27) — so
the remaining cost is NOT the search. This probe splits each config's
pipeline at the sink:

  noop sink     = scan + key packing + bucket search + hash shuffle +
                  window sort + row_number   (no encoding, no disk)
  parquet sink  = the same + parquet encode + disk

and times the plain orderBy through both sinks as controls. Whichever
split the gap follows names the culprit stage.

Usage: python scripts/probe_gp_write_decomp.py [n_rows] [--buckets=N]
Default 300_000_000 / 16384. Run EXCLUSIVELY; single-invocation walls —
compare WITHIN the invocation only (in-window ratios).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_ROWS = int(ARGS[0]) if ARGS else 300_000_000
BUCKETS = next(
    (int(a.split("=", 1)[1]) for a in sys.argv[1:] if a.startswith("--buckets=")),
    16384,
)
SCRATCH = "/tmp/probe_gp_write_decomp"


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators import sort as sort_ops
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    sort_ops.GP_MAX_BUCKETS = BUCKETS
    spark = get_spark(app_name="probe-gp-write-decomp")
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        f"{SCRATCH}/warmup"
    )

    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_id"),
        F.concat(F.lit("type_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias(
            "event_type"
        ),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).alias("user_id"),
    )

    report = {
        "probe": "gp_write_decomp",
        "n_rows": N_ROWS,
        "gp_max_buckets": BUCKETS,
        "configs": {},
    }
    all_configs = {
        "unique_key": ["event_id"],
        "low_card_plus_tiebreak": ["event_type", "event_id"],
        # discriminator (round-9): two LONG fields, no string anywhere in
        # the key — separates "2 key fields" cost (search expression
        # size / codegen shape) from anything string-specific
        "two_long_keys": ["user_id", "event_id"],
    }
    only = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")]
    chosen = {k: v for k, v in all_configs.items() if not only or k in only[0].split(",")}
    for label, keys in chosen.items():
        rec: dict = {"keys": keys}
        stats: dict = {}
        t0 = time.perf_counter()
        pos_df = sort_ops.with_global_position(events, *keys, stats=stats)
        rec["position_build_sec"] = round(time.perf_counter() - t0, 1)

        t0 = time.perf_counter()
        pos_df.write.format("noop").mode("overwrite").save()
        rec["pos_noop_sec"] = round(time.perf_counter() - t0, 1)

        t0 = time.perf_counter()
        pos_df.write.mode("overwrite").parquet(f"{SCRATCH}/pos")
        rec["pos_parquet_sec"] = round(time.perf_counter() - t0, 1)

        plain = events.orderBy(*[F.col(k).asc() for k in keys])
        t0 = time.perf_counter()
        plain.write.format("noop").mode("overwrite").save()
        rec["plain_noop_sec"] = round(time.perf_counter() - t0, 1)

        t0 = time.perf_counter()
        plain.write.mode("overwrite").parquet(f"{SCRATCH}/plain")
        rec["plain_parquet_sec"] = round(time.perf_counter() - t0, 1)

        report["configs"][label] = rec

    import shutil

    shutil.rmtree(SCRATCH, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
