#!/usr/bin/env python
"""Boundary-sample bias probe: with_global_position on KEY-CLUSTERED input.

Every prior global-position probe (probe_fanout_scale.py) generated
hash-SCATTERED keys, where any subset of input partitions covers the full
key range, so the boundary sample is representative no matter which rows
survive. Real 100 TB tables are usually the opposite — written in key
order (time-partitioned event logs, sorted compactions), so input
partition i holds a contiguous key slice.

The hazard under test: the boundary sample used to be collected as
``where(hash % GP_SAMPLE_MOD == 0).limit(GP_SAMPLE_CAP)``. A bare
``limit`` keeps whichever rows reach the single GlobalLimit reducer
first — i.e. the FIRST-SCHEDULED scan partitions. On clustered input
those are the lowest keys: the collected boundaries then cover only the
leading slice of the key range, every row above it falls into the last
bucket, and the "parallel" final window stage degenerates into one
giant task — the quiet version of the single-partition window this
operator exists to avoid. At 100 TB with ~10⁵ scan partitions and a
100k-row cap the sample would cover <0.1% of the key range: ~all rows
in one bucket.

Correctness is NOT at risk (positions are exact whatever the bounds —
counts + row_number make any bucketing a valid partition of the order),
so fixture tests can never catch this; only bucket balance on clustered
input at a scale where the sample saturates can. 50M rows, mod 256 →
~195k first-level sample vs the 100k cap → truncation engages.

Metrics per config: max_bucket_rows / ideal (n_rows / n_buckets) — the
balance skew factor, = parallelism loss of the window stage — plus
build/wall seconds and position-conservation checks.

Usage: python scripts/probe_gp_clustered.py [n_rows] [--no-verify]
Default 50_000_000. Run EXCLUSIVELY (CLAUDE.md timing rules); walls are
single-invocation — compare skew factors, not seconds, across runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_ROWS = int(ARGS[0]) if ARGS else 50_000_000
VERIFY = "--no-verify" not in sys.argv
SCRATCH = "/tmp/probe_gp_clustered"


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
    spark = get_spark(app_name="probe-gp-clustered")

    # JIT/executor warmup before the first timed op (CLAUDE.md rule)
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        f"{SCRATCH}/warmup"
    )

    # One synthetic event table, materialized TWICE with different physical
    # layouts of the SAME rows: event_ts is a bijective permutation of
    # [0, N) (unique total order, so positions are fully determined and the
    # two layouts must agree row-for-row). event_type adds the 2-key shape:
    # 8-value string leading key + unique tiebreak (the keyed_fanout
    # contract's adversarial case — ties span buckets only via the
    # tiebreak field, and the string exercises the per-field comparison).
    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_ts"),
        F.concat(F.lit("type_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias(
            "event_type"
        ),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).alias("user_id"),
    )

    report: dict = {
        "probe": "gp_clustered_r8",
        "n_rows": N_ROWS,
        "gp_max_buckets": sort_ops.GP_MAX_BUCKETS,
        "gp_sample_cap": sort_ops.GP_SAMPLE_CAP,
        "configs": {},
    }

    for key_label, keys in {
        "unique_key": ["event_ts"],
        "low_card_plus_tiebreak": ["event_type", "event_ts"],
    }.items():
        # clustered: globally sorted by THIS config's sort keys -> scan
        # partition i holds keys strictly below partition i+1 (the
        # time-ordered-log / sorted-compaction layout)
        events.orderBy(*keys).write.mode("overwrite").parquet(
            f"{SCRATCH}/clustered"
        )
        # scattered control: the layout every earlier probe used
        events.write.mode("overwrite").parquet(f"{SCRATCH}/scattered")

        for label in ("clustered", "scattered"):
            src = spark.read.parquet(f"{SCRATCH}/{label}")
            stats: dict = {}
            t0 = time.perf_counter()
            pos_df = sort_ops.with_global_position(src, *keys, stats=stats)
            t_mid = time.perf_counter()
            pos_df.write.mode("overwrite").parquet(f"{SCRATCH}/pos_{label}")
            wall = round(time.perf_counter() - t0, 1)
            ideal = stats["total_rows"] / stats["n_buckets"]
            rec = {
                "keys": keys,
                "wall_sec": wall,
                "position_build_sec": round(t_mid - t0, 1),
                "write_sec": round(time.perf_counter() - t_mid, 1),
                "balance_skew_max_over_ideal": round(
                    stats["max_bucket_rows"] / ideal, 2
                ),
                **stats,
            }
            if VERIFY:
                out = spark.read.parquet(f"{SCRATCH}/pos_{label}")
                agg = out.agg(
                    F.count("*").alias("n"),
                    F.min("global_pos").alias("mn"),
                    F.max("global_pos").alias("mx"),
                    F.sum("global_pos").alias("s"),
                ).collect()[0]
                rec["count_sum_conserved"] = (
                    agg["n"] == N_ROWS
                    and agg["mn"] == 1
                    and agg["mx"] == N_ROWS
                    and agg["s"] == N_ROWS * (N_ROWS + 1) // 2
                )
                if len(keys) == 1:
                    # position == key rank: event_ts is the permutation of
                    # [0, N), so global_pos must equal event_ts+1 — full-
                    # strength exactness with no self-join needed.
                    rec["rank_mismatches"] = out.filter(
                        F.col("global_pos") != F.col("event_ts") + 1
                    ).count()
            report["configs"][f"{key_label}_{label}"] = rec

        if VERIFY:
            # Layout equivalence, row-for-row: positions are a pure
            # function of row values, so the two layouts must assign the
            # SAME position to the same event_ts (unique id). This is the
            # 2-key exactness check (the closed-form rank only exists for
            # the single-key config).
            a = spark.read.parquet(f"{SCRATCH}/pos_clustered").select(
                "event_ts", F.col("global_pos").alias("pa")
            )
            b = spark.read.parquet(f"{SCRATCH}/pos_scattered").select(
                "event_ts", F.col("global_pos").alias("pb")
            )
            report["configs"][f"{key_label}_clustered"][
                "cross_layout_pos_mismatches"
            ] = a.join(b, "event_ts").filter(F.col("pa") != F.col("pb")).count()

    shutil.rmtree(SCRATCH, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
