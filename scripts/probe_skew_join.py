#!/usr/bin/env python
"""Skew-join probe: does the engine's AQE posture actually absorb a
heavy-hitter join key at scale?

Skewed AGGREGATIONS are largely a non-problem in Spark: partial (map-
side) aggregation collapses each task's rows to one row per key before
the shuffle, so a 50%-hot key ships ~n_tasks rows, not 50M (and the
engine's `agg_salted_skew` two-stage form covers the partial-less
cases). The shape that genuinely straggles is the skewed SORT-MERGE
JOIN: every row of the hot key lands in ONE reducer's sort, and no
map-side trick removes it. The engine's answer is
`spark.sql.adaptive.skewJoin` (session.py pins it on); this probe
measures that answer — same 100M-row join, hot key owning 50%, with the
skew-join optimizer ON vs OFF, min-of-3 each, matmul-calibrated, and
prints the per-config AQE skew-split evidence.

Broadcast is disabled for the probe (the dim side is deliberately tiny;
at 100 TB the dim that forces a shuffle join is the one that matters).

Usage: python scripts/probe_skew_join.py [n_rows]   # default 100M
Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
N_DIM = 100_000


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

    c_before = calib()
    spark = get_spark(app_name="probe-skew-join")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # fact: 50% of rows on key 0, the rest uniform over N_DIM keys
    fact = spark.range(0, N, 1, 32).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % N_DIM)
        .alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    dim = spark.range(0, N_DIM).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1009).alias("w")
    )

    def run() -> float:
        t0 = time.perf_counter()
        (
            fact.join(dim, "k")
            .select((F.col("v") + F.col("w")).alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.perf_counter() - t0, 1)

    results = {}
    for skew_on in (True, False):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
        runs = [run() for _ in range(3)]
        results["skew_join_on" if skew_on else "skew_join_off"] = {
            "runs": runs,
            "min": min(runs),
        }
    c_after = calib()

    on, off = results["skew_join_on"]["min"], results["skew_join_off"]["min"]
    print(
        json.dumps(
            {
                "probe": "skew_join_r5",
                "n_fact": N,
                "n_dim": N_DIM,
                "hot_key_share": 0.5,
                "results": results,
                "speedup_skew_join": round(off / on, 2),
                "calib_matmul_sec": {"before": c_before, "after": c_after},
                "load_avg": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
