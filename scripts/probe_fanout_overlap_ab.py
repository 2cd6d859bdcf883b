#!/usr/bin/env python
"""A/B: keyed_fanout's three independent position builds — sequential vs
overlapped from a driver thread pool (guide §2.6: actions are only
sequential because driver code calls them sequentially; concurrent jobs
back-fill executors freed by each job's tail).

Each with_global_position build blocks the driver on two tiny keys-only
jobs (boundary-sample collect + exact bucket counts). Three specs run
6 driver-blocking jobs back to back; a 3-thread pool runs them as ~2
waves. Results are identical — the builds are pure functions of the
table; only job scheduling changes.

Alternating repeats (T S T S ...), noop sink, calib bracket, medians.
Usage: python scripts/probe_fanout_overlap_ab.py [repeats] [sf_dir]
Run EXCLUSIVELY.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPEATS = int(sys.argv[1]) if len(sys.argv) > 1 else 5
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

SPECS = {
    "by_id": ["event_id"],
    "by_type": ["event_type", "event_id"],
    "by_user": ["user_id", "event_id"],
}


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
    from kafka_stream_sorter_spark.sources.parquet import load_table

    c0 = calib()
    spark = get_spark(app_name="probe-fanout-overlap")
    spark.range(0, 2_000_000, 1, 32).groupBy((F.col("id") % 100).alias("g")).agg(
        F.sum("id")
    ).write.format("noop").mode("overwrite").save()

    events = load_table(spark, SF, "events").select(
        "event_id", "event_type", "user_id"
    )

    def one(item):
        name, keys = item
        pos = sort_ops.with_global_position(events, *keys)
        return pos.select(
            F.lit(name).alias("sort_name"),
            F.col("event_id"),
            F.col("global_pos").alias("pos"),
        )

    def run(threaded: bool) -> float:
        spark.sparkContext.setJobDescription(
            f"fanout {'threaded' if threaded else 'sequential'}"
        )
        t0 = time.perf_counter()
        if threaded:
            with ThreadPoolExecutor(max_workers=len(SPECS)) as pool:
                outs = list(pool.map(one, SPECS.items()))
        else:
            outs = [one(it) for it in SPECS.items()]
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    walls = {"threaded": [], "sequential": []}
    for _ in range(REPEATS):
        walls["threaded"].append(run(True))
        walls["sequential"].append(run(False))
    c1 = calib()
    for k, v in walls.items():
        print(f"{k}: {[round(x,3) for x in v]} median {statistics.median(v):.3f}")
    print(
        f"threaded/sequential median ratio "
        f"{statistics.median(walls['threaded'])/statistics.median(walls['sequential']):.3f}"
        f"  calib {c0} -> {c1}"
    )


if __name__ == "__main__":
    main()
