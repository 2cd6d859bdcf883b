#!/usr/bin/env python
"""r16 config A/Bs (guide §3.1 / §2.3 / §9), alternating repeats + noop.

Arms (runtime SQL confs toggled per repeat in ONE session):
  shj:  spark.sql.join.preferSortMergeJoin false vs true (default) on a
        20M ⋈ 2M equi-join too big to broadcast — does the planner's
        shuffled-hash join beat sort-merge on this box?
  zstd: spark.io.compression.codec is STATIC (core conf, not SQL), so it
        cannot be A/B'd in one session — probed by running this script
        twice via SPARK_GRAFT_PROBE_CODEC and comparing in-window arms
        against the shj control.

Usage: python scripts/probe_conf_ab_r16.py [repeats] [rows]
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
ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000


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

    codec = os.environ.get("SPARK_GRAFT_PROBE_CODEC")
    extra = {"spark.io.compression.codec": codec} if codec else None
    c0 = calib()
    spark = get_spark(app_name="probe-conf-ab", extra_conf=extra)
    spark.range(0, 2_000_000, 1, 32).groupBy((F.col("id") % 100).alias("g")).agg(
        F.sum("id")
    ).write.format("noop").mode("overwrite").save()

    big = spark.range(0, ROWS, 1, 64).select(
        F.pmod(F.xxhash64("id"), F.lit(ROWS // 10)).alias("k"),
        (F.col("id") * 31).alias("v1"),
        F.concat(F.lit("payload-"), F.col("id")).alias("v2"),
    )
    small = spark.range(0, ROWS // 10, 1, 32).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("w")
    )

    def join_arm(prefer_smj: bool) -> float:
        spark.conf.set("spark.sql.join.preferSortMergeJoin", str(prefer_smj).lower())
        spark.sparkContext.setJobDescription(f"join prefer_smj={prefer_smj}")
        t0 = time.perf_counter()
        big.join(small, "k").select("k", "v1", "v2", "w").write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    def shuffle_arm() -> float:
        # codec control: one big hash shuffle of wide-ish rows + agg
        spark.sparkContext.setJobDescription(f"shuffle codec={codec or 'default'}")
        t0 = time.perf_counter()
        big.repartition(64, "k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.max("v2").alias("m")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    walls = {"smj": [], "shj": [], "shuffle": []}
    for _ in range(REPEATS):
        walls["shj"].append(join_arm(False))
        walls["smj"].append(join_arm(True))
        walls["shuffle"].append(shuffle_arm())
    spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    c1 = calib()
    for k, v in walls.items():
        print(f"{k}: {[round(x,3) for x in v]} median {statistics.median(v):.3f}")
    print(
        f"shj/smj median ratio {statistics.median(walls['shj'])/statistics.median(walls['smj']):.3f}"
        f"  codec={codec or 'default(lz4)'}  calib {c0} -> {c1}"
    )


if __name__ == "__main__":
    main()
