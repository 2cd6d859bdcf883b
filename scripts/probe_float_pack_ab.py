#!/usr/bin/env python
"""Adjudicate the float rank-pack's execution-phase value under VM drift.

Two end-to-end 150M invocations of probe_gp_fallback.py's float pair
CONTRADICTED each other (packed/declined wall 0.76, then 1.31) because
the host drifted 3-7x WITHIN each invocation (calib brackets 0.284→0.101
and 0.216→0.694) — per-config windows of ~8 min are too long for
in-window ratios on this VM. This probe replaces them with the
drift-robust design CLAUDE.md's timing rules point at:

  * ALTERNATING repeats — arms interleave A B C D A B C D ... so slow
    host phases hit every arm, not one;
  * noop sink — drops parquet encode + disk (the ~250-300 s common term
    that masked any search-phase difference at 150M) while still
    executing scan, pre-jobs, bucket search, hash shuffle, window sort,
    and row_number;
  * per-repeat walls + build/exec split + calib bracket, medians quoted.

Arms (same synthetic events frame as probe_gp_fallback.py):

  float_packed   (type, score, id) — packed (type+score fold, 2 search
                 fields); per-row cost includes double_order_long
  float_declined same keys, _composite_key suppressed (pre-r11 path:
                 3-field struct search on the raw key columns)
  ts_packed      (type, ts, id) — the r10 grouped shape (2 search
                 fields, integer arithmetic only): POSITIVE CONTROL —
                 r10 measured grouped/declined 0.68 reproduced within
                 4%, so this arm validates the method
  ts_declined    same keys, suppressed

Usage: python scripts/probe_float_pack_ab.py [n_rows] [repeats] [--arms=a,b]
Default 100M × 3, all four arms. Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_ROWS = int(ARGS[0]) if len(ARGS) > 0 else 100_000_000
REPEATS = int(ARGS[1]) if len(ARGS) > 1 else 3
ONLY_ARMS = next(
    (a.split("=", 1)[1].split(",") for a in sys.argv[1:] if a.startswith("--arms=")),
    None,
)


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

    c_start = calib()
    spark = get_spark(app_name="probe-float-pack-ab")
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()

    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_id"),
        F.concat(F.lit("type_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias(
            "event_type"
        ),
        F.timestamp_micros(
            F.pmod(F.xxhash64("id", F.lit(13)), F.lit(63_000_000_000_000))
            + F.lit(1_700_000_000_000_000)
        ).alias("ts"),
        (
            F.lit(256.0)
            + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).cast("double")
            / F.lit(2097152.0)
        ).alias("score"),
    )

    arms = {
        "float_packed": (("event_type", "score", "event_id"), True, 2),
        "float_declined": (("event_type", "score", "event_id"), False, 3),
        "ts_packed": (("event_type", "ts", "event_id"), True, 2),
        "ts_declined": (("event_type", "ts", "event_id"), False, 3),
    }
    if ONLY_ARMS:
        arms = {a: arms[a] for a in ONLY_ARMS}
    walls: dict[str, list] = {a: [] for a in arms}
    builds: dict[str, list] = {a: [] for a in arms}
    execs: dict[str, list] = {a: [] for a in arms}
    calibs = [c_start]

    orig_ck = sort_ops._composite_key
    for r in range(REPEATS):
        for label, (keys, packed, want_fields) in arms.items():
            if not packed:
                sort_ops._composite_key = lambda *a, **kw: None
            stats: dict = {}
            try:
                t0 = time.perf_counter()
                pos_df = sort_ops.with_global_position(events, *keys, stats=stats)
                t_mid = time.perf_counter()
                pos_df.write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
            finally:
                sort_ops._composite_key = orig_ck
            assert stats["composite_key"] is packed, (label, stats)
            assert stats["search_fields"] == want_fields, (label, stats)
            walls[label].append(round(t1 - t0, 1))
            builds[label].append(round(t_mid - t0, 1))
            execs[label].append(round(t1 - t_mid, 1))
        calibs.append(calib())

    def med(xs):
        return round(statistics.median(xs), 1)

    report = {
        "probe": "float_pack_ab_noop",
        "n_rows": N_ROWS,
        "repeats": REPEATS,
        "walls": walls,
        "builds": builds,
        "execs": execs,
        "medians": {a: med(walls[a]) for a in arms},
        "exec_medians": {a: med(execs[a]) for a in arms},
        "calib_matmul_sec": calibs,
        "load_avg": round(os.getloadavg()[0], 2),
    }
    for pair, tag in (
        (("float_packed", "float_declined"), "float"),
        (("ts_packed", "ts_declined"), "ts"),
    ):
        if pair[0] in arms and pair[1] in arms:
            report[f"ratio_{tag}_packed_over_declined"] = round(
                med(walls[pair[0]]) / med(walls[pair[1]]), 3
            )
            report[f"exec_ratio_{tag}"] = round(
                med(execs[pair[0]]) / med(execs[pair[1]]), 3
            )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
