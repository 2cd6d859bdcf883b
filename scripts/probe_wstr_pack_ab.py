#!/usr/bin/env python
"""Adjudicate the wide-string prefix pack's value (r11 verdict item 4),
with the drift-robust alternating-repeat design probe_float_pack_ab.py
established (CLAUDE.md timing rules: ALTERNATING arms so host phases hit
every arm, noop sink to drop the parquet/disk common term, per-repeat
walls + build/exec split + calib bracket, medians quoted).

Arms (synthetic events frame, same construction family as the float
probe; the name column is 'Customer#00' + 7 zero-padded digits so the
min/max common-prefix strip leaves exactly one 7-byte injective window —
the registered keyed_fanout_name shape at probe scale):

  name_packed    (seg, name, id) — (seg rank + name window) fold into
                 ONE search long, id singleton: 2 search fields; build
                 pays the pack pre-jobs INCLUDING the exact countDistinct
                 injectivity gate over 100M strings (the new pre-job this
                 probe must price)
  name_declined  same keys, _composite_key suppressed (pre-r12 path:
                 3-field struct search on the raw key columns, UTF8
                 compares on seg and name in search AND window sort)
  ts_packed      (seg, ts, id) — POSITIVE CONTROL: r10/r11 measured
                 grouped/declined exec 0.60-0.68; reproducing it
                 validates the method in this window
  ts_declined    same keys, suppressed

Usage: python scripts/probe_wstr_pack_ab.py [n_rows] [repeats] [--arms=a,b]
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
    spark = get_spark(app_name="probe-wstr-pack-ab")
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()

    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_id"),
        F.concat(F.lit("seg_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias("seg"),
        F.concat(
            F.lit("Customer#00"),
            F.lpad(
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10_000_000)).cast(
                    "string"
                ),
                7,
                "0",
            ),
        ).alias("name"),
        F.timestamp_micros(
            F.pmod(F.xxhash64("id", F.lit(13)), F.lit(63_000_000_000_000))
            + F.lit(1_700_000_000_000_000)
        ).alias("ts"),
    )

    arms = {
        "name_packed": (("seg", "name", "event_id"), True, 2),
        "name_declined": (("seg", "name", "event_id"), False, 3),
        "ts_packed": (("seg", "ts", "event_id"), True, 2),
        "ts_declined": (("seg", "ts", "event_id"), False, 3),
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
            if label == "name_packed":
                assert stats.get("wstr_packed_fields") == [1], (label, stats)
            walls[label].append(round(t1 - t0, 1))
            builds[label].append(round(t_mid - t0, 1))
            execs[label].append(round(t1 - t_mid, 1))
        calibs.append(calib())

    def med(xs):
        return round(statistics.median(xs), 1)

    report = {
        "probe": "wstr_pack_ab_noop",
        "n_rows": N_ROWS,
        "repeats": REPEATS,
        "walls": walls,
        "builds": builds,
        "execs": execs,
        "medians": {a: med(walls[a]) for a in arms},
        "exec_medians": {a: med(execs[a]) for a in arms},
        "build_medians": {a: med(builds[a]) for a in arms},
        "calib_matmul_sec": calibs,
        "load_avg": round(os.getloadavg()[0], 2),
    }
    for pair, tag in (
        (("name_packed", "name_declined"), "name"),
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
