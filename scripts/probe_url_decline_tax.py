#!/usr/bin/env python
"""Price the job-A tax a DECLINING wide-string candidate still pays
(r12 ADVICE item 3: '... worth a probe record if wide-string keys
become common in declined shapes'). Stats now attribute the decline
(operators/sort.py `wstr_declined`); this records what it costs.

Arms (the registered keyed_fanout_url shape at probe scale — a
low-card segment, a URL whose sample collision always declines, a wide
id; alternating repeats, noop sink, calib bracket per CLAUDE.md):

  url_candidate   normal path: _composite_key runs its fused stats job
                  (segment domain, plus min/max + octet_length + NUL
                  aggregates over 100M URL strings), the free
                  driver-side sample-collision scan, then declines —
                  the struct fallback executes
  url_suppressed  _composite_key suppressed outright: no stats job at
                  all; the same struct fallback executes

Exec phases are identical by construction (both run the declined
struct search), so the BUILD delta is the decline tax: the stats job
over the string column.

Usage: python scripts/probe_url_decline_tax.py [n_rows] [repeats]
Default 100M x 3. Run EXCLUSIVELY.
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
    spark = get_spark(app_name="probe-url-decline-tax")
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()

    events = spark.range(0, N_ROWS, 1, 64).select(
        (
            F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS))
            * F.lit(2654435761)
        ).alias("wide_id"),
        F.concat(F.lit("seg_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias("seg"),
        F.concat(
            F.lit("https://cdn.example.com/g"),
            F.pmod(F.xxhash64("id", F.lit(5)), F.lit(4)).cast("string"),
            F.lit("/assets/img-"),
            F.col("id").cast("string"),
            F.lit(".png"),
        ).alias("url"),
    )
    keys = ("seg", "url", "wide_id")

    arms = ("url_candidate", "url_suppressed")
    walls: dict[str, list] = {a: [] for a in arms}
    builds: dict[str, list] = {a: [] for a in arms}
    execs: dict[str, list] = {a: [] for a in arms}
    calibs = [c_start]

    orig_ck = sort_ops._composite_key
    for _ in range(REPEATS):
        for label in arms:
            if label == "url_suppressed":
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
            assert stats["composite_key"] is False, (label, stats)
            assert stats["search_fields"] == 3, (label, stats)
            if label == "url_candidate":
                # the decline must fire at the free gate, or the arm is
                # not measuring what it claims
                assert stats.get("wstr_declined") == {1: "sample_collision"}, (
                    label,
                    stats,
                )
            else:
                assert "wstr_declined" not in stats, (label, stats)
            walls[label].append(round(t1 - t0, 1))
            builds[label].append(round(t_mid - t0, 1))
            execs[label].append(round(t1 - t_mid, 1))
        calibs.append(calib())

    def med(xs):
        return round(statistics.median(xs), 1)

    report = {
        "probe": "url_decline_tax_noop",
        "n_rows": N_ROWS,
        "repeats": REPEATS,
        "walls": walls,
        "builds": builds,
        "execs": execs,
        "medians": {a: med(walls[a]) for a in arms},
        "build_medians": {a: med(builds[a]) for a in arms},
        "exec_medians": {a: med(execs[a]) for a in arms},
        "decline_tax_build_sec": round(
            med(builds["url_candidate"]) - med(builds["url_suppressed"]), 1
        ),
        "calib_matmul_sec": calibs,
        "load_avg": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
