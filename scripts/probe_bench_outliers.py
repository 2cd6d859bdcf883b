#!/usr/bin/env python
"""Adjudicate the r4 bench outliers (r4 verdict, next-round item 4).

Seven queries showed 3-5.5x apparent r3->r4 slowdowns on SINGLE-SHOT
timings; per CLAUDE.md's timing rules that is within this VM's noise
band unless it survives a matmul-calibration bracket + min-of-3. This
probe measures each suspect with that methodology at sf0.1 (the bench
scale) and prints a JSON verdict per query against its r3 number.

Usage:
    python scripts/probe_bench_outliers.py [query ...]   # default: all 7

Comparability note: the r3 baselines are single-shot but NOT cold —
bench.py warms the JVM and runs all 119 queries in sequence over the
same ten tables, so by the time any suspect ran in r3 its inputs were
page-cached and codegen warm. Min-of-3 here is therefore warm-vs-warm,
the fair comparison; the residual bias (an in-process repeat can reuse
slightly more state than a fresh bench iteration) is why the verdict
threshold is a full 2x, not a few percent. CLAUDE.md's
separate-invocations rule is honored by running the WHOLE probe twice
and requiring both invocations to agree.

Run EXCLUSIVELY (no concurrent Spark session / pytest).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SUSPECTS: dict[str, float] = {  # r3 single-shot seconds (BENCH_r03 tail)
    "topk": 0.157,
    "text_tokens": 0.266,
    "tpch_q10_returns": 0.880,
    "tpch_q12_late_priority": 0.665,
    "text_token_freq": 0.536,
    "tpch_q11_value_parts": 0.530,
    "tpch_q13_custdist": 0.559,
}
SF_DIR = "/root/testdata/sf0.1"


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    names = sys.argv[1:] or list(SUSPECTS)
    from kafka_stream_sorter_spark.registry import QUERIES
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-outliers")
    # same warm-up as bench.py so first-touch JVM/footer cost is excluded
    QUERIES["sort_numeric"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    results = {}
    for name in names:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        best = min(runs)
        r3 = SUSPECTS.get(name)
        results[name] = {
            "runs": runs,
            "min": best,
            "r3_single_shot": r3,
            "ratio_vs_r3": round(best / r3, 2) if r3 else None,
            "verdict": (
                "REGRESSION (>=2x survives min-of-3)"
                if r3 and best / r3 >= 2.0
                else "noise / within band"
            ),
        }
    c_after = calib()
    print(
        json.dumps(
            {
                "probe": "bench_outliers_r5",
                "sf_dir": SF_DIR,
                "calib_matmul_sec": {"before": c_before, "after": c_after},
                "load_avg": round(os.getloadavg()[0], 2),
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
