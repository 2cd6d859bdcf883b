#!/usr/bin/env python
"""A/B instrument for dedup_connected_groups' jobs-per-round fix (r8
verdict, next-round item 3).

The CC loop ran TWO Spark jobs per round (eager localCheckpoint job +
convergence-count job); folding the checkpoint into the count
(``localCheckpoint(eager=False)``) halves the job count, which is the
hypothesized source of the query's 4.0-5.1 s window variance at sf0.1
(every job independently resamples the shared VM's noise).

Measures, calibration-bracketed per CLAUDE.md timing rules:
  * total Spark jobs submitted by one dedup_connected_groups run
    (job-group counter — the mechanism, machine-speed-independent);
  * min-of-3 wall for the query, plus dedup_minhash_groups as the
    untouched control (the effect).

Usage: python scripts/probe_cc_jobs.py [sf_dir]   # default sf0.1
Run EXCLUSIVELY; run the WHOLE probe in separate invocations per config
(old vs new code) and compare matched-calib pairs only.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from kafka_stream_sorter_spark.registry import QUERIES
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-cc-jobs")
    sc = spark.sparkContext
    # warm-up per CLAUDE.md: a shuffle + parquet-read query before the
    # first timed op, so cold-JVM spin-up isn't billed to the A side
    QUERIES["sort_numeric"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    results: dict = {}
    for name in ("dedup_connected_groups", "dedup_minhash_groups"):
        runs, jobs = [], []
        for i in range(3):
            group = f"ccprobe_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
            sc.setJobGroup("ccprobe_idle", "idle")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        results[name] = {"runs": runs, "min": min(runs), "jobs_per_run": jobs}
    c_after = calib()
    print(
        json.dumps(
            {
                "probe": "cc_jobs",
                "sf_dir": SF_DIR,
                "calib_matmul_sec": {"before": c_before, "after": c_after},
                "load_avg": round(os.getloadavg()[0], 2),
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
