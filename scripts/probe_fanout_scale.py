#!/usr/bin/env python
"""Global-position probe at real row scale (r6: the rewrite's missing probe).

`with_global_position` was rewritten this round from a persist-pinned
partition-id scheme to deterministic value-hash boundary buckets
(operators/sort.py:178 — r5 verdict nit #1). Fixture tests pin
correctness and the zero-residual-storage contract at 10k rows; this
probe measures the rewrite where the design actually matters — tens of
millions of rows, where the old scheme's full-sort `.persist()` was the
scale bug — verifying:

  1. positions are a correct total order, checked DISTRIBUTED: count
     conservation (count = n, min = 1, max = n, exact sum = n(n+1)/2)
     plus the full adjacency check — self-join pos -> pos+1 and assert
     key(p) <= key(p+1) for every consecutive pair (the same contract
     validate.py enforces for the CLI sorts, here without a window);
  2. bucket fan-out hits the cap and the window stage stays parallel
     (populated_buckets ~ n_buckets = 1024 at this scale, so no task
     sees more than ~rows/buckets rows);
  3. ZERO residual cached storage after materialization (the rewrite's
     whole point — the r5 scheme could not release its persist);
  4. overhead vs a plain global `orderBy` of the same keys to the same
     sink (the position column's price: sample job + count job +
     bucketed window vs one range-exchange sort). Two baseline traps
     found and fixed in r7: (a) `spark.range`'s id is already globally
     sorted and Spark KNOWS it, so `orderBy(event_id)` on the raw id was
     legitimately optimizer-eliminated — the r6 "baseline" was a bare
     scan (measured: 0.4 s vs 4.2 s for the same sort on an unsorted
     column). event_id is therefore a bijective permutation
     (id·2654435761 mod N, gcd=1) — unique AND unsorted, so the
     baseline sort actually executes. (b) the sink is parquet so the
     verification pass reads back what was PERSISTED; both sides pay
     the same write cost;
  5. wall time, calibration-bracketed per CLAUDE.md timing rules;
     min-of-3 across separate invocations is the comparable number. A
     small warmup job (shuffle + parquet write) runs before the first
     timed op — without it the unique_key config absorbed cold-JVM
     spin-up that the later baseline never paid, overstating the
     operator's overhead ratio (the join probe measured that bias at
     2.5-4x on its first op).

Two key shapes per the keyed_fanout contract: unique key (event_id) and
low-cardinality leading key + unique tie-break (event_type, event_id) —
the latter is adversarial for boundary sampling (ties span buckets only
via the tie-break field).

Usage: python scripts/probe_fanout_scale.py [n_rows] [--no-verify]
         [--buckets=N]
Default: 50_000_000. Run EXCLUSIVELY; pass --no-verify on the repeat
invocations so re-timing does not pay the one-shot adjacency checker.
--buckets=N overrides GP_MAX_BUCKETS for the run (r7 verdict item 3:
find the next ceiling past 1024 now that the lookup is O(log n)).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_ROWS = int(ARGS[0]) if ARGS else 50_000_000
VERIFY = "--no-verify" not in sys.argv
BUCKETS = next(
    (int(a.split("=", 1)[1]) for a in sys.argv[1:] if a.startswith("--buckets=")),
    None,
)


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def residual_cached_rdds(spark) -> int:
    # same pattern as tests/test_sorts.py: persistent-RDD registry, which
    # also catches registered-but-not-yet-materialized persists
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return len({int(str(k)) for k in jmap.keySet().toArray()})


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators import sort as sort_ops
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    if BUCKETS is not None:
        sort_ops.GP_MAX_BUCKETS = BUCKETS
    spark = get_spark(app_name="probe-fanout-scale")

    # JIT/executor warmup before the first timed op (CLAUDE.md rule): a
    # small shuffle + parquet write touches codegen, exchange, sort and
    # the parquet sink once so cold-JVM spin-up is not billed to the
    # unique_key position pass while the baseline sort runs warm.
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        "/tmp/probe_fanout_scratch/warmup"
    )

    # Deterministic synthetic events: unique but UNSORTED id (bijective
    # permutation — see docstring trap (a)), 8-value type column,
    # pseudo-random user (pure column functions — reproducible under
    # recomputation, which the cache-free design *requires*).
    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_id"),
        F.concat(F.lit("type_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias(
            "event_type"
        ),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).alias("user_id"),
    )

    report: dict = {
        "probe": "fanout_scale_r8" if BUCKETS else "fanout_scale_r7",
        "n_rows": N_ROWS,
        "verify": VERIFY,
        "gp_max_buckets": sort_ops.GP_MAX_BUCKETS,
        "configs": {},
    }
    scratch = "/tmp/probe_fanout_scratch"

    for label, keys in {
        "unique_key": ["event_id"],
        "low_card_plus_tiebreak": ["event_type", "event_id"],
    }.items():
        stats: dict = {}
        t0 = time.perf_counter()
        pos_df = sort_ops.with_global_position(events, *keys, stats=stats)
        t_mid = time.perf_counter()
        pos_df.write.mode("overwrite").parquet(f"{scratch}/pos")
        wall = round(time.perf_counter() - t0, 1)
        residual = residual_cached_rdds(spark)

        rec = {"keys": keys, "wall_sec": wall,
               # sample job + count job + driver-side expression build
               # (the literal arrays grow with the bucket cap; this is
               # where a too-high cap would first hurt)
               "position_build_sec": round(t_mid - t0, 1),
               "write_sec": round(time.perf_counter() - t_mid, 1),
               "residual_cached_rdds": residual, **stats}

        if VERIFY:
            # --- correctness, all distributed (verify I/O not billed) ---
            # verify the PERSISTED output, not a recomputation of the frame
            pos_df = spark.read.parquet(f"{scratch}/pos")
            agg = pos_df.agg(
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
            kt = F.struct(*[F.col(k) for k in keys])
            cur = pos_df.select(
                F.col("global_pos").alias("p"), kt.alias("kt_a")
            )
            nxt = pos_df.select(
                (F.col("global_pos") - 1).alias("p"), kt.alias("kt_b")
            )
            rec["adjacency_violations"] = (
                cur.join(nxt, "p").filter(F.col("kt_a") > F.col("kt_b")).count()
            )
            rec["verify_wall_sec"] = round(time.perf_counter() - t0 - wall, 1)

        # --- plain global sort of the same keys, same sink: the baseline ---
        t1 = time.perf_counter()
        events.orderBy(*[F.col(k).asc() for k in keys]).write.mode(
            "overwrite"
        ).parquet(f"{scratch}/plain")
        rec["plain_orderby_wall_sec"] = round(time.perf_counter() - t1, 1)

        report["configs"][label] = rec

    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
