#!/usr/bin/env python
"""Characterize the ≥2-field position machinery: the generic rank-pack
(r10) vs the true declined-shape fallback (r9 verdict stretch #6 /
What's-missing #3).

History: the r9 composites collapsed exactly two shapes — (low-card
string, integral) and (integral, integral) — into one order-isomorphic
long. The first r10 run of this probe measured the best-case THREE-field
shape (event_type, user_id, event_id) on the then-declined path at
**9.95× its plain-sort control** at 150M (wall 328.4 s vs 33.0 s, write
272.2 s, calib 0.273/0.119) — right at the pre-written rework threshold
("≫9× motivates a generic rank-pack"). That number motivated
`_composite_key` (operators/sort.py): ANY mix of integral and ≤64-value
string fields now folds into one long when the code widths fit 63 bits,
nulls included. The 3-field shape packs (3 + 20 + 28 bits ≈ 51 ≤ 63).

The probe now measures BOTH regimes in one invocation:

  * `packed`: (event_type, user_id, event_id) — post-r10 this takes the
    generic composite; the ratio vs its plain control should sit in the
    composite regime (~1.5-2.5× at probe scales), not the 9.95× the
    declined path paid.
  * `grouped`: (event_type, ts, event_id) — the canonical training-data
    fanout key. (type 4b + ts 46b) packs at 50 bits; adding the unique
    event_id (28b) overflows 63, so the r10 partial grouping packs the
    adjacent (type, ts) run and leaves event_id raw: 2 search fields
    instead of 3 (want_search_fields asserts it).
  * `declined`: (event_type, user_hash, event_id) where user_hash is a
    raw xxhash64 (span ≈ 2^64 — overflows the 63-bit budget alone, so
    every group is a singleton and every field is searched raw). This
    is the TRUE remaining fallback: per-field struct-compare search,
    ~2.4×/extra field (r9 decomposition probe).

Each config gets its own in-window plain `orderBy` control to the same
parquet sink — the ratio is the machine-independent number (CLAUDE.md
timing rules: this VM swings 4-8×; ratios inside one window are the
only comparable quantity).

Usage: python scripts/probe_gp_fallback.py [n_rows] [--only=packed|declined]
         (default 150M, both configs)
Run EXCLUSIVELY; min-of-3 across separate invocations per CLAUDE.md if
absolute walls are ever quoted — the in-window ratio is primary.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_ROWS = int(ARGS[0]) if ARGS else 150_000_000
ONLY = next(
    (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")), None
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

    c_before = calib()
    spark = get_spark(app_name="probe-gp-fallback")

    # warmup per CLAUDE.md: cold-JVM spin-up otherwise bills the first
    # timed op 2.5-4x (asof probe record)
    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        "/tmp/probe_gp_fallback_scratch/warmup"
    )

    # same synthetic event shape as probe_fanout_scale.py: unique but
    # UNSORTED event_id (bijective permutation — raw range ids are
    # optimizer-known sorted, CLAUDE.md baseline trap), 8-value string
    # type, 1M-value user id, plus a full-64-bit hash column that can
    # never fit any width budget
    events = spark.range(0, N_ROWS, 1, 64).select(
        F.pmod(F.col("id") * F.lit(2654435761), F.lit(N_ROWS)).alias("event_id"),
        F.concat(F.lit("type_"), F.pmod(F.xxhash64("id"), F.lit(8))).alias(
            "event_type"
        ),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).alias("user_id"),
        F.xxhash64("id", F.lit(11)).alias("user_hash"),
        # ~2-year micros span (46 bits): (type 4b + ts 46b) packs at 50
        # bits, + unique event_id (28b at 150M) overflows 63 → the
        # canonical partial-grouping shape (type, event_time, id)
        F.timestamp_micros(
            F.pmod(F.xxhash64("id", F.lit(13)), F.lit(63_000_000_000_000))
            + F.lit(1_700_000_000_000_000)
        ).alias("ts"),
        # sub-binade float score (the r11 IEEE-754 rank-pack target):
        # [256, 256.477) → enc span ≈ 2^44, so (type 4b + score 44b)
        # packs at 48 bits and the unique event_id (28b) overflows 63 →
        # the float GROUPED shape (2 search fields)
        (
            F.lit(256.0)
            + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).cast(
                "double"
            )
            / F.lit(2097152.0)
        ).alias("score"),
    )

    # (keys, want_composite, want_search_fields or None, gate_override)
    configs = {
        "packed": (["event_type", "user_id", "event_id"], True, 1, None),
        "grouped": (["event_type", "ts", "event_id"], True, 2, None),
        "declined": (["event_type", "user_hash", "event_id"], False, 3, None),
        # r11 float pair: same key shape packed vs gate-suppressed (the
        # exact path a pre-r11 engine took on a float key) — in-window
        "float_packed": (["event_type", "score", "event_id"], True, 2, None),
        "float_declined": (
            ["event_type", "score", "event_id"],
            False,
            3,
            # pre-r11 behavior for a float key: _composite_key found no
            # adjacent packable pair and declined WITHOUT paying a job
            "pre_r11",
        ),
    }
    if ONLY:  # comma list: in-window pairs (cross-invocation ratios are
        # not comparable on this VM — CLAUDE.md timing rules)
        configs = {k: configs[k] for k in ONLY.split(",")}
    scratch = "/tmp/probe_gp_fallback_scratch"
    report: dict = {"probe": "gp_fallback_3field_r10", "n_rows": N_ROWS, "configs": {}}

    for label, (keys, want_composite, want_fields, gate) in configs.items():
        default_gate = sort_ops.GP_COMPOSITE_MIN_ROWS
        orig_ck = sort_ops._composite_key
        if gate == "pre_r11":
            sort_ops._composite_key = lambda *a, **kw: None
        elif gate is not None:
            sort_ops.GP_COMPOSITE_MIN_ROWS = gate
        stats: dict = {}
        try:
            t0 = time.perf_counter()
            pos_df = sort_ops.with_global_position(events, *keys, stats=stats)
            t_mid = time.perf_counter()
            pos_df.write.mode("overwrite").parquet(f"{scratch}/pos")
            t1 = time.perf_counter()
        finally:
            sort_ops.GP_COMPOSITE_MIN_ROWS = default_gate
            sort_ops._composite_key = orig_ck
        rec: dict = {
            "keys": keys,
            "position_build_sec": round(t_mid - t0, 1),
            "write_sec": round(t1 - t_mid, 1),
            "wall_sec": round(t1 - t0, 1),
            **stats,
        }
        # the intended path must actually be the path under test
        assert stats["composite_key"] is want_composite, (label, stats)
        if want_fields is not None:
            assert stats["search_fields"] == want_fields, (label, stats)

        # count/sum conservation on the persisted output (cheap vs the
        # adjacency join; 300M adjacency exactness for this machinery is
        # already on record from the r9 verify-on runs)
        back = spark.read.parquet(f"{scratch}/pos")
        agg = back.agg(
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

        # in-window plain sort control, same keys, same payload width,
        # same sink
        t2 = time.perf_counter()
        events.orderBy(*[F.col(k).asc() for k in keys]).write.mode(
            "overwrite"
        ).parquet(f"{scratch}/plain")
        rec["plain_orderby_wall_sec"] = round(time.perf_counter() - t2, 1)
        rec["ratio_vs_plain"] = round(
            rec["wall_sec"] / rec["plain_orderby_wall_sec"], 2
        )
        report["configs"][label] = rec

    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
