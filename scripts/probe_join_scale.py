#!/usr/bin/env python
"""As-of / interval join probe at real row scale.

Every other operator family's 100 TB claim in SCALING.md carries a
measured record (sorts 300M, streaming 50M, CC 50M edges, skew join
100M, fanout 50M, ANN/corpus 1M, multimodal 200k); the custom join
operators — `asof_join_backward` (operators/asof.py) and
`interval_join_after` / `interval_overlap_join`
(operators/interval_join.py) — had only the design argument. This probe
runs them at tens of millions of rows and verifies each result against
an INDEPENDENT distributed formulation of the same semantics:

  - as-of: the window formulation under test vs an argmax re-derivation
    (equi-join on the key, keep strictly-earlier rows, per-left-row max
    (ts, tiebreak) then re-join for its payload). Quadratic-ish per key
    — exactly the naive plan the operator exists to avoid — but fine as
    a one-shot checker at ~250M candidate pairs.
  - interval: the bucketed equi-join under test vs a plain key-only
    shuffle join + residual time filter (~500M candidate pairs).
    Pair-set equality is count + bit_xor over a per-pair hash
    (order-insensitive, overflow-free under ANSI mode — a long SUM of
    hashes could overflow-throw).

Timing notes (CLAUDE.md): calibration-bracketed; run EXCLUSIVELY;
min-of-3 ACROSS separate invocations is the comparable number. Pass
--no-verify on the repeat invocations so re-timing does not pay the
one-shot checker. Operator walls are to a parquet sink (same billing as
the fanout probe). Inputs are pure column functions of `spark.range`
(xxhash64-derived), so they are deterministic, unsorted in key and ts
(no optimizer-eliminated work — the r7 sorted-range trap), and cost the
same for the operator and its checker.

Usage: python scripts/probe_join_scale.py [n_left] [--no-verify]
                                          [--only=asof|after|overlap]
Default n_left: 50_000_000 (as-of probe side); interval uses n_left/5
left x n_left right.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
N_LEFT = int(ARGS[0]) if ARGS else 50_000_000
VERIFY = "--no-verify" not in sys.argv
# --only=asof|after|overlap runs a single operator's probe
ONLY = next(
    (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")), None
)
N_KEYS = max(1, N_LEFT // 50)  # ~50 probe rows per key
SCRATCH = "/tmp/probe_join_scratch"
DAY_US = 86_400_000_000
# _events doubles the raw pmod value for even/odd per-side uniqueness, so
# the EFFECTIVE timestamp span is 2*SPAN_US = 60 days. The recorded r7
# 50M runs used this span; at 1-day width that is ~0.85 expected matches
# per left row (not the 1.7 a 30-day span would give) — the SCALING.md
# pair counts (8.27M at 10M left) confirm it. Kept as-is so re-runs stay
# comparable to the recorded pair-set signatures.
SPAN_US = 30 * DAY_US


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def _events(spark, n: int, salt: int, extra_unique_bump: int = 0):
    """n rows: key in [0, N_KEYS), ts uniform-ish over 60 days (micros —
    the *2 even/odd uniqueness trick doubles SPAN_US; unique per side via
    the low-bit bump so (ts, id) total order is unambiguous), unsorted in
    both key and ts."""
    from pyspark.sql import functions as F

    return spark.range(0, n, 1, 64).select(
        F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(N_KEYS)).alias("k"),
        F.timestamp_micros(
            F.pmod(F.xxhash64("id", F.lit(salt + 1)), F.lit(SPAN_US)) * F.lit(2)
            + F.lit(extra_unique_bump)
        ).alias("ts"),
        # one Python-side long literal: int32 lit arithmetic overflows
        # under ANSI once salt*10*N_LEFT passes 2^31 (salt>=5 at 50M)
        (F.col("id") + F.lit(salt * 10 * N_LEFT)).alias("rid"),
        F.pmod(F.xxhash64("id", F.lit(salt + 2)), F.lit(1_000_000)).alias("v"),
    )


def probe_asof(spark, report):
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.asof import asof_join_backward

    n_right = N_LEFT // 10
    left = _events(spark, N_LEFT, salt=1)  # even ts
    right = _events(spark, n_right, salt=2, extra_unique_bump=1)  # odd ts
    # the operator requires shared (by, ts, tiebreak) schemas and a unique
    # (ts, tiebreak) across the union: rid is unique per side and the
    # even/odd ts bump keeps ties impossible across sides too
    t0 = time.perf_counter()
    out = asof_join_backward(
        left, right, by=["k"], ts="ts", tiebreak="rid", payload="v",
        payload_alias="asof_v",
    )
    out.write.mode("overwrite").parquet(f"{SCRATCH}/asof")
    wall = round(time.perf_counter() - t0, 1)

    rec = {"n_left": N_LEFT, "n_right": n_right, "wall_sec": wall}
    if VERIFY:
        t1 = time.perf_counter()
        got = spark.read.parquet(f"{SCRATCH}/asof")
        # independent argmax re-derivation (naive formulation)
        cand = left.select("k", "ts", "rid").join(
            right.select(
                F.col("k"), F.col("ts").alias("rts"), F.col("rid").alias("rrid"),
                F.col("v").alias("rv"),
            ),
            "k",
        ).filter(
            (F.col("rts") < F.col("ts"))
            | ((F.col("rts") == F.col("ts")) & (F.col("rrid") < F.col("rid")))
        )
        best = cand.groupBy("k", "ts", "rid").agg(
            F.max(F.struct("rts", "rrid", "rv")).alias("b")
        ).select("rid", F.col("b.rv").alias("expect_v"))
        ref = left.select("rid").join(best, "rid", "left")
        diff = (
            got.select("rid", "asof_v")
            .join(ref, "rid", "full")
            .filter(
                ~(
                    F.col("asof_v").eqNullSafe(F.col("expect_v"))
                )
            )
            .count()
        )
        rec["verify_mismatches"] = diff
        rec["n_out"] = got.count()
        # the full-join mismatch count alone cannot see DUPLICATED output
        # rows (each duplicate matches the one-row-per-rid reference
        # independently): as-of must emit exactly one row per left row,
        # so cardinality is part of the contract being verified
        rec["n_out_equals_n_left"] = bool(rec["n_out"] == N_LEFT)
        rec["distinct_rid_equals_n_left"] = bool(
            got.select("rid").distinct().count() == N_LEFT
        )
        rec["n_matched"] = got.filter(F.col("asof_v").isNotNull()).count()
        rec["verify_wall_sec"] = round(time.perf_counter() - t1, 1)
    report["configs"]["asof_backward"] = rec


def _pair_sig(spark, df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(l_rid, r_rid))").alias("sig"),
    ).collect()[0]


def probe_interval_after(spark, report):
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.interval_join import (
        interval_join_after,
    )

    n_l, n_r = N_LEFT // 5, N_LEFT
    left = _events(spark, n_l, salt=3).select(
        "k", "ts", F.col("rid").alias("l_rid")
    )
    right = _events(spark, n_r, salt=4, extra_unique_bump=1).select(
        "k", F.col("ts").alias("rts"), F.col("rid").alias("r_rid")
    )
    width = DAY_US // 1_000_000  # 1 day in sec -> ~0.85 matches/left row
    # (uniform over the effective 60-day span, see SPAN_US note)
    t0 = time.perf_counter()
    out = interval_join_after(
        left, right, keys=["k"], left_ts="ts", right_ts="rts",
        width_seconds=width,
    )
    out.write.mode("overwrite").parquet(f"{SCRATCH}/after")
    wall = round(time.perf_counter() - t0, 1)

    rec = {"n_left": n_l, "n_right": n_r, "width_s": width, "wall_sec": wall}
    if VERIFY:
        t1 = time.perf_counter()
        got = _pair_sig(spark, spark.read.parquet(f"{SCRATCH}/after"))
        from kafka_stream_sorter_spark.functions.numeric import epoch_us

        naive = left.join(right, "k").filter(
            (epoch_us("rts") > epoch_us("ts"))
            & (epoch_us("rts") <= epoch_us("ts") + width * 1_000_000)
        )
        exp = _pair_sig(spark, naive)
        rec["n_out"] = got["n"]
        rec["pair_set_match"] = bool(
            got["n"] == exp["n"] and got["sig"] == exp["sig"]
        )
        rec["verify_wall_sec"] = round(time.perf_counter() - t1, 1)
    report["configs"]["interval_after"] = rec


def probe_interval_overlap(spark, report):
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.interval_join import (
        interval_overlap_join,
    )

    n = N_LEFT // 5
    # intervals: start = ts, length exponential-ish 0..2h (xxhash-derived),
    # bucket = 1h (near typical length -> replication factor ~2)
    def intervals(salt, prefix):
        base = _events(spark, n, salt=salt)
        return base.select(
            "k",
            F.col("ts").alias(f"{prefix}start"),
            F.timestamp_micros(
                F.unix_micros("ts")
                + F.pmod(F.xxhash64("rid"), F.lit(2 * 3_600_000_000))
            ).alias(f"{prefix}end"),
            F.col("rid").alias(f"{prefix}rid"),
        )

    left = intervals(5, "l_")
    right = intervals(6, "r_")
    t0 = time.perf_counter()
    out = interval_overlap_join(
        left, right, keys=["k"], left_start="l_start", left_end="l_end",
        right_start="r_start", right_end="r_end", bucket_seconds=3600,
    )
    out.write.mode("overwrite").parquet(f"{SCRATCH}/overlap")
    wall = round(time.perf_counter() - t0, 1)

    rec = {"n_left": n, "n_right": n, "bucket_s": 3600, "wall_sec": wall}
    if VERIFY:
        t1 = time.perf_counter()
        got = _pair_sig(spark, spark.read.parquet(f"{SCRATCH}/overlap"))
        from kafka_stream_sorter_spark.functions.numeric import epoch_us

        naive = left.join(right, "k").filter(
            (epoch_us("l_start") <= epoch_us("r_end"))
            & (epoch_us("r_start") <= epoch_us("l_end"))
        )
        exp = _pair_sig(spark, naive)
        rec["n_out"] = got["n"]
        rec["pair_set_match"] = bool(
            got["n"] == exp["n"] and got["sig"] == exp["sig"]
        )
        rec["verify_wall_sec"] = round(time.perf_counter() - t1, 1)
    report["configs"]["interval_overlap"] = rec


def main() -> None:
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-join-scale")
    # JIT/executor warmup so the first timed operator is not billed for
    # JVM spin-up: a small shuffle + parquet write touches every code
    # path class (codegen, exchange, sort, parquet sink) once. The warm
    # asof decomposition (sort+write 20.3 s vs 79.9-137.2 s cold
    # min-of-3 before this warmup existed) showed cold-start dominating
    # the first op's wall.
    from pyspark.sql import functions as F

    spark.range(0, 2_000_000, 1, 32).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("g"), "id"
    ).groupBy("g").agg(F.sum("id").alias("s")).write.mode("overwrite").parquet(
        f"{SCRATCH}/warmup"
    )
    report: dict = {
        "probe": "join_scale_r7",
        "n_left": N_LEFT,
        "n_keys": N_KEYS,
        "verify": VERIFY,
        "configs": {},
    }
    if ONLY in (None, "asof"):
        probe_asof(spark, report)
    if ONLY in (None, "after"):
        probe_interval_after(spark, report)
    if ONLY in (None, "overlap"):
        probe_interval_overlap(spark, report)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    report["calib_matmul_sec"] = {"before": c_before, "after": calib()}
    report["load_avg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
