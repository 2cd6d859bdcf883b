#!/usr/bin/env python
"""Cross-batch streaming state EXACTNESS at 50M rows (r7 verdict stretch #6).

`stream_dedup_keys` and `stream_topk` carry state across micro-batches
(dropDuplicates key state; the O(k × n_batches) candidate store). The
4-file incremental fixture pins their cross-batch semantics at toy scale
(tests/test_streaming_incremental.py); this probe plants ground truth at
the 50M multi-batch scale the batch operators already enjoy and verifies
EXACTNESS, not just throughput:

  1. dedup: keys are CONSTRUCTED to recur across batches
     (key = f(id), batches = files, id striped over files), so a state
     store that dropped anything between batches would re-emit keys.
     Checks (all distributed): emitted rows == batch-engine distinct
     count; zero key emitted twice; >99% of keys genuinely span >1 batch
     (proving the run exercises cross-batch state, not per-batch dedup).
  2. topk: values are hash-scattered so the true top-k is spread over
     all batches; the streaming result must equal the batch engine's
     top-k EXACTLY (set equality on (event_id, value_micros), both
     orders checked via the shared tie-break policy).
  3. stream-stream interval join (stream_stream_interval_join
     semantics, late r8): a time-ordered stream (ts monotone in id,
     files = range slices = micro-batches) where each user alternates
     view/click every ~45 min, so each view matches exactly the next
     click (+45 min < 2 h) and ~1/6 of the matched pairs have view and
     click in DIFFERENT micro-batches — the pair only exists if the
     view's join state survives the batch handoff. Watermark is a
     REALISTIC 1 h (not the registered query's drain-everything bound),
     so state eviction actively runs: peak join-state rows from query
     progress must stay far below total views (state tracks the time
     window, not the stream), while the emitted pair set must equal the
     batch engine's identical-predicate join EXACTLY (both-way
     anti-join counts, distributed).

Usage: python scripts/probe_streaming_state_recall.py [n_rows] [n_batches]
Defaults: 50_000_000, 8. Run EXCLUSIVELY (CLAUDE.md timing rules).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 8
N_USERS = 1_000_000
K = 100


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
    from kafka_stream_sorter_spark.streaming import ops

    c_before = calib()
    spark = get_spark(app_name="probe-stream-state")
    tmp = tempfile.mkdtemp(prefix="probe_sstate_")
    src = os.path.join(tmp, "src")
    results: dict = {}
    try:
        # Deterministic events: key (user_id, event_type) is a pure
        # function of id, and ids stripe over the N_BATCHES output files,
        # so every key recurs in ~every batch. value is hash-scattered
        # (quantized to micros so batch/stream compare exactly); ts spans
        # 4 minutes, far inside the watermark, so NO state is ever
        # evicted — the probe isolates cross-batch state handoff.
        t0 = time.perf_counter()
        spark.range(0, N, 1, 64).select(
            F.col("id").alias("event_id"),
            F.pmod(F.col("id"), F.lit(N_USERS)).alias("user_id"),
            F.concat(F.lit("type_"), F.pmod(F.col("id") * 7, F.lit(8))).alias(
                "event_type"
            ),
            F.pmod(F.xxhash64("id"), F.lit(10_000_000_000)).alias("value_micros"),
            F.timestamp_micros(
                F.lit(1_704_067_200_000_000)
                + F.pmod(F.col("id"), F.lit(240)) * 1_000_000
            ).alias("ts"),
        ).repartition(N_BATCHES).write.mode("overwrite").parquet(src)
        results["produce_sec"] = round(time.perf_counter() - t0, 1)

        batch = spark.read.parquet(src)
        schema = batch.schema
        n_files = len(
            [f for f in os.listdir(src) if f.endswith(".parquet")]
        )

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        # --- 1. cross-batch dedup (stream_dedup_keys semantics) ---------
        out1 = os.path.join(tmp, "dedup_out")
        t0 = time.perf_counter()
        q = (
            stream()
            .withWatermark("ts", "3650 days")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out1)
            .option("checkpointLocation", os.path.join(tmp, "ck1"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        emitted = spark.read.parquet(out1)
        truth = batch.select("user_id", "event_type").distinct().count()
        n_emitted = emitted.count()
        dup_keys = (
            emitted.groupBy("user_id", "event_type")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        # how many keys truly span >1 batch-file (planted-coverage check)
        fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
        spanning = (
            batch.select("user_id", "event_type", fname.alias("f"))
            .groupBy("user_id", "event_type")
            .agg(F.countDistinct("f").alias("nf"))
            .filter(F.col("nf") > 1)
            .count()
        )
        results["dedup_keys"] = {
            "sec": round(dt, 1),
            "rows_per_sec": int(N / dt),
            "batches": n_files,
            "distinct_keys_truth": truth,
            "emitted": n_emitted,
            "keys_emitted_twice": dup_keys,
            "keys_spanning_multiple_batches_pct": round(100.0 * spanning / truth, 2),
            "exact": n_emitted == truth and dup_keys == 0,
        }

        # --- 2. cross-batch top-k (stream_topk semantics) ----------------
        order = [F.col("value_micros").desc(), F.col("event_id").asc()]
        t0 = time.perf_counter()
        got = ops.drain_topk(
            stream().select("event_id", "user_id", "value_micros"),
            K,
            order,
            id_cols=["event_id"],
        )
        got_rows = {(r.event_id, r.value_micros) for r in got.collect()}
        dt = time.perf_counter() - t0
        exact_rows = {
            (r.event_id, r.value_micros)
            for r in batch.orderBy(*order).limit(K).collect()
        }
        results["topk"] = {
            "sec": round(dt, 1),
            "rows_per_sec": int(N / dt),
            "k": K,
            "exact": got_rows == exact_rows,
            "missing": len(exact_rows - got_rows),
        }

        # --- 3. stream-stream interval join, bounded state ---------------
        # ts = base + id * 2.7 ms: same-user events (ids N_USERS apart)
        # are 45 min apart and alternate view/click by (id // N_USERS)
        # parity, so every view matches exactly its user's next click
        # (+45 min, inside the 2 h window; the one after is +135 min,
        # outside). Files are RANGE slices of id = time slices, replayed
        # one per trigger: consecutive same-user events land in different
        # files for ~1/6 of pairs (1M-id spacing vs 6.25M-id slices).
        dt_us = 2700
        base_us = 1_704_067_200_000_000
        src2 = os.path.join(tmp, "src2")
        t0 = time.perf_counter()
        spark.range(0, N, 1, 64).select(
            F.col("id").alias("event_id"),
            F.pmod(F.col("id"), F.lit(N_USERS)).alias("user_id"),
            F.when(
                F.pmod(F.floor(F.col("id") / N_USERS), F.lit(2)) == 0, F.lit("view")
            )
            .otherwise(F.lit("click"))
            .alias("event_type"),
            F.timestamp_micros(
                F.lit(base_us) + F.col("id") * F.lit(dt_us)
            ).alias("ts"),
        ).repartitionByRange(N_BATCHES, "id").write.mode("overwrite").parquet(src2)
        # FileStreamSource orders micro-batches by file MODIFICATION TIME,
        # not name; the 8 range-partition files are written concurrently
        # with near-identical mtimes, so replay order would be arbitrary —
        # and any batch delivered after the watermark passed its time range
        # is dropped wholesale as late input (first run of this probe: 69%
        # of pairs lost exactly this way). A real time-ordered log delivers
        # in time order; reproduce that by stamping strictly increasing
        # mtimes in partition (= time-slice) order.
        parts = sorted(
            f for f in os.listdir(src2) if f.endswith(".parquet")
        )  # part-0000N sorts by N = range-partition index = time order
        t_base = int(time.time()) - 2 * len(parts)
        for i, f in enumerate(parts):
            os.utime(os.path.join(src2, f), (t_base + 2 * i, t_base + 2 * i))
        produce2 = round(time.perf_counter() - t0, 1)
        batch2 = spark.read.parquet(src2)
        schema2 = batch2.schema

        ev = (
            spark.readStream.schema(schema2)
            .option("maxFilesPerTrigger", "1")
            .parquet(src2)
        )
        views = (
            ev.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "1 hour")
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        cond = F.expr(
            "v_user = c_user AND click_ts > view_ts "
            "AND click_ts <= view_ts + interval 2 hours"
        )
        out3 = os.path.join(tmp, "join_out")
        t0 = time.perf_counter()
        q = (
            views.join(clicks, cond)
            .select("view_id", "click_id")
            .writeStream.format("parquet")
            .option("path", out3)
            .option("checkpointLocation", os.path.join(tmp, "ck3"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        progs = []
        for p in q.recentProgress:  # dicts in some pyspark versions,
            if isinstance(p, dict):  # StreamingQueryProgress objects in others
                progs.append(p)
            else:
                j = p.json
                progs.append(json.loads(j() if callable(j) else j))
        peak_state = max(
            (
                so["numRowsTotal"]
                for p in progs
                for so in (p.get("stateOperators") or [])
            ),
            default=-1,
        )
        got3 = spark.read.parquet(out3)
        bv = batch2.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        bc = batch2.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        truth3 = bv.join(bc, cond).select("view_id", "click_id")
        keys = ["view_id", "click_id"]
        missing = truth3.join(got3, keys, "left_anti").count()
        extra = got3.join(truth3, keys, "left_anti").count()
        n_pairs = got3.count()
        # planted-coverage check: pairs whose two events sit in different
        # batch files (view state must survive ≥1 handoff to emit them)
        fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
        ef = batch2.select("event_id", fname.alias("f"))
        cross = (
            truth3.join(ef.withColumnRenamed("event_id", "view_id"), "view_id")
            .withColumnRenamed("f", "vf")
            .join(ef.withColumnRenamed("event_id", "click_id"), "click_id")
            .filter(F.col("vf") != F.col("f"))
            .count()
        )
        n_views = bv.count()
        results["stream_stream_interval_join"] = {
            "produce_sec": produce2,
            "sec": round(dt, 1),
            "rows_per_sec": int(N / dt),
            "pairs": n_pairs,
            "pairs_cross_batch": cross,
            "pairs_cross_batch_pct": round(100.0 * cross / max(1, n_pairs), 2),
            "missing_vs_batch": missing,
            "extra_vs_batch": extra,
            "exact": missing == 0 and extra == 0,
            "peak_join_state_rows": peak_state,
            "total_views": n_views,
            "state_vs_views_pct": round(100.0 * peak_state / max(1, n_views), 2),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(
        json.dumps(
            {
                "probe": "streaming_state_recall_r8",
                "n_rows": N,
                "n_batches": N_BATCHES,
                "n_users": N_USERS,
                "results": results,
                "calib_matmul_sec": {"before": c_before, "after": calib()},
                "load_avg": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
