#!/usr/bin/env python
"""Decompose one AvailableNow drain's wall time (r16 verdict item 7):
where do the ~1-3 s per streaming query go?  Uses the engine's own
progress telemetry (durationMs phases + stateOperators commit times)
plus wall brackets around source construction, query start, and
termination. Run EXCLUSIVELY (one Spark session).
"""
import os, sys, time, tempfile, json
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kafka_stream_sorter_spark.session import get_spark
from kafka_stream_sorter_spark.streaming import ops
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"
spark = get_spark(app_name="probe-stream-drain-decomp")

# warm: JVM, parquet footers, a shuffle, one full drain (cold-session tax
# measured separately below as drain #0)
spark.read.parquet(SF + "/events.parquet").limit(1000).groupBy("event_type").count().write.format("noop").mode("overwrite").save()

def one_drain(tag):
    walls = {}
    t0 = time.perf_counter()
    sdf = ops.stream_events(spark, SF)
    agg = (
        sdf.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    walls["build_source_and_plan"] = time.perf_counter() - t0
    name = f"decomp_{tag}_{int(time.perf_counter()*1e6)%10**9}"
    t0 = time.perf_counter()
    with ops._stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        walls["start_call"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        q.awaitTermination()
        walls["await_termination"] = time.perf_counter() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    return walls, prog

for rep in range(3):
    walls, prog = one_drain(f"r{rep}")
    print(f"--- drain {rep}: walls={ {k: round(v,3) for k,v in walls.items()} }")
    for p in prog:
        dm = p.get("durationMs", {})
        so = p.get("stateOperators", [])
        state = [
            {k: o.get(k) for k in ("commitTimeMs", "numShufflePartitions", "numStateStoreInstances")}
            for o in so
        ]
        print(f"    batch {p.get('batchId')}: durationMs={dm} state={state}")
