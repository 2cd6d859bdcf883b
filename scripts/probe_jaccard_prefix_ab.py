#!/usr/bin/env python
"""Alternating A/B: does persisting the prefix table (r17) beat the
re-computed self-join sides in _prefix_filtered_jaccard?  A = unpinned
(r16 shape: both join sides re-run explode -> df join -> window),
B = pinned (one materialization). Alternating repeats in ONE session
per the CLAUDE.md timing rules, matmul calib bracket, warmed session.
"""
import os, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import numpy as np

def calib():
    a = np.random.rand(2048, 2048); b = np.random.rand(2048, 2048)
    a @ b; t = time.perf_counter(); a @ b
    return round(time.perf_counter() - t, 3)

from kafka_stream_sorter_spark.session import get_spark
from kafka_stream_sorter_spark.sources.parquet import load_table
from kafka_stream_sorter_spark.operators import dedup

SF = "/root/testdata/sf0.1"
spark = get_spark(app_name="probe-jaccard-prefix-ab")
docs = load_table(spark, SF, "documents", rebalance=True)

# warm up: JVM, parquet footers, a small shuffle
docs.limit(1000).groupBy("lang").count().write.format("noop").mode("overwrite").save()
dedup.jaccard_pairs(docs.limit(2000)).write.format("noop").mode("overwrite").save()

def run(pinned_on: bool, fn) -> float:
    sets = fn()
    g = sets.persist()
    pinned = []
    t0 = time.perf_counter()
    try:
        out = dedup._prefix_filtered_jaccard_body(
            g, THRESH, pinned if pinned_on else None
        ).localCheckpoint()
        n = out.count()
    finally:
        g.unpersist()
        for df in pinned:
            df.unpersist()
    return time.perf_counter() - t0, n

def word_sets():
    return dedup._word_sets(docs).withColumnRenamed("words", "items")

def ngram_sets():
    return docs.select(
        "doc_id", "lang",
        (dedup.F.floor(dedup.F.col("n_chars") / 100)).cast("long").alias("len_bucket"),
        dedup.char_ngram_hashes(dedup.F.col("text"), 3).alias("items"),
    )

for label, fn, thresh in (("word", word_sets, 0.95), ("ngram", ngram_sets, 0.9)):
    THRESH = thresh
    c0 = calib()
    walls = {"A": [], "B": []}
    ns = set()
    for rep in range(3):
        for arm in ("A", "B"):
            w, n = run(arm == "B", fn)
            walls[arm].append(round(w, 3))
            ns.add(n)
    c1 = calib()
    med = lambda xs: sorted(xs)[len(xs) // 2]
    print(f"{label}: calib {c0}->{c1} rows={ns} A(unpinned)={walls['A']} "
          f"B(pinned)={walls['B']} medB/medA={med(walls['B'])/med(walls['A']):.3f}")
