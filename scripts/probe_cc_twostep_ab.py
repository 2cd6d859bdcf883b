#!/usr/bin/env python
"""r16 verdict item 4: CC loop — 2 propagation steps per job?

Halves the per-round driver sync (one convergence count per TWO
neighbor-min steps) at the cost of a deeper un-checkpointed plan per
job: stepped1 feeds BOTH neigh2 and stepped2 (a diamond) plus one lazy
pointer jump — the shape that sits next to the measured 434 s
plan-analysis cliff (3 stacked lazy self-joins).

Measures, alternating A/B in ONE session with calib brackets:
  A = shipped loop (1 step/job, jump each round)
  B = 2 steps/job (jump once per job, after step 2)
on (a) the real sf0.1 LSH dup graph, (b) a synthetic long-chain graph
(plan-analysis stress: many rounds). Also records per-round walls so a
plan-analysis blowup (round wall GROWING with round index) is visible
directly. B ships only if byte-equal, faster, and flat per-round walls.
"""
import os, sys, time, functools
print = functools.partial(print, flush=True)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import numpy as np
from pyspark.sql import functions as F

def calib():
    a = np.random.rand(2048, 2048); b = np.random.rand(2048, 2048)
    a @ b; t = time.perf_counter(); a @ b
    return round(time.perf_counter() - t, 3)

from kafka_stream_sorter_spark.session import get_spark
from kafka_stream_sorter_spark.sources.parquet import load_table
from kafka_stream_sorter_spark.operators import dedup

spark = get_spark(app_name="probe-cc-twostep")

def cc_2step(nodes, edges, max_iter=40):
    """connected_dedup_groups with 2 propagation steps per job."""
    import gc
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=False)
    n_edges = sym.count()
    parallelism = sym.sparkSession.sparkContext.defaultParallelism
    n_parts = int(max(1, min(parallelism, n_edges // 1_000_000 + 1)))
    loop_spark = dedup._loop_session(nodes.sparkSession, n_parts)
    sym = dedup._rebind(sym, loop_spark)
    sym = sym.repartition(n_parts, "dst").localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .repartition(n_parts, "doc_id").localCheckpoint(eager=False)
    )
    rounds = 0
    per_round = []
    for _ in range(max_iter):
        rounds += 1
        t0 = time.perf_counter()
        # step 1 (lazy, no checkpoint)
        neigh1 = sym.join(labels, sym.dst == labels.doc_id).groupBy("src").agg(
            F.min("label").alias("neigh_min"))
        stepped1 = labels.join(neigh1, labels.doc_id == neigh1.src, "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce(F.col("neigh_min"), F.col("label"))).alias("label"),
        )
        # step 2 over stepped1 (diamond: stepped1 feeds neigh2 AND stepped2)
        neigh2 = sym.join(stepped1, sym.dst == stepped1.doc_id).groupBy("src").agg(
            F.min("label").alias("neigh_min2"))
        stepped2 = stepped1.join(neigh2, stepped1.doc_id == neigh2.src, "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce(F.col("neigh_min2"), F.col("label"))).alias("label"),
            (F.coalesce(F.col("neigh_min2"), F.col("label")) < F.col("label")).alias("_changed"),
        ).localCheckpoint(eager=False)
        changed = stepped2.filter(F.col("_changed")).count()
        labels = stepped2.drop("_changed")
        gc.collect()
        per_round.append(round(time.perf_counter() - t0, 3))
        if changed == 0:
            break
        # one lazy pointer jump per job
        lmap = labels.select(F.col("doc_id").alias("_l_id"), F.col("label").alias("_l_lab"))
        labels = labels.join(lmap, labels.label == lmap._l_id, "left").select(
            "doc_id", F.coalesce(F.col("_l_lab"), F.col("label")).alias("label"))
    labels = dedup._rebind(labels, nodes.sparkSession)
    out = nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("component_id"))
    return out, rounds, per_round

def lsh_inputs():
    docs = load_table(spark, "/root/testdata/sf0.1", "documents", rebalance=True)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.7).select("doc_a", "doc_b")
    nodes = docs.select("doc_id")
    return nodes, pairs

def chain_inputs(n=200_000):
    # permuted ids (CLAUDE.md probe rule) in a long chain: diameter n
    ids = spark.range(n).select((F.col("id") * 2654435761 % n).alias("a"))
    e = spark.range(n - 1).select(
        (F.col("id") * 2654435761 % n).alias("doc_a"),
        ((F.col("id") + 1) * 2654435761 % n).alias("doc_b"),
    ).localCheckpoint()  # freeze so both arms see identical edges
    nodes = ids.select(F.col("a").alias("doc_id")).localCheckpoint()
    return nodes, e

# warm-up
spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().write.format("noop").mode("overwrite").save()

# (label was "chain2M" when the r17 record was taken — same 200k graph,
# mislabeled; SCALING.md and OPTIMIZATION_r17.md state the true scale)
for label, mk in (("lsh_sf0.1", lsh_inputs), ("chain200k", chain_inputs)):
    nodes, edges = mk()
    edges = edges.localCheckpoint()  # identical inputs for every arm/repeat
    nodes = nodes.localCheckpoint()
    c0 = calib()
    walls = {"A": [], "B": []}
    rounds = {}
    hashes = {}
    prr = {}
    for rep in range(2):
        for arm in ("A", "B"):
            t0 = time.perf_counter()
            if arm == "A":
                stats = {}
                out = dedup.connected_dedup_groups(nodes, edges, max_iter=40, stats=stats)
                n = out.agg(F.sum(F.col("doc_id") * F.col("component_id")).alias("s"),
                            F.count(F.lit(1)).alias("c")).collect()[0]
                rounds[arm] = stats.get("rounds"); pr = None
            else:
                out, r, pr = cc_2step(nodes, edges, max_iter=40)
                n = out.agg(F.sum(F.col("doc_id") * F.col("component_id")).alias("s"),
                            F.count(F.lit(1)).alias("c")).collect()[0]
                rounds[arm] = r
            walls[arm].append(round(time.perf_counter() - t0, 3))
            hashes.setdefault(arm, set()).add((n["s"], n["c"]))
            if pr is not None:
                prr[arm] = pr
    c1 = calib()
    med = lambda xs: sorted(xs)[len(xs)//2]
    print(f"{label}: calib {c0}->{c1} rounds={rounds} A={walls['A']} B={walls['B']} "
          f"medB/medA={med(walls['B'])/med(walls['A']):.3f} "
          f"equal={hashes['A'] == hashes['B']} B_per_round={prr.get('B')}")
