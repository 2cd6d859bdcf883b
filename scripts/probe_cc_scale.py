#!/usr/bin/env python
"""Connected-components probe at real edge scale (r4 verdict item 6).

`dedup_connected_groups` is the slowest suite entry on toy data (5.8 s at
sf0.1), where per-round job overhead dominates. This probe measures the
operator where its design actually matters: a synthetic ~50M-edge graph
of LONG CHAINS — the adversarial shape for min-label propagation (a
chain of n nodes needs n rounds without pointer jumping) — verifying:

  1. the pointer-jumping round count stays ~log2(diameter)
     (operators/dedup.py claims O(log diameter); a 65k-hop chain must
     converge in ~17-19 rounds, not 65k);
  2. the labels are CORRECT (every node's component = its chain head),
     checked distributed, no collect;
  3. wall time, calibration-bracketed per CLAUDE.md timing rules.

Usage: python scripts/probe_cc_scale.py [n_edges] [chain_len]
Defaults: 50_000_000 edges in chains of 65_536 nodes. Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_EDGES = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
CHAIN_LEN = int(sys.argv[2]) if len(sys.argv) > 2 else 65_536


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.dedup import connected_dedup_groups
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-cc-scale")

    # N chains of CHAIN_LEN nodes: node ids 0..n_nodes-1, edge (i, i+1)
    # within each chain. n_edges ≈ n_nodes (minus one per chain).
    n_nodes = N_EDGES + N_EDGES // (CHAIN_LEN - 1)  # edges = nodes - n_chains
    ids = spark.range(0, n_nodes, 1, 32)
    edges = (
        ids.filter((F.col("id") + 1) % CHAIN_LEN != 0)
        .filter(F.col("id") + 1 < n_nodes)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    nodes = ids.select(F.col("id").alias("doc_id"))

    stats: dict = {}
    t0 = time.perf_counter()
    out = connected_dedup_groups(nodes, edges, max_iter=25, stats=stats)
    # materialize the operator's own output to close its timing window —
    # the correctness scan below is verification I/O and must not be
    # billed to the operator
    out.write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 1)
    # correctness: component id must equal the chain head, verified
    # distributed — zero rows may disagree
    wrong = out.filter(
        F.col("component_id") != (F.col("doc_id") - F.col("doc_id") % CHAIN_LEN)
    ).count()
    verify_wall = round(time.perf_counter() - t0 - wall, 1)
    c_after = calib()

    print(
        json.dumps(
            {
                "probe": "cc_scale_r5",
                "n_edges_requested": N_EDGES,
                "sym_edges": stats.get("sym_edges"),
                "chain_len": CHAIN_LEN,
                "diameter": CHAIN_LEN - 1,
                "log2_diameter": round(math.log2(CHAIN_LEN - 1), 1),
                "rounds": stats.get("rounds"),
                "wrong_labels": wrong,
                "wall_sec": wall,
                "verify_wall_sec": verify_wall,
                "calib_matmul_sec": {"before": c_before, "after": c_after},
                "load_avg": round(os.getloadavg()[0], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
