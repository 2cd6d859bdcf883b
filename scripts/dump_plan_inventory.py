#!/usr/bin/env python
"""Dump a physical-plan audit of every registered query to PLANS.md.

One row per query: shuffle count, join strategies, aggregate stages,
Python/Arrow stages, scan pushdown evidence, and the whole-stage-codegen
span count. The table makes plan regressions diffable round over round
(an unexpected new Exchange or a BatchEvalPython sneaking into a hot
path shows up as a one-line diff) and gives reviewers the plan-shape
audit without re-running explain() 119 times.

Usage: python scripts/dump_plan_inventory.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# Streaming queries execute their plan inside a query run, not via
# .explain() on the returned (already-materialized) frame; mark them.
_STREAMING_PREFIX = "stream_"


def main() -> None:
    from kafka_stream_sorter_spark.registry import QUERIES
    from kafka_stream_sorter_spark.session import get_spark

    spark = get_spark(app_name="plan-inventory")
    rows = []
    for name, fn in QUERIES.items():
        if name.startswith(_STREAMING_PREFIX):
            rows.append((name, "— streaming: plan audited in tests/test_streaming_*", None))
            continue
        try:
            df = fn(spark, SF)
            # execute the frame's OWN queryExecution (collect, not a
            # noop write — a write is a separate plan): under AQE the
            # final join strategies, coalesced exchanges, and codegen
            # star-annotations only exist once isFinalPlan=true
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"ERROR: {e}", None))
            continue
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_agg = len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan))
        # executedPlan.toString marks codegen stages as "*(n) Node"
        n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        py = []
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas", "PythonMapInArrow"):
            if marker in plan:
                py.append(marker)
        topk = "TakeOrderedAndProject" in plan
        wgl = "WindowGroupLimit" in plan
        flags = []
        if topk:
            flags.append("TopK")
        if wgl:
            flags.append("WGL")
        if py:
            flags.append("+".join(sorted(set(py))))
        rows.append(
            (
                name,
                f"| {n_exchange} | {n_bhj}/{n_smj} | {n_agg} | {n_wsc} | "
                f"{pushed} | {', '.join(flags) if flags else '-'} |",
                n_exchange,
            )
        )

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# Physical-plan inventory (auto-generated)\n\n"
            f"`python scripts/dump_plan_inventory.py` at `{SF}`. One row per\n"
            "registered query: shuffle Exchanges, joins (broadcast/sort-merge),\n"
            "aggregate operators (partial+final count), whole-stage-codegen\n"
            "spans, scan-level pushed filters, and notable operators (TopK =\n"
            "TakeOrderedAndProject, WGL = WindowGroupLimit, Python/Arrow\n"
            "stages). Python markers outside the deliberate Arrow surfaces\n"
            "(ANN vectorized path, multimodal codec, applyInPandas demos) are\n"
            "regressions — diff this file when plans change.\n\n"
            "| query | exchanges | BHJ/SMJ | aggs | codegen | pushdown | notable |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, desc, _ in rows:
            if desc.startswith("|"):
                fh.write(f"| {name} {desc}\n")
            else:
                fh.write(f"| {name} | {desc} |||||||\n".replace("|||||||", " | | | | | |"))
    n_err = sum(1 for _, d, _ in rows if d.startswith("ERROR"))
    print(f"PLANS.md written: {len(rows)} queries, {n_err} errors")


if __name__ == "__main__":
    main()
