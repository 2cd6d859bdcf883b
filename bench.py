#!/usr/bin/env python
"""Benchmark harness: times every registered query at one scale factor.

Usage: python bench.py            # $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1
Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": 0.1, ...}

Each query is materialized with a noop write (full execution, nothing
collected to the driver) so the timing covers scan → shuffle → sink the way
a cluster job would, not a driver-side fetch of a head sample.

Comparison anchor (BASELINE.md): the reference sorts ~500-600k rows/s on
4 cores; the derived 2x gate is >=250k rows/s of sort throughput. We report
sort_rows_per_sec for the numeric global sort alongside per-query seconds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time


def main() -> None:
    # --min3-all (r7 verdict stretch #7): re-run EVERY query for min-of-3,
    # not just the 10 slowest. For same-commit clean-window records only —
    # it roughly triples the fixture-query wall, but makes every per-query
    # number band-checkable (±15% rule, SCALING.md) instead of the 113
    # single-shot timings a round-over-round comparison otherwise falls
    # back to. The driver's per-round invocation stays flag-less.
    min3_all = "--min3-all" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args:
        sf_dir = args[0]
    m = re.fullmatch(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.1  # never crash before the JSON line

    from kafka_stream_sorter_spark.registry import QUERIES
    from kafka_stream_sorter_spark.session import codegen_compiles, get_spark

    # Machine calibration: this box is a shared VM whose effective CPU speed
    # has been observed to swing 4-8x between runs of identical code. A
    # fixed-size numpy matmul gives the grader a deterministic-work yardstick
    # to normalize cross-round comparisons (smaller = faster machine).
    import numpy as np

    _a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        _a = _a @ _a / np.linalg.norm(_a)
    calib_sec = round(time.perf_counter() - t0, 3)
    load_avg = round(os.getloadavg()[0], 2)

    t_start = time.perf_counter()
    spark = get_spark(app_name="bench")
    startup_sec = time.perf_counter() - t_start

    # Warm the JVM + parquet footers so per-query numbers measure the
    # queries, not first-touch overhead (the reference's timings likewise
    # exclude container startup — BASELINE.md "excl. fixed startup").
    # Guarded: a fixture-drift failure here must not kill the bench before
    # the per-query loop gets to report it (r2's rc=1 regression class).
    warmup_error = None
    try:
        QUERIES["sort_numeric"](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # Python-worker warmup (r16): fork the worker daemons and pay the
        # pandas/numpy/pyarrow imports ONCE, outside any timed query. The
        # JVM warmup above leaves the Python side cold, and on this host a
        # cold worker pool has billed 20-50 s to whichever Arrow-surface
        # query ran first (measured: multimodal_meta first-shot 26.2 s vs
        # 0.72 s warmed, bench_full_min3_r16 repeat vector). Workers are
        # reused (spark.python.worker.reuse default), so one trivial
        # mapInPandas pass over default-parallelism partitions warms the
        # pool for every later Python-boundary query. Timing methodology
        # is unchanged — this is startup cost excluded like JVM startup.
        def _py_warm(batches):
            import numpy  # noqa: F401 - imported for worker warmup
            import pandas  # noqa: F401

            yield from batches

        n_warm = spark.sparkContext.defaultParallelism
        spark.range(0, n_warm, 1, n_warm).mapInPandas(
            _py_warm, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 - the loop below reports the real
        # error; record the marker so a cold-measured round (per-query
        # timings that include first-touch JVM/footer overhead) is
        # distinguishable in the emitted JSON (r4 ADVICE)
        warmup_error = repr(exc)[:300]

    # One failing query must never zero out the whole round's performance
    # evidence (round 2's bench died rc=1 on a single AnalysisException and
    # produced no numbers at all): time each query independently, record
    # failures, keep going.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Janino compiles per run of each query (a py4j counter read, no Spark
    # job). Repeats should compile nothing: a query whose repeats keep
    # compiling builds new generated source on every call (e.g. a .limit()
    # inside a codegen stage) and shows up here by name.
    compiles: dict[str, list[int]] = {}
    for name in sorted(QUERIES):
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - survive, report, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        compiles[name] = [codegen_compiles(spark) - c0]

    # Noise adjudication (r8 verdict stretch #7): single-shot timings on
    # this shared VM carry documented 3-4x noise, and re-running only the
    # 10 slowest left the HEADLINE total swinging ±25% window-to-window —
    # every round's verdict then re-adjudicates phantom 7-22x single-shot
    # apparitions. Now EVERY query runs twice (min-of-2 is the headline
    # estimator) and the 10 slowest by min-of-2 get a third run; --min3-all
    # gives everything three runs for clean-window records. The single-shot
    # dict stays for r1-r8 continuity.
    # Every repeat's wall is KEPT as a vector (r10 verdict #3): the two r10
    # band movers (dedup_ngram_jaccard, ann_lsh_hyperplane) each cost a
    # manual 8-run probe session to adjudicate as JIT/warmth convergence —
    # the per-repeat vector already contains that evidence (first/last =
    # decay_ratio), so band adjudications can cite the full record instead
    # of separate probe sessions.
    repeat_walls: dict[str, list[float]] = {k: [v] for k, v in timings.items()}

    def _rerun(name: str) -> None:
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - keep the numbers we have
            return
        repeat_walls[name].append(time.perf_counter() - t0)
        compiles[name].append(codegen_compiles(spark) - c0)

    queries_min: dict[str, float] = dict(timings)
    for name in sorted(queries_min, key=queries_min.get, reverse=True):
        _rerun(name)
        if min3_all:
            _rerun(name)
        queries_min[name] = min(repeat_walls[name])
    for name in sorted(queries_min, key=queries_min.get, reverse=True)[:10]:
        if not min3_all:
            _rerun(name)
            queries_min[name] = min(repeat_walls[name])
    queries_min = {k: round(v, 3) for k, v in queries_min.items()}

    # Reference-shaped workload ≙ the reference's whole pipeline at 1/10
    # scale: producer (seeded CSV-row generation, BASELINE.md 60-70k rows/s)
    # then three sequential total-order sorters over the materialized table
    # (BASELINE.md 500-600k rows/s each). Rates are the comparable metric —
    # the fixture queries above are far too small to show sustained rates.
    from kafka_stream_sorter_spark.sources.generator import (
        jit_friendly_codegen,
        reference_records,
    )

    ref_rows = int(os.environ.get("SPARK_GRAFT_REF_ROWS", "5000000"))
    tmp = tempfile.mkdtemp(prefix="ref_workload_")
    try:
        # min-of-2: generation throughput is a headline rate (BASELINE.md
        # 60-70k rows/s) and deserves the same noise guard as the sorts
        produce_runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            with jit_friendly_codegen(spark):
                reference_records(spark, ref_rows).write.mode("overwrite").parquet(tmp)
            produce_runs.append(time.perf_counter() - t0)
        timings["ref_produce"] = round(min(produce_runs), 3)
        src = spark.read.parquet(tmp)
        # continent carries a tie-break: range-partitioning a 6-value key
        # alone puts each key's ties in ONE partition (≤6 of 32 tasks do all
        # the work — the skew every low-cardinality global sort hits at
        # scale). The tie-break makes ranges fine-grained; same spec as the
        # engine's sort_low_cardinality (reference tie order is arbitrary),
        # and it runs through the engine's operator so the dictionary-
        # encoded radix key (operators/sort.py:sort_with_tiebreak) is what
        # gets measured — 1.7-1.8x over the raw two-column orderBy at 50M
        # (scripts/probe_offheap_sort.py).
        from kafka_stream_sorter_spark.operators.sort import sort_with_tiebreak
        # Warm the freshly written table once so the cold first read
        # (footers, page cache) doesn't bill whichever sort happens to run
        # first — the three keys should compare plans, not cache states.
        src.write.format("noop").mode("overwrite").save()
        # min-of-3 per sort: this box is a shared VM and single-shot sort
        # timings have shown 3x run-to-run swings from neighbor load with
        # identical code; the minimum is the standard noise-robust estimate
        # of what the machine can actually do.
        for key, plan_fn in (
            ("id", lambda: src.orderBy("id")),
            ("name", lambda: src.orderBy("name")),
            ("continent", lambda: sort_with_tiebreak(src, "continent", "id")),
        ):
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                plan_fn().write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[f"ref_sort_{key}"] = round(min(runs), 3)
    except Exception as exc:  # noqa: BLE001 - still emit the per-query JSON
        errors["ref_workload"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    sort_times = [
        timings[f"ref_sort_{k}"]
        for k in ("id", "name", "continent")
        if f"ref_sort_{k}" in timings
    ]
    slowest_sort = max(sort_times) if sort_times else None

    # Headline totals use the min estimator (fixture queries at min-of-2+,
    # ref workload already min-of-n); the single-shot sums stay alongside
    # so r1-r8 records remain comparable.
    fixture_single = round(
        sum(v for k, v in timings.items() if not k.startswith("ref_")), 3
    )
    fixture_min = round(
        sum(v for k, v in queries_min.items() if not k.startswith("ref_")), 3
    )
    ref_sum = sum(v for k, v in timings.items() if k.startswith("ref_"))
    total_single = round(sum(timings.values()), 3)
    total = round(fixture_min + ref_sum, 3)
    # The full record (every per-query timing) goes to the committed
    # bench_full_r{N}.json; stdout gets a <=4 KB digest. The round driver
    # archives only a 4 KB tail of stdout and json-parses it — the r1-r5
    # full line (~8 KB at 123 queries) truncated mid-dict and left
    # BENCH_r{N}.json with parsed=null (r5 verdict nit #2). The digest
    # keeps every headline scalar, the repeat metadata, and the slowest
    # queries (the only per-query numbers a round-over-round comparison
    # uses), plus a pointer to the full file.
    out = {
        "metric": "total_query_wall_time",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "ref_rows": ref_rows,
        "startup_sec": round(startup_sec, 3),
    }
    if errors:
        out["errors"] = errors
    if warmup_error is not None:
        out["warmup_error"] = warmup_error
    # NOTE (r15 verdict item 5): `queries` holds FIRST-shot walls (r1-r8
    # continuity); the headline `value` sums `queries_min` below — read
    # per-query movers from `queries_min`, never from this dict.
    out["queries"] = dict(sorted(timings.items(), key=lambda kv: kv[1]))
    # repeat-count metadata + the min-of-N re-measurements, tail-positioned
    # so driver truncation keeps them
    out["repeats"] = {
        "all_queries": 3 if min3_all else 2,
        "slowest_queries": 3,
        "ref_sorts": 3,
        "ref_produce": 2,
        "headline_estimator": "min",
    }
    if min3_all:
        out["repeats"]["min3_all"] = True
    # methodology flag (r16 ADVICE): the Python-worker warmup added in
    # r16 removes cold-daemon fork+import cost from whichever
    # Arrow-surface query runs first, so first-shot `queries` walls are
    # not comparable to pre-r16 records for that query — marked in the
    # record so cross-round tooling can detect the change.
    out["repeats"]["py_worker_warmup"] = True
    out["queries_min"] = dict(sorted(queries_min.items(), key=lambda kv: kv[1]))
    # full-record-only (stripped from the stdout digest below): the raw
    # per-repeat vectors and the first/last decay ratio per query. A
    # decay_ratio well above 1 with a flat tail is the JIT/warmth
    # signature (SCALING.md r10 adjudication rule: decay curves before
    # band-breach verdicts on explode-heavy and sub-second queries).
    out["query_repeat_walls"] = {
        k: [round(x, 3) for x in v] for k, v in sorted(repeat_walls.items())
    }
    out["decay_ratio"] = {
        k: round(v[0] / v[-1], 2)
        for k, v in sorted(repeat_walls.items())
        if len(v) > 1 and v[-1] > 0
    }
    # full-record-only: compiles per run, aligned with query_repeat_walls
    out["codegen_compiles"] = {k: v for k, v in sorted(compiles.items()) if k in repeat_walls}
    out["load_avg_at_start"] = load_avg
    out["calib_matmul_sec"] = calib_sec
    # Provenance: the core count this run actually used (master
    # local[$SPARK_GRAFT_CPUS]) — without it a low-core record is only
    # identifiable by filename convention (additions-only field).
    from kafka_stream_sorter_spark.session import default_parallelism

    out["bench_cpus"] = default_parallelism()
    if "ref_produce" in timings:
        out["ref_generate_rows_per_sec"] = int(ref_rows / max(timings["ref_produce"], 1e-9))
    if slowest_sort is not None:
        out["ref_sort_rows_per_sec"] = int(ref_rows / max(slowest_sort, 1e-9))
    # 'value' = fixture queries at min-of-2+ plus the ref workload (whose
    # entries were already min-of-n); 'value_single_shot' preserves the
    # r1-r8 convention. The fixture scalar is the registered-query sum
    # alone, insensitive to SPARK_GRAFT_REF_ROWS.
    out["fixture_queries_wall_sec"] = fixture_min
    out["fixture_queries_wall_sec_single_shot"] = fixture_single
    out["value_single_shot"] = total_single
    out["unit"] = "sec"
    out["value"] = total
    line = json.dumps(out)

    # Truncation-proof archive: the full record goes to a committed
    # per-round file. Round number = next after the newest BENCH_r{N}.json
    # the driver has recorded here (fallback: epoch-less 'x' never clobbers).
    repo = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    tag = f"{max(rounds) + 1:02d}" if rounds else "x"
    # min3-all records get their own filename so a mid-round clean-window
    # run never clobbers (or is clobbered by) the driver's flag-less
    # per-round archive of the same round number.
    full_name = f"bench_full_min3_r{tag}.json" if min3_all else f"bench_full_r{tag}.json"
    with open(os.path.join(repo, full_name), "w") as fh:
        fh.write(line + "\n")

    # stdout digest: headline scalars + slowest-query timings, hard-capped
    # at 4000 bytes so the driver's 4 KB tail always json-parses.
    digest = {
        k: v
        for k, v in out.items()
        if k not in ("queries", "queries_min", "query_repeat_walls", "decay_ratio",
                     "codegen_compiles")
    }
    digest["full_record"] = full_name
    if errors:  # n_errors stays exact; messages may be elided for size
        digest["errors"] = {k: v[:120] for k, v in list(errors.items())[:5]}
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    for keep in range(15, -1, -5):
        digest["queries"] = dict(sorted(slowest[:keep], key=lambda kv: kv[1]))
        digest["queries_min"] = {
            k: queries_min[k] for k, _ in slowest[:keep] if k in queries_min
        }
        short = json.dumps(digest)
        if len(short) <= 4000:
            break
    if len(short) > 4000:
        # even keep=0 overflowed (pathologically long error strings):
        # drop the messages (n_errors stays exact), then fall back to a
        # guaranteed-parseable minimal digest rather than truncated JSON
        digest.pop("errors", None)
        short = json.dumps(digest)
        if len(short) > 4000:
            short = json.dumps(
                {
                    "metric": out.get("metric"),
                    "value": out.get("value"),
                    "unit": "sec",
                    "sf": out.get("sf"),
                    "n_errors": out.get("n_errors", 0),
                    "full_record": full_name,
                }
            )
    print(short)


if __name__ == "__main__":
    main()
