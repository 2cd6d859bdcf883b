#!/usr/bin/env python
"""Driver-replica harness: exercises the repo's __spark_entry__.py exactly
the way the round driver does — entry() smoke at sf0.001, then every
queries() entry at sf0.01 compared against oracle_sql() via DuckDB
(row count + schema + order-insensitive values). Run from anywhere:

    python scripts/verify_driver_contract.py [sf_dir]
    python scripts/verify_driver_contract.py --exact [sf_dir] [query ...]

``--exact`` (r4 verdict, next-round item 2) closes the gap that let a
merge-order-nondeterministic query sail through two rounds of green
local gates: instead of the tolerance compare, each query is executed
FOUR times at different shuffle-partition counts (8/3/32/200 — different
partition counts force different partial-merge shapes; 200 is the
default of the driver's bare session; the 3-partition run additionally
pins AQE partition-coalescing OFF so the four merge shapes stay
genuinely distinct) and reduced to the driver's sort-insensitive EXACT
value hash. Any run-to-run hash jitter, or any Spark-vs-oracle hash
difference, is a FAIL. Optional trailing query names restrict the run
in either mode (fast iteration); unknown names fail loudly."""

from __future__ import annotations

import importlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_args = [a for a in sys.argv[1:]]
EXACT = "--exact" in _args
if EXACT:
    _args.remove("--exact")
# First arg is the sf_dir iff it names a real directory (absolute OR
# relative — a startswith('/') test silently verified the default dir
# for relative paths); everything after is a query-name filter.
if _args and os.path.isdir(_args[0]):
    SF, ONLY = os.path.abspath(_args[0]), set(_args[1:])
elif _args and (os.sep in _args[0] or _args[0].startswith("sf")):
    raise SystemExit(f"sf_dir argument {_args[0]!r} is not a directory")
else:
    SF, ONLY = "/root/testdata/sf0.01", set(_args)

# (shuffle partitions, AQE partition-coalescing enabled). Varying the
# partition count forces different partial-merge shapes; 200 is the
# default of the driver's bare session. One run pins the AQE coalescer
# OFF (r5 ADVICE): with it on, the coalescer can collapse several of
# these counts to similar final shapes at sf0.01, weakening the jitter
# detection the ×4 repetition is meant to buy.
EXACT_CONFIGS = (("8", "true"), ("3", "false"), ("32", "true"), ("200", "true"))


def main() -> int:
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.join(REPO, "tests"))
    from oracle_utils import compare_frames, duck_connect, value_hash

    # Deliberately a VANILLA session (not session.get_spark): the round
    # driver builds its own bare SparkSession, so every query must work
    # without our curated configs. Round 1 lost 6 oracle rows to exactly
    # this gap (nanos parquet reads depended on a get_spark-only flag).
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-driver-contract")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    mod = importlib.import_module("__spark_entry__")

    t0 = time.time()
    n = mod.entry(spark).count()
    print(f"entry(spark): {n} rows in {time.time()-t0:.1f}s -> {'OK' if n > 0 else 'FAIL'}")
    if n <= 0:
        return 1

    qs, oracles = mod.queries(), mod.oracle_sql()
    # a typo must not shrink the selection into a zero-query "ALL MATCH" —
    # fail loudly instead, in BOTH modes (r5 ADVICE: the filter used to be
    # silently ignored outside --exact, and a mistyped sf_dir without a
    # path separator was classified as a filter then dropped, so the run
    # verified the default scale while printing ALL MATCH)
    unknown = ONLY - set(qs)
    if unknown:
        print(f"FAIL: unknown query names (or mistyped sf_dir): {sorted(unknown)}")
        return 1
    print(f"{len(qs)} queries, {len(oracles)} with oracles, sf_dir={SF}"
          + (f", EXACT-HASH mode ×{len(EXACT_CONFIGS)}" if EXACT else ""))
    con = duck_connect(SF)
    failures = []
    if EXACT:
        names = [n for n in qs if not ONLY or n in ONLY]
        for name in names:
            t0 = time.time()
            hashes = []
            try:
                for parts, coalesce in EXACT_CONFIGS:
                    spark.conf.set("spark.sql.shuffle.partitions", parts)
                    spark.conf.set(
                        "spark.sql.adaptive.coalescePartitions.enabled", coalesce
                    )
                    hashes.append(value_hash(qs[name](spark, SF).toPandas()))
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                print(f"  {name:28s} SPARK ERROR: {e}")
                continue
            if len(set(hashes)) != 1:
                failures.append(name)
                print(f"  {name:28s} HASH JITTER across partitionings: {hashes}")
                continue
            if name not in oracles:
                print(f"  {name:28s} stable ×{len(hashes)} (no oracle)  [{time.time()-t0:.1f}s]")
                continue
            try:
                oh = value_hash(con.execute(oracles[name]).fetchdf())
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                print(f"  {name:28s} ORACLE ERROR: {e}")
                continue
            if oh != hashes[0]:
                failures.append(name)
                print(f"  {name:28s} HASH MISMATCH vs oracle: spark={hashes[0][:12]} duck={oh[:12]}")
            else:
                print(f"  {name:28s} exact ×{len(hashes)} + oracle  [{time.time()-t0:.1f}s]")
        con.close()
        # Chain the gp-grouped verifier (r11 verdict item 5): the two
        # registered fanout queries' ≥20M packed plans are invisible to
        # the oracle gate (the gate is deliberate), so the registry-wide
        # exact-hash closing gate must also prove packed ≡ struct ≡
        # oracle — a sort.py change can't silently skip it. Runs for the
        # full sweep or when either fanout query is in the filter.
        gp_names = {
            "keyed_fanout_ts",
            "keyed_fanout_score",
            "keyed_fanout_name",
            "keyed_fanout_url",
            "keyed_fanout_pair",
            "keyed_fanout_unique",
        }
        if not failures and (not ONLY or ONLY & gp_names):
            import verify_gp_grouped_registered as gp

            print("\n--- gp-grouped packed-path verifier (chained) ---")
            # a FILTERED exact run verifies only the fanout shapes it
            # touched (r12 ADVICE item 2); the registry-wide closing
            # gate (no filter) still sweeps every shape
            if gp.main(SF, names=(ONLY & gp_names) if ONLY else None) != 0:
                failures.append("gp_grouped_packed_paths")
        ok = "ALL MATCH (exact-hash" + (
            f", subset {len(ONLY)}/{len(qs)})" if ONLY else ")"
        ) + (" + gp-grouped" if (not ONLY or ONLY & gp_names) else "")
        print(f"\n{'FAIL: ' + ', '.join(failures) if failures else ok}")
        return 1 if failures else 0
    for name in sorted(n for n in qs if not ONLY or n in ONLY):
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"  {name:28s} SPARK ERROR: {e}")
            continue
        if name not in oracles:
            status = f"rows-only: {len(spark_pdf)} rows"
            if len(spark_pdf) == 0:
                failures.append(name)
                status += " (EMPTY!)"
            print(f"  {name:28s} {status}  [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
            problems = compare_frames(spark_pdf, duck_pdf)
        except Exception as e:  # noqa: BLE001 - one bad oracle/compare must
            # not abort the harness before the remaining queries run and the
            # final FAIL/ALL MATCH line prints (Spark errors are already
            # caught above; this closes the same hole on the oracle side)
            failures.append(name)
            print(f"  {name:28s} ORACLE/COMPARE ERROR: {e}")
            continue
        if problems:
            failures.append(name)
            print(f"  {name:28s} MISMATCH: {'; '.join(problems)}")
        else:
            print(f"  {name:28s} match ({len(spark_pdf)} rows)  [{time.time()-t0:.1f}s]")
    con.close()
    # a filtered run must be visibly distinct from the full driver-replica
    # gate CLAUDE.md requires — 'ALL MATCH' alone is reserved for the
    # full sweep (r6 ADVICE item 5)
    suffix = f" (subset {len(ONLY)}/{len(qs)})" if ONLY else ""
    print(f"\n{'FAIL: ' + ', '.join(failures) if failures else 'ALL MATCH' + suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
