"""Benchmark of the engine's public surface: two closed-loop workloads.

    python3 perfbench/run.py --workload ref_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client in this process issues one
Spark action at a time on ``local[$SPARK_GRAFT_CPUS]`` (default: all
cores). Workloads (see METRICS.md for every metric and what should move it):

* ``ref_pipeline``: the reference's pipeline through ``cli.main``:
  ``produce --format csv``, then ``sort`` and ``validate`` for each key;
  then ``operators.sort.with_global_position`` on the same seeded records
  in parquet, keys ``(continent, id)`` and ``(name)``.
* ``fixtures_sf0.001``: a fixed subset of the registered queries, from
  every module, on the bundled sf0.001 fixture tables, each to a noop sink.

Set-up (session start, generated inputs, one untimed warm-up pass of the
workload's calls) is timed as ``setup_s``. The timed loop then repeats
whole passes of the calls, at least two and until ``--seconds`` have
elapsed; each call's metric is its median wall over the passes, and the
first pass is also reported on its own so any warm-up decay shows.
Outputs are checked (``validate`` and exact positions 1..N per shape on
ref_pipeline; DuckDB oracle hashes on the fixtures); every failed call or
check counts in ``failed``. Human-readable lines go first; the last line of standard
output is the JSON result. ``--trace 1`` runs the same workload with
Spark's event log on and reports the per-span counters instead.

Everything the run writes lives under ``.perfbench/`` in the checkout and
is removed at exit, except ``.perfbench/untraced.jsonl``, which keeps each
untraced run's ``pass_cpu_s`` and ``pass_s`` so a traced run can report its
overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FIXTURES = Path(__file__).resolve().parent / "fixtures" / "sf0.001"
STATE = ROOT / ".perfbench"

KEYS = ("id", "name", "continent")
SHAPES = {"continent_id": ("continent", "id"), "name": ("name",)}
#: the timed fixture queries, by module: one per module, plus the named
#: targets of open work (the connected-components loop and the grouped
#: pandas UDF); a fixed list, so queries added to the registry later do not
#: change the workload
FIXTURE_QUERIES = {
    "files_io": ("csv_file_roundtrip",),
    "llm": ("dedup_connected_groups", "text_tokens", "udf_grouped_regression_pandas"),
    "relational": ("join_broadcast",),
    "sorts": ("csv_wire_roundtrip",),
    "streaming": ("stream_cdc_upsert",),
    "tpch": ("tpch_q10_returns",),
}
#: rows of the small variant, which a traced run passes through once when
#: it traces the other workload
SMALL_ROWS = 10_000
#: a run stops starting passes after this many seconds in all, so it ends
#: well inside three minutes even on a slow host
DEADLINE_S = 120


def _environment(work: Path) -> None:
    """Size the session for this host and keep every file it writes in
    ``work``; must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(4, int(phys_gb // 4)))}g")
    sys.path.insert(0, str(ROOT))


def _session(work: Path, trace: bool):
    from kafka_stream_sorter_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _calib() -> float:
    """Seconds for a fixed numpy matmul: tells a slow host from a slow run."""
    import numpy as np

    a = np.random.default_rng(0).random((600, 600))
    a @ a  # first use loads and spins up the BLAS threads
    t0 = time.perf_counter()
    for _ in range(5):
        a = a @ a / np.linalg.norm(a)
    return time.perf_counter() - t0


def _steal_s() -> float:
    """CPU seconds this machine's virtual CPUs have waited for the hypervisor
    since boot (0 where the kernel does not report it); a run with much of
    it shared its host with busy neighbours."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _cpu_s(root: int) -> float:
    """CPU seconds used so far by this process and by process ``root`` with
    its descendants (each with the children it has reaped): the client, the
    driver JVM and its Python workers. Time stolen by the hypervisor is not
    in it."""
    tck = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process has exited
        pid = int(entry.name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    own = os.times()
    return total / tck + own.user + own.system


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cli(argv: list) -> None:
    from kafka_stream_sorter_spark import cli

    # the CLI reports on stdout; keep stdout for the result
    with contextlib.redirect_stdout(sys.stderr):
        cli.main([str(a) for a in argv])


class RefPipeline:
    """The reference's records, N of them from the seed, through two layers:

    * ``cli.main``: ``produce`` them as value-only CSV, then ``sort`` and
      ``validate`` them by each key; ``validate`` asserts order and count
      conservation, so it is also the check;
    * ``with_global_position`` on each key shape over the same records in
      parquet (written in set-up by ``cli produce --format parquet``), each
      to a noop sink; the warm-up pass observes the positions, which must be
      exactly 1..N.
    """

    name = "ref_pipeline"

    def __init__(self, spark, work: Path, seed: int, small: bool = False):
        self.spark, self.seed = spark, seed
        self.rows = SMALL_ROWS if small else 100_000
        self.dir = work / self.name / ("small" if small else "timed")
        self.errors: list[str] = []

    def prepare(self) -> None:
        from kafka_stream_sorter_spark.operators import sort

        # The composite-key packs engage only above GP_COMPOSITE_MIN_ROWS
        # (20M estimated rows), a table too large to generate and position
        # in one run of this benchmark; lowering the gate runs the same
        # pack code at this table size.
        if hasattr(sort, "GP_COMPOSITE_MIN_ROWS"):
            sort.GP_COMPOSITE_MIN_ROWS = 0
        _cli(["produce", "--rows", self.rows, "--seed", self.seed, "--format", "parquet",
              "--out", self.dir / "table"])

    def warm_up(self) -> None:
        for _, fn in self.calls(observe=True):
            fn()

    def calls(self, observe: bool = False):
        src = self.dir / "source"
        yield "cli.produce", lambda: _cli(
            ["produce", "--rows", self.rows, "--seed", self.seed, "--format", "csv", "--out", src]
        )
        for k in KEYS:
            yield f"cli.sort.{k}", lambda k=k: _cli(
                ["sort", "--key", k, "--format", "csv", "--in", src, "--out", self.dir / k]
            )
        for k in KEYS:
            yield f"cli.validate.{k}", lambda k=k: _cli(
                ["validate", "--key", k, "--format", "csv", "--in", src, "--out", self.dir / k]
            )
        for shape, keys in SHAPES.items():
            yield f"operators.sort.position.{shape}", lambda shape=shape, keys=keys: self._position(
                shape, keys, observe
            )

    def _position(self, shape: str, keys: tuple, observe: bool) -> None:
        """Position the table by ``keys`` to a noop sink; with ``observe``,
        also check that the positions are exactly 1..N: count N, min 1,
        max N, and the exact sums of 1..N and of its squares."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kafka_stream_sorter_spark.operators.sort import with_global_position

        df = with_global_position(self.spark.read.parquet(str(self.dir / "table")), *keys)
        if not observe:
            _noop(df)
            return
        n, pos, obs = self.rows, F.col("global_pos"), Observation(shape)
        _noop(df.observe(obs, F.count("*"), F.min(pos), F.max(pos), F.sum(pos), F.sum(pos * pos)))
        got = tuple(obs.get.values())
        want = (n, 1, n, n * (n + 1) // 2, n * (n + 1) * (2 * n + 1) // 6)
        if got != want:
            self.errors.append(f"positions for {shape}: (count, min, max, sum, sum of squares) "
                               f"= {got}, want {want}")

    def check(self) -> list[str]:
        return self.errors

    def report(self, med: dict[str, float]) -> dict[str, tuple[float, str]]:
        n = self.rows
        return {
            "produce_rows_per_s": (n / med["cli.produce"], "rows/s"),
            "sort_rows_per_s": (3 * n / sum(med[f"cli.sort.{k}"] for k in KEYS), "rows/s"),
            "validate_rows_per_s": (3 * n / sum(med[f"cli.validate.{k}"] for k in KEYS), "rows/s"),
            "position_rows_per_s": (
                len(SHAPES) * n / sum(med[f"operators.sort.position.{s}"] for s in SHAPES), "rows/s"
            ),
        }


class Fixtures:
    """``FIXTURE_QUERIES`` on the bundled sf0.001 tables, each to a noop
    sink. The warm-up collects every query once; those hashes are compared
    with the DuckDB oracles after the timed loop. The small variant runs
    the first query of each module."""

    name = "fixtures_sf0.001"

    def __init__(self, spark, work: Path, seed: int, small: bool = False):
        picked = {m: qs[:1] if small else qs for m, qs in FIXTURE_QUERIES.items()}
        self.spark, self.queries = spark, [(m, q) for m, qs in picked.items() for q in qs]
        self.labels = [q for _, q in self.queries]
        self.hashes: dict[str, tuple[int, str]] = {}

    def prepare(self) -> None:
        pass

    def warm_up(self) -> None:
        from kafka_stream_sorter_spark.registry import QUERIES
        from tests.oracle_utils import value_hash

        for _, q in self.queries:
            pdf = QUERIES[q](self.spark, str(FIXTURES)).toPandas()
            self.hashes[q] = (len(pdf), value_hash(pdf))

    def calls(self):
        from kafka_stream_sorter_spark.registry import QUERIES

        for module, q in self.queries:
            yield f"queries.{module}", lambda q=q: _noop(QUERIES[q](self.spark, str(FIXTURES)))

    def check(self) -> list[str]:
        from kafka_stream_sorter_spark.registry import ORACLES
        from tests.oracle_utils import duck_connect, value_hash

        errors = []
        con = duck_connect(str(FIXTURES))
        try:
            for q, got in self.hashes.items():
                want = con.execute(ORACLES[q]).fetchdf()
                if got != (len(want), value_hash(want)):
                    errors.append(f"{q}: (rows, hash) {got[0]}/{got[1][:12]} vs oracle "
                                  f"{len(want)}/{value_hash(want)[:12]}")
        finally:
            con.close()
        return errors

    def report(self, med: dict[str, float]) -> dict[str, tuple[float, str]]:
        return {}


WORKLOADS = {w.name: w for w in (RefPipeline, Fixtures)}
#: the traced spans, in order; per-layer metrics are <span>.<counter>
SPANS = ("session", "cli.produce", *(f"cli.sort.{k}" for k in KEYS),
         *(f"cli.validate.{k}" for k in KEYS), *(f"operators.sort.position.{s}" for s in SHAPES),
         *(f"queries.{m}" for m in ("sorts", "llm", "relational", "tpch", "streaming", "files_io")))


class Runner:
    """Runs calls, records their walls, each pass's CPU seconds and the
    spans, and counts failures."""

    def __init__(self, spark, trace: bool):
        from pyspark import SparkContext

        self.spark, self.trace = spark, trace
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spans = []
        self.pass_cpu: list[float] = []
        self.attempted = self.failed = 0
        self.first_error: str | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.first_error is None:
            self.first_error = what
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """Name the jobs of the enclosed call ``name`` and record its window
        (from ``start``, an earlier ``time.time()``, when given)."""
        from eventlog import Span

        if self.trace:
            self.spark.sparkContext.setJobDescription(name)
        start = time.time() if start is None else start
        try:
            yield
        finally:
            if self.trace:
                self.spans.append(Span(name, start * 1e3, time.time() * 1e3))
                self.spark.sparkContext.setJobDescription(None)

    def run_pass(self, workload) -> list[float]:
        cpu0 = _cpu_s(self.jvm_pid)
        walls = []
        for name, fn in workload.calls():
            self.attempted += 1
            with self.span(name):
                t0 = time.perf_counter()
                try:
                    fn()
                except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
                    self.fail(f"{name}: {traceback.format_exc(limit=3)}")
                walls.append(time.perf_counter() - t0)
        self.pass_cpu.append(_cpu_s(self.jvm_pid) - cpu0)
        return walls

    def check(self, workload) -> None:
        self.attempted += 1
        try:
            errors = workload.check()
        except Exception:  # noqa: BLE001
            errors = [traceback.format_exc(limit=3)]
        if errors:
            self.fail(f"check {workload.name}: {errors[0]} ({len(errors)} errors)")


def _tail(values: list[float]) -> tuple[int, float]:
    """The highest percentile (in steps of 5) with at least ten samples
    beyond it, and its value."""
    for p in range(95, 0, -5):
        if len(values) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100)[p - 1]
    return 50, statistics.median(values)


def _print(name: str, value: float, unit: str) -> None:
    print(f"  {name:<26} {value:14.4f} {unit}")


def run(args, work: Path) -> dict:
    cls = WORKLOADS[args.workload]
    fingerprint = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "load_avg_start": os.getloadavg()[0],
        "calib_matmul_s_before": _calib(),
    }
    steal_start = _steal_s()
    t_start, epoch_start = time.perf_counter(), time.time()
    spark = _session(work, args.trace)
    session_s = time.perf_counter() - t_start
    runner = Runner(spark, args.trace)
    try:
        with runner.span("session", start=epoch_start):
            workload = cls(spark, work, args.seed)
            workload.prepare()
            workload.warm_up()
        setup_s = time.perf_counter() - t_start

        passes = []
        t0 = time.perf_counter()
        while len(passes) < 2 or (time.perf_counter() - t0 < args.seconds
                                  and time.perf_counter() - t_start < DEADLINE_S):
            passes.append(runner.run_pass(workload))
        timed_s = time.perf_counter() - t0
        pass_cpu = list(runner.pass_cpu)

        if args.trace:
            # one small pass of every other workload, so every span is measured
            for other in WORKLOADS.values():
                if other is not cls:
                    with runner.span("probe.setup"):
                        probe = other(spark, work, args.seed, small=True)
                        probe.prepare()
                    runner.run_pass(probe)
        runner.check(workload)
        fingerprint["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        _stop(spark)
    fingerprint["calib_matmul_s_after"] = _calib()
    fingerprint["steal_s"] = round(_steal_s() - steal_start, 2)
    import pyspark

    fingerprint["pyspark"] = pyspark.__version__

    names = [n for n, _ in workload.calls()]
    med = [statistics.median(p[i] for p in passes) for i in range(len(names))]
    labels = getattr(workload, "labels", names)
    by_name: dict[str, float] = {}
    for n, m in zip(names, med):
        by_name[n] = by_name.get(n, 0.0) + m
    walls = [w for p in passes for w in p]
    pass_s = sum(med)
    pass_cpu_s = statistics.median(pass_cpu)
    tail_p, tail_v = _tail(walls)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} passes={len(passes)} "
          f"calls={len(walls)} timed_s={timed_s:.1f}")
    print("  fingerprint " + json.dumps(fingerprint, sort_keys=True))
    _print("pass_cpu_s", pass_cpu_s, "s")
    _print("pass_s", pass_s, "s")
    _print("first_pass_s", sum(passes[0]), "s")
    print("  pass walls: " + " ".join(f"{sum(p):.3f}" for p in passes))
    print("  pass cpu: " + " ".join(f"{c:.3f}" for c in pass_cpu))
    _print("call_geomean_s", statistics.geometric_mean(med), "s")
    _print("call_p50_s", statistics.median(walls), "s")
    if tail_p > 50:
        _print(f"call_p{tail_p}_s", tail_v, "s")
    for k, (v, unit) in workload.report(by_name).items():
        _print(k, v, unit)
    print("  median wall per call: " + ", ".join(f"{n} {m:.3f}" for n, m in zip(labels, med)))
    _print("setup_s", setup_s, "s")
    _print("session_start_s", session_s, "s")
    _print("fail_ratio", runner.failed / max(runner.attempted, 1), "ratio")
    if runner.first_error:
        print(f"  first_error {runner.first_error.splitlines()[0]}")

    result = {"correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed}
    records = STATE / "untraced.jsonl"
    if not args.trace:
        with records.open("a") as fh:
            fh.write(json.dumps({"workload": args.workload, "pass_s": pass_s,
                                 "pass_cpu_s": pass_cpu_s}) + "\n")
        result["metrics"] = {
            "pass_cpu_s": {"value": pass_cpu_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        return result

    from eventlog import COUNTERS, span_counters

    counters, orphans = span_counters(work / "eventlog", runner.spans)
    print(f"  per span, mean per call; jobs outside every span: {orphans}")
    for span in SPANS:
        c = counters[span]
        print(f"    {span:<36} wall {c['wall_s']:8.3f} = jobs {c['wall_s'] - c['driver_gap_s']:8.3f}"
              f" + gap {c['driver_gap_s']:7.3f}  jobs {c['jobs']:5.1f}"
              f"  cpu {c['exec_cpu_s']:7.3f}  wait {c['exec_wait_s']:7.3f}")
    untraced = []
    if records.exists():
        untraced = [r for r in map(json.loads, records.read_text().splitlines())
                    if r["workload"] == args.workload]
    if untraced:
        for key, traced in (("pass_cpu_s", pass_cpu_s), ("pass_s", pass_s)):
            base = statistics.median(r[key] for r in untraced)
            print(f"  trace_overhead {key} {traced / base - 1:+.3f} (traced {traced:.3f} s against "
                  f"the median {base:.3f} s of {len(untraced)} untraced runs in this checkout)")
    else:
        print("  trace_overhead unknown: no untraced run of this workload in this checkout")
    result["metrics"] = {
        f"{span}.{counter}": {"value": counters[span][counter], "unit": unit}
        for span in SPANS for counter, unit in COUNTERS.items()
    }
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "kafka_stream_sorter_spark" / "cli.py").is_file():
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = STATE / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        _environment(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
