"""Per-span counters read from Spark's event log.

The benchmark names each call it makes (a *span*), tags the call's jobs
with ``setJobDescription(span)`` and records the span's wall-clock window.
After the session stops, :func:`span_counters` reads the event log the
session wrote and attributes every job, stage and task to a span:

* a job goes to the span named by its description; a job whose
  description was replaced (streaming micro-batches run on their own
  thread and carry their own description) goes to the span whose window
  contains its submission time;
* a stage goes to the latest job submitted at or before the stage;
* a task goes to its stage.

Counters per span, averaged per call so runs of different length compare:
``wall_s``, ``jobs``, ``driver_gap_s`` (wall minus the union of the jobs'
submit→end intervals: planning, py4j and driver collects), ``exec_cpu_s``
(sum of executor CPU time), ``exec_wait_s`` (task run time minus CPU
time: Python/Arrow workers, I/O, GC), ``shuffle_mb`` (shuffle bytes
written), ``spill_mb`` (bytes spilled to disk) and ``task_skew`` (max over
median task run time in the span's largest stage).
"""

from __future__ import annotations

import bisect
import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "driver_gap_s": "s",
    "exec_cpu_s": "s",
    "exec_wait_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}


@dataclass
class Span:
    """One call: its name and wall-clock window in epoch milliseconds."""

    name: str
    start_ms: float
    end_ms: float


@dataclass
class _Job:
    submit_ms: int
    end_ms: int = 0
    description: str | None = None
    span: int | None = None  # index into the span list


@dataclass
class _Stage:
    submit_ms: int = 0
    job: int | None = None
    tasks: list = field(default_factory=list)  # (run_ms, cpu_ns, shuffle_b, spill_b)


def _read_events(log_dir: Path):
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with files[0].open() as fh:
        for line in fh:
            yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_counters(log_dir: Path, spans: list[Span]) -> tuple[dict, int]:
    """Return ``({span name: {counter: value}}, unattributed job count)``.

    Every counter is a per-call mean over the span's occurrences, so
    ``wall_s == job-union seconds + driver_gap_s`` holds per span.
    """
    jobs: dict[int, _Job] = {}
    stages: dict[int, _Stage] = defaultdict(_Stage)
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = _Job(
                ev["Submission Time"], description=props.get("spark.job.description")
            )
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]].submit_ms = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            stages[ev["Stage ID"]].tasks.append((
                m["Executor Run Time"],
                m["Executor CPU Time"],
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                m["Disk Bytes Spilled"],
            ))

    names = [s.name for s in spans]
    starts = [s.start_ms for s in spans]
    unattributed = 0
    for job in jobs.values():
        if job.description in names:
            # a span name recurs across passes: take the occurrence whose
            # window opened last at or before the job was submitted
            idx = [i for i, n in enumerate(names) if n == job.description]
            job.span = max((i for i in idx if starts[i] <= job.submit_ms + 1), default=idx[0])
        else:
            i = bisect.bisect_right(starts, job.submit_ms) - 1
            if i >= 0 and job.submit_ms <= spans[i].end_ms:
                job.span = i
            else:
                unattributed += 1

    order = sorted(jobs, key=lambda j: jobs[j].submit_ms)
    submits = [jobs[j].submit_ms for j in order]
    for stage in stages.values():
        i = bisect.bisect_right(submits, stage.submit_ms) - 1
        stage.job = order[max(i, 0)] if order else None

    per_call: dict[int, dict] = {i: {"jobs": [], "stages": []} for i in range(len(spans))}
    for jid, job in jobs.items():
        if job.span is not None:
            per_call[job.span]["jobs"].append(jid)
    for stage in stages.values():
        if stage.job is not None and jobs[stage.job].span is not None:
            per_call[jobs[stage.job].span]["stages"].append(stage)

    totals: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for i, span in enumerate(spans):
        call = per_call[i]
        wall = span.end_ms - span.start_ms
        union = _union_ms([
            (max(jobs[j].submit_ms, span.start_ms), min(jobs[j].end_ms or span.end_ms, span.end_ms))
            for j in call["jobs"]
        ])
        tasks = [t for st in call["stages"] for t in st.tasks]
        run_ms = sum(t[0] for t in tasks)
        cpu_s = sum(t[1] for t in tasks) / 1e9
        biggest = max(call["stages"], key=lambda st: sum(t[0] for t in st.tasks), default=None)
        skew = 0.0
        if biggest is not None and biggest.tasks:
            runs = [t[0] for t in biggest.tasks]
            skew = max(runs) / max(statistics.median(runs), 1)
        c = totals[span.name]
        c["wall_s"].append(wall / 1e3)
        c["jobs"].append(len(call["jobs"]))
        c["driver_gap_s"].append((wall - union) / 1e3)
        c["exec_cpu_s"].append(cpu_s)
        c["exec_wait_s"].append(run_ms / 1e3 - cpu_s)
        c["shuffle_mb"].append(sum(t[2] for t in tasks) / 1e6)
        c["spill_mb"].append(sum(t[3] for t in tasks) / 1e6)
        c["task_skew"].append(skew)
    return (
        {name: {k: statistics.fmean(v) for k, v in c.items()} for name, c in totals.items()},
        unattributed,
    )
