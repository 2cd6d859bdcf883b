"""Vanilla-session guard: the correctness driver builds its own bare
SparkSession — none of session.get_spark()'s curated configs are present.
Any query that silently depends on a get_spark-only config passes pytest
(whose fixture uses get_spark) yet dies under the driver. Round 1 lost six
oracle rows to exactly that (spark.sql.legacy.parquet.nanosAsLong).

A second session in this process would be polluted by the conftest
session's SparkConf (builder configs propagate to new sessions), so the
only faithful replica is a fresh interpreter: run a small representative
query set — every fixture table's reader plus batch/window/streaming/
pandas-UDF paths — in a subprocess whose session is built exactly like the
driver's.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("vanilla-guard")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

from kafka_stream_sorter_spark.registry import QUERIES
from kafka_stream_sorter_spark.sources.parquet import load_table
from kafka_stream_sorter_spark.schemas import TABLE_NAMES

SF = "/root/testdata/sf0.001"

for t in TABLE_NAMES:
    assert load_table(spark, SF, t).count() > 0, f"load_table({t}) empty"

# One per session-sensitive family: events readers (batch + window +
# sampling), the flagship sort, a streaming drain, a grouped pandas UDF.
REPRESENTATIVE = [
    "sort_numeric",
    "window_rank",
    "dedup_exact",
    "sample_stratified",
    "stream_window_tumbling",
    "udf_grouped_regression_pandas",
    # file-format round-trips serialize timestamps under the session tz —
    # the exact thing a vanilla (non-UTC-pinned) session would corrupt
    "csv_file_roundtrip",
    "jsonl_file_roundtrip",
    "agg_time_bucket",
]
for name in REPRESENTATIVE:
    n = QUERIES[name](spark, SF).count()
    assert n > 0, f"{name}: 0 rows under vanilla session"
    print(f"{name}: {n} rows OK", flush=True)
print("VANILLA_GUARD_PASS")
"""


def test_queries_run_under_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "VANILLA_GUARD_PASS" in proc.stdout
