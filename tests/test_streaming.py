"""Streaming-specific assertions beyond oracle parity (which
test_oracle_parity.py covers for every stream_* query): ordering of the
sorted drain, statefulness of the custom operator, and bounded-drain
termination."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_sorter_spark.registry import QUERIES
from kafka_stream_sorter_spark.sources.parquet import load_table
from kafka_stream_sorter_spark.streaming import ops


def test_sorted_drain_is_totally_ordered_and_conserving(spark, sf_dir):
    out = ops.drain_sorted(ops.stream_events(spark, sf_dir), ["event_id"])
    # conservation: exactly the input rows
    n_in = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_in
    # total order is recoverable: files are range-disjoint sorted runs, so a
    # single coalesced pass in key order must be globally ascending
    ordered = out.orderBy("event_id").select("event_id")
    lagged = ordered.withColumn("prev", F.lag("event_id").over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("event_id")
    ))
    violations = lagged.filter(F.col("prev").isNotNull() & (F.col("prev") > F.col("event_id")))
    assert violations.count() == 0


def test_stateful_user_stats_matches_batch_groupby(spark, sf_dir):
    got = QUERIES["stream_stateful_user_stats"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    from kafka_stream_sorter_spark.functions.numeric import money_micros

    want = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money_micros(F.col("value"))).alias("sum_value_micros"),
        F.max("value").alias("max_value"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_tumbling_windows_cover_all_events(spark, sf_dir):
    got = QUERIES["stream_window_tumbling"](spark, sf_dir)
    n_in = load_table(spark, sf_dir, "events").count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_in


def test_session_windows_respect_gap(spark, sf_dir):
    got = QUERIES["stream_session_window"](spark, sf_dir)
    # every session spans >= gap (end = last event + 1h) and counts >= 1
    bad = got.filter(
        (F.col("session_end_us") < F.col("session_start_us") + F.lit(3_600_000_000))
        | (F.col("n_events") < 1)
    )
    assert bad.count() == 0


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """True watermark semantics need >1 micro-batch: file 0 advances the
    watermark; a late row arriving in file 1 (event-time far behind the
    watermark) must be dropped from an append-mode windowed aggregate."""
    import pandas as pd

    d = tmp_path / "stream_src"
    d.mkdir()
    # batch 0: events at 10:00-10:05 → watermark after batch = 10:05 - 1h? no:
    # wm = max_ts - delay = 10:05 - 10min = 09:55
    # datetime64[us]: pandas defaults to nanos, which the session reads as
    # long (nanosAsLong) and would mismatch the declared TimestampType.
    # Watermark updates lag one batch (computed from the PREVIOUS batch's
    # max event time) and the late-row filter lags one more, so the late row
    # arrives two batches after the data that advances the watermark.
    batches = [
        ["2024-01-01 10:00", "2024-01-01 10:05"],  # → wm becomes 09:55
        ["2024-01-01 10:20"],                      # filter now uses 09:55
        ["2024-01-01 08:00", "2024-01-01 10:25"],  # 08:00 is LATE → dropped
    ]
    vals = [[1.0, 2.0], [4.0], [8.0, 16.0]]
    import os

    for i, (ts, v) in enumerate(zip(batches, vals)):
        f = d / f"part-{i:03d}.parquet"
        pd.DataFrame(
            {"ts": pd.to_datetime(ts).astype("datetime64[us]"), "v": v}
        ).to_parquet(f)
        # the file source orders by MODIFICATION time; writes can land in one
        # clock tick, so pin mtimes to force file i → micro-batch i
        os.utime(f, (1_700_000_000 + 100 * i,) * 2)

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType, TimestampType

    schema = StructType([StructField("ts", TimestampType()), StructField("v", DoubleType())])
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(d))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("sum_v"))
        .select(F.col("w.start").alias("win_start"), "sum_v")
    )
    out = ops.drain_to_table(sdf, "append")
    got = {r["win_start"].hour: r["sum_v"] for r in out.collect()}
    # the 08:00 late row must NOT appear; in-time rows (1+2+4 in the 10:00
    # window, 16 in its own) stay in state or emit, but never the late 8.0
    assert 8 not in got, f"late row leaked into a closed window: {got}"
    assert sum(got.values()) <= 23.0 and 8.0 not in got.values(), got


def test_batch_and_stream_sessionization_agree(spark, sf_dir):
    """Cross-paradigm consistency: gap-based batch sessionization (lag +
    running sum) and Structured Streaming's session_window must produce
    the SAME session partition of events for the same 1-hour gap — the
    (user, n_events-per-session) multisets match exactly."""
    from collections import Counter

    from pyspark.sql import Window

    from kafka_stream_sorter_spark.queries.streaming import stream_session_window
    from kafka_stream_sorter_spark.sources.parquet import load_table

    stream_rows = stream_session_window(spark, sf_dir).select("user_id", "n_events")
    got = Counter((r.user_id, r.n_events) for r in stream_rows.collect())

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 3_600_000_000
    from kafka_stream_sorter_spark.functions.numeric import epoch_us

    flagged = ev.select(
        "user_id",
        F.when(
            (epoch_us("ts") - epoch_us(F.lag("ts").over(w))).isNull()
            | ((epoch_us("ts") - epoch_us(F.lag("ts").over(w))) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
        "ts",
        "event_id",
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    batch_rows = sess.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("n_events"))
    want = Counter((r.user_id, r.n_events) for r in batch_rows.collect())
    assert got == want


def test_registered_watermarks_are_the_drain_constant():
    """Pin the batch-disorder law (SCALING.md round-8 streaming probe):
    a bounded AvailableNow replay delivers files in mtime order, so event
    TIME interleaves arbitrarily across micro-batches — any watermark
    smaller than the batch-level delivery disorder silently drops rows
    (measured: a 1h watermark lost 69% of interval-join pairs at 50M).
    Registered queries are immune ONLY because every withWatermark call
    in the engine passes DRAIN_WATERMARK (3650 days > any replayed span).

    This test makes the unsafe regime unreachable by edit: every
    ``withWatermark`` call site inside the package must pass the
    DRAIN_WATERMARK *symbol* (not a literal), and the constant must
    exceed the largest fixture's event-time span by a wide margin.
    A live deployment tunes the lateness SLA instead — see the
    DRAIN_WATERMARK rationale in queries/streaming.py.
    """
    import ast
    import glob
    import os
    import re

    import kafka_stream_sorter_spark as pkg
    from kafka_stream_sorter_spark.queries.streaming import DRAIN_WATERMARK

    pkg_dir = os.path.dirname(pkg.__file__)
    call_sites = []
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read(), filename=path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "withWatermark"
            ):
                call_sites.append((path, node))
    # the engine does use watermarks (sanity: the scan isn't vacuous)
    assert len(call_sites) >= 6, call_sites
    offenders = [
        f"{p}:{n.lineno}"
        for p, n in call_sites
        if not (
            len(n.args) == 2
            and isinstance(n.args[1], ast.Name)
            and n.args[1].id == "DRAIN_WATERMARK"
        )
    ]
    assert not offenders, (
        "withWatermark call sites not using the DRAIN_WATERMARK constant "
        f"(batch-disorder law, see this test's docstring): {offenders}"
    )

    # the constant itself must dwarf any fixture's replayed span
    m = re.fullmatch(r"(\d+)\s+days?", DRAIN_WATERMARK)
    assert m, f"DRAIN_WATERMARK not in 'N days' form: {DRAIN_WATERMARK!r}"
    drain_days = int(m.group(1))
    import duckdb

    span_days = 0.0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        lo, hi = duckdb.sql(
            f"SELECT min(ts), max(ts) FROM read_parquet('{path}/*.parquet')"
            if os.path.isdir(path)
            else f"SELECT min(ts), max(ts) FROM read_parquet('{path}')"
        ).fetchone()
        span_days = max(span_days, (hi - lo).total_seconds() / 86400)
    assert span_days > 0
    assert drain_days > 10 * span_days, (
        f"DRAIN_WATERMARK ({drain_days}d) too close to the fixture span "
        f"({span_days:.1f}d) — the bounded replay would re-enter the "
        "batch-disorder drop regime"
    )


def test_source_schema_memo_invalidates_on_mtime(spark, sf_dir, tmp_path):
    """r17: the stream source's footer-schema read memoizes per path on
    (mtime, size) — same schema object back within a fixture generation,
    a fresh read (overwriting the path's entry) after the file changes,
    and never a stale schema."""
    import os
    import shutil

    from kafka_stream_sorter_spark.sources.parquet import table_path
    from kafka_stream_sorter_spark.streaming import ops

    src = table_path(sf_dir, "events")
    p = str(tmp_path / "events.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, p)
    else:
        shutil.copy(src, p)
    ops._SCHEMA_MEMO.clear()
    s1 = ops._source_schema(spark, p)
    assert len(ops._SCHEMA_MEMO) == 1
    s2 = ops._source_schema(spark, p)
    assert s2 is s1  # memo hit
    os.utime(p, (os.path.getatime(p), os.path.getmtime(p) + 10))
    s3 = ops._source_schema(spark, p)
    assert s3 is not s1  # mtime change -> footer read again
    assert len(ops._SCHEMA_MEMO) == 1  # ... overwriting the path's entry
    assert s3 == s1  # same file content -> equal schema, freshly read


def test_source_schema_memo_invalidates_on_inplace_part_rewrite(
    spark, sf_dir, tmp_path
):
    """r17 review: for a DIRECTORY-layout source, rewriting a part file
    in place (same name — how a fixture regeneration can land) changes
    neither the directory's mtime nor its size, so the memo key must
    fold in the part files' own (name, mtime, size) or it would serve
    the stale pre-regeneration schema — the exact schema-drift failure
    the batch footer read exists to prevent."""
    import os
    import shutil

    from kafka_stream_sorter_spark.sources.parquet import table_path
    from kafka_stream_sorter_spark.streaming import ops

    src = table_path(sf_dir, "events")
    d = tmp_path / "events.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    if os.path.isdir(src):
        inner = next(
            f for f in sorted(os.listdir(src)) if not f.startswith((".", "_"))
        )
        shutil.copy(os.path.join(src, inner), part)
    else:
        shutil.copy(src, part)
    p = str(d)
    ops._SCHEMA_MEMO.clear()
    s1 = ops._source_schema(spark, p)
    assert ops._source_schema(spark, p) is s1  # memo hit
    assert len(ops._SCHEMA_MEMO) == 1
    # in-place rewrite: same file name, same directory entry set; pin the
    # DIRECTORY's mtime back so only the part file's own stat changes
    dir_stat = os.stat(p)
    os.utime(part, (os.path.getatime(part), os.path.getmtime(part) + 10))
    os.utime(p, (dir_stat.st_atime, dir_stat.st_mtime))
    s3 = ops._source_schema(spark, p)
    assert s3 is not s1  # part-file change -> footer read again
    assert len(ops._SCHEMA_MEMO) == 1  # ... overwriting the path's entry
    assert s3 == s1  # same content -> equal schema, freshly read


def test_source_schema_memo_keeps_one_entry_per_path(spark, sf_dir, tmp_path):
    """Each rewrite of a part file re-reads the footer and OVERWRITES the
    path's entry: regenerating fixtures any number of times leaves one
    entry per path, never a trail of stale stat keys."""
    import os
    import shutil

    from kafka_stream_sorter_spark.sources.parquet import table_path
    from kafka_stream_sorter_spark.streaming import ops

    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        src = os.path.join(
            src, next(f for f in sorted(os.listdir(src)) if not f.startswith((".", "_")))
        )
    d = tmp_path / "events.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    shutil.copy(src, part)
    p = str(d)
    ops._SCHEMA_MEMO.clear()
    seen = [ops._source_schema(spark, p)]
    for bump in (10, 20):  # rewrite the part file in place, twice
        shutil.copy(src, part)
        os.utime(part, (os.path.getatime(part), os.path.getmtime(part) + bump))
        seen.append(ops._source_schema(spark, p))
        assert seen[-1] is not seen[-2]  # stale stats -> footer read again
        assert list(ops._SCHEMA_MEMO) == [p]
    assert seen[0] == seen[1] == seen[2]


def test_source_schema_nested_partition_rewrite_sees_new_schema(spark, tmp_path):
    """A partitioned source (key=val/part files) is read fresh on every
    call: an in-place rewrite of a NESTED part file changes no top-level
    entry's stat, so a memo keyed on top-level stats would keep serving
    the pre-rewrite schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_sorter_spark.streaming import ops

    d = tmp_path / "events.parquet"
    part_dir = d / "key=1"
    part_dir.mkdir(parents=True)
    part = part_dir / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    p = str(d)
    ops._SCHEMA_MEMO.clear()
    s1 = ops._source_schema(spark, p)
    assert "b" not in s1.fieldNames()
    # rewrite the nested part file in place with a wider schema; pin
    # both directories' mtimes so no top-level stat changes
    dir_stats = [os.stat(x) for x in (d, part_dir)]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    for x, st in zip((d, part_dir), dir_stats):
        os.utime(x, (st.st_atime, st.st_mtime))
    s2 = ops._source_schema(spark, p)
    assert "b" in s2.fieldNames(), s2
    assert p not in ops._SCHEMA_MEMO
