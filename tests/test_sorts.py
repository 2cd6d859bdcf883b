from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_stream_sorter_spark.operators import sort as sort_ops
from kafka_stream_sorter_spark.sources.parquet import load_table
from kafka_stream_sorter_spark.validate import (
    assert_count_conserved,
    assert_sorted,
    count_violations,
)


def test_global_sort_numeric(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = sort_ops.global_sort(events, "event_id")
    assert_sorted(out, "event_id", allow_run_merge=False)
    assert_count_conserved(events, out)


def test_global_sort_lexicographic(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    out = sort_ops.global_sort(customer, "c_name")
    assert_sorted(out, "c_name", allow_run_merge=False)
    assert_count_conserved(customer, out)


def test_sort_low_cardinality_with_tiebreak(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = sort_ops.sort_with_tiebreak(events, "event_type", "event_id")
    assert_sorted(out, "event_type", "event_id", allow_run_merge=False)


def test_violation_detector_catches_unsorted(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    # unsorted input must show violations (sanity that the oracle has teeth)
    assert count_violations(events.orderBy(F.rand(7)), "event_id") > 0


def test_topk(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = sort_ops.topk(events, 10, "value").collect()
    assert len(out) == 10
    vals = [r["value"] for r in out]
    assert vals == sorted(vals, reverse=True)


def test_keyed_fanout_orders_each_output(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").cache()
    outs = sort_ops.keyed_fanout(
        events,
        {"by_id": ["event_id"], "by_type": ["event_type", "event_id"]},
    )
    assert set(outs) == {"by_id", "by_type"}
    assert_sorted(outs["by_id"], "event_id", allow_run_merge=False)
    assert_sorted(outs["by_type"], "event_type", "event_id", allow_run_merge=False)


def test_with_global_position(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = sort_ops.with_global_position(events, "event_id")
    rows = out.orderBy("global_pos").select("event_id", "global_pos").collect()
    assert [r["global_pos"] for r in rows] == list(range(1, len(rows) + 1))
    ids = [r["event_id"] for r in rows]
    assert ids == sorted(ids)


def test_with_global_position_null_keys_and_multi_key(spark):
    """Null leading keys must rank first (asc nulls-first) and multi-key
    tuples must get consecutive 1..N positions — exercises the boundary-
    literal struct comparisons with a null field in the row-side tuple."""
    rows = [(None, 3), (None, 1), (5, 2), (2, 9), (2, 4), (9, 0)]
    df = spark.createDataFrame(rows, "k int, tb int")
    got = (
        sort_ops.with_global_position(df, "k", "tb")
        .orderBy("global_pos")
        .select("k", "tb", "global_pos")
        .collect()
    )
    assert [r["global_pos"] for r in got] == list(range(1, 7))
    assert [(r["k"], r["tb"]) for r in got] == [
        (None, 1),
        (None, 3),
        (2, 4),
        (2, 9),
        (5, 2),
        (9, 0),
    ]


def test_with_global_position_null_keys_nonempty_bounds(spark):
    """r6 ADVICE item 3: the 6-row null test above yields ZERO boundary
    literals, so the decision tree was never exercised against null row
    keys. This one is sized past the GP_SAMPLE_MOD threshold so bounds are
    non-empty (asserted via stats) and includes null LEADING keys, null
    TRAILING tiebreaks, and normal rows — positions must match Python's
    replica of Spark's total struct order (null smallest at the deciding
    field)."""
    rows = [((None if i % 97 == 0 else (i * 7) % 2999), i) for i in range(3000)]
    rows += [(100_000 + i, None) for i in range(25)]  # null trailing field
    df = spark.createDataFrame(rows, "k int, tb int")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "tb", "global_pos")
        .collect()
    )
    assert stats["n_buckets"] >= 2, (
        f"bounds empty (sample={stats['sample_rows']}) — decision tree not "
        "exercised; grow the fixture"
    )
    assert [r["global_pos"] for r in got] == list(range(1, len(rows) + 1))
    expect = sorted(
        rows,
        key=lambda r: (
            (r[0] is not None, r[0] if r[0] is not None else 0),
            (r[1] is not None, r[1] if r[1] is not None else 0),
        ),
    )
    assert [(r["k"], r["tb"]) for r in got] == expect


def test_with_global_position_loop_leaves_no_residual_storage(spark, sf_dir):
    """r5 verdict nit #1: the old implementation persisted the sorted frame
    with no release path, so looped fanouts grew storage without bound.
    The deterministic-bucket rewrite caches nothing — 20 fanouts must end
    with zero persisted RDDs/relations (and positions stay exact)."""
    spark.catalog.clearCache()
    # other tests in the session may hold localCheckpoint RDDs that
    # clearCache does not release — assert the DELTA, not the absolute
    def rdd_ids():
        # py4j yields java objects when empty-boxed, plain ints otherwise
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(str(k)) for k in jmap.keySet().toArray()}

    baseline = rdd_ids()
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n = events.count()
    for i in range(20):
        keys = ["event_id"] if i % 2 == 0 else ["user_id", "event_id"]
        out = sort_ops.with_global_position(events, *keys)
        agg = out.agg(
            F.count("*").alias("n"),
            F.min("global_pos").alias("lo"),
            F.max("global_pos").alias("hi"),
            F.count_distinct("global_pos").alias("d"),
        ).collect()[0]
        assert (agg["n"], agg["lo"], agg["hi"], agg["d"]) == (n, 1, n, n)
    leaked = rdd_ids() - baseline
    assert not leaked, f"fanout loop persisted new RDDs: {sorted(leaked)}"


def test_validate_sorted_parquet_reread(spark, tmp_path):
    """A range-disjoint sorted parquet set must validate as sorted after
    re-read even though FileSourceScan bin-packs splits by size (read
    partition order != range order) — and genuinely unsorted data must
    still fail."""
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.validate import assert_sorted, count_violations

    df = spark.range(0, 50_000).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("k"), F.col("id")
    )
    out = str(tmp_path / "sorted")
    df.orderBy("k", "id").write.parquet(out)
    back = spark.read.parquet(out)
    assert_sorted(back, "k", "id")  # must not false-positive on re-read

    bad = str(tmp_path / "unsorted")
    df.write.parquet(bad)  # hash-ish natural order, not sorted
    assert count_violations(spark.read.parquet(bad), "k", "id") > 0


# --- dictionary-encoded radix sort (round 4; probe_offheap_sort.py) -----


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_dict_encoded_sort_matches_plain_exactly(spark, sf_dir):
    """The fast path must reproduce the plain two-column orderBy row
    order bit-exactly (same rows, same order) — it is a physical-only
    rewrite."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    fast = sort_ops.sort_with_tiebreak(events, "event_type", "event_id")
    plain = sort_ops.sort_with_tiebreak(
        events, "event_type", "event_id", dict_encode=False
    )
    assert _rows(fast) == _rows(plain)
    assert fast.columns == plain.columns


def test_dict_encoded_sort_uses_radix_column(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    fast = sort_ops.sort_with_tiebreak(events, "event_type", "event_id")
    assert "_radix_key" in fast._jdf.queryExecution().toString()


def test_dict_encoded_sort_null_keys_sort_first(spark):
    df = spark.createDataFrame(
        [(None, 3), ("b", 1), ("a", 2), (None, 1), ("a", 0)],
        "k string, tb long",
    )
    fast = sort_ops.sort_with_tiebreak(df, "k", "tb")
    plain = sort_ops.sort_with_tiebreak(df, "k", "tb", dict_encode=False)
    assert _rows(fast) == _rows(plain) == [
        (None, 1), (None, 3), ("a", 0), ("a", 2), ("b", 1)
    ]


def test_dict_encoded_sort_falls_back_on_bad_tiebreaks(spark):
    """Negative, null, or huge tiebreaks miss the composite's domain —
    result must still be correct (via the plain path)."""
    for rows in (
        [("a", -5), ("b", 2), ("a", 1)],            # negative
        [("a", None), ("b", 2), ("a", 1)],          # null tiebreak
        [("a", 1 << 50), ("b", 2), ("a", 1)],       # >= 2^48
    ):
        df = spark.createDataFrame(rows, "k string, tb long")
        fast = sort_ops.sort_with_tiebreak(df, "k", "tb")
        plain = sort_ops.sort_with_tiebreak(df, "k", "tb", dict_encode=False)
        assert _rows(fast) == _rows(plain)
        assert "_radix_key" not in fast._jdf.queryExecution().toString()


def test_dict_encoded_sort_falls_back_on_float_tiebreak(spark):
    df = spark.createDataFrame([("a", 1.5), ("b", 0.5)], "k string, tb double")
    fast = sort_ops.sort_with_tiebreak(df, "k", "tb")
    assert "_radix_key" not in fast._jdf.queryExecution().toString()
    assert _rows(fast) == [("a", 1.5), ("b", 0.5)]


def test_dict_encoded_sort_radix_name_collision(spark):
    df = spark.createDataFrame(
        [("b", 2, "x"), ("a", 1, "y")], "k string, tb long, _radix_key string"
    )
    fast = sort_ops.sort_with_tiebreak(df, "k", "tb")
    assert fast.columns == ["k", "tb", "_radix_key"]
    assert _rows(fast) == [("a", 1, "y"), ("b", 2, "x")]


def test_dict_encoded_sort_random_property(spark):
    """Property check: on random (key, tiebreak) data — including null
    keys, duplicate tiebreaks across keys, and single-key degenerate
    distributions — the fast path equals the plain path row for row."""
    import random

    rng = random.Random(1234)
    keys = ["ASIA", "EUROPE", "AFRICA", None, "OCEANIA", ""]
    for trial in range(5):
        n = rng.randint(1, 400)
        rows = [
            (rng.choice(keys if trial % 2 else keys[:2]),
             rng.randrange(0, 1 << 47))
            for _ in range(n)
        ]
        df = spark.createDataFrame(rows, "k string, tb long").repartition(7)
        fast = sort_ops.sort_with_tiebreak(df, "k", "tb")
        plain = sort_ops.sort_with_tiebreak(df, "k", "tb", dict_encode=False)
        assert _rows(fast) == _rows(plain), f"trial {trial} diverged"


def test_validate_binpacked_small_files_reread(spark, tmp_path):
    """FileSourceScan bin-packs several small files into one read
    partition, concatenated in SIZE order — a re-read of perfectly sorted
    range-disjoint files must still validate (run identity is
    (partition, file), not partition alone; found as 5 false inversions
    validating the 50M continent sort). Genuinely unsorted file contents
    must still fail."""
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.validate import assert_sorted, count_violations

    df = spark.range(0, 60_000).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("k"), F.col("id")
    )
    out = str(tmp_path / "many_small_sorted")
    # explicit numPartitions bypasses AQE coalescing -> 64 small files
    df.repartitionByRange(64, "k", "id").sortWithinPartitions("k", "id").write.parquet(out)
    import glob

    assert len(glob.glob(out + "/*.parquet")) >= 32
    # zero the per-file open cost so the scan's bytes-per-core packing
    # actually merges several files per read partition (the default 4 MB
    # open cost keeps tiny fixture files 1:1 with partitions)
    prev_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        back = spark.read.parquet(out)
        assert back.rdd.getNumPartitions() < 64  # packing actually happened
        assert_sorted(back, "k", "id")

        # scrambled rows inside each file must still be caught by the
        # within-run check
        bad_dir = str(tmp_path / "many_small_unsorted")
        df.repartitionByRange(8, "k", "id").write.parquet(bad_dir)  # no within-sort
        assert count_violations(spark.read.parquet(bad_dir), "k", "id") > 0
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev_cost)


def test_with_global_position_timestamp_and_float_nan_keys(spark):
    """Pins the r8 per-field bounds-literal path on the key types the
    other tests don't reach: a timestamp leading key (F.lit(list) of
    datetimes must produce a comparable array<timestamp> literal) and a
    float leading key containing NaN (Spark comparisons and sorts both
    place NaN above every float, so bucket search and the final window
    must agree). Sized past GP_SAMPLE_MOD so bounds are non-empty."""
    import datetime as dt
    import math

    base = dt.datetime(2024, 1, 1)
    ts_rows = [
        (base + dt.timedelta(seconds=(i * 7919) % 4000), i) for i in range(4000)
    ]
    df = spark.createDataFrame(ts_rows, "ts timestamp, tb int")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "ts", "tb", stats=stats)
        .orderBy("global_pos")
        .select("ts", "tb", "global_pos")
        .collect()
    )
    assert stats["n_buckets"] >= 2, "timestamp bounds empty — grow the fixture"
    assert [r["global_pos"] for r in got] == list(range(1, 4001))
    assert [(r["ts"], r["tb"]) for r in got] == sorted(ts_rows)

    f_rows = [
        (float("nan") if i % 211 == 0 else ((i * 7919) % 4000) / 16.0, i)
        for i in range(4000)
    ]
    fdf = spark.createDataFrame(f_rows, "v double, tb int")
    stats = {}
    fgot = (
        sort_ops.with_global_position(fdf, "v", "tb", stats=stats)
        .orderBy("global_pos")
        .select("v", "tb", "global_pos")
        .collect()
    )
    assert stats["n_buckets"] >= 2, "float bounds empty — grow the fixture"
    assert [r["global_pos"] for r in fgot] == list(range(1, 4001))
    expect = sorted(
        f_rows,
        key=lambda r: (math.isnan(r[0]), 0.0 if math.isnan(r[0]) else r[0], r[1]),
    )
    assert [
        ((r["v"] if not math.isnan(r["v"]) else "nan"), r["tb"]) for r in fgot
    ] == [((v if not math.isnan(v) else "nan"), tb) for v, tb in expect]


def test_with_global_position_saturated_sample_is_layout_independent(
    spark, monkeypatch, tmp_path
):
    """r8: the boundary sample used to be collected through a bare
    ``limit``, which keeps the first-scheduled scan partitions' rows — on
    key-clustered input a contiguous lowest-key slice, measured at 50M as
    366x-ideal bucket skew (scripts/probe_gp_clustered.py). The fix
    re-samples at a coarser deterministic mod when the cap truncates.
    Positions are exact under ANY bounds, so this pins the fix by the two
    things positions can't show: the saturated path must yield (a)
    IDENTICAL bounds/stats for clustered vs scattered layouts of the same
    rows (the sample is a pure function of key values) and (b) sane
    balance on the clustered layout. Cap/mod are shrunk so the toy table
    saturates the level-1 sample exactly like 50M does in production."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 4)
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_CAP", 64)
    # neutralize the resolution floor (35 x GP_MAX_BUCKETS would swamp the
    # shrunken cap) — this test pins layout independence, not cap sizing
    monkeypatch.setattr(sort_ops, "GP_MIN_SAMPLES_PER_BOUNDARY", 0)
    # target sized so bounds are thinned from ~8 samples each (the
    # production regime — 97k samples / ≤4096 buckets ≈ 24 per bound);
    # 1-sample-per-bound bucket sizes are exponentially spaced and their
    # max runs 4-6x ideal at ANY scale, which would test the sampler's
    # variance, not the layout fix
    monkeypatch.setattr(sort_ops, "GP_TARGET_ROWS_PER_BUCKET", 4096)
    n = 20_000  # level-1 sample ~n/4 = 5000 >> cap 64 -> two-phase engages
    base = spark.range(0, n, 1, 8).select(
        F.pmod(F.col("id") * F.lit(7919), F.lit(n)).alias("k")
    )
    base.orderBy("k").write.mode("overwrite").parquet(str(tmp_path / "clustered"))
    base.write.mode("overwrite").parquet(str(tmp_path / "scattered"))

    results = {}
    for label in ("clustered", "scattered"):
        src = spark.read.parquet(str(tmp_path / label))
        stats: dict = {}
        out = sort_ops.with_global_position(src, "k", stats=stats)
        agg = out.agg(
            F.count("*").alias("cnt"),
            F.min("global_pos").alias("mn"),
            F.max("global_pos").alias("mx"),
            F.sum((F.col("global_pos") != F.col("k") + 1).cast("int")).alias("bad"),
        ).collect()[0]
        # k is a bijective permutation of [0, n): position == k+1 exactly
        assert (agg["cnt"], agg["mn"], agg["mx"], agg["bad"]) == (n, 1, n, 0)
        results[label] = stats
    assert results["clustered"] == results["scattered"], (
        "saturated-path bounds depend on physical layout: "
        f"{results['clustered']} vs {results['scattered']}"
    )
    st = results["clustered"]
    assert st["n_buckets"] > 1
    ideal = n / st["n_buckets"]
    assert st["max_bucket_rows"] <= 2.5 * ideal, (
        f"clustered-layout bucket skew {st['max_bucket_rows'] / ideal:.1f}x ideal "
        f"(stats={st})"
    )


def test_boundary_sample_reaches_driver_as_one_task_result(spark):
    """The boundary sample is collected as the smallest-n key tuples in
    Spark order, gathered in ONE task: the driver gets a single task result
    of at most n rows, however many partitions the input has. (A root
    ORDER BY + LIMIT collect would merge every partition's top-n heap on
    the driver, shipping the whole sample when partitions are small.)"""
    n_rows, n = 4000, 25
    df = spark.range(0, n_rows, 1, 8).select(
        F.struct(F.pmod(F.col("id") * 7919, F.lit(n_rows)).alias("v")).alias("kt")
    )
    sc = spark.sparkContext
    sc.setJobGroup("gp_smallest_kt", "bounded boundary sample")
    try:
        got = sort_ops._smallest_kt(df, n)
    finally:
        sc.setJobGroup(None, None)
    assert [r["kt"]["v"] for r in got] == list(range(n))
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("gp_smallest_kt")
    result_stage = max(tracker.getJobInfo(job).stageIds)
    assert tracker.getStageInfo(result_stage).numTasks == 1


def test_with_global_position_low_card_string_pack_is_exact(
    spark, monkeypatch
):
    """A low-cardinality STRING key field packs by its exact rank with the
    integral tie-break into one long, so the bucket search and the window
    sort compare longs — positions must be BIT-IDENTICAL to the
    string-compare order (order isomorphism), including null strings (the
    null slot sorts first, same as the string)."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    rows = [
        (None if i % 83 == 0 else f"t{(i * 13) % 7}", i) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k string, tb int")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "tb", "global_pos")
        .collect()
    )
    assert stats["n_buckets"] >= 2
    # (low-card string, integral tb) takes the one-long composite path
    assert stats["composite_key"] is True, stats
    # packed columns must not leak into the output schema
    assert [r for r in got[0].asDict() if r.startswith("_gp")] == []
    assert [r["global_pos"] for r in got] == list(range(1, len(rows) + 1))
    expect = sorted(rows, key=lambda r: ((r[0] is not None, r[0] or ""), r[1]))
    assert [(r["k"], r["tb"]) for r in got] == expect


def test_with_global_position_high_card_string_key_is_exact(
    spark, monkeypatch
):
    """A string key whose domain exceeds GP_DICT_RANK_MAX_KEYS never gets
    a rank map (a partial map would rank unseen values NULL and mis-sort)
    — here it packs through the wide-string prefix window instead — and
    positions stay exact."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 4000
    rows = [(f"s{(i * 31) % 997:04d}", i) for i in range(n)]  # 997 values
    df = spark.createDataFrame(rows, "k string, tb int")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "tb", "global_pos")
        .collect()
    )
    assert [(r["k"], r["tb"]) for r in got] == sorted(rows)


def test_with_global_position_composite_gates_and_fallback(spark, monkeypatch):
    """r10: the generic rank-pack accepts negative tie-breaks (offset by
    the table min — the r9 pair composite declined them), but a tie-break
    whose SPAN overflows the 63-bit budget must decline and fall back to
    raw per-field compares — with positions exact in both regimes."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 3000
    # packs since r10: negative tb, span n < 2^12
    neg_rows = [(f"t{(i * 13) % 5}", i - n // 2) for i in range(n)]
    # declines: tb span ~2^63 overflows the width budget (3 + 64 bits)
    wide_rows = [(f"t{(i * 13) % 5}", (i - n // 2) << 40) for i in range(n)]
    wide_rows[0] = ("t0", -(1 << 62))
    wide_rows[1] = ("t1", (1 << 62) - 1)
    for rows, want_composite in ((neg_rows, True), (wide_rows, False)):
        df = spark.createDataFrame(rows, "k string, tb long")
        stats: dict = {}
        got = (
            sort_ops.with_global_position(df, "k", "tb", stats=stats)
            .orderBy("global_pos")
            .select("k", "tb")
            .collect()
        )
        assert stats["composite_key"] is want_composite, stats
        assert [(r["k"], r["tb"]) for r in got] == sorted(rows)


def test_with_global_position_integral_pair_composite(spark, monkeypatch):
    """(integral, integral) 2-key shapes range-pack into one long —
    negative values included (offset by min) and, since r10, null
    tie-breaks too (the +1 null slot packs null below every real value,
    the asc-nulls-first order the struct path uses). Positions exact."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 3000
    rows = [((i * 7) % 11 - 5, i - n // 2) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "tb")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    assert [(r["k"], r["tb"]) for r in got] == sorted(rows)

    null_rows = rows + [(3, None), (None, 17), (None, None)]
    df2 = spark.createDataFrame(null_rows, "k long, tb long")
    stats2: dict = {}
    got2 = (
        sort_ops.with_global_position(df2, "k", "tb", stats=stats2)
        .orderBy("global_pos")
        .select("k", "tb")
        .collect()
    )
    # r10: nulls no longer decline — the null slot packs them exactly
    assert stats2["composite_key"] is True, stats2
    expect = sorted(
        null_rows,
        key=lambda r: (
            (r[0] is not None, r[0] if r[0] is not None else 0),
            (r[1] is not None, r[1] if r[1] is not None else 0),
        ),
    )
    assert [(r["k"], r["tb"]) for r in got2] == expect


def test_with_global_position_three_field_composite(spark, monkeypatch):
    """r10 (the fallback probe's 9.95× finding): a THREE-field
    (low-card string, integral, integral) shape — the exact shape
    scripts/probe_gp_fallback.py measured on the declined path — must now
    rank-pack into one long, nulls in every field included, with
    positions bit-identical to the struct-compare order."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 4000
    rows = [
        (
            None if i % 97 == 0 else f"t{(i * 13) % 7}",
            None if i % 89 == 0 else (i * 31) % 1000 - 500,
            i,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, u long, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "u", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "u", "tb", "global_pos")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    expect = sorted(
        rows,
        key=lambda r: (
            (r[0] is not None, r[0] or ""),
            (r[1] is not None, r[1] if r[1] is not None else 0),
            r[2],
        ),
    )
    assert [(r["k"], r["u"], r["tb"]) for r in got] == expect
    assert [r["global_pos"] for r in got] == list(range(1, n + 1))


def test_composite_key_width_budget_and_mixed_fields(spark, monkeypatch):
    """_composite_key unit edges: a (string, string, int) mix packs (one
    fused distinct job covers both string fields); four fields summing
    past 63 bits decline; a non-packable dtype (double) declines."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 2000
    rows = [
        (f"a{(i * 7) % 3}", f"b{(i * 11) % 4}", i) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k1", "k2", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k1", "k2", "tb")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    assert [(r["k1"], r["k2"], r["tb"]) for r in got] == sorted(rows)

    # double key field: not packable, every field compares raw
    drows = [(f"a{(i * 7) % 3}", float(i % 13) / 7.0, i) for i in range(n)]
    ddf = spark.createDataFrame(drows, "k1 string, k2 double, tb long")
    dstats: dict = {}
    dgot = (
        sort_ops.with_global_position(ddf, "k1", "k2", "tb", stats=dstats)
        .orderBy("global_pos")
        .select("k1", "k2", "tb")
        .collect()
    )
    assert dstats["composite_key"] is False, dstats
    assert [(r["k1"], r["k2"], r["tb"]) for r in dgot] == sorted(drows)


def test_with_global_position_keyopt_gated_below_min_rows(spark, monkeypatch):
    """r10 (r9 verdict #2 / ADVICE item 3): below GP_COMPOSITE_MIN_ROWS the
    key-encoding fast paths must NOT engage — their keys-only pre-jobs
    (groupBy / min-max agg / distinct) cost real fixture wall for a compare
    cheapening that is invisible at small scale (keyed_fanout paid +0.6s at
    sf0.1 for the ungated r9 pre-jobs). Positions must be exact anyway
    (the fast paths are order-isomorphic physical rewrites)."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    # default gate (20M) is far above this fixture's est_rows (~3000)
    for schema, rows in (
        ("k string, tb long", [(f"t{(i * 13) % 5}", i) for i in range(3000)]),
        ("k long, tb long", [((i * 7) % 11, i) for i in range(3000)]),
    ):
        df = spark.createDataFrame(rows, schema)
        stats: dict = {}
        got = (
            sort_ops.with_global_position(df, "k", "tb", stats=stats)
            .orderBy("global_pos")
            .select("k", "tb")
            .collect()
        )
        assert stats["composite_key"] is False, stats
        assert [(r["k"], r["tb"]) for r in got] == sorted(rows)


def test_with_global_position_timestamp_field_packs(spark, monkeypatch):
    """r10: TIMESTAMP key fields rank-pack via epoch_us (micros order ≡
    timestamp order) — the (type, event_time, id) shape is the canonical
    100 TB fanout key and previously declined to the per-field fallback.
    Null timestamps take the null slot; positions must be bit-identical
    to the struct-compare order."""
    import datetime as dt

    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    base = dt.datetime(2026, 3, 1, 12, 0, 0)
    n = 4000
    rows = [
        (
            f"t{(i * 13) % 6}",
            None
            if i % 101 == 0
            else base + dt.timedelta(seconds=(i * 37) % 900, microseconds=i % 7),
            i,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "ts", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "ts", "tb", "global_pos")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    expect = sorted(
        rows,
        key=lambda r: (
            r[0],
            (r[1] is not None, r[1] if r[1] is not None else base),
            r[2],
        ),
    )
    assert [(r["k"], r["ts"], r["tb"]) for r in got] == expect
    assert [r["global_pos"] for r in got] == list(range(1, n + 1))


def test_with_global_position_partial_grouping(spark, monkeypatch):
    """r10: when the full rank-pack overflows 63 bits, ADJACENT runs that
    fit still pack — (type, ts, wide_id) collapses to 2 search fields
    ((type,ts) packed + wide_id raw), the canonical over-budget shape.
    Grouping adjacent fields preserves lexicographic order, so positions
    stay bit-identical."""
    import datetime as dt

    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    base = dt.datetime(2026, 3, 1)
    n = 3000
    rows = [
        (
            f"t{(i * 13) % 6}",
            base + dt.timedelta(seconds=(i * 37) % 600),
            ((i * 2654435761) % n) << 50,  # ~62-bit span: can't join any group
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, wid long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "ts", "wid", stats=stats)
        .orderBy("global_pos")
        .select("k", "ts", "wid")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    assert stats["search_fields"] == 2, stats
    assert [(r["k"], r["ts"], r["wid"]) for r in got] == sorted(rows)


def test_with_global_position_grouping_splits_on_unpackable(spark, monkeypatch):
    """An unpackable field (double) in the middle forces a group break,
    but the packable run AFTER it still packs: (int, double, int, int)
    → 3 search fields ((f0) raw-ish, (f1) raw, (f2,f3) packed)."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 3000
    rows = [
        ((i * 7) % 5, float((i * 11) % 9) / 4.0, (i * 13) % 17, i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "a long, b double, c long, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "a", "b", "c", "tb", stats=stats)
        .orderBy("global_pos")
        .select("a", "b", "c", "tb")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    assert stats["search_fields"] == 3, stats
    assert [(r["a"], r["b"], r["c"], r["tb"]) for r in got] == sorted(rows)


def test_composite_key_distinct_truncation_declines(spark, monkeypatch):
    """_composite_key's fused explode-distinct pre-job is limit-bounded;
    a string domain that passes the free SAMPLE pre-gate but overflows
    the exact-distinct limit must never rank-pack a partial map — a
    value outside the map would code to the null slot and mis-sort.
    Since r12 the overflow reclassifies into the wide-string path, so to
    stay a DECLINE pin the domain is built non-injective in every
    affordable window (real distinction beyond skip+7 bytes): the wstr
    sample collision pre-check must then reject it too, landing the key
    on the struct path with no partial artifacts."""
    n = 300
    # first divergence at byte 1 (i%2), then 10 constant bytes, the real
    # distinction in the tail — every 7-byte window ties across values
    rows = [(f"a{i % 2}mmmmmmmmmm{i % 120:04d}", i) for i in range(n)]
    df = spark.createDataFrame(rows, "k string, tb long")
    kcols = [F.col("k"), F.col("tb")]
    # a sample that (wrongly) suggests a tiny domain — the exact job must
    # still catch the overflow; it must also carry a window collision so
    # the free wstr pre-check can prove non-injectivity
    sample_keys = [(rows[0][0], 0), (rows[1][0], 1), (rows[2][0], 2)]
    bounds = [(rows[1][0], 1)]
    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("k", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is None
    # no path packed the string: the window pre-check declined it
    assert "wstr_packed_fields" not in info, info
    assert info["wstr_declined"] == {0: "sample_collision"}, info


def test_composite_key_width_boundary_exact_63_bits(spark):
    """The width budget is inclusive: two fields summing to exactly 63
    bits must pack (max composite < 2^63 by the per-field max-code
    bound); 64 must decline."""
    kcols = [F.col("a"), F.col("b")]
    sample_keys = [(0, 0)]
    bounds = [(1, 1)]
    # spans chosen so bit widths are (31, 32): (2^31-2)+1 -> 31 bits,
    # (2^32-2)+1 -> 32 bits
    df63 = spark.createDataFrame(
        [(0, 0), ((1 << 31) - 2, (1 << 32) - 2)], "a long, b long"
    )
    comp = sort_ops._composite_key(df63, ("a", "b"), kcols, sample_keys, bounds)
    assert comp is not None
    df64 = spark.createDataFrame(
        [(0, 0), ((1 << 32) - 2, (1 << 32) - 2)], "a long, b long"
    )
    comp2 = sort_ops._composite_key(df64, ("a", "b"), kcols, sample_keys, bounds)
    assert comp2 is None


def test_gp_sample_cap_derived_from_bucket_count(monkeypatch):
    """r10 (r9 verdict #4): the effective sample cap must co-scale with
    GP_MAX_BUCKETS so samples-per-boundary never drops below the floor the
    300M/16384 probe proved binding (18/boundary -> 2.2-2.4x skew vs
    36/boundary -> 1.7x). The 2x factor is the resample window: the
    power-of-two mod stepping lands the collected sample in (cap/2, cap],
    so a cap of exactly 35*buckets would bottom out at 17.5/boundary —
    the condemned regime. Raising the bucket cap must raise the sample
    cap automatically instead of silently degrading balance."""
    assert sort_ops.GP_SAMPLE_CAP == 300_000
    # at the default 8192 the resolution term binds: 2*35*8192 = 573,440
    assert sort_ops._gp_sample_cap() == 2 * 35 * 8_192
    # worst-case resample (cap/2) still meets the per-boundary floor
    assert sort_ops._gp_sample_cap() // 2 >= 35 * sort_ops.GP_MAX_BUCKETS
    monkeypatch.setattr(sort_ops, "GP_MAX_BUCKETS", 16_384)
    assert sort_ops._gp_sample_cap() == 2 * 35 * 16_384  # 1,146,880
    monkeypatch.setattr(sort_ops, "GP_MAX_BUCKETS", 256)
    assert sort_ops._gp_sample_cap() == 300_000  # static floor binds


def test_composite_key_distinct_exact_lim_is_not_truncation(spark):
    """r11 (r10 ADVICE, low): a total distinct (field, value) count of
    EXACTLY fields × (GP_DICT_RANK_MAX_KEYS + 2) used to be falsely
    flagged as truncation (`len(rows) >= lim` after `.limit(lim)`),
    demoting every string field for no reason. With one string field,
    lim = 66 and the per-field cap is 64 — so a 66-distinct domain must
    survive the truncation check and then demote on the PER-FIELD cap
    (66 > 64), while a 64-distinct domain must pack."""
    n = 400
    # 64 distinct: inside every gate — must pack with the int field
    rows64 = [(f"s{i % 64:02d}", i) for i in range(n)]
    df64 = spark.createDataFrame(rows64, "k string, tb long")
    kcols = [F.col("k"), F.col("tb")]
    sample_keys = [(f"s{i:02d}", i) for i in range(8)]
    bounds = [("s03", 3)]
    info: dict = {}
    comp = sort_ops._composite_key(
        df64, ("k", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is not None
    assert info["wstr_packed_fields"] == [], info  # packed by its rank map

    # exactly lim (66) distinct: truncation must NOT fire; the per-field
    # cap (66 > 64) attributes the overflow, which since r12 RECLASSIFIES
    # into the wide-string path — here injective ('s'+2 digits fit one
    # window), so the pair still packs, just via the window encode
    # instead of a rank map (no partial map may ever be emitted)
    rows66 = [(f"s{i % 66:02d}", i) for i in range(n)]
    df66 = spark.createDataFrame(rows66, "k string, tb long")
    info2: dict = {}
    comp2 = sort_ops._composite_key(
        df66, ("k", "tb"), kcols, sample_keys, bounds, info=info2
    )
    assert comp2 is not None
    assert [g["idx"] for g in comp2] == [[0, 1]]
    assert info2["wstr_packed_fields"] == [0], info2


def test_composite_key_string_overflow_reclassifies_wstr(spark):
    """r12 (supersedes the r11 skip-job-A pin): a string whose sample
    pre-gate passes but whose exact domain overflows the rank-map cap no
    longer blanket-demotes — job B ATTRIBUTES the overflow and
    reclassifies the field into the wide-string prefix-pack path, which
    here packs (window 's'+digits, injective) with the long neighbor.
    The r11 behavior declined the whole composite and paid the 5.5-9.6×
    struct path for a key the prefix window handles exactly."""
    n = 400
    rows = [(f"s{i % 120:03d}", i) for i in range(n)]  # 120 > 64 distinct
    df = spark.createDataFrame(rows, "k string, tb long")
    kcols = [F.col("k"), F.col("tb")]
    sample_keys = [("s000", 0), ("s001", 1)]  # wrongly suggests tiny domain
    bounds = [("s001", 1)]

    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("k", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is not None
    assert [g["idx"] for g in comp] == [[0, 1]]
    assert info.get("wstr_packed_fields") == [0], info
    # end-to-end: packed positions must equal the struct order
    stats: dict = {}
    import unittest.mock as mock

    with mock.patch.object(sort_ops, "GP_SAMPLE_MOD", 2), mock.patch.object(
        sort_ops, "GP_COMPOSITE_MIN_ROWS", 0
    ):
        got = (
            sort_ops.with_global_position(df, "k", "tb", stats=stats)
            .orderBy("global_pos")
            .select("tb")
            .collect()
        )
    assert stats["composite_key"] is True and stats.get("wstr_packed_fields") == [0]
    expect = [r["tb"] for r in df.orderBy(F.col("k").asc(), F.col("tb").asc()).collect()]
    assert [r["tb"] for r in got] == expect


def test_with_global_position_timestamp_dst_driver_tz(spark, monkeypatch):
    """r11 (r10 ADVICE, medium): collected boundary timestamps used to
    round-trip through datetime.fromtimestamp, which runs in the driver
    PROCESS timezone — non-monotone across a DST fall-back, so packed
    bounds could sort non-ascending and break the binary search. The
    fix samples timestamp keys pre-encoded as epoch micros. Regression:
    run a ts-keyed fanout with TZ=America/New_York across the 2025-11-02
    fall-back window and check positions against the micros order. The
    timestamps are built SPARK-SIDE (timestamp_micros) so the test data
    itself has no Python datetime conversion anywhere."""
    import os
    import time

    if not hasattr(time, "tzset"):  # pragma: no cover - non-POSIX
        pytest.skip("tzset unavailable")
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    # 2025-11-02 05:00:00 UTC = 01:00 EDT; the fall-back (06:00 UTC)
    # lands mid-range so ambiguous local times appear among the bounds
    base_us = 1_762_059_600_000_000
    n = 4000
    df = (
        spark.range(n)
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.lit(base_us) + (F.col("id") * 2654435761 % n) * 3_000_000
            ),
        )
        .withColumn("tb", F.col("id"))
        .select("ts", "tb")
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        stats: dict = {}
        got = (
            sort_ops.with_global_position(df, "ts", "tb", stats=stats)
            .select(
                sort_ops.F.unix_micros("ts").alias("us"), "tb", "global_pos"
            )
            .orderBy("global_pos")
            .collect()
        )
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert stats["composite_key"] is True, stats
    assert [(r["us"], r["tb"]) for r in got] == sorted(
        (r["us"], r["tb"]) for r in got
    )
    assert [r["global_pos"] for r in got] == list(range(1, n + 1))


def test_with_global_position_random_multitype_property(spark, monkeypatch):
    """Seeded property sweep over random key shapes (2-4 fields drawn
    from narrow/wide ints, floats with NaN/-0.0/nulls, low-card strings,
    doc-id and URL-style wide strings, timestamps) with the composite
    gate lowered: positions must equal row_number over Spark's own
    orderBy for EVERY shape, whatever mix of pack / decline the
    machinery picks. This is the blanket over path interactions the
    shape-specific tests can't enumerate — in particular random
    ADJACENT wstr-wstr pairs sized against optimistic neighbor widths,
    and wstr fields beside ints/floats that force partial groups. The per-shape fast paths are bit-order-isomorphic
    by design, so exact equality is the correct oracle."""
    import datetime
    import random

    from kafka_stream_sorter_spark.operators import sort as sort_ops

    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)

    def gen(kind, rng):
        if rng.random() < 0.04:
            return None
        if kind == "int_narrow":
            return rng.randrange(0, 40)
        if kind == "int_wide":
            return rng.randrange(-(1 << 60), 1 << 60)
        if kind == "float":
            r = rng.random()
            if r < 0.05:
                return float("nan")
            if r < 0.10:
                return -0.0
            return round(256.0 + rng.randrange(0, 500) / 1024.0, 6)
        if kind == "str_low":
            return f"t{rng.randrange(6)}"
        if kind == "wstr_doc":
            return f"doc_{rng.randrange(10**4):04d}"
        if kind == "wstr_doc_wide":
            return f"Customer#{rng.randrange(10**9):09d}"
        if kind == "wstr_url":
            return (
                f"https://example.com/{rng.randrange(3)}/p/"
                f"{rng.randrange(10**12):018d}"
            )
        if kind == "ts":
            return datetime.datetime(2021, 3, 1) + datetime.timedelta(
                seconds=rng.randrange(0, 10**7)
            )
        raise AssertionError(kind)

    spark_type = {
        "int_narrow": "long",
        "int_wide": "long",
        "float": "double",
        "str_low": "string",
        "wstr_doc": "string",
        "wstr_doc_wide": "string",
        "wstr_url": "string",
        "ts": "timestamp",
    }
    kinds_pool = list(spark_type)
    for seed in range(8):
        rng = random.Random(9000 + seed)
        n_keys = rng.randrange(2, 5)
        kinds = [rng.choice(kinds_pool) for _ in range(n_keys)]
        n = 1800
        rows = [
            tuple(gen(k, rng) for k in kinds) + (i,) for i in range(n)
        ]
        names = [f"k{j}" for j in range(n_keys)]
        schema = ", ".join(
            f"{nm} {spark_type[kd]}" for nm, kd in zip(names, kinds)
        ) + ", tb long"
        df = spark.createDataFrame(rows, schema)
        stats: dict = {}
        got = {
            r["tb"]: r["global_pos"]
            for r in sort_ops.with_global_position(
                df, *names, "tb", stats=stats
            ).collect()
        }
        expect = [
            r["tb"]
            for r in df.orderBy(
                *[F.col(nm).asc() for nm in names], F.col("tb").asc()
            ).collect()
        ]
        assert len(got) == n, (seed, kinds, stats)
        for pos, tb in enumerate(expect, start=1):
            assert got[tb] == pos, (seed, kinds, pos, tb, got[tb], stats)


def test_pair_wide_tiebreak_no_int64_overflow_beyond_gate_scales(spark):
    """r14 ADVICE item 1: keyed_fanout_pair's wide tie-break must stay
    inside int64 at ANY event_id scale — the old `event_id << 45`
    overflowed at event_id >= 2^18 (~sf0.26), where DuckDB raises
    OutOfRange while non-ANSI Spark wraps silently, diverging query
    from oracle above sf0.1 (verify_gp_grouped_registered.py accepts an
    arbitrary sf-dir). The replacement f(e) = (e mod 2^18)*2^45 + e is
    injective for e < 2^45, monotone below 2^18 (bit-identical gate
    positions), and maxes at exactly 2^63-1."""
    import duckdb

    import kafka_stream_sorter_spark.registry  # noqa: F401  (sorts.py is
    # only importable THROUGH the registry package import)
    from kafka_stream_sorter_spark.queries.sorts import PAIR_WIDE_SQL

    ids = [0, 1, 99_999, 262_143, 262_144, 1_000_000, (1 << 45) - 1]
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    got = {
        r["event_id"]: r["w"]
        for r in df.select("event_id", F.expr(PAIR_WIDE_SQL).alias("w")).collect()
    }
    con = duckdb.connect()
    values = ", ".join(f"({i})" for i in ids)
    # pre-fix this raises OutOfRangeException at event_id = 262144
    oracle = {
        e: w
        for e, w in con.execute(
            f"SELECT event_id, {PAIR_WIDE_SQL} AS w "
            f"FROM (VALUES {values}) AS t(event_id)"
        ).fetchall()
    }
    con.close()
    expect = {e: (e % 262144) * 35184372088832 + e for e in ids}
    assert got == expect
    assert oracle == expect
    # injective over the probed span, monotone below 2^18, int64-safe
    assert len(set(expect.values())) == len(ids)
    assert expect[262_143] > expect[99_999] > expect[1] > expect[0]
    assert max(expect.values()) == (1 << 63) - 1


def test_composite_key_fused_stats_single_job(spark):
    """r17 (r16 verdict item 1): _composite_key's stats pre-work — the
    exact low-card string domain (former job B) and the per-field
    min/max aggregates (former job A) — must ride ONE keys-only Spark
    job, not two. Pinned via the status tracker like the ivf lazy-
    checkpoint dial; the pack itself, and the path that packed the
    string field, must be what the two-job implementation produced.

    Also covers the exact-cardinality reclassification in the SAME
    single job: a sampled-low string whose true domain overflows
    GP_DICT_RANK_MAX_KEYS reclassifies to the wide-string path using
    the speculative min/max/octet/NUL stats, with no extra job (its
    window here covers the whole tail, so the trivial-injectivity
    shortcut also skips the deferred countDistinct job)."""
    n = 400
    kcols = [F.col("k"), F.col("tb")]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # AQE turns one query into one job per query stage; disable it so
    # the tracker counts QUERIES (what this pin is about), not stages
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # restore AQE even when an assertion fails mid-test: the spark
    # fixture is session-scoped, so a leaked adaptive=false would change
    # plans and job counts for every later test in the run
    try:
        # low-card string + long: must pack with a rank map, in exactly
        # 1 job
        rows64 = [(f"s{i % 8:02d}", i) for i in range(n)]
        df64 = spark.createDataFrame(rows64, "k string, tb long")
        sample_keys = [(f"s{i:02d}", i) for i in range(4)]
        bounds = [("s03", 3)]
        info1: dict = {}
        sc.setJobGroup("gp_fused_lowcard", "fused stats job count")
        try:
            comp = sort_ops._composite_key(
                df64, ("k", "tb"), kcols, sample_keys, bounds, info=info1
            )
        finally:
            sc.setJobGroup(None, None)
        n_jobs = len(tracker.getJobIdsForGroup("gp_fused_lowcard"))
        assert comp is not None and [g["idx"] for g in comp] == [[0, 1]]
        assert info1["wstr_packed_fields"] == [], info1  # rank-map pack
        assert n_jobs == 1, (
            f"fused stats pre-work must be 1 job, ran {n_jobs}"
        )

        # overflow domain: reclassifies str -> wstr and packs via the
        # prefix window, still exactly 1 job (trivial-injectivity
        # shortcut)
        rows120 = [(f"s{i % 120:03d}", i) for i in range(n)]
        df120 = spark.createDataFrame(rows120, "k string, tb long")
        sample_keys2 = [("s000", 0), ("s001", 1)]
        bounds2 = [("s001", 1)]
        info: dict = {}
        sc.setJobGroup("gp_fused_overflow", "fused reclassify job count")
        try:
            comp2 = sort_ops._composite_key(
                df120, ("k", "tb"), kcols, sample_keys2, bounds2, info=info
            )
        finally:
            sc.setJobGroup(None, None)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    n_jobs2 = len(tracker.getJobIdsForGroup("gp_fused_overflow"))
    assert comp2 is not None and info["wstr_packed_fields"] == [0], info
    assert n_jobs2 == 1, (
        f"reclassification must reuse the fused stats job, ran {n_jobs2}"
    )


def test_lit_rank_map_key_types(spark):
    """r17 (r16 verdict item 6): the rank-lookup map builds from TWO
    list literals (map_from_arrays) instead of one F.lit per entry.
    Pins list-literal type inference for every DICT-eligible key type —
    DateType was the open question that deferred this in r16 — and that
    lookups agree with the Python dict for present keys and yield NULL
    for absent ones."""
    import datetime

    d1, d2 = datetime.date(2020, 1, 2), datetime.date(2021, 3, 4)
    df = spark.createDataFrame(
        [("a", 5, d1, 1), ("b", 1 << 40, d2, 2), ("zz", 3, d1, 3)],
        "s string, l long, d date, i int",
    )
    df = (
        df.withColumn("sh", F.col("i").cast("short"))
        .withColumn("by", F.col("i").cast("byte"))
    )
    cases = {
        "s": {"a": 0, "b": 1},            # string
        "l": {3: 0, 5: 1, 1 << 40: 2},    # long incl. beyond int32
        "d": {d1: 0, d2: 1},              # DateType
        "i": {1: 0, 3: 1},                # int (absent: 2)
        "sh": {1: 0, 2: 1, 3: 2},         # short
        "by": {1: 0, 2: 1, 3: 2},         # byte
    }
    for col, rmap in cases.items():
        got = {
            r[0]: r[1]
            for r in df.select(
                F.col(col), sort_ops._lit_rank_map(rmap)[F.col(col)].cast("long")
            ).collect()
        }
        want = {k: rmap.get(k) for k in got}
        assert got == want, f"{col}: {got} != {want}"

    # strings that fail the printable-ASCII/no-quote gate take the
    # F.lit-list fallback — values must still be exact
    exotic = {"it's": 0, "a\\b": 1, "sn\u00f6": 2, "tab\there": 3}
    dfx = spark.createDataFrame([(k,) for k in exotic] + [("zz",)], "s string")
    got = {
        r[0]: r[1]
        for r in dfx.select(
            "s", sort_ops._lit_rank_map(exotic)[F.col("s")].cast("long")
        ).collect()
    }
    assert got == {**exotic, "zz": None}, got

    # an empty map is a caller bug (both callers guard non-empty domains)
    with pytest.raises(ValueError):
        sort_ops._lit_rank_map({})


def test_with_global_position_stats_do_not_add_jobs(spark, monkeypatch):
    """Observing must not change the plan: with no sampled row there are
    no bounds, so the exact bucket-count job is skipped whether or not
    ``stats=`` is passed, and the count-derived stats read None."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 1 << 40)
    rows = [((i * 7) % 13, i) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, tb long")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    n_jobs = {}
    got = {}
    for label, stats in (("plain", None), ("stats", {})):
        group = f"gp_stats_jobs_{label}"
        sc.setJobGroup(group, "with_global_position job count")
        try:
            out = sort_ops.with_global_position(df, "k", "tb", stats=stats)
            got[label] = out.orderBy("global_pos").select("k", "tb").collect()
        finally:
            sc.setJobGroup(None, None)
        n_jobs[label] = len(tracker.getJobIdsForGroup(group))
        if stats is not None:
            assert stats["n_buckets"] == 1, stats
            assert stats["total_rows"] is None, stats
            assert stats["populated_buckets"] is None, stats
            assert stats["max_bucket_rows"] is None, stats
    assert n_jobs["stats"] == n_jobs["plain"], n_jobs
    assert got["plain"] == got["stats"]
    assert [(r["k"], r["tb"]) for r in got["plain"]] == sorted(rows)
