"""Pins for the UTF-8 prefix-window string encode
(functions/numeric.string_prefix_order_long and its driver bit-twin)
and for the wide-string rank-pack path it enables in the position
machinery (operators/sort._composite_key, r11 verdict item 4).

The encode is only CONDITIONALLY order-isomorphic — every value must
share the skipped prefix and the window must be injective over distinct
values — so beyond the bit-twin lockstep (CLAUDE.md: hash/encode
triples move together) these tests pin the GATES: the free sample
collision pre-check, the exact countDistinct injectivity job, its
deferral for singleton groups, and the decline paths that keep a
non-injective domain on the struct-compare path."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from kafka_stream_sorter_spark.functions.numeric import (
    string_prefix_order_long,
    string_prefix_order_long_py,
)
from kafka_stream_sorter_spark.operators import sort as sort_ops

# embedded NULs, multi-byte UTF-8 (2/3/4-byte), proper prefixes of each
# other, empty string, window-boundary ties — every class that could
# split the Spark expression from the Python twin or break padding
EDGES = [
    "",
    "a",
    "ab",
    "ab\x00",
    "ab\x00\x00",
    "abc",
    "abcdefg",
    "abcdefgh",
    "abcdefghi",
    "Customer#000000042",
    "café",  # 2-byte UTF-8 tail
    "é",
    "中文",  # 3-byte CJK
    "\U0001f600",  # 4-byte emoji
    "\x00",
    "\x00a",
    "zzzzzzzz",
    "\x7f\x7f\x7f\x7f\x7f\x7f\x7f\x7f",
]


def _corpus() -> list[str]:
    rng = random.Random(7)
    vals = list(EDGES)
    alphabet = string.ascii_letters + string.digits + "#_-/\x00é中"
    for _ in range(2000):
        n = rng.randrange(0, 14)
        vals.append("".join(rng.choice(alphabet) for _ in range(n)))
    return vals


@pytest.mark.parametrize("skip,nbytes", [(0, 7), (0, 1), (3, 4), (9, 7), (50, 2)])
def test_string_prefix_encode_matches_bit_twin(spark, skip, nbytes):
    vals = _corpus()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, s string"
    )
    got = {
        r["i"]: r["e"]
        for r in df.select(
            "i", string_prefix_order_long(F.col("s"), skip, nbytes).alias("e")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == string_prefix_order_long_py(v, skip, nbytes), (
            v, skip, nbytes, got[i],
        )
    ndf = spark.createDataFrame([(None,)], "s string")
    assert (
        ndf.select(string_prefix_order_long("s", skip, nbytes).alias("e"))
        .collect()[0]["e"]
        is None
    )


def test_string_prefix_encode_order_isomorphic_on_valid_domain(spark):
    """On a domain satisfying the two premises (shared skip-prefix,
    injective window) the encode order must equal Spark's own string
    sort order — the ground truth the rank-pack reproduces."""
    rng = random.Random(11)
    seen = set()
    vals = []
    while len(vals) < 1500:
        suffix = "".join(
            rng.choice(string.ascii_lowercase + string.digits)
            for _ in range(rng.randrange(1, 8))
        )
        if suffix not in seen:
            seen.add(suffix)
            vals.append("doc_" + suffix)
    # premises: common prefix "doc_" (skip 4), suffixes ≤7 bytes unique
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, s string")
    by_str = [r["i"] for r in df.orderBy(F.col("s").asc()).collect()]
    by_enc = [
        r["i"]
        for r in df.withColumn("e", string_prefix_order_long("s", 4, 7))
        .orderBy(F.col("e").asc())
        .collect()
    ]
    assert by_str == by_enc
    # and the twin agrees with Python byte-order sorting of the encode
    encs = {v: string_prefix_order_long_py(v, 4, 7) for v in vals}
    assert sorted(vals) == sorted(vals, key=lambda v: encs[v])


def test_with_global_position_wide_string_packs(spark, monkeypatch):
    """(low-card type, wide unique name, id): the wide string passes the
    injectivity gate and packs — positions must be bit-identical to
    Spark's struct order. Engagement is asserted through the stats
    channel (wstr_packed_fields), so a silent decline cannot pass."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 4000
    rows = []
    for i in range(n):
        name = None if i % 101 == 0 else f"Customer#{(i * 2654435761) % 100000:09d}"
        rows.append((f"t{(i * 13) % 6}", name, i))
    df = spark.createDataFrame(rows, "k string, name string, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "name", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "tb", "global_pos")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    assert stats.get("wstr_packed_fields") == [1], stats
    skip, k = stats["wstr_windows"][1]
    # "Customer#0000" is the common prefix of min/max here (ids < 1e5
    # keep the first four id digits constant at 0); the gate picks the
    # WIDEST USEFUL affordable window — 5, the varying digit count:
    # bytes past every value's end are 0x00 pads for the whole domain,
    # so the r14 cap stops the window there instead of billing two pad
    # bytes of pure width (the old k=7 behavior)
    assert (skip, k) == (13, 5), stats
    expect = [
        (r["k"], r["tb"])
        for r in df.orderBy(
            F.col("k").asc(), F.col("name").asc(), F.col("tb").asc()
        ).collect()
    ]
    assert [(r["k"], r["tb"]) for r in got] == expect
    assert [r["global_pos"] for r in got] == list(range(1, n + 1))


def test_wide_string_noninjective_window_declines(spark, monkeypatch):
    """Distinct strings that tie inside every affordable window (URL
    style: differences beyond skip+7 bytes) must DECLINE to the struct
    path — and positions must still be exact. This is the case where
    bound prefix-disjointness alone would silently mis-sort."""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 3000
    rows = []
    for i in range(n):
        # the first divergence (the i%3 digit) pins the window start,
        # but the real distinction lives past skip+7 — every affordable
        # window ties across distinct URLs, so the free sample collision
        # pre-check must decline. (A naive trailing-zeros id would NOT
        # decline: the common-prefix strip eats constant digit runs and
        # the remaining short window is genuinely injective.)
        url = (
            f"https://example.com/{i % 3}/section/"
            f"{(i * 2654435761) % 10**12:018d}"
        )
        rows.append((url, i))
    df = spark.createDataFrame(rows, "u string, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "u", "tb", stats=stats)
        .orderBy("global_pos")
        .select("tb", "global_pos")
        .collect()
    )
    assert stats.get("wstr_packed_fields") in (None, []), stats
    # decline accounting (r12 ADVICE item 3): the candidate paid job A
    # and the free sample pre-check is what declined it
    assert stats.get("wstr_candidate_fields") == [0], stats
    assert stats.get("wstr_declined") == {0: "sample_collision"}, stats
    expect = [r["tb"] for r in df.orderBy(F.col("u").asc(), F.col("tb").asc()).collect()]
    assert [r["tb"] for r in got] == expect


def test_wide_string_trivial_injectivity_skips_countdistinct(spark):
    """When every value's bytes fit inside the window (max octet_length
    ≤ skip + k) and none ends with a NUL byte, the window IS the whole
    tail and injectivity is automatic — the exact countDistinct job must
    NOT run (it was the dominant pack tax: ~90 s per 200M rows in the
    r12 probe). The doc-id/name shapes the pack exists for all take this
    path. Asserted with an agg spy: job A (min/max + octet/nul facts)
    runs, nothing countDistinct-shaped ever does."""
    from pyspark.sql import DataFrame

    n = 600
    rows = [
        (f"seg{(i * 13) % 5}", f"Customer#{(i * 48271) % 100000:09d}", i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "seg string, name string, tb long")
    kcols = [F.col("seg"), F.col("name"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:300]]
    bounds = [tuple(rows[50]), tuple(rows[100])]

    calls: list = []
    orig_agg = type(df).agg

    def spy_agg(self, *a, **kw):
        calls.append([str(c) for c in a])
        return orig_agg(self, *a, **kw)

    import unittest.mock as mock

    info: dict = {}
    with mock.patch.object(type(df), "agg", spy_agg):
        comp = sort_ops._composite_key(
            df, ("seg", "name", "tb"), kcols, sample_keys, bounds, info=info
        )
    assert comp is not None
    assert info.get("wstr_packed_fields") == [1], info
    assert info.get("wstr_trivial_fields") == [1], info
    flat = [s for call in calls for s in call]
    assert calls, "job A must have run"
    assert not any("count" in s.lower() for s in flat), flat


def test_wide_string_nul_tail_refuses_shortcut_and_declines(spark):
    """The one case the trivial shortcut would get WRONG: a value that
    extends another with trailing NUL bytes ties in every padded window
    while the strings are distinct. The NUL flag must refuse the
    shortcut, and the exact countDistinct job must then catch the
    non-injectivity and decline — positions stay exact via the struct
    path. (In UTF-8 the byte 0x00 only encodes U+0000, so flagging the
    last CHARACTER is equivalent to flagging the last byte.)"""
    n = 426  # 71 distinct names x 6
    names = [f"doc_{i:02d}" for i in range(70)] + ["doc_00\x00"]
    rows = [(names[i % 71], i) for i in range(n)]
    df = spark.createDataFrame(rows, "name string, tb long")
    kcols = [F.col("name"), F.col("tb")]
    # keep the colliding pair OUT of the sample so the free pre-check
    # cannot decline first — the exact job must do it
    sample_keys = [(f"doc_{i:02d}", i) for i in range(3, 40)]
    bounds = [("doc_10", 10)]

    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("name", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is None, info
    # end-to-end positions stay exact on the declined path
    import unittest.mock as mock

    stats: dict = {}
    with mock.patch.object(sort_ops, "GP_SAMPLE_MOD", 2), mock.patch.object(
        sort_ops, "GP_COMPOSITE_MIN_ROWS", 0
    ):
        got = (
            sort_ops.with_global_position(df, "name", "tb", stats=stats)
            .orderBy("global_pos")
            .select("tb")
            .collect()
        )
    assert stats["composite_key"] is False
    expect = [
        r["tb"] for r in df.orderBy(F.col("name").asc(), F.col("tb").asc()).collect()
    ]
    assert [r["tb"] for r in got] == expect


def test_wide_string_long_tail_passes_exact_injectivity(spark):
    """Tails longer than the window (shortcut unavailable) but injective
    WITHIN it: the exact countDistinct job must run, pass, and pack —
    wstr_packed_fields set, wstr_trivial_fields empty."""
    from pyspark.sql import DataFrame

    n = 500
    rows = [
        (f"doc_{(i * 48271) % 9000:04d}/constant-long-suffix", i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "name string, tb long")
    kcols = [F.col("name"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:200]]
    bounds = [tuple(rows[50])]

    calls: list = []
    orig_agg = type(df).agg

    def spy_agg(self, *a, **kw):
        calls.append([str(c) for c in a])
        return orig_agg(self, *a, **kw)

    import unittest.mock as mock

    info: dict = {}
    with mock.patch.object(type(df), "agg", spy_agg):
        comp = sort_ops._composite_key(
            df, ("name", "tb"), kcols, sample_keys, bounds, info=info
        )
    assert comp is not None
    assert info.get("wstr_packed_fields") == [0], info
    assert info.get("wstr_trivial_fields") == [], info
    flat = [s for call in calls for s in call]
    assert any("count" in s.lower() for s in flat), "job C should have run"


def test_wide_string_singleton_skips_injectivity_job(spark):
    """A wstr field whose neighbors cannot share a budget ends a
    singleton — the exact countDistinct injectivity job must NOT run
    (it is deferred behind group membership; a singleton gains nothing
    from encoding). Asserted with an agg spy that allows exactly the
    min/max pre-job and nothing countDistinct-shaped."""
    from pyspark.sql import DataFrame

    n = 800
    rows = [
        (f"name_{(i * 2654435761) % 10**12:014d}", ((i * 48271) % 4096) / 4096.0, i)
        for i in range(n)
    ]
    # (wide string, wide float, wide id): float spans ~62 bits and id is
    # wide too, so no adjacency ever fits alongside the string window
    df = spark.createDataFrame(rows, "s string, f double, tb long")
    kcols = [F.col("s"), F.col("f"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:300]]
    bounds = [tuple(rows[50]), tuple(rows[100])]

    calls: list = []
    orig_agg = type(df).agg

    def spy_agg(self, *a, **kw):
        calls.append([str(c) for c in a])
        return orig_agg(self, *a, **kw)

    import unittest.mock as mock

    with mock.patch.object(type(df), "agg", spy_agg):
        comp = sort_ops._composite_key(
            df, ("s", "f", "tb"), kcols, sample_keys, bounds
        )
    flat = [s for call in calls for s in call]
    assert not any("count" in s.lower() for s in flat), flat


def test_wide_string_adjacent_pair_realized_width_retry(spark, monkeypatch):
    """Adjacent wstr-wstr keys, the shape optimistic neighbor sizing
    mis-sizes: the LEFT field locks the widest window against an
    optimistic width-1 neighbor, and the RIGHT field then can't share the
    63-bit budget except at a sample-colliding k=1. The window is chosen
    once per field (there is no realized-width retry), so the right field
    declines, the left one strands as a singleton, and no pack forms.
    That costs speed only: positions still equal Spark's struct order."""
    n = 900
    rows_wide = []
    for i in range(n):
        # left: 5 varying digits + constant "00" tail — k=7 spans ~52
        # bits, k=5 spans ~36 and is injective by construction
        a = f"A{(i * 2654435761) % 100000:05d}00"
        # right: 3 varying digits + constant "0000" tail — k=7 spans
        # ~52 bits, k=3 spans ~20 and is injective; k=1 collides
        b = f"B{(i * 48271) % 1000:03d}0000"
        # tb is NOT offered a shared budget: a ~62-bit id span keeps the
        # wstr pair as the only viable group
        rows_wide.append((a, b, ((i * 2654435761) % (1 << 30)) << 32))
    df = spark.createDataFrame(rows_wide, "a string, b string, tb long")
    kcols = [F.col("a"), F.col("b"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows_wide[:80]]
    bounds = [tuple(rows_wide[200]), tuple(rows_wide[500])]

    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("a", "b", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is None, info
    assert info.get("wstr_candidate_fields") == [0, 1], info
    assert info.get("wstr_declined") == {
        0: "singleton",
        1: "sample_collision",
    }, info
    # end-to-end: positions must equal Spark's struct order exactly
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 4)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "a", "b", "tb", stats=stats)
        .orderBy("global_pos")
        .select("tb")
        .collect()
    )
    assert stats.get("composite_key") is False, stats
    expect = [
        r["tb"]
        for r in df.orderBy(
            F.col("a").asc(), F.col("b").asc(), F.col("tb").asc()
        ).collect()
    ]
    assert [r["tb"] for r in got] == expect


def test_failed_retry_restores_original_window_and_accounting(spark):
    """A field whose only clean window is too wide to share a budget
    (every narrower window collides in the sample) keeps that valid
    window and no decline reason of its own — it was never declined, it
    merely stayed a singleton. Only its neighbor's gate
    ('sample_collision') lands in the decline accounting."""
    n = 900
    rows = []
    for i in range(n):
        # x: 'A' + d1 + '00000' + d2 — 100 distinct values; k=7 covers
        # the whole 7-byte tail (clean + trivial), every k ≤ 6 window
        # collides across values sharing d1
        x = f"A{i % 10}00000{(i // 10) % 10}"
        z = f"Z{(i * 48271) % 1000:03d}0000"
        rows.append((x, z, ((i * 2654435761) % (1 << 30)) << 32))
    df = spark.createDataFrame(rows, "x string, z string, tb long")
    kcols = [F.col("x"), F.col("z"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:400]]
    bounds = [tuple(rows[200]), tuple(rows[500])]

    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("x", "z", "tb"), kcols, sample_keys, bounds, info=info
    )
    # no pack can form: x's only budget-sharing windows collide, z's
    # k=1 window collides, tb is 62 bits wide
    assert comp is None, info
    assert info.get("wstr_candidate_fields") == [0, 1], info
    assert info.get("wstr_declined") == {
        0: "singleton",
        1: "sample_collision",
    }, info


def test_retry_skips_right_neighbor_inside_full_group(spark):
    """A stranded wstr field keeps its trivially-proven singleton window.
    Its RIGHT neighbor sits inside a ≥2 group, and pairing with it could
    only EVICT that group's tail (group count unchanged), so the field
    is neither re-windowed nor charged an exact injectivity job."""
    n = 900
    rows = []
    for i in range(n):
        a = f"A{i % 100:02d}00"  # 100 distinct, k=4 trivial, w=28
        b = f"B{(i * 99991) % 1000000:06d}"  # unique, k=6 trivial, w=44
        rows.append((a, b, i % 200))  # c: w=8, groups with b (52 bits)
    df = spark.createDataFrame(rows, "a string, b string, c long")
    kcols = [F.col("a"), F.col("b"), F.col("c")]
    sample_keys = [tuple(r) for r in rows[:400]]
    bounds = [tuple(rows[200]), tuple(rows[500])]

    calls: list = []
    orig_agg = type(df).agg

    def spy_agg(self, *ar, **kw):
        calls.append([str(c) for c in ar])
        return orig_agg(self, *ar, **kw)

    import unittest.mock as mock

    info: dict = {}
    with mock.patch.object(type(df), "agg", spy_agg):
        comp = sort_ops._composite_key(
            df, ("a", "b", "c"), kcols, sample_keys, bounds, info=info
        )
    assert comp is not None, info
    # [b, c] is the one ≥2 group; a must KEEP its proven singleton
    # window instead of stealing b out of it
    assert info.get("wstr_packed_fields") == [1], info
    # both wstr windows are trivially proven — no exact injectivity agg
    # may run
    flat = [s for call in calls for s in call]
    n_cd = sum(s.lower().count("count(") for s in flat)
    assert n_cd == 0, (n_cd, flat)


def test_fixed_suffix_pair_packs_first_pass_without_retry(spark):
    """r14 window cap: with windows capped at the realized max tail
    length, a fixed-length-suffix adjacent pair sizes correctly on the
    FIRST pass (no pad-inflated 52-bit window, no strand). Without the
    cap the left field would lock a 52-bit window and strand the
    pair."""
    n = 900
    rows = []
    for i in range(n):
        a = f"A{i % 500:03d}"  # tail 3 -> capped k=3, w=20
        b = f"B{(i * 7717) % 10000:04d}"  # tail 4 -> capped k=4, w=28
        rows.append((a, b, ((i * 2654435761) % (1 << 30)) << 32))
    df = spark.createDataFrame(rows, "a string, b string, tb long")
    kcols = [F.col("a"), F.col("b"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:400]]
    bounds = [tuple(rows[200]), tuple(rows[500])]

    info: dict = {}
    comp = sort_ops._composite_key(
        df, ("a", "b", "tb"), kcols, sample_keys, bounds, info=info
    )
    assert comp is not None, info
    assert info.get("wstr_packed_fields") == [0, 1], info
    assert info.get("wstr_windows") == {0: (1, 3), 1: (1, 4)}, info
    # both windows cover their whole tails -> trivially injective, no
    # exact countDistinct job was needed either
    assert info.get("wstr_trivial_fields") == [0, 1], info


def test_regime_near_unique_leading_declines_before_exact_job(spark):
    """r14 verdict item 3 (fail-on-pre-fix): a group whose LEADING key
    prefix is sample-high-card relative to rows-per-bucket must decline
    with reason 'regime' BEFORE paying the deferred exact injectivity
    agg or building encodes — the SCALING.md r13-r14 law (lexicographic
    short-circuit: with a near-unique leading field the later fields'
    compares were never being paid, so the pack's build tax, 11-21% of
    wall at 100M, buys nothing). Pre-fix the pair packs [0, 1] and pays
    the right field's countDistinct."""
    import unittest.mock as mock

    n = 5000
    rows = [(f"K{i:06d}", f"D{(i * 271) % 1000:03d}0000", i) for i in range(n)]
    df = spark.createDataFrame(rows, "a string, b string, id long")
    kcols = [F.col("a"), F.col("b")]
    sample_keys = [(r[0], r[1]) for r in rows]
    bounds = [(rows[2000][0], rows[2000][1])]

    # rows-per-bucket 20M/8192 = 2441: the 5000-distinct leading sample
    # clears both the factor-2 engagement floor (5000 >= 4882) and the
    # threshold (5000 >= 2441) deterministically — the sample is the
    # whole table, no birthday odds anywhere
    calls: list = []
    orig_agg = type(df).agg

    def spy_agg(self, *ar, **kw):
        calls.append([str(c) for c in ar])
        return orig_agg(self, *ar, **kw)

    info: dict = {}
    with mock.patch.object(type(df), "agg", spy_agg):
        comp = sort_ops._composite_key(
            df, ("a", "b"), kcols, sample_keys, bounds, info=info,
            est_rows=20_000_000, n_buckets=8192,
        )
    assert comp is None, info
    assert info.get("wstr_declined") == {0: "regime", 1: "regime"}, info
    # the tax the gate exists to remove: zero countDistinct aggregates
    # ran (job A's min/max/octet agg is count-free)
    flat = [s for call in calls for s in call]
    assert sum(s.lower().count("count(") for s in flat) == 0, flat

    # causality control: the SAME shape with the scale args omitted
    # (every pre-r15 call site) packs exactly as before
    info2: dict = {}
    comp2 = sort_ops._composite_key(
        df, ("a", "b"), kcols, sample_keys, bounds, info=info2
    )
    assert comp2 is not None, info2
    assert info2.get("wstr_packed_fields") == [0, 1], info2

    # regime control: a TIE-HEAVY leading field (200 classes, under the
    # 2441 threshold) packs even with the gate armed — the gate
    # discriminates regimes, it is not an on/off switch
    rows3 = [
        (f"K{(i * 7) % 200:03d}", f"D{(i * 271) % 1000:03d}0000", i)
        for i in range(n)
    ]
    df3 = spark.createDataFrame(rows3, "a string, b string, id long")
    sample3 = [(r[0], r[1]) for r in rows3]
    info3: dict = {}
    comp3 = sort_ops._composite_key(
        df3, ("a", "b"), [F.col("a"), F.col("b")], sample3,
        [(rows3[2000][0], rows3[2000][1])], info=info3,
        est_rows=20_000_000, n_buckets=8192,
    )
    assert comp3 is not None, info3
    assert info3.get("wstr_packed_fields") == [0, 1], info3
    assert info3.get("wstr_declined") in (None, {}), info3


def test_regime_gate_end_to_end_with_exhaustive_sample(spark, monkeypatch):
    """The regime decline through with_global_position itself, made
    pigeonhole-deterministic by GP_SAMPLE_MOD=1 (the boundary sample IS
    the table — the same construction verify_gp_grouped_registered.py
    uses for the keyed_fanout_unique assertion): est_rows=4000,
    n_buckets=2, rows-per-bucket=2000, the 4000-distinct leading field
    fires the gate exactly at the factor-2 floor. Positions must stay
    bit-identical to Spark's struct order on the declined path."""
    n = 4000
    rows = [(f"K{i:06d}", f"D{(i * 271) % 1000:03d}0000", i) for i in range(n)]
    df = spark.createDataFrame(rows, "a string, b string, id long")
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 1)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "a", "b", stats=stats)
        .orderBy("global_pos")
        .select("id")
        .collect()
    )
    assert stats.get("composite_key") is False, stats
    assert stats.get("wstr_declined") == {0: "regime", 1: "regime"}, stats
    # leading field is unique, so struct order == id order
    assert [r["id"] for r in got] == list(range(n))
