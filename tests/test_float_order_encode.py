"""Pins for the IEEE-754 order-isomorphic double encode
(functions/numeric.double_order_long and its driver bit-twin) and for
the float rank-pack path it enables in the position machinery
(operators/sort._composite_key, r10 verdict item 4).

The Spark expression is built from deterministic arithmetic (log2 +
exact pow boundaries + Sterbenz-exact mantissa scaling) because the
reflect() route is marked non-deterministic by Catalyst and therefore
banned from aggregates — the rank-pack's min/max pre-job IS an
aggregate over the encode. These tests keep the expression, the Python
bit-twin, and Spark's own double sort order in lockstep (CLAUDE.md:
hash/encode triples must move together)."""

from __future__ import annotations

import math
import random
import struct

from pyspark.sql import functions as F

from kafka_stream_sorter_spark.functions.numeric import (
    DOUBLE_NAN_SLOT,
    double_order_long,
    double_order_long_py,
)
from kafka_stream_sorter_spark.operators import sort as sort_ops

EDGES = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    2.0,
    0.5,
    float("inf"),
    float("-inf"),
    float("nan"),
    5e-324,  # min subnormal
    -5e-324,
    2.2250738585072014e-308,  # min normal
    2.2250738585072009e-308,  # max subnormal
    1.7976931348623157e308,  # max double
    -1.7976931348623157e308,
    256.0,
    256.0000001,
    511.9999999,
    2.0**52,
    2.0**53,
    1e-310,
    -1e-310,
    math.nextafter(1.0, 0.0),
    math.nextafter(1.0, 2.0),
    math.nextafter(2.0**-1022, 0.0),  # one ulp into subnormal range
    math.nextafter(2.0**-1022, 1.0),
]


def _corpus() -> list[float]:
    rng = random.Random(42)
    vals = list(EDGES)
    for _ in range(3000):
        # random 64-bit patterns: hits every exponent band, subnormals,
        # negative zero, and non-canonical NaN payloads
        vals.append(
            struct.unpack(">d", struct.pack(">q", rng.getrandbits(64) - (1 << 63)))[0]
        )
    return vals


def test_double_order_long_matches_bit_twin(spark):
    vals = _corpus()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, d double"
    )
    got = {
        r["i"]: r["e"]
        for r in df.select("i", double_order_long(F.col("d")).alias("e")).collect()
    }
    for i, v in enumerate(vals):
        expect = DOUBLE_NAN_SLOT if math.isnan(v) else double_order_long_py(v)
        assert got[i] == expect, (v, got[i], expect)
    # null stays null
    ndf = spark.createDataFrame([(None,)], "d double")
    assert ndf.select(double_order_long("d").alias("e")).collect()[0]["e"] is None


def test_double_order_long_is_order_isomorphic(spark):
    """enc order == Spark's own double sort order (the ground truth the
    rank-pack must reproduce), including NaN greatest and ±0.0 tie."""
    vals = [v for v in _corpus()]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, d double"
    )
    by_double = [
        r["i"] for r in df.orderBy(F.col("d").asc(), F.col("i").asc()).collect()
    ]
    by_enc = [
        r["i"]
        for r in df.withColumn("e", double_order_long("d"))
        .orderBy(F.col("e").asc(), F.col("i").asc())
        .collect()
    ]
    assert by_double == by_enc


def test_pow2_exactness_assumption(spark):
    """The encode's exponent correction and mantissa scaling assume the
    JVM's pow(2.0, k) is EXACT for every integral k in the double range
    (Python's 2.0**k is IEEE-exact, giving an independent oracle). If a
    JVM ever broke this, the encode would silently mis-bucket — fail
    loudly here instead."""
    ks = list(range(-1074, 1024))
    df = spark.createDataFrame([(k,) for k in ks], "k int")
    got = {
        r["k"]: r["p"]
        for r in df.select(
            "k", F.pow(F.lit(2.0), F.col("k").cast("double")).alias("p")
        ).collect()
    }
    for k in ks:
        assert got[k] == 2.0**k, k


def test_with_global_position_float_field_packs(spark, monkeypatch):
    """(type, sub-binade score, id): the float field packs with the type
    field via the IEEE encode — positions must be bit-identical to
    Spark's struct order, including NaN, null, and tie-heavy score rows.
    (±0.0 can never occur in a PACKED domain alongside other values —
    any domain containing 0 and non-zero crosses binades and correctly
    declines on width; test_float_wide_domain_declines_free covers it.)"""
    monkeypatch.setattr(sort_ops, "GP_SAMPLE_MOD", 2)
    monkeypatch.setattr(sort_ops, "GP_COMPOSITE_MIN_ROWS", 0)
    n = 4000
    rows = []
    for i in range(n):
        if i % 97 == 0:
            score = float("nan")
        elif i % 101 == 0:
            score = None
        elif i % 103 == 0:
            score = 256.0  # tie-heavy value: row_number falls to tb
        else:
            score = 256.0 + ((i * 2654435761) % 4096) / 4096.0
        rows.append((f"t{(i * 13) % 6}", score, i))
    df = spark.createDataFrame(rows, "k string, score double, tb long")
    stats: dict = {}
    got = (
        sort_ops.with_global_position(df, "k", "score", "tb", stats=stats)
        .orderBy("global_pos")
        .select("k", "score", "tb", "global_pos")
        .collect()
    )
    assert stats["composite_key"] is True, stats
    # ground truth: Spark's own struct sort order on the same frame
    expect = [
        (r["k"], r["tb"])
        for r in df.orderBy(
            F.col("k").asc(), F.col("score").asc(), F.col("tb").asc()
        ).collect()
    ]
    assert [(r["k"], r["tb"]) for r in got] == expect
    assert [r["global_pos"] for r in got] == list(range(1, n + 1))


def test_float_wide_domain_declines_free(spark, monkeypatch):
    """A [0,1]-style score spans ~62 bits, so (score, id) can never
    share a 63-bit budget: the sample lower-bound gate must decline the
    float WITHOUT paying the min/max pre-job (DataFrame.agg spy)."""
    from pyspark.sql import DataFrame

    n = 500
    rows = [(((i * 2654435761) % 4096) / 4096.0, i) for i in range(n)]
    df = spark.createDataFrame(rows, "score double, tb long")
    kcols = [F.col("score"), F.col("tb")]
    sample_keys = [(r[0], r[1]) for r in rows[:200]]
    bounds = [rows[50]]

    def _no_agg(self, *a, **kw):  # pragma: no cover - failure path
        raise AssertionError("min/max pre-job ran for a hopeless float key")

    # patch the CONCRETE class: in Spark 4 the classic DataFrame
    # overrides agg, so a base-class patch never intercepts (r12 found
    # the agg spies in this suite were vacuous for exactly this reason)
    monkeypatch.setattr(type(df), "agg", _no_agg)
    comp = sort_ops._composite_key(
        df, ("score", "tb"), kcols, sample_keys, bounds
    )
    assert comp is None
