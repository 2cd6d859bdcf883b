"""Dead-spy canary (r12 verdict item 5).

Round 12 found that the suite's DataFrame.agg spies, patched on the
pyspark.sql.DataFrame BASE class, were vacuous: Spark 4's classic
DataFrame subclass OVERRIDES ``agg``, so the base-class attribute was
never consulted and the "no aggregate ran" assertions passed no matter
what ran. The suite now patches ``type(df)`` (the concrete class), but
nothing stopped a future Spark upgrade from re-routing the call path
and silently disarming every plan/agg assertion again.

This module is the tripwire: for each spy idiom the suite uses, a
trivial POSITIVE case asserts the spy actually FIRES — once on a
direct ``df.agg`` call and once through library code
(operators/sort._composite_key's job-A pre-job), the two call paths
the real tests intercept. If an upgrade changes the dispatch so the
concrete-class patch stops intercepting, these fail loudly instead of
every downstream negative assertion passing vacuously. The base-class
idiom is pinned VACUOUS for the same reason: if it ever starts
intercepting, the class hierarchy changed and the suite's patching
assumptions need re-auditing."""

from __future__ import annotations

import unittest.mock as mock

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_stream_sorter_spark.operators import sort as sort_ops


def _spy(calls):
    def spy_agg(self, *a, **kw):
        calls.append([str(c) for c in a])
        return spy_agg.orig(self, *a, **kw)

    return spy_agg


def test_concrete_class_agg_spy_fires_on_direct_call(spark):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    calls: list = []
    spy = _spy(calls)
    spy.orig = type(df).agg
    with mock.patch.object(type(df), "agg", spy):
        n = df.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    assert n == 2
    assert calls, "concrete-class agg spy did not fire on df.agg — the suite's spies are disarmed"
    assert any("count" in s.lower() for call in calls for s in call)


def test_concrete_class_agg_spy_fires_through_library_code(spark):
    """The spies' real target: aggregates issued INSIDE operators/sort
    (job A of the rank-pack pre-job), not by the test itself."""
    rows = [(i, i * 31 % 97, i) for i in range(300)]
    df = spark.createDataFrame(rows, "a long, b long, tb long")
    kcols = [F.col("a"), F.col("b"), F.col("tb")]
    sample_keys = [tuple(r) for r in rows[:100]]
    bounds = [tuple(rows[50])]
    calls: list = []
    spy = _spy(calls)
    spy.orig = type(df).agg
    with mock.patch.object(type(df), "agg", spy):
        comp = sort_ops._composite_key(
            df, ("a", "b", "tb"), kcols, sample_keys, bounds
        )
    assert comp is not None
    assert calls, (
        "agg spy did not intercept _composite_key's job-A pre-job — "
        "every 'no countDistinct ran' assertion in the suite is vacuous"
    )
    assert any("min" in s.lower() for call in calls for s in call)


def test_base_class_agg_patch_stays_vacuous(spark):
    """The r12 bug, pinned as a FACT about the current class hierarchy:
    a base-class patch never intercepts the concrete DataFrame's agg.
    If this starts failing, Spark's dispatch changed and every
    patch-site in the suite needs re-auditing (not necessarily broken —
    but the assumption they were rewritten around no longer holds)."""
    df = spark.createDataFrame([(1,)], "x long")
    if type(df) is DataFrame:
        import pytest

        pytest.skip("concrete class IS the base class on this Spark build")
    calls: list = []
    spy = _spy(calls)
    spy.orig = DataFrame.agg
    with mock.patch.object(DataFrame, "agg", spy):
        df.agg(F.count(F.lit(1))).collect()
    assert not calls, (
        "base-class agg patch now intercepts — the Spark class hierarchy "
        "changed; re-audit every type(df) patch site in the suite"
    )
