"""Repeated plans must compile nothing.

Spark caches the classes whole-stage codegen compiles, keyed by the
generated source. A repeat of a call is compile-free only when (a) the
cache holds the engine's working set — ``session.get_spark`` sizes
``spark.sql.codegen.cache.maxEntries`` for it, Spark's default of 100 is
smaller than one pass of the reference pipeline — and (b) the call's plan
generates the same source every time. A ``.limit()`` inside a codegen
stage breaks (b): Spark names the limit's counter after a JVM-global id,
so every plan instance is new source (the boundary sample of
``with_global_position`` did this until it became ORDER BY + LIMIT).

Each test warms a call once, repeats it, and asserts the repeat adds 0 to
the compile counter (``session.codegen_compiles``: a py4j read of Spark's
``CodegenMetrics``, no Spark job). Queries whose plan legitimately varies
between calls are allowlisted by name with the Spark-side cause, and must
still reach a repeat that compiles nothing.
"""

from __future__ import annotations

import pytest

from kafka_stream_sorter_spark import cli
from kafka_stream_sorter_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    CODEGEN_WORKING_SET,
    codegen_compiles,
)

#: registered queries whose plan can differ from call to call, so a repeat
#: may compile the classes of a variant not seen before — by name, with the
#: Spark-side cause. Each has a few variants, and each variant compiles
#: once, so a repeat eventually compiles nothing; the test below checks
#: exactly that, where a plan that is new source on EVERY call would
#: compile on every repeat.
#: (Codegen stage ids, the other call-to-call difference, are kept out of
#: the source by ``spark.sql.codegen.useIdInClassName=false`` in
#: ``session.get_spark``.)
REPEAT_COMPILE_ALLOWLIST: dict[str, str] = {
    "agg_distinct": "RewriteDistinctAggregates numbers the distinct groups in "
    "the iteration order of a hash map keyed by expression sets, whose hashes "
    "include the attribute ids a fresh read gets, so the Expand projections "
    "and their group ids swap between calls",
    "dedup_jaccard": "AQE plans a broadcast join from the first shuffle stage "
    "known to be small; which side that is depends on which stage finishes "
    "first, so the build side swaps between calls",
    "dedup_minhash_lsh": "AQE broadcast-vs-sort-merge choice for the "
    "candidate joins depends on stage completion order",
    "dedup_connected_groups": "AQE broadcast-vs-sort-merge choice for the "
    "edge-building LSH join, which runs under the caller's AQE session on "
    "purpose (operators/dedup.py), depends on stage completion order",
    "tpch_q20_excess_share": "AQE broadcast-vs-sort-merge choice for the "
    "semi join depends on stage completion order, which changes how the "
    "partkey aggregates fuse into codegen stages",
}

#: registered queries that must repeat compile-free: the global-position
#: fan-outs, whose per-call LIMIT made every call new source until the
#: boundary sample became ORDER BY + LIMIT, and dedup_ngram_jaccard, whose
#: repeats differed only in codegen stage ids
REPEAT_CHECKED_QUERIES = (
    "dedup_ngram_jaccard",
    "keyed_fanout",
    "keyed_fanout_name",
    "keyed_fanout_pair",
    "keyed_fanout_score",
    "keyed_fanout_ts",
    "keyed_fanout_unique",
    "keyed_fanout_url",
)
#: repeats of an allowlisted query; more than its plan variants, so one of
#: them must find every class in the cache
ALLOWLIST_REPEATS = 4


def _compiles(spark, fn) -> int:
    """Classes compiled while ``fn`` runs."""
    before = codegen_compiles(spark)
    fn()
    return codegen_compiles(spark) - before


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_session_cache_covers_working_set(spark):
    got = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert got == CODEGEN_CACHE_MAX_ENTRIES
    assert got >= CODEGEN_WORKING_SET


def test_cli_sort_validate_repeat_compiles_nothing(spark, tmp_path):
    src = str(tmp_path / "source")
    cli.main(["produce", "--rows", "5000", "--seed", "1", "--format", "csv", "--out", src])
    calls = []
    for k in ("id", "name", "continent"):
        dst = str(tmp_path / k)
        calls.append((f"sort {k}", lambda k=k, dst=dst: cli.main(
            ["sort", "--key", k, "--format", "csv", "--in", src, "--out", dst])))
        calls.append((f"validate {k}", lambda k=k, dst=dst: cli.main(
            ["validate", "--key", k, "--format", "csv", "--in", src, "--out", dst])))
    for _, fn in calls:  # warm
        fn()
    got = {name: _compiles(spark, fn) for name, fn in calls}
    assert not any(got.values()), got


@pytest.mark.parametrize(
    "keys, pack",
    [(("continent", "id"), True), (("name",), False)],
    ids=["continent_id_packed", "name"],
)
def test_global_position_repeat_compiles_nothing(spark, tmp_path, monkeypatch, keys, pack):
    from kafka_stream_sorter_spark.operators import sort
    from kafka_stream_sorter_spark.sources.generator import reference_records

    if pack:  # run the composite-key pack code at this table size
        monkeypatch.setattr(sort, "GP_COMPOSITE_MIN_ROWS", 0)
    path = str(tmp_path / "table")
    reference_records(spark, 5000, seed=1).write.parquet(path)
    t = spark.read.parquet(path)
    def position():
        _noop(sort.with_global_position(t, *keys))

    position()  # warm
    assert _compiles(spark, position) == 0


@pytest.mark.parametrize("name", REPEAT_CHECKED_QUERIES)
def test_registered_query_repeat_compiles_nothing(spark, sf_dir, name):
    from kafka_stream_sorter_spark.registry import QUERIES

    def run():
        _noop(QUERIES[name](spark, sf_dir))

    run()  # warm
    assert _compiles(spark, run) == 0


@pytest.mark.parametrize("name", sorted(REPEAT_COMPILE_ALLOWLIST))
def test_allowlisted_query_plan_variants_are_cached(spark, sf_dir, name):
    """An allowlisted query may compile on a repeat that meets a new plan
    variant, but its variants are few: some repeat finds them all cached."""
    from kafka_stream_sorter_spark.registry import QUERIES

    def run():
        _noop(QUERIES[name](spark, sf_dir))

    run()  # warm
    got = [_compiles(spark, run) for _ in range(ALLOWLIST_REPEATS)]
    assert 0 in got, f"{name} compiled on every repeat: {got}"
