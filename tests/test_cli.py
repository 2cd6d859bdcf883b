"""CLI surface (cli.py): produce → sort → validate in-process, both
formats. The CLI builds its session via get_spark (getOrCreate reuses the
test session), so these run fast and assert the same binaries-parity
semantics the reference's run.sh exercises."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_sorter_spark import cli


def test_produce_sort_validate_parquet(spark, tmp_path):
    src, dst = str(tmp_path / "source"), str(tmp_path / "sorted_id")
    cli.main(["produce", "--rows", "5000", "--out", src])
    cli.main(["sort", "--key", "id", "--in", src, "--out", dst])
    cli.main(["validate", "--key", "id", "--in", src, "--out", dst])  # raises on failure
    out = spark.read.parquet(dst)
    assert out.count() == 5000


def test_produce_sort_csv_wire_format(spark, tmp_path):
    """--format csv speaks the reference's value-only CSV wire format:
    sorted output lines re-parse losslessly and arrive in key order."""
    src, dst = str(tmp_path / "src_csv"), str(tmp_path / "sorted_name_csv")
    cli.main(["produce", "--rows", "2000", "--format", "csv", "--out", src])
    cli.main(["sort", "--key", "name", "--format", "csv", "--in", src, "--out", dst])

    from kafka_stream_sorter_spark.sources.generator import parse_csv_lines

    back = parse_csv_lines(spark.read.text(dst))
    assert back.count() == 2000
    # within-file line order is the sort order; files are range-disjoint
    names = [r.name for r in back.collect()]
    assert sorted(names) == sorted(names)  # parse sanity
    from kafka_stream_sorter_spark.validate import assert_sorted

    assert_sorted(spark.read.text(dst).select(F.split("value", ",")[1].alias("k")), "k")
    # the validate subcommand handles the CSV wire format too (round-4
    # review: it was parquet-only while sort/produce both wrote CSV)
    cli.main(["validate", "--key", "name", "--format", "csv", "--in", src, "--out", dst])


def test_sort_rejects_bad_key(tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        cli.main(["sort", "--key", "address", "--in", str(tmp_path), "--out", str(tmp_path / "o")])


def test_sort_continent_uses_dict_path_and_validates(spark, tmp_path):
    """key=continent routes through the dictionary-encoded radix fast path
    (sources/kafka.py:sort_topic_pipeline) — the output must still be
    totally ordered by continent and count-conserved, exactly like the
    plain path the other two keys take."""
    src, dst = str(tmp_path / "source"), str(tmp_path / "sorted_continent")
    cli.main(["produce", "--rows", "5000", "--out", src])
    cli.main(["sort", "--key", "continent", "--in", src, "--out", dst])
    cli.main(["validate", "--key", "continent", "--in", src, "--out", dst])
    out = spark.read.parquet(dst)
    assert out.count() == 5000
    assert out.columns == spark.read.parquet(src).columns  # no helper column leaks


def test_ui_flag_parses_in_both_positions():
    """`cli --ui sort ...` and `cli sort ... --ui` must both set ui=True:
    the subparser copies of --ui default to SUPPRESS, because argparse
    copies subparser results back over the main namespace and a plain
    store_true default False there erased a pre-subcommand --ui
    (r4 ADVICE)."""
    p = cli.build_parser()
    base = ["sort", "--key", "id", "--in", "x", "--out", "y"]
    assert p.parse_args(["--ui"] + base).ui is True
    assert p.parse_args(base + ["--ui"]).ui is True
    assert p.parse_args(base).ui is False


def test_validate_counts_rows_in_its_order_check(spark, tmp_path):
    """`validate` takes the output's row count from the order check's own
    per-run groupBy, so it runs 4 jobs on CSV wire input: 2 for the order
    check and 2 for the source count (each a shuffle map stage plus its
    result under AQE). It used to count the output twice more (8 jobs)."""
    src, dst = str(tmp_path / "source"), str(tmp_path / "sorted_id")
    cli.main(["produce", "--rows", "5000", "--format", "csv", "--out", src])
    cli.main(["sort", "--key", "id", "--format", "csv", "--in", src, "--out", dst])
    sc = spark.sparkContext
    sc.setJobGroup("cli_validate_jobs", "validate job count")
    try:
        cli.main(["validate", "--key", "id", "--format", "csv", "--in", src, "--out", dst])
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("cli_validate_jobs")) == 4


def test_validate_still_catches_lost_rows(spark, tmp_path):
    """The reused row count still guards conservation: an output missing a
    row fails validate."""
    import pytest

    src, dst = str(tmp_path / "source"), str(tmp_path / "sorted_id")
    cli.main(["produce", "--rows", "2000", "--out", src])
    cli.main(["sort", "--key", "id", "--in", src, "--out", dst])
    short = str(tmp_path / "short")
    out = spark.read.parquet(dst)
    first = out.agg(F.min("id")).first()[0]
    out.where(F.col("id") != first).write.parquet(short)
    with pytest.raises(AssertionError, match="not conserved"):
        cli.main(["validate", "--key", "id", "--in", src, "--out", short])
