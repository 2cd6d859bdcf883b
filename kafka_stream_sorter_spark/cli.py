"""Command-line entry points — UX parity with the reference's two binaries.

The reference ships ``./producer`` (generate N CSV records into the
``source`` topic, ``/root/reference/cmd/producer/main.go:20-26``) and
``./sorter <key>`` (drain, total-order by id|name|continent, publish to
``sorted_<key>``, ``/root/reference/cmd/sorter/main.go:18-72``), wired
together by ``scripts/run.sh``. This module is the same surface on the
Spark engine, with the topic swapped for a path (parquet or CSV directory)
when no broker is configured:

    python -m kafka_stream_sorter_spark.cli produce --rows 50000000 --out /data/source
    python -m kafka_stream_sorter_spark.cli sort --key id   --in /data/source --out /data/sorted_id
    python -m kafka_stream_sorter_spark.cli sort --key name --in kafka://broker:9092/source \
                                                 --out kafka://broker:9092/sorted_name

``kafka://host:port/topic`` URIs route through sources/kafka.py (requires
the connector jar + a live broker, exactly like the reference requires a
cluster); plain paths write/read parquet (CSV with --format csv). The
reference's pprof endpoint (op #19) maps to the Spark UI — pass --ui to
enable it.
"""

from __future__ import annotations

import argparse
import sys
import time


def _parse_kafka_uri(uri: str) -> tuple[str, str] | None:
    if uri.startswith("kafka://"):
        rest = uri[len("kafka://") :]
        brokers, _, topic = rest.partition("/")
        if not brokers or not topic:
            raise ValueError(f"bad kafka uri {uri!r}; want kafka://host:port/topic")
        return brokers, topic
    return None


def _session(args):
    from kafka_stream_sorter_spark.session import get_spark

    extra = {} if args.ui else {"spark.ui.enabled": "false"}
    if args.ui:
        extra["spark.ui.enabled"] = "true"
    return get_spark(app_name=f"kss-{args.cmd}", extra_conf=extra)


def cmd_produce(args) -> None:
    from kafka_stream_sorter_spark.sources.generator import (
        jit_friendly_codegen,
        reference_records,
    )

    spark = _session(args)
    t0 = time.perf_counter()
    records = reference_records(spark, args.rows, seed=args.seed)
    kafka_dest = _parse_kafka_uri(args.out)
    with jit_friendly_codegen(spark):
        if kafka_dest:
            from kafka_stream_sorter_spark.sources.kafka import (
                records_to_values,
                write_topic,
            )

            write_topic(records_to_values(records), *kafka_dest)
        elif args.format == "csv":
            records_to_csv_dir(records, args.out)
        else:
            records.write.mode("overwrite").parquet(args.out)
    dt = time.perf_counter() - t0
    print(f"[produce] {args.rows} rows -> {args.out} in {dt:.1f}s "
          f"({int(args.rows / max(dt, 1e-9))} rows/s)")


def records_to_csv_dir(records, out: str) -> None:
    """Value-only CSV lines — byte-identical to the reference's wire format
    (cmd/producer/main.go:82)."""
    from kafka_stream_sorter_spark.sources.kafka import records_to_values

    records_to_values(records).write.mode("overwrite").text(out)


def cmd_sort(args) -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.sources.generator import parse_csv_lines
    from kafka_stream_sorter_spark.sources.kafka import (
        SORT_KEYS,
        records_to_values,
        sort_topic_pipeline,
    )

    if args.key not in SORT_KEYS:
        print(f"invalid key; must be one of {sorted(SORT_KEYS)}", file=sys.stderr)
        raise SystemExit(1)

    spark = _session(args)
    t0 = time.perf_counter()
    src_kafka = _parse_kafka_uri(args.infile)
    if src_kafka:
        from kafka_stream_sorter_spark.sources.kafka import (
            read_topic,
            records_from_topic,
        )

        records = records_from_topic(read_topic(spark, *src_kafka))
    elif args.format == "csv":
        records = parse_csv_lines(spark.read.text(args.infile))
    else:
        records = spark.read.parquet(args.infile)

    ordered = sort_topic_pipeline(records, args.key)

    dst_kafka = _parse_kafka_uri(args.out)
    if dst_kafka:
        from kafka_stream_sorter_spark.sources.kafka import write_topic

        write_topic(records_to_values(ordered), *dst_kafka)
    elif args.format == "csv":
        records_to_csv_dir(ordered, args.out)
    else:
        ordered.write.mode("overwrite").parquet(args.out)
    # dt is the sort+write time only — the row count below is a separate
    # verification read and must not inflate the reported figure.
    dt = time.perf_counter() - t0
    n = spark.read.parquet(args.out).count() if not dst_kafka and args.format != "csv" else None
    suffix = f", {n} rows" if n is not None else ""
    print(f"[sort:{args.key}] {args.infile} -> {args.out} in {dt:.1f}s{suffix}")


def _read_records(spark, path: str, fmt: str):
    """Read a produce/sort output in either on-disk format (the validate
    twin of cmd_sort's writer dispatch)."""
    if fmt == "csv":
        from kafka_stream_sorter_spark.sources.generator import parse_csv_lines

        return parse_csv_lines(spark.read.text(path))
    return spark.read.parquet(path)


def cmd_validate(args) -> None:
    """≙ the reference's test_validation.sh: assert the output is totally
    ordered by the key and conserves the input row count. ``--format csv``
    validates the CSV wire outputs cmd_sort writes (the reference's
    test_validation.sh validated exactly that format)."""
    from kafka_stream_sorter_spark.validate import assert_count_conserved, assert_sorted

    spark = _session(args)
    src = _read_records(spark, args.infile, args.format)
    out = _read_records(spark, args.out, args.format)
    n = assert_sorted(out, args.key)
    assert_count_conserved(src, out, result_rows=n)
    print(f"[validate:{args.key}] OK — ordered and count-conserved ({n} rows)")


def build_parser() -> argparse.ArgumentParser:
    # --ui parses in both positions:
    #   cli --ui sort ...   and   cli sort ... --ui
    # The top-level copy defaults False; the subparser copies default to
    # SUPPRESS — argparse copies every subparser result back over the
    # main namespace, so a plain store_true default False on the
    # subparser would silently erase a pre-subcommand --ui (r4 ADVICE).
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--ui",
        action="store_true",
        default=argparse.SUPPRESS,
        help="enable the Spark UI (≙ pprof, op #19)",
    )
    p = argparse.ArgumentParser(prog="kafka_stream_sorter_spark")
    p.add_argument(
        "--ui", action="store_true", help="enable the Spark UI (≙ pprof, op #19)"
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser(
        "produce", parents=[common],
        help="generate reference-shaped records (≙ ./producer)",
    )
    pp.add_argument("--rows", type=int, default=50_000_000)
    pp.add_argument("--seed", type=int, default=42)
    pp.add_argument("--out", required=True, help="path or kafka://host:port/topic")
    pp.add_argument("--format", choices=["parquet", "csv"], default="parquet")

    ps = sub.add_parser(
        "sort", parents=[common],
        help="total-order sort by key (≙ ./sorter <key>)",
    )
    ps.add_argument("--key", required=True, help="id | name | continent")
    ps.add_argument("--in", dest="infile", required=True)
    ps.add_argument("--out", required=True)
    ps.add_argument("--format", choices=["parquet", "csv"], default="parquet")

    pv = sub.add_parser(
        "validate", parents=[common],
        help="assert sorted + count-conserved (≙ test_validation.sh)",
    )
    pv.add_argument("--key", required=True)
    pv.add_argument("--in", dest="infile", required=True)
    pv.add_argument("--out", required=True)
    pv.add_argument("--format", choices=["parquet", "csv"], default="parquet")

    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    {"produce": cmd_produce, "sort": cmd_sort, "validate": cmd_validate}[args.cmd](args)


if __name__ == "__main__":
    main()
