"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same configs are the ones we would ship to a 1000-executor cluster:
AQE on (runtime coalescing, skew-join splitting), shuffle partitions sized
to the parallelism at hand rather than the 200 default, Arrow enabled for
the Pandas-UDF slow path, and session timezone pinned to UTC so results are
bit-comparable with the DuckDB oracle.

The reference's memory management (adaptive chunk sizing under a ~2 GB cap,
``/root/reference/internal/sort/external_sort.go:33-59``) has no analogue
here on purpose: Spark's TaskMemoryManager sizes and spills sort runs
automatically under ``spark.memory.fraction``.

Spark keeps every class whole-stage codegen compiles in one JVM-wide cache
keyed by the generated source; its default of 100 entries is smaller than
one pass of this engine's own calls, so at the default every repeat of a
plan re-runs Janino and re-JITs the classes it loads.
``CODEGEN_CACHE_MAX_ENTRIES`` sizes the cache to the measured working set
(see its comment). The driver's bare session (``tests/test_vanilla_session.py``)
keeps Spark's default of 100: that costs it speed on repeated plans, never
correctness, since an evicted class is simply compiled again.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries`` (static; Spark's default is 100).
#: Measured working set, in distinct generated sources one pass compiles:
#: the full 125-query registry at sf0.001 compiled 1,071; the CLI pipeline
#: (produce, then sort and validate for id/name/continent) plus the
#: global-position calls 127. 4096 covers both with headroom. Memory after
#: two registry passes on a 4-core host: metaspace 205.5 MB and code cache
#: 116.4 MB, against 216.6 MB and 122.0 MB at the default, which loads every
#: evicted class again.
CODEGEN_CACHE_MAX_ENTRIES = 4096
CODEGEN_WORKING_SET = 1_071 + 127


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "kafka_stream_sorter_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this would instead be set to ~2-3x total executor cores, or left
    to AQE's ``spark.sql.adaptive.coalescePartitions`` with a high initial
    count; AQE coalescing is enabled either way.
    """
    cpus = default_parallelism()
    # Python workers (Pandas UDF / mapInPandas) must be able to import this
    # package; they inherit PYTHONPATH from the driver JVM, not sys.path.
    repo_root = str(Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
        # Bound single-partition scan size so a 100 TB table still splits
        # into executor-memory-sized tasks (default 128m kept explicit).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert at load (sources/parquet.py), truncating
        # to micros exactly as DuckDB does.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep repeated plans compile-free (see CODEGEN_CACHE_MAX_ENTRIES).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # The cache is keyed by generated source, and by default each
        # whole-stage class is named after its codegen stage id. AQE numbers
        # stages in the order it creates them, which varies with which
        # shuffle stage finishes first, so an unchanged stage could come
        # back under a new name and compile again (measured on
        # dedup_jaccard). Unnamed, it is the same source.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM: the count of Spark's
    ``CodegenMetrics`` compilation-time histogram, read over py4j with no
    Spark job. A codegen-cache hit does not compile, so the delta around a
    repeated call is 0 when its plan's generated source is stable."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
