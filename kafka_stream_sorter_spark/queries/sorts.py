"""Sort-family queries — reference parity (SURVEY.md §2.A op #14).

The reference's entire query surface is three total-order sorts of one
table (``/root/reference/cmd/sorter/main.go:24`` maps key → sort job;
``internal/sort/external_sort.go:69-201`` executes). ``events`` /
``customer`` play the role of the Kafka ``source`` topic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_sorter_spark.operators import sort as sort_ops
from kafka_stream_sorter_spark.registry import query
from kafka_stream_sorter_spark.sources.parquet import load_table


@query(
    "sort_numeric",
    oracle="""
    SELECT event_id, user_id, event_type, value, props
    FROM events ORDER BY event_id
    """,
)
def sort_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ ``./sorter id`` — numeric total order (external_sort.go:140-144)."""
    events = load_table(spark, sf_dir, "events")
    return sort_ops.global_sort(
        events.select("event_id", "user_id", "event_type", "value", "props"), "event_id"
    )


@query(
    "sort_lexicographic",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer ORDER BY c_name, c_custkey
    """,
)
def sort_lexicographic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ ``./sorter name`` — lexicographic total order (external_sort.go:145-147).
    ASCII-only data keeps Spark UTF8String binary order == DuckDB == Go byte
    order (SURVEY.md §7.5)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.orderBy(F.col("c_name").asc(), F.col("c_custkey").asc())


@query(
    "sort_low_cardinality",
    oracle="""
    SELECT event_type, event_id, user_id, value
    FROM events ORDER BY event_type, event_id
    """,
)
def sort_low_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ ``./sorter continent`` — 5-6 distinct keys over the full table.
    Deterministic tie-break added (reference ties are arbitrary order)."""
    events = load_table(spark, sf_dir, "events")
    return sort_ops.sort_with_tiebreak(
        events.select("event_type", "event_id", "user_id", "value"), "event_type", "event_id"
    )


@query(
    "keyed_fanout",
    oracle="""
    SELECT 'by_id' AS sort_name, event_id,
           row_number() OVER (ORDER BY event_id) AS pos
    FROM events
    UNION ALL
    SELECT 'by_type' AS sort_name, event_id,
           row_number() OVER (ORDER BY event_type, event_id) AS pos
    FROM events
    UNION ALL
    SELECT 'by_user' AS sort_name, event_id,
           row_number() OVER (ORDER BY user_id, event_id) AS pos
    FROM events
    """,
)
def keyed_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ one source topic → three sorted output topics
    (scripts/run.sh:33-35; cmd/sorter/main.go:42-46). Like the reference,
    each output scans the source once (3× total — a deliberate
    non-caching choice: a registered builder that ``.cache()``-ed would
    pin memory for the rest of the session, and at 100 TB the source
    wouldn't fit anyway; a production fanout would stage the source to a
    table once and let the three sorts read that). Each output's total
    order is materialized as an explicit position column (the
    order-into-a-partitioned-sink pattern, SURVEY.md §7.5).

    The three builds are OVERLAPPED from a driver thread pool (r16,
    optimization guide §2.6): each with_global_position blocks the
    driver on two keys-only pre-jobs (boundary-sample collect + exact
    bucket counts), so the sequential loop ran six driver-blocking jobs
    back to back while the cluster idled between them; three threads
    run them as ~two waves, the later builds' jobs back-filling
    executors freed by the earlier ones. Positions are pure functions
    of row values and collected literals (the operator's whole design —
    see with_global_position's no-persist rationale), so build order
    cannot affect results; the union keeps the fixed by_id/by_type/
    by_user branch order either way. Measured 0.449× wall at sf0.1
    (median 1.29 s vs 2.87 s sequential, alternating repeats, calib
    bracket 0.70→0.81 — scripts/probe_fanout_overlap_ab.py)."""
    from concurrent.futures import ThreadPoolExecutor

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    specs = {
        "by_id": ["event_id"],
        "by_type": ["event_type", "event_id"],
        "by_user": ["user_id", "event_id"],
    }

    def build(item):
        name, keys = item
        # distributed position assignment (deterministic value-hash
        # boundary buckets + per-bucket row numbers + tiny offset map) —
        # NOT a no-partition window, which would serialize the whole
        # table through one task, and cache-free: safe to loop without
        # storage growth (operators/sort.py:with_global_position)
        pos_df = sort_ops.with_global_position(events, *keys)
        return pos_df.select(
            F.lit(name).alias("sort_name"),
            F.col("event_id"),
            F.col("global_pos").alias("pos"),
        )

    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        outs = list(pool.map(build, specs.items()))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@query(
    "keyed_fanout_ts",
    oracle="""
    SELECT event_id,
           row_number() OVER (
             ORDER BY event_type NULLS FIRST, ts NULLS FIRST,
                      event_id * 2654435761 NULLS FIRST
           ) AS pos
    FROM events
    """,
)
def keyed_fanout_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout on the canonical 100 TB log key — (type,
    event_time, unique_id) — the shape the reference's per-topic sorts
    imply when a topic is keyed by type and consumed in time order
    (cmd/sorter/main.go:42-46 dispatches one sort per key; event time is
    the natural second key of its CSV wire rows, generator.go:22-58).

    ``wide_id`` (event_id × 2654435761, a Knuth multiplicative spread
    both engines compute identically on BIGINT) forces the full
    rank-pack over budget: (type ≈3 bits) + (micros span ≈42) fits one
    long, +48 more does not — so above GP_COMPOSITE_MIN_ROWS this is
    exactly the GROUPED partial-pack path ((type,ts) packed + wide raw,
    operators/sort.py:_composite_key adjacent-run grouping), the one
    r10 machinery no registry entry previously reached. At driver gate
    scale the min-rows gate keeps the struct-compare path (now also
    running on epoch_us-encoded ts); the packed path is proven
    hash-identical on THIS registered shape by
    scripts/verify_gp_grouped_registered.py with the gate lowered.
    Output carries positions + ids only (no raw timestamp emission)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    keyed = events.withColumn(
        "wide_id", F.col("event_id") * F.lit(2654435761)
    )
    pos_df = sort_ops.with_global_position(
        keyed, "event_type", "ts", "wide_id"
    )
    return pos_df.select("event_id", F.col("global_pos").alias("pos"))


@query(
    "keyed_fanout_score",
    oracle="""
    SELECT event_id,
           row_number() OVER (
             ORDER BY event_type NULLS FIRST,
                      (256.0 + value / 1024.0) NULLS FIRST,
                      event_id NULLS FIRST
           ) AS pos
    FROM events
    """,
)
def keyed_fanout_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout keyed by a FLOAT quality score — (type, score,
    unique_id), the remaining declined-path trigger a training-data
    pipeline plausibly hits (r10 verdict item 4; the reference sorts
    only string/numeric CSV keys, external_sort.go:368-425, but a score
    column is the natural third key of its typed fan-out).

    ``score = 256.0 + value/1024.0`` keeps the domain inside one binade
    (value ∈ [0, ~560] → score ∈ [256, 256.55)), computed identically in
    both engines (a power-of-two division and one rounded add), so above
    GP_COMPOSITE_MIN_ROWS the IEEE-754 rank-pack
    (functions/numeric.double_order_long) packs (type, score) into one
    long — ~3+44 bits — with event_id grouped separately: the float
    GROUPED path. At driver-gate scale the min-rows gate keeps the
    struct-compare path; the packed path is proven hash-identical on
    this registered shape by scripts/verify_gp_grouped_registered.py
    with the gate lowered. Output carries positions + ids only."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    keyed = events.withColumn(
        "score", F.lit(256.0) + F.col("value") / F.lit(1024.0)
    )
    pos_df = sort_ops.with_global_position(
        keyed, "event_type", "score", "event_id"
    )
    return pos_df.select("event_id", F.col("global_pos").alias("pos"))


@query(
    "keyed_fanout_name",
    oracle="""
    SELECT c_custkey,
           row_number() OVER (
             ORDER BY c_mktsegment NULLS FIRST, c_name NULLS FIRST
           ) AS pos
    FROM customer
    """,
)
def keyed_fanout_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout keyed by a HIGH-cardinality string — (segment,
    unique name), the last declined-path class a real user hits (r11
    verdict item 4: doc ids, names, URLs; the reference's own ``./sorter
    name`` sorts exactly this column, external_sort.go:368-398).

    ``c_name`` is 'Customer#<9 digits>': every value shares the min/max
    byte prefix and the remaining digits fit one ≤7-byte window, so
    above GP_COMPOSITE_MIN_ROWS the wide-string prefix pack
    (functions/numeric.string_prefix_order_long, gated on an exact
    countDistinct injectivity pre-job) folds (segment rank ≈3 bits,
    name window ≈41-49 bits) into ONE search long. At driver-gate scale
    the min-rows gate keeps the struct-compare path; the packed path is
    proven hash-identical on this registered shape by
    scripts/verify_gp_grouped_registered.py with the gate lowered.
    ASCII-only data keeps Spark UTF8 binary order == DuckDB (the
    sort_lexicographic precedent). Output carries positions + keys only."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    pos_df = sort_ops.with_global_position(customer, "c_mktsegment", "c_name")
    return pos_df.select("c_custkey", F.col("global_pos").alias("pos"))


@query(
    "keyed_fanout_url",
    oracle="""
    SELECT event_id,
           row_number() OVER (
             ORDER BY event_type NULLS FIRST,
                      'https://cdn.example.com/g' || CAST(user_id % 4 AS VARCHAR)
                        || '/assets/img-' || CAST(event_id AS VARCHAR) || '.png'
                      NULLS FIRST,
                      event_id NULLS FIRST
           ) AS pos
    FROM events
    """,
)
def keyed_fanout_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout keyed by a URL-style string that must DECLINE
    the wide-string prefix pack (r12 verdict, What's-missing item 3):
    the three packing fanout shapes (_ts/_score/_name) oracle-pin only
    PACK paths, leaving the sample-collision decline and its struct
    fallback test-pinned but oracle-invisible. This shape closes that:
    every url shares the scheme+host prefix, the next window bytes are
    a 4-way group digit followed by the constant '/assets' run, so two
    sampled urls in the same group tie inside every affordable window
    and the FREE sample-collision pre-check declines the field
    (operators/sort.py `_wstr_select`) — the 5.5-9.6× struct fallback
    itself is then what the driver's oracle attests, ×4 partition
    configs via the exact gate. scripts/verify_gp_grouped_registered.py
    additionally asserts the decline REASON on this shape with the gate
    lowered, so a silent pack (or a silent wrong-reason decline) fails.
    The reference sorts raw string keys the same way
    (external_sort.go:368-398); ASCII-only data keeps Spark UTF8 binary
    order == DuckDB. Output carries positions + ids only."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    keyed = events.withColumn(
        "url",
        F.concat(
            F.lit("https://cdn.example.com/g"),
            (F.col("user_id") % 4).cast("string"),
            F.lit("/assets/img-"),
            F.col("event_id").cast("string"),
            F.lit(".png"),
        ),
    )
    pos_df = sort_ops.with_global_position(
        keyed, "event_type", "url", "event_id"
    )
    return pos_df.select("event_id", F.col("global_pos").alias("pos"))


# keyed_fanout_pair's two synthetic string keys, shared verbatim by the
# Spark expression and the DuckDB oracle (built from the same constants
# so the engines cannot drift). Each key's VALUE is fully determined by
# two chars: the first from an 8-char alphabet (any boundary sample with
# ≥9 distinct values collides its 1-byte window by PIGEONHOLE — the
# initial decline is deterministic, not birthday-dependent), the second
# from a 64-char alphabet (the 2-byte window covers the whole
# determinant, so it is sample-clean AND exactly injective by
# construction). The constant tails ('-shard', '-v0') inflate the
# optimistic first-pass window without adding discrimination, which
# strands the category key once the doc key declines.
PAIR_A8 = "08FNVdlz"  # ascending ASCII, span 'z'-'0' = 74
PAIR_B64 = (
    "./0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
)  # 64 ascending ASCII chars, SQL-literal-safe (no quotes/backslash)

PAIR_CAT_SQL = (
    f"'category/' || substring('{PAIR_A8}', "
    "1 + CAST(floor((event_id % 512) / 64) AS INT), 1) || "
    f"substring('{PAIR_B64}', 1 + CAST(event_id % 64 AS INT), 1) "
    "|| '-shard'"
)
PAIR_DOC_SQL = (
    f"'doc-' || substring('{PAIR_A8}', "
    "1 + CAST(floor(((event_id * 7) % 512) / 64) AS INT), 1) || "
    f"substring('{PAIR_B64}', 1 + CAST((event_id * 7) % 64 AS INT), 1) "
    "|| '-v0'"
)
# Unique ≥59-bit tie-break that cannot overflow int64 at ANY plausible
# scale (r14 ADVICE item 1: the previous `event_id << 45` overflowed at
# event_id ≥ 2^18 ≈ sf0.26 — DuckDB raises OutOfRange while non-ANSI
# Spark wraps silently, so query and oracle diverged above sf0.1 and
# verify_gp_grouped_registered.py accepts an arbitrary sf-dir).
# f(e) = (e mod 2^18)·2^45 + e is injective for e < 2^45 (f(a)=f(b) ⇒
# a−b = 2^45·k with |a−b| < 2^45 ⇒ a=b), maxes at 2^63−1 exactly, and
# is monotone in e below 2^18 — bit-identical positions at gate scales.
PAIR_WIDE_SQL = "(event_id % 262144) * 35184372088832 + event_id"


@query(
    "keyed_fanout_pair",
    oracle=f"""
    SELECT event_id,
           row_number() OVER (
             ORDER BY {PAIR_CAT_SQL} NULLS FIRST,
                      {PAIR_DOC_SQL} NULLS FIRST,
                      {PAIR_WIDE_SQL} NULLS FIRST
           ) AS pos
    FROM events
    """,
)
def keyed_fanout_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout keyed by TWO adjacent wide strings — (category
    tag, doc id), a shape whose wide-string windows are chosen once per
    field against optimistic neighbor widths and therefore DECLINE the
    pack (registered in r14 like keyed_fanout_url registered the
    sample-collision decline).

    The decline chain is DETERMINISTIC at any gate scale (alphabet
    pigeonhole, not birthday odds — see PAIR_A8/PAIR_B64): the category
    key locks a 55-bit window against an optimistic width-1 neighbor
    (its '-shard' tail adds width, not information); the doc key then
    only affords its 1-byte window, which collides in any ≥9-value
    sample and declines with 'sample_collision'; the 59+-bit wide
    tie-break blocks every alternative pairing, so the category key
    ends a 'singleton' and all three fields search on the struct
    compare (speed only, never positions). Both reasons are asserted by
    scripts/verify_gp_grouped_registered.py with the gate lowered, ×4
    partition configs through the chained exact gate. At driver-gate
    scale the min-rows gate keeps the struct path, which the oracle
    attests here. Reference sorts raw string keys the same way
    (external_sort.go:368-398); ASCII-only keeps Spark UTF8 binary
    order == DuckDB. Output carries positions + ids only."""
    events = load_table(spark, sf_dir, "events").select("event_id")
    keyed = (
        events.withColumn("cat", F.expr(PAIR_CAT_SQL))
        .withColumn("doc", F.expr(PAIR_DOC_SQL))
        .withColumn("wide", F.expr(PAIR_WIDE_SQL))
    )
    pos_df = sort_ops.with_global_position(keyed, "cat", "doc", "wide")
    return pos_df.select("event_id", F.col("global_pos").alias("pos"))


# keyed_fanout_unique's leading key: one distinct value PER ROW. lpad to
# 12 digits keeps the string order == numeric order for event_id < 10^12
# (far past any plausible sf; lpad TRUNCATES above that, so the ceiling
# is explicit here like PAIR_WIDE_SQL's). 'AS STRING' parses in both
# engines (DuckDB aliases STRING to VARCHAR).
UNIQ_KEY_SQL = "'u' || lpad(CAST(event_id AS STRING), 12, '0')"


@query(
    "keyed_fanout_unique",
    oracle=f"""
    SELECT event_id,
           row_number() OVER (
             ORDER BY {UNIQ_KEY_SQL} NULLS FIRST,
                      {PAIR_DOC_SQL} NULLS FIRST
           ) AS pos
    FROM events
    """,
)
def keyed_fanout_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned fanout whose LEADING wide-string key is unique per row
    — the regime the r13-r14 100M probes proved a pack cannot win
    (SCALING.md: Spark's lexicographic compare chain short-circuits on
    the near-unique leading field, so the doc key's compares were never
    being paid; the pack's build tax ran 11-21% of wall for an
    exec-NEUTRAL 1.03). Registered (r15, r14 verdict stretch 8) so the
    regime-gate decision branch is oracle-visible like keyed_fanout_url
    and keyed_fanout_pair pinned their sample_collision declines:
    scripts/verify_gp_grouped_registered.py first proves the shape is
    genuinely PACKABLE (lowered gate, default sampling — the regime
    gate's factor-2 floor is deterministically inert at fixture sample
    sizes), then re-runs with GP_SAMPLE_MOD=1 (the boundary sample IS
    the table — pigeonhole-deterministic, per the CLAUDE.md rule) and
    asserts both fields decline with reason 'regime', ×4 partition
    configs through the chained exact gate. At driver-gate scale the
    min-rows gate keeps the struct path, which the oracle attests here.
    Reference sorts raw string keys the same way
    (external_sort.go:368-398); ASCII-only keeps Spark UTF8 binary
    order == DuckDB. Output carries positions + ids only."""
    events = load_table(spark, sf_dir, "events").select("event_id")
    keyed = (
        events.withColumn("uniq", F.expr(UNIQ_KEY_SQL))
        .withColumn("doc", F.expr(PAIR_DOC_SQL))
    )
    pos_df = sort_ops.with_global_position(keyed, "uniq", "doc")
    return pos_df.select("event_id", F.col("global_pos").alias("pos"))


@query(
    "topk",
    oracle="""
    SELECT event_id, user_id, value
    FROM events ORDER BY value DESC, event_id LIMIT 100
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k → TakeOrderedAndProject (no full global sort;
    only num_partitions × k rows ever move — SURVEY.md §2.C row `topk`)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return events.orderBy(F.col("value").desc(), F.col("event_id").asc()).limit(100)


@query(
    "sort_multikey_nulls",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN value < 5 THEN NULL ELSE value END AS capped_value
    FROM events
    ORDER BY event_type ASC,
             CASE WHEN value < 5 THEN NULL ELSE value END DESC NULLS LAST,
             event_id ASC
    """,
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key sort with mixed directions and explicit null placement
    — everything the reference's sorter cannot express (single key,
    ascending, no nulls in its data model — SURVEY.md §2.B last rows).
    Still one range exchange + per-partition external sort; the null bucket
    ordering is part of the range partitioner's key, not a post-pass."""
    events = load_table(spark, sf_dir, "events")
    capped = F.when(F.col("value") < 5, None).otherwise(F.col("value"))
    return events.select(
        "event_id", "event_type", capped.alias("capped_value")
    ).orderBy(
        F.col("event_type").asc(),
        F.col("capped_value").desc_nulls_last(),
        F.col("event_id").asc(),
    )


@query(
    "csv_wire_roundtrip",
    oracle="""
    SELECT CAST(c_custkey AS INT) AS id, c_name AS name, c_mktsegment AS address,
           CAST(c_nationkey AS VARCHAR) AS continent
    FROM customer
    """,
)
def csv_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference wire-format codec parity: rows → the producer's value-only
    CSV lines (/root/reference/cmd/producer/main.go:82) → re-parsed with the
    positional extractor (sources/generator.py:parse_csv_lines ≙
    extractKeyString/extractID, external_sort.go:368-425). The query output
    equals its input iff encode∘decode is the identity, which the oracle
    checks against the original table — all JVM-side concat/split, the
    whole ingest path in one codegen stage."""
    from kafka_stream_sorter_spark.sources.generator import parse_csv_lines
    from kafka_stream_sorter_spark.sources.kafka import records_to_values

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("address"),
        F.col("c_nationkey").cast("string").alias("continent"),
    )
    return parse_csv_lines(records_to_values(c))
