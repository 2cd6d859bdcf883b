"""Total-order sort operators — the reference's entire query surface.

The reference implements one operator three ways: drain a Kafka topic,
two-phase external merge sort by one key, stream out in order
(``/root/reference/internal/sort/external_sort.go:69-201`` run generation,
``:295-363`` k-way heap merge; dispatched per key at
``cmd/sorter/main.go:18-72``). In Spark the same algorithm IS ``orderBy``:
a sampled RangePartitioning exchange followed by per-partition external
sorts (spill + merge inside ``UnsafeExternalSorter``) — i.e. the
distributed generalization the reference's own README names as future work
(``README.md:652-656``).

Scale notes:
* ``orderBy`` range-samples keys first, so skewed key distributions still
  yield balanced ranges; no salting needed for a global sort.
* Sort-key expressions are evaluated once into radix-sortable UnsafeRow
  prefixes — the reference's hand-rolled key precompute
  (``external_sort.go:24-28,115-130``, its claimed 30-40% win) is free.
* Output order is preserved per output partition; partition i holds keys
  strictly below partition i+1, so the global order is recoverable by
  (partition_id, offset) — see :func:`with_global_position` for an explicit
  materialization when a sink (like a multi-partition Kafka topic) cannot
  carry order, the one semantic the reference's single-threaded merge got
  for free (SURVEY.md §7.5).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def global_sort(df: DataFrame, *keys: str, ascending: bool = True) -> DataFrame:
    """SELECT * FROM df ORDER BY keys — ≙ ``ExternalSort``
    (external_sort.go:69-201) with Spark picking run sizes and merge fan-in."""
    cols = [F.col(k).asc() if ascending else F.col(k).desc() for k in keys]
    return df.orderBy(*cols)


#: Dictionary-encoded sort preconditions. The rank lookup is a literal
#: ``create_map`` probed per row — a LINEAR scan of the map expression —
#: so the cap is where that scan stays trivially cheap, not where the
#: composite long runs out of bits (2^15 ranks would fit, but a 32k-entry
#: literal map would cost more per row than the sort it accelerates).
#: Tiebreaks must land in [0, 2^48) so rank*2^48 + tiebreak fits a long.
DICT_SORT_MAX_KEYS = 256
DICT_SORT_TIEBREAK_BOUND = 1 << 48


def _lit_rank_map(rmap: dict):
    """Driver-known ``{key value: rank}`` as a literal map Column.

    Rendered as ONE parsed SQL string (the r16 driver-literal rule:
    expression construction is SERIAL driver latency, invariant in data
    size) — measured at the DICT_SORT_MAX_KEYS cap: ``F.create_map(
    *[F.lit(x) ...])`` costs 2640 py4j round-trips ≈ 3.5 s of driver
    wall per build, ``map_from_arrays`` of two ``F.lit(list)`` literals
    still ~1050 ≈ 0.6 s (PySpark expands a list literal to one py4j
    call PER ELEMENT), the SQL render ~10 ≈ 0.02 s. Runtime semantics
    are identical in every form: the expression constant-folds to a map
    literal whose lookup is the same per-row linear probe, which is why
    the entry caps stay load-bearing.

    Key rendering is EXACT per DICT-eligible type: integrals render as
    bigint literals (lookup coercion casts the probed column up, never
    the keys down), DateType as ``DATE 'iso'``, and strings render
    verbatim only when every key passes the conservative
    no-quote/no-backslash printable-ASCII gate — anything else falls
    back to the ``F.lit``-list build, so no key value ever depends on
    parser escape handling. Pinned per key type (DateType was the open
    question that deferred this in r16) by
    tests/test_sorts.py::test_lit_rank_map_key_types. Ranks render as
    one long array so lookups return long directly."""
    import datetime

    ks = sorted(rmap)
    if not ks:
        # both callers guard non-empty (an all-null domain codes to a
        # constant); an empty map here is a caller bug, not a lookup
        raise ValueError("_lit_rank_map needs at least one key")
    vals_sql = "array(" + ",".join(f"{int(rmap[k])}L" for k in ks) + ")"
    k0 = ks[0]
    # every branch below gates on ALL keys, not just ks[0]: a mixed-type
    # domain (can't arise from the single-column builders today, but the
    # map is caller-supplied) must never render int(2.5) -> '2L' silently
    keys_sql = None
    if isinstance(k0, bool):
        keys_sql = None  # bools are not DICT-eligible; lit fallback
    elif isinstance(k0, str):
        if all(
            isinstance(k, str)
            and k.isascii()
            and k.isprintable()
            and "'" not in k
            and "\\" not in k
            for k in ks
        ):
            keys_sql = "array(" + ",".join(f"'{k}'" for k in ks) + ")"
    elif isinstance(k0, int):
        if all(isinstance(k, int) and not isinstance(k, bool) for k in ks):
            keys_sql = "array(" + ",".join(f"{int(k)}L" for k in ks) + ")"
    elif isinstance(k0, datetime.date) and not isinstance(
        k0, datetime.datetime
    ):
        if all(
            isinstance(k, datetime.date)
            and not isinstance(k, datetime.datetime)
            for k in ks
        ):
            keys_sql = (
                "array("
                + ",".join(f"DATE '{k.isoformat()}'" for k in ks)
                + ")"
            )
    if keys_sql is not None:
        return F.expr(f"map_from_arrays({keys_sql}, {vals_sql})")
    return F.map_from_arrays(F.lit(ks), F.lit([int(rmap[k]) for k in ks]))


def sort_with_tiebreak(df: DataFrame, key: str, tiebreak: str, dict_encode: bool = True) -> DataFrame:
    """Low-cardinality-key sort with a deterministic tie-break.

    The reference's continent sort (6 distinct values over 50M rows) leaves
    ties in arbitrary order (``sort.Slice`` is unstable, external_sort.go:137-148;
    heap pop order among equal keys is arbitrary). For oracle-checkable
    determinism we append a unique tie-break column — a semantics superset.

    Physical strategy — dictionary-encoded radix key: Tungsten's sort keys
    on an 8-byte prefix of the LEADING column, so a 6-value string key
    gives 6 distinct prefixes and nearly every comparison falls through to
    a full row compare. Composing (rank(key) << 48) | tiebreak into ONE
    long restores a collision-free radix prefix — the reference's own key
    precompute (external_sort.go:24-28) taken to its Spark-shaped
    conclusion. Measured at the reference's 50M scale: 1.7-1.8x faster
    than the two-column sort (scripts/probe_offheap_sort.py; off-heap
    memory, the other hypothesis for the continent-sort gap, measured
    WORSE than baseline).

    The dictionary comes from ONE cheap pre-job — ``groupBy(key)`` with
    tiebreak min/max/null-count partials, scanning just the two sort
    columns (parquet prunes the rest). At declared-low cardinality the
    map-side combine collapses each partition to ≤n_keys rows, so the
    shuffle is a few KB; a mis-declared HIGH-cardinality key costs one
    wasted key-column dedup but the ``limit`` keeps the driver fetch
    bounded — nothing unbounded ever reaches the driver. Any
    precondition miss (unsafe key type, too many keys, negative /
    non-integral / null / >=2^48 tiebreaks) falls back to the plain
    two-column ``orderBy``, so semantics never depend on the fast path.

    Key types are gated to string / integral / date BEFORE the pre-job:
    those are exactly the types where Python's ``sorted()`` over the
    collected dictionary reproduces Spark's ascending order (UTF-8 byte
    order is codepoint order; ints and dates are total orders). Float
    keys are excluded on purpose — NaN breaks ``sorted()`` (every
    comparison False leaves the list unsorted) while Spark orders NaN
    greatest, so a float fast path could silently mis-rank.
    """
    from pyspark.sql import types as T

    plain = df.orderBy(F.col(key).asc(), F.col(tiebreak).asc())
    if not dict_encode:
        return plain
    key_type = df.schema[key].dataType
    if not isinstance(
        key_type,
        (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DateType),
    ):
        return plain
    groups = (
        df.groupBy(key)
        .agg(
            F.min(tiebreak).alias("lo"),
            F.max(tiebreak).alias("hi"),
            F.sum(F.col(tiebreak).isNull().cast("long")).alias("tb_nulls"),
        )
        .limit(DICT_SORT_MAX_KEYS + 1)
        .collect()
    )
    keys = [r[0] for r in groups if r[0] is not None]
    los = [r["lo"] for r in groups if r["lo"] is not None]
    his = [r["hi"] for r in groups if r["hi"] is not None]
    if (
        not keys
        or len(groups) > DICT_SORT_MAX_KEYS
        or any((r["tb_nulls"] or 0) > 0 for r in groups)
        or not los
        or not all(isinstance(v, int) and not isinstance(v, bool) for v in los)
        or min(los) < 0
        or max(his) >= DICT_SORT_TIEBREAK_BOUND
    ):
        return plain
    rank = _lit_rank_map({k: i for i, k in enumerate(sorted(keys))})[
        F.col(key)
    ].cast("long")
    tb = F.col(tiebreak).cast("long")
    # NULL keys sort first under asc-nulls-first; give them negative
    # composites (rank -1) so the fast path agrees exactly.
    composite = F.when(
        F.col(key).isNull(), tb - F.lit(DICT_SORT_TIEBREAK_BOUND)
    ).otherwise(rank * F.lit(DICT_SORT_TIEBREAK_BOUND) + tb)
    radix_col = "_radix_key"
    while radix_col in df.columns:
        radix_col += "_"
    return df.withColumn(radix_col, composite).orderBy(radix_col).drop(radix_col)


def topk(df: DataFrame, k: int, *keys: str, ascending: bool = False) -> DataFrame:
    """ORDER BY ... LIMIT k. Spark plans this as TakeOrderedAndProject —
    a per-partition top-k plus a driver-side merge of k-row heads, never a
    full global sort; at 100 TB this reads everything but shuffles only
    num_partitions × k rows. (The reference's validator samples a 1000-row
    prefix of the sorted topic — scripts/test_validation.sh:16 — which is
    this operator done by hand.)"""
    cols = [F.col(c).asc() if ascending else F.col(c).desc() for c in keys]
    return df.orderBy(*cols).limit(k)


def keyed_fanout(df: DataFrame, key_specs: dict[str, list[str]]) -> dict[str, DataFrame]:
    """One source, N independently sorted outputs — ≙ the reference's three
    sorter jobs over one topic (``scripts/run.sh:33-35`` runs them
    sequentially so each sees all data; ``cmd/sorter/main.go:42-46`` maps
    key → output topic).

    Returns {output_name: sorted DataFrame}. Callers should ``.cache()`` or
    checkpoint ``df`` before fanning out so the source is scanned once —
    the reference instead re-reads the whole topic per sorter (3× input I/O),
    which we deliberately do NOT reproduce.
    """
    return {name: df.orderBy(*[F.col(k).asc() for k in keys]) for name, keys in key_specs.items()}


#: with_global_position tuning: one row in SAMPLE_MOD is boundary-sampled
#: (deterministically, by value hash) and the collected sample is capped.
#: The bucket count targets ~TARGET_ROWS_PER_BUCKET rows per window task
#: (estimated from the sample), clamped to MAX_BUCKETS — so tiny tables
#: pay a near-trivial bucket expression while big ones fan the window
#: stage out to the cap; the per-row bucket lookup is a balanced decision
#: tree, log2(buckets) struct comparisons (≤10 at the cap). A saturated
#: sample (cap hit) triggers a second pass: exact sample count, then a
#: deterministic re-sample at a coarser power-of-two mod that fits the
#: cap WITHOUT limit truncation — a bare ``limit`` would keep only the
#: first-scheduled scan partitions' rows, which on key-clustered input
#: biases the bounds to the leading key slice (probe_gp_clustered.py).
GP_SAMPLE_MOD = 256
#: Static FLOOR of the effective cap (see _gp_sample_cap — the binding
#: default is the 2×35×GP_MAX_BUCKETS resolution term, 573,440 at 8192).
#: 300k (raised from 100k in late r8): the cap bounds ONE driver collect
#: of slim key tuples (~tens of MB) — cheap — and with the two-phase
#: sampler its only other effect is boundary RESOLUTION: bounds are
#: thinned from the collected sample, so samples-per-boundary =
#: resample_size / n_buckets, and the resample lands in
#: (cap/2, cap]. 100k gave ~12 samples/boundary at an 8192-bucket
#: fan-out — the balance-degradation ceiling the round-8 cap probe hit;
#: 300k gives ~35, restoring the ~24/boundary regime the 4096 cap
#: enjoys at the 100k cap.
GP_SAMPLE_CAP = 300_000
#: Boundary RESOLUTION floor: the effective sample cap is
#: max(GP_SAMPLE_CAP, 2 × GP_MIN_SAMPLES_PER_BOUNDARY × GP_MAX_BUCKETS),
#: so raising GP_MAX_BUCKETS can never silently degrade bucket balance —
#: the r9 300M/16384 probe showed samples-per-boundary is the binding
#: dial (18/boundary → 2.19-2.41× ideal max-bucket skew; 36/boundary →
#: 1.72×), and until r10 the co-scaling rule lived only in a comment.
#: The 2× is load-bearing: the saturated-path resample steps the mod by
#: powers of two, so the collected sample lands anywhere in
#: (cap/2, cap] — a cap of exactly 35·buckets bottoms out at 17.5 per
#: boundary, the condemned regime (at 300M/16384 the level-1 count
#: ~1.17M sits just above 2 × 573k, which is precisely that bottom).
#: 35 ≈ the ~24-36/boundary regime every balance probe has landed in;
#: the collect stays slim key tuples (2 × 35 × 16384 ≈ 1.1M ≈ tens of
#: MB driver-side, bounded and key-width-linear).
GP_MIN_SAMPLES_PER_BOUNDARY = 35
GP_TARGET_ROWS_PER_BUCKET = 16_384
#: 8192 (1024 → 4096 → 8192 across r8 as each ceiling fell): 1024's
#: ceiling was plan construction (fixed by the per-field literal build,
#: O(fields) py4j calls); 4096's was boundary-sample RESOLUTION — the
#: 100k cap thinned to ~12 samples per boundary at 8192 and only 7693
#: buckets materialized — fixed by the two-phase sampler + the 300k cap
#: (~35/boundary). Probed at 150M rows, the first scale where the
#: est-driven bucket count actually exceeds 4096: all ~8130 buckets
#: materialize, balance ~2× ideal, walls within window noise of the
#: 4096 control, correctness exact (SCALING.md round-8, second 8192
#: probe). Each doubling halves the final window stage's MAXIMUM
#: per-task slice — ~12 GB at 100 TB (the actual task count is
#: min(spark.sql.shuffle.partitions, populated buckets), so clusters
#: must raise shuffle partitions to collect the benefit). The per-row
#: cost of further raises is one extra binary-search level per
#: doubling; the binding costs are now the boundary-literal array
#: (8191 × fields longs in the plan) and the counts collect (≤8192
#: rows) — both driver-trivial, so 16384+ is open if a deployment
#: needs it.
GP_MAX_BUCKETS = 8192
#: Cardinality cap that classifies a STRING key field for the rank-pack
#: (_composite_key): at most this many distinct values make a low-card
#: field coded by its rank in a literal map (probed linearly per row,
#: CLAUDE.md rule, so the cap keeps the encode cheap); more make a
#: wide-string prefix-window candidate. Strings only: UTF-8 byte order ≡
#: codepoint order, so Python ``sorted()`` reproduces Spark's ascending
#: order (the float/NaN hazard can't arise).
GP_DICT_RANK_MAX_KEYS = 64
#: est_rows gate for the rank-pack: it exists only to cheapen the
#: per-row bucket-search/window-sort comparisons, a cost the 300M probes
#: put at 2.4×/extra-field — but it costs keys-only pre-jobs (the fused
#: stats agg, plus the wide-string injectivity agg) that can never pay
#: for themselves where the search cost is invisible. At sf0.1 the
#: pre-jobs cost keyed_fanout ~+0.6s for zero win (r9 verdict, the one
#: adverse bench mover); the 150M/300M probes bound where the win IS
#: real (composite: 327→85s, 463→125s at 300M). 20M sits comfortably
#: between fixture scale and the smallest probed win scale.
GP_COMPOSITE_MIN_ROWS = 20_000_000
#: Engagement floor for the wide-string REGIME gate (r14 verdict item
#: 3): a group's pack is declined with reason 'regime' when the
#: boundary sample proves the group's leading key prefix is high-card
#: relative to rows-per-bucket — Spark's lexicographic compare chain
#: short-circuits on a near-unique leading field, so the later fields'
#: compares the pack would delete were never being paid, while its
#: build tax (per-row encodes + the double countDistinct injectivity
#: agg) runs 11-21% of wall at 100M (SCALING.md rounds 13-14; exec
#: ratio 1.03 at the 100k-cat regime vs 0.92 at 2k and 0.70 at 8).
#: The decision quantity is sample-distinct(prefix through the leading
#: field) ≥ rows-per-bucket (the per-bucket window-sort size; an
#: EMPIRICAL normalization of the r13-r14 bracket, not a run-length
#: argument — at the firing point prefix-tied runs are still ~n_buckets
#: rows long, yet the measured exec crossover sits between the 2k-cat
#: win at 0.92 and the 100k-cat loss at 1.03 at 100M, i.e. between
#: 0.12× and 6× this threshold), a one-sided-safe
#: LOWER bound on true cardinality — but only decisive when the sample
#: is at least this factor × rows-per-bucket, else the gate stays
#: inert (sample-distinct saturates at the sample size). With mod-256
#: sampling the factor-2 floor self-gates on scale: inert below ~8.4M
#: rows (every fixture/verifier scale, deterministically — the r14
#: builder note about a ~39-row sample misfiring on the registered
#: pair shape applies only to detectors without this floor) and, at
#: the 573k sample cap, inert again above ~2.3B rows (the pack then
#: engages as before — worst case is the measured neutral-plus-tax,
#: never a lost win).
GP_REGIME_MIN_SAMPLE_FACTOR = 2


def _gp_sample_cap() -> int:
    """Effective boundary-sample cap: the static GP_SAMPLE_CAP floor,
    raised automatically when GP_MAX_BUCKETS grows so samples-per-
    boundary never drops below GP_MIN_SAMPLES_PER_BOUNDARY *even at the
    bottom of the resample window* (the power-of-two mod stepping lands
    the collected sample in (cap/2, cap], hence the 2×) — the
    co-scaling rule the r9 probe proved, now code instead of a comment
    (a deployment raising GP_MAX_BUCKETS alone previously re-entered
    the 18-samples/boundary 2.2-2.4× skew regime silently)."""
    return max(GP_SAMPLE_CAP, 2 * GP_MIN_SAMPLES_PER_BOUNDARY * GP_MAX_BUCKETS)


def _composite_key(
    df: DataFrame,
    keys: tuple,
    kcols: list,
    sample_keys: list,
    bounds: list,
    info: dict | None = None,
    *,
    est_rows: int | None = None,
    n_buckets: int | None = None,
):
    """Packed search groups (or None) for N-field key shapes that
    rank-pack into ONE long — the r10 generalization of
    the two round-9 pair composites (this function subsumes and replaces
    `_two_key_composite` / `_integral_pair_composite`).

    Each key field encodes to a non-negative code whose numeric order
    equals the field's asc-nulls-first order:

      * integral field:        code = v − min + 1,          null → 0
      * timestamp field:       code = epoch_us(v) − min + 1, null → 0
        (functions/numeric.epoch_us — the engine's ONE epoch
        extraction, UTC-pinned; micros order ≡ timestamp order, so the
        encode is order-isomorphic. The CALLER passes ``kcols[i]``
        ALREADY epoch_us-encoded for timestamp fields and samples the
        encoded longs, so no collected value ever round-trips through
        Python datetime — ``datetime.fromtimestamp`` runs in the driver
        OS timezone, which the session timezone does not control, and
        is non-monotone across a DST fall-back: packed bounds could
        sort non-ascending and break the binary search (r10 ADVICE,
        medium). Everything driver-side is integer micros.)
      * float/double field:    code = ieee_order(v) − min + 1, null → 0,
        NaN → span + 2 (its own compact TOP code — NaN is masked out of
        the min/max pre-job, since its canonical-slot magnitude would
        blow the width past 63 whenever any NaN exists)
        (functions/numeric.double_order_long — the sign-magnitude fold
        of the IEEE-754 bits built from deterministic arithmetic, so it
        is aggregate-safe; -0.0 folds with +0.0 and every NaN payload
        ties at the top slot, exactly Spark's sort semantics. Candidacy
        is gated FREE on sample lower-bound widths: any float domain
        crossing a binade spans ≥52 bits and common score domains span
        62, so a float only becomes a candidate when some adjacent
        packable neighbor could share a 63-bit budget even
        optimistically — r10 verdict item 4.)
      * low-card string field: code = rank(v) + 1,          null → 0
      * high-card string field (r12): code = prefix_window(v) − min + 1,
        null → 0 — the UTF-8 byte window [skip, skip+k), skip = the
        common byte prefix of the field's (min, max) (shared by every
        value in between — lexicographic order), k ≤ 7 chosen as the
        widest window whose exact width can still share a 63-bit budget
        with an adjacent neighbor. Order-isomorphism needs the window
        INJECTIVE over the distinct values (window ties between distinct
        strings would mis-sort the per-bucket window and corrupt
        row-vs-bound search ties — bound prefix-disjointness alone is
        NOT sufficient), gated twice: a free sample-collision pre-check,
        then one exact countDistinct(raw)==countDistinct(encode) agg,
        deferred until the grouping proves the field joins a ≥2 group
        (functions/numeric.string_prefix_order_long + bit-twin).

    and the codes fold left into one long with per-field bit widths
    ``w_i = bit_length(max_code_i)`` — strictly order-isomorphic to the
    lexicographic (f0 asc-nulls-first, f1 …, …) order whenever
    Σ w_i ≤ 63, so bucket ids AND window row_numbers are BIT-IDENTICAL
    to the struct-compare path while the search and the per-bucket sort
    run on a single long: the unique-key cost profile for ANY packable
    field count. Unlike the r9 pair composites this accepts nulls and
    negatives in EVERY field (the +1 null slot replaces their
    zero-null-tie-break gates).

    When the fields do NOT all fit one long, ADJACENT runs that do are
    still packed (greedy left-to-right, which is optimal for minimizing
    contiguous groups under a budget): grouping adjacent fields
    preserves lexicographic order — (f0, f1, f2) ≡ ((f0,f1), f2) — so
    e.g. the canonical (type, event_time, unique_id) shape whose widths
    sum past 63 bits still collapses from 3 search fields to 2.
    Unpackable fields (floats, wide strings, ≥63-bit spans) become
    singleton groups; the measured cost law this serves is PER SEARCH
    FIELD (~2.4×/extra at 300M, comparator type irrelevant — r9
    decomposition probe), and the r10 fallback probe put the best-case
    three-field shape at 9.95× its plain-sort control at 150M.

    Returns a list of ``{"idx": [field indices], "expr": Column|None,
    "bounds": [packed ints]|None}`` — one entry per SEARCH field, packed
    groups carrying their composite expr/bounds and singletons (expr
    None) left for the caller to search on the raw key column. ``None``
    when no group of ≥2 fields exists — <2 keys, no adjacent
    packable-KIND pair (early, before any job), per-field width
    overflows, declined wide-string windows, or a bound value outside
    an exact domain (non-deterministic source belt).

    ``est_rows`` / ``n_buckets`` (keyword-only, both-or-inert) feed the
    leading-prefix regime gate: rows-per-bucket = est_rows // n_buckets
    is the ties-per-bucket-sort threshold a group's sampled leading
    prefix is compared against (the SCALING.md r13-r14 regime law;
    decline reason 'regime'). Callers that omit them — every pre-r15
    call site and unit test — get the gate disabled, never a changed
    grouping.

    Pre-job accounting (caller-gated on est_rows ≥
    GP_COMPOSITE_MIN_ROWS so fixture-scale tables never pay): ONE fused
    keys-only aggregation (r17, r16 verdict item 1 — formerly two
    scans, job B string-distinct then job A min/max) computing, in a
    single pass: min/max per integral/timestamp/float field over the
    ENCODED exprs (longs reach the driver), raw min/max + octet/NUL
    stats per string candidate, and the exact sorted domain (as
    sort_array(collect_set), sliced executor-side to
    GP_DICT_RANK_MAX_KEYS + 1 values with its exact size) per
    sample-classified low-card string — the exact size replaces the old
    attributed-truncation loop, and the domain is the field's rank map."""
    from pyspark.sql import types as T

    from kafka_stream_sorter_spark.functions.numeric import (
        double_order_long,
        double_order_long_py,
        string_prefix_order_long,
        string_prefix_order_long_py,
    )

    integral = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    timestampish = (T.TimestampType, T.TimestampNTZType)
    floatish = (T.DoubleType, T.FloatType)
    rmaps: dict[int, dict] = {}
    if len(keys) < 2:
        return None
    kinds: list[str] = []
    for i, k in enumerate(keys):
        dt = df.schema[k].dataType
        if isinstance(dt, integral):
            kinds.append("int")
        elif isinstance(dt, timestampish):
            kinds.append("ts")
        elif isinstance(dt, floatish):
            kinds.append("flt")
        elif isinstance(dt, T.StringType):
            if (
                # free pre-gate on the already-collected boundary sample
                len({t[i] for t in sample_keys}) <= GP_DICT_RANK_MAX_KEYS
            ):
                kinds.append("str")
            else:
                # r12: HIGH-cardinality strings (doc ids, names, URLs)
                # become prefix-pack candidates — see the wstr post-job-A
                # block for the full gate chain (width, sample-collision
                # pre-check, exact injectivity job)
                kinds.append("wstr")
        else:
            kinds.append("other")

    def _lbw(i: int) -> int:
        # sample-estimated LOWER-BOUND code width (the true width can
        # only be wider — the sample's span/domain is a subset)
        vals = [t[i] for t in sample_keys if t[i] is not None]
        if not vals:
            return 1
        if kinds[i] == "str":
            return max(1, (len(set(vals)) + 1).bit_length())
        if kinds[i] == "flt":
            # NaN is excluded: it gets its own compact code (span+2)
            # instead of the huge canonical-slot magnitude
            encs = [
                double_order_long_py(v) for v in vals if not math.isnan(v)
            ]
            if not encs:
                return 1
            span = max(encs) - min(encs)
        else:  # int / ts (ts sampled pre-encoded as epoch micros)
            span = int(max(vals)) - int(min(vals))
        return max(1, (span + 1).bit_length())

    str_idx: list[int] = []
    int_idx: list[int] = []  # every long-encoding field: integral/ts/float
    wstr_idx: list[int] = []  # high-card strings: prefix-pack candidates
    flt_idx: set[int] = set()
    enc: dict[int, object] = {}  # field idx → long-encoding Column
    packable: list[bool] = []  # candidate by KIND (width checked later)
    for i, k in enumerate(keys):
        kind = kinds[i]
        if kind == "int":
            int_idx.append(i)
            enc[i] = kcols[i].cast("long")
            packable.append(True)
        elif kind == "ts":
            int_idx.append(i)
            # caller contract: kcols[i] is ALREADY epoch_us(raw col) for
            # timestamp fields (with_global_position pre-encodes), so the
            # sampled bounds are longs and the encode here is identity
            enc[i] = kcols[i]
            packable.append(True)
        elif kind == "flt":
            # r11: float fields pack via the IEEE-754 order-isomorphic
            # long encode — but candidacy is gated FREE on the sample:
            # any domain that crosses a binade spans ≥52 bits and the
            # common score domains ([0,1], [0,1000]) span 62, so without
            # this gate every ≥20M-row call with a float key would pay
            # the full min/max pre-job only to decline on width. The
            # field is a candidate only if some adjacent packable-KIND
            # neighbor fits a shared 63-bit budget even at lower-bound
            # widths (true widths only grow; job A still decides).
            w = _lbw(i)
            ok = any(
                w + _lbw(j) <= 63
                for j in (i - 1, i + 1)
                if 0 <= j < len(keys) and kinds[j] in ("int", "ts", "str", "flt")
            )
            if ok:
                int_idx.append(i)
                flt_idx.add(i)
                enc[i] = double_order_long(kcols[i])
                packable.append(True)
            else:
                packable.append(False)
        elif kind == "str":
            str_idx.append(i)
            packable.append(True)
        elif kind == "wstr":
            # candidate by kind; everything width/injectivity-shaped is
            # decided after job A (no sound FREE lower-bound width exists
            # for a byte window — the sample's common prefix can be
            # LONGER than the true one, which would over-estimate the
            # width and unsoundly decline). The adjacency early-out
            # below still prunes shapes with no packable neighbor.
            wstr_idx.append(i)
            packable.append(True)
        else:
            packable.append(False)
    # no adjacent packable-kind pair ⇒ no group of ≥2 can ever form —
    # bail before paying either pre-job (preserves the old early-outs
    # for e.g. (float, int) or a high-card-sampled string pair)
    if not any(packable[i] and packable[i + 1] for i in range(len(keys) - 1)):
        return None
    # FUSED stats pre-job (r17, r16 verdict item 1): the former job B
    # (exact low-card string domains) and job A (per-field min/max +
    # wide-string window stats) ride ONE keys-only aggregation — one
    # full scan of the key columns instead of two at any scale. The
    # exact per-field distinct count comes free as size(collect_set),
    # so the r12 attributed-truncation loop collapses: cardinality is
    # exact per field, never a shared-limit attribution problem. The
    # domain arrays are sliced EXECUTOR-side (on the final aggregation
    # task) to GP_DICT_RANK_MAX_KEYS + 1 entries, so the driver
    # transfer stays bounded exactly as the old limit-bounded collect
    # was. Every sample-classified low-card string also aggregates its
    # wide-string stats (min/max/octet/NUL) speculatively: O(1) scalar
    # aggs riding the same scan, making an exact-cardinality
    # reclassification (str → wstr) free instead of a second job.
    # Trade recorded: a field whose boundary sample showed ≤
    # GP_DICT_RANK_MAX_KEYS distinct values but whose true domain is
    # enormous (possible only under extreme value skew — the sample is
    # hash-mod selected, layout-independent, and ≥ tens of thousands of
    # rows at the scales where this path engages) now builds that
    # domain in collect_set agg buffers instead of a limit-bounded
    # distinct; the failure mode is a slow or loudly-failing job, never
    # wrong positions.
    def _agg_enc(i: int):
        # integral/timestamp/float fields aggregate the ENCODED exprs so
        # the driver receives longs — min/max commute with the monotone
        # encodes, and no Python-side datetime→micros conversion can
        # disagree with the JVM's here. Float fields mask NaN out of the
        # agg: NaN takes the compact top code (span+2) instead of its
        # huge canonical-slot magnitude (which would blow the width past
        # 63 whenever any NaN exists).
        if i in flt_idx:
            return F.when(
                F.isnan(kcols[i]), F.lit(None).cast("long")
            ).otherwise(enc[i])
        return enc[i]

    # String candidates (sample-classified wide AND low-card) aggregate
    # the RAW strings: min/max of the prefix encode equals the encode of
    # min/max (monotonicity), but the driver also needs the strings
    # themselves to derive the common-prefix skip before any encode
    # exists. octet_length/NUL feed the trivial-injectivity shortcut:
    # if every value's bytes fit inside the window and none ends with a
    # NUL byte, the window IS the whole tail and injectivity is
    # automatic — no countDistinct job. ascii(reverse(s)) == 0 flags a
    # trailing U+0000 and (conservatively) the empty string; a false
    # flag only costs the exact job, never soundness.
    sstat_idx = sorted(set(wstr_idx) | set(str_idx))
    agg_df = df.agg(
        *[
            a
            for i in int_idx
            for a in (
                F.min(_agg_enc(i)).alias(f"lo{i}"),
                F.max(_agg_enc(i)).alias(f"hi{i}"),
            )
        ],
        *[
            a
            for i in sstat_idx
            for a in (
                F.min(kcols[i]).alias(f"slo{i}"),
                F.max(kcols[i]).alias(f"shi{i}"),
                F.max(F.octet_length(kcols[i])).alias(f"slen{i}"),
                F.max(
                    F.when(
                        F.ascii(F.reverse(kcols[i])) == 0, F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias(f"snul{i}"),
            )
        ],
        *[
            F.sort_array(F.collect_set(kcols[i])).alias(f"rawdom{i}")
            for i in str_idx
        ],
    )
    if str_idx:
        agg_df = agg_df.select(
            *[F.col(c) for c in agg_df.columns if not c.startswith("rawdom")],
            *[
                e
                for i in str_idx
                for e in (
                    F.slice(
                        F.col(f"rawdom{i}"), 1, GP_DICT_RANK_MAX_KEYS + 1
                    ).alias(f"dom{i}"),
                    F.size(F.col(f"rawdom{i}")).alias(f"dcnt{i}"),
                )
            ],
        )
    agg_row = agg_df.collect()[0]
    if str_idx:

        def _to_wstr(i: int) -> None:
            # a sampled-low but exactly-WIDE string domain is not dead:
            # it is precisely the wide-string prefix-pack candidate class
            # (r12) — reclassify instead of demoting, keeping packable
            # (the wstr gate chain takes over; its min/max/octet/NUL
            # stats were aggregated speculatively above, so the
            # reclassification costs no second job). Without this, a
            # key-clustered boundary sample that underestimates a doc
            # id's cardinality would silently strand it on the struct
            # path; the driver-gate fixture hits the same shape at small
            # scale, where every sample is tiny.
            kinds[i] = "wstr"
            wstr_idx.append(i)

        for i in str_idx:
            if agg_row[f"dcnt{i}"] > GP_DICT_RANK_MAX_KEYS:
                _to_wstr(i)
                continue
            rmaps[i] = {
                v: j for j, v in enumerate(sorted(agg_row[f"dom{i}"]))
            }
            if any(b[i] not in rmaps[i] for b in bounds):
                packable[i] = False  # belt: unmappable bound value
        # re-check adjacency after belt demotions: if the bounds belt
        # gated the only viable pair, bail before any per-row encoding
        if not any(
            packable[i] and packable[i + 1] for i in range(len(keys) - 1)
        ):
            return None
    lo: dict[int, int] = {}
    span: dict[int, int] = {}
    wstr_idx.sort()  # reclassifications append out of key order
    for i in int_idx:
        if agg_row[f"lo{i}"] is None:  # all-null field: code is always 0
            lo[i], span[i] = 0, -1
        else:
            lo[i] = int(agg_row[f"lo{i}"])
            span[i] = int(agg_row[f"hi{i}"]) - lo[i]
    # Wide-string prefix pack (r11 verdict item 4). Per candidate field:
    #   1. skip = the common byte prefix of (min, max) — shared by EVERY
    #      value (lexicographic order: min ≤ v ≤ max and min, max start
    #      with P ⇒ v starts with P), so the window compare is exactly
    #      the tail of Spark's UTF8 compare;
    #   2. window size k = the LARGEST k ≤ 7 whose exact width could
    #      still share a 63-bit budget with some adjacent packable
    #      neighbor (injectivity is monotone in k — if the widest
    #      affordable window collides, every narrower one does too, so
    #      one k is the optimal single test);
    #   3. a FREE sample collision pre-check (two sampled values with
    #      equal window codes prove non-injectivity — declines URL-style
    #      shared-prefix domains without paying the exact job);
    #   4. the TRIVIAL-injectivity shortcut (r12, from the 200M probe's
    #      pre-job accounting: the countDistinct agg was ~90 s/200M, the
    #      dominant pack tax): when max(octet_length) ≤ skip + k and no
    #      value ends with a NUL byte, the window covers every tail
    #      ENTIRELY, so distinct values give distinct padded windows by
    #      construction — padded windows can only tie when one tail
    #      extends the other with all-0x00 bytes, which the NUL flag
    #      excludes (the flag also catches the shorter-tail-empty edge).
    #      Both facts ride job A for free; the doc-id/name shapes this
    #      pack exists for (bounded suffix after a common prefix) all
    #      take this path and never pay a countDistinct;
    #   5. otherwise the exact injectivity job (countDistinct(raw) ==
    #      countDistinct(encode)) is DEFERRED until grouping proves the
    #      field actually lands in a ≥2 group — see the grouping loop,
    #      whose leading-prefix REGIME gate (r15, r14 verdict item 3)
    #      can decline the whole group first, skipping this job AND the
    #      encodes, when the boundary sample proves the pack wins
    #      nothing (near-unique leading prefix — lexicographic
    #      short-circuit; see GP_REGIME_MIN_SAMPLE_FACTOR).
    # The window is chosen ONCE per field, against optimistic neighbor
    # widths: a field whose neighbor's realized width then cannot share
    # the budget stays a singleton on the struct compare — speed only,
    # never positions.
    wstr_k: dict[int, tuple[int, int]] = {}  # idx -> (skip, nbytes)
    wstr_trivial: set[int] = set()  # proven injective without job C
    wstr_meta: dict[int, tuple[str, str, int]] = {}  # idx -> (min, max, skip)
    # idx -> why a job-A-paying wstr candidate did not pack ("width" /
    # "sample_collision" / "injectivity" / "regime"; "singleton" filled
    # at info time) — surfaced via stats so a deployment where wide-string keys
    # commonly DECLINE can quantify the job-A aggregates they still pay
    # (r12 ADVICE item 3), and so the decline-path verifier can assert
    # the exact gate that fired rather than just the absence of a pack.
    wstr_decline: dict[int, str] = {}

    def _wstr_select(i: int, nbr: list[int]) -> None:
        """Pick the WIDEST window k ≤ the field's cap whose exact width
        can share a 63-bit budget with some neighbor width in ``nbr``
        (injectivity is monotone in k: if the widest affordable window
        collides, every narrower one does too — one k is the optimal
        single test), run the free sample-collision pre-check, and
        derive the field's encode state. On failure records the decline
        reason and demotes the field."""
        smin, smax, skip = wstr_meta[i]
        # window cap (r14): every byte past the longest value's end (max
        # octet_length − skip, from job A) is a 0x00 pad for the WHOLE
        # domain, so a wider window discriminates identically while
        # paying strictly more width — pure budget waste that can strand
        # a neighbor (before this cap a 3-digit suffix billed 52 bits at
        # k=7 instead of 20 at k=3). Floor 1 keeps a constant domain
        # (slen == skip) encodable.
        kcap = max(1, min(7, int(agg_row[f"slen{i}"]) - skip))
        chosen = None
        for k in range(kcap, 0, -1):
            s_k = string_prefix_order_long_py(smax, skip, k) - (
                string_prefix_order_long_py(smin, skip, k)
            )
            w = max(1, (s_k + 1).bit_length())
            if w < 63 and any(w + wn <= 63 for wn in nbr):
                chosen = (k, s_k)
                break
        if chosen is None:
            packable[i] = False
            wstr_decline[i] = "width"
            return
        k, s_k = chosen
        # free collision pre-check: the k-byte windows of the sampled
        # values must be pairwise distinct
        svals = {t[i] for t in sample_keys if t[i] is not None}
        wins = {string_prefix_order_long_py(v, skip, k) for v in svals}
        if len(wins) != len(svals):
            packable[i] = False  # proven non-injective, for free
            wstr_decline[i] = "sample_collision"
            return
        wstr_k[i] = (skip, k)
        if int(agg_row[f"slen{i}"]) <= skip + k and not agg_row[f"snul{i}"]:
            wstr_trivial.add(i)
        lo[i] = string_prefix_order_long_py(smin, skip, k)
        span[i] = s_k
        enc[i] = string_prefix_order_long(kcols[i], skip, k)

    for i in wstr_idx:
        smin, smax = agg_row[f"slo{i}"], agg_row[f"shi{i}"]
        if smin is None:  # all-null field: code is always 0
            lo[i], span[i] = 0, -1
            enc[i] = F.lit(None).cast("long")
            continue
        bmin = str(smin).encode("utf-8")
        bmax = str(smax).encode("utf-8")
        skip = 0
        for x, y in zip(bmin, bmax):
            if x != y:
                break
            skip += 1
        wstr_meta[i] = (str(smin), str(smax), skip)

        def _neighbor_w(j: int) -> int | None:
            # exact width where known (a chosen wstr neighbor is in lo);
            # optimistic 1 for a not-yet-chosen wstr neighbor. Optimism
            # can lock in an over-wide window k for THIS field — if the
            # neighbor's realized width then cannot share the budget,
            # this field stays a singleton (speed only, never positions).
            if not (0 <= j < len(keys)) or not packable[j]:
                return None
            if j in lo:
                mc = span[j] + (2 if j in flt_idx else 1)
                return max(1, mc.bit_length())
            if kinds[j] == "str":
                return max(1, (len(rmaps.get(j, ())) + 1).bit_length())
            if kinds[j] == "wstr":
                return 1
            return None
        nbr = [w for w in (_neighbor_w(i - 1), _neighbor_w(i + 1)) if w]
        _wstr_select(i, nbr)
    # per-field code widths; None = unpackable (by kind, domain, or an
    # individual width that could never share a 63-bit long)
    def _width(i: int) -> int | None:
        if not packable[i]:
            return None
        if i in lo:
            # floats reserve one extra top code for NaN (span+2)
            max_code = span[i] + (2 if i in flt_idx else 1)
        else:
            max_code = len(rmaps.get(i, ()))
        w = max(1, max_code.bit_length())
        return w if w < 63 else None

    widths: list[int | None] = [_width(i) for i in range(len(keys))]
    # greedy left-to-right grouping under the 63-bit budget — optimal
    # for minimizing contiguous group count
    def _greedy(ws: list) -> list[list[int]]:
        fgroups: list[list[int]] = []
        cur: list[int] = []
        cur_w = 0
        for i in range(len(keys)):
            w = ws[i]
            if w is None:
                if cur:
                    fgroups.append(cur)
                    cur, cur_w = [], 0
                fgroups.append([i])
                continue
            if cur and cur_w + w > 63:
                fgroups.append(cur)
                cur, cur_w = [], 0
            cur.append(i)
            cur_w += w
        if cur:
            fgroups.append(cur)
        return fgroups

    # Exact injectivity gate for wide-string fields, DEFERRED until the
    # grouping proves the field actually lands in a ≥2 group (a
    # singleton wstr gains nothing from encoding — the measured cost law
    # is per search FIELD — so its injectivity job would be pure waste).
    # countDistinct(raw) == countDistinct(encode) ⇔ the window is
    # injective over distinct values ⇔ the monotone encode is STRICTLY
    # order-isomorphic: window ties between distinct strings would
    # mis-sort the per-bucket window AND corrupt row-vs-bound search
    # ties, so near-misses demote to the struct path. One keys-only agg
    # covers every field the grouping engaged; a demotion regroups and
    # re-checks any wstr newly pulled into a group (≤ |wstr fields|
    # rounds, each round one job).
    checked: set[int] = set(wstr_trivial)  # shortcut fields never need job C

    # Leading-prefix regime gate (r14 verdict item 3 — the SCALING.md
    # rounds 13-14 regime law turned from documentation into behavior).
    # The pack's only exec win is deleting compares of fields AFTER the
    # group's leading field, and those compares are paid only when two
    # rows tie on every field up THROUGH it: when the key prefix ending
    # at the group's leading field is near-unique per bucket sort, the
    # lexicographic chain short-circuits there and the pack buys nothing
    # while still paying per-row encodes plus the deferred double
    # countDistinct. The sample statistic is a LOWER bound on true
    # cardinality (distinct-in-sample can only undercount), so the gate
    # can only fire on genuinely high-card prefixes; the
    # GP_REGIME_MIN_SAMPLE_FACTOR floor keeps it inert where the sample
    # could not resolve the threshold (all fixture scales, and the
    # saturation regime above ~2.3B rows). NaN-bearing float prefixes
    # can overcount distinct tuples (NaN != NaN); the failure mode is a
    # skipped pack — perf-only, never positions.
    _prefix_distinct: dict[int, int] = {}

    def _regime_declines(lead: int) -> bool:
        if est_rows is None or n_buckets is None or not sample_keys:
            return False
        rpb = max(1, est_rows // max(1, n_buckets))
        if len(sample_keys) < GP_REGIME_MIN_SAMPLE_FACTOR * rpb:
            return False
        if lead not in _prefix_distinct:
            _prefix_distinct[lead] = len(
                {tuple(t[: lead + 1]) for t in sample_keys}
            )
        return _prefix_distinct[lead] >= rpb

    while True:
        fgroups = _greedy(widths)
        # Regime check runs BEFORE the exact injectivity job so a
        # declined group's wstr members never pay the countDistinct agg
        # (the dominant pack tax, ~30s/100M) nor their per-row encodes.
        # Only wstr members demote — int/ts members cost nothing to pack
        # and may regroup among themselves. Each hit strictly shrinks
        # wstr_k, so the loop still terminates.
        regime_hit = False
        for g in fgroups:
            if len(g) < 2 or not any(i in wstr_k for i in g):
                continue
            if _regime_declines(g[0]):
                for i in g:
                    if i in wstr_k:
                        widths[i] = None
                        del wstr_k[i]
                        wstr_decline[i] = "regime"
                regime_hit = True
        if regime_hit:
            continue  # regroup: a dissolved group can re-pair neighbors
        need = [
            i
            for g in fgroups
            if len(g) >= 2
            for i in g
            if i in wstr_k and i not in checked
        ]
        if not need:
            break
        cd_row = df.agg(
            *[
                a
                for i in need
                for a in (
                    F.countDistinct(kcols[i]).alias(f"cd{i}"),
                    F.countDistinct(enc[i]).alias(f"ce{i}"),
                )
            ]
        ).collect()[0]
        for i in need:
            checked.add(i)
            if cd_row[f"cd{i}"] != cd_row[f"ce{i}"]:
                widths[i] = None
                del wstr_k[i]
                wstr_decline[i] = "injectivity"
        # regroup: a demotion can re-pair its neighbors
    if info is not None and wstr_meta:
        # decline accounting (r12 ADVICE item 3): every wstr_meta field
        # paid job A's min/max + octet/NUL aggregates; the ones that end
        # unpacked are that cost with no pack to show for it
        packed_w = {i for g in fgroups if len(g) >= 2 for i in g if i in wstr_k}
        for i in wstr_meta:
            if i not in packed_w and i not in wstr_decline:
                wstr_decline[i] = "singleton"
        info["wstr_candidate_fields"] = sorted(wstr_meta)
        info["wstr_declined"] = {i: wstr_decline[i] for i in sorted(wstr_decline)}
    if max(len(g) for g in fgroups) < 2:
        return None
    if info is not None:
        info["wstr_packed_fields"] = sorted(
            i for g in fgroups if len(g) >= 2 for i in g if i in wstr_k
        )
        info["wstr_windows"] = {i: wstr_k[i] for i in info["wstr_packed_fields"]}
        info["wstr_trivial_fields"] = sorted(
            i for i in info["wstr_packed_fields"] if i in wstr_trivial
        )

    def _code_expr(i: int):
        if i in flt_idx:
            # null → 0 < values → 1..span+1 < NaN → span+2: exactly the
            # asc-nulls-first / NaN-greatest order the window sort uses
            return (
                F.when(F.isnan(kcols[i]), F.lit(span[i] + 2).cast("long"))
                .when(kcols[i].isNull(), F.lit(0).cast("long"))
                .otherwise(enc[i] - F.lit(lo[i]) + F.lit(1))
            )
        if i in lo:
            return F.coalesce(enc[i] - F.lit(lo[i]) + F.lit(1), F.lit(0))
        if not rmaps[i]:  # domain is {null}: code is constant 0
            return F.lit(0).cast("long")
        lookup = _lit_rank_map(rmaps[i])[kcols[i]].cast("long")
        return F.coalesce(lookup + F.lit(1), F.lit(0))

    def _code_val(i: int, v):
        # integral/timestamp bounds are already longs (timestamps sampled
        # pre-encoded as epoch micros — no Python datetime round-trip);
        # float bounds encode through the bit-twin (py4j doubles are
        # bit-exact, and only monotonicity is load-bearing anyway);
        # wide-string bounds window through the prefix bit-twin
        if i in flt_idx:
            if math.isnan(v):
                return span[i] + 2
            return double_order_long_py(v) - lo[i] + 1
        if i in wstr_k:
            skip, k = wstr_k[i]
            return string_prefix_order_long_py(v, skip, k) - lo[i] + 1
        if i in lo:
            return int(v) - lo[i] + 1
        return rmaps[i][v] + 1

    groups: list[dict] = []
    for g in fgroups:
        if len(g) == 1:
            groups.append({"idx": g, "expr": None, "bounds": None})
            continue
        comp_expr = _code_expr(g[0])
        for i in g[1:]:
            comp_expr = comp_expr * F.lit(1 << widths[i]) + _code_expr(i)
        comp_bounds = []
        for b in bounds:  # bounds are null-free (filtered driver-side)
            acc = _code_val(g[0], b[g[0]])
            for i in g[1:]:
                acc = (acc << widths[i]) + _code_val(i, b[i])
            comp_bounds.append(acc)
        groups.append({"idx": g, "expr": comp_expr, "bounds": comp_bounds})
    return groups


def _weighted_bounds(pairs: list, n_buckets: int) -> list:
    """Thin a weighted, Spark-ascending-sorted sample to n_buckets-1
    boundary tuples at equal WEIGHT quantiles.

    ``pairs`` is [(key_tuple, weight)] where weight = how many sampled
    rows carried that exact tuple — so a heavy key claims boundary slots
    in proportion to its row count, exactly like the raw-row thinning it
    replaces (duplicated bounds from a multi-quantile key are harmless:
    they yield empty buckets, never wrong positions). Integer arithmetic
    only (cum·n ≥ j·W), so quantile placement can't drift by a float ulp
    across configs."""
    total = sum(w for _, w in pairs)
    bounds: list = []
    cum, j = 0, 1
    for kt, w in pairs:
        cum += w
        while j < n_buckets and cum * n_buckets >= j * total:
            bounds.append(kt)
            j += 1
        if j >= n_buckets:
            break
    return bounds[: n_buckets - 1]


def _smallest_kt(df: DataFrame, n: int) -> list:
    """The (at most) ``n`` rows of ``df`` with the smallest ``kt``, as Rows
    in Spark's ascending order: one job, at most ``n`` rows to the driver.

    ORDER BY + LIMIT below an aggregate plans as TakeOrderedAndProject's
    shuffle path: a bounded top-n heap per partition, merged in one task
    and gathered into one array row. At the plan root Spark would merge
    every partition's heap on the driver instead, so a table of many
    small partitions would ship its whole sample there. And no LIMIT sits
    in a codegen stage: a LocalLimit names its counter after a JVM-global
    id (``_limit_counter_<id>``), so every call would generate new source
    and compile new classes. ``sort_array`` fixes the gathered order with
    Spark's own ordering."""
    rows = F.sort_array(F.collect_list(F.struct(*df.columns)))
    return df.orderBy("kt").limit(n).agg(rows.alias("rows")).collect()[0]["rows"]


def with_global_position(df: DataFrame, *keys: str, stats: dict | None = None) -> DataFrame:
    """Attach the explicit global rank (1-based) under ORDER BY keys.

    This materializes the total order as data, the pattern for sinks that
    cannot preserve order (e.g. a multi-partition Kafka topic, where even
    the reference's ordered publish is only reconstructible per partition
    offset — SURVEY.md §3.1 step 5). A window over *no* partition would
    serialize the table through one task; instead:

    1. **Boundary sample** (cheap jobs, key columns only — parquet
       prunes the rest): rows where ``pmod(xxhash64(keys), GP_SAMPLE_MOD)
       = 0`` — a pure function of the key VALUES (64-bit so the nested
       subsets below never exhaust the residue space) — sorted
       Spark-side, thinned to n_buckets-1 boundary tuples, collected as
       literals. If the collection cap truncates, a second pass counts
       the sample exactly and re-samples at a coarser power-of-two mod
       whose expected size fits the cap untruncated, collected as
       (tuple, weight) aggregates and thinned at weight quantiles —
       layout-independent where a bare ``limit`` keeps only
       the first-scheduled (on clustered input: lowest-key) partitions'
       rows and piles the underrepresented key range into giant buckets
       (366× ideal skew measured at 50M — one window task holding 9% of
       the table; probe_gp_clustered.py, SCALING.md round-8). n_buckets
       targets ~GP_TARGET_ROWS_PER_BUCKET rows per window task from the
       sample-estimated table size, clamped to GP_MAX_BUCKETS — tiny
       tables get a near-trivial expression, big ones fan the window
       stage out to the cap.
    2. **Bucket** every row by binary search over the boundary literals —
       log2(n_buckets) lexicographic comparisons per row, not a linear
       scan. The bounds live in one constant-folded PER-FIELD array
       literal each (a codegen *reference*, not inline code — one
       ``F.lit(list)`` py4j call per key field, so plan construction is
       O(fields), not O(n_buckets)) indexed by ``element_at``, and each
       search level is materialized as its own projection column — so the
       generated code is O(log n_buckets) regardless of the bucket count.
       The r6 implementation inlined the bounds as a 1023-branch
       ``when`` decision tree instead; at the 1024-bucket cap that blew
       whole-stage codegen past the method-split threshold into Janino
       nested classes and died with the known
       ``IllegalAccessError: BufferedRowIterator.partitionIndex``
       (first observed at the 50M probe — toy scales never saturate the
       cap, which is exactly why the probe exists). The field-wise
       comparison chain reproduces Spark's struct ``>`` total order
       exactly (see the inline comment at the search loop): a null field
       decides as smallest — (5, NULL) > (2, 7) descends HIGH on f0,
       while (2, NULL) vs (2, 7) decides on the null f1 and descends
       low. That is exactly the asc-nulls-first order the final window
       uses, so null-keyed rows land in the right bucket. Bucket id =
       |{bounds < key}| is monotone in key order by construction.
       Each search field is either a packed ``_composite_key`` group (one
       long standing for a run of adjacent key fields, order-isomorphic)
       or a raw key column; the search levels and the final window sort
       use the same fields, so positions are bit-identical either way.
    3. **Exact bucket counts** (one more job, keys only; skipped when
       there are no bounds, since one bucket's offset is 0) → driver
       prefix sum (≤ n_buckets values, never rows) → a literal offsets
       ARRAY indexed by bucket id (an O(1) constant-folded lookup per
       row — r6 used a broadcast hash join here, which the r7 50M
       decomposition billed at ~19 s of per-row probe overhead for
       driver-known data).
    4. ``row_number`` windowed per bucket + offset = global position.

    Unlike a ``spark_partition_id``-based scheme over ``orderBy`` (rounds
    2-5), every step is a *deterministic function of row values and
    collected literals* — Spark's range exchange re-samples bounds per
    execution, so partition-id offsets required pinning the whole sorted
    table with an unreleasable ``.persist()`` (r5 verdict nit #1; at
    100 TB caching the full sort is the scale bug). Here nothing is
    persisted: the count pass and the output pass agree row-by-row under
    any recomputation, so the frame is lazy-safe, loop-safe
    (tests/test_sorts.py pins zero residual storage after 20 fanouts) and
    rescans — the 100 TB-correct trade — instead of caching. Parallelism
    of the final window = populated buckets; a unique trailing tie-break
    key (all callers' contract) keeps sample quantiles balanced.
    """
    from pyspark.sql import types as T

    from kafka_stream_sorter_spark.functions.numeric import epoch_us

    # TIMESTAMP key fields are pre-encoded to epoch micros (order-
    # isomorphic: micros order ≡ timestamp order, nulls stay null) for
    # EVERYTHING key-shaped below — the boundary sample, the search
    # exprs, the window sort, and the rank-pack. Collected bounds are
    # then longs end-to-end: the old path round-tripped datetimes
    # through the driver's `datetime.fromtimestamp`, which runs in the
    # PROCESS timezone (session timeZone does not control it) and is
    # non-monotone across a DST fall-back — non-ascending bound
    # literals would break the binary search's sortedness invariant
    # (r10 ADVICE, medium). The output column set is untouched.
    _tsish = (T.TimestampType, T.TimestampNTZType)
    kcols = [
        epoch_us(F.col(k))
        if isinstance(df.schema[k].dataType, _tsish)
        else F.col(k)
        for k in keys
    ]
    fields = [c.alias(f"f{i}") for i, c in enumerate(kcols)]

    def _key_sample(mod: int) -> DataFrame:
        # xxhash64, not F.hash: the 32-bit Murmur3 residue classes run out
        # at mod × extra > 2^31 — pmod(h, mod)=0 would then select only
        # hash-exactly-0 rows (~rows/2^32), collapsing the boundary sample
        # to near-nothing at ~6e14 rows (r8 ADVICE item 2). 64-bit keeps
        # the nested-subset construction uniform far past any real table.
        return df.select(F.struct(*fields).alias("kt")).where(
            F.pmod(F.xxhash64(*kcols), F.lit(mod)) == 0
        )

    # Spark-side sort: boundary order must be SPARK's ascending order
    # (Python sorted() over mixed/string keys need not agree — see
    # sort_with_tiebreak's float/NaN gate for the failure class).
    # Boundary tuples must be null-free because F.lit(None) yields a
    # VOID-typed literal the comparison can't type-resolve (the
    # comparison itself is a total order and handles null row keys fine;
    # dropping null candidates only biases bucket sizing, not order) —
    # filtered driver-side so truncation detection sees the raw count.
    cap = _gp_sample_cap()
    collected = _smallest_kt(_key_sample(GP_SAMPLE_MOD), cap)
    if len(collected) >= cap:
        # The sample reached the cap, so it may be truncated — and a
        # truncated sample is key-biased: the top-k keeps the LOWEST keys
        # (a bare limit would keep the first-scheduled scan partitions,
        # the same lowest keys on key-clustered input — time-ordered logs,
        # sorted compactions, the normal 100 TB layout). Either way the
        # bounds would underrepresent the rest of the key range and pile
        # it into giant buckets, serializing the window stage (measured at
        # 50M: skew 366× ideal, one task holding 9% of the table —
        # scripts/probe_gp_clustered.py, SCALING.md round-8).
        # Two-phase recovery: count the level-1 sample exactly (keys-only
        # scan), then re-sample at a power-of-two multiple of the mod so
        # the expected size fits the cap WITHOUT a limit — a deterministic
        # nested subset (pmod(h, 256k) = 0 ⊆ pmod(h, 256) = 0), uniform
        # across the key range regardless of physical layout.
        # Two keys-only jobs on the saturated path (exact count, then the
        # coarser re-sample) — deliberate (r8 ADVICE item 3): both scan
        # pruned key columns, and they agree because the operator's whole
        # design already requires deterministic rescans (the count pass
        # and the output pass must agree row-by-row; see the docstring's
        # no-persist rationale). est_rows only sizes n_buckets, so even a
        # drifting source would skew bucket sizing, never positions.
        cnt = _key_sample(GP_SAMPLE_MOD).count()
        extra = 1
        while cnt > extra * cap:
            extra *= 2
        # Collect (tuple, weight) AGGREGATES, not raw rows: the collect is
        # then bounded by the DISTINCT sampled key tuples, which Chernoff-
        # concentrates around ≤ cap (each distinct tuple enters the nested
        # subset independently at 1/extra) — so the degenerate case the
        # old raw-row guard-limit existed for (one heavy key carrying the
        # whole sample past 8× cap) compresses to ONE aggregate row
        # instead of silently re-entering layout-dependent truncation
        # (r8 ADVICE item 1). The trailing top-k limit survives as a pure
        # driver-OOM backstop; if it ever fires, stats say so
        # (resample_truncated) instead of nothing surfacing it.
        agg_rows = _smallest_kt(
            _key_sample(GP_SAMPLE_MOD * extra)
            .groupBy("kt")
            .agg(F.count(F.lit(1)).alias("w")),
            4 * cap,
        )
        resample_truncated = len(agg_rows) >= 4 * cap
        if resample_truncated:
            # Unconditional — production callers never pass `stats`, so
            # without this a firing backstop (bounds once again a key-
            # biased subset) would be invisible (r9 ADVICE item 1).
            _log.warning(
                "with_global_position: resample driver-OOM backstop fired "
                "(%d aggregates >= 4x cap %d, mod %d) — boundary sample is "
                "truncated to the lowest key tuples; positions stay "
                "exact but bucket balance is not guaranteed",
                len(agg_rows), cap, GP_SAMPLE_MOD * extra,
            )
        pairs = [
            (r["kt"], r["w"]) for r in agg_rows if not any(v is None for v in r["kt"])
        ]
        est_rows = cnt * GP_SAMPLE_MOD
        n_samples = len(pairs)
        sample_keys = [kt for kt, _ in pairs]
        # floor 2: one bucket would make _gp_bucket a foldable constant,
        # which Catalyst folds into an UNPARTITIONED window (single task)
        n_buckets = min(GP_MAX_BUCKETS, max(2, est_rows // GP_TARGET_ROWS_PER_BUCKET))
        bounds = _weighted_bounds(pairs, n_buckets)
    else:
        resample_truncated = False
        est_rows = len(collected) * GP_SAMPLE_MOD
        cand = [r["kt"] for r in collected if not any(v is None for v in r["kt"])]
        n_samples = len(cand)
        sample_keys = cand
        n_buckets = min(GP_MAX_BUCKETS, max(2, est_rows // GP_TARGET_ROWS_PER_BUCKET))
        step = max(1, (len(cand) + n_buckets - 1) // n_buckets)
        bounds = cand[step - 1 :: step][: n_buckets - 1]

    # Key-shape fast path, engaged only when the sample-estimated table
    # size clears GP_COMPOSITE_MIN_ROWS (below it the per-field compare
    # cost it removes is invisible while its keys-only pre-jobs are not —
    # the r9 verdict's +0.6s keyed_fanout fixture tax): the rank-pack
    # folds ADJACENT runs of integral/timestamp/float/string fields that
    # fit 63 bits into one long each, collapsing search AND window sort
    # toward the unique-key cost profile (_composite_key; measured: 300M
    # pair wins 463→125s / 327→85s, 150M 3-field 9.95×→4.75×, 300M
    # 3-field 1.19× a plain sort). It is order-isomorphic, so positions
    # are bit-identical to plain struct compares in every regime. Every
    # field it leaves out — or all of them, when it declines — is
    # searched and sorted on the raw key column. Leftover low-card
    # strings are NOT rank-mapped first: per-level rank lookups push the
    # search stage's generated method past HotSpot's 8,000-byte JIT
    # limit, so it runs interpreted (a 4× slower write at 10M rows,
    # SCALING.md).
    groups = None
    comp_info: dict = {}
    if bounds and est_rows >= GP_COMPOSITE_MIN_ROWS:
        groups = _composite_key(
            df, keys, kcols, sample_keys, bounds, info=comp_info,
            est_rows=est_rows, n_buckets=n_buckets,
        )
    if groups is None:  # every key field is its own search field
        groups = [{"idx": [i], "expr": None} for i in range(len(keys))]
    bucketed = df
    pack_cols: list[str] = []
    sort_exprs = []
    search_bounds = []
    for j, g in enumerate(groups):
        if g["expr"] is None:
            i = g["idx"][0]
            sort_exprs.append(kcols[i])
            search_bounds.append([b[i] for b in bounds])
            continue
        rc = f"_gp_ck{j}"
        while rc in bucketed.columns:
            rc += "_"
        bucketed = bucketed.withColumn(rc, g["expr"])
        pack_cols.append(rc)
        sort_exprs.append(F.col(rc))
        search_bounds.append(g["bounds"])

    # bucket id = |{i : key > bounds[i]}| (strict: a key equal to a bound
    # stays in the bound's own bucket), computed by binary search over
    # PER-FIELD literal arrays of the sorted bounds. Each array is ONE
    # ``F.lit(python_list)`` — a single py4j call producing a single array
    # Literal carried in the codegen references array. (The r7 shape
    # built one struct literal per bound via F.array(F.struct(F.lit...)):
    # semantically identical after constant folding, but constructing it
    # costs O(n_buckets × fields) py4j round-trips of DRIVER time — the
    # r8 50M probe billed the 2-key build at ~45 s at a 4096 cap, which
    # was the binding ceiling on raising the cap. Per-field arrays make
    # plan construction O(fields).)
    # The per-level comparison is the field-wise lexicographic expansion
    #   key > bound  ⟺  f0 > b0 OR (f0 = b0 AND (f1 > b1 OR ...))
    # which reproduces Spark's struct TOTAL order exactly, including its
    # null and NaN semantics: a null field makes its comparison AND the
    # equality NULL, so the whole chain collapses to NULL exactly when
    # the null field is the deciding one — and F.when treats NULL as
    # false → never bumps → the row descends LOW, the asc-nulls-first
    # order the final window uses ((5,NULL) > (2,7) still bumps — decided
    # by f0 before the null matters). NaN: Spark comparisons order NaN
    # above every float and NaN = NaN is TRUE, same as struct ordering.
    # Each level is its own withColumn so the previous level's result is
    # referenced (a non-cheap expression used twice per level), which
    # CollapseProject refuses to inline — the expression tree stays
    # linear, not 2^levels.
    if bounds:
        b_arrs = [F.lit(vals) for vals in search_bounds]
        pos_col = "_gp_bs"
        while pos_col in bucketed.columns:
            pos_col += "_"
        bucketed = bucketed.withColumn(pos_col, F.lit(0))
        n_b = len(bounds)
        step2 = 1 << (n_b.bit_length() - 1)  # largest power of two <= n_b
        while step2 >= 1:
            cand_idx = F.col(pos_col) + F.lit(step2)
            gt = F.lit(False)
            for i in reversed(range(len(sort_exprs))):
                bi = F.element_at(b_arrs[i], cand_idx.cast("int"))
                gt = (sort_exprs[i] > bi) | ((sort_exprs[i] == bi) & gt)
            # nested when: element_at is only evaluated under the bounds
            # guard (ANSI mode throws on out-of-range indices)
            bumped = F.when(
                cand_idx <= F.lit(n_b),
                F.when(gt, cand_idx).otherwise(F.col(pos_col)),
            ).otherwise(F.col(pos_col))
            bucketed = bucketed.withColumn(pos_col, bumped)
            step2 //= 2
        bucketed = bucketed.withColumn(
            "_gp_bucket", F.col(pos_col).cast("int")
        ).drop(pos_col)
        counts = (
            bucketed.groupBy("_gp_bucket").count().orderBy("_gp_bucket").collect()
        )
        by_bucket = {r["_gp_bucket"]: r["count"] for r in counts}
    else:
        # Single-bucket degenerate (tiny tables / the sf0.01 driver gate):
        # the offsets array is [0] whatever a count job would return —
        # the global position IS the window row_number — so no exact
        # bucket-count job runs (r16), whether or not ``stats`` is passed:
        # observing must not change the plan, so the count-derived stats
        # read None here.
        bucketed = bucketed.withColumn("_gp_bucket", F.lit(0).cast("int"))
        by_bucket = {}
    # prefix-sum over EVERY bucket id (empty buckets included, offset =
    # running total) → a ≤GP_MAX_BUCKETS-entry literal array; the per-row offset is
    # element_at(literal, bucket+1) — a constant-folded O(1) lookup, NOT
    # a broadcast join (the r7 50M decomposition billed the former
    # broadcast-hash-join step at ~19 s of pure per-row probe overhead
    # for what is driver-known data ≤ GP_MAX_BUCKETS long)
    acc, offs = 0, []
    for b in range(len(bounds) + 1):
        offs.append(acc)
        acc += by_bucket.get(b, 0)
    if stats is not None:  # probe/test observability only
        stats.update(
            sample_rows=n_samples,
            n_buckets=len(bounds) + 1,
            populated_buckets=len(by_bucket) if bounds else None,
            total_rows=acc if bounds else None,
            max_bucket_rows=max(by_bucket.values(), default=0) if bounds else None,
            resample_truncated=resample_truncated,
            composite_key=bool(pack_cols),
            search_fields=len(sort_exprs),
            **comp_info,
        )
    off_arr = F.lit([int(v) for v in offs])  # one py4j call → array<long> literal
    # the window orders by the packed columns where the pack engaged —
    # order-isomorphic to the raw keys, so row_number is unchanged while
    # the per-bucket sort compares one long per packed group
    w = Window.partitionBy("_gp_bucket").orderBy(*[c.asc() for c in sort_exprs])
    return (
        bucketed.withColumn(
            "global_pos",
            (
                F.row_number().over(w)
                + F.element_at(off_arr, F.col("_gp_bucket") + F.lit(1))
            ).cast("long"),
        )
        .drop("_gp_bucket", *pack_cols)
    )
