"""Result validation — the reference's test oracle, done properly.

The reference validates by sampling the first 1000 records of each sorted
topic and checking pairwise ascending order in bash
(``/root/reference/scripts/test_validation.sh:21-113``). Weaknesses we fix
(SURVEY.md §5): prefix-only coverage, no row-count conservation (the async
producer swallows write errors — ``cmd/producer/main.go:85-87``), and a
locale-dependent comparator. Here: full-table pairwise check via a ``lag``
window, exact count conservation, both distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def count_violations(
    df: DataFrame, *keys: str, ascending: bool = True, allow_run_merge: bool = True
) -> int:
    """Number of adjacent pairs out of order under ORDER BY keys.

    Full-table generalization of ``validate_id_sort`` /
    ``validate_lexicographic_sort`` (test_validation.sh:21-113), distributed
    the way it must be at 100 TB: adjacent pairs *within* each produced
    partition are checked by a per-partition window (fully parallel), and
    the partition *boundaries* — one (first, last) key pair per partition —
    are compared on the driver, num_partitions values, never rows. No
    single-partition window anywhere. Assumes non-null sort keys (true of
    every fixture and of the reference's data model).

    ``allow_run_merge`` picks the contract for the boundary check:

    * ``True`` (default): "sorted" = internally-sorted, pairwise range-
      disjoint runs — what a file-backed dataset can promise, since a
      parquet RE-READ of range-disjoint sorted files bin-packs splits by
      size and emits partitions in arbitrary order; a file-level merge
      recovers total order. Boundary pairs are compared in range order.
    * ``False``: strict — the PRODUCED partition order itself must be
      ascending, as a freshly sorted in-memory frame guarantees (range
      exchange emits partitions in key order). Use for in-memory results
      where scrambled-but-disjoint runs would be a real bug.
    """
    return _order_check(df, *keys, ascending=ascending, allow_run_merge=allow_run_merge)[0]


def _order_check(
    df: DataFrame, *keys: str, ascending: bool, allow_run_merge: bool
) -> tuple[int, int]:
    """:func:`count_violations` and the number of rows it checked, from
    the same single job."""
    # Capture the order the DataFrame actually produces: mono ids are
    # (partition_id << 33) + in-partition offset, and a range-partitioned
    # sort emits partitions in key order — so ascending (pid, mono id) ==
    # produced row order. Checking against a window ordered by the sort key
    # itself would be self-fulfilling.
    #
    # Run identity is (partition_id, input_file): FileSourceScan BIN-PACKS
    # several small files into one read partition (concatenated in
    # size-order, not range-order), so a re-read of perfectly sorted
    # range-disjoint files can show "inversions" at the file joints if the
    # run were the partition alone. Found at 50M: the continent sort's
    # ~60 MB files packed two per 128 MB partition and 5 joints inverted
    # while the data itself was correct. For in-memory frames
    # input_file_name() is '' and the run degrades to the partition, as
    # before. A large file SPLIT across partitions still yields per-split
    # runs — internally sorted and range-disjoint, fine under merge.
    #
    # ONE pass, NO cache: the within-run inversion count and the run
    # bounds fold into a single groupBy on the window's own partitioning
    # keys, so there is no second scan and nothing to persist. (The old
    # shape persisted 300M rows carrying the full input_file_name STRING
    # each and scanned the cache twice — at 6× reference scale that cost
    # a 60 GB driver heap where this needs none beyond the window sort's
    # spillable execution memory.) The file name ships as an 8-byte
    # xxhash64, not the string: only run identity matters, and a 2^-64
    # in-partition collision would merely merge two runs into a stricter
    # adjacency check. Single-job evaluation also removes the
    # mono-id/pid re-evaluation hazard the persist existed to prevent.
    # The same groupBy counts each run's rows, so a caller that also needs
    # the row count (cli validate's conservation check) gets it without
    # another scan.
    run_id = (
        F.xxhash64(F.input_file_name())
        if allow_run_merge
        # Strict mode checks PRODUCED row order, where a file joint
        # inside a packed partition IS an adjacency to verify — so the
        # run stays the whole partition there.
        else F.lit(0)
    )
    keyed = (
        df.select(F.struct(*[F.col(k) for k in keys]).alias("k"))
        .withColumn("_pos", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_file", run_id)
    )
    w = Window.partitionBy("_pid", "_file").orderBy("_pos")
    prev = F.lag("k").over(w)
    bad = (F.col("k") < prev) if ascending else (F.col("k") > prev)
    bounds = (
        keyed.withColumn("_bad", F.coalesce(bad, F.lit(False)).cast("long"))
        .groupBy("_pid", "_file")
        .agg(
            F.sum("_bad").alias("n_bad"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min_by("k", "_pos").alias("first_k"),
            F.max_by("k", "_pos").alias("last_k"),
        )
        .collect()
    )
    within = sum(r["n_bad"] for r in bounds)
    rows = sum(r["n_rows"] for r in bounds)
    # allow_run_merge=True: boundary pairs compared in RANGE order — sorted
    # by (first key, last key): the last-key tiebreak puts runs that START
    # equal but END later after the ones that end at the shared value (a
    # prefix of one key struct can tie while the tie-broken physical sort
    # was total, e.g. validating by continent alone over a (continent, id)
    # sort). Runs that truly overlap still collide with their range-order
    # neighbor, and within-run inversions are already counted above.
    # False: compared in produced (_pid, _pos) order, so disjoint sorted
    # runs emitted in scrambled partition order count as violations.
    if allow_run_merge:
        bounds = sorted(
            bounds,
            key=lambda r: (tuple(r["first_k"]), tuple(r["last_k"])),
            reverse=not ascending,
        )
    else:
        bounds = sorted(bounds, key=lambda r: r["_pid"])
    cross = 0
    for left, right in zip(bounds, bounds[1:]):
        lo, hi = tuple(left["last_k"]), tuple(right["first_k"])
        if (lo > hi) if ascending else (lo < hi):
            cross += 1
    return within + cross, rows


def assert_sorted(
    df: DataFrame, *keys: str, ascending: bool = True, allow_run_merge: bool = True
) -> int:
    """Raise unless ``df`` is sorted — by default under the run-merge
    contract (internally-sorted, range-disjoint runs; see
    :func:`count_violations`). Pass ``allow_run_merge=False`` to demand the
    produced row order itself be globally ascending. Returns the number of
    rows checked, counted by the same job."""
    n, rows = _order_check(df, *keys, ascending=ascending, allow_run_merge=allow_run_merge)
    if n:
        raise AssertionError(f"ordering violated for keys {keys}: {n} adjacent inversions")
    return rows


def assert_count_conserved(
    source: DataFrame, result: DataFrame, result_rows: int | None = None
) -> None:
    """No dropped/duplicated rows end-to-end — the check the reference
    lacks entirely (SURVEY.md §5). ``result_rows``, when the caller already
    counted ``result`` (:func:`assert_sorted` returns it), saves a job."""
    ns = source.count()
    nr = result.count() if result_rows is None else result_rows
    if ns != nr:
        raise AssertionError(f"row count not conserved: source={ns} result={nr}")
