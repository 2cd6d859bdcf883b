"""Structured Streaming operator surface.

The reference is nominally a stream processor, but it treats its Kafka topic
as *bounded*: each sorter drains `source` to EOF (a 5 s read deadline — the
drain heuristic at ``/root/reference/internal/sort/external_sort.go:95-113``)
and exits. The faithful Spark mapping (SURVEY.md §3.4) is
``Trigger.AvailableNow``: process everything available, then stop — same
bounded-drain semantics, minus the timeout guesswork, plus checkpointed
exactly-once state.

Everything here runs the bounded-replay pattern so results are byte-
comparable with a batch oracle:

    file/kafka stream → event-time ops (watermark, windows, state) →
    AvailableNow drain → sink → inspect as a batch DataFrame

At scale the memory sink below becomes a Kafka/parquet sink; the operators
are sink-agnostic. State stores shard by groups across executors — the
watermark/session/dedup operators shuffle once on their grouping keys,
exactly like their batch analogues.

Batch-disorder law (50M probe, SCALING.md round 8): the watermark delay
must exceed the BATCH-LEVEL delivery disorder — how far event time can run
backwards between consecutive micro-batches — or rows are silently dropped
(a 1h delay lost 69% of stream-stream join pairs when files replayed in
mtime order). Bounded replays of time-unordered files have disorder up to
the full corpus span, so every registered query uses
queries/streaming.DRAIN_WATERMARK (3650 days), enforced by
tests/test_streaming.py::test_registered_watermarks_are_the_drain_constant.
A LIVE deployment must instead set the delay from its delivery SLA
(p99.9 end-to-end lateness), never from memory pressure — state size is
the watermark's consequence, not its tuning target.
"""

from __future__ import annotations

import itertools
import os
import stat
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SINK_IDS = itertools.count()

# State stores shard one-per-shuffle-partition: every stateful streaming op
# pays (open + commit + snapshot) × partitions per micro-batch, so 32 shards
# (the batch default here) over fixture-scale state is pure constant
# overhead. Scope the drains to a small count — sized to state volume, not
# CPU count; at 100 TB you'd raise this to spread state across executors
# (it is frozen into the checkpoint at first batch, so pick it per job).
STREAM_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))


@contextmanager
def _stream_shuffle(spark):
    """Temporarily pin spark.sql.shuffle.partitions for a stream drain;
    restore the caller's value after (the batch queries keep theirs)."""
    key = "spark.sql.shuffle.partitions"
    try:
        old = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset on a vanilla session
        old = None
    spark.conf.set(key, str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)

#: path → ((mtime, size[, part-file stats]), parquet footer schema). The
#: schema batch-read in stream_events costs a file listing + footer fetch
#: per CALL (~0.1-0.2 s measured in the r17 drain decomposition, scripts/
#: probe_stream_drain_decomp.py) and every one of the 11 streaming
#: queries pays it; the schema is pure file METADATA — memoizing it is
#: not result caching (no query data is persisted). One entry per path:
#: a stat mismatch (the driver regenerated fixtures) re-reads the footer
#: and overwrites the entry, so rewrites never accumulate stale keys.
_SCHEMA_MEMO: dict = {}


def _source_schema(spark, path: str):
    try:
        key = (os.path.getmtime(path), os.path.getsize(path))
        if os.path.isdir(path):
            # A directory's mtime/size change only on entry add/remove/
            # rename — an in-place rewrite of a part file (same name, new
            # bytes; how a fixture regeneration can land) leaves them
            # untouched. Fold the part files' own (name, mtime, size)
            # into the key so that rewrite invalidates too. One listdir +
            # stat per call — still metadata-only and ~1000× cheaper than
            # the JVM footer read this memo avoids.
            entries = [
                (name, os.stat(os.path.join(path, name)))
                for name in sorted(os.listdir(path))
                if not name.startswith((".", "_"))
            ]
            if any(stat.S_ISDIR(st.st_mode) for _, st in entries):
                # nested partition directories (key=val/…): a rewrite
                # below the top level changes no stat'ed entry, so the
                # memo could serve a stale schema — read it fresh
                return spark.read.parquet(path).schema
            key += tuple((name, st.st_mtime, st.st_size) for name, st in entries)
    except OSError:
        return spark.read.parquet(path).schema  # let Spark raise its error
    hit = _SCHEMA_MEMO.get(path)
    if hit is None or hit[0] != key:
        hit = _SCHEMA_MEMO[path] = (key, spark.read.parquet(path).schema)
    return hit[1]


def stream_events(spark, sf_dir: str) -> DataFrame:
    """Unbounded view of the events table via the file streaming source
    (≙ the reference's Kafka `source` topic; swap in
    sources/kafka.read_topic(streaming=True) when a broker exists).

    The stream schema is taken from a batch read of the same file (parquet
    footer truth), NOT hard-coded: round 2 proved a hard-coded schema rots
    the moment the fixture's physical timestamp type drifts. Whatever type
    ``ts`` arrives as, ``normalize_timestamps`` — the SAME function the
    batch path uses — converts it to TimestampType, so batch and stream can
    never disagree on time units. The batch read costs one footer fetch at
    plan time (memoized per path, keyed by its file stats — _SCHEMA_MEMO); no data
    is scanned."""
    from kafka_stream_sorter_spark.sources.parquet import (
        normalize_timestamps,
        table_path,
    )

    # Needed when the fixture stores TIMESTAMP(NANOS); harmless otherwise.
    # Runtime-settable, so set it here for vanilla (non-get_spark) sessions.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    file_schema = _source_schema(spark, path)
    if os.path.isdir(path):
        # events.parquet shipped as a DIRECTORY of part files (the common
        # parquet layout): stream the directory itself. The single-file
        # glob below would match nothing — pathGlobFilter matches file
        # names — and every streaming query would silently drain empty.
        raw = spark.readStream.schema(file_schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(file_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_timestamps(raw, table="events")


def drain_to_table(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to exhaustion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    The memory sink is the test-scale stand-in for the reference's output
    topics (`sorted_*`); production would use format("kafka")/("parquet")
    with the same query unchanged."""
    name = f"stream_sink_{next(_SINK_IDS)}"
    with _stream_shuffle(sdf.sparkSession):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return sdf.sparkSession.table(name)


def _run_foreach_batch(sdf: DataFrame, emit) -> None:
    """Shared drain scaffold: foreachBatch + fresh checkpoint +
    AvailableNow + await. One place to change drain policy instead of a
    copy per operator."""
    with _stream_shuffle(sdf.sparkSession):
        q = (
            sdf.writeStream.foreachBatch(emit)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _batch_dir(out: str, batch_id: int) -> str:
    """Deterministic per-batch output path. foreachBatch is at-least-once:
    a batch replayed after a partial failure re-runs emit(), and a plain
    mode('append') would duplicate the whole batch. Writing each batch to
    its own ``batch_id=N`` dir with mode('overwrite') makes the retry
    idempotent — the replay clobbers its own previous attempt, never a
    neighbor's."""
    return os.path.join(out, f"batch_id={batch_id}")


def _read_runs(spark, out: str, schema) -> DataFrame:
    """Read every batch run under ``out``; empty stream (no batch ever
    fired, so no dir exists) reads as an empty frame with the stream's
    schema instead of an 'unable to infer schema' AnalysisException. The
    discovered batch_id partition column is internal — dropped."""
    import glob

    if not glob.glob(os.path.join(out, "batch_id=*")):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out).drop("batch_id")


def drain_sorted(sdf: DataFrame, keys: list[str]) -> DataFrame:
    """The reference's flagship pipeline as a stream job: drain the bounded
    stream and materialize a totally ordered result (≙ ExternalSort →
    sorted_* topic, /root/reference/internal/sort/external_sort.go:69-201).

    Two phases, exactly like the reference's chunk-sort + merge:
    foreachBatch sorts each micro-batch (range exchange + per-range
    external sort) into sorted parquet runs — runs from DIFFERENT batches
    overlap in key range, like the reference's spill chunks — then the
    returned frame applies one merge pass (`orderBy` over the runs). On a
    single-batch drain the merge is a near-no-op (data already globally
    sorted within the one run); on a multi-batch drain it is the k-way
    merge phase, distributed. No single-writer bottleneck either way.
    Batch replays are idempotent (per-batch overwrite dirs, _batch_dir)."""
    out = tempfile.mkdtemp(prefix="sorted_drain_")

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.orderBy(*keys).write.mode("overwrite").parquet(_batch_dir(out, batch_id))

    _run_foreach_batch(sdf, emit)
    return _read_runs(sdf.sparkSession, out, sdf.schema).orderBy(*keys)


def drain_topk(
    sdf: DataFrame, k: int, order_cols: list, id_cols: list[str] | None = None
) -> DataFrame:
    """Bounded-state streaming top-k: each micro-batch contributes its local
    top-k (TakeOrderedAndProject — only partitions×k rows move per batch) to
    an append-only candidate store; the read side re-ranks the candidates
    globally. The global top-k is always a subset of the union of per-batch
    top-ks, so the result is exact while state stays O(k × n_batches) —
    never proportional to the stream. The streaming twin of the batch
    ``topk`` query (≙ the reference's validator prefix, test_validation.sh);
    at 100 TB the candidate store is a compacted topic/table the next batch
    folds into.

    foreachBatch is at-least-once: batch replays are made idempotent by
    per-batch overwrite dirs (_batch_dir), and — belt over braces — the
    read side still deduplicates on ``id_cols`` (row identity, e.g. the
    event key; cheap, the candidate store is only O(k × n_batches) rows)
    so duplicate identities in the stream itself can't occupy two of the
    k slots. Pass ``id_cols=None`` only when the stream can never contain
    two rows with equal identity (then whole-row dedup is used)."""
    out = tempfile.mkdtemp(prefix="stream_topk_")

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.orderBy(*order_cols).limit(k).write.mode("overwrite").parquet(
            _batch_dir(out, batch_id)
        )

    _run_foreach_batch(sdf, emit)
    return resolve_topk_candidates(
        _read_runs(sdf.sparkSession, out, sdf.schema), k, order_cols, id_cols
    )


def resolve_topk_candidates(
    candidates: DataFrame, k: int, order_cols: list, id_cols: list[str] | None
) -> DataFrame:
    """Read-side resolution of the top-k candidate store: dedup on row
    identity (against at-least-once retries duplicating a batch's
    contribution), then global re-rank. Split out from :func:`drain_topk`
    so the retry path is directly testable without forcing a foreachBatch
    retry (tests/test_streaming_incremental.py)."""
    candidates = (
        candidates.dropDuplicates(id_cols) if id_cols else candidates.distinct()
    )
    return candidates.orderBy(*order_cols).limit(k)


def resolve_final_state(df: DataFrame, key_cols: list[str], version_col: str) -> DataFrame:
    """Per-key FINAL emission of an update-mode drain.

    In update mode the memory sink appends every micro-batch's re-emission
    for keys whose state changed, so a multi-batch drain holds stale
    intermediate rows alongside the final ones (a single-file fixture =
    one micro-batch hides this — the classic trap CLAUDE.md flags). Keep
    the row with the highest ``version_col``, which must be a per-key
    monotone counter (e.g. a running n_events: strictly increasing each
    time the key re-emits, so ties across batches are impossible)."""
    others = [c for c in df.columns if c not in key_cols]
    agg = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*others), F.col(version_col)).alias("_final")
    )
    return agg.select(*key_cols, "_final.*")


def user_running_stats(sdf: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, integer-micros sum, max) over the event stream. The reference has
    no stateful ops at all (SURVEY.md §2.B); this is the extension surface
    for ones Spark lacks built-in.

    Emits the running totals for every user seen in each micro-batch
    (update semantics). Sum is accumulated as integer micros — per-element
    floor(v*1e6+0.5) then integer adds — so the result is independent of
    arrival order (functions/numeric.py rationale)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value_micros", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("m", DoubleType()),
        ]
    )

    def update(key, pdf_iter, state):
        import numpy as np

        # GroupState.get is a PROPERTY returning the state tuple (calling it
        # raises "'tuple' object is not callable") — only reachable from the
        # second micro-batch on, so single-batch fixtures can't catch a
        # regression here; tests/test_streaming_incremental.py does.
        n, s, m = state.get if state.exists else (0, 0, None)
        for pdf in pdf_iter:
            v = pdf["value"].to_numpy()
            n += len(v)
            s += int(np.floor(v * 1_000_000 + 0.5).astype("int64").sum())
            batch_max = float(np.max(v)) if len(v) else None
            m = batch_max if m is None else max(m, batch_max) if batch_max is not None else m
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value_micros": [s],
                "max_value": [m],
            }
        )

    return sdf.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cdc_latest(sdf: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Merge-on-read CDC upsert: each micro-batch compacts to its per-key
    latest row (foreachBatch window argmax) and appends a delta file; the
    read side resolves the global winner per key across deltas — the
    Hudi/Delta merge-on-read topology without a table format. Writers
    never rewrite history (per-batch idempotent overwrite dirs, safe
    under at-least-once replays); compaction cost rides on the reader
    until a background rewrite folds deltas.

    Determinism contract: the winner is the max of ``order_cols`` — so
    ``order_cols`` MUST be unique per key (e.g. end with a unique change
    id, as the registered stream_cdc_upsert does with event_id). With
    ties left in, row_number picks whichever row the shuffle delivered
    first, which varies across runs and engines."""
    from pyspark.sql import Window

    out = tempfile.mkdtemp(prefix="cdc_upsert_")
    order = [F.col(c).desc() for c in order_cols]

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy(*order)
        return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        latest(batch_df).write.mode("overwrite").parquet(_batch_dir(out, batch_id))

    _run_foreach_batch(sdf, emit)
    return latest(_read_runs(sdf.sparkSession, out, sdf.schema))
