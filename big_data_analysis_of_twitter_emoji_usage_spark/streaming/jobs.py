"""Streaming layer: the reference's batch/stream duality, Spark-first.

The reference runs the *same DataFrame chain* on a static read and on a
file-source stream, sinking complete-mode sorted aggregates to the
console forever (q2:96-120 and clones; SURVEY §2.8). The engine keeps
that duality as a first-class contract: every plan builder in
``plans.queries`` takes a DataFrame — batch or streaming — unchanged.

This module adds what the reference lacked for production streams:
bounded-run triggers (``availableNow``) so a stream can be driven to a
checkable final state, a memory sink for tests/oracles, and watermarked
event-time windows (the reference's "per-day" slicing was done by
pointing the batch reader at a directory; README.md:30).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from operator import and_

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
    read_partition_subtrees,
    union_partition_tiers,
)
from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
    _hadoop_fs,
    consolidate_bucket_history,
    roll_recent_into_store,
)


def stream_query(
    df: DataFrame,
    output_mode: str = "complete",
    fmt: str = "console",
    query_name: str | None = None,
    available_now: bool = False,
    checkpoint: str | None = None,
):
    """Start a streaming query with the reference's sink shape
    (complete-mode, untruncated console — q2:115-120) or any variant."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("truncate", "false")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Drive a streaming plan over everything currently in its source and
    return the final result as a batch DataFrame (memory sink).

    This is the engine's batch/stream equivalence harness: for any
    builder B, ``run_stream_to_memory(spark, B(stream_src), n)`` must
    equal ``B(batch_src)`` — the reference's central design property.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    plan compiled at ``start()`` (a streaming aggregation's state
    partitioning is fixed at first run and checkpointed). Stateful
    micro-batches pay a per-partition state-store commit every trigger,
    so oversized state partitioning costs fixed latency per batch; size
    it to state volume, not to CPU count. The batch conf is restored
    after start.

    TEST/ORACLE HARNESS ONLY: the memory sink accumulates every emitted
    row in the DRIVER heap for the life of the query. The r9 third
    streaming decade measured the boundary — sessionizing 100M events
    emits tens of millions of session rows and OOMs a 16 g driver even
    with bounded triggers (the state store was fine; the sink wasn't).
    Large drives belong on ``run_stream_to_parquet`` (executor-side
    landing, flat driver).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return spark.table(query_name)


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)
_SESSION_STATE_SCHEMA = "start long, end long, n long"

# ONE definition of the engine's sessionization parameters, consumed by
# both streaming variants, the batch catalog queries, their post-filter
# predicates, AND the generated DuckDB oracles (f-string interpolation
# in plans.catalog) — the three hard-coded copies the r7 advice flagged
# would silently break strictly-closed-session parity if edited
# independently.
SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
SESSION_GAP_SECONDS = SESSION_GAP_MINUTES * 60
SESSION_DELAY_MINUTES = 10
SESSION_DELAY = f"{SESSION_DELAY_MINUTES} minutes"


def stateful_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = SESSION_GAP_SECONDS,
) -> DataFrame:
    """Custom stateful streaming sessionization via
    ``applyInPandasWithState`` — the engine's DEMONSTRATOR of an
    operator class the built-in surface can't express (per-key mutable
    state with custom close/emit logic; SURVEY §2.8 lists the
    reference as having none). NOT the default sessionization: for
    plain gap sessions use ``sessionize_stream`` (the JVM-native
    ``session_window`` plan below) — the decade A/B measured this
    Arrow-per-key-group path at 342 s vs 118 s native at 10M events,
    ~8× wall-clock growth per 10× events (SCALE.md "Streaming").
    Reach for this shape only when the semantics genuinely need custom
    state (per-key timeouts, non-gap close rules, emit-on-update).

    State per user = the open session (start, end, count) as epoch
    micros. Each micro-batch folds its events in timestamp order into
    the open session; sessions whose gap closes *within the observed
    data* are emitted as final rows, the trailing open session stays in
    state (and is emitted only when a later batch closes it — standard
    conservative semantics: nothing is emitted that could still change).

    Scale: state is O(users) fixed-size tuples in the state store, one
    shuffle on the user key per batch; the pandas hook processes one
    key-group at a time so driver memory is never involved.
    """
    import pandas as pd

    gap_us = gap_seconds * 1_000_000

    def fold(key, pdfs, state):
        (user,) = key
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = None, None, 0
        closed: list[tuple[int, int, int]] = []
        # Drain ALL Arrow chunks before sorting: a key group larger
        # than arrow.maxRecordsPerBatch arrives as several pdfs in
        # shuffle order, and sorting each chunk independently can
        # close a session mid-group before an earlier-timestamped
        # event in a later chunk arrives (wrongly-split sessions).
        # Memory is bounded by the group's events in THIS micro-batch
        # — and the JVM-native session_window path is the scale
        # default anyway (this operator is the custom-state demo).
        chunks = [pdf[ts_col] for pdf in pdfs]
        if chunks:
            for ts in pd.concat(chunks).sort_values():
                t = int(ts.value) // 1000  # pandas ns -> us
                if start is None:
                    start, end, n = t, t, 1
                elif t - end > gap_us:  # strict: session_window merges
                    # events exactly `gap` apart (window end inclusive)
                    closed.append((start, end, n))
                    start, end, n = t, t, 1
                else:
                    # min/max merge: an out-of-order event arriving in a
                    # later micro-batch (sorted only within its batch)
                    # must widen the open session, never shrink it.
                    start, end, n = min(start, t), max(end, t), n + 1
        state.update((start, end, n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select(F.col(user_col), F.col(ts_col))
        .groupBy(user_col)
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def native_sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = SESSION_GAP,
    delay: str = SESSION_DELAY,
) -> DataFrame:
    """JVM-native streaming sessionization: watermark + ``session_window``
    aggregation in append mode — the engine's DEFAULT streaming
    sessionization (aliased as ``sessionize_stream``; r8).

    Both compute identical gap sessions (``session_window`` merges events
    exactly ``gap`` apart, and so does the stateful fold). The difference
    is where the work happens: this plan keeps the per-session state rows
    in the JVM state store with watermark-driven eviction and never
    crosses into Python, while ``stateful_sessionize`` pays an Arrow
    round-trip per key-group per micro-batch. Measured same-session at
    10M events / 150k users (one availableNow batch, local[32], SCALE.md
    "Streaming"): native 118 s vs applyInPandasWithState 342 s. Keep the
    stateful variant for logic ``session_window`` can't express (custom
    close/emit rules, per-key timeouts); use this one when gap
    sessionization is the actual semantics.

    Append-mode emission: a session row is emitted once the watermark
    (max event time − ``delay``) passes the session's window end
    (last event + ``gap``). Callers that need a run-deterministic result
    from a finite source must post-filter to strictly-closed sessions —
    see ``plans.catalog.stream_sessionize_native`` — because boundary-
    equality emission is an engine implementation detail.

    ``session_end`` is reported as the LAST EVENT's timestamp
    (``window.end - gap``) to match batch ``operators.relational
    .sessionize`` and the reference-style oracle exactly.

    Replay/backfill caveat (measured, SCALE.md "Streaming"): the file
    stream source orders arrival by file MODIFICATION TIME, not name. A
    time-partitioned backfill written in parallel arrives time-shuffled
    and everything behind the advancing watermark is silently dropped
    as late (70% of sessions lost in the 10M-event A/B). Replays must
    arrive in event-time order — sequenced mtimes, or the ingest
    protocol's monotonic file numbering (``sources/ingest.py``) — or
    carry ``delay`` ≥ the disorder span. Incremental arrival is also
    the memory-correct shape: the advancing watermark evicts closed
    sessions per batch, bounding state by OPEN sessions (O(users)),
    where a single availableNow batch holds every session until the
    terminal flush.
    """
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("_w.start").alias("session_start"),
            (F.col("_w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
        )
    )


# The default streaming sessionization. Gap sessions are what
# session_window computes natively, in the JVM state store, with
# watermark-driven eviction — measured 2.9× the applyInPandasWithState
# demonstrator at 10M events and scaling ~linearly where the stateful
# path grew ~8× per decade (SCALE.md "Streaming").
sessionize_stream = native_sessionize_stream


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: left rows pair with right
    rows of the same key whose timestamp lies in (left_ts - within,
    left_ts]. The event-time bound + watermarks let Spark drop buffered
    state once no future match is possible — without them a
    stream-stream join buffers both streams forever.

    Run to completion (availableNow) the inner join equals the
    equivalent batch range join, which is how the oracle checks it.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"_r_{key}"))
        & (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) > F.col(left_ts) - F.expr(f"INTERVAL {within}"))
    )
    return l.join(
        r.withColumnRenamed(key, f"_r_{key}"), cond, "inner"
    ).drop(f"_r_{key}")


def stream_dedup(
    stream: DataFrame,
    subset: list[str],
    watermark_col: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each ``subset`` key
    wins. With a watermark column the per-key state is dropped once the
    watermark passes (bounded state); without one state grows with key
    cardinality (the reference's complete-mode tradeoff, documented)."""
    if watermark_col is not None:
        stream = stream.withWatermark(watermark_col, watermark)
        return stream.dropDuplicatesWithinWatermark(subset)
    return stream.dropDuplicates(subset)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window counts — the scalable replacement for
    the reference's unbounded complete-mode state (SURVEY §7.6).

    With a watermark, Spark drops per-window state once the watermark
    passes the window end; state is bounded by (windows in flight ×
    keys), not by the stream's lifetime. Works identically on batch
    DataFrames (the window function degrades to a group-by).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
        )
    )


def write_batch_idempotent(bdf: DataFrame, batch_id: int, out_dir: str) -> None:
    """Land one micro-batch at ``out_dir/batch_id=<id>`` with overwrite
    semantics. foreachBatch is at-least-once: a batch whose files landed
    before the checkpoint commit is replayed wholesale on restart — but
    a replay carries the SAME batch_id, so overwriting the per-batch
    directory replaces the partial/duplicate output instead of appending
    a second copy. That keys exactly-once on the batch id, the standard
    idempotent-file-sink recipe."""
    bdf.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")


def run_stream_transform_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> DataFrame:
    """foreachBatch file sink — the production shape for streaming
    pipelines that land files instead of memory/console. Each
    micro-batch (optionally run through ``transform``, an arbitrary
    BATCH DataFrame→DataFrame function — this is foreachBatch's whole
    point: inside the hook the micro-batch is a plain batch frame, so
    plans streaming cannot express statelessly, e.g. per-batch
    aggregating joins, run unchanged) overwrites its own ``batch_id=N``
    subdirectory (``write_batch_idempotent``), so checkpoint-replayed
    batches are exactly-once at the file level, not just
    at-least-once. Drains with availableNow and returns a batch
    DataFrame over the files written (the batch_id partition column is
    an implementation detail and is dropped). A drain that produced
    ZERO micro-batches (empty source dir, or every file already
    committed in the checkpoint from a prior run) never creates
    ``out_dir`` — that is a successful run with no new data, so an
    empty DataFrame with the result schema (the transform applied to
    an empty batch of the stream's schema — schema derivation only,
    nothing executes) is returned instead of letting the read fail.
    Detected by catching PATH_NOT_FOUND from the read itself, NOT a
    driver-local isdir probe: out_dir may be
    file://.../hdfs://.../s3a://... where a local os.path check is
    always False and would silently discard data that WAS just
    landed."""
    fn = transform if transform is not None else (lambda bdf: bdf)
    query = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: write_batch_idempotent(fn(bdf), bid, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    try:
        return spark.read.parquet(out_dir).drop("batch_id")
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc):
            empty = spark.createDataFrame([], stream_df.schema)
            return spark.createDataFrame([], fn(empty).schema)
        raise


def run_stream_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """``run_stream_transform_to_parquet`` with no per-batch transform
    (kept as the stable name for plain landing jobs)."""
    return run_stream_transform_to_parquet(
        spark, stream_df, out_dir, checkpoint_dir
    )


def stream_decontaminate_join(
    spark: SparkSession,
    stream_df: DataFrame,
    bench_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Streaming benchmark decontamination in JOIN mode (r9): run
    ``safety.decontaminate(strategy='join')`` over each micro-batch
    inside ``foreachBatch`` — the in-engine path for benchmark suites
    too large for the stateless array probe (``decontaminate``'s
    streaming branch raises past ``array_bench_limit`` and points
    here).

    Why foreachBatch: the join strategy ends in a per-document
    aggregation over the document's exploded n-grams, which append-mode
    streaming cannot express statelessly — but every document's
    n-grams are entirely WITHIN one micro-batch (documents don't span
    files), so running the batch operator per micro-batch computes the
    exact batch semantics incrementally. Cost per batch is
    batch_ngrams × O(1) broadcast-hash probes — the scale path — where
    the array probe pays batch_rows × |bench|.

    The benchmark is materialized ONCE (persist + count) before the
    stream starts, so per-batch plans re-hash only the cached benchmark
    rows instead of re-scanning its source every trigger; it is
    unpersisted after the drain (results are already on disk).
    Idempotence: each batch lands in its own overwritten ``batch_id=N``
    dir (``write_batch_idempotent``), so checkpoint replays are
    exactly-once at the file level. Returns the drained result as a
    batch DataFrame — (doc_id, n_ngrams, n_contaminated_ngrams,
    contaminated), equal to ``decontaminate(batch_corpus, bench,
    strategy='join')`` over the same files.
    """
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import decontaminate

    bench_static = bench_df.persist()
    bench_static.count()
    try:
        return run_stream_transform_to_parquet(
            spark,
            stream_df,
            out_dir,
            checkpoint_dir,
            transform=lambda bdf: decontaminate(
                bdf,
                bench_static,
                text_col=text_col,
                id_col=id_col,
                n=n,
                strategy="join",
            ),
        )
    finally:
        bench_static.unpersist()


_STORE_LAYOUT_FILE = "_layout.json"
# v2: payload rows carry the verify columns the probe needs (signbucket
# stores land _n; banded stores land id-bucketed _pbkt dirs)
_STORE_LAYOUT_VERSION = 2


def _marker_io(spark: SparkSession, store_dir: str):
    """(fs, marker Path, Path ctor) for the store's layout marker —
    through the Hadoop FileSystem, NOT driver-local os/open: a
    local-only check silently never engages on HDFS/object stores,
    turning the fail-fast layout gate into a no-op exactly where
    stores are big enough for a silent mis-probe to matter."""
    fs, _ = _hadoop_fs(spark, store_dir)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return fs, jpath(f"{store_dir.rstrip('/')}/{_STORE_LAYOUT_FILE}"), jpath


def write_store_layout_marker(
    spark: SparkSession,
    store_dir: str,
    kind: str,
    store_buckets: int | None,
    max_batch_id: int | None = None,
) -> None:
    """Persist the accumulating dedup/index store's layout contract as
    ``<store_dir>/_layout.json`` (underscore-prefixed, so Spark's file
    index never reads it as data). The layout (``kind`` and
    ``store_buckets``) is a STORE-LIFETIME choice: resuming a store
    with another bucket count or layout silently hides history from
    the probe and emits wrong keeper sets, so the drives refuse to
    start on a mismatch (same fail-fast posture as ``get_spark``
    rejecting a typo'd ``state_store``). Call this yourself when
    seeding a store from batch-built ``build_minhash_store`` /
    ``build_signbucket_store`` output. Marker IO goes through the
    Hadoop FileSystem, so the gate engages on any store FS Spark can
    reach.

    ``max_batch_id`` records the highest streaming batch id ever
    landed in the store; the drives keep it current per trigger and
    REFUSE to resume a store whose marker records landed batches when
    the drive's checkpoint is fresh (no offsets): a recreated
    checkpoint restarts batch ids at 0, and a later roll's dynamic
    overwrite would silently replace surviving history leaves with
    colliding ids (consolidation names merged leaves ``min(ids)-1``,
    so MERGED history never collides — only unconsolidated leaves and
    recent tails do). Batch-seeded stores leave it None (no landed
    batches → fresh checkpoints are fine).

    The marker is rewritten tmp-then-rename, never truncated in place:
    it changes once per trigger, and a crash mid-write must not leave
    every later drive unreadable."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    fs.mkdirs(marker.getParent())
    payload = {
        "layout_version": _STORE_LAYOUT_VERSION,
        "kind": kind,
        "store_buckets": store_buckets,
    }
    if max_batch_id is not None:
        payload["max_batch_id"] = max_batch_id
    _write_small_json_atomic(fs, jpath, marker, payload)


def _write_small_json_atomic(fs, jpath, target, payload: dict) -> None:
    """tmp-then-rename landing for tiny JSON control files (layout
    marker, drift signal): the tmp write is all-or-nothing at the
    target path, and the delete→rename window leaves a COMPLETE tmp
    the marker reader rolls forward."""
    tmp = jpath(str(target) + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()
    if fs.exists(target):
        fs.delete(target, False)
    fs.rename(tmp, target)


def _record_max_batch_id(spark: SparkSession, store_dir: str, bid: int) -> None:
    """Advance the marker's ``max_batch_id`` watermark after a batch
    lands (driver-side, one tiny atomic JSON rewrite per trigger —
    monotone, never lowered by a checkpoint replay of an earlier
    batch)."""
    got = _read_store_layout_marker(spark, store_dir)
    if got is None:
        raise ValueError(
            f"dedup store at {store_dir} lost its _layout.json marker "
            "mid-drive — write_store_layout_marker() it back with the "
            "drive's layout before resuming."
        )
    if int(got.get("max_batch_id", -1)) < bid:
        write_store_layout_marker(
            spark, store_dir, got["kind"], got["store_buckets"], bid
        )


def _checkpoint_is_fresh(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True iff the Structured Streaming checkpoint has never started a
    batch (missing dir, or an empty/missing ``offsets/``) — through
    the Hadoop FS, same FS-agnostic posture as ``_marker_io``.

    ``offsets/``, deliberately NOT ``commits/``: a drive that crashed
    after its first batch's work landed (and after the marker's
    watermark advanced) but BEFORE the commit file has offsets/0 and
    an empty commits/ — resuming THAT checkpoint replays the same
    batch id idempotently and is exactly the safe path; gating on
    commits/ would brick the legitimate resume the gate's own error
    message recommends. Only a checkpoint with no offsets at all
    restarts batch ids at 0 against a store that already has them."""
    fs, _ = _hadoop_fs(spark, checkpoint_dir)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    offsets = jpath(f"{checkpoint_dir.rstrip('/')}/offsets")
    if not fs.exists(offsets):
        return True
    return not any(
        not s.getPath().getName().startswith(".")
        for s in fs.listStatus(offsets)
    )


def _read_store_layout_marker(
    spark: SparkSession, store_dir: str
) -> dict | None:
    """Read the store's layout marker, repairing the atomic-write
    protocol's crash windows: a COMPLETE ``.tmp`` left by a crash
    between delete and rename (or beside a corrupted marker) is rolled
    forward to the marker path. Returns None when neither file exists;
    raises with rebuild guidance when what exists cannot be decoded."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    tmp = jpath(str(marker) + ".tmp")

    def _read(path) -> dict:
        st = fs.open(path)
        try:
            buf, b = [], st.read()
            while b != -1:  # ~80 bytes; byte-wise py4j read is fine
                buf.append(b)
                b = st.read()
        finally:
            st.close()
        return json.loads(bytes(buf).decode())

    marker_exists = fs.exists(marker)
    if marker_exists:
        try:
            return _read(marker)
        except ValueError:
            pass  # truncated/corrupt — try the tmp roll-forward below
    if fs.exists(tmp):
        try:
            got = _read(tmp)
        except ValueError:
            got = None
        if got is not None:
            if marker_exists:
                fs.delete(marker, False)
            fs.rename(tmp, marker)
            return got
        fs.delete(tmp, False)  # incomplete tmp: the marker is truth
    if marker_exists:
        raise ValueError(
            f"dedup store at {store_dir} has an undecodable "
            f"{_STORE_LAYOUT_FILE} and no complete recovery tmp — "
            "rebuild the store, or write_store_layout_marker() if you "
            "know its layout."
        )
    return None


def _enforce_store_layout(
    spark: SparkSession,
    store_dir: str,
    kind: str,
    store_buckets: int | None,
    checkpoint_dir: str,
) -> None:
    """Drive-start layout gate: first use writes the marker; every
    later drive (or resume) must present the SAME kind and bucket
    count, and a non-empty store without a marker is refused (its
    layout cannot be verified — rebuild it, or
    ``write_store_layout_marker`` if you know it; pre-v2 stores also
    predate the stored verify columns, so a rebuild is the correct
    migration).

    Also refuses the fresh-checkpoint / landed-store combination: a
    recreated checkpoint restarts batch ids at 0, so its landings can
    silently dynamic-overwrite surviving history leaves with colliding
    ids. Markers without ``max_batch_id`` (batch-seeded, or written
    before the watermark existed) pass ungated."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    expected = {
        "layout_version": _STORE_LAYOUT_VERSION,
        "kind": kind,
        "store_buckets": store_buckets,
    }
    got = _read_store_layout_marker(spark, store_dir)
    if got is not None:
        if {k: got.get(k) for k in expected} != expected:
            raise ValueError(
                f"dedup store layout mismatch at {store_dir}: the store "
                f"was written with {got}, this drive requests {expected}. "
                "The layout (bucketing and bucket count) is a "
                "store-lifetime contract — rebuild the store to change it."
            )
        if int(got.get("max_batch_id", -1)) >= 0 and _checkpoint_is_fresh(
            spark, checkpoint_dir
        ):
            raise ValueError(
                f"dedup store at {store_dir} has landed streaming batches "
                f"(max_batch_id={got['max_batch_id']}) but this drive's "
                f"checkpoint {checkpoint_dir} has never started a batch: "
                "a fresh checkpoint restarts batch ids at 0 and would "
                "silently overwrite surviving history leaves with "
                "colliding ids. Resume with the original checkpoint, or "
                "rebuild the store alongside the new checkpoint."
            )
        return

    def _nonempty(path: str) -> bool:
        p = jpath(path)
        if not fs.exists(p):
            return False
        return any(
            # the marker family (_layout.json and its atomic-write tmp)
            # is metadata, not store content
            not s.getPath().getName().startswith(_STORE_LAYOUT_FILE)
            for s in fs.listStatus(p)
        )

    siblings = [
        store_dir.rstrip("/") + sfx
        for sfx in ("_recent", "_bands", "_bands_recent")
    ]
    if _nonempty(store_dir) or any(_nonempty(s) for s in siblings):
        raise ValueError(
            f"dedup store at {store_dir} has no _layout.json marker: "
            "its layout cannot be verified against this drive's "
            f"(kind={kind!r}, store_buckets={store_buckets!r}). "
            "Rebuild the store, or write_store_layout_marker() if you "
            "know its layout matches (pre-v2 stores lack the stored "
            "verify columns and should be rebuilt)."
        )
    write_store_layout_marker(spark, store_dir, kind, store_buckets)


def _read_committed_recent(
    spark: SparkSession, root: str, bid: int
) -> DataFrame | None:
    """Direct-path read of a two-tier store's COMMITTED recent batch
    dirs (``<root>/batch_id=K`` for K < ``bid``). The in-flight batch's
    rows come from the drive's persisted in-memory frame instead of
    being read back from the files the trigger is writing, which
    (a) lets the landings overlap the probe, and (b) keeps the read
    immune to a concurrent landing's in-flight commit: only dirs whose
    batches are checkpoint-committed enter the file index (one
    listStatus, no per-dir existence RPCs). Returns None when no
    committed dir exists yet (first trigger, or a fully-rolled tail)."""
    root = root.rstrip("/")
    fs, hroot = _hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return None
    dirs = [
        f"{root}/{s.getPath().getName()}"
        for s in fs.listStatus(hroot)
        if s.isDirectory()
        and s.getPath().getName().startswith("batch_id=")
        and int(s.getPath().getName().split("=", 1)[1]) < bid
    ]
    if not dirs:
        return None
    return spark.read.option("basePath", root).parquet(*dirs)


def _run_two_tier_maintenance(
    spark: SparkSession,
    roots: list[tuple[str, str, bool]],
    bid: int,
    min_batch_dirs: int,
    defer_reap: bool = False,
) -> list[str]:
    """One in-drive maintenance cycle, fired after batch ``bid``'s work
    lands: for each (root, bucket_col, wide) store root, roll the
    COMMITTED recent tail (strictly below the in-flight ``bid`` —
    those batches' checkpoint commits landed before this batch ran, so
    rolling them adds no crash window; the in-flight batch stays in
    the tail, which also keeps the tail non-empty for the next probe's
    read), then threshold-gated consolidation:
    ``consolidate_bucket_history`` early-returns unless some bucket
    accumulated ``min_batch_dirs`` batch dirs, so the merge rewrite
    fires only every ~``min_batch_dirs / roll_cadence`` cycles (the
    single-level LSM amortization). ``wide`` stores (shingle/vector
    payload arrays) roll and consolidate with ``shuffle=False`` — the
    wide-row exchange was measured spilling past local scratch at the
    20M-doc decade (SCALE.md).

    ``defer_reap=True``: the cycle only ADDS files — the rolled recent
    dirs, the merged buckets' old dirs and the consolidation PENDING
    marker are NOT deleted; their paths are RETURNED for the caller to
    pass to ``_reap_deferred`` at a read-quiesced point. The interim
    double-presence is exactly the two ops' documented crash windows,
    which every probe tolerates by construction — this is what lets
    the cycle run on a background thread UNDER live probes without a
    delete ever racing a probe's pinned file index. Returns [] when
    not deferring."""

    def _maintain_one(root: str, bucket_col: str, wide: bool) -> list[str]:
        reap = roll_recent_into_store(
            spark,
            root,
            bucket_col,
            before_batch_id=bid,
            shuffle=not wide,
            defer_reap=defer_reap,
        ).get("deferred_reap", [])
        fs, hroot = _hadoop_fs(spark, root)
        if fs.exists(hroot):
            reap += consolidate_bucket_history(
                spark,
                root,
                min_batch_dirs=min_batch_dirs,
                shuffle=not wide,
                defer_reap=defer_reap,
            ).get("deferred_reap", [])
        return reap

    if len(roots) == 1:
        return _maintain_one(*roots[0])
    # The roots (band store + payload store) are DISJOINT directory
    # trees whose roll/consolidate jobs share no state — submit them
    # from a small thread pool so the second root's jobs back-fill the
    # executor slots the first root's tail leaves idle. Within a root
    # the order stays roll → consolidate (consolidate merges the dirs
    # roll just landed). Exceptions propagate via future.result().
    reap: list[str] = []
    with ThreadPoolExecutor(max_workers=len(roots)) as pool:
        futures = [pool.submit(_maintain_one, *r) for r in roots]
        for f in futures:
            reap += f.result()
    return reap


class _MaintenanceScheduler:
    """Serialized background in-drive maintenance: at most ONE cycle in
    flight, run on a single worker thread so later triggers' jobs
    back-fill the executor slots the cycle's tail leaves idle.
    ``cycle(bid)`` is the drive's maintenance callable and returns a
    deferred-deletion list (possibly empty); deletions are reaped at
    read-quiesced points only — the next foreachBatch entry
    (``on_trigger_entry``, before any probe plan is built), the next
    ``fire`` (which also serializes cycles), or ``drain``. A failed
    cycle surfaces at the next of those points, within the ops'
    documented crash contract (an interrupted cycle is always legal
    and convergent: the next roll re-rolls everything committed, the
    consolidation PENDING marker recovers)."""

    def __init__(self, spark: SparkSession, cycle):
        self._spark = spark
        self._cycle = cycle
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._pending = None

    def _join_and_reap(self) -> None:
        f, self._pending = self._pending, None
        _reap_deferred(self._spark, f.result())

    def on_trigger_entry(self) -> None:
        if self._pending is not None and self._pending.done():
            self._join_and_reap()

    def fire(self, bid: int) -> None:
        if self._pending is not None:
            self._join_and_reap()
        self._pending = self._pool.submit(self._cycle, bid)

    def drain(self) -> None:
        try:
            if self._pending is not None:
                self._join_and_reap()
        finally:
            self._pool.shutdown(wait=True)


def _reap_deferred(spark: SparkSession, paths: list[str]) -> None:
    """Delete the paths a ``defer_reap`` maintenance cycle returned.
    Call ONLY from a point where no concurrent reader can hold them in
    a pinned file index: between triggers (foreachBatch entry, before
    any probe plan is built) or after the drive drains. Each path is
    resolved against its own filesystem (a cycle may span stores on
    different schemes). Order is preserved — data dirs first, the
    consolidation PENDING marker last, keeping the marker ⇒
    possible-duplication invariant."""
    for p in paths:
        fs, hpath = _hadoop_fs(spark, p)
        fs.delete(hpath, True)


def _run_store_drive(
    spark: SparkSession,
    stream_df: DataFrame,
    checkpoint_dir: str,
    store_dir: str,
    kind: str,
    store_buckets: int | None,
    land,
    maintain_every: int | None,
    cycle,
    read,
    empty_schema,
) -> DataFrame:
    """The drive protocol every accumulating-store drive shares, with
    the per-batch work passed in (the grouped-map shape: one skeleton,
    a per-batch function):

    - the layout gate (``_enforce_store_layout``) before the query
      starts;
    - per trigger: reap a finished maintenance cycle, ``land(bdf,
      bid)``, then advance the marker's ``max_batch_id`` watermark —
      AFTER the batch's work lands, so a crash in between leaves it one
      batch low, which only makes the fresh-checkpoint gate
      conservative;
    - every ``maintain_every``-th trigger of this drive, ``cycle(bid)``
      on the ``_MaintenanceScheduler`` (the cadence counter is
      per-drive, not checkpointed state);
    - an availableNow start, await, and scheduler drain, so the result
      read sees a quiesced store;
    - ``read()`` of the result. A drain that landed nothing (empty
      source, or everything already committed) may have no readable
      result: ``read()`` returning None or a missing/uninferable path
      yields an empty frame of ``empty_schema()`` instead."""
    _enforce_store_layout(spark, store_dir, kind, store_buckets, checkpoint_dir)
    sched = None if maintain_every is None else _MaintenanceScheduler(spark, cycle)
    n_landed = [0]

    def _on_batch(bdf: DataFrame, bid: int) -> None:
        if sched is not None:
            sched.on_trigger_entry()
        land(bdf, bid)
        _record_max_batch_id(spark, store_dir, bid)
        if sched is not None:
            n_landed[0] += 1
            if n_landed[0] % maintain_every == 0:
                sched.fire(bid)

    query = (
        stream_df.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if sched is not None:
            sched.drain()
    try:
        got = read()
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and (
            "UNABLE_TO_INFER_SCHEMA" not in str(exc)
        ):
            raise
        got = None
    return spark.createDataFrame([], empty_schema()) if got is None else got


def _stream_banded_dedup(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    kind: str,
    id_col: str,
    store_buckets: int,
    max_bucket: int | None,
    maintain_every: int | None,
    consolidate_min_batch_dirs: int,
    build_state,
    band_rows,
    keys: list[str],
    dropped_ids,
) -> DataFrame:
    """The banded two-tier near-dedup drive behind
    ``stream_near_dedup_minhash`` / ``stream_near_dedup_embedding``
    (contract in the former's docstring). Per-kind pieces:
    ``build_state(bdf)`` is the per-batch store increment (id, payload
    and signature/code columns); ``band_rows(state)`` yields its
    (id, *keys) LSH band rows, where rows sharing all ``keys`` are
    candidates; ``dropped_ids(cand, payload)`` verifies candidate
    (id_a, id_b) pairs against the payload rows of both ids and returns
    the distinct dropped ids as ``id_col``."""
    if store_buckets is None or store_buckets < 1:
        raise ValueError(
            f"store_buckets={store_buckets!r}: the flat (unbucketed) "
            "store layout was removed — pass store_buckets >= 1 (the "
            "catalog drives use 32). A store written flat cannot be "
            "resumed; rebuild it with a bucket count."
        )
    root = store_dir.rstrip("/")
    bands_dir = root + "_bands"

    def _bucket(*cols) -> Column:
        return F.pmod(F.xxhash64(*cols), F.lit(store_buckets))

    def _read_touched(
        hist: str, col: str, touched: list, cur: DataFrame, bid: int
    ) -> DataFrame:
        # history subtrees of the touched buckets ∪ committed recent
        # dirs ∪ the in-flight batch's persisted rows, as of ``bid``
        committed = _read_committed_recent(spark, hist + "_recent", bid)
        cur = cur.withColumn("batch_id", F.lit(bid))
        recent = cur if committed is None else committed.unionByName(cur)
        return union_partition_tiers(
            read_partition_subtrees(spark, hist, col, touched),
            recent.filter(F.col(col).isin(touched)),
            col,
        ).filter(F.col("batch_id") <= F.lit(bid))

    def _dedup_batch(bdf: DataFrame, bid: int) -> None:
        state = build_state(bdf).persist()
        state_p = state.withColumn("_pbkt", _bucket(F.col(id_col)))
        bc = band_rows(state).withColumn("_bkt", _bucket(*keys)).persist()
        cand = seen_cached = None
        # The landings write dirs nothing in this trigger reads back
        # (the probe takes the current batch from the persisted frames),
        # so they overlap the probe on background threads and are
        # joined before the batch returns: a landing failure must fail
        # the batch so the checkpoint never commits a half-landed
        # trigger.
        pool = ThreadPoolExecutor(max_workers=2)
        landings = [
            pool.submit(write_batch_idempotent, state_p, bid, root + "_recent"),
            pool.submit(write_batch_idempotent, bc, bid, bands_dir + "_recent"),
        ]
        try:
            bkts = [r[0] for r in bc.select("_bkt").distinct().collect()]
            if not bkts:
                # zero-row micro-batch: nothing landed, nothing to dedup
                write_batch_idempotent(bdf, bid, out_dir)
                return
            bands_seen = _read_touched(bands_dir, "_bkt", bkts, bc, bid)
            probe = bc
            if max_bucket is not None:
                # Corpus-global hot-band guard: every row of a band
                # group hashes to the same _bkt, so the touched-subtree
                # read holds each probed group's full occupancy.
                # Persisted so the occupancy agg and the candidate join
                # share one read of the touched subtrees. countDistinct,
                # not count: the crash windows legally duplicate rows
                # across tiers, and store rows are unique per (id, band).
                bands_seen = seen_cached = bands_seen.persist()
                hot = (
                    bands_seen.join(
                        F.broadcast(bc.select(*keys).distinct()), keys
                    )
                    .groupBy(*keys)
                    .agg(F.countDistinct(F.col(id_col)).alias("_bc"))
                    .filter(F.col("_bc") > max_bucket)
                    .select(*keys)
                )
                probe = bc.join(F.broadcast(hot), keys, "left_anti")
            on = [F.col("a._bkt") == F.col("b._bkt")]
            on += [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            cand = (
                bands_seen.alias("a")
                .join(F.broadcast(probe).alias("b"), reduce(and_, on))
                .select(
                    F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                )
                .distinct()
                .persist()
            )
            # verify reads only the candidates' payload buckets; cand is
            # persisted so this collect and the verify join share one
            # execution of the band probe
            pbkts = [
                r[0]
                for r in cand.select(
                    F.explode(F.array("id_a", "id_b")).alias("_i")
                )
                .select(_bucket("_i").alias("_pbkt"))
                .distinct()
                .collect()
            ]
            keep = bdf
            if pbkts:
                payload = _read_touched(root, "_pbkt", pbkts, state_p, bid)
                keep = bdf.join(dropped_ids(cand, payload), id_col, "left_anti")
            write_batch_idempotent(keep, bid, out_dir)
        finally:
            # join EVERY landing before re-raising: their writes read
            # the persisted frames unpersisted below
            errs = []
            for f in landings:
                try:
                    f.result()
                except BaseException as e:  # noqa: BLE001 — re-raised
                    errs.append(e)
            pool.shutdown()
            for df in (state, bc, cand, seen_cached):
                if df is not None:
                    df.unpersist()
            if errs:
                raise errs[0]

    return _run_store_drive(
        spark,
        stream_df,
        checkpoint_dir,
        store_dir,
        kind,
        store_buckets,
        _dedup_batch,
        maintain_every,
        lambda bid: _run_two_tier_maintenance(
            spark,
            [(bands_dir, "_bkt", False), (store_dir, "_pbkt", True)],
            bid,
            consolidate_min_batch_dirs,
            defer_reap=True,
        ),
        lambda: spark.read.parquet(out_dir).drop("batch_id"),
        lambda: stream_df.schema,
    )


def stream_near_dedup_minhash(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
    store_buckets: int | None = None,
    max_bucket: int | None = None,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
) -> DataFrame:
    """Incremental near-dup deduplication of a document stream against
    an accumulating MinHash signature store — the ingestion-time twin
    of ``dedup.near_dup_pairs``. Each micro-batch is deduplicated
    against EVERYTHING seen so far without recomputing the history:
    its shingle arrays and MinHash signatures are computed once
    (``build_minhash_store``), landed in the store, and its LSH bands
    are probed against the bands of the whole store.

    Drop rule: a document is DROPPED iff some already-seen or
    smaller-id same-batch document collides in an LSH band AND exact
    shingle Jaccard (``dedup.verify_pairs_jaccard``) meets
    ``threshold``; survivors land in ``out_dir/batch_id=N``
    (``write_batch_idempotent``). Dropped documents STAY in the store —
    "has a smaller qualifying partner, whatever that partner's own
    fate" is batch-boundary-free, so under event-order = id-order
    arrival (the staged-replay contract, as ``native_sessionize_stream``)
    the drained keeper set equals ``corpus MINUS {id_b of
    near_dup_pairs(corpus)}`` at the same parameters — the DuckDB
    oracle. Out-of-order arrival degrades gracefully to "dedup against
    all prior arrivals + smaller in-batch ids".

    Store layout (``store_buckets`` ≥ 1, required): two-tier and
    bucket-major. Band rows are keyed ``_bkt = pmod(xxhash64(band,
    sig), store_buckets)`` under ``<store_dir>_bands``; signature and
    shingle rows are keyed ``_pbkt = pmod(xxhash64(id),
    store_buckets)`` under ``store_dir``. Each trigger lands batch-major
    in the ``_recent`` tails (one cheap overwritten ``batch_id=N`` dir
    per root, so replays are idempotent); maintenance
    (``sources.writers.roll_recent_into_store`` then
    ``consolidate_bucket_history``) moves committed tails into
    ``<bucket>=K/batch_id=N`` history. The probe reads by direct path
    only the history subtrees of the buckets the batch touches plus
    the recent tail, and the verify reads only the candidate ids'
    payload buckets — per-trigger cost tracks the touched buckets, not
    the history (size ``store_buckets`` ≈ 5–10× the per-trigger
    band-row count; SCALE.md has the measurements). The layout is a
    STORE-LIFETIME contract: ``<store_dir>/_layout.json`` (kind
    ``minhash``) is written on first use and the drive REFUSES a
    mismatched bucket count, an unmarked non-empty store, or a fresh
    checkpoint against a store with landed batches.

    Crash windows: landings are per-batch overwrites (a replay rewrites
    its own dirs); an interrupted roll or consolidation leaves rows in
    both tiers, which the probe tolerates (DISTINCT candidate and drop
    sets, countDistinct occupancy, pair-aggregated verify) and the next
    cycle converges. ``maintain_every=N`` runs one maintenance cycle
    in-drive after every Nth trigger, on a background thread with
    deletes deferred to between triggers; it rolls only
    checkpoint-committed batches (ids below the in-flight one), and
    consolidation fires once some bucket holds
    ``consolidate_min_batch_dirs`` batch dirs.

    ``max_bucket`` is the hot-band backstop of
    ``dedup.near_dup_pairs(max_bucket=...)``: (band, sig) groups whose
    occupancy exceeds it produce NO candidates. The occupancy is
    corpus-global AS OF EACH TRIGGER (history ∪ recent ∪ current). The
    one caveat is inherent to any online guard: a group that crosses
    the cap mid-stream produced drops while it was small (each the
    batch rule applied to that trigger's prefix corpus) and stops
    producing new ones after; where no group crosses the cap
    mid-stream the drained keeper set equals the batch operator's at
    the same ``max_bucket``.

    Returns the drained keeper rows (original stream columns) as a
    batch DataFrame over ``out_dir``."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        build_minhash_store,
        signature_bands,
        verify_pairs_jaccard,
    )

    hcols = [f"h{i}" for i in range(num_hashes)]
    return _stream_banded_dedup(
        spark,
        stream_df,
        out_dir,
        checkpoint_dir,
        store_dir,
        "minhash",
        id_col,
        store_buckets,
        max_bucket,
        maintain_every,
        consolidate_min_batch_dirs,
        build_state=lambda bdf: build_minhash_store(
            bdf, text_col, id_col, k, num_hashes, unit
        ),
        band_rows=lambda state: signature_bands(
            state.select(id_col, *hcols), id_col, num_hashes, band_size
        ),
        keys=["band", "sig"],
        dropped_ids=lambda cand, payload: verify_pairs_jaccard(
            cand, payload.select(id_col, "shingles"), id_col, threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct(),
    )


def stream_near_dedup_embedding(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 2,
    threshold: float = 0.4,
    store_buckets: int | None = None,
    max_bucket: int | None = None,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
) -> DataFrame:
    """Incremental SEMANTIC near-dup deduplication of an embedding
    stream against an accumulating sign-LSH bucket store — the
    ingestion-time twin of ``similarity.embedding_near_dup_pairs``, on
    the same drive as ``stream_near_dedup_minhash`` (same store layout,
    crash windows, maintenance and ``max_bucket`` contracts; layout
    kind ``signbucket``). Per micro-batch, vectors and their per-table
    coordinate-sign bucket codes are computed once
    (``build_signbucket_store``, which also lands the self-norm ``_n``);
    the band rows are (table ``_t``, bucket ``_b``), and candidates are
    verified by exact cosine against the stored vectors and norms. A
    vector is DROPPED iff some smaller-id already-seen or same-batch
    vector shares a bucket in any table at cosine ≥ ``threshold``, so
    under ordered arrival the drained keeper set equals the batch
    operator's keeper rule exactly.

    ``bits``/``tables`` are static for the store's lifetime (no
    auto-bits): a per-batch corpus-sized ``bits`` would re-key history
    and silently miss cross-batch pairs. Size them for the corpus the
    store will GROW INTO (the ``auto_sign_bits`` rule at expected n),
    and rebuild the store to re-bucket. ``max_bucket`` applies the
    ``embedding_near_dup_pairs(max_bucket=...)`` rule to (table,
    bucket) groups, corpus-global as of each trigger.

    Returns the drained keeper rows (original stream columns) over
    ``out_dir``."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import explode_nonempty
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        build_signbucket_store,
        cosine_with_norms,
    )

    def _bands(state: DataFrame) -> DataFrame:
        structs = F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                for t in range(tables)
            ]
        )
        return state.select(
            F.col(id_col), explode_nonempty(structs).alias("_tb")
        ).select(id_col, F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))

    def _cosine_dropped(cand: DataFrame, payload: DataFrame) -> DataFrame:
        def side(s: str) -> DataFrame:
            return payload.select(
                F.col(id_col).alias(f"id_{s}"),
                F.col("_v").alias(f"_v{s}"),
                F.col("_n").alias(f"_n{s}"),
            )

        return (
            cand.join(side("a"), "id_a")
            .join(side("b"), "id_b")
            .filter(
                cosine_with_norms("_va", "_vb", F.col("_na"), F.col("_nb"))
                >= threshold
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )

    bcols = [f"b{t}" for t in range(tables)]
    return _stream_banded_dedup(
        spark,
        stream_df,
        out_dir,
        checkpoint_dir,
        store_dir,
        "signbucket",
        id_col,
        store_buckets,
        max_bucket,
        maintain_every,
        consolidate_min_batch_dirs,
        build_state=lambda bdf: build_signbucket_store(
            bdf, id_col, vec_col, bits, tables
        ),
        band_rows=lambda state: _bands(state.select(id_col, *bcols)),
        keys=["_t", "_b"],
        dropped_ids=_cosine_dropped,
    )


def stream_ivf_index_append(
    spark: SparkSession,
    stream_df: DataFrame,
    centroids_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replication: int = 2,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
    drift_signal: bool = True,
) -> DataFrame:
    """Maintain a persisted IVF index under streaming arrival — the ANN
    member of the continuous-curation contract. The centroid set is
    FIXED (read once from ``centroids_dir``, written by
    ``similarity.build_ivf_index`` over the seed corpus — the static
    quantizer, same contract as the dedup stores' static ``bits``), and
    each micro-batch assigns its vectors to those centroids via the
    SAME replicated flat assignment the batch builder uses
    (``similarity._flat_replicated_assign`` — shared code, cannot
    drift), landing vector-carrying posting rows (``neighbor_id, cv,
    _cn, _list``). The accumulated postings are exactly
    ``build_ivf_index``'s posting relation for the total corpus against
    the seed centroids, so a vector is searchable one trigger after it
    arrives, with no index rebuild. Re-centering (new centroids for a
    drifted corpus) is an explicit offline rebuild.

    Layout: the two-tier list-major ``write_ivf_index`` shape (marker
    kind ``ivf_postings_list_major``, a store-lifetime contract with the
    dedup stores' ``_layout.json`` gates). Each batch lands batch-major
    in ``<postings_dir>_recent/batch_id=N`` (one cheap overwritten dir
    per trigger); ``cosine_knn_ivf_probe_dir`` probes history ∪ recent;
    maintenance (``roll_recent_into_store(postings_dir, "_list")`` +
    ``consolidate_bucket_history``) moves committed batches into
    ``_list=K/batch_id=N`` history, run between drives or in-drive
    every ``maintain_every`` triggers (committed batches only,
    consolidation gated on ``consolidate_min_batch_dirs``). The cycle
    runs on a background thread and deletes immediately, so its drift
    read sees each posting once; that races nothing, because no trigger
    of this drive reads the store and the drift read pins its file
    index to batches ≤ the fire's batch id.

    With ``drift_signal`` each in-drive maintenance cycle also lands
    the re-centering drift signal beside the index:
    ``similarity.ivf_drift_summary`` over the accumulated postings
    (occupancy skew, mean assignment cosine, empty-list share), stamped
    ``as_of_batch_id`` and written atomically to
    ``<postings_dir>/_drift.json`` (underscore-hidden from Spark's file
    index) — one aggregate scan per cycle, the same O(store) class as
    the consolidation it rides along with.

    Returns the accumulated postings (batch_id dropped)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _as_double,
        _dot_d,
        _flat_replicated_assign,
        ivf_drift_summary,
        ivf_index_drift_stats,
    )

    recent_dir = postings_dir.rstrip("/") + "_recent"
    c = spark.read.parquet(centroids_dir)
    # broadcast-sized by contract; counted once for the drift rollup
    n_lists = c.count() if (maintain_every is not None and drift_signal) else 0

    def _postings(bdf: DataFrame) -> DataFrame:
        # same posting shape as build_ivf_index incl. the stored
        # self-norm (_cn): probe- and schema-identical to the batch index
        e0 = bdf.select(
            F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
        )
        assign = _flat_replicated_assign(e0, c, replication)
        return (
            bdf.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("cv"),
            )
            .withColumn("_cn", _dot_d(F.col("cv"), F.col("cv"), None))
            .join(assign.withColumnRenamed("_id", "neighbor_id"), "neighbor_id")
        )

    def _maintain(bid: int) -> list:
        _run_two_tier_maintenance(
            spark,
            [(postings_dir, "_list", False)],
            bid,
            consolidate_min_batch_dirs,
        )
        if drift_signal:
            s = ivf_drift_summary(
                ivf_index_drift_stats(
                    spark, centroids_dir, postings_dir, as_of_batch_id=bid
                ),
                n_lists,
            )
            s["as_of_batch_id"] = bid
            fs, _, jpath = _marker_io(spark, postings_dir)
            target = jpath(f"{postings_dir.rstrip('/')}/_drift.json")
            _write_small_json_atomic(fs, jpath, target, s)
        return []  # nothing deferred (deletes ran inline above)

    def _tier(root: str, prefix: str) -> DataFrame | None:
        # a rolled tail is an EMPTY dir, and a fresh store holds only
        # the marker: read a tier only when it has data dirs
        fs, hroot = _hadoop_fs(spark, root)
        if fs.exists(hroot) and any(
            s.isDirectory() and s.getPath().getName().startswith(prefix)
            for s in fs.listStatus(hroot)
        ):
            return spark.read.parquet(root)
        return None

    def _read() -> DataFrame | None:
        main = _tier(postings_dir, "_list=")
        recent = _tier(recent_dir, "batch_id=")
        if recent is not None:
            return union_partition_tiers(main, recent, "_list").drop("batch_id")
        if main is not None:
            return main.withColumn("_list", F.col("_list").cast("long")).drop(
                "batch_id"
            )
        return None

    return _run_store_drive(
        spark,
        stream_df,
        checkpoint_dir,
        postings_dir,
        "ivf_postings_list_major",
        None,
        lambda bdf, bid: write_batch_idempotent(_postings(bdf), bid, recent_dir),
        maintain_every,
        _maintain,
        _read,
        lambda: _postings(spark.createDataFrame([], stream_df.schema)).schema,
    )
