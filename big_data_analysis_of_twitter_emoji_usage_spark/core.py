"""Session factory and engine-wide configuration.

The reference builds a bare ``local[4]`` session per module
(q1/src/main/scala/com/revature/questionone/Runner.scala:27-31) and relies
on Spark defaults everywhere. The new engine centralizes session
construction and sets the handful of configs that matter at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to the environment, not the 200 default;
- Arrow transfer on for the (rare) Pandas-UDF paths;
- UTC session timezone so results compare bit-for-bit against external
  oracles (DuckDB timestamps are UTC-naive);
- case-insensitive resolution left at its default — the reference depends
  on ``count``/``Count`` resolving to the same column (q1:111-112).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def explode_nonempty(col):
    """``explode`` for an array that is PROVABLY non-empty at every row
    (a literal struct array, or guarded by an upstream size filter).

    Implemented as ``explode_outer``, which is bit-identical to
    ``explode`` on non-empty input but — crucially — is skipped by
    Catalyst's ``InferFiltersFromGenerate`` rule. For inner explode that
    rule infers ``size(arr) > 0 AND isnotnull(arr)`` and pushes it into
    a Filter BELOW the Generate; when ``arr`` is an expensive computed
    expression (an md5 n-gram ``transform``, a multi-table LSH band
    array inlined by CollapseProject), the filter re-evaluates that
    whole expression up to twice more per input row. Measured on the
    13-gram decontamination stage at sf0.1: 3.9 s with ``explode``,
    0.35 s with ``explode_outer`` — a 10× constant-factor tax for a
    row-pruning filter that, on provably non-empty input, prunes
    nothing (SCALE.md §Catalyst caveat). Use plain ``explode`` whenever
    empty arrays are possible AND dropping those rows is the semantics."""
    from pyspark.sql import functions as F

    return F.explode_outer(col)


def as_col(c: "Column | str") -> "Column":
    """Coerce a column name or Column to a Column — the 2-line helper
    formerly duplicated as ``_col`` in queries.py / emoji.py / text.py."""
    from pyspark.sql import functions as F

    return F.col(c) if isinstance(c, str) else c


def get_spark(
    app_name: str = "big_data_analysis_of_twitter_emoji_usage_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In local mode this is a single JVM; on a cluster the same settings
    apply unchanged — everything scale-sensitive (AQE, partition counts,
    broadcast thresholds) is expressed declaratively so Catalyst can
    re-plan at runtime instead of us hand-scheduling.

    ``state_store="rocksdb"`` switches streaming state to
    ``RocksDBStateStoreProvider`` with changelog checkpointing — the
    production lever the r9 streaming-decade measurements named: the
    default in-heap HDFSBackedStateStore holds every open key in
    executor memory and was the terminal OOM boundary at ~12.5 M open
    session rows (SCALE.md "Streaming"), while RocksDB spills state to
    local disk (bounded heap at any key count) and measured ~18%
    FASTER on the incremental-arrival legs (changelog checkpointing
    commits a delta per batch instead of snapshotting the full store).
    Default off: state results are provider-independent, the in-heap
    store is simpler to debug at test scale, and the provider class is
    honored per-QUERY at stream start, so callers can also flip the
    raw conf on a live session before ``.start()``. Any other non-None
    value raises — a typo'd provider must not silently run in-heap.
    """
    if state_store is not None and state_store != "rocksdb":
        raise ValueError(
            f"get_spark: state_store={state_store!r} — expected 'rocksdb' "
            "or None (the default in-heap HDFSBackedStateStoreProvider)"
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars interleave carriage-return spew with any
        # stdout the harness parses (bench.py emits one JSON line).
        .config("spark.ui.showConsoleProgress", "false")
        # The fixture `events` table stores TIMESTAMP(NANOS), which the
        # parquet reader rejects by default; read as long nanos and let
        # load_events() convert (integer div — doubles can't hold 1e18).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture parquet written with isAdjustedToUTC=false would otherwise
        # surface as TIMESTAMP_NTZ, which watermarks reject; values are
        # UTC-naive and the session tz is pinned UTC, so reading them as
        # session-tz TIMESTAMP is value-preserving.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            # Per-batch delta commits instead of full-store snapshot
            # uploads — the measured ~18% incremental-arrival win and
            # the right default wherever RocksDB is on.
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    """Path of one driver-generated parquet table under a scale-factor dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


# Runtime-settable confs that query RESULTS depend on. ``get_spark`` sets
# them at builder time, but the public contract (``__spark_entry__.py``)
# hands every query an arbitrary caller-built SparkSession — so each read
# path re-pins them on the live session. Both are dynamic SQL confs
# (verified settable post-startup); pinning is idempotent and costs one
# py4j round-trip per conf per query.
_PINNED_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); the reader rejects it unless
    # told to surface the column as long nanos (converted in load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixtures written as timestamp[us] with isAdjustedToUTC=false read as
    # TIMESTAMP_NTZ under the Spark 4 default, and watermarks reject NTZ
    # event time. Values are UTC-naive and the session tz is pinned UTC
    # below, so reading them as plain TIMESTAMP is value-preserving.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Timestamp<->string rendering must be UTC to compare bit-for-bit with
    # the DuckDB oracle (UTC-naive timestamps).
    "spark.sql.session.timeZone": "UTC",
}


def pin_session_confs(spark: SparkSession) -> SparkSession:
    """Make query correctness independent of the caller's session factory
    by (re)setting the result-affecting dynamic confs on the live session."""
    for key, val in _PINNED_CONFS.items():
        spark.conf.set(key, val)
    return spark


# Session confs that change what parquet schema inference returns for
# the same files: nanos as bigint, un-adjusted micros as NTZ, binary as
# string, INT96 as timestamp, case-sensitive and merged field resolution.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

# (path, conf values) -> (file statuses, schema): one entry per path, so
# a table rewritten in place replaces its entry instead of adding one.
# Each entry is stored whole; two threads missing at once both infer.
_PARQUET_SCHEMA_CACHE: dict[tuple, tuple] = {}


def _file_statuses(fs, status) -> list[tuple]:
    if not status.isDirectory():
        return [(status.getPath().toString(), status.getLen(), status.getModificationTime())]
    return [f for s in fs.listStatus(status.getPath()) for f in _file_statuses(fs, s)]


def parquet_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` infers, memoized.

    Inference runs a Spark job that reads the footers; the memo skips it
    while the files under ``path`` (each one's length and modification
    time, as the Hadoop FS reports them) and the inference-affecting
    confs are unchanged. Pins session confs first — probing
    events.parquet on a bare session otherwise dies with
    PARQUET_TYPE_ILLEGAL before any query runs. The path is expanded
    with ``globStatus``, as the reader expands it; a path matching
    nothing is never memoized and fails as a plain read does. Callers
    must not mutate the returned schema."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    pin_session_confs(spark)
    fs, hpath = _hadoop_fs(spark, path)
    matched = fs.globStatus(hpath)
    if not matched:
        return spark.read.parquet(path).schema
    files = tuple(sorted(f for s in matched for f in _file_statuses(fs, s)))
    key = (path, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    cached = _PARQUET_SCHEMA_CACHE.get(key)
    if cached is not None and cached[0] == files:
        return cached[1]
    schema = spark.read.parquet(path).schema
    _PARQUET_SCHEMA_CACHE[key] = (files, schema)
    return schema


def read_parquet_schema(spark: SparkSession, sf_dir: str, name: str):
    """Schema of a fixture table, for streaming-source declaration."""
    return parquet_schema(spark, table_path(sf_dir, name))


def spread(df, min_partitions: int | None = None):
    """Round-robin repartition a scan that arrived with fewer partitions
    than the session's parallelism.

    The fixture tables are single-file / single-row-group parquet, so the
    scan is one task and every downstream map stage serializes onto one
    core. On a real deployment the input splits into ~file-size /
    ``maxPartitionBytes`` partitions and this check is false, making the
    helper a no-op — the repartition only ever fires when the table is
    smaller than cores × split size, bounding the shuffled volume.
    """
    if df.isStreaming:  # partition counts are undefined pre-execution
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if _scan_partitions(df) < target:
        return df.repartition(target)
    return df


# The plan->RDD conversion behind getNumPartitions costs a driver round
# trip per call; for a fixed input path the answer never changes, so it
# is probed once per (path-set, session) and memoized.
_SCAN_PARTITIONS_CACHE: dict[tuple, int] = {}


def _scan_partitions(df) -> int:
    key = None
    try:
        files = df.inputFiles()
        if files:
            # Split planning depends on session confs, not just the file
            # set — two sessions sharing one JVM/appId (the bare-session
            # scenario) can legally disagree on the partition count, so
            # the split-affecting confs join the key.
            sess = df.sparkSession
            key = (
                sess.sparkContext.applicationId,
                sess.conf.get("spark.sql.files.maxPartitionBytes", None),
                sess.conf.get("spark.sql.files.openCostInBytes", None),
                sess.sparkContext.defaultParallelism,
                tuple(sorted(files)),
            )
            cached = _SCAN_PARTITIONS_CACHE.get(key)
            if cached is not None:
                return cached
    except Exception:
        pass  # non-file-backed plan: fall through to the direct probe
    n = df.rdd.getNumPartitions()
    if key is not None:
        _SCAN_PARTITIONS_CACHE[key] = n
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str, spread_scan: bool = True):
    """Read one of the fixture tables (TESTDATA.md) as a DataFrame,
    spread to the session's parallelism (see ``spread``).

    Pass ``spread_scan=False`` for tables that will be broadcast (small
    dims): repartitioning a table that is about to be collected into a
    broadcast relation is a pure-waste Exchange in the plan.
    """
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return spread(df) if spread_scan else df


def nanos_to_timestamp(col):
    """Convert a long-nanos column (see nanosAsLong above) to a micros
    timestamp with exact integer division — matching how DuckDB reads the
    same parquet column."""
    from pyspark.sql import functions as F

    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def _normalize_ts(df, col: str = "ts"):
    """Normalize the three observed parquet encodings of ``ts`` to a plain
    session-tz TIMESTAMP: long nanos (nanosAsLong surfacing of
    TIMESTAMP(NANOS)) via exact integer division; TIMESTAMP_NTZ (micros
    with isAdjustedToUTC=false read under inferTimestampNTZ=true, e.g. by
    a caller session that skipped pin_session_confs) via cast — values
    are UTC-naive and the session tz is pinned UTC, so the cast is
    value-preserving; plain TIMESTAMP passes through."""
    dtype = dict(df.dtypes).get(col)
    if dtype in ("bigint", "long"):
        return df.withColumn(col, nanos_to_timestamp(col))
    if dtype == "timestamp_ntz":
        from pyspark.sql import functions as F

        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str):
    """The events table with `ts` as a timestamp, whatever the parquet
    encoding: TIMESTAMP(NANOS) files arrive as long nanos (see
    nanosAsLong above) and are converted; NTZ micros are cast; micro/milli
    UTC TIMESTAMP files pass through."""
    return _normalize_ts(load_table(spark, sf_dir, "events"))


def stream_table_path(sf_dir: str, name: str) -> str:
    """Glob form of ``table_path`` for the file-stream source: a globbed
    path makes Spark resolve ``basePath`` to the parent *directory*, which
    the streaming source requires (a bare single-file path is rejected
    with "Option 'basePath' must be a directory")."""
    return table_path(sf_dir, name) + "*"


def spread_stream(stream, spark: SparkSession, sf_dir: str, name: str):
    """Streaming twin of ``spread``: round-robin repartition a
    file-stream source whose BATCH scan of the same files would arrive
    with fewer partitions than the session's parallelism.

    Why it exists (r13, guide §2.5): ``spread`` must no-op on streams
    (partition counts are undefined pre-execution), so every micro-batch
    of a fixture-table stream ran its entire map-side work — 13-gram
    md5 probes, regex redaction, tokenization — in ONE task (the
    fixture tables are single-file/single-row-group parquet), while the
    batch twins run 32-way. Event-log evidence: stream_decontam_docs'
    addBatch was one 3.2 s single-task job vs ~0.35 s for the identical
    32-task batch plan. The decision is delegated to the SAME probe the
    batch path uses (``_scan_partitions`` on a batch read of the same
    path with its ``parquet_schema`` — both memoized, no Spark job once
    warm), so stream and batch twins spread
    under exactly the same condition: on a real deployment the input
    splits past the session's parallelism and this is a no-op; it only
    ever fires when the table is smaller than cores × split size,
    bounding the shuffled volume. The added per-batch Exchange is
    round-robin with sort-before-repartition (deterministic under task
    retry); results are partitioning-invariant for every consumer
    (row-level projections, aggregations, watermarked joins).

    The loaders default to ``spread_scan=False``: engagement is per
    call site, from the measured table in OPTIMIZATION_r13.md — the
    exchange's fixed cost (~0.2–0.3 s per availableNow drive at fixture
    scale) only pays where the per-row map work is heavy (the 13-gram
    md5 decontam probes: −30..−40%); the light projections and
    aggregations all measured small losses."""
    sc = spark.sparkContext
    target = sc.defaultParallelism
    path = table_path(sf_dir, name)
    batch_probe = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if _scan_partitions(batch_probe) < target:
        return stream.repartition(target)
    return stream


def load_table_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    spread_scan: bool = False,
):
    """Generic streaming twin of ``load_table``: one fixture table as a
    file-source stream — batch schema probe (streaming JSON/parquet
    sources require a declared schema, the reference's own idiom,
    SURVEY §1.1) + the globbed basePath form, optionally projected to
    ``columns``. The four documents-stream catalog queries previously
    each repeated this boilerplate inline.

    ``max_files_per_trigger`` bounds each micro-batch to N source files.
    This is the scale-correct drive for stateful plans over a large
    replay: one availableNow batch holds EVERY session/window in the
    state store until the terminal flush (the r9 third streaming decade
    measured a 16 g JVM OOM sessionizing 100M events in one batch),
    while bounded triggers advance the watermark between batches so
    closed state is evicted incrementally — memory bounded by OPEN
    sessions, not total sessions. Requires event-time-ordered file
    arrival (see ``native_sessionize_stream``'s replay caveat)."""
    reader = spark.readStream.schema(read_parquet_schema(spark, sf_dir, name))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(stream_table_path(sf_dir, name))
    if columns:
        stream = stream.select(*columns)  # project BEFORE any spread
    return spread_stream(stream, spark, sf_dir, name) if spread_scan else stream


def load_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    spread_scan: bool = False,
):
    """Streaming twin of ``load_events``: the events table as a file
    stream with ``ts`` as a timestamp, whatever the parquet encoding.
    The batch schema probe decides once — TIMESTAMP(NANOS) files arrive
    as long nanos (nanosAsLong) and get the integer-div conversion;
    micro/milli files are already timestamps and pass through untouched.
    ``max_files_per_trigger`` as in ``load_table_stream``."""
    schema = read_parquet_schema(spark, sf_dir, "events")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = _normalize_ts(reader.parquet(stream_table_path(sf_dir, "events")))
    return (
        spread_stream(stream, spark, sf_dir, "events") if spread_scan else stream
    )
