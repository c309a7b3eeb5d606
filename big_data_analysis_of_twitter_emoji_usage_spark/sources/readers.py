"""Batch and streaming readers (SURVEY §2.1 S1/S2).

The reference reads a growing directory of JSONL files twice: once as a
batch DataFrame with inferred schema (q1:93) and once as a Structured
Streaming file source borrowing that schema (q2:96-97). The engine keeps
both paths but takes a declared schema (schemas.py) — no inference scan —
and also accepts Parquet, the at-rest format the engine prefers at scale
(columnar pruning + predicate pushdown, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_tweets(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Batch scan of a tweet directory (S1) with a declared schema.

    Raw tweet streams carry malformed lines (truncated writes, rate
    notices); with ``corrupt_col`` set, the reader runs PERMISSIVE and
    captures each unparseable line's raw text in that column instead of
    nulling it silently — rows with ``corrupt_col IS NULL`` parsed
    clean, the rest are quarantinable. The reference (q1:93, inferred
    schema) drops malformed lines implicitly; capturing them is the
    production-side improvement, still a pure scan option (no extra
    pass, pushdown unaffected for the declared fields).

    Corrupt-record capture is a text-source feature (json and csv both
    honor ``columnNameOfCorruptRecord``); asking for it on a binary
    format like parquet is a caller bug and raises rather than silently
    dropping malformed rows.
    """
    reader = spark.read.format(fmt)
    if corrupt_col is not None and fmt not in ("json", "csv"):
        raise ValueError(
            f"corrupt_col is only supported for json/csv sources, not {fmt!r}"
        )
    if corrupt_col is not None:
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_col, T.StringType())]
        )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    return reader.schema(schema).load(path)


def stream_tweets(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded micro-batch scan of a growing directory (S2).

    File-source streams require an explicit schema — the reference
    satisfied this with a prior batch-inference pass (q2:96-97); the
    engine passes the declared one. ``maxFilesPerTrigger`` bounds
    per-micro-batch work on a backlogged directory.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_partition_subtrees(
    spark: SparkSession,
    root: str,
    col: str,
    keys: list,
    schema: T.StructType | None = None,
) -> DataFrame | None:
    """Direct-path read of ONLY the requested partition subtrees of a
    partition-major parquet layout (``<root>/<col>=<key>/...``) — the
    scale lever behind the banded dedup stores and the persisted IVF
    postings: Spark's partition PRUNING (a filter or literal IN on the
    partition column) skips the unmatched partitions' BYTES, but
    ``spark.read.parquet(root)`` still builds a file index over every
    partition directory first — measured ~7 s per read at 4096 dirs on
    this host, more than the pruned scan itself (SCALE.md r11), and an
    O(dirs) prefix listing per read on an object store. Reading the
    matched subtrees by direct path (with ``basePath`` so the
    partition column is still recovered from the dir names) makes
    listing cost proportional to the TOUCHED partitions only.

    Existence is checked per key through the Hadoop FS (≤ ``len(keys)``
    RPCs — bound your key set before calling), because a path that
    matches nothing fails the read. Returns None when no requested
    subtree exists. A caller that wrote the store passes its
    ``schema`` (partition columns included) to skip the footer-reading
    inference job."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    # normalize like every sibling helper (roll/consolidate/_marker_io):
    # a trailing-slash root would yield `//` subtree paths whose
    # basePath may not prefix-match on some Hadoop FS implementations
    root = root.rstrip("/")
    fs, _ = _hadoop_fs(spark, root)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    paths = [
        p
        for p in (f"{root}/{col}={k}" for k in keys)
        if fs.exists(jpath(p))
    ]
    if not paths:
        return None
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def union_partition_tiers(
    main: DataFrame | None, recent: DataFrame, key_col: str
) -> DataFrame:
    """Union a partition-major history tier with a batch-major recent
    tail (the r11 two-tier store shape): the key column is
    partition-inferred (int) on the main side and a computed long on
    the recent side, so both are cast before the unionByName. ``main``
    is None before the first roll."""
    from pyspark.sql import functions as F

    recent = recent.withColumn(key_col, F.col(key_col).cast("long"))
    if main is None:
        return recent
    main = main.withColumn(key_col, F.col(key_col).cast("long"))
    return main.select(recent.columns).unionByName(recent)
