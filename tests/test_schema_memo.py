"""``core.parquet_schema`` memoizes the schema parquet inference gives a
path, so a warm ``load_table`` reads with a declared schema and submits
no Spark job. The memo must never serve a stale schema: a file rewritten
in place, or a change to an inference-affecting conf, re-infers.

The banded dedup drive's store reads declare the schema of the frame it
wrote instead of inferring it; the declared schema must equal what
inference gives for the same dirs.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from big_data_analysis_of_twitter_emoji_usage_spark import core
from big_data_analysis_of_twitter_emoji_usage_spark.core import (
    load_events,
    load_table,
    parquet_schema,
)

FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.mark.parametrize("name", FIXTURE_TABLES)
def test_warm_load_table_submits_no_job(spark, sf_dir, name):
    """The second load of an unchanged table is a memo hit: no inference
    job, and the same dtypes a plain inferred read gives under the
    pinned confs."""
    load_table(spark, sf_dir, name)
    sc = spark.sparkContext
    group = f"schema-memo-{name}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.dtypes == spark.read.parquet(core.table_path(sf_dir, name)).dtypes


def test_table_rewritten_in_place_is_reinferred(spark, sf_dir, tmp_path):
    """A nanos-encoded events file copied over a micros one at the same
    path changes the file's length and mtime, so the next load re-infers:
    ``ts`` arrives as bigint nanos, is converted, and still reads as
    ``timestamp`` with the same values."""
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    idx = tbl.schema.get_field_index("ts")

    def encoded(unit, tz, version):
        path = str(tmp_path / f"events_{unit}.parquet")
        col = tbl.column("ts").cast(pa.timestamp(unit, tz=tz))
        pq.write_table(tbl.set_column(idx, "ts", col), path, version=version)
        return path

    micros = encoded("us", "UTC", "2.6")
    nanos = encoded("ns", None, "2.6")
    sf = tmp_path / "sf"
    sf.mkdir()
    target = str(sf / "events.parquet")
    shutil.copyfile(micros, target)

    before = load_events(spark, str(sf))
    assert dict(load_table(spark, str(sf), "events").dtypes)["ts"] == "timestamp"
    want = sorted(map(tuple, before.select("event_id", "ts").collect()))

    shutil.copyfile(nanos, target)
    assert dict(load_table(spark, str(sf), "events").dtypes)["ts"] == "bigint"
    after = load_events(spark, str(sf))
    assert dict(after.dtypes)["ts"] == "timestamp"
    assert sorted(map(tuple, after.select("event_id", "ts").collect())) == want


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """``binaryAsString`` is not pinned; flipping it between two calls on
    the same unchanged file must change the returned type."""
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, prev)
    assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"


def test_missing_path_fails_and_is_not_memoized(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    size = len(core._PARQUET_SCHEMA_CACHE)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parquet_schema(spark, path)
    assert len(core._PARQUET_SCHEMA_CACHE) == size
    os.makedirs(tmp_path / "later")
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "later" / "p.parquet"))
    shutil.move(str(tmp_path / "later"), path)
    assert parquet_schema(spark, path).fieldNames() == ["a"]


@pytest.mark.parametrize("kind", ["minhash", "embedding"])
def test_drive_store_reads_declare_the_inferred_schema(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """Every store read of a banded dedup drive (committed recent dirs and
    history subtrees, across an in-drive roll) reads with a declared
    schema and yields exactly the schema inference gives the same dirs,
    partition columns and nullability included."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans import catalog
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming import jobs

    seen = []
    read_subtrees, read_recent = jobs.read_partition_subtrees, jobs._read_committed_recent

    def subtrees(spark_, root, col, keys, schema=None):
        df = read_subtrees(spark_, root, col, keys, schema)
        if df is not None:
            inferred = read_subtrees(spark_, root, col, keys).schema
            seen.append(("history", schema is not None, df.schema, inferred))
        return df

    def recent(spark_, root, bid, schema=None):
        df = read_recent(spark_, root, bid, schema)
        if df is not None:
            inferred = read_recent(spark_, root, bid).schema
            seen.append(("recent", schema is not None, df.schema, inferred))
        return df

    monkeypatch.setattr(jobs, "read_partition_subtrees", subtrees)
    monkeypatch.setattr(jobs, "_read_committed_recent", recent)
    if kind == "minhash":
        src = catalog._ordered_docs_stream_dir(sf_dir)
        drive, params = jobs.stream_near_dedup_minhash, dict(threshold=0.2)
    else:
        src = catalog._ordered_embeddings_stream_dir(sf_dir)
        drive, params = jobs.stream_near_dedup_embedding, dict(
            bits=8, tables=2, threshold=0.3
        )
    stream = (
        spark.readStream.schema(parquet_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drive(
        spark,
        stream,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_dir=str(tmp_path / "store"),
        store_buckets=16,
        max_bucket=64,
        maintain_every=2,
        consolidate_min_batch_dirs=2,
        **params,
    )
    assert {tier for tier, *_ in seen} == {"history", "recent"}
    for tier, is_declared, got, inferred in seen:
        assert is_declared, tier
        assert got == inferred, tier
