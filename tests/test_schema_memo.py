"""``core``'s file memo keeps what is known about a file set: the schema
parquet inference gives a path, its scan partition count and vector
widths. A warm ``load_table`` reads with a declared schema and submits
no Spark job. The memo must never serve a stale fact: a file rewritten
in place, or a change to a fact-affecting conf, re-probes.

The store drives' probe and maintenance reads declare the schema of the
rows they landed instead of inferring it; the declared schema must equal
what inference gives for the same dirs.
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
    size = len(core._FILE_FACTS)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parquet_schema(spark, path)
    assert len(core._FILE_FACTS) == size
    os.makedirs(tmp_path / "later")
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "later" / "p.parquet"))
    shutil.move(str(tmp_path / "later"), path)
    assert parquet_schema(spark, path).fieldNames() == ["a"]


def test_scan_partitions_reprobe_after_inplace_rewrite(spark, tmp_path):
    """A table rewritten in place several times larger splits into more
    scan partitions under a small ``maxPartitionBytes``; the memoized
    count follows the files instead of keeping the first one."""
    sf = tmp_path / "sf"
    sf.mkdir()
    path = core.table_path(str(sf), "documents")

    def write(n):
        text = [f"document {i} " * 8 for i in range(n)]
        pq.write_table(
            pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": text}),
            path,
            compression="none",
        )

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        write(50)
        load_table(spark, str(sf), "documents")
        small = core._file_facts(spark, path)["partitions"]
        write(1000)
        load_table(spark, str(sf), "documents")
        got = core._file_facts(spark, path)["partitions"]
        assert got == spark.read.parquet(path).rdd.getNumPartitions() > small
    finally:
        spark.conf.set(key, prev)


def test_file_memo_holds_at_most_its_bound(spark, tmp_path, monkeypatch):
    """The memo is FIFO-bounded: past its bound the oldest entry goes."""
    monkeypatch.setattr(core, "_FILE_FACTS", {})
    monkeypatch.setattr(core, "_FILE_FACTS_MAX", 3)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(5)]
    for i, path in enumerate(paths):
        pq.write_table(pa.table({"a": [i]}), path)
        assert parquet_schema(spark, path).fieldNames() == ["a"]
        assert len(core._FILE_FACTS) <= 3
    assert [key[0] for key in core._FILE_FACTS] == paths[2:]


def test_file_memo_bound_holds_under_threads(monkeypatch):
    """Drive threads and the maintenance thread share the memo: many
    threads inserting past the bound at once never raise and never
    leave it over its bound. The session and the stamps are stubbed so
    the threads contend on the memo itself, not on py4j."""
    import sys
    import threading
    from types import SimpleNamespace

    session = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "v"),
        sparkContext=SimpleNamespace(defaultParallelism=4),
    )
    monkeypatch.setattr(core, "file_stamps", lambda spark, paths: (paths,))
    monkeypatch.setattr(core, "_FILE_FACTS", {})
    monkeypatch.setattr(core, "_FILE_FACTS_MAX", 4)
    over, errors = [], []

    def work(offset):
        try:
            for i in range(2000):
                core._file_facts(session, f"p{(offset + i) % 64}")["seen"] = True
                if len(core._FILE_FACTS) > 4:
                    over.append(len(core._FILE_FACTS))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and over == []


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


@pytest.mark.parametrize("query", ["stream_dedup_near_docs", "stream_knn_ivf"])
def test_maintenance_reads_declare_the_inferred_schema(
    spark, sf_dir, monkeypatch, query
):
    """The in-drive maintenance cycle rolls and consolidates each store
    root with the schema of the rows the drive landed there declared,
    and that schema reads the dirs exactly as inference does."""
    from big_data_analysis_of_twitter_emoji_usage_spark.plans import catalog
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        store_tier_schemas,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming import jobs

    seen = []
    roll, consolidate = jobs.roll_recent_into_store, jobs.consolidate_bucket_history

    def check(spark_, tier, path, schema, bucket_col):
        declared = store_tier_schemas(schema, bucket_col)[tier == "history"]
        got = spark_.read.schema(declared).parquet(path).schema
        seen.append((tier, got, spark_.read.parquet(path).schema))

    def rolled(spark_, root, bucket_col, **kw):
        recent = root.rstrip("/") + "_recent"
        if any(d.startswith("batch_id=") for d in os.listdir(recent)):
            check(spark_, "recent", recent, kw["schema"], bucket_col)
        return roll(spark_, root, bucket_col, **kw)

    def consolidated(spark_, root, **kw):
        dirs = [d for d in os.listdir(root) if "=" in d and not d.startswith(".")]
        if dirs:
            check(spark_, "history", root, kw["schema"], dirs[0].split("=")[0])
        return consolidate(spark_, root, **kw)

    monkeypatch.setattr(jobs, "roll_recent_into_store", rolled)
    monkeypatch.setattr(jobs, "consolidate_bucket_history", consolidated)
    catalog.QUERIES[query](spark, sf_dir)
    assert {tier for tier, *_ in seen} == {"recent", "history"}
    for tier, got, inferred in seen:
        assert got == inferred, tier
