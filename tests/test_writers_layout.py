"""At-rest layout tests (SURVEY §4): the writers must actually buy the
plans they promise — partition pruning for date-partitioned Parquet,
shuffle-free joins for bucketed tables. Asserted on the physical plan,
not just on results.
"""

import os

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import load_events
from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
    add_date_partition,
    write_bucketed_table,
    write_jsonl,
    write_parquet_partitioned,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning(spark, sf_dir, tmp_path):
    ev = add_date_partition(load_events(spark, sf_dir))
    out = str(tmp_path / "events_by_day")
    write_parquet_partitioned(ev, out, ["ds"])
    # one directory per day, hive-style
    days = [d for d in os.listdir(out) if d.startswith("ds=")]
    assert len(days) > 5

    back = spark.read.parquet(out).filter(F.col("ds") == "2024-01-03")
    plan = back.queryExecution if False else back._jdf.queryExecution().toString()
    assert "PartitionFilters: [isnotnull(ds" in plan and "ds#" in plan
    # the pruned read returns exactly that day's rows
    expected = ev.filter(F.col("ds") == "2024-01-03").count()
    assert back.count() == expected > 0


def test_partitioned_events_restaged_on_same_size_replace(spark, sf_dir, tmp_path):
    """A same-size replace of the source that keeps its mtime_ns (``cp
    -p``, ``rsync -a``) still re-stages the partitioned events dir: the
    stamp hashes the file's tail, so the staging never serves rows the
    DuckDB oracle no longer reads."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import (
        _partitioned_events_dir,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    src, bumped_src = str(sf / "events.parquet"), str(tmp_path / "bumped.parquet")
    tbl = pq.read_table(f"{sf_dir}/events.parquet").slice(0, 200)
    bumped = tbl.set_column(
        tbl.schema.get_field_index("value"), "value", pc.add(tbl["value"], 1.0)
    )
    for path, t in ((src, tbl), (bumped_src, bumped)):
        pq.write_table(t, path, compression="none", use_dictionary=False)
    st = os.stat(src)
    assert os.path.getsize(bumped_src) == st.st_size

    def staged_sum():
        out = _partitioned_events_dir(spark, str(sf))
        return out, spark.read.parquet(out).agg(F.sum("value")).first()[0]

    out, before = staged_sum()
    try:
        assert before == pytest.approx(pc.sum(tbl["value"]).as_py())
        os.replace(bumped_src, src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert os.stat(src).st_mtime_ns == st.st_mtime_ns
        _, after = staged_sum()
        assert after == pytest.approx(pc.sum(bumped["value"]).as_py())
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    write_bucketed_table(ev.select("event_id", "user_id", "value"),
                         "ev_bucketed", "user_id", num_buckets=8)
    write_bucketed_table(users, "users_bucketed", "user_id", num_buckets=8)

    joined = spark.table("ev_bucketed").join(
        spark.table("users_bucketed"), "user_id"
    )
    # co-located: SortMergeJoin with zero shuffles on either side
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert joined.count() == ev.count()


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = str(tmp_path / "export")
    write_jsonl(ev, out)
    back = spark.read.json(out)
    assert back.count() == ev.count()
    assert set(back.columns) == set(ev.columns)


def test_corrupt_records_captured_not_dropped(spark, tmp_path):
    """PERMISSIVE + columnNameOfCorruptRecord: malformed JSONL lines
    surface as quarantinable rows instead of disappearing."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import read_tweets
    from pyspark.sql import functions as F, types as T

    p = tmp_path / "tweets"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"text": "ok one"}\n'
        "this is not json at all\n"
        '{"text": "ok two"}\n'
        '{"text": "truncated\n'
    )
    schema = T.StructType([T.StructField("text", T.StringType())])
    df = read_tweets(spark, str(p), schema, corrupt_col="_bad")
    rows = df.collect()
    good = [r["text"] for r in rows if r["_bad"] is None]
    bad = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert sorted(good) == ["ok one", "ok two"]
    assert len(bad) == 2 and "not json" in bad[0]
    # Spark disallows queries whose referenced columns are ONLY the
    # corrupt column on raw JSON (SPARK-21610) — the documented
    # quarantine pattern is cache-then-filter:
    df = df.cache()
    try:
        assert df.filter(F.col("_bad").isNull()).count() == 2
        assert df.filter(F.col("_bad").isNotNull()).count() == 2
    finally:
        df.unpersist()


def test_clustered_write_prunes_row_groups(spark, sf_dir, tmp_path):
    """Sort-on-write clustering: after write_parquet_clustered by
    user_id, a single user's data is confined to few files/row groups —
    the footer min/max stats exclude the rest — and the roundtrip is
    lossless. The default arrival-order layout (same data, same file
    count) leaves every row group overlapping every user."""
    import glob

    import pyarrow.parquet as pq

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import write_parquet_clustered

    ev = load_events(spark, sf_dir)
    uid = ev.select("user_id").first()[0]

    clustered = str(tmp_path / "clustered")
    write_parquet_clustered(ev, clustered, ["user_id", "ts"], num_files=8)
    plain = str(tmp_path / "plain")
    ev.repartition(8).write.parquet(plain)

    def surviving(path):
        total = match = 0
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            ci = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["user_id"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                total += 1
                if st is None or (st.min <= uid <= st.max):
                    match += 1
        return match, total

    c_match, c_total = surviving(clustered)
    p_match, p_total = surviving(plain)
    assert c_total >= 8 and p_total >= 8
    # random layout: the user's rows are spread across (essentially)
    # every row group; clustered: confined to a narrow key range.
    assert c_match < p_match, (c_match, c_total, p_match, p_total)
    assert c_match <= 2

    # lossless roundtrip (values, not order)
    back = spark.read.parquet(clustered)
    assert back.count() == ev.count()
    a = ev.groupBy("user_id").count().collect()
    b = back.groupBy("user_id").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _write_small_files(spark, path, n_rows=2000, n_files=16):
    df = spark.range(n_rows).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compact_parquet_dir_reduces_files_preserves_rows(spark, tmp_path):
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import compact_parquet_dir

    path = str(tmp_path / "small")
    _write_small_files(spark, path, n_files=16)
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    # huge target -> everything packs into ONE file
    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"] and stats["files_before"] == 16
    assert stats["files_after"] == 1
    n_parquet = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(n_parquet) == 1
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    # second run is a no-op: already at target shape
    again = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert not again["compacted"] and again["files_after"] == 1


def test_compact_sizes_output_to_target(spark, tmp_path):
    """n_out = ceil(total_bytes / target): a target of ~1/4 the total
    must yield 4-5 files, not 1 and not 16."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import compact_parquet_dir

    path = str(tmp_path / "sized")
    _write_small_files(spark, path, n_rows=20000, n_files=16)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    stats = compact_parquet_dir(spark, path, target_file_bytes=total // 4 + 1)
    assert stats["compacted"]
    assert 3 <= stats["files_after"] <= 5


def test_compact_plan_is_shuffle_free(spark, tmp_path):
    """The compaction rewrite must move bytes scan->write with NO
    Exchange — coalesce, never repartition (the 100 TB contract)."""
    path = str(tmp_path / "noshuffle")
    _write_small_files(spark, path, n_files=8)
    plan = (
        spark.read.parquet(path)
        .coalesce(2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_compact_repairs_interrupted_swaps(spark, tmp_path):
    """Each crash window of the rename protocol must repair on re-entry:
    (a) old && path -> finish cleanup; (b) old && committed tmp ->
    roll forward; (c) old && no committed tmp -> roll back."""
    import shutil

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import compact_parquet_dir

    path = str(tmp_path / "crashy")
    df_rows = lambda: sorted(  # noqa: E731
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    _write_small_files(spark, path, n_files=8)
    want = df_rows()

    # (a) crashed after swap-in, before deleting old: old dir lingers
    shutil.copytree(path, path + ".__compact_old__")
    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"] and not os.path.exists(path + ".__compact_old__")
    assert df_rows() == want

    # (b) crashed between the renames with a COMMITTED tmp: roll forward
    _write_small_files(spark, path, n_files=8)
    spark.read.parquet(path).coalesce(1).write.mode("overwrite").parquet(
        path + ".__compact_tmp__"
    )
    os.rename(path, path + ".__compact_old__")
    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert df_rows() == want
    # rolled forward to the committed single-file tmp; already compact
    assert not stats["compacted"] and stats["files_before"] == 1
    assert not os.path.exists(path + ".__compact_old__")
    assert not os.path.exists(path + ".__compact_tmp__")

    # (c) crashed between the renames with NO committed tmp: roll back
    _write_small_files(spark, path, n_files=8)
    os.rename(path, path + ".__compact_old__")
    os.makedirs(path + ".__compact_tmp__")  # uncommitted junk, no _SUCCESS
    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert df_rows() == want
    assert stats["compacted"] and stats["files_before"] == 8


def test_compact_partitioned_sweeps_leaves_independently(spark, tmp_path):
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    root = str(tmp_path / "parted")
    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("ds"),
        F.col("id").alias("k"),
    )
    df.repartition(6).write.mode("overwrite").partitionBy("ds").parquet(root)
    before = sorted(tuple(r) for r in spark.read.parquet(root).collect())
    stats = compact_partitioned_parquet(spark, root, target_file_bytes=1 << 30)
    assert stats["partitions"] == 3
    assert stats["partitions_compacted"] == 3
    assert stats["files_after"] == 3  # one per partition at a huge target
    after = sorted(tuple(r) for r in spark.read.parquet(root).collect())
    assert after == before


def test_compact_partitioned_hidden_path_conventions(spark, tmp_path):
    """ADVICE r10: the '=' exemption in the compaction walker applies
    ONLY to underscore-prefixed names (Spark's own file-index rule for
    partition dirs of underscore-named columns like _bkt=K); a
    DOT-prefixed dir containing '=' is always hidden to Spark, so a
    dot-named staging dir that happens to contain '=' must never be
    compacted as data — and underscore partition dirs must still be
    walked."""
    import os

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    root = str(tmp_path / "parted")
    df = spark.range(300).select(
        (F.col("id") % 2).alias("_bkt"), F.col("id").alias("k")
    )
    df.repartition(4).write.mode("overwrite").partitionBy("_bkt").parquet(root)
    # a dot-prefixed staging dir containing '=' beside the data, with a
    # stray parquet file inside — hidden to Spark, must stay untouched
    trap = os.path.join(root, ".staging_run=1")
    os.makedirs(trap)
    part = next(
        f
        for f in os.listdir(os.path.join(root, "_bkt=0"))
        if f.endswith(".parquet")
    )
    import shutil

    shutil.copy2(
        os.path.join(root, "_bkt=0", part), os.path.join(trap, part)
    )
    trap_before = sorted(os.listdir(trap))

    stats = compact_partitioned_parquet(spark, root, target_file_bytes=1 << 30)
    # underscore partition dirs walked and compacted...
    assert stats["partitions"] == 2 and stats["partitions_compacted"] == 2
    # ...the dot-prefixed '='-named staging dir untouched
    assert sorted(os.listdir(trap)) == trap_before
    assert sorted(
        tuple(r)
        for r in spark.read.parquet(root).select("_bkt", "k").collect()
    ) == sorted(tuple(r) for r in df.select("_bkt", "k").collect())


def test_roll_before_batch_id_rolls_committed_only(spark, tmp_path):
    """r12 in-drive maintenance contract: roll_recent_into_store with
    before_batch_id rolls ONLY the strictly-smaller (checkpoint-
    committed) batch dirs, leaving the in-flight batch in the recent
    tail; shuffle=False skips the per-bucket exchange but lands the
    same rows."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    root = str(tmp_path / "store")
    recent = root + "_recent"
    for bid in range(4):
        (
            spark.range(bid * 10, bid * 10 + 10)
            .select(
                F.col("id"),
                F.pmod(F.col("id"), F.lit(4)).alias("_bkt"),
            )
            .write.mode("overwrite")
            .parquet(f"{recent}/batch_id={bid}")
        )
    stats = roll_recent_into_store(
        spark, root, "_bkt", before_batch_id=3, shuffle=False
    )
    assert stats["batches_rolled"] == 3
    left = {
        d for d in os.listdir(recent) if d.startswith("batch_id=")
    }
    assert left == {"batch_id=3"}  # the in-flight batch stays
    rolled = spark.read.parquet(root)
    assert rolled.count() == 30
    assert {r[0] for r in rolled.select("batch_id").distinct().collect()} == {
        0,
        1,
        2,
    }
    # a later full roll finishes the job
    stats2 = roll_recent_into_store(spark, root, "_bkt")
    assert stats2["batches_rolled"] == 1
    assert spark.read.parquet(root).count() == 40


def test_roll_empty_tail_skips_write_and_creates_no_root(spark, tmp_path):
    """r13 (VERDICT r12 #1/#3): a roll whose committed batch dirs hold
    no data files must not run a write job, must not create the store
    root, and must still reap the empty dirs — the r12 unconditional
    write swapped the removed count job for a write job on empty
    tails, and a fresh root holding only _SUCCESS breaks later bare
    reads' schema inference."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    root = str(tmp_path / "store")
    recent = root + "_recent"
    # batch dirs exist but hold only a commit marker / nothing at all
    os.makedirs(f"{recent}/batch_id=0")
    os.makedirs(f"{recent}/batch_id=1")
    open(f"{recent}/batch_id=0/_SUCCESS", "w").close()
    sc = spark.sparkContext._jsc.sc()
    j0 = sc.dagScheduler().nextJobId()
    stats = roll_recent_into_store(spark, root, "_bkt")
    assert sc.dagScheduler().nextJobId() == j0  # ZERO Spark jobs
    assert stats["batches_rolled"] == 2
    assert not os.path.exists(root)  # no schema-less root
    assert not [
        d for d in os.listdir(recent) if d.startswith("batch_id=")
    ]  # empty dirs reaped


def test_roll_zero_row_datafile_leaves_no_schemaless_root(spark, tmp_path):
    """The deeper edge: batch dirs with real parquet FILES holding 0
    ROWS do reach the write, whose dynamic overwrite replaces no
    partitions — the fresh root (only _SUCCESS) must be removed so
    `root exists ⇒ readable` holds."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        roll_recent_into_store,
    )

    root = str(tmp_path / "store")
    recent = root + "_recent"
    empty = spark.range(0).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(4)).alias("_bkt")
    )
    empty.coalesce(1).write.mode("overwrite").parquet(
        f"{recent}/batch_id=0"
    )
    assert any(
        f.endswith(".parquet")
        for f in os.listdir(f"{recent}/batch_id=0")
    ), "precondition: a 0-row data file exists"
    stats = roll_recent_into_store(spark, root, "_bkt")
    assert stats["batches_rolled"] == 1
    assert not os.path.exists(root)
    # and a root that already had history is untouched by an empty roll
    spark.range(5).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(4)).alias("_bkt")
    ).write.parquet(f"{recent}/batch_id=1")
    roll_recent_into_store(spark, root, "_bkt")
    n0 = spark.read.parquet(root).count()
    empty.coalesce(1).write.mode("overwrite").parquet(
        f"{recent}/batch_id=2"
    )
    roll_recent_into_store(spark, root, "_bkt")
    assert spark.read.parquet(root).count() == n0


def test_consolidate_merges_only_fragmented_buckets(spark, tmp_path):
    """r12 frag-only consolidation, directly pinned (VERDICT r12 #6):
    on a store where one bucket is fragmented (≥2 batch dirs) and
    another is not, the merge must rewrite ONLY the fragmented bucket
    — the single-dir bucket's files stay byte-identical on disk (the
    O(store)→O(fragmentation) scale shape) — and the merged store must
    read back row-identical."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        consolidate_bucket_history,
    )

    root = str(tmp_path / "store")
    # bucket 0: batch dirs 1 and 2 (fragmented); bucket 1: dir 1 only
    for bid, rows_ in ((1, [(0, 0), (1000001, 1), (2, 0)]), (2, [(4, 0), (6, 0)])):
        for bkt in {b for _, b in rows_}:
            (
                spark.createDataFrame(
                    [(i,) for i, b in rows_ if b == bkt], ["id"]
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{root}/_bkt={bkt}/batch_id={bid}")
            )
    before = sorted(
        map(tuple, spark.read.parquet(root).drop("batch_id").collect())
    )
    single = f"{root}/_bkt=1/batch_id=1"
    stamp_before = {
        f: os.path.getmtime(os.path.join(single, f))
        for f in os.listdir(single)
    }
    stats = consolidate_bucket_history(spark, root)
    assert stats["consolidated"] is True
    assert stats["buckets_merged"] == 1  # only _bkt=0
    # the single-dir bucket was not rewritten, not even touched
    assert {
        f: os.path.getmtime(os.path.join(single, f))
        for f in os.listdir(single)
    } == stamp_before
    assert [
        d for d in os.listdir(f"{root}/_bkt=0") if d.startswith("batch_id=")
    ] == ["batch_id=0"]  # merged below the smallest existing id
    after = sorted(
        map(tuple, spark.read.parquet(root).drop("batch_id").collect())
    )
    assert after == before
