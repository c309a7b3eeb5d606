"""The traced run: per-layer metrics, measured from the benchmark's files.

Spans are taken around calls into the engine's public functions, one
package module per layer (``core``, ``sources``, ``functions``, ``plans``,
``operators``, ``streaming``). Counts come from three places: the
``statusTracker`` (jobs, stages and tasks of a job group), the Spark
event log written to the run's temp root (task CPU time, shuffle and
spill bytes, task times, streaming progress), and file listings of the
streaming drive's store. The event log is read after the session stops,
when Spark has flushed and closed it.

The same probes run in every workload's traced run. The workload's own
operations feed the ``plans.*`` metrics; the other probes run on small
inputs made from the same seed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import gen
from harness import percentile

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
STREAM_PHASES = ("addBatch", "walCommit", "latestOffset", "queryPlanning")


# --------------------------------------------------------------------------
# counts


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


class EventLog:
    """The parts of a Spark event log the metrics need."""

    def __init__(self, event_dir: str):
        self.job_group: dict[int, str] = {}
        self.job_submit_ms: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # stage, run_ms, cpu_ns, shuffle_w, spill
        self.progress: list[dict] = []
        logs = sorted(glob.glob(os.path.join(event_dir, "*")), key=os.path.getmtime)
        if not logs:
            return
        self._read(logs[-1])  # the last session's log

    def _read(self, path: str) -> None:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.job_group[jid] = props.get("spark.jobGroup.id")
                    self.job_submit_ms[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
                elif kind == PROGRESS_EVENT:
                    self.progress.append(ev["progress"])

    def tasks_where(self, job_pred) -> list[dict]:
        return [
            t for t in self.tasks
            if t["stage"] in self.stage_job and job_pred(self.stage_job[t["stage"]])
        ]

    def jobs_in_window(self, t0_ms: float, t1_ms: float) -> set[int]:
        return {j for j, ms in self.job_submit_ms.items() if t0_ms <= ms <= t1_ms}


def task_skew(tasks: list[dict]) -> float:
    """Median over stages with at least two tasks of max / median task
    run time."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    ratios = [
        max(v) / max(statistics.median(v), 1.0) for v in by_stage.values() if len(v) >= 2
    ]
    return statistics.median(ratios) if ratios else 1.0


def dir_stats(*roots: str) -> tuple[int, int]:
    """(bytes, files) under the given directories, Hadoop checksum files
    included."""
    size = n = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for fn in files:
                size += os.path.getsize(os.path.join(dirpath, fn))
                n += 1
    return size, n


# --------------------------------------------------------------------------
# probes


def traced_window(runner):
    """The timed window with rounds alternating plain and traced. A traced
    op runs under its own job group and is split into build (construct the
    DataFrame), plan (force the executed plan) and exec (collect)."""
    spark = runner.sess.spark
    sc = spark.sparkContext
    traced: dict[str, dict] = {}
    plain_walls: list[float] = []
    traced_walls: list[float] = []
    seq = [0]

    def on_op(round_no, op):
        if round_no % 2 == 0:
            dt = runner.run_op(op, spark)
            if dt is not None:
                plain_walls.append(dt)
            return dt
        group = f"perfbench-op-{seq[0]}"
        seq[0] += 1
        runner.attempted += 1
        sc.setJobGroup(group, op.name)
        try:
            t0 = time.perf_counter()
            df = op.build(spark)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
        except Exception as e:
            runner.failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        runner.results.setdefault(op.name, (df.columns, rows))
        traced[group] = {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2}
        traced_walls.append(t3 - t0)
        return t3 - t0

    runner.window(on_op)
    for group, rec in traced.items():
        rec["jobs"], rec["stages"], rec["tasks"] = group_counts(spark, group)
    return traced, plain_walls, traced_walls


def probe_load_table(spark, sf: str, tables: list[str]) -> tuple[float, float]:
    """Mean seconds and jobs of one ``core.load_table`` call per table."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_table

    sc = spark.sparkContext
    times, jobs = [], []
    for name in tables:
        group = f"perfbench-load-{name}"
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        load_table(spark, sf, name)
        times.append(time.perf_counter() - t)
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(group_counts(spark, group)[0])
    return statistics.mean(times), statistics.mean(jobs)


def probe_sources_functions(spark, tweets_dir: str, schema) -> tuple[float, float]:
    """Median of three: ``read_tweets`` into a noop sink, and the same
    scan through ``explode(extract_emojis)``."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_twitter_emoji_usage_spark.functions.emoji import extract_emojis
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import read_tweets

    def noop(df):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    scan, kernel = [], []
    for _ in range(3):
        scan.append(noop(read_tweets(spark, tweets_dir, schema)))
        kernel.append(noop(
            read_tweets(spark, tweets_dir, schema)
            .select(F.explode(extract_emojis("data.text")).alias("e"))
        ))
    return statistics.median(scan), statistics.median(kernel)


def dedup_oracle_keepers(corpus_dir: str) -> set[int]:
    """Keeper ids of the DuckDB oracle of the catalog's streaming
    near-dedup query, over the staged corpus."""
    import duckdb

    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import ORACLE_SQL

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{corpus_dir}/*.parquet'")
        return {r[0] for r in con.sql(ORACLE_SQL["stream_dedup_near_docs"]).fetchall()}
    finally:
        con.close()


def probe_dedup(runner, root: str, cfg: dict):
    """The batch near-dup operator and one streaming near-dedup drive, on
    the same seeded corpus and the catalog's drive parameters. Both keeper
    sets are checked against the DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from big_data_analysis_of_twitter_emoji_usage_spark.operators import dedup
    from big_data_analysis_of_twitter_emoji_usage_spark.streaming.jobs import (
        stream_near_dedup_minhash,
    )

    spark = runner.sess.spark
    corpus_dir = os.path.join(root, "dedup_corpus")
    gen.dedup_corpus(corpus_dir, runner.args.seed, cfg["dedup_docs"], cfg["dedup_files"],
                     cfg["dedup_dup_share"])
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    thr = cfg["dedup_threshold"]
    want = dedup_oracle_keepers(corpus_dir)
    out = {}

    # operators: the batch twin
    docs = spark.read.schema(schema).parquet(corpus_dir)
    t = time.perf_counter()
    pairs = [tuple(r) for r in dedup.near_dup_pairs(docs, threshold=thr).collect()]
    out["operators.near_dup_pairs_s"] = (time.perf_counter() - t, "s")
    sig = dedup.minhash_signatures(dedup.doc_shingle_arrays(docs))
    n_cand = dedup.lsh_candidate_pairs(sig).count()
    out["operators.verified_per_candidate"] = (len(pairs) / max(n_cand, 1), "ratio")
    runner.attempted += 1
    batch_keepers = {r[0] for r in docs.select("doc_id").collect()} - {p[1] for p in pairs}
    if batch_keepers != want:
        runner.failures.append(
            f"near_dup_pairs keepers differ from the oracle: {len(batch_keepers ^ want)} ids")

    # streaming: one drive with the catalog's parameters
    scratch = os.path.join(root, "dedup_drive")
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(corpus_dir))
    runner.attempted += 1
    t0_ms = time.time() * 1000
    t = time.perf_counter()
    kept = stream_near_dedup_minhash(
        spark, stream,
        out_dir=os.path.join(scratch, "out"),
        checkpoint_dir=os.path.join(scratch, "ckpt"),
        store_dir=os.path.join(scratch, "store"),
        threshold=thr, store_buckets=32, max_bucket=64, maintain_every=2,
        consolidate_min_batch_dirs=2,
    )
    keepers = {r[0] for r in kept.select(F.col("doc_id")).collect()}
    drive_s = time.perf_counter() - t
    t1_ms = time.time() * 1000
    if keepers != want:
        runner.failures.append(
            f"streaming keepers differ from the oracle: {len(keepers ^ want)} ids")
    in_bytes, _ = dir_stats(corpus_dir)
    store_bytes, store_files = dir_stats(
        os.path.join(scratch, "store"), os.path.join(scratch, "store_bands"))
    out["sources.store_bytes_per_input_byte"] = (store_bytes / in_bytes, "ratio")
    out["sources.store_files"] = (store_files, "count")
    drive = {"wall_s": drive_s, "t0_ms": t0_ms, "t1_ms": t1_ms, "keepers": len(keepers),
             "store_bytes": store_bytes}
    return out, drive


def traced_run(runner, session_starts):
    """Run every probe; returns (metrics, detail). Called after set-up."""
    args, cfg = runner.args, runner.settings["layer_probe"]
    spark = runner.sess.spark
    root = os.path.join(args.tmp, "probes")
    m: dict[str, tuple] = {
        "core.session_start_s": (statistics.median(session_starts), "s"),
    }

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    traced, plain, traced_walls = traced_window(runner)
    phase("window")
    n = max(len(traced), 1)
    for key in ("build", "plan", "exec"):
        m[f"plans.{key}_s"] = (sum(r[key] for r in traced.values()) / n, "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"plans.{key}_per_op"] = (sum(r[key] for r in traced.values()) / n, "count")
    m["trace.overhead_s"] = (statistics.median(traced_walls) - statistics.median(plain), "s")

    # core: load_table over the catalog tables at probe scale
    sf = os.path.join(root, "sf")
    gen.catalog_tables(sf, args.seed, cfg["catalog_scale"])
    lt_s, lt_jobs = probe_load_table(spark, sf, cfg["load_tables"])
    m["core.load_table_s"] = (lt_s, "s")
    m["core.load_table_jobs"] = (lt_jobs, "count")
    phase("core")

    # sources + functions: ingest, scan, kernel over a tweet corpus
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.ingest import RollingJsonlWriter

    lines, _ = gen.tweets(cfg["tweets"], args.seed)
    tweets_dir = os.path.join(root, "tweets")
    t = time.perf_counter()
    RollingJsonlWriter(tweets_dir, 1000).drain(lines)
    m["sources.ingest_lines_per_s"] = (len(lines) / (time.perf_counter() - t), "1/s")
    scan_s, kernel_s = probe_sources_functions(spark, tweets_dir, gen.tweet_schema())
    m["sources.scan_s"] = (scan_s, "s")
    m["functions.kernel_scan_s"] = (kernel_s, "s")
    phase("sources_functions")

    dedup_m, drive = probe_dedup(runner, root, cfg)
    m.update(dedup_m)
    phase("dedup")

    runner.sess.close()  # flushes and closes the event log
    log = EventLog(runner.sess.event_dir)
    op_tasks = log.tasks_where(lambda j: log.job_group.get(j) in traced)
    m["plans.executor_cpu_s"] = (sum(t["cpu_ns"] for t in op_tasks) / 1e9 / n, "s")
    m["plans.shuffle_write_bytes"] = (sum(t["shuffle_w"] for t in op_tasks) / n, "bytes")
    m["plans.spill_bytes"] = (sum(t["spill"] for t in op_tasks) / n, "bytes")
    m["plans.task_skew"] = (task_skew(op_tasks), "ratio")

    progress = [p for p in log.progress
                if drive["t0_ms"] <= _iso_ms(p.get("timestamp")) <= drive["t1_ms"]]
    for name in STREAM_PHASES:
        vals = [p["durationMs"].get(name, 0) / 1000 for p in progress]
        m[f"streaming.{name}_s"] = (percentile(vals, 50) if vals else 0.0, "s")
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000
    m["streaming.drain_tail_s"] = (drive["wall_s"] - trig, "s")
    drive_jobs = log.jobs_in_window(drive["t0_ms"], drive["t1_ms"])
    d_tasks = log.tasks_where(lambda j: j in drive_jobs)
    m["streaming.jobs_per_drive"] = (len(drive_jobs), "count")
    m["streaming.tasks_per_drive"] = (len(d_tasks), "count")
    m["streaming.executor_cpu_s"] = (sum(t["cpu_ns"] for t in d_tasks) / 1e9, "s")

    detail = {
        "traced_ops": len(traced), "plain_ops": len(plain),
        "triggers": len(progress), "drive": drive, "phases_s": phases,
    }
    return m, detail


def _iso_ms(ts: str | None) -> float:
    """Epoch milliseconds of a streaming progress timestamp
    (``2024-01-01T00:00:00.000Z``)."""
    if not ts:
        return -1.0
    from datetime import datetime, timezone

    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000
