"""One benchmark run, inside the isolated environment ``run.py`` sets up.

Closed loop, one client: each operation starts when the previous one has
returned its collected result.

1. Set-up, ``setup_reps`` times: start a fresh SparkSession, stage the
   workload's inputs into a fresh directory, and run one warm-up pass over
   the operation list. ``setup_s`` is the median of these set-ups; the
   first one includes the JVM launch.
2. Warm-up: ``warmup_rounds`` further rounds, untimed, so the window
   starts closer to the JIT's steady state. The warm-up is identical on
   every run, so the timed window always starts at the same point of the
   JIT's warm-up curve; its seconds are in the detail line.
3. Timed window (``--seconds``): rounds over the operation list, in the
   workload's order, until the time is up and at least ``min_rounds``
   rounds have run. The last round is completed, so every operation type
   is sampled equally often; ``min_rounds`` keeps at least ten samples
   beyond the tail percentile on a slow host.
4. Correctness gate, outside the window: one result per operation type is
   checked against an answer computed without the engine. An operation
   that raises or mismatches counts as failed.

With ``--trace 1`` the session writes a Spark event log, the window
alternates plain and traced rounds, and the layer probes in ``layers.py``
run after it; only per-layer metrics are printed then.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())  # the checkout's engine package

import workloads  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tmp", required=True)
    p.add_argument("--scale", type=float, default=1.0,
                   help="shrink every input size (self-test only)")
    return p.parse_args(argv)


def load_settings(scale: float) -> dict:
    with open(os.path.join(HERE, "settings.json"), encoding="utf-8") as f:
        s = json.load(f)
    if scale != 1.0:
        s["workloads"]["tweets_batch"]["n_tweets"] = max(200, int(s["workloads"]["tweets_batch"]["n_tweets"] * scale))
        s["workloads"]["catalog_floor"]["scale"] *= scale
        lp = s["layer_probe"]
        lp["tweets"] = max(200, int(lp["tweets"] * scale))
        lp["catalog_scale"] *= scale
        lp["dedup_docs"] = max(40, int(lp["dedup_docs"] * scale))
    return s


def yardstick() -> float:
    """Host-speed yardstick that runs no engine code: median of three
    timings of a fixed pure-Python loop."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def percentile(xs, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Session:
    """Owns the run's SparkSession and its directories."""

    def __init__(self, settings: dict, tmp: str, trace: bool):
        self.cfg = settings["session"]
        self.tmp = tmp
        self.event_dir = os.path.join(tmp, "eventlog") if trace else None
        self.spark = None

    def restart(self) -> float:
        """Stop the current session, if any, and start a fresh one;
        returns the start time in seconds."""
        if self.spark is not None:
            self.spark.stop()
        from big_data_analysis_of_twitter_emoji_usage_spark.core import get_spark

        jtmp = os.path.join(self.tmp, "java")
        os.makedirs(jtmp, exist_ok=True)
        conf = {
            "spark.driver.memory": self.cfg["driver_memory"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
            "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS", jtmp),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=self.cfg["master"],
            shuffle_partitions=self.cfg["shuffle_partitions"],
            extra_conf=conf,
        )
        return time.perf_counter() - t

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    def __init__(self, args, settings):
        self.args = args
        self.settings = settings
        self.wl = workloads.WORKLOADS[args.workload](
            settings["workloads"][args.workload], args.seed
        )
        self.sess = Session(settings, args.tmp, bool(args.trace))
        self.failures: list[str] = []
        self.attempted = 0
        self.results: dict[str, tuple] = {}

    def run_op(self, op, spark):
        """Build, execute and collect one op; returns its wall time, or
        None when it raised (counted as failed). The first result of each
        op type is kept for the correctness gate."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            df = op.build(spark)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a failing op is counted, not fatal
            self.failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = time.perf_counter() - t
        self.results.setdefault(op.name, (df.columns, rows))
        return dt

    def setup(self):
        """``setup_reps`` fresh set-ups; returns (per-rep seconds,
        per-rep session start seconds)."""
        reps, starts = [], []
        for rep in range(self.settings["setup_reps"]):
            t = time.perf_counter()
            starts.append(self.sess.restart())
            self.wl.stage(self.sess.spark, os.path.join(self.args.tmp, f"inputs{rep}"))
            ops = self.wl.ops()
            for i in self.wl.order(-1 - rep):
                self.run_op(ops[i], self.sess.spark)
            reps.append(time.perf_counter() - t)
        return reps, starts

    def warmup(self) -> float:
        """``warmup_rounds`` further rounds after the set-ups, so the
        timed window starts near the JIT's steady state; returns their
        seconds."""
        ops = self.wl.ops()
        t = time.perf_counter()
        for k in range(self.settings["warmup_rounds"]):
            for i in self.wl.order(-100 - k):
                self.run_op(ops[i], self.sess.spark)
        return time.perf_counter() - t

    def window(self, on_op=None):
        """The timed window: whole rounds until ``--seconds`` have passed
        and ``min_rounds`` have run.
        ``on_op(round_no, op)`` may replace how an op is run (the traced
        run); it returns the op's wall time or None. The gate checks the
        results of this window, not those of the warm-up passes."""
        self.results.clear()
        ops = self.wl.ops()
        lat: list[float] = []
        per_op: dict[str, list[float]] = {}
        rounds: list[tuple[int, float]] = []  # (items, seconds) per round
        round_no = 0
        t0 = time.perf_counter()
        min_rounds = self.wl.cfg["min_rounds"]
        while time.perf_counter() - t0 < self.args.seconds or round_no < min_rounds:
            items = 0
            t_round = time.perf_counter()
            for i in self.wl.order(round_no):
                op = ops[i]
                if on_op is None:
                    dt = self.run_op(op, self.sess.spark)
                else:
                    dt = on_op(round_no, op)
                if dt is not None:
                    lat.append(dt)
                    per_op.setdefault(op.name, []).append(dt)
                    items += op.items
            rounds.append((items, time.perf_counter() - t_round))
            round_no += 1
        return lat, per_op, rounds, time.perf_counter() - t0

    def gate(self) -> list[str]:
        """Check one result per op type; returns the mismatches."""
        bad = []
        for name, (cols, rows) in sorted(self.results.items()):
            try:
                err = self.wl.check(name, cols, rows)
            except Exception as e:
                err = f"{name}: check raised {type(e).__name__}: {e}"
            if err:
                bad.append(err)
        return bad


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    settings = load_settings(args.scale)
    yard = yardstick()
    runner = Runner(args, settings)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "yardstick_s": round(yard, 6)}
    try:
        reps, starts = runner.setup()
        detail.update(setup_reps_s=reps, session_start_s=starts, warmup_s=runner.warmup())
        if args.trace:
            import layers

            metrics, extra = layers.traced_run(runner, starts)
            detail.update(extra)
        else:
            lat, per_op, rounds, wall = runner.window()
            tail = runner.wl.cfg["tail_pct"]
            # Throughput of the median round: a round runs every op type
            # once, and the median discards rounds a host stall hit.
            items, secs = sorted(rounds, key=lambda r: r[1])[len(rounds) // 2]
            metrics = {
                "latency_p50_s": (percentile(lat, 50), "s"),
                "latency_tail_s": (percentile(lat, tail), "s"),
                "items_per_s": (items / secs, "1/s"),
                "setup_s": (statistics.median(reps), "s"),
            }
            detail.update(
                samples=len(lat), tail_pct=tail,
                samples_beyond_tail=round(len(lat) * (100 - tail) / 100, 1),
                window_s=wall, rounds=len(rounds), item=runner.wl.item,
                round_s=[round(r[1], 4) for r in rounds],
                op_p50_s={k: statistics.median(v) for k, v in sorted(per_op.items())},
            )
        mismatches = runner.gate()
        detail["yardstick_end_s"] = round(yardstick(), 6)
    finally:
        runner.sess.close()
    failures = runner.failures + mismatches
    detail["failures"] = failures
    print(json.dumps({"detail": detail}), file=sys.stderr)
    result = {
        "correct": not failures and all(v == v for v, _ in metrics.values()),
        "attempted": runner.attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
