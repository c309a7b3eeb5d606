"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Run from the root of a checkout. It checks that

- the correctness gate accepts right answers and catches deliberately
  wrong ones, for every workload;
- each run prints, as its last line, a result with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, and that the
  metrics are exactly those ``BENCHMARK.json`` names for the mode, each
  with its unit;
- in a directory holding only ``BENCHMARK.json`` and the benchmark's own
  files, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import workloads  # noqa: E402


def check_gate(scratch: str) -> None:
    tw = workloads.TweetsBatch({"n_tweets": 300, "lines_per_file": 100}, seed=7)
    exp = tw.expected
    q1 = sorted(exp["q1"].items(), key=lambda kv: (-kv[1], kv[0]))
    assert tw.check("q1", ["Emoji", "Count"], q1) is None
    wrong = [(q1[0][0], q1[0][1] + 1), *q1[1:]]
    assert tw.check("q1", ["Emoji", "Count"], wrong), "gate missed a wrong q1 count"
    e, w = exp["q3"]
    assert tw.check("q3", ["a", "b", "c"], [(e, w, e / w)]) is None
    assert tw.check("q3", ["a", "b", "c"], [(e - 1, w, (e - 1) / w)]), "gate missed a wrong q3"
    q4 = [(u, em, c) for (u, em), c in exp["q4"].items()]
    assert tw.check("q4", ["Username", "Emoji", "Count"], q4) is None
    assert tw.check("q4", ["Username", "Emoji", "Count"], q4[1:]), "gate missed a lost q4 row"

    cat = workloads.CatalogFloor({"scale": 0.01, "queries": []}, seed=7)
    cat.stage(None, scratch)
    import duckdb

    from big_data_analysis_of_twitter_emoji_usage_spark.plans import catalog

    con = duckdb.connect()
    for t in os.listdir(cat.sf):
        con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(cat.sf, t)}'")
    for name in ("q7_events_early", "tpch_q1_pricing"):
        rel = con.sql(catalog.ORACLE_SQL[name])
        cols, rows = rel.columns, rel.fetchall()
        assert cat.check(name, cols, rows) is None, name
        bad = [tuple(v + 1 if isinstance(v, (int, float)) else v for v in rows[0]), *rows[1:]]
        assert cat.check(name, cols, bad), f"gate missed a wrong {name} row"
    con.close()
    print("gate: ok")


def check_run(workload: str, trace: int, bench: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "2", "--trace", str(trace), "--scale", "0.05"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=240)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0, p.stderr[-2000:]
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics differ from BENCHMARK.json: {set(got) ^ set(want)} / units"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    print(f"run {workload} trace={trace}: ok ({res['attempted']} ops)")


def check_bare_dir(scratch: str) -> None:
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "tweets_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print("bare directory: ok (exit", p.returncode, ")")


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as f:
        bench = json.load(f)
    os.makedirs(".perfbench_tmp", exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=".perfbench_tmp")
    try:
        check_gate(scratch)
        check_bare_dir(scratch)
        for wl in [w["name"] for w in bench["workloads"]]:
            for trace in (0, 1):
                check_run(wl, trace, bench)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(".perfbench_tmp")
        except OSError:
            pass
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
