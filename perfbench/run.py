"""Benchmark entry point.

    python3 perfbench/run.py --workload tweets_batch --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It makes a fresh temp root under
``.perfbench_tmp/`` in the checkout, runs the benchmark (``harness.py``) in
a child process with a pinned environment (``PYTHONHASHSEED``, ``TMPDIR``,
Spark local dirs), then stops every process the child left behind and
removes the temp root. The child prints the result as the last line of
standard output. Settings both sides of a comparison must share are in
``settings.json`` beside this file.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "big_data_analysis_of_twitter_emoji_usage_spark"
RUN_TIMEOUT_S = 170


def _stop_group(pgid: int) -> None:
    """Terminate, then kill, every process left in the child's process
    group (the Spark JVM), and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {cwd}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "settings.json"), encoding="utf-8") as f:
        session = json.load(f)["session"]
    tmp_base = os.path.join(cwd, ".perfbench_tmp")
    tmp = os.path.join(tmp_base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        PYTHONHASHSEED=session["pythonhashseed"],
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(session["shuffle_partitions"]),
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), *sys.argv[1:], "--tmp", tmp],
        env=env,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        rc = 3
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass  # another run still uses it, or it is already gone
    return rc


if __name__ == "__main__":
    sys.exit(main())
