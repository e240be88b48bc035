"""Benchmark entry point.

    python3 perfbench/run.py --workload fa_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each invocation runs one workload in a
fresh child process (``perfbench/harness.py``) with its own ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and working directory under ``.perfbench_runs/``,
all removed when the child has ended. The child's stdout is passed
through; its last line is the result object.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 170


def isolated_env(run_dir: str) -> dict[str, str]:
    """Environment of a run: its own temp and Spark scratch dirs under
    ``run_dir`` (created here), one Spark core per available CPU."""
    env = dict(os.environ)
    for sub in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="4g",
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("fa_etl", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "firstamerican_etl_spark")):
        print("perfbench: no firstamerican_etl_spark package next to perfbench/", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    env = isolated_env(run_dir)
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
    ]
    # SIGTERM unwinds through the cleanup below instead of orphaning the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), env=env, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        # the child's process group holds the JVM and Python workers
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
