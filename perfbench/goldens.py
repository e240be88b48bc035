"""Record the committed goldens the output checks compare against.

    python3 -m perfbench.goldens [fa_etl|query_mix ...]

Run from the root of a checkout of the commit whose outputs are the
reference (the parent of a change under test). It runs one iteration of
each input variant in a single session, through the same workload code
the benchmark times, and writes what the checks observe into
``perfbench/goldens.json``. Work files go to a directory under
``.perfbench_runs/`` that is removed afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile

from perfbench.harness import GOLDENS, bring_up, stop_jvm
from perfbench.run import ROOT, isolated_env
from perfbench.trace import BASE_CONF, NullTracer
from perfbench.workloads import VARIANTS, WORKLOADS


def record(names: list[str], seeds: range = range(VARIANTS)) -> dict:
    with open(GOLDENS) as fh:
        goldens = json.load(fh)
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="goldens-", dir=runs)
    os.environ.update(isolated_env(work))
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(os.path.join(work, "work"))  # Spark's warehouse dir lands here
    workers = len(os.sched_getaffinity(0))
    spark = bring_up(BASE_CONF)
    try:
        for name in names:
            for seed in seeds if name == "fa_etl" else [0]:
                wl = WORKLOADS[name](os.path.join(work, f"{name}-{seed}"), seed, NullTracer())
                wl.generate(workers)
                wl.prepare()
                wl.before_iteration(0)
                ops = wl.iteration(spark, 0)
                res = wl.check(spark, None)
                if res.failed_kinds or not all(op.ok for op in ops):
                    raise RuntimeError(f"{name} {wl.golden_key}: no golden from a failing run")
                goldens.setdefault(name, {})[wl.golden_key] = res.observed
                print(f"{name} {wl.golden_key}: {res.observed}", file=sys.stderr)
                shutil.rmtree(wl.root, ignore_errors=True)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)
    with open(GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return goldens


if __name__ == "__main__":
    record(sys.argv[1:] or sorted(WORKLOADS))
