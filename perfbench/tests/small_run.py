"""Run one workload at its smallest size, for the benchmark's own tests.

    python3 perfbench/tests/small_run.py record|run WORKLOAD SEED TRACE GOLDENS

``record`` writes the small-size golden of ``SEED`` into the file
``GOLDENS``; ``run`` is one benchmark run checked against it. The caller
gives each invocation its own environment (``perfbench.run.isolated_env``).
"""

from __future__ import annotations

import sys

from perfbench import goldens, harness, workloads


def shrink(goldens_path: str) -> None:
    workloads.FA_PROPERTIES = 2_000
    workloads.QUERY_TABLES = dict(n_orders=1_500, n_events=1_000, n_documents=300, n_embeddings=300)
    harness.GOLDENS = goldens.GOLDENS = goldens_path


if __name__ == "__main__":
    mode, workload, seed, trace, path = sys.argv[1:]
    shrink(path)
    if mode == "record":
        goldens.record([workload], range(int(seed), int(seed) + 1))
    else:
        sys.exit(harness.main(["--workload", workload, "--seed", seed, "--seconds", "1", "--trace", trace]))
