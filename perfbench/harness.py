"""One benchmark run of one workload, in a process of its own.

Started by ``perfbench/run.py``, which gives this process its own
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and working directory and removes them
afterwards. Prints the result object as the last line of stdout.

Timeline of a run:

1. generate the seeded inputs (excluded from every metric);
2. set up ``SETUPS`` times: bring a session up and warm it up, stopping
   it in between (the first bring-up also starts the JVM);
3. one cold iteration, then warm iterations for ``--seconds``;
4. output checks, once, outside the timed region.

With ``--trace 1`` the same run keeps Spark's event log on and records
spans around the benchmark's calls into each layer; afterwards it
restarts the session with tracing off and repeats the warm iterations
to measure the tracing overhead.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

SETUPS = 5
#: Fewest warm iterations a run measures, however long they take.
MIN_WARM = 2
#: No new iteration starts after this many seconds of process time, and
#: the traced run's overhead phase must end by ``RUN_DEADLINE_S``, so a run
#: always ends inside the 180 s it may take.
HARD_STOP_S = 130.0
RUN_DEADLINE_S = 160.0
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def assert_clean_start() -> None:
    """Cold must be cold: no stage-cache generation or warehouse debris
    may be visible where this process will look for it."""
    tmp = tempfile.gettempdir()
    debris = [e for e in os.listdir(tmp) if e.startswith(("fa_shared_", "fa_stage_"))]
    debris += [e for e in ("spark-warehouse", "metastore_db") if os.path.exists(e)]
    if debris:
        raise RuntimeError(f"stale state visible at process start: {debris}")


def warm_up(spark) -> None:
    """The same small JVM warm-up for every workload."""
    spark.range(0, 200_000, numPartitions=spark.sparkContext.defaultParallelism).selectExpr(
        "id % 97 AS k", "id"
    ).groupBy("k").count().collect()


def bring_up(extra_conf: dict[str, str]):
    from firstamerican_etl_spark.session import get_spark

    # keep the JVM's temp files and perf-counter file out of the system temp dir
    jvm_options = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.gettempdir()}"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={**extra_conf, "spark.driver.extraJavaOptions": jvm_options},
    )
    warm_up(spark)
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM the gateway launched, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_golden(workload: str, key: str) -> dict | None:
    with open(GOLDENS) as fh:
        return json.load(fh).get(workload, {}).get(key)


def measure(wl, spark, first_it: int, seconds: float) -> tuple[list[float], list]:
    """Run warm iterations for ``seconds`` (at least ``MIN_WARM``)."""
    walls, ops = [], []
    t_start = time.perf_counter()
    it = first_it
    while not walls or (
        (len(walls) < MIN_WARM or time.perf_counter() - t_start < seconds)
        and time.perf_counter() - _T_PROCESS < HARD_STOP_S
    ):
        wl.before_iteration(it)
        t0 = time.perf_counter()
        ops.extend(wl.iteration(spark, it))
        walls.append(time.perf_counter() - t0)
        wl.tracer.iteration_done(it, walls[-1])
        it += 1
    return walls, ops


def op_p50(ops) -> float:
    """Median latency of each kind of primary call over the warm
    iterations, and with several kinds (the queries of ``query_mix``)
    the geometric mean of those medians, so that no single kind's noise
    sets the figure."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        if op.primary:
            by_kind.setdefault(op.kind, []).append(op.seconds)
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    assert_clean_start()
    workers = len(os.sched_getaffinity(0))
    tracer = trace.EventLogTracer(a.workload) if a.trace else trace.NullTracer()
    wl = WORKLOADS[a.workload](os.path.abspath("inputs"), a.seed, tracer)

    t0 = time.perf_counter()
    wl.generate(workers)
    gen_s = time.perf_counter() - t0
    _log(f"{a.workload}: inputs generated in {gen_s:.2f} s")

    extra_conf = tracer.spark_conf(os.path.abspath("eventlog"))
    setups = []
    spark = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        else:
            wl.prepare()
        spark = bring_up(extra_conf)
        setups.append(time.perf_counter() - (_T_PROCESS + gen_s if i == 0 else t0))
    tracer.start(spark)
    _log(f"{a.workload}: set-up {[round(s, 3) for s in setups]}")

    wl.before_iteration(0)
    t0 = time.perf_counter()
    cold_ops = wl.iteration(spark, 0)
    cold_s = time.perf_counter() - t0
    tracer.iteration_done(0, cold_s)
    walls, ops = measure(wl, spark, 1, a.seconds)
    _log(f"{a.workload}: cold {cold_s:.3f} s, warm {[round(w, 3) for w in walls]}")
    _log("ops cold/warm-median: " + ", ".join(
        f"{k} {sum(o.seconds for o in cold_ops if o.kind == k):.2f}"
        f"/{statistics.median([o.seconds for o in ops if o.kind == k]):.2f}"
        for k in sorted({op.kind for op in ops})))

    tracer.detach()
    golden = load_golden(a.workload, wl.golden_key)
    t0 = time.perf_counter()
    res = wl.check(spark, golden)
    _log(f"{a.workload}: output checks {time.perf_counter() - t0:.2f} s")
    all_ops = cold_ops + ops
    failed = sum(1 for op in all_ops if not op.ok or op.kind in res.failed_kinds)
    if res.failed_kinds:
        _log(f"{a.workload}: output check FAILED for {sorted(res.failed_kinds)}: {res.observed}")
    if res.unchecked:
        _log(f"{a.workload}: UNCHECKED (no golden {wl.golden_key!r}): {res.unchecked}")

    if a.trace:
        def untraced_warm(session) -> list[float]:
            wl.tracer = trace.NullTracer()
            need = (1 + MIN_WARM) * statistics.median(walls) + 10.0
            if time.perf_counter() - _T_PROCESS + need > RUN_DEADLINE_S:
                _log(f"{a.workload}: no time left to measure the tracing overhead")
                return []
            it = len(walls) + 1
            wl.before_iteration(it)
            wl.iteration(session, it)  # the first iteration on a new session is not warm
            return measure(wl, session, it + 1, a.seconds)[0]

        metrics = tracer.finish(spark, untraced_warm, walls, setups)
    else:
        spark.stop()
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "cold_s": {"value": cold_s, "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "op_p50_s": {"value": op_p50(ops), "unit": "s"},
        }
    stop_jvm()
    _log(f"{a.workload}: run {time.perf_counter() - _T_PROCESS:.1f} s")
    print(json.dumps({
        "correct": failed == 0 and not res.unchecked,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
