"""Tracing for the traced run (``--trace 1``).

``NullTracer`` is what timed runs use: every hook is a no-op.
``EventLogTracer`` records spans around the benchmark's own calls into
each layer and reads Spark's event log afterwards for the ``spark`` layer.

No program file is edited. Layer functions are wrapped by rebinding the
names that modules of ``firstamerican_etl_spark`` hold for them, and the
originals are restored before the output checks.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time

from perfbench import eventlog
from perfbench.workloads import QUERIES

#: Spark conf of every benchmark session.
BASE_CONF = {"spark.ui.showConsoleProgress": "false"}


class NullTracer:
    def spark_conf(self, event_dir: str) -> dict[str, str]:
        return dict(BASE_CONF)

    def start(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def top_span(self, name: str, it: int):
        yield

    def iteration_done(self, it: int, wall: float) -> None:
        pass

    def detach(self) -> None:
        pass


PACKAGE = "firstamerican_etl_spark"
TOP_GROUPS = ("run_pipeline", "count_merged") + QUERIES
PER_GROUP_METRICS = ("jobs", "driver_gap_s", "task_run_s", "python_s")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    return (
        ["session.start_s", "session.restart_s"]
        + [f"sources.{m}" for m in ("extract_s", "extract_bytes", "write_s", "write_bytes", "load_s", "load_calls")]
        + [f"pipeline.{m}" for m in ("fa_stage_s", "fa_rank_s", "fa_unify_s")]
        + [f"plans.{m}.{q}" for m in ("build_s", "exec_s") for q in QUERIES]
        + [f"operators.{m}" for m in ("stage_hits", "stage_misses", "stage_hit_ratio", "stage_bytes")]
        + [f"spark.{m}" for m in eventlog.SPAN_METRICS]
        + [f"spark.{m}.{g}" for g in TOP_GROUPS for m in PER_GROUP_METRICS]
        + [f"trace.{m}" for m in ("overhead", "span_coverage_min", "invalid_metrics", "unattributed_jobs")]
    )


def _unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith(("ratio", "util", "overhead", "coverage_min")):
        return "ratio"
    return "count"


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class EventLogTracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.lock = threading.Lock()
        self.top: list[eventlog.Span] = []
        self.layer: list[tuple[str, int, float, float]] = []  # (category, bytes, t0, t1)
        self.iterations: list[tuple[int, float, float]] = []  # (it, start_ms, end_ms)
        self.counts = {"stage_hits": 0, "stage_misses": 0, "stage_bytes": 0, "load_calls": 0}
        self.patches: list[tuple[object, str | None, object]] = []
        self.wrapped: dict = {}
        self.event_dir = ""
        self.spark = None

    # -- hooks called by the harness -------------------------------------

    def spark_conf(self, event_dir: str) -> dict[str, str]:
        os.makedirs(event_dir, exist_ok=True)
        self.event_dir = event_dir
        return {
            **BASE_CONF,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def start(self, spark) -> None:
        self.spark = spark
        self._install()

    @contextlib.contextmanager
    def top_span(self, name: str, it: int):
        group = name.split(".", 1)[1] if name.startswith(("plan.", "exec.")) else name
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.workload}:{name}#{it}", name)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            t1 = time.time() * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.top.append(eventlog.Span(name, group, it, t0, t1))

    def iteration_done(self, it: int, wall: float) -> None:
        end_ms = time.time() * 1000.0
        self.iterations.append((it, end_ms - wall * 1000.0, end_ms))

    # -- layer wrappers --------------------------------------------------

    def _rebind(self, original, wrapper) -> None:
        self.wrapped[original] = wrapper
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self.patches.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def _record(self, category: str, t0: float, nbytes: int = 0) -> None:
        with self.lock:
            self.layer.append((category, nbytes, t0, time.time() * 1000.0))

    def _wrap(self, fn, categories, nbytes=None):
        def wrapper(*args, **kwargs):
            t0 = time.time() * 1000.0
            out = fn(*args, **kwargs)
            n = nbytes(args, kwargs, out) if nbytes else 0
            cats = categories(args, kwargs) if callable(categories) else categories
            for cat in cats:
                self._record(cat, t0, n)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _install(self) -> None:
        from firstamerican_etl_spark.operators import scale
        from firstamerican_etl_spark.pipeline import convert, run, unify
        from firstamerican_etl_spark.sources import io

        def write_categories(args, kwargs):
            path = os.path.normpath(args[1] if len(args) > 1 else kwargs["path"])
            parent, leaf = os.path.split(path)
            if os.path.basename(parent) == "staging":
                return ("sources.write", "pipeline.fa_rank" if leaf.startswith("ranked_") else "pipeline.fa_stage")
            if os.path.basename(parent) == "unified":
                return ("sources.write", "pipeline.fa_unify")
            return ("sources.write",)

        def write_bytes(args, kwargs, out):
            return _du(args[1] if len(args) > 1 else kwargs["path"])

        def load(args, kwargs):
            with self.lock:
                self.counts["load_calls"] += 1
            return ("sources.load",)

        self._rebind(io.extract_zips, self._wrap(
            io.extract_zips, ("sources.extract",), lambda a, k, out: sum(_du(p) for p in out)))
        self._rebind(io.write_parquet, self._wrap(io.write_parquet, write_categories, write_bytes))
        self._rebind(io.load_table, self._wrap(io.load_table, load))
        for name in ("read_family_csv", "clean_deed", "clean_prop", "clean_taxhist", "clean_valhist"):
            self._rebind(getattr(convert, name), self._wrap(getattr(convert, name), ("pipeline.fa_stage",)))
        for name in ("rank_deed", "valhist_long"):
            self._rebind(getattr(convert, name), self._wrap(getattr(convert, name), ("pipeline.fa_rank",)))
        self._rebind(unify.unify, self._wrap(unify.unify, ("pipeline.fa_unify",)))
        # run.py also holds the clean/rank functions in a dict
        stages = dict(run._FAMILY_STAGES)
        run._FAMILY_STAGES.update(
            (fam, tuple(self.wrapped.get(fn, fn) for fn in fns)) for fam, fns in stages.items()
        )
        self.patches.append((run._FAMILY_STAGES, None, stages))

        stage_once, shared_stage = scale.stage_once, scale.shared_stage

        def counted_stage_once(df, prefix, reuse_key=None, return_path=False):
            path = os.path.join(scale.process_stage_dir(prefix), reuse_key or "data")
            hit = bool(reuse_key) and os.path.exists(os.path.join(path, "_SUCCESS"))
            out = stage_once(df, prefix, reuse_key=reuse_key, return_path=return_path)
            self._count_stage(hit, path)
            return out

        def counted_shared_stage(prefix, key, write_fn, markers=("_SUCCESS",)):
            wrote = []

            def write(tmp):
                wrote.append(tmp)
                return write_fn(tmp)

            final = shared_stage(prefix, key, write, markers)
            self._count_stage(not wrote, final)
            return final

        self._rebind(stage_once, counted_stage_once)
        self._rebind(shared_stage, counted_shared_stage)

    def _count_stage(self, hit: bool, path: str) -> None:
        n = 0 if hit else _du(path)
        with self.lock:
            self.counts["stage_hits" if hit else "stage_misses"] += 1
            self.counts["stage_bytes"] += n

    def detach(self) -> None:
        for target, attr, original in reversed(self.patches):
            if attr is None:
                target.update(original)
            else:
                setattr(target, attr, original)
        self.patches.clear()
        self.wrapped.clear()

    # -- results ---------------------------------------------------------

    def finish(self, spark, untraced_warm, traced_walls: list[float], setups: list[float]) -> dict:
        """Stop the traced session, parse its event log, then measure the
        untraced warm wall on a fresh session for the overhead ratio."""
        from perfbench.harness import bring_up

        cores = spark.sparkContext.defaultParallelism
        log_path = os.path.join(self.event_dir, spark.sparkContext.applicationId)
        spark.stop()
        spark = bring_up(BASE_CONF)
        untraced_walls = untraced_warm(spark)
        spark.stop()
        return self.metrics(eventlog.parse(log_path), cores, setups, traced_walls, untraced_walls)

    def metrics(self, log, cores: int, setups, traced_walls, untraced_walls) -> dict:
        per_span, unattributed = eventlog.attribute(log, self.top, self.workload, cores)
        bad = eventlog.invalid_metrics(per_span, cores)
        warm = [it for it, _s, _e in self.iterations if it > 0]
        values: dict[str, float] = {name: 0.0 for name in per_layer_names()}

        values["session.start_s"] = setups[0]
        values["session.restart_s"] = _median(setups[1:])

        def per_iteration(category: str) -> tuple[float, float]:
            """Medians over warm iterations of the union of the calls'
            intervals and of their byte counts."""
            secs, nbytes = [], []
            for it, s, e in self.iterations:
                if it in warm:
                    calls = [(t0, t1, n) for cat, n, t0, t1 in self.layer
                             if cat == category and t1 >= s and t0 <= e]
                    secs.append(eventlog.union_s([(max(t0, s), min(t1, e)) for t0, t1, _n in calls]))
                    nbytes.append(sum(n for _t0, _t1, n in calls))
            return _median(secs), _median(nbytes)

        for cat in ("sources.extract", "sources.write", "sources.load",
                    "pipeline.fa_stage", "pipeline.fa_rank", "pipeline.fa_unify"):
            values[cat + "_s"], nbytes = per_iteration(cat)
            if cat in ("sources.extract", "sources.write"):
                values[cat + "_bytes"] = nbytes
        values["sources.load_calls"] = self.counts["load_calls"]

        for span_kind, prefix in (("plan.", "plans.build_s."), ("exec.", "plans.exec_s.")):
            for q in QUERIES:
                values[prefix + q] = _median([
                    (s.end_ms - s.start_ms) / 1000.0 for s in self.top
                    if s.name == span_kind + q and s.it in warm
                ])

        hits, misses = self.counts["stage_hits"], self.counts["stage_misses"]
        values["operators.stage_hits"] = hits
        values["operators.stage_misses"] = misses
        values["operators.stage_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        values["operators.stage_bytes"] = self.counts["stage_bytes"]

        for m in eventlog.SPAN_METRICS:
            totals = []
            for it in warm:
                inst = [per_span[s.tag] for s in self.top if s.it == it]
                if m == "slot_util":
                    job_s = sum(x["job_s"] for x in inst)
                    totals.append(sum(x["task_run_s"] for x in inst) / (job_s * cores) if job_s else 0.0)
                else:
                    totals.append(sum(x[m] for x in inst))
            values[f"spark.{m}"] = _median(totals)
        for g in TOP_GROUPS:
            for m in PER_GROUP_METRICS:
                values[f"spark.{m}.{g}"] = _median([
                    sum(per_span[s.tag][m] for s in self.top if s.group == g and s.it == it)
                    for it in warm if any(s.group == g and s.it == it for s in self.top)
                ])

        coverage = []
        for it, s, e in self.iterations:
            covered = eventlog.union_s([
                (max(sp.start_ms, s), min(sp.end_ms, e)) for sp in self.top if sp.it == it
            ])
            coverage.append(covered / ((e - s) / 1000.0))
        values["trace.span_coverage_min"] = min(coverage)
        if min(coverage) < 0.9:
            bad.add("span_coverage")
        if untraced_walls:
            values["trace.overhead"] = _median(traced_walls) / _median(untraced_walls)
        else:
            bad.add("overhead")
        values["trace.invalid_metrics"] = len(bad)
        values["trace.unattributed_jobs"] = unattributed
        if bad:
            print(f"[perfbench] INVALID trace metrics: {sorted(bad)}", file=sys.stderr)
        return {name: {"value": v, "unit": _unit(name)} for name, v in values.items()}
