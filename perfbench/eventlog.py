"""Read a Spark event log (uncompressed JSON lines) and attribute its
jobs, stages, tasks and SQL metrics to the benchmark's top-level spans.

A job belongs to the span named by its job group
(``<workload>:<span>#<iter>``) when it has one, else to the span whose
time window holds its submission time: the loop has one client and one
top-level span at a time, and jobs that library threads submit (the FA
pipeline's family threads, streaming micro-batches) carry no group.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

#: Plan nodes whose "time to run Python workers" metric is ``python_s``.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "FlatMapCoGroupsInPandas",
    "ApplyInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
)
PYTHON_RUN_METRIC = "time to run Python workers"

#: Per-span metrics, in report order.
SPAN_METRICS = (
    "jobs", "stages", "tasks", "job_s", "driver_gap_s", "task_run_s",
    "task_cpu_s", "gc_s", "slot_util", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "python_s", "aqe_replans",
)

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Span:
    name: str
    group: str
    it: int
    start_ms: float
    end_ms: float

    @property
    def tag(self) -> str:
        return f"{self.name}#{self.it}"


@dataclass
class _Stage:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    python_ms: float = 0.0


@dataclass
class _Job:
    submit_ms: float
    end_ms: float = 0.0
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, _Job]
    stages: dict[int, _Stage]
    stage_job: dict[int, int]
    sql_starts: dict[int, float]
    aqe_updates: dict[int, int]


def _python_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") in PYTHON_NODES:
        out.update(
            m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == PYTHON_RUN_METRIC
        )
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


def parse(path: str) -> EventLog:
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    py_ids: set[int] = set()
    for e in events:
        if "sparkPlanInfo" in e:
            _python_accumulators(e["sparkPlanInfo"], py_ids)

    jobs: dict[int, _Job] = {}
    stages: dict[int, _Stage] = defaultdict(_Stage)
    stage_job: dict[int, int] = {}
    sql_starts: dict[int, float] = {}
    aqe: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = _Job(e["Submission Time"], group=props.get("spark.jobGroup.id"),
                       stage_ids=list(e["Stage IDs"]))
            jobs[e["Job ID"]] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages[e["Stage ID"]]
            st.tasks += 1
            st.run_ms += m["Executor Run Time"]
            st.cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            st.spill += m["Disk Bytes Spilled"]
            sr = m["Shuffle Read Metrics"]
            st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in e["Task Info"].get("Accumulables", ()):
                if acc["ID"] in py_ids:
                    st.python_ms += float(acc["Update"])
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            sql_starts[e["executionId"]] = e["time"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            aqe[e["executionId"]] += 1
    return EventLog(jobs, dict(stages), stage_job, sql_starts, dict(aqe))


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length in seconds of the union of ``(start_ms, end_ms)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _owner(spans: list[Span], by_tag: dict[str, Span], workload: str, t_ms: float,
           group: str | None) -> Span | None:
    if group and group.startswith(workload + ":"):
        span = by_tag.get(group[len(workload) + 1:])
        if span is not None:
            return span
    for span in spans:
        if span.start_ms <= t_ms <= span.end_ms:
            return span
    return None


def attribute(log: EventLog, spans: list[Span], workload: str, cores: int
              ) -> tuple[dict[str, dict[str, float]], int]:
    """Per-span-instance metrics keyed by ``Span.tag``, and the number of
    jobs inside the traced window that no span owns."""
    by_tag = {s.tag: s for s in spans}
    owned: dict[str, list[int]] = defaultdict(list)
    lo = min(s.start_ms for s in spans)
    hi = max(s.end_ms for s in spans)
    unattributed = 0
    for jid, job in log.jobs.items():
        span = _owner(spans, by_tag, workload, job.submit_ms, job.group)
        if span is not None:
            owned[span.tag].append(jid)
        elif lo <= job.submit_ms <= hi:
            unattributed += 1
    sql_owner: dict[str, int] = defaultdict(int)
    for sql_id, t in log.sql_starts.items():
        span = _owner(spans, by_tag, workload, t, None)
        if span is not None:
            sql_owner[span.tag] += log.aqe_updates.get(sql_id, 0)

    out: dict[str, dict[str, float]] = {}
    for span in spans:
        jids = owned.get(span.tag, [])
        jid_set = set(jids)
        ran = [sid for sid, jid in log.stage_job.items() if jid in jid_set and sid in log.stages]
        sts = [log.stages[sid] for sid in ran]
        wall_s = (span.end_ms - span.start_ms) / 1000.0
        job_s = union_s([
            (max(log.jobs[j].submit_ms, span.start_ms), min(log.jobs[j].end_ms or span.end_ms, span.end_ms))
            for j in jids
        ])
        run_s = sum(s.run_ms for s in sts) / 1000.0
        out[span.tag] = {
            "jobs": len(jids),
            "stages": len(ran),
            "tasks": sum(s.tasks for s in sts),
            "job_s": job_s,
            "driver_gap_s": max(wall_s - job_s, 0.0),
            "task_run_s": run_s,
            "task_cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
            "gc_s": sum(s.gc_ms for s in sts) / 1000.0,
            "slot_util": run_s / (job_s * cores) if job_s > 0 else 0.0,
            "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
            "shuffle_read_bytes": sum(s.shuffle_read for s in sts),
            "spill_bytes": sum(s.spill for s in sts),
            "python_s": sum(s.python_ms for s in sts) / 1000.0,
            "aqe_replans": sql_owner.get(span.tag, 0),
            "wall_s": wall_s,
        }
    return out, unattributed


def invalid_metrics(per_span: dict[str, dict[str, float]], cores: int) -> set[str]:
    """Unit checks against wall time. A metric that fails on any span
    instance is invalid for the whole run."""
    bad: set[str] = set()
    for m in per_span.values():
        wall = m["wall_s"]
        if m["job_s"] > wall + 0.01:
            bad.add("job_s")
        for name in ("task_run_s", "task_cpu_s"):
            if m[name] > cores * wall * 1.05 + 0.1:
                bad.add(name)
        for name in ("gc_s", "python_s"):
            if m[name] > m["task_run_s"] * 1.05 + 0.1:
                bad.add(name)
        if m["slot_util"] > 1.05:
            bad.add("slot_util")
    return bad
