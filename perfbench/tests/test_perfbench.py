"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import eventlog
from perfbench.run import ROOT, isolated_env
from perfbench.trace import per_layer_names

DATA = os.path.join(os.path.dirname(__file__), "data")
SMALL_RUN = os.path.join(os.path.dirname(__file__), "small_run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def test_union_merges_overlaps():
    assert eventlog.union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog.union_s([]) == 0.0


def test_parse_small_event_log():
    """Two iterations of two spans: ``alpha`` runs a groupBy collect,
    ``beta`` a mapInPandas count plus one job from a thread without a
    job group, which the span's time window claims."""
    log = eventlog.parse(os.path.join(DATA, "small_eventlog.json"))
    with open(os.path.join(DATA, "small_spans.json")) as fh:
        spans = [eventlog.Span(**s) for s in json.load(fh)]
    per_span, unattributed = eventlog.attribute(log, spans, "wl", cores=4)
    assert unattributed == 0
    assert sorted(per_span) == ["alpha#0", "alpha#1", "beta#0", "beta#1"]
    for it in (0, 1):
        alpha, beta = per_span[f"alpha#{it}"], per_span[f"beta#{it}"]
        assert (alpha["jobs"], alpha["stages"], alpha["tasks"]) == (2, 2, 5)
        assert (beta["jobs"], beta["stages"], beta["tasks"]) == (4, 4, 8)
        assert alpha["shuffle_write_bytes"] == alpha["shuffle_read_bytes"] == 921
        assert alpha["python_s"] == 0.0 < beta["python_s"] <= beta["task_run_s"]
        assert alpha["aqe_replans"] == 3
        for m in (alpha, beta):
            assert 0 < m["job_s"] <= m["wall_s"]
            assert m["driver_gap_s"] == pytest.approx(m["wall_s"] - m["job_s"])
    assert eventlog.invalid_metrics(per_span, cores=4) == set()


def test_unit_check_flags_impossible_values():
    m = {"wall_s": 1.0, "job_s": 0.5, "task_run_s": 1.0, "task_cpu_s": 0.5,
         "gc_s": 0.0, "python_s": 9.0, "slot_util": 0.5}
    assert eventlog.invalid_metrics({"x#1": m}, cores=4) == {"python_s"}


def test_metric_names_and_targets_match_benchmark_json():
    assert [m["name"] for m in BENCH["per_layer"]] == per_layer_names()
    with open(os.path.join(ROOT, "perfbench", "targets.json")) as fh:
        targets = json.load(fh)
    assert sorted(targets) == sorted(per_layer_names())
    workloads = {w["name"] for w in BENCH["workloads"]}
    for name, t in targets.items():
        assert set(t["workload"].split(",")) <= workloads, name


def _small(tmp_path, mode: str, workload: str, trace: int, goldens: str) -> dict | None:
    run_dir = tmp_path / f"{mode}-{workload}-{trace}"
    env = isolated_env(str(run_dir))
    proc = subprocess.run(
        [sys.executable, SMALL_RUN, mode, workload, "3", str(trace), goldens],
        cwd=run_dir / "work", env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]) if mode == "run" else None


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smallest_size_run_is_checked_and_correct(tmp_path, workload):
    goldens = tmp_path / "goldens.json"
    goldens.write_text("{}")
    _small(tmp_path, "record", workload, 0, str(goldens))
    out = _small(tmp_path, "run", workload, 0, str(goldens))
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    assert sorted(out["metrics"]) == sorted(m["name"] for m in BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_emits_every_layer_metric(tmp_path):
    goldens = tmp_path / "goldens.json"
    goldens.write_text("{}")
    _small(tmp_path, "record", "fa_etl", 0, str(goldens))
    out = _small(tmp_path, "run", "fa_etl", 1, str(goldens))
    assert out["correct"] is True
    assert list(out["metrics"]) == per_layer_names()
    assert out["metrics"]["trace.invalid_metrics"]["value"] == 0
    assert out["metrics"]["trace.span_coverage_min"]["value"] >= 0.9
    assert out["metrics"]["spark.jobs.run_pipeline"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", "fa_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
