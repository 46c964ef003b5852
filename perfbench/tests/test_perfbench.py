"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The pure tests need no Spark; the smoke tests start the benchmark
command from the repo root (one process per run) on the bundled sf0.001
tables.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import seqstats  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


# ---------------------------------------------------------------- seeding


def _take(gen, n):
    return [next(gen) for _ in range(n)]


def test_same_seed_same_op_sequence():
    ops = workloads.WORKLOADS["dashboard_etl"].ops
    assert _take(seqstats.rounds(7, ops), 5) == _take(seqstats.rounds(7, ops), 5)
    assert _take(seqstats.rounds(7, ops), 5) != _take(seqstats.rounds(8, ops), 5)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_round_runs_every_op_type(name):
    ops = workloads.WORKLOADS[name].ops
    for rnd in _take(seqstats.rounds(3, ops), 4):
        assert sorted(rnd) == sorted(ops)


def test_same_seed_same_query_vectors():
    corpus = np.random.default_rng(0).standard_normal((50, 8))
    a = _take(workloads.vector_requests(11, corpus, 10), 12)
    b = _take(workloads.vector_requests(11, corpus, 10), 12)
    c = _take(workloads.vector_requests(12, corpus, 10), 12)
    assert a == b
    assert a != c
    for op, q, label in a:
        assert op in workloads.WORKLOADS["vector_serving"].ops
        assert abs(np.linalg.norm(q) - 1.0) < 1e-9
        assert 0 <= label < 10


# ---------------------------------------------------------- tail percentile


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tail_percentile_leaves_ten_samples_beyond(name):
    wl = workloads.WORKLOADS[name]
    n = wl.min_samples
    assert seqstats.samples_beyond(n, wl.tail_pct) >= seqstats.TAIL_MIN_BEYOND
    # and it is the highest such percentile
    assert wl.tail_pct == seqstats.tail_pct_for(n)
    assert seqstats.samples_beyond(n, wl.tail_pct + 1) < seqstats.TAIL_MIN_BEYOND
    # more rounds than the minimum only adds samples beyond it
    assert seqstats.samples_beyond(n + len(wl.ops), wl.tail_pct) >= seqstats.TAIL_MIN_BEYOND


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert seqstats.percentile(xs, 50) == 50
    assert seqstats.percentile(xs, 90) == 90
    assert seqstats.samples_beyond(100, 90) == 10


# --------------------------------------------------------------- metric names


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _ in run.END_TO_END] + [n for n, _ in run.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert seqstats.METRIC_NAME.fullmatch(name), name
        assert name[0].isalnum(), name


def test_benchmark_json_matches_the_harness():
    spec = _spec()
    for w in spec["workloads"]:
        assert w["why"] == workloads.WORKLOADS[w["name"]].why
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ------------------------------------------------------------ layer accounting


def test_op_layers_split_the_timeline():
    op = {
        "start": 0.0, "end": 10.0, "cpu": 1.0, "py4j_cpu": 0.2,
        "segments": [("harness", 0.0, 1.0), ("llm.vectors", 1.0, 6.0), ("harness", 6.0, 10.0)],
        "py4j": [(1.0, 5.0), (6.0, 9.5)],
        "jobs": [(2.0, 4.0), (7.0, 9.0)],
        "calls": {"llm.vectors": 3}, "py4j_calls": 7,
        "stages": [], "catalyst": [{"analysis": 0.1}], "triggers": [], "sql": {},
    }
    out = tracer.op_layers(op, cores=4)
    assert out["llm.vectors.job_s"] == pytest.approx(2.0)
    assert out["llm.vectors.self_s"] == pytest.approx(3.0)
    assert out["harness.job_s"] == pytest.approx(2.0)
    assert out["harness.self_s"] == pytest.approx(3.0)
    assert out["exec.job_wall_s"] == pytest.approx(4.0)
    assert out["exec.idle_s"] == pytest.approx(6.0)
    assert out["py4j.s"] == pytest.approx(7.5)
    assert out["trace.python_cpu_s"] == pytest.approx(0.8)
    assert out["trace.reconcile"] == pytest.approx(0.83)
    assert out["catalyst.analysis_s"] == pytest.approx(0.1)


def test_sql_metric_values_parse():
    assert tracer.metric_value("1,234") == 1234
    assert tracer.metric_value("12.5 KiB") == 12.5 * 1024
    assert tracer.metric_value("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") == 2 * 1024 * 1024


def test_wrapping_keeps_behaviour_and_counts_calls():
    import types

    mod = types.ModuleType("fake_mod")
    exec("def f(x):\n    return x + 1\n\ndef _private(x):\n    return x\n", mod.__dict__)
    tracer.wrap_module(mod, "llm.fake")
    t = tracer.TRACER
    assert mod._private(1) == 1 and not hasattr(mod._private, "__wrapped__")
    was_on, t.on = t.on, True
    try:
        t.calls.clear()
        assert mod.f(1) == 2
        assert t.calls["llm.fake"] == 1
    finally:
        t.on = was_on


# ------------------------------------------------------------------ smoke runs


def _run(tmp_root, *args, timeout=180):
    return subprocess.run(
        [sys.executable, os.path.join(tmp_root, "perfbench", "run.py"), *args],
        cwd=tmp_root, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace,names", [(0, run.END_TO_END), (1, run.PER_LAYER)])
def test_smoke_run_prints_every_metric_with_its_unit(trace, names):
    proc = _run(ROOT, "--workload", "dashboard_etl", "--seed", "1", "--seconds", "1", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == list(names)
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "error_rate" in proc.stderr


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".run", "__pycache__"))
    shutil.copy(SPEC_PATH, tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), "--workload", "dashboard_etl", "--seed", "1", "--seconds", "1", "--trace", "0",
                timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
