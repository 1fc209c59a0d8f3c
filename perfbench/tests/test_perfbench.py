"""The benchmark's own tests: a fast smoke of every workload, the
corrupted-result check, the empty-directory refusal, and the statistics
and span arithmetic.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about half a minute each) at sf 0.001.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT, seed: int = 7):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _report(workload: str, trace: int, seed: int = 7) -> dict:
    path = os.path.join(ROOT, ".perfbench", "reports", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == workloads.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layers == {
        **{k: workloads.layer_unit(k) for k in workloads.PRINTED_LAYERS},
        **workloads.LAUNCHER_LAYERS,
    }


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_traced_run_emits_every_metric(workload):
    proc = _run(workload, 1, "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want

    rep = _report(workload, 1)
    units = {**{k: workloads.layer_unit(k) for k in workloads.ALL_LAYERS}, **workloads.LAUNCHER_LAYERS}
    assert {k: v["unit"] for k, v in rep["per_layer"].items()} == units
    for name, unit in workloads.E2E_UNITS.items():
        assert rep["end_to_end"][name]["unit"] == unit
    assert rep["error_rate"] == 0.0
    assert rep["tracing_overhead"]
    # span self-times never add up to more than the run's wall time
    spans = rep["spans"]
    wall = max(s["end_s"] for s in spans) - min(s["start_s"] for s in spans)
    assert all(s["self_s"] >= -1e-6 for s in spans)
    assert sum(s["self_s"] for s in spans) <= wall + 1e-6
    if workload != "stream_score":
        assert rep["query_records"] and all(r["dominant_layer"] for r in rep["query_records"])
    else:
        assert rep["per_layer"]["sources.pyds.records_read_per_written"]["value"] == 1.0


def test_untraced_run_prints_every_end_to_end_metric():
    proc = _run("query_mix", 0, "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload,op", [
    ("query_mix", "q6_forecast_revenue"),
    ("stream_score", "stream_score"),
])
def test_corrupted_result_counts_as_failure(workload, op):
    proc = _run(workload, 0, "--scale", "0.001", "--corrupt", op, seed=8)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed"] >= 1 and not out["correct"]
    assert _report(workload, 0, seed=8)["error_rate"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_latency_tail_has_ten_samples_beyond_it():
    s = harness.latency_summary([float(i) for i in range(100)])
    assert s["tail_percentile"] == 90.0 and s["samples"] == 100
    assert sum(1 for i in range(100) if i > s["tail"]) >= 10
    small = harness.latency_summary([1.0, 2.0, 3.0])
    assert small["tail_percentile"] == 50.0 and small["tail"] == small["p50"] == 2.0


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer", op="a"):
        with t.span("inner"):
            pass
    outer, inner = sorted(t.spans, key=lambda s: s.start)
    selfs = t.self_times()
    assert inner.op == "a" and inner.parent == outer.sid
    assert abs(selfs[outer.sid] - (outer.duration - inner.duration)) < 1e-9


def test_untraced_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []
