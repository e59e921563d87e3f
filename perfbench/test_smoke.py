"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end twice on one seed (traced and untraced,
each in a fresh process, ~1 min per pair on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import document_texts, vector_inputs  # noqa: E402
from run import END_TO_END, load_spec, per_layer_names  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _parse(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1])
    spans_path = next(l.split(" ", 1)[1] for l in lines if l.startswith("spans "))
    with open(spans_path) as f:
        return result, json.load(f)


def test_benchmark_json_names_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names(load_spec())
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def test_inputs_follow_the_seed():
    a, b, c = (vector_inputs(s, 64, n_extra=8) for s in (1, 1, 2))
    for field in ("vectors", "probes", "extra", "delete_order"):
        assert (getattr(a, field) == getattr(b, field)).all()
    assert not (a.vectors == c.vectors).all()
    assert document_texts(1, 20, 3) == document_texts(1, 20, 3)
    assert document_texts(1, 20, 3) != document_texts(2, 20, 3)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_end_to_end(workload):
    spec = load_spec()
    untraced, dump0 = _parse(_bench(ROOT, workload, 3, 0))
    traced, dump1 = _parse(_bench(ROOT, workload, 3, 1))
    for result in (untraced, traced):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1

    e2e = untraced["metrics"]
    assert list(e2e) == list(END_TO_END)
    assert all(m["unit"] == "s" and m["value"] > 0 for m in e2e.values())
    layer = traced["metrics"]
    assert set(layer) == set(per_layer_names(spec))
    for name, m in layer.items():
        unit = "ms" if name.endswith("_ms") else "s" if name.endswith("_s") else "count"
        assert m["unit"] == unit and m["value"] >= 0, (name, m)

    spans = dump1["spans"]
    for i, s in enumerate(spans):
        assert s["run"] == dump1["run"] and s["end"] >= s["start"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert s["parent"] < i and p["start"] <= s["start"] and s["end"] <= p["end"]
        children = sum(c["end"] - c["start"] for c in spans if c["parent"] == i)
        assert s["end"] - s["start"] - children >= 0, s["name"]

    # the checked answers depend on the seed only, not on tracing
    assert dump0["outputs"] == dump1["outputs"] and dump0["outputs"]


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "vector_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
