"""The benchmark's own tests: a smoke-sized run of every workload, and the
refusal to run in a checkout without the program.

    python3 -m pytest perfbench -q
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


def _run(cwd: str, workload: str, trace: int = 0, smoke: bool = True):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace)] + (["--smoke"] if smoke else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["loop_fat_payload", "loop_multihop", "query_mix"])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1
    if workload != "loop_multihop":  # multihop may lose flows (see README.md)
        assert out["failed"] == 0
    names = [m["name"] for m in _spec()["end_to_end"]]
    assert sorted(out["metrics"]) == sorted(names)
    assert all(out["metrics"][n]["value"] > 0 for n in names)


def test_smoke_traced_run_prints_every_per_layer_metric():
    proc = _run(ROOT, "loop_fat_payload", trace=1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    names = [m["name"] for m in _spec()["per_layer"]]
    assert sorted(out["metrics"]) == sorted(names)
    assert out["metrics"]["feedback.worker.batches"]["value"] > 0
    assert out["metrics"]["transport.appends.internal"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "query_mix")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_plan_is_a_function_of_the_seed():
    import loop

    cfg = loop.WORKLOADS["loop_multihop"]
    a = loop.make_plan(cfg, cfg["ladder"], 3, 6.0)
    b = loop.make_plan(cfg, cfg["ladder"], 3, 6.0)
    c = loop.make_plan(cfg, cfg["ladder"], 4, 6.0)
    assert a == b and a != c
    assert [s["rate"] for s in a["steps"]] == cfg["ladder"]
    hops = {e["hops"] for e in a["events"] if e["kind"] == "flow"}
    assert hops <= set(range(cfg["hops"][0], cfg["hops"][1] + 1))
