"""Tiny-scale runs of every workload through the benchmark's own command.

    python3 -m pytest perfbench/tests -q

Each run must pass its correctness check and print exactly the metrics
BENCHMARK.json declares. Takes a few minutes: every run starts Spark.
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
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_is_correct_and_prints_every_metric(workload, trace):
    res = _result(_run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC[section]
    }
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in m.values()), m
    elif workload == "crawl_wave":
        # every url is seeded, so round 1 never probes a seen set
        assert m["seen.probe_s"] == 0 and m["seen.candidates"] == 0
    else:
        assert m["seen.probe_s"] > 0 and m["seen.candidates"] > 0 and m["seen.maybe"] > 0


def test_same_seed_same_inputs(tmp_path):
    import config
    import inputs

    w = config.workload("crawl_steady", "tiny")
    digests = []
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        inputs._generate(w, 5, str(tmp_path / d))
        with open(tmp_path / d / "oracle.json") as f:
            digests.append(json.load(f))
    assert digests[0] == digests[1]
    other = tmp_path / "c"
    os.makedirs(other)
    inputs._generate(w, 6, str(other))
    with open(other / "oracle.json") as f:
        assert json.load(f)["order"] != digests[0]["order"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
