"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``run.py`` from the root of a checkout with the
benchmark's own arguments, at the tiny input preset, and reads its
last stdout line. A run takes 25-45 s.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--size", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert set(json.loads(lines[-1])) == {"correct", "attempted", "failed", "metrics"}
    return json.loads(lines[-1]) | {"report": json.loads(lines[-2])}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    r = _result(_run(ROOT, "--workload", workload, "--trace", str(trace)))
    wanted = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in r["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert r["report"]["failed_frac"] == [0.0, "ratio"]
    if not trace:
        assert all(r["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_wrong_expected_result_is_counted_not_fatal():
    r = _result(_run(ROOT, "--workload", "registry_mix", "--wrong-expected"))
    assert not r["correct"]
    assert 0 < r["failed"] <= r["attempted"]
    assert r["report"]["failed_frac"][0] == r["failed"] / r["attempted"]


def test_fails_without_the_engine():
    """A directory holding only BENCHMARK.json and the benchmark."""
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in BENCHMARK["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "--workload", WORKLOADS[0])
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
