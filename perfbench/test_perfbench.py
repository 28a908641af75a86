"""Self-test of the benchmark: ``python3 -m pytest perfbench -q``.

Runs every workload once at the tiny size, untraced and traced, from a
working directory outside the repository, and checks the result line
against BENCHMARK.json. Takes a few minutes: each run starts a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(cwd, *args, run_py=os.path.join(HERE, "run.py")):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, run_py, *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(tmp_path, workload, trace):
    p = bench(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    *_, context, result = p.stdout.strip().splitlines()
    result = json.loads(result)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0, json.loads(context)["failures"]  # error_rate 0
    assert result["correct"] is True and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    env = json.loads(context)["env"]
    assert env["seed"] == 3 and env["nproc"] >= 1 and env["arrow_batch"] > 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, it
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(tmp_path, "--workload", "ocr_heavy", "--seed", "1",
              "--seconds", "1", "--trace", "0", run_py="perfbench/run.py")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
