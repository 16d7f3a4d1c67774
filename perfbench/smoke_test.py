"""Smoke tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/smoke_test.py -q      (from the repo root)

Each workload runs once untraced and once traced; every metric of
BENCHMARK.json must be printed with its unit, every check must pass, and
the same seed must give the same inputs and output checksums.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, seed: int, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    checksums = json.loads(re.search(r"output checksums (\{.*\})", proc.stderr).group(1))
    return result, checksums


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_repeats(workload):
    untraced, sums0 = _result(_run(ROOT, workload, 7, 0))
    traced, sums1 = _result(_run(ROOT, workload, 7, 1))
    for result, names in ((untraced, SPEC["end_to_end"]), (traced, SPEC["per_layer"])):
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in names}
        for m in names:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]
    for m in SPEC["end_to_end"]:
        assert untraced["metrics"][m["name"]]["value"] > 0
    # both runs have iteration 0; either may run more, so compare the ones both ran
    common = sums0.keys() & sums1.keys()
    assert "0" in common and all(sums0[k] == sums1[k] for k in common)


def test_same_seed_same_inputs():
    assert inputs.points_pdf(5, 100).equals(inputs.points_pdf(5, 100))
    assert not inputs.points_pdf(5, 100).equals(inputs.points_pdf(6, 100))
    assert inputs.targets_pdf(5, 2, 50).equals(inputs.targets_pdf(5, 2, 50))
    assert not inputs.targets_pdf(5, 2, 50).equals(inputs.targets_pdf(5, 3, 50))
    assert inputs.zones_seed(5, 0) == inputs.zones_seed(5, 0) != inputs.zones_seed(5, 1)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 1, 0)
    assert proc.returncode != 0 and proc.stdout == ""
