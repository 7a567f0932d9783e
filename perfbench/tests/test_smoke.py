"""Tiny-scale smoke runs of the benchmark command.

Each workload runs end to end at sf0.001 with small CSV inputs
(``PERFBENCH_TINY=1``), once untraced and once traced; the last line
must carry every metric ``BENCHMARK.json`` names for that mode, with
its unit, and a correct result.  The runs start a JVM each and take
about a minute together per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, *args: str, tiny: bool = True) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    if tiny:
        env["PERFBENCH_TINY"] = "1"
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], float)


def test_refuses_to_run_without_the_engine(tmp_path):
    """A directory holding only the benchmark has no engine to measure:
    the command must fail without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", tiny=False)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
