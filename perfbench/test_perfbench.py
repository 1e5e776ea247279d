"""The benchmark's own tests: tiny-size smoke runs of every workload
in both modes, a deliberately corrupted output that the check must
catch, and a checkout without the engine that must fail.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each smoke run starts its own Spark JVM, so the file takes a few
minutes.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

SMOKE = ["--seconds", "1", "--scale", "0.05"]


def run_bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    """(exit code, parsed last stdout line or None)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def test_runner_metric_tables_match_benchmark_json():
    sys.path.insert(0, HERE)
    import run

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    import workloads

    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    rc, out = run_bench("--workload", workload, "--seed", "3", "--trace", str(trace), *SMOKE)
    assert rc == 0 and out is not None
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 3
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_is_caught(workload):
    rc, out = run_bench("--workload", workload, "--seed", "3", "--trace", "0", "--corrupt-output", *SMOKE)
    assert rc == 1
    assert out["correct"] is False and out["failed"] == out["attempted"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run_bench("--workload", "clips_full", "--seed", "1", "--trace", "0", *SMOKE, cwd=str(tmp_path))
    assert rc != 0 and out is None
