"""Smoke test of the benchmark: every workload at sf 0.001, untraced and
traced.  Each run must pass its own checks and print every metric that
``BENCHMARK.json`` names, with its unit.  About five minutes on 4 CPUs.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_inputs_are_byte_identical_per_seed():
    import gen

    tables = ["customer", "orders", "documents", "embeddings"]
    root = os.path.join(HERE, ".runs", f"test-{os.getpid()}")
    try:
        digests = []
        for out in ("a", "b", "other"):
            gen.write_fixture_dir(6 if out == "other" else 5, 0.001, os.path.join(root, out), tables)
            digests.append(gen.digest(glob.glob(os.path.join(root, out, "*.parquet"))))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert digests[0] == digests[1] != digests[2]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_checks_and_prints_every_metric(workload, trace):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        assert f"{m['name']}: " in p.stdout  # the human-readable line too
