"""Smoke test of the benchmark: every workload at a few thousand docs,
untraced and traced, in one process started from outside the repository
root (so the Spark Python workers must find the engine package through
the path the benchmark sets, not through the working directory).

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_smoke_reports_every_metric_and_passes_every_check():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=HERE, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    metrics = result["metrics"]
    for workload in bench["workloads"]:
        for spec in bench["end_to_end"] + bench["per_layer"]:
            key = f"{workload['name']}/{spec['name']}"
            assert key in metrics, key
            assert metrics[key]["unit"] == spec["unit"], key
    for workload in bench["workloads"]:
        for spec in bench["end_to_end"]:
            assert metrics[f"{workload['name']}/{spec['name']}"]["value"] > 0
