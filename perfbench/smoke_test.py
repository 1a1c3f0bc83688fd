"""Smoke test of the benchmark itself (not part of the engine's tier-1 suite).

    python3 -m pytest perfbench/smoke_test.py -q

Runs every workload on small inputs with a few ops, untraced and
traced, and checks that each metric prints by name with its unit,
that the output checks pass, and that the same seed run twice gives
identical counts. Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# kv_mixed: three 10-op cycles, so the third, traced, cycle holds a
# compaction (commit 6, op 29); one pass for the query workloads
SECONDS = {"kv_mixed": 15, "olap_headline": 1, "dedup_replica": 1}
COUNTS = ("spark.jobs", "spark.tasks", "txlog.touched_files", "spark.result_rows")


def _run(workload: str, trace: int, seed: int = 3) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS[workload]), "--trace", str(trace),
         "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    gated = [w["name"] for w in bench["workloads"]]
    assert set(gated) <= set(run.WORKLOAD_NAMES)
    for w in gated:
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units(w)


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_workload(workload):
    rc, out, err = _run(workload, trace=0)
    assert rc == 0, err[-3000:]
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] == WORKLOADS[workload].n_ops(SECONDS[workload])
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())
    for name, unit in run.END_TO_END.items():
        assert re.search(rf"^perfbench:\s+{re.escape(name)}\s+\S+ {re.escape(unit)}$", err, re.M)

    traces = []
    for _ in range(2):
        rc, out, err = _run(workload, trace=1)
        assert rc == 0, err[-3000:]
        assert out["correct"]
        layers = {k: v["value"] for k, v in out["metrics"].items()}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == run.per_layer_units(workload)
        if workload == "kv_mixed":
            assert layers["txlog.compactions"] > 0
            assert layers["txlog.compact_ms"] > 0 and layers["self.txlog.compact_ms"] > 0
        traces.append({k: layers[k] for k in COUNTS})
    assert traces[0] == traces[1]
    assert traces[0]["spark.jobs"] > 0
