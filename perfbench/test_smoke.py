"""The benchmark's own test: every workload in smoke mode (tiny inputs, one
round; two when traced) must pass its correctness checks and emit every
metric ``BENCHMARK.json`` names, with that metric's unit.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session; the six cases take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke(workload: str, trace: int) -> None:
    spec = _spec()
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], report["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    env = report["environment"]
    assert env["cpus"] == env["nproc"]
    if trace and workload == "table_scan":
        for tier in ("snapshot_skip", "memory", "driver_prune", "distributed"):
            assert result["metrics"][f"table.planning.tier.{tier}"]["value"] >= 1, tier
    if trace and workload == "query_suite":
        assert all(v["value"] == 0 for k, v in result["metrics"].items()
                   if k.startswith("table.")), "query_suite touched the table layer"
    if trace and workload == "table_ingest":
        assert result["metrics"]["table.manifest_avro.write_s"]["value"] > 0
        assert result["metrics"]["table.manifest_avro.write_bytes"]["value"] > 0
