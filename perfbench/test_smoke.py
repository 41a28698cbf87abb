"""Benchmark smoke tests.  Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

The generator test takes seconds; each workload smoke run starts Spark
and takes about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, d)] = digest
    return out


def test_same_seed_gives_identical_files(tmp_path):
    runs = []
    for k in range(2):
        base, ref = tmp_path / f"base{k}", tmp_path / f"ref{k}"
        gen.base_tables(str(base), 0.001, seed=3)
        manifest = gen.reference_inputs(str(ref), str(base), seed=3)
        runs.append((_digests(str(base)), _digests(str(ref))))
    assert runs[0] == runs[1]
    assert manifest["planted_malformed_csv_rows"] > 0
    assert manifest["planted_orphan_xml_children"] > 0
    other = tmp_path / "base-other"
    gen.base_tables(str(other), 0.001, seed=4)
    assert _digests(str(other)) != runs[0][0]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_smoke(workload, trace):
    cmd = [
        *BENCH["command"], "--workload", workload, "--seed", "1",
        "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"]
