"""Smoke test of the benchmark at a tiny generated size.

    python3 perfbench/smoke_test.py            # or: python3 -m pytest perfbench/smoke_test.py

For every workload, with tracing off and on, it checks that the run
exits 0, that its last stdout line is the result object, that every
metric ``BENCHMARK.json`` names is emitted with its unit, and that no
op failed. It also checks that the benchmark refuses to run, without a
result line, in a directory that holds only ``BENCHMARK.json`` and the
benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, (result, proc.stderr[-3000:])
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}, set(got) ^ {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
        if not trace:
            assert got[m["name"]]["value"] > 0, m["name"]


def test_workloads() -> None:
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            check_workload(w["name"], trace)


def test_refuses_without_program() -> None:
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    test_refuses_without_program()
    test_workloads()
    print("smoke test passed", file=sys.stderr)
