"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once at the tiny ``--smoke`` scale,
untraced and traced, and asserts that each run is correct, emits exactly the
declared metrics with their declared units, and ran every check its workload
declares.  Then it copies only BENCHMARK.json and the benchmark's own files
into an empty directory and asserts that the benchmark fails there with a
non-zero exit code and prints no result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int, smoke: bool = True):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace),
    ] + (["--smoke"] if smoke else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> None:
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    proc = _run(REPO, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    host = json.loads(lines[-2])["host"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, (result, host)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, set(got) ^ {m["name"] for m in want}
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m, v)
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (m, v)
        if not trace:
            assert v["value"] > 0, (m, v)
    ran = {k.split("#")[0] for k in host["checks"]}
    assert ran == set(WORKLOADS[workload].check_names), ran
    assert host["default_p"] > 0 and host["nproc"] > 0
    print(f"ok {workload} trace={trace} ({len(got)} metrics, {len(ran)} checks)")


def check_bare_directory() -> None:
    """Only BENCHMARK.json and the benchmark's paths: must fail cleanly."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bare = os.path.join(REPO, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(
                os.path.join(REPO, p), os.path.join(bare, p),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = _run(bare, spec["workloads"][0]["name"], 0, smoke=False)
        assert proc.returncode != 0, proc.stdout
        assert '"metrics"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok bare directory fails without a result")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
