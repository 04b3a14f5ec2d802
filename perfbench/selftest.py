"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

For every workload it runs one cycle at sf0.001, untraced and traced, and
asserts that every metric BENCHMARK.json names appears with its unit.
The untraced run drops a row from one op's checked result, which must
count as a failed op. Last, the benchmark must refuse to run, with no
result line, from a directory that holds only BENCHMARK.json and the
benchmark's own files. Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.splitlines()


def _expect_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        raise AssertionError(f"{what}: metrics {got} differ from BENCHMARK.json {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{what}: {k} is not a number: {v['value']!r}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if sorted(w["name"] for w in bench["workloads"]) != sorted(WORKLOADS):
        raise AssertionError("BENCHMARK.json and workloads.py name different workloads")
    for name, workload in WORKLOADS.items():
        corrupt = workload.ops[0][0]
        code, out = _run(ROOT, "--workload", name, "--trace", "0", "--scale", "sf0.001", "--corrupt", corrupt)
        result = json.loads(out[-1])
        _expect_metrics(result, bench["end_to_end"], f"{name} untraced")
        if code or result["correct"] or result["failed"] != 1 or result["attempted"] != len(workload.ops):
            raise AssertionError(f"{name}: corrupted {corrupt} not counted as one failed op: {result}")
        if not any(corrupt in line for line in out if line.startswith("# error_rate")):
            raise AssertionError(f"{name}: corrupted {corrupt} not named among the failing ops")

        code, out = _run(ROOT, "--workload", name, "--trace", "1", "--scale", "sf0.001")
        result = json.loads(out[-1])
        _expect_metrics(result, bench["per_layer"], f"{name} traced")
        if code or not result["correct"] or result["failed"]:
            raise AssertionError(f"{name}: traced run not clean: {result}")
        print(f"ok {name}")

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, out = _run(bare, "--workload", next(iter(WORKLOADS)), "--trace", "0")
        if code == 0 or any(line.startswith("{") for line in out):
            raise AssertionError(f"bare directory: exit {code}, output {out}")
    print("ok bare directory refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
