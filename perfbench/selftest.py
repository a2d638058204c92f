"""Tiny-size self-test of the benchmark (about four minutes):

    python3 perfbench/selftest.py

It checks that every end-to-end and per-layer metric of BENCHMARK.json
prints with its unit, that a deliberately corrupted result is counted
as failed, and that the benchmark fails without printing a result when
the engine is not in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "7", "--seconds", "1", "--files", "200"]


def run(root: str, *args: str):
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok   {what}")


def check_metrics(result, wanted, what: str) -> None:
    check(result is not None and set(result) == {"correct", "attempted", "failed", "metrics"},
          f"{what}: last line has exactly the four result keys")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == {m["name"]: m["unit"] for m in wanted}, f"{what}: every metric with its unit")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{what}: correct, nothing failed")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        code, result = run(ROOT, "--workload", w["name"], "--trace", "0", *TINY)
        check(code == 0, f"{w['name']} untraced exits 0")
        check_metrics(result, spec["end_to_end"], f"{w['name']} untraced")
    name = spec["workloads"][0]["name"]
    code, result = run(ROOT, "--workload", name, "--trace", "1", *TINY)
    check(code == 0, f"{name} traced exits 0")
    check_metrics(result, spec["per_layer"], f"{name} traced")

    code, result = run(ROOT, "--workload", name, "--trace", "0", "--corrupt", *TINY)
    check(code == 0 and result is not None, "corrupted run still reports")
    check(not result["correct"] and result["failed"] >= 1, "a corrupted result counts as failed")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, result = run(bare, "--workload", name, "--trace", "0", *TINY)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and result is None, "without the engine: non-zero exit, no result")
    print("selftest passed")


if __name__ == "__main__":
    main()
