"""Self-check of the benchmark: each workload at tiny size, untraced and
traced, must pass every result check and emit every metric that
BENCHMARK.json names, with its unit. A copy of the benchmark alone, without
the engine, must fail without printing a result.

    python3 perfbench/selfcheck.py

Run from the repository root; takes a few minutes (one Spark start per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int, seconds: int = 1) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    tag = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{tag}: {result['failed']} of {result['attempted']} ops failed")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{tag}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errors.append(f"{tag}: {k} is not a number")
    if not any(line.startswith('{"inputs"') for line in proc.stdout.splitlines()):
        errors.append(f"{tag}: no input-size record")
    print(f"{tag}: {result['attempted']} ops, {result['failed']} failed", flush=True)
    return errors


def check_bare_copy() -> list[str]:
    """BENCHMARK.json and perfbench/ alone: the engine is missing, so the
    run must exit non-zero and print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "mor_scan", 0)
        last = proc.stdout.strip().splitlines()[-1:] if proc.stdout.strip() else []
        if proc.returncode == 0 or any('"correct"' in line for line in last):
            return [f"bare copy: exit {proc.returncode}, stdout {proc.stdout[-500:]!r}"]
        print(f"bare copy: exit {proc.returncode}, no result", flush=True)
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_bare_copy()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(spec, w["name"], trace)
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
