"""Smoke test of the benchmark itself. Run from the repository root::

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs one traced run with a single
timed pass and checks that the summary prints every end-to-end metric with
its unit, that the JSON line carries exactly the declared per-layer metrics
with their units, and that the run completed (``run.py`` itself fails a
traced run in which a Spark job or an op has no attributed stage). It also
checks that the benchmark refuses to run in a directory that holds only
the benchmark. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def check(cond: bool, msg: str) -> None:
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    for wl in spec["workloads"]:
        name = wl["name"]
        p = run(["--workload", name, "--seed", "1", "--seconds", "0", "--trace", "1"])
        check(p.returncode == 0, f"{name}: exit {p.returncode}\n{p.stderr[-3000:]}")
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        check(got == layers, f"{name}: per-layer metrics differ: {set(got) ^ set(layers)}")
        for metric, unit in {**e2e, **layers, "op_tail_s": "s"}.items():
            check(
                any(line.startswith(f"{metric} ") and f" {unit}" in line for line in lines),
                f"{name}: summary does not print {metric} in {unit}",
            )
        check(any(line.startswith("correct: ") for line in lines), f"{name}: no verdict")
        print(f"ok {name}: {result['attempted']} ops, {result['failed']} failed")

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1"], cwd=bare)
    shutil.rmtree(bare)
    check(p.returncode != 0 and not p.stdout.strip(), "runs without the program")
    print("ok bare directory: refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
