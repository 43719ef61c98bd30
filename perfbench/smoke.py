#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark.

    python3 perfbench/smoke.py

For every workload in ``BENCHMARK.json`` and both ``--trace`` values it
runs ``run.py`` on a fifth of the normal input, then checks that the run
exits 0, that every named metric is printed with its unit (as a text line
and in the final JSON line), and that every output check passed.  It also
checks that a directory holding only ``BENCHMARK.json`` and the benchmark
fails without printing a result.  Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.2"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_run(proc, expected: dict[str, str]) -> list[str]:
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if set(result) != RESULT_KEYS:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append("output checks failed: " + " | ".join(l for l in lines if l.startswith("check failed")))
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    if got != expected:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(expected))}")
    for name, m in result["metrics"].items():
        if not math.isfinite(m["value"]):
            problems.append(f"{name} is {m['value']}")
        if not any(l.startswith(f"{name} ") and l.endswith(f" {m['unit']}") for l in lines[:-1]):
            problems.append(f"{name} not printed with its unit")
    if not any(l.startswith("error_rate 0 ") for l in lines):
        problems.append("error_rate is not 0")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    for section, trace in (("end_to_end", 0), ("per_layer", 1)):
        expected = {m["name"]: m["unit"] for m in spec[section]}
        for workload in spec["workloads"]:
            problems = check_run(run(ROOT, workload["name"], trace), expected)
            print(f"{workload['name']} --trace {trace}: {'ok' if not problems else 'FAILED'}", flush=True)
            for p in problems:
                print(f"  {p}")
            if problems:
                return 1

    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(bare, spec["workloads"][0]["name"], 0)
        printed_result = proc.stdout.strip().endswith("}")
        ok = proc.returncode != 0 and not printed_result
        print(f"bare directory: {'ok' if ok else 'FAILED'} (exit {proc.returncode})")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
