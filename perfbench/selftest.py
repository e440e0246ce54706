#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced at
``--scale tiny``, and asserts that each run exits 0, that its last stdout
line names exactly the metrics ``BENCHMARK.json`` lists for that mode, each
with the listed unit and a finite value, and that no operation failed
(error ratio 0). A traced run reads 0 for a layer its workload does not
touch, so the self-test also asserts that every per-layer metric is one
that some workload declares it produces (the run itself fails when a
declared one is missing). Then checks that the benchmark refuses to run,
printing no result, from a directory that holds only ``BENCHMARK.json`` and
the benchmark's own files.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "2",
        "--trace", str(trace), "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)


def check_result(workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        problems.append(f"{where}: error ratio {res['failed']}/{res['attempted']}")
    wanted = BENCHMARK["per_layer" if trace else "end_to_end"]
    if set(res["metrics"]) != {m["name"] for m in wanted}:
        problems.append(f"{where}: metric names differ from BENCHMARK.json")
    for m in wanted:
        entry = res["metrics"].get(m["name"])
        if entry is None or entry["unit"] != m["unit"] or not math.isfinite(entry["value"]):
            problems.append(f"{where}: {m['name']} = {entry}")
    return problems


def check_layers_covered() -> list[str]:
    """Every per-layer name is produced by at least one workload's traced run."""
    produced: set[str] = set()
    for w in BENCHMARK["workloads"]:
        path = os.path.join(ROOT, ".perfbench_out", f"{w['name']}-seed1-trace1.json")
        with open(path) as fh:
            produced |= set(json.load(fh)["layers_produced"])
    missing = sorted({m["name"] for m in BENCHMARK["per_layer"]} - produced)
    return [f"per-layer metrics no workload produces: {missing}"] if missing else []


def check_bare_dir() -> list[str]:
    """Only BENCHMARK.json and the benchmark's files: must fail, no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCHMARK["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = run(bare, BENCHMARK["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return ["bare directory: the benchmark printed a result or exited 0"]
    return []


def main() -> int:
    problems = []
    for name in [w["name"] for w in BENCHMARK["workloads"]]:
        for trace in (0, 1):
            problems += check_result(name, trace)
    if not problems:
        problems += check_layers_covered()
    problems += check_bare_dir()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
