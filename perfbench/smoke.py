"""Smoke run of the harness itself: every workload on tiny inputs, once
untraced and once traced, checking the output contract of each run.

    python3 perfbench/smoke.py

Exits 0 when every run printed a correct result line naming exactly the
metrics BENCHMARK.json lists for its trace mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def smoke(workload: str, trace: int, expected: set[str]) -> str | None:
    """Problem with one run, or None."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return f"exit {p.returncode}: {p.stderr[-2000:]}"
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        return f"incorrect result {result}"
    if set(result["metrics"]) != expected:
        return f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ expected)}"
    return None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    runs = [(w["name"], t) for w in bench["workloads"] for t in (0, 1)]
    # two runs at a time: each holds a local Spark JVM
    with ThreadPoolExecutor(max_workers=2) as pool:
        problems = list(pool.map(lambda r: smoke(r[0], r[1], expected[r[1]]), runs))
    for (workload, trace), problem in zip(runs, problems):
        print(f"{'FAIL' if problem else 'ok  '} {workload} trace={trace}" + (f": {problem}" if problem else ""))
    return 1 if any(problems) else 0


if __name__ == "__main__":
    sys.exit(main())
