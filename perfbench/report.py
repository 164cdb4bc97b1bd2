"""Per-layer report for one workload and seed: runs it untraced, then
traced, prints the per-layer metrics and the tracing overhead (traced
minus untraced median op latency).

    python3 perfbench/report.py WORKLOAD SEED [SECONDS]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: str, seconds: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", seed, "--seconds", seconds, "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    workload, seed = sys.argv[1], sys.argv[2]
    seconds = sys.argv[3] if len(sys.argv) > 3 else "10"
    plain = run(workload, seed, seconds, 0)
    traced = run(workload, seed, seconds, 1)
    for name, m in plain["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print()
    for name, m in traced["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    base = plain["metrics"]["latency_p50_s"]["value"]
    over = traced["metrics"]["trace.latency_p50_s"]["value"] - base
    print(f"\ntracing overhead: {over:+.4f} s per op ({over / base:+.1%} of {base:.4f} s)")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
