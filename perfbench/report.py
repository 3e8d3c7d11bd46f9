"""Run every workload once untraced and once traced, and print the report.

    python3 perfbench/report.py [--seed 1] [--seconds 10]

For each workload this prints every end-to-end metric with its unit and
the ops attempted and failed (from the untraced run), the same figures
from the traced run (their difference is the tracing overhead), and the
per-layer table of the traced run, op kinds ranked by the share of their
wall time that falls between Spark jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "analytics")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    for wl in WORKLOADS:
        plain, result = run(wl, args.seed, args.seconds, 0)
        traced, _ = run(wl, args.seed, args.seconds, 1)
        print(f"== {wl}: attempted {result['attempted']}, failed {result['failed']}, "
              f"correct {str(result['correct']).lower()}")
        for name, m in result["metrics"].items():
            print(f"{wl}.{name} = {m['value']:.6g} {m['unit']}")
        print("-- untraced run")
        print("\n".join(line for line in plain if line.startswith(("# wall", "# JIT")) or "_p50:" in line))
        print("-- traced run")
        print("\n".join(traced))
    return 0


if __name__ == "__main__":
    sys.exit(main())
