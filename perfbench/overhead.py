"""Tracing overhead: the same workload and seed run untraced and
traced, and each end-to-end figure compared (traced / untraced).

    python3 perfbench/overhead.py --seed N [--seconds S] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

WORKLOADS = ("serve", "churn", "neardup")


def report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    rep = json.loads(next(line for line in out if line.startswith("report: "))[len("report: "):])
    run = rep["runs"][0]
    return {**run["e2e"], **{k: v for k, v in run["report"].items() if isinstance(v, float)}}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("workloads", nargs="*", default=WORKLOADS)
    args = ap.parse_args()
    for w in args.workloads:
        plain = report(w, args.seed, args.seconds, 0)
        traced = report(w, args.seed, args.seconds, 1)
        for k, v in plain.items():
            t = traced.get(k)
            ratio = f"{t / v:.3f}" if t and v else "n/a"
            print(f"{w:8s} {k:22s} untraced {v:12.6g}  traced {t if t is None else f'{t:12.6g}'}  ratio {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
