"""Tracing overhead: one untraced and one traced run of a workload on the
same seed, and the traced end-to-end numbers against the untraced ones.

    python3 perfbench/overhead.py --workload cdc_tail --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_PREFIX = "traced end-to-end: "


def run(workload: str, seed: int, seconds: float, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    )
    return out.stdout.strip().splitlines()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    plain = {
        k: v["value"]
        for k, v in json.loads(run(args.workload, args.seed, args.seconds, 0)[-1])[
            "metrics"
        ].items()
    }
    traced_lines = run(args.workload, args.seed, args.seconds, 1)
    traced = next(
        json.loads(line.split(TRACED_PREFIX, 1)[1])
        for line in traced_lines
        if TRACED_PREFIX in line
    )
    print(f"{'metric':<20} {'untraced':>12} {'traced':>12} {'traced/untraced':>16}")
    for k, base in plain.items():
        ratio = traced[k] / base if base else float("nan")
        print(f"{k:<20} {base:>12.5g} {traced[k]:>12.5g} {ratio:>16.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
