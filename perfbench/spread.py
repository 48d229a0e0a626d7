#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
quartile spread (IQR / median), the statistic the acceptance bounds apply
to.

    python3 perfbench/spread.py --workload clips_cold --seeds 1-10 --seconds 14

Each run is a separate process, as in a real measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import quartiles  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=14)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds(args.seeds):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        result = json.loads(lines[-1])
        bad += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = {k: round(m["value"], 4) for k, m in result["metrics"].items()}
        print(f"seed {seed}: {time.time() - t:.1f}s correct={result['correct']} {shown}", flush=True)
    for name, vals in values.items():
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={spread:.4f} n={len(vals)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
