#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how much each metric
spreads: the interquartile range of the values as a share of their median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.

    python3 perfbench/spread.py --workload packets --runs 10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t = time.perf_counter()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=HERE.parent, capture_output=True, text=True, check=True,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        row = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed} ({time.perf_counter() - t:.0f} s): {row}", flush=True)
    for name, vals in values.items():
        s = spread(vals)
        bound = bounds.get(name, float("nan"))
        print(f"{args.workload} {name}: median {statistics.median(vals):.4g},"
              f" spread {s:.4f}, bound {bound}, bound/3 {bound / 3:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
