#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steady.py --workload small_search --seeds 1-10

For every metric it prints the values, their median and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median: the figure a metric's bound in ``BENCHMARK.json``
must stay well above. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main() -> int:
    here = Path(__file__).resolve().parent
    declared = json.loads((here.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int, default=declared["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    run = here / "run.py"
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, str(run), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.monotonic() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{name}: median {med:.4f} spread {spread:.4f} values "
              + " ".join(f"{v:.4f}" for v in vs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
