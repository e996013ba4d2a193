#!/usr/bin/env python3
"""Tracing overhead, per workload: traced minus untraced on the same
seeds.

    python3 perfbench/overhead.py --workload frontier_pop --seeds 1 2 3

Runs ``run.py`` untraced and traced for each seed, alternating which
goes first, and prints one JSON line with the median ``wave_s_p50``
of each side, their difference and the difference as a share of the
untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int, seconds: float) -> float:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    m = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    return m["trace.wave_s_p50" if trace else "wave_s_p50"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    walls: dict[int, list[float]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            walls[trace].append(run(args.workload, seed, trace, args.seconds))
    untraced, traced = (statistics.median(walls[t]) for t in (0, 1))
    print(json.dumps({
        "workload": args.workload, "seeds": args.seeds,
        "untraced_wave_s_p50": untraced, "traced_wave_s_p50": traced,
        "overhead_s": traced - untraced,
        "overhead_share": (traced - untraced) / untraced,
        "runs": walls,
    }))


if __name__ == "__main__":
    main()
