"""Tracing overhead: the median of ``traced.wall_s`` over traced runs
minus the median of ``wall_s`` over untraced runs on the same seeds.

    python3 perfbench/overhead.py --workload operator_keys --seeds 1 2 3

Runs alternate untraced and traced, one process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    plain, traced = [], []
    for seed in a.seeds:
        plain.append(run(a.workload, seed, a.seconds, 0)["wall_s"]["value"])
        traced.append(run(a.workload, seed, a.seconds, 1)["traced.wall_s"]["value"])
    p, t = stats.median(plain), stats.median(traced)
    print(json.dumps({"workload": a.workload, "seeds": a.seeds, "untraced_wall_s": plain,
                      "traced_wall_s": traced, "overhead_s": t - p,
                      "overhead_share": (t - p) / p}))


if __name__ == "__main__":
    main()
