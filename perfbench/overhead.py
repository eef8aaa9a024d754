"""Tracing overhead: run one workload untraced and traced on the same
seed and print, for each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload kv --seed 1 --seconds 15

The traced run's end-to-end values come from its detail line (the line
before the final result line).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def measure(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-2])["end_to_end"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    plain = measure(a.workload, a.seed, a.seconds, 0)
    traced = measure(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({
        "workload": a.workload,
        "seed": a.seed,
        "untraced": plain,
        "traced": traced,
        "overhead": {k: traced[k] - plain[k] for k in plain},
    }))


if __name__ == "__main__":
    main()
