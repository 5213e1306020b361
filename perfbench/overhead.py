"""Tracing overhead: traced end-to-end metrics minus untraced ones.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload uniform-knn --seed 1 --seconds 20

Runs ``perfbench/run.py`` once with ``--trace 0`` and once with
``--trace 1`` on the same seed, then prints one JSON object: for every
end-to-end metric, the untraced value, the traced value and their
difference. The traced run's end-to-end values are on the line before its
result line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    detail = json.loads(out.strip().splitlines()[-2])
    return {k: v["value"] for k, v in detail["e2e"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    off, on = run(args, 0), run(args, 1)
    print(json.dumps({k: {"untraced": off[k], "traced": on[k], "overhead": on[k] - off[k]}
                      for k in off if k in on}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
