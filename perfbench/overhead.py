"""Tracing overhead: run one workload untraced, then traced, on the same
seed, and print the difference in timed wall seconds per operation.

    python3 perfbench/overhead.py --workload query_mix --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WALL = re.compile(r"perfbench: (\d+) operations, .* timed wall ([\d.]+) s")


def wall_per_op(workload: str, seed: int, seconds: float, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout
    ops, wall = WALL.search(out).groups()
    return float(wall) / int(ops)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = wall_per_op(a.workload, a.seed, a.seconds, 0)
    traced = wall_per_op(a.workload, a.seed, a.seconds, 1)
    print(f"{a.workload}: untraced {plain:.3f} s/op, traced {traced:.3f} s/op, "
          f"overhead {traced - plain:+.3f} s/op ({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
