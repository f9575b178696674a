#!/usr/bin/env python3
"""Self-test: a corrupted output must be counted as failed.

    python3 perfbench/selftest.py [--workload image_caption] [--seed 1]

Runs the benchmark with ``--corrupt`` (every repetition's output is damaged
before it is checked: a dropped CSV row, a dropped join pair, a flipped
cluster label) and asserts that the result line reports every attempted
repetition as failed and the run as not correct.  Exits 0 when it does.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="image_caption")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    proc = subprocess.run(
        [sys.executable, run, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", "1", "--trace", "0", "--corrupt"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    failed_ratio = result["failed"] / result["attempted"]
    print(f"{args.workload}: attempted={result['attempted']} failed={result['failed']} "
          f"failed_ratio={failed_ratio} correct={result['correct']}")
    if result["correct"] or failed_ratio != 1.0:
        sys.exit("self-test FAILED: corrupted outputs were not all counted as failed")
    print("self-test passed")


if __name__ == "__main__":
    main()
