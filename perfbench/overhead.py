#!/usr/bin/env python3
"""Tracing overhead: the same workload and seed, untraced then traced.

    python3 perfbench/overhead.py --workload index_serve_ingest --seed 1 --seconds 10

Prints, for every end-to-end metric, the untraced and traced values and
their difference (traced minus untraced).  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys


def run(args, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-2])["detail"]["e2e"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    rows = {
        k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k]}
        for k in plain
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
