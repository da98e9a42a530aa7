#!/usr/bin/env python3
"""Tracing overhead: the traced end-to-end values minus the untraced ones.

    python3 perfbench/overhead.py --workload serve --seed 1 [--seconds 10]

Runs ``run.py`` twice on the same seed, once with ``--trace 0`` and once
with ``--trace 1``, and prints, per end-to-end metric, both values and
their difference (absolute and as a share of the untraced value). The
traced run reports its end-to-end values in its ``report:`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    for line in out.stdout.splitlines():
        if line.startswith("report: "):
            return json.loads(line[len("report: "):])["metrics"]
    raise RuntimeError(f"no report line from the trace={trace} run")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    rows = {name: {"untraced": plain[name], "traced": traced[name],
                   "overhead": traced[name] - plain[name],
                   "overhead_share": (traced[name] - plain[name]) / plain[name]
                   if plain[name] else None}
            for name in plain if name in traced}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "overhead": rows}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
