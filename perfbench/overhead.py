#!/usr/bin/env python3
"""Tracing overhead of one workload and seed: an untraced run, then a
traced run, and the difference of their end-to-end figures.

    python3 perfbench/overhead.py --workload asof_serving --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _result(args, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(trace),
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    plain, traced = _result(args, 0), _result(args, 1)
    print(
        json.dumps(
            {
                name: {
                    "untraced": plain[name]["value"],
                    "traced": traced[f"trace.{name}"]["value"],
                    "overhead": traced[f"trace.{name}"]["value"] - plain[name]["value"],
                    "unit": "s",
                }
                for name in ("op_p50_s", "cycle_s")
            }
        )
    )


if __name__ == "__main__":
    main()
