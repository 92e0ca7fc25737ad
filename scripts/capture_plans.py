#!/usr/bin/env python
"""Capture .explain("formatted") for every bench-flagged query into
plans/<round>/<query>_<tag>.txt (per-round optimization evidence).

Usage: python scripts/capture_plans.py <round> <tag> <sf_dir> [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("round", help="output sub-directory of plans/, e.g. r15")
    ap.add_argument("tag", help="file-name suffix, e.g. before / after")
    ap.add_argument("sf_dir", help="testdata scale-factor directory")
    ap.add_argument("query", nargs="*", help="only these bench queries")
    args = ap.parse_args(argv)

    from findb_spark.registry import registration_order_specs
    from findb_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    specs = [s for s in registration_order_specs().values() if s.bench]
    if args.query:
        specs = [s for s in specs if s.name in set(args.query)]
    for spec in specs:
        try:
            df = spec.fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            text = f"ERROR building {spec.name}: {e}\n"
        path = os.path.join(out_dir, f"{spec.name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_ex = text.count("Exchange")
        print(f"{spec.name}: {len(text)} bytes, Exchange x{n_ex} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
