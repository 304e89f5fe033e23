#!/usr/bin/env python
"""Ad-hoc paired timing: times named queries with bench.py's own loop
(``bench._measure``: one cold run, then best-of-N warm reps of
``fn(spark, sf_dir).collect()``) in one session and prints one JSON line
with each query's best/median/worst warm time (``null`` if it failed).

Usage:
    python scripts/time_queries.py [--sf-dir DIR] name [name...]

This is a measurement tool, not the graded bench — bench.py's last line
is the only graded output. For a per-layer breakdown use
``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import bench
    from hive_apache_ci_spark import registry
    from hive_apache_ci_spark.session import get_spark

    timings: dict[str, float | None] = {}
    spread: dict[str, dict[str, float]] = {}
    bench._measure(
        get_spark("time_queries"), args.sf_dir, registry.all_queries(),
        args.names, timings, spread,
    )
    print(json.dumps({"sf_dir": args.sf_dir, "q": {n: spread.get(n) for n in args.names}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
