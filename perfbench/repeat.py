"""Repeat one workload over several seeds and report each metric's median
and spread (inter-quartile distance over the median) against its bound.

    python3 perfbench/repeat.py --workload olap_mix --seeds 1-10 [--trace 0]

Every run's JSON line is appended to ``.perfbench/repeat-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    log = os.path.join(ROOT, ".perfbench", f"repeat-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "trace": args.trace, **result}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} ops failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}"
                                          for k, m in result["metrics"].items()), flush=True)
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        med = statistics.median(vals)
        spr = stats.spread(vals) if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound {bound} {'ok' if spr < bound / 3 else 'WIDE'}"
        print(f"{name:28s} median {med:.5g} spread {spr:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
