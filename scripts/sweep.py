#!/usr/bin/env python
"""Full-registry differential sweep, sharded.

Round-robins the sorted registry across N concurrent shard processes, each
running ``python -m hive_apache_ci_spark.verify`` over its share of query
names, then merges the per-query lines name-sorted into one report on
stdout, ending with "== P/T ok ==" and "RC=N"; ``--out`` also writes it to
a file.

Usage:
    python scripts/sweep.py                                  # sf0.01
    python scripts/sweep.py --sf-dir DIR --shards 4 --out sweep.txt
    python scripts/sweep.py --names q1,q2                    # subset

Shard processes each build a local[$SPARK_GRAFT_CPUS] session; with the
default 4 shards on the 32-core rig each shard gets CPUS=8 unless
SPARK_GRAFT_CPUS is already set. Exits 1 if any query line is FAIL
(an oracle OOM included: verify counts ORACLE_OOM_KNOWN_LIMIT as FAIL).
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LINE = re.compile(r"^(PASS|FAIL) (\S+)\s+(.*)$")


def run_shard(
    names: list[str], sf_dir: str, cpus: str
) -> tuple[list[str], str, int]:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", cpus)
    proc = subprocess.run(
        [sys.executable, "-m", "hive_apache_ci_spark.verify",
         "--sf-dir", sf_dir, *names],
        cwd=REPO, env=env, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if _LINE.match(ln)]
    return lines, proc.stderr, proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--names", default=None,
                    help="comma-separated subset (default: full registry)")
    ap.add_argument("--out", default=None, help="also write the report here")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from hive_apache_ci_spark.registry import all_queries

    names = (
        args.names.split(",") if args.names
        else sorted(all_queries().keys())
    )
    shards = max(1, min(args.shards, len(names)))
    buckets = [names[i::shards] for i in range(shards)]
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(max(2, (os.cpu_count() or 8) // shards))
    )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=shards) as ex:
        results = list(
            ex.map(lambda b: run_shard(b, args.sf_dir, cpus), buckets)
        )

    lines = [ln for shard, _, _ in results for ln in shard]
    got = {_LINE.match(ln).group(2) for ln in lines}
    # A shard that crashed mid-run leaves its unprocessed names without
    # output: add their FAIL lines BEFORE the sort (artifact stays
    # name-ordered) and surface the shard's stderr tail for diagnosis.
    for i, (shard_lines, err, rc_i) in enumerate(results):
        missing_i = [n for n in buckets[i] if n not in got]
        if missing_i or rc_i not in (0, 1):
            tail = "\n".join(err.splitlines()[-30:])
            print(f"-- shard {i} rc={rc_i} stderr tail --\n{tail}",
                  file=sys.stderr)
    for n in (n for n in names if n not in got):
        lines.append(f"FAIL {n:34s} NO_OUTPUT (shard crashed?)")
    lines.sort(key=lambda ln: _LINE.match(ln).group(2))
    n_fail = sum(1 for ln in lines if ln.startswith("FAIL"))
    rc = 1 if n_fail else 0
    head = f"== {len(names) - n_fail}/{len(names)} ok =="
    body = "\n".join(lines) + f"\n{head}\nRC={rc}\n"
    sys.stdout.write(body)

    if args.out:
        with open(args.out, "w") as fh:
            fh.write(body)
        print(f"wrote {args.out}", file=sys.stderr)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
