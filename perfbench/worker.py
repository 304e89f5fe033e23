"""One measured run of one workload, in a fresh process.

Started by ``run.py``, which owns the process's isolation (cwd, ``TMPDIR``,
``SPARK_LOCAL_DIRS``) and reads the JSON this writes. The order of work:

1. set-up, timed from the launcher's ``Popen``: import the engine, start the
   session, load the catalog (``setup_s``);
2. the oracle's expected multiset for every query, outside any timing;
3. one cold pass, each query's first in-process latency (``first_run_s``);
4. ``--passes`` warm passes, closed loop with one client.

Every pass runs the workload's queries in one order drawn from ``--seed``.
Repeating one order makes each warm pass meet Spark's codegen cache the
same way, so a run measures the working set rather than the luck of a
shuffle. Every op's rows are checked against the oracle after its latency
is taken.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from host import peak_rss_kb


def _expected(queries: list[str], sf_dir: str) -> dict:
    from hive_apache_ci_spark import verify
    from hive_apache_ci_spark.registry import all_oracles

    oracles = all_oracles()
    con = verify.duck_connect(sf_dir)
    try:
        out = {}
        for name in queries:
            res = con.execute(oracles[name])
            cols = [d[0].lower() for d in res.description]
            out[name] = (sorted(cols), verify._rows_to_multiset(cols, res.fetchall()))
        return out
    finally:
        con.close()


def _status(name: str, cols: list[str], rows: list, expected: dict) -> str:
    """``MATCH`` or the reason the op's result is wrong, as ``verify`` names it."""
    from hive_apache_ci_spark import verify

    exp_cols, exp_rows = expected[name]
    if not rows and name not in verify.EXPECTED_EMPTY:
        return "VACUOUS_EMPTY"
    if sorted(cols) != exp_cols:
        return "SCHEMA_MISMATCH"
    if sum(exp_rows.values()) != len(rows):
        return "ROWCOUNT_MISMATCH"
    if verify._rows_to_multiset(cols, [tuple(r) for r in rows]) != exp_rows:
        return "VALUE_MISMATCH"
    return "MATCH"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--launched-at", type=float, required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    queries = args.queries.split(",")
    tracer = counters = None

    from hive_apache_ci_spark import catalog

    if args.trace:
        from tracer import SparkCounters, Tracer, traced_op

        tracer = Tracer(os.environ["TMPDIR"], args.warehouse)
        tracer.wrap_catalog(catalog)
    from hive_apache_ci_spark.registry import all_queries
    from hive_apache_ci_spark.session import get_spark

    fns = all_queries()
    t_session = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": args.warehouse,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    session_start_s = time.perf_counter() - t_session
    catalog.load_tables(spark, args.sf_dir)
    setup_s = time.time() - args.launched_at
    spark.sparkContext.setLogLevel("ERROR")

    t_oracle = time.perf_counter()
    expected = _expected(queries, args.sf_dir)
    oracle_s = time.perf_counter() - t_oracle
    if tracer:
        counters = SparkCounters(spark)
    order = random.Random(args.seed).sample(queries, len(queries))
    failures: list[dict] = []
    op_no = 0

    def op(name: str) -> tuple[float, dict | None]:
        nonlocal op_no
        op_no += 1
        try:
            if tracer:
                rows, cols, latency, layers = traced_op(
                    tracer, counters, spark, fns[name], name, args.sf_dir, f"op{op_no}")
            else:
                t0 = time.perf_counter()
                df = fns[name](spark, args.sf_dir)
                rows = df.collect()
                latency = time.perf_counter() - t0
                cols = [c.lower() for c in df.columns]
                layers = None
            status = _status(name, cols, rows, expected)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            traceback.print_exc()
            status, latency, layers = f"ERROR: {type(exc).__name__}: {exc}"[:300], 0.0, None
        if status != "MATCH":
            failures.append({"query": name, "status": status})
            return latency, None
        return latency, layers or {}

    first_run = {name: op(name)[0] for name in order}

    warm: list[dict] = []
    timed_s = 0.0
    for n in range(args.passes):
        for name in order:
            latency, layers = op(name)
            timed_s += latency
            warm.append({"query": name, "pass": n, "latency_s": latency,
                         "ok": layers is not None, "layers": layers})

    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_kb = peak_rss_kb(os.getpid()) + peak_rss_kb(jvm_pid)
    result = {
        "setup_s": setup_s,
        "oracle_s": oracle_s,
        "session_start_s": session_start_s,
        "first_run": first_run,
        "warm": warm,
        "passes": args.passes,
        "timed_s": timed_s,
        "failures": failures,
        "peak_rss_kb": rss_kb,
        "spans": tracer.spans if tracer else None,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
