"""Benchmark of the query engine: one run of one workload.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The workloads, their queries and the reason
each exists are in ``perfbench/workloads.json``; the metric names, units and
bounds are in ``BENCHMARK.json``. A run:

- generates the benchmark's tables once per checkout (``perfbench/datagen.py``,
  fixed data seed) under ``.perfbench/data``;
- starts ``worker.py`` in a fresh process whose cwd, ``TMPDIR``,
  ``SPARK_LOCAL_DIRS`` and warehouse all point into a private directory under
  ``.perfbench/runs``, which is removed afterwards;
- prints the host fingerprint, a readable summary and, as its last line, one
  JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
  metrics with ``--trace 1``. A traced run also writes its spans to
  ``.perfbench/traces``.

``--seed`` only permutes the order of the queries in each pass.
``--seconds`` fixes the number of warm passes from the workload's nominal
pass time on the reference host (``pass_s``), so a faster and a slower
commit do the same work and the same number of samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import host  # noqa: E402
import stats  # noqa: E402


def load_spec() -> tuple[dict, dict]:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return workloads, bench


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left running (its JVM, Python workers) and
    wait until every process of its group has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_worker(workload: dict, args, sf_dir: str, run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    warehouse = os.path.join(run_dir, "warehouse")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    # SPARK_LAUNCHER_OPTS reaches the short-lived JVM that spark-submit runs
    # to build the driver's command line; the driver JVM gets the same two
    # options from worker.py, so neither writes under /tmp.
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
               SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--queries", ",".join(workload["queries"]), "--sf-dir", sf_dir,
           "--seed", str(args.seed), "--passes", str(warm_passes(workload, args.seconds)),
           "--trace", str(args.trace), "--warehouse", warehouse, "--out", out]
    with open(log_path, "w") as log:
        launched_at = time.time()
        proc = subprocess.Popen(cmd + ["--launched-at", repr(launched_at)], cwd=run_dir,
                                env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {why}")
    with open(out) as fh:
        return json.load(fh)


def warm_passes(workload: dict, seconds: float) -> int:
    return max(1, round(seconds / workload["pass_s"]))


def end_to_end(res: dict) -> dict:
    ok = [w["latency_s"] for w in res["warm"] if w["ok"]]
    attempted = len(res["first_run"]) + len(res["warm"])
    failed = len(res["failures"])
    tail_s, tail_pct = stats.tail(ok)
    return {
        "setup_s": res["setup_s"],
        "latency_p50_s": statistics.median(ok),
        "latency_tail_s": tail_s,
        "tail_percentile": tail_pct,
        "throughput_ops_min": stats.throughput_ops_min(len(ok), res["timed_s"]),
        "first_run_s": sum(res["first_run"].values()),
        "failed_frac": stats.failed_frac(failed, attempted),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "warm_ops": len(ok),
        "attempted": attempted,
        "failed": failed,
    }


def per_layer(res: dict) -> dict:
    """Per-layer metrics as means per correct warm op."""
    ok = [w for w in res["warm"] if w["ok"]]
    out = {"session.start_s": res["session_start_s"]}
    for key in ok[0]["layers"]:
        out[key] = sum(w["layers"][key] for w in ok) / len(ok)
    out["trace.latency_p50_s"] = statistics.median([w["latency_s"] for w in ok])
    out["codegen.compiles_per_pass"] = (
        sum(w["layers"]["codegen.compiles"] for w in ok) / res["passes"])
    out["memory.peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one workload of the engine benchmark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hive_apache_ci_spark")):
        sys.stderr.write(f"no engine package next to {HERE}; run from a checkout\n")
        return 2
    workloads, bench = load_spec()
    workload = workloads["workloads"].get(args.workload)
    if workload is None:
        sys.stderr.write(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads['workloads'])}\n")
        return 2

    started = time.time()
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    sf = workload["sf"]
    data_seed = workloads["data_seed"]
    # The engine derives table names from the directory's basename, so that
    # name stays a plain identifier-friendly "sf<scale>".
    sf_dir = datagen.ensure(os.path.join(STATE, "data", f"seed{data_seed}", f"sf{sf}"),
                            sf, data_seed)
    fingerprint = host.fingerprint(args.seed)
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "runs"))
    try:
        res = run_worker(workload, args, sf_dir, run_dir)
    except RuntimeError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not any(w["ok"] for w in res["warm"]):
        sys.stderr.write(f"no warm op returned the oracle's rows: {res['failures']}\n")
        return 1

    e2e = end_to_end(res)
    print("fingerprint " + json.dumps(fingerprint, sort_keys=True))
    for f in res["failures"]:
        print(f"FAILED {f['query']}: {f['status']}")
    print(f"{args.workload}: {e2e['warm_ops']} warm ops in {res['passes']} passes, "
          f"failed_frac {e2e['failed_frac']:.4f} ({e2e['failed']}/{e2e['attempted']}), "
          f"tail at p{e2e['tail_percentile']:.1f}, peak_rss_mb {e2e['peak_rss_mb']:.0f}, "
          f"oracle {res['oracle_s']:.1f} s, run {time.time() - started:.1f} s")
    for query, first in res["first_run"].items():
        warm = [w["latency_s"] for w in res["warm"] if w["query"] == query and w["ok"]]
        print(f"  {query:34s} first {first:7.3f} s  warm median "
              + (f"{statistics.median(warm):7.3f} s" if warm else "   none"))
    if args.trace:
        values, spec = per_layer(res), bench["per_layer"]
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"workload": args.workload, "fingerprint": fingerprint,
                       "per_layer": values, "warm": res["warm"], "spans": res["spans"]}, fh)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        values, spec = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": e2e["failed"] == 0, "attempted": e2e["attempted"],
                      "failed": e2e["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
