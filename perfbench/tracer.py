"""Layer attribution for the traced run.

Every span is recorded from the benchmark's side of a call into one of the
engine's layers; nothing inside the engine is changed. An op is one call of
a registered query function plus ``.collect()``:

- ``construct``: the query function itself. Jobs it launches before
  ``collect`` (``localCheckpoint`` barriers, writes, training rounds) are its
  eager jobs.
- ``catalog``: wrappers around ``catalog.load_table``, ``load_tables`` and
  ``run_sql``; only the outermost call of a nest is a span.
- ``plan``: forcing ``queryExecution().executedPlan()``, which ``collect``
  then reuses; the tracker's analysis/optimization/planning phases.
- ``exec``: ``collect``, with the stage metrics of the jobs it ran, read
  from the status store by the op's job group.
- ``codegen``: deltas of Spark's compile counter and compile time.
- ``storage``: task output bytes of every job of the op, and the files it
  left under the engine's scratch directories (``$TMPDIR/hive_apache_ci_spark_*``)
  and the warehouse; files an op writes and deletes again are not counted.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import os
import time

MB = 1024.0 * 1024.0
CATALOG_ENTRY_POINTS = ("load_table", "load_tables", "run_sql")
SCRATCH_PREFIX = "hive_apache_ci_spark_"


class Tracer:
    def __init__(self, tmp_dir: str, warehouse: str):
        self.spans: list[dict] = []
        self.tmp_dir = tmp_dir
        self.warehouse = warehouse
        self.cause: str | None = None
        self._catalog_depth = 0

    def record(self, name: str, cause: str | None, start: float, end: float,
               span_id: str | None = None, **attrs) -> dict:
        span = {"id": span_id or f"s{len(self.spans)}", "name": name, "cause": cause,
                "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def wrap_catalog(self, catalog) -> None:
        """Replace the catalog entry points with timing wrappers.

        Must run before the registry imports the query modules: several of
        them bind these names with ``from ..catalog import ...`` at import
        time and would keep the unwrapped functions."""
        for fname in CATALOG_ENTRY_POINTS:
            setattr(catalog, fname, self._catalog_wrapper(getattr(catalog, fname), fname))

    def _catalog_wrapper(self, fn, fname):
        def wrapper(*args, **kwargs):
            if self._catalog_depth:
                return fn(*args, **kwargs)
            self._catalog_depth += 1
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._catalog_depth -= 1
                self.record("catalog", self.cause, start, time.perf_counter(), call=fname)

        wrapper.__wrapped__ = fn
        return wrapper

    def files_since(self, since_wall: float) -> int:
        """Files in the engine's write locations modified at or after ``since_wall``."""
        roots = [self.warehouse] + [os.path.join(self.tmp_dir, d) for d in os.listdir(self.tmp_dir)
                                    if d.startswith(SCRATCH_PREFIX)]
        count = 0
        for root in roots:
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    try:
                        if os.path.getmtime(os.path.join(dirpath, f)) >= since_wall:
                            count += 1
                    except OSError:
                        pass
        return count


class SparkCounters:
    """The JVM-side counters an op is attributed with."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self.cores = int(self.sc.defaultParallelism)

    def codegen(self) -> tuple[int, int]:
        """(classes compiled, compile nanoseconds) since the JVM started."""
        return self._compiles.getCount(), self._codegen.compileTime()

    def jobs(self, group: str) -> list[int]:
        """Job ids of a job group, once the listener bus has caught up."""
        self._bus.waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict:
        totals = {"tasks": 0, "input": 0, "output": 0, "shuffle_read": 0,
                  "shuffle_write": 0, "spill": 0, "gc_ms": 0, "cpu_ns": 0}
        for job in job_ids:
            info = self.sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else []:
                sd = self._store.lastStageAttempt(stage)
                if str(sd.status()) == "SKIPPED":
                    continue
                totals["tasks"] += sd.numCompleteTasks()
                totals["input"] += sd.inputBytes()
                totals["output"] += sd.outputBytes()
                totals["shuffle_read"] += sd.shuffleReadBytes()
                totals["shuffle_write"] += sd.shuffleWriteBytes()
                totals["spill"] += sd.diskBytesSpilled()
                totals["gc_ms"] += sd.jvmGcTime()
                totals["cpu_ns"] += sd.executorCpuTime()
        return totals


def traced_op(tracer: Tracer, counters: SparkCounters, spark, qfn, name: str,
              sf_dir: str, op_id: str) -> tuple[list, list[str], float, dict]:
    """Run one op under a job group and attribute it to the layers.

    Returns ``(rows, columns, latency_s, layers)``. The latency counts only
    the construct, plan and exec spans, so it stays comparable with an
    untraced op; the tracer's own bookkeeping is reported separately."""
    group = f"perfbench-{op_id}"
    counters.sc.setJobGroup(group, name)
    compiles0, compile_ns0 = counters.codegen()
    wall0 = time.time()
    tracer.cause = op_id
    t0 = time.perf_counter()
    df = qfn(spark, sf_dir)
    t1 = time.perf_counter()
    eager = counters.jobs(group)
    t2 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t3 = time.perf_counter()
    rows = df.collect()
    t4 = time.perf_counter()
    tracer.cause = None
    columns = [c.lower() for c in df.columns]
    phases = qe.tracker().phases()
    phase_s = {}
    for phase in ("analysis", "optimization", "planning"):
        phase_s[phase] = (phases.apply(phase).durationMs() / 1000.0
                          if phases.contains(phase) else 0.0)
    all_jobs = counters.jobs(group)
    exec_jobs = sorted(set(all_jobs) - set(eager))
    ex = counters.stage_totals(exec_jobs)
    everything = counters.stage_totals(all_jobs)
    compiles1, compile_ns1 = counters.codegen()
    files = tracer.files_since(wall0)
    t5 = time.perf_counter()

    op = tracer.record("op", None, t0, t4, span_id=op_id, query=name)
    catalog_spans = [s for s in tracer.spans if s["name"] == "catalog" and s["cause"] == op_id]
    catalog_s = sum(s["end"] - s["start"] for s in catalog_spans)
    tracer.record("construct", op_id, t0, t1)
    tracer.record("plan", op_id, t2, t3)
    tracer.record("exec", op_id, t3, t4)
    exec_s = t4 - t3
    layers = {
        "catalog.calls": len(catalog_spans),
        "catalog.s": catalog_s,
        "construct.s": (t1 - t0) - catalog_s,
        "construct.eager_jobs": len(eager),
        "plan.s": t3 - t2,
        "plan.analysis_s": phase_s["analysis"],
        "plan.optimization_s": phase_s["optimization"],
        "plan.planning_s": phase_s["planning"],
        "codegen.compiles": compiles1 - compiles0,
        "codegen.compile_s": (compile_ns1 - compile_ns0) / 1e9,
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.tasks": ex["tasks"],
        "exec.input_mb": ex["input"] / MB,
        "exec.shuffle_read_mb": ex["shuffle_read"] / MB,
        "exec.shuffle_write_mb": ex["shuffle_write"] / MB,
        "exec.spill_mb": ex["spill"] / MB,
        "exec.gc_s": ex["gc_ms"] / 1000.0,
        "exec.cpu_util": ex["cpu_ns"] / 1e9 / (exec_s * counters.cores),
        "collect.rows": len(rows),
        "storage.output_mb": everything["output"] / MB,
        "storage.files_written": files,
        "trace.bookkeeping_s": (t2 - t1) + (t5 - t4),
    }
    op.update(layers)
    latency = (t1 - t0) + (t4 - t2)
    return rows, columns, latency, layers
