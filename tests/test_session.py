"""Session-factory behaviour that outlives a single query."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from hive_apache_ci_spark.session import BUILD_CONFS

from .conftest import SF_DIR

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def test_codegen_cache_keeps_a_plan_past_100_others(spark):
    """A plan re-run after more than 100 other distinct plans reuses its
    compiled classes: the codegen cache holds more than Spark's default
    100 entries, so a warm pass does not recompile its own code."""
    got = spark.conf.get(CACHE_CONF, None)
    assert got == BUILD_CONFS[CACHE_CONF], (
        f"{CACHE_CONF} is {got!r}, not the BUILD_CONFS value "
        f"{BUILD_CONFS[CACHE_CONF]!r}: this session was not built by get_spark"
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def plan(i):
        # the literal is inlined into the generated code: one class per i
        return spark.range(8).select((F.col("id") * i).alias("x")).collect()

    first = plan(1)
    for i in range(2, 151):
        plan(i)
    before = compiles.getCount()
    assert plan(1) == first
    recompiled = compiles.getCount() - before
    assert recompiled == 0, (
        f"re-running the first of 150 plans compiled {recompiled} classes: "
        "its code was evicted from the codegen cache"
    )


def test_python_workers_import_the_engine_from_any_cwd(tmp_path):
    """A driver started outside the repo, with the repo only on its own
    sys.path, still runs a query whose Python workers import engine
    modules (io_avro_roundtrip's mapInPandas encoder): the session ships
    the engine's parent dir to its Python workers."""
    import hive_apache_ci_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(hive_apache_ci_spark.__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from hive_apache_ci_spark.registry import all_queries
        from hive_apache_ci_spark.session import get_spark
        spark = get_spark("cwd-probe", master="local[1]")
        all_queries()["io_avro_roundtrip"](spark, {SF_DIR!r})
        print("built")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0 and "built" in run.stdout, run.stderr[-4000:]
