"""Session-factory behaviour that outlives a single query."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_apache_ci_spark.session import BUILD_CONFS

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
