"""SparkSession factory with Hive-compatible semantics.

The reference engine (Apache Hive 2.3.x — SURVEY.md §1.3) has a permissive,
non-ANSI SQL dialect: implicit string<->numeric coercion, ``int/int -> double``,
silent NULL on bad casts. Spark 4 defaults ``spark.sql.ansi.enabled=true``,
so we flip it off to match Hive semantics (the DuckDB oracle side compensates
with explicit casts — see SURVEY.md §7 risk 1).

Scale posture (100 TB north star): everything here is a *session* default
that also makes sense on a 1000-executor cluster — AQE on (runtime join
conversion, skew-join splitting, partition coalescing), broadcast threshold
sized for dimension tables, shuffle partitions tuned per deployment (32 for
the local[32] test rig; a real cluster overrides via ``extra_conf`` or
spark-defaults).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are *runtime-settable* and required for correct reads of the
# testdata regardless of who created the SparkSession (the driver harness
# creates its own session and passes it to ``__spark_entry__.entry``).
RUNTIME_CONFS: dict[str, str] = {
    # Hive dialect: permissive casts, int/int -> double (SURVEY.md §1.3).
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp semantics on both the Spark and DuckDB side.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet `ts` is parquet TIMESTAMP(MICROS) since the round-2
    # testdata regeneration (reads as TIMESTAMP_NTZ; catalog.load_table
    # normalizes to timestamp). nanosAsLong is INERT for micros files but
    # kept so a TIMESTAMP(NANOS) regeneration (the round-1 encoding) reads
    # as int64 instead of crashing — load_table handles both (FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime broadcast conversion, skew-join handling, partition
    # coalescing — the scale levers Hive implemented as SkewJoinResolver /
    # CommonJoinResolver / SetReducerParallelism (SURVEY.md §4.1).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part) broadcast;
    # 64 MB covers TPC-H dims at ~SF1k while staying executor-memory safe.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas_udf / toPandas path (vectorized, not row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime-settable so externally-created (driver) sessions get the tuned
    # parallelism too; AQE coalesces down, so this is an upper bound.
    "spark.sql.shuffle.partitions": "32",
    # Join strategy: allow shuffled-hash join wherever the planner's size
    # conditions hold instead of always sorting both sides (A/B at sf0.1:
    # 0.27-0.86x, median ~0.5x, on the 12 join-heavy TPC-DS shapes; results
    # hash-identical — strategy never changes content). Production posture:
    # SHJ spills gracefully since Spark 3.2, AQE's local-map threshold below
    # bounds the runtime SMJ->SHJ rewrite to builds that provably fit one
    # map's output, and bucketed/SMB paths pin SMJ via hint('merge')
    # regardless. A memory-constrained cluster restores the sort-merge bias
    # with get_spark(extra_conf={"spark.sql.join.preferSortMergeJoin":
    # "true"}).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * 1024 * 1024),
    # Scan-split sizing: the testdata files are single-digit-MB parquet, so
    # the 128 MB default yields 1-3 splits and leaves 32 cores idle on every
    # scan-heavy stage (measured: q1 0.53s→0.41s, minhash 1.6s→1.3s at
    # sf0.1 with 16 MB). A deployment sets it through ``extra_conf`` so
    # per-task input ≈ 64-128 MB — the point is splits ≈ a few × total
    # cores, which 16 MB achieves on this rig.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
}

# Confs that must be set at session-build time. Only ``get_spark`` applies
# them, through the builder; a session that is already running ignores them.
BUILD_CONFS: dict[str, str] = {
    "spark.driver.memory": "8g",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # JVM-wide cache of Janino-compiled codegen classes (Spark's default is
    # 100, held as 4 LRU segments of 25). One warm pass of the 12 olap_mix
    # queries needs ~227 classes and one of pipeline_write ~140-150, so at
    # 100 every warm query recompiled all of its code; at 1000 a warm pass
    # compiles 0-1 (perfbench --trace 1).
    # The conf is static: only sessions built by get_spark get the larger
    # cache, and a session someone else already started keeps the default.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # managed-table location for bucketed saveAsTable (SMB joins) — keep the
    # repo clean and scratch-resident
    "spark.sql.warehouse.dir": "/tmp/hive_apache_ci_spark_warehouse",
}


_CONFS_APPLIED: set[str] = set()

#: The directory that holds the engine package. Python workers unpickle
#: UDFs, ``mapInPandas`` functions and data sources that name engine
#: modules, so they must be able to import the package wherever the driver
#: was started.
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ship_engine_path(sc) -> None:
    """Add the engine's parent dir to the ``PYTHONPATH`` that PySpark sends
    with every Python function (``sc.environment``); Spark merges it into
    each Python worker's path. Not a Spark conf: plans are unchanged."""
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ENGINE_PARENT not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join(paths + [_ENGINE_PARENT])


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply Hive-semantics confs to an externally created session, and ship
    the engine's path to its Python workers (``_ship_engine_path``).

    Safe to call repeatedly; used by ``catalog.load_tables`` so that even the
    driver's own SparkSession reads the testdata correctly. Short-circuits
    per JVM application (keyed by ``applicationId``, which is stable for the
    session's lifetime — ``id(spark)`` would be fooled by a recycled Python
    object address) — each conf.set is a py4j round-trip, and the catalog
    calls this on every table load. The short-circuit re-verifies ONE
    probe conf first: sibling sessions of the same application (e.g.
    ``spark.newSession()``) share the applicationId but carry their own
    SQLConf, so the cache alone would silently skip them.
    """
    try:
        sc = spark.sparkContext
        key_id = sc.applicationId
    except Exception:
        sc = key_id = None
    if key_id is not None and key_id in _CONFS_APPLIED:
        try:
            probe = spark.conf.get("spark.sql.session.timeZone", None)
        except Exception:
            probe = None
        if probe == RUNTIME_CONFS["spark.sql.session.timeZone"]:
            return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — keep going; reads may still work.
            pass
    if sc is not None:
        _ship_engine_path(sc)
    if key_id is not None:
        _CONFS_APPLIED.add(key_id)
    return spark


def get_spark(
    app_name: str = "hive-apache-ci-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    for the test rig; on a real cluster pass ``None`` after setting the
    master in spark-submit / spark-defaults.

    ``extra_conf`` wins over ``BUILD_CONFS`` and ``RUNTIME_CONFS``: its
    runtime keys are set after ``apply_runtime_confs``, whose per-application
    short-circuit then keeps them on every later ``load_tables``. The one
    exception is ``spark.sql.session.timeZone``, the short-circuit's probe:
    the oracle comparison needs UTC, and a session off UTC is re-applied.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    extra_conf = extra_conf or {}
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS, **extra_conf}.items():
        builder = builder.config(key, value)
    spark = apply_runtime_confs(builder.getOrCreate())
    for key, value in extra_conf.items():
        # static and core confs only take effect through the builder
        if spark.conf.isModifiable(key):
            spark.conf.set(key, value)
    return spark
