"""File-format round-trips (SURVEY.md §2.2 — FileSinkOperator + SerDes).

Verification trick: each query WRITES a table to scratch in the target
format, READS it back, and aggregates; the DuckDB oracle computes the same
aggregate from the *original* table — so a hash match proves the write+read
pipeline is lossless for the exercised types.

Hive features mirrored: dynamic-partition writes (``partitionBy`` ≙
``hive.exec.dynamic.partition``), INSERT OVERWRITE (``mode('overwrite')``
with ``partitionOverwriteMode=dynamic``), ORC/Text(CSV)/JSON SerDes, and
``TRANSFORM ... USING`` as an Arrow-batched ``mapInPandas`` pipe.

Scale notes: writes repartition by the partition column first so each task
writes one directory (Hive's SortedDynPartitionOptimizer does exactly
this); small-file compaction ≙ a pre-write ``repartition(n)``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from ..helpers import (
    RUN_ID,
    T,
    committed,
    materialize,
    money_sum,
    r2,
    ravg,
    run_scratch,
)
from ..registry import query


def _scratch(sf_dir: str, name: str) -> str:
    """Per-run scratch dir (round-6: RUN_ID in the path + stale-run GC —
    the fixed shared path let two concurrent runs at one SF clobber each
    other's overwrite writes mid-read; helpers.run_scratch)."""
    return run_scratch("io", sf_dir, name)


_ORDERS_AGG_ORACLE = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           count(*)                    AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
"""


@query("io_parquet_partitioned", oracle=_ORDERS_AGG_ORACLE)
def io_parquet_partitioned(spark, sf_dir):
    """Dynamic-partition parquet write (partitionBy year) + readback with
    partition discovery; aggregate must equal the source table's."""
    out = _scratch(sf_dir, "orders_by_year")
    o = T(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    (
        o.repartition("order_year")  # one writer task per partition dir
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(committed(out))
    return (
        back.groupBy("order_year", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("o_totalprice"), 2).alias("total"))
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "o_orderstatus",
            "n",
            "total",
        )
    )


@query(
    "io_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
           round(avg(l_quantity) + 1e-9, 4) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def io_orc_roundtrip(spark, sf_dir):
    """ORC write + readback (Hive's flagship columnar format — OrcSerde /
    VectorizedOrcInputFormat; Spark's native vectorized ORC reader)."""
    out = _scratch(sf_dir, "lineitem_orc")
    T(spark, sf_dir, "lineitem").write.mode("overwrite").orc(out)
    back = spark.read.orc(committed(out))
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        ravg(F.avg("l_quantity")).alias("avg_qty"),
    )


@query(
    "io_json_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def io_json_roundtrip(spark, sf_dir):
    """JSON-lines write + schema-on-read back (JsonSerDe ≙ spark.read.json
    with explicit schema — no inference nondeterminism)."""
    out = _scratch(sf_dir, "customer_json")
    c = T(spark, sf_dir, "customer")
    c.write.mode("overwrite").json(out)
    back = spark.read.schema(c.schema).json(committed(out))
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), r2(F.sum("c_acctbal")).alias("total_bal")
    )


@query(
    "io_csv_roundtrip",
    oracle="""
    SELECT n.n_name, count(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def io_csv_roundtrip(spark, sf_dir):
    """CSV (LazySimpleSerDe / OpenCSVSerde role) write + typed readback +
    join — exercises the text SerDe path including headers and quoting."""
    out_s = _scratch(sf_dir, "supplier_csv")
    out_n = _scratch(sf_dir, "nation_csv")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    s.write.mode("overwrite").option("header", True).csv(out_s)
    n.write.mode("overwrite").option("header", True).csv(out_n)
    s2 = spark.read.schema(s.schema).option("header", True).csv(committed(out_s))
    n2 = spark.read.schema(n.schema).option("header", True).csv(committed(out_n))
    return (
        s2.join(F.broadcast(n2), s2.s_nationkey == n2.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


@query(
    "io_insert_overwrite_dynamic",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o_orderstatus
    """,
)
def io_insert_overwrite_dynamic(spark, sf_dir):
    """INSERT OVERWRITE with dynamic partition overwrite: write all
    partitions, then overwrite ONLY the >=1996 slice; untouched partitions
    must survive (Hive ``hive.exec.dynamic.partition.mode=nonstrict`` ≙
    ``spark.sql.sources.partitionOverwriteMode=dynamic``)."""
    out = _scratch(sf_dir, "orders_dynpart")
    o = T(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    # full write, then dynamic-overwrite the 1996+ years with the same rows;
    # per-write option, so the session-level overwrite mode is untouched
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    (
        o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(committed(out))
    return (
        back.filter(F.col("order_year") >= 1996)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "transform_pipe",
    oracle="""
    SELECT doc_id, upper(source) AS src_upper,
           length(text) * 2      AS double_len
    FROM documents WHERE doc_id < 150
    """,
)
def transform_pipe(spark, sf_dir):
    """Hive ``TRANSFORM ... USING 'script'`` (ScriptOperator) as an
    Arrow-batched mapInPandas pipe — the per-row external-process semantics
    without the process (the oracle verifies the pipe is lossless)."""
    from pyspark.sql import types as Ty

    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)

    def pipe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_upper": pdf["source"].str.upper(),
                    "double_len": pdf["text"].str.len() * 2,
                }
            )

    schema = Ty.StructType(
        [
            Ty.StructField("doc_id", Ty.LongType()),
            Ty.StructField("src_upper", Ty.StringType()),
            Ty.StructField("double_len", Ty.LongType()),
        ]
    )
    return d.select("doc_id", "source", "text").mapInPandas(pipe, schema=schema)


@query(
    "io_hive_text_delimited",
    oracle="""
    SELECT n_regionkey, count(*) AS n, string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def io_hive_text_delimited(spark, sf_dir):
    """Hive's default text SerDe (LazySimpleSerDe, \\x01 field delimiter):
    write nation as ctrl-A-separated text, read it back with an explicit
    schema, aggregate — proves the delimited-text codec both directions."""
    out = _scratch(sf_dir, "nation_x01")
    n = T(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("sep", "\x01").csv(out)
    back = spark.read.schema(n.schema).option("sep", "\x01").csv(committed(out))
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("names"),
    )


@query(
    "io_regex_serde",
    oracle="""
    SELECT CAST(regexp_extract(line, '^\\[(\\d+)\\]', 1) AS BIGINT) AS key,
           regexp_extract(line, 'seg=(\\w+)', 1)  AS seg,
           CAST(regexp_extract(line, 'bal=(-?\\d+)', 1) AS BIGINT) AS bal_int
    FROM (SELECT concat('[', CAST(c_custkey AS VARCHAR), '] seg=', c_mktsegment,
                        ' bal=', CAST(CAST(trunc(c_acctbal) AS BIGINT) AS VARCHAR)) AS line
          FROM customer)
    """,
)
def io_regex_serde(spark, sf_dir):
    """RegexSerDe role (SURVEY.md §2.2): log-style lines written to text,
    re-parsed at scan time by regexp_extract projection — schema-on-read
    over unstructured text."""
    out = _scratch(sf_dir, "customer_log")
    c = T(spark, sf_dir, "customer")
    lines = c.select(
        F.concat(
            F.lit("["), F.col("c_custkey").cast("string"), F.lit("] seg="),
            F.col("c_mktsegment"), F.lit(" bal="),
            F.col("c_acctbal").cast("bigint").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    back = spark.read.text(committed(out))
    return back.select(
        F.regexp_extract("value", r"^\[(\d+)\]", 1).cast("bigint").alias("key"),
        F.regexp_extract("value", r"seg=(\w+)", 1).alias("seg"),
        F.regexp_extract("value", r"bal=(-?\d+)", 1).cast("bigint").alias("bal_int"),
    )


def _gc_stale_smb_tables(wh: str) -> None:
    """Reap OTHER runs' bucketed *_smb_* table dirs idle past the stale
    window (review-caught: per-run names otherwise accrete two data-sized
    dirs per process in the shared warehouse forever — the scratch dirs
    get this via helpers._gc_stale_runs, the warehouse needs its own
    sweep; legacy fixed-name dirs from pre-round-6 match too)."""
    import time

    from ..helpers import _STALE_SECONDS

    rid = RUN_ID.replace("-", "_")
    try:
        entries = os.listdir(wh)
    except OSError:
        return
    now = time.time()
    for e in entries:
        if "_smb_" not in e or rid in e:
            continue
        p = os.path.join(wh, e)
        try:
            if now - os.path.getmtime(p) > _STALE_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


_SMB_ORACLE = """
    SELECT c_mktsegment,
           count(*)                    AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


@query("io_bucketed_smb_join", oracle=_SMB_ORACLE)
def io_bucketed_smb_join(spark, sf_dir):
    """Hive CLUSTERED BY ... INTO 8 BUCKETS + bucket-map/SMB join
    (SMBMapJoinOperator, SURVEY.md §2.3): write both sides bucketed+sorted
    on the join key via bucketBy/sortBy saveAsTable, then join shuffle-free
    — the SortMergeJoin consumes the bucketed scans directly with no
    Exchange (plan-asserted in tests/test_plans.py). This is the 100 TB
    co-located fact⋈dim topology: pay the shuffle once at write time,
    never at read time."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    # per-run table names: the shared warehouse dir is the same concurrency
    # surface as the scratch paths (two processes would DROP/rmtree each
    # other's managed dirs mid-join)
    rid = RUN_ID.replace("-", "_")
    ot, ct = f"orders_smb_{tag}_{rid}", f"customer_smb_{tag}_{rid}"
    spark.sql(f"DROP TABLE IF EXISTS {ot}")
    spark.sql(f"DROP TABLE IF EXISTS {ct}")
    # the in-memory catalog forgets dirs across sessions — clear leftovers
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    _gc_stale_smb_tables(wh)
    for t in (ot, ct):
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    (
        T(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(ot)
    )
    (
        T(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(ct)
    )
    # hint('merge') pins SortMergeJoin so the bucketing (not a broadcast)
    # carries the join at every scale factor
    return (
        spark.table(ot)
        .join(
            spark.table(ct).hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("o_totalprice"), 2).alias("total"))
    )


@query(
    "io_multi_insert",
    oracle="""
    SELECT 'by_flag' AS sink, l_returnflag AS key,
           count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem GROUP BY 2
    UNION ALL
    SELECT 'by_status' AS sink, l_linestatus AS key,
           count(*) AS n, round(sum(l_extendedprice), 2) AS total
    FROM lineitem GROUP BY 2
    """,
)
def io_multi_insert(spark, sf_dir):
    """Hive multi-insert (``FROM src INSERT OVERWRITE t1 ... INSERT
    OVERWRITE t2 ...`` — one source scan feeding several sinks,
    SemanticAnalyzer's multi-destination plan). Spark-first: cache the
    shared scan, write both sinks, read them back tagged. At 100 TB the
    cache becomes a first-stage shuffle reuse; the point is the source is
    READ ONCE (asserted by tests/test_extensions.py via InMemoryTableScan
    in both sink plans)."""
    src = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    src.persist()
    try:
        sink1 = _scratch(sf_dir, "multi_ins_flag")
        sink2 = _scratch(sf_dir, "multi_ins_status")
        (
            src.groupBy(F.col("l_returnflag").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("l_extendedprice")).alias("total"))
            .write.mode("overwrite")
            .parquet(sink1)
        )
        (
            src.groupBy(F.col("l_linestatus").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("l_extendedprice")).alias("total"))
            .write.mode("overwrite")
            .parquet(sink2)
        )
    finally:
        src.unpersist()
    b1 = spark.read.parquet(committed(sink1)).withColumn("sink", F.lit("by_flag"))
    b2 = spark.read.parquet(committed(sink2)).withColumn("sink", F.lit("by_status"))
    return b1.unionByName(b2).select("sink", "key", "n", "total")


@query(
    "io_compact_small_files",
    oracle="""
    SELECT 64                              AS n_files_fragmented,
           4                               AS n_files_compacted,
           count(*)                        AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    """,
)
def io_compact_small_files(spark, sf_dir):
    """Small-files compaction (Hive's merge-files post-job /
    ALTER TABLE CONCATENATE): deliberately fragment orders into 64 tiny
    parquet files, then rewrite into 4 — the 100 TB hygiene op that keeps
    scan task counts proportional to bytes, not to historical write
    batches. File counts are measured engine-side via
    ``input_file_name()``; the data round-trips exactly (count + sum
    hash-checked against the source)."""
    frag = _scratch(sf_dir, "orders_fragmented")
    compact = _scratch(sf_dir, "orders_compacted")
    o = T(spark, sf_dir, "orders")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    back_frag = spark.read.parquet(committed(frag))
    # project the (nondeterministic) file name to a column first — it can't
    # appear directly inside an aggregate
    n_frag = (
        back_frag.select(F.input_file_name().alias("f"))
        .select(F.countDistinct("f").alias("n"))
    )
    back_frag.repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(committed(compact))
    n_comp = (
        back.select(F.input_file_name().alias("f"))
        .select(F.countDistinct("f").alias("n"))
    )
    return (
        n_frag.crossJoin(n_comp.withColumnRenamed("n", "m"))
        .crossJoin(
            back.agg(
                F.count(F.lit(1)).alias("n_rows"),
                money_sum(F.col("o_totalprice"), 2).alias("total"),
            )
        )
        .select(
            F.col("n").cast("int").alias("n_files_fragmented"),
            F.col("m").cast("int").alias("n_files_compacted"),
            "n_rows",
            "total",
        )
    )


@query(
    "io_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           count(*)                                           AS n,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0
                         THEN o_custkey END) AS BIGINT)       AS sum_new_col
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def io_schema_evolution(spark, sf_dir):
    """Parquet schema evolution (Hive's ALTER TABLE ADD COLUMNS reality):
    an old write without ``extra_custkey`` and a new write with it land in
    the same table directory; ``mergeSchema`` readback presents the union
    schema with NULLs for the old files — the append-only column-add
    migration every long-lived 100 TB table goes through. The aggregate
    proves old rows surface with NULL (excluded from sum) and new rows
    carry values."""
    out = _scratch(sf_dir, "orders_evolving")
    o = T(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 1)
    new = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "extra_custkey", F.col("o_custkey")
    )
    old.write.mode("overwrite").parquet(out)
    new.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", True).parquet(committed(out))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("extra_custkey").alias("sum_new_col"),
    )


@query(
    "io_sorted_layout",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS day_start,
           count(*)                    AS n,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def io_sorted_layout(spark, sf_dir):
    """Time-clustered table layout: ``repartitionByRange(ts)`` +
    ``sortWithinPartitions(ts)`` before the write, so every output file
    covers a disjoint time slice (verified from the parquet footers in
    tests/test_mutations.py::test_sorted_layout_files_disjoint). This is
    the write-side half of scan pruning at 100 TB: with per-file min/max
    ts stats disjoint, a time-predicate scan prunes to the few files whose
    range intersects — the same effect Hive got from SORTED BY tables and
    moderns get from clustering keys. The readback aggregate proves the
    relayout lost/duplicated nothing."""
    out = _scratch(sf_dir, "events_sorted")
    e = T(spark, sf_dir, "events")
    n_files = 8
    (
        e.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(committed(out))
    day = (F.floor(F.col("ts").cast("long") / 86400) * 86400).cast("long")
    return back.groupBy(day.alias("day_start")).agg(
        F.count(F.lit(1)).alias("n"),
        ravg(F.sum("value")).alias("sum_value"),
    )


@query(
    "io_dpp_partitioned_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT year(o_orderdate) AS order_year
      FROM orders WHERE o_totalprice > 450000
    )
    SELECT CAST(f.order_year AS INTEGER) AS order_year,
           f.o_orderstatus,
           count(*)                      AS n,
           CAST(round(sum(CAST(f.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM (SELECT year(o_orderdate) AS order_year, o_orderstatus, o_totalprice
          FROM orders) f
    JOIN dim USING (order_year)
    GROUP BY 1, 2
    """,
)
def io_dpp_partitioned_join(spark, sf_dir):
    """Dynamic partition pruning over a partitioned fact (SURVEY §2.3 DPP
    row — Hive's partition-pruning-by-join, Spark's PartitionPruning rule):
    orders written partitioned by order_year, joined to a selectively
    filtered year dimension (years containing a >450k mega-order). The
    physical scan carries ``dynamicpruningexpression(order_year IN ...)``
    (tests/test_plans.py::test_dpp_prunes_partitioned_scan), so at 100 TB
    only the qualifying year directories are read — the filter is computed
    from the dim side at runtime and reuses its broadcast exchange."""
    out = _scratch(sf_dir, "orders_dpp")
    o = T(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    (
        o.repartition("order_year")
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    fact = spark.read.parquet(committed(out))
    dim = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
    )
    return (
        fact.join(dim, "order_year")
        .groupBy("order_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "o_orderstatus",
            "n",
            "total",
        )
    )


# ---- Z-order clustering layout ------------------------------------------

_Z_BITS = 16  # low bits interleaved per key
_Z_BUCKETS_LOG2 = 6  # top z bits -> 64 layout buckets


def _z_value_sql(x: str, y: str, spark_syntax: bool) -> str:
    """Bit-interleave expression for z = interleave(x_bits, y_bits), built
    once and rendered for either engine (Spark: shiftleft/shiftright
    functions; DuckDB: << / >> operators). Identical integer arithmetic ⇒
    identical z-values, no tolerance anywhere."""
    def shl(e, n):
        return f"shiftleft({e}, {n})" if spark_syntax else f"(({e}) << {n})"

    def shr(e, n):
        return f"shiftright({e}, {n})" if spark_syntax else f"(({e}) >> {n})"

    terms = []
    for i in range(_Z_BITS):
        terms.append(shl(f"({shr(x, i)} & 1)", 2 * i))
        terms.append(shl(f"({shr(y, i)} & 1)", 2 * i + 1))
    return " + ".join(terms)


@query(
    "io_zorder_layout",
    oracle=f"""
    WITH stats AS (
      SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
             min(l_partkey) AS mnp, max(l_partkey) AS mxp
      FROM lineitem
    ),
    z AS (
      SELECT l_orderkey, l_partkey,
             {_z_value_sql(
                 f"(((l_orderkey - mno) * {1 << _Z_BITS}) // (mxo - mno + 1))",
                 f"(((l_partkey - mnp) * {1 << _Z_BITS}) // (mxp - mnp + 1))",
                 spark_syntax=False)} AS zval
      FROM lineitem CROSS JOIN stats
    )
    SELECT CAST(zval >> {2 * _Z_BITS - _Z_BUCKETS_LOG2} AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT)      AS n,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(min(l_partkey) AS BIGINT)  AS min_partkey,
           CAST(max(l_partkey) AS BIGINT)  AS max_partkey
    FROM z GROUP BY 1
    """,
)
def io_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) clustering layout — the multi-column
    file-skipping primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY`:
    interleave the low `_Z_BITS` bits of two join/filter keys into a z-value,
    range-bucket on its top `_Z_BUCKETS_LOG2` bits, and report per-bucket min/max of
    BOTH keys. Because the curve preserves locality in both dimensions at
    once, every bucket covers a bounded rectangle of (orderkey, partkey) —
    so parquet footer min/max stats prune files for predicates on EITHER
    key, which a single-column sort cannot do. At 100 TB the layout step
    is `repartitionByRange(zval) + sortWithinPartitions(zval)` before the
    write (io_sorted_layout is the one-dimensional form), with keys
    range-normalized to `_Z_BITS`-bit grid cells from one broadcast min/max
    scalar (exactly how engines bin z-order on arbitrary key domains);
    this query is
    the layout auditor: the per-bucket key-range report IS the skipping
    guarantee, and it hash-matches DuckDB computing the identical
    interleave. Pure integer bit arithmetic — one shuffle on the bucket."""
    li = T(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_orderkey").alias("mno"),
        F.max("l_orderkey").alias("mxo"),
        F.min("l_partkey").alias("mnp"),
        F.max("l_partkey").alias("mxp"),
    )
    z = F.expr(
        _z_value_sql(
            f"(((l_orderkey - mno) * {1 << _Z_BITS}) div (mxo - mno + 1))",
            f"(((l_partkey - mnp) * {1 << _Z_BITS}) div (mxp - mnp + 1))",
            spark_syntax=True,
        )
    )
    return (
        li.crossJoin(F.broadcast(stats))
        .select("l_orderkey", "l_partkey", z.alias("zval"))
        .groupBy(
            F.shiftright("zval", 2 * _Z_BITS - _Z_BUCKETS_LOG2)
            .cast("bigint")
            .alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
            F.min("l_partkey").cast("bigint").alias("min_partkey"),
            F.max("l_partkey").cast("bigint").alias("max_partkey"),
        )
    )


# ---- Python DataSource API (Spark 4.0 custom connector) ------------------

_PYDS_ROWS = 1000
_PYDS_PARTS = 8


@query(
    "io_python_datasource",
    oracle=f"""
    SELECT i,
           CAST(i % {_PYDS_PARTS} AS INT) AS part,
           md5(CAST(i AS VARCHAR))        AS h
    FROM range({_PYDS_ROWS}) r(i)
    """,
)
def io_python_datasource(spark, sf_dir):
    """Custom connector via the Spark 4 Python DataSource API (the
    pure-Python successor to DataSource V2 for source authoring — the
    extension point Hive served with custom SerDes/StorageHandlers): a
    registered `DataSource` whose reader declares `_PYDS_PARTS` `InputPartition`s,
    each generating its deterministic row slice executor-side. This is
    the template for bespoke 100 TB ingests (internal APIs, tensor
    stores, proprietary formats): partition planning happens driver-side
    and is the unit of parallelism/locality, generation streams
    batch-wise per partition, and Spark sees an ordinary relation —
    filters/pruning compose on top. Oracled by regenerating the identical
    rows relationally (range + md5)."""
    import hashlib

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    rows_per = _PYDS_ROWS // _PYDS_PARTS

    class RangeDocReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(p) for p in range(_PYDS_PARTS)]

        def read(self, partition):
            p = partition.value
            # round-robin assignment i % PARTS == p (mirrors a sharded
            # fetch where each task owns one remote shard)
            for i in range(p, _PYDS_ROWS, _PYDS_PARTS):
                yield (i, p, hashlib.md5(str(i).encode()).hexdigest())

    class RangeDocSource(DataSource):
        @classmethod
        def name(cls):
            return "hive_apache_ci_rangedoc"

        def schema(self):
            return "i bigint, part int, h string"

        def reader(self, schema):
            return RangeDocReader()

    spark.dataSource.register(RangeDocSource)
    return spark.read.format("hive_apache_ci_rangedoc").load()


_CATALOG_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,"
    f" CAST((SELECT count(*) FROM pragma_table_info('{t}')) AS BIGINT)"
    f" AS n_cols FROM {t}"
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    )
)


@query("catalog_tables_report", oracle=_CATALOG_ORACLE)
def catalog_tables_report(spark, sf_dir):
    """Warehouse catalog report — the SHOW TABLES / DESCRIBE role
    (HiveQL's metadata surface) expressed as a query: every registered
    table with its row count and column count. Registration goes through
    `catalog.load_tables` (the same normalization path every query uses),
    so the report also certifies that the session catalog and the physical
    parquet agree on schema width — a drift here (e.g. the events.ts
    encoding normalization dropping or adding a column) fails the oracle.
    Ten single-table count aggregates unioned; each is a metadata-cheap
    map-side count at any scale."""
    from functools import reduce

    from ..catalog import TABLES, load_tables

    load_tables(spark, sf_dir, register=True)
    parts = []
    for t in TABLES:
        d = spark.table(t)
        parts.append(
            d.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.lit(len(d.columns)).cast("bigint").alias("n_cols"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), parts)


@query(
    "catalog_partitions_report",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM orders
    GROUP BY 1
    """,
)
def catalog_partitions_report(spark, sf_dir):
    """SHOW PARTITIONS role (HiveQL's partition-metadata command) as a
    query: write orders dynamically partitioned by year (one writer task
    per partition — `repartition(col)` routes each year to exactly one
    task, so exactly one file per partition dir), then report every
    discovered partition with its row count and physical file count from
    `input_file_name()`. The n_files=1 column is load-bearing: it
    certifies the small-files discipline of the partitioned write (a
    non-repartitioned write would emit one file per input task per
    partition). At scale this is the nightly partition-audit query every
    warehouse runs against its metastore."""
    out = _scratch(sf_dir, "orders_part_report")
    o = T(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    (
        o.repartition("order_year")
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(committed(out)).withColumn("src_file", F.input_file_name())
    return (
        back.groupBy("order_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct("src_file").cast("bigint").alias("n_files"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_rows",
            "n_files",
        )
    )


@query(
    "io_csv_malformed_quarantine",
    oracle="""
    WITH lines AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 7 = 0
                  THEN s_suppkey || ',' || s_name || ',X'
                  ELSE s_suppkey || ',' || s_name || ',' || s_nationkey
             END AS line,
             (s_suppkey % 7 = 0) AS bad
      FROM supplier
    )
    SELECT CASE WHEN bad THEN 'quarantined' ELSE 'good' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(('0x' || substr(md5(line), 1, 8)) AS BIGINT))
                AS BIGINT) AS line_digest
    FROM lines GROUP BY 1
    """,
)
def io_csv_malformed_quarantine(spark, sf_dir):
    """Bad-record handling for text SerDes (Hive's
    ``hive.exec.bad.records``-style tolerance, Spark's PERMISSIVE mode
    with ``columnNameOfCorruptRecord``): a CSV feed is written where
    every 7th supplier's numeric column is corrupted; the typed readback
    must load every well-formed row, null out the unparseable field, and
    QUARANTINE the raw offending line — never fail the job, never drop
    the evidence. Output: per-status row counts, recovered key sums
    (quarantined keys re-salvaged from the raw line via regexp), and a
    commutative 32-bit-md5 line digest certifying the quarantined
    CONTENT byte-for-byte, not just its count.

    Determinism: both engines construct the identical line strings from
    the same source rows; digests are order-insensitive sums of 32-bit
    md5 prefixes (each ≤ 2^32, summed in BIGINT — no overflow at any SF).

    100 TB: the write and the PERMISSIVE read both stream partition-
    local (no shuffle until the 2-group count); quarantine triage on a
    real feed is exactly this plan plus a WHERE on the corrupt column.
    Cites: SURVEY.md §2.2 SerDe tolerance row."""
    out = _scratch(sf_dir, "supplier_badcsv")
    s = T(spark, sf_dir, "supplier")
    lines = s.select(
        F.when(
            F.col("s_suppkey") % 7 == 0,
            F.concat_ws(",", F.col("s_suppkey"), F.col("s_name"), F.lit("X")),
        )
        .otherwise(
            F.concat_ws(
                ",", F.col("s_suppkey"), F.col("s_name"), F.col("s_nationkey")
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = "k BIGINT, name STRING, nk INT, _corrupt_record STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(committed(out))
    )
    # PERMISSIVE keeps parseable fields and stores the raw line alongside;
    # a corrupt-record column query needs the raw row available in the same
    # pass. Spark's docs prescribe cache(), but a cache() held by a returned
    # plan leaks storage blocks across a sweep. The barrier gives the same
    # same-pass guarantee (all columns materialized once), and its blocks
    # are released with the RDD by the ContextCleaner when the returned
    # DataFrame is dropped, not pinned in the cache registry.
    back = materialize(back)
    raw_line = F.when(
        F.col("_corrupt_record").isNotNull(), F.col("_corrupt_record")
    ).otherwise(F.concat_ws(",", F.col("k"), F.col("name"), F.col("nk")))
    salvage_key = F.coalesce(
        F.col("k"),
        F.regexp_extract(F.col("_corrupt_record"), r"^(\d+),", 1).cast("bigint"),
    )
    h32 = F.conv(F.substring(F.md5(raw_line), 1, 8), 16, 10).cast("bigint")
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("quarantined"))
            .otherwise(F.lit("good"))
            .alias("status"),
            salvage_key.alias("sk"),
            h32.alias("h"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("sk").cast("bigint").alias("key_sum"),
            F.sum("h").cast("bigint").alias("line_digest"),
        )
    )


# ---- consistent-hashing shard assignment / reshard audit --------------------

_CH_V = 16          # virtual nodes per shard
_CH_S0, _CH_S1 = 8, 9
_CH_RING = 4294967296  # 2^32 ring positions


def _ch_ring_sql(n_shards: int) -> str:
    return f"""(
      SELECT list(struct_pack(pos := pos, shard := shard)
                  ORDER BY pos, shard) AS ring
      FROM (
        SELECT s.shard,
               CAST(('0x' || substr(md5(CAST(s.shard AS VARCHAR) || ':'
                      || CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT)
                 % {_CH_RING} AS pos
        FROM unnest(range(0, {n_shards})) AS s(shard),
             unnest(range(0, {_CH_V})) AS r(r)
      )
    )"""


_CH_PICK = (
    "CASE WHEN len(list_filter({ring}, n -> n.pos >= dp)) > 0 "
    "THEN list_filter({ring}, n -> n.pos >= dp)[1].shard "
    "ELSE {ring}[1].shard END"
)

_CH_SQL = f"""
WITH r0 AS {_ch_ring_sql(_CH_S0)},
r1 AS {_ch_ring_sql(_CH_S1)},
docs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {_CH_RING} AS dp
  FROM documents
),
assigned AS (
  SELECT d.doc_id,
         {_CH_PICK.format(ring="r0.ring")} AS s_before,
         {_CH_PICK.format(ring="r1.ring")} AS s_after
  FROM docs d CROSS JOIN r0 CROSS JOIN r1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN s_before <> s_after THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved
  FROM assigned
)
SELECT CAST(a.s_after AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_after,
       CAST(sum(CASE WHEN a.s_before = a.s_after THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stayed,
       CAST(sum(CASE WHEN a.s_before <> a.s_after THEN 1 ELSE 0 END)
            AS BIGINT) AS n_arrived,
       round((SELECT n_moved * 1.0 / n_total FROM tot) + 1e-9, 6)
         AS moved_share
FROM assigned a GROUP BY a.s_after
"""


@query("io_consistent_hash_shards", oracle=_CH_SQL)
def io_consistent_hash_shards(spark, sf_dir):
    """Consistent-hashing shard assignment + reshard audit: documents land
    on a `_CH_V`-virtual-node md5 ring of `_CH_S0` shards, then the ring grows to
    `_CH_S1` shards and the report shows, per new shard, how many docs stayed
    vs arrived and the global moved share — which consistent hashing
    bounds near 1/`_CH_S1` (~11%), where naive mod-sharding moves ~8/9 of the
    corpus. The layout op behind any incremental reshard / cache ring /
    partition-evolution story.

    Pure integer md5 arithmetic; the ring is an array literal-equivalent
    (collected once, broadcast); successor lookup = first ring node with
    pos >= doc pos, wrapping to the ring head — ties impossible to
    diverge because the ring array is sorted (pos, shard) identically in
    both engines.

    100 TB: the rings are O(shards x vnodes) rows collected into ONE
    broadcast array row; assignment is a pure map over the scan (no
    shuffle at all until the 9-row report aggregate)."""
    d = T(spark, sf_dir, "documents")

    def ring_df(n_shards: int):
        nodes = spark.createDataFrame(
            [(s, r) for s in range(n_shards) for r in range(_CH_V)],
            "shard int, r int",
        )
        pos = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("shard").cast("string"),
                            F.lit(":"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % _CH_RING
        )
        return nodes.select(pos.alias("pos"), "shard").agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "shard"))
            ).alias("ring")
        )

    def pick(ring_col):
        nxt = F.filter(ring_col, lambda n: n["pos"] >= F.col("dp"))
        return F.when(
            F.size(nxt) > 0, F.element_at(nxt, 1)["shard"]
        ).otherwise(F.element_at(ring_col, 1)["shard"])

    docs = d.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("bigint")
            % _CH_RING
        ).alias("dp"),
    )
    assigned = (
        docs.crossJoin(F.broadcast(ring_df(_CH_S0).select(F.col("ring").alias("r0"))))
        .crossJoin(F.broadcast(ring_df(_CH_S1).select(F.col("ring").alias("r1"))))
        .select(
            "doc_id",
            pick(F.col("r0")).alias("s_before"),
            pick(F.col("r1")).alias("s_after"),
        )
    )
    tot = assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            F.when(F.col("s_before") != F.col("s_after"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    )
    return (
        assigned.groupBy(F.col("s_after").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            F.sum(
                F.when(F.col("s_before") == F.col("s_after"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_stayed"),
            F.sum(
                F.when(F.col("s_before") != F.col("s_after"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_arrived"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard", "n_after", "n_stayed", "n_arrived",
            F.round(
                F.col("n_moved") / F.col("n_total") + F.lit(1e-9), 6
            ).alias("moved_share"),
        )
    )


# ---- XML roundtrip (Spark 4 native XML datasource) --------------------------


@query(
    "io_xml_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total_price
    FROM part
    GROUP BY p_brand
    """,
)
def io_xml_roundtrip(spark, sf_dir):
    """XML write + typed readback (Hive's XML SerDe role; Spark 4 ships the
    spark-xml datasource natively — rowTag records under a rootTag
    document). Explicit schema on read (no inference nondeterminism, same
    rule as the JSON/CSV roundtrips); the readback aggregate must match
    the original table exactly.

    100 TB: XML is a line-unsplittable format — each file parses whole, so
    the write keeps the source's partitioning (many files = read
    parallelism) and the _SUCCESS-gated readback prevents consuming a
    half-written directory. Schema-on-read means the scan prunes to the
    projected elements."""
    out = _scratch(sf_dir, "part_xml")
    p = T(spark, sf_dir, "part")
    (
        p.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "parts")
        .option("rowTag", "part")
        .save(out)
    )
    back = (
        spark.read.schema(p.schema)
        .format("xml")
        .option("rowTag", "part")
        .load(committed(out))
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        r2(F.sum("p_retailprice")).alias("total_price"),
    )


@query(
    "io_avro_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(l_linenumber) AS BIGINT) AS line_sum,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
           round(avg(l_quantity) + 1e-9, 4) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def io_avro_roundtrip(spark, sf_dir):
    """Avro container-file write + readback (Hive ``STORED AS AVRO`` /
    AvroSerDe — SURVEY.md §2.2 ``avro/AvroSerDe.class``). This Spark build
    bundles the Avro library jars but not the spark-avro datasource, so
    the round-trip runs the engine's own implementation of the public
    Avro 1.12 Object Container File spec (sources/avro_codec.py):
    task-parallel encode via ``mapInPandas`` with task-side atomic file
    commits, binaryFile-parallel decode back. JVM-interop (stock
    org.apache.avro DataFileReader/Writer reads our files and vice versa)
    is proven in tests/test_avro.py.

    A hash match against the DuckDB oracle on the ORIGINAL table proves
    the encode->container->decode pipeline is lossless for long/int/
    double/string incl. nullable unions.

    100 TB: file count == partition count (repartition = the file-sizing
    lever, same as every sink here); reads are file-parallel, the right
    granularity at the 64-256 MB files a real writer would emit. The
    task-side ``open()`` targets the executor-local view of the output
    directory — on a cluster this path is shared storage (NFS/FUSE-mounted
    object store); the commit protocol (tmp + atomic rename keyed by
    partitionId, manifest through Spark's committer) is location-agnostic.
    """
    from .avro_codec import read_avro, write_avro

    out = _scratch(sf_dir, "lineitem_avro")
    data_dir = os.path.join(out, "data")
    manifest_dir = os.path.join(out, "manifest")
    # fresh data dir: a same-process re-run reuses the scratch name, and the
    # file-per-partition layout must not mix generations
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir, exist_ok=True)
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    )
    manifest = write_avro(li, data_dir)
    # materializing the manifest through Spark's committer IS the action
    # that drives the avro writes; its _SUCCESS transitively gates them
    manifest.write.mode("overwrite").parquet(manifest_dir)
    back = read_avro(spark, committed(manifest_dir) and data_dir, li.schema)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_linenumber").cast("bigint").alias("line_sum"),
        money_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        ravg(F.avg("l_quantity")).alias("avg_qty"),
    )


@query(
    "io_stats_only_minmax",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_okey,
           CAST(max(l_orderkey) AS BIGINT) AS max_okey,
           CAST(min(l_suppkey) AS BIGINT)  AS min_supp,
           CAST(max(l_suppkey) AS BIGINT)  AS max_supp,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def io_stats_only_minmax(spark, sf_dir):
    """StatsOptimizer parity (SURVEY.md §4.1: Hive answers bare
    count/min/max from metastore statistics without scanning data —
    the one optimizer row previously marked 'no Catalyst equivalent').
    Spark's equivalent is parquet AGGREGATE PUSHDOWN: with the DSv2
    reader, COUNT/MIN/MAX are answered from parquet footer statistics
    (row-group counts + column min/max), never decoding data pages —
    plan-gated in tests/test_round8_ops.py via the scan's
    ``PushedAggregation: [COUNT(*), MIN(...), ...]`` marker.

    The DSv2 reader is selected per-query: useV1SourceList is cleared
    only while the plan is BUILT AND OPTIMIZED (pushdown runs in
    V2ScanRelationPushDown at optimization, so ``optimizedPlan()`` is
    forced under the conf), then restored so the rest of a shared
    session keeps the default reader — QueryExecution caches the
    optimized plan, so the later collect() reuses the pushed form.

    100 TB: this is THE metadata-only fast path — cost scales with
    footer count, not data bytes; min/max/count over a petabyte of
    parquet is a listing plus footer reads. No shuffle beyond the
    single-partition merge of per-file stats rows.

    Determinism: count/min/max are exact (no floats are aggregated,
    only selected), so both engines emit identical values; min/max of
    the double column is an actual stored value, bit-identical."""
    prev = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        agg = li.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_okey"),
            F.max("l_orderkey").cast("bigint").alias("max_okey"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        # force analysis + optimization (where pushdown decides) while the
        # DSv2 conf is active; the cached optimized plan survives restore
        agg._jdf.queryExecution().optimizedPlan()
        return agg
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev)


_BINARYFILE_ORACLE = """
SELECT CAST(doc_id AS BIGINT)            AS doc_id,
       lang,
       CAST(strlen(text) + 1 AS BIGINT)  AS n_bytes,
       md5(text || chr(10))              AS content_md5
FROM documents
WHERE doc_id < 40
"""


@query("io_binaryfile_ingest", oracle=_BINARYFILE_ORACLE)
def io_binaryfile_ingest(spark, sf_dir):
    """`binaryFile` datasource ingest — the multimodal on-ramp (SURVEY §2.2
    storage-handler role; pipeline/multimodal.py consumes the resulting
    binary columns). A one-file-per-document corpus is written
    distributed (repartition by doc_id -> partitionBy text write: each
    doc's single row lands in exactly one part file), then re-ingested as
    raw blobs via ``spark.read.format('binaryFile')`` with
    recursiveFileLookup + pathGlobFilter, the production pattern for
    slurping image/audio/document trees into a table of (path, content).
    doc_id is recovered from the partition directory name; byte length
    and md5 are computed ON THE BLOB.

    The oracle never sees the files: it derives the expected byte count
    and digest from the documents table itself (text + the trailing
    newline the text writer appends), so the check proves the
    write->binary-ingest loop is lossless, not merely self-consistent.

    100 TB: binaryFile is read-parallel per file with a configurable
    maxBytesPerFile guard; metadata columns (path, length) come from the
    listing, so the length/pruning phase never opens file contents, and
    the glob filter prunes non-data files before any IO."""
    out = _scratch(sf_dir, "docs_binary")
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    (
        d.repartition("doc_id")
        .select("doc_id", F.col("text").alias("value"))
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(out)
    )
    blobs = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "part-*")
        .load(committed(out))
    )
    parsed = blobs.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.length(F.col("content")).cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )
    langs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "lang"
    )
    return parsed.join(langs, "doc_id").select(
        "doc_id", "lang", "n_bytes", "content_md5"
    )


_RETENTION_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(count(*) AS BIGINT)       AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total
FROM orders
WHERE year(o_orderdate) >= 1997
GROUP BY CAST(year(o_orderdate) AS INT)
"""


@query("io_drop_partition_retention", oracle=_RETENTION_ORACLE)
def io_drop_partition_retention(spark, sf_dir):
    """Partition-retention job via DDL: dynamic-partition insert into a
    year-partitioned table, then ``ALTER TABLE ... DROP PARTITION`` of the
    expired years (Hive's retention idiom, SURVEY §2.2 DDL surface — the
    metadata-only delete that makes time-partitioned retention O(dropped
    partitions), never a data rewrite). The readback aggregate must equal
    the source filtered by the retention predicate, proving the catalog
    stopped exposing the dropped years without touching survivors.

    100 TB: the drop is a metastore operation regardless of data volume;
    the subsequent scan partition-prunes to the surviving years. The
    anti-pattern this replaces is DELETE-by-rewrite over the full table."""
    rid = RUN_ID.replace("-", "_")
    tbl = f"orders_retention_{rid}"
    loc = _scratch(sf_dir, "orders_retention_tbl")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING parquet PARTITIONED BY (yr INT) LOCATION '{loc}'
        """
    )
    o = T(spark, sf_dir, "orders")
    (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .repartition("yr")
        .write.mode("overwrite")
        .insertInto(tbl)
    )
    spark.sql(
        f"ALTER TABLE {tbl} DROP IF EXISTS "
        "PARTITION (yr=1995), PARTITION (yr=1996)"
    )
    return (
        spark.table(tbl)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("o_totalprice"), 2).alias("total"),
        )
        .select(F.col("yr").cast("int").alias("yr"), "n", "total")
    )


# ---- round 9: legacy SequenceFile + JDBC source (VERDICT gaps 3-4) ---------


@query(
    "io_sequencefile_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT)         AS n,
           CAST(sum(CAST(round(s_acctbal, 2) AS DECIMAL(18,2)))
                AS DOUBLE)                  AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def io_sequencefile_roundtrip(spark, sf_dir):
    """SequenceFile round-trip (SURVEY §2.2 — Hive's legacy K/V container,
    ``[jar: io/RCFile.class]`` family): write the supplier dimension as
    (suppkey, 'nationkey|acctbal') records via saveAsSequenceFile, read
    back with sc.sequenceFile (splittable Writable decode), re-derive the
    columns and aggregate. The Python RDD bridge is the documented cost of
    the legacy format from a non-Hive session and is bounded to the
    DIMENSION table (fact-scale SequenceFile I/O goes through a
    Hive-enabled session's ``STORED AS SEQUENCEFILE``, which is pure
    JVM SerDe — proven by tests/test_legacy_formats.py
    in a subprocess session). A migration reads these files ONCE and
    rewrites to parquet; this op is that bridge."""
    import shutil

    out = _scratch(sf_dir, "supplier_seq")
    # saveAsSequenceFile has no overwrite mode — clear the per-run scratch
    # target so repeated invocations in one process (bench warm-ups, the
    # canary's double timing) stay idempotent like every other io_* op.
    shutil.rmtree(out, ignore_errors=True)
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("bal")
    )
    (
        s.rdd.map(lambda r: (r.s_suppkey, f"{r.s_nationkey}|{r.bal}"))
        .saveAsSequenceFile(out)
    )
    back = spark.sparkContext.sequenceFile(out).toDF(["k", "v"])
    parts = F.split(F.col("v"), r"\|")
    decoded = back.select(
        parts.getItem(0).cast("int").alias("s_nationkey"),
        parts.getItem(1).cast("double").alias("bal"),
    )
    return decoded.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("bal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    )


@query(
    "io_jdbc_partitioned_read",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)))
                AS DOUBLE)          AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def io_jdbc_partitioned_read(spark, sf_dir):
    """JDBC storage-handler analog (SURVEY §2.2 storage handlers row —
    previously 'spark.read.jdbc path untested'): round-trip the customer
    table through an embedded Derby database (the one RDBMS on the Spark
    classpath — it backs Hive's own metastore), then read it back with a
    PARTITIONED JDBC scan (partitionColumn/lowerBound/upperBound/
    numPartitions=4 → 4 parallel range queries, the scale mechanism of
    spark.read.jdbc) and aggregate. Everything JVM-side; per-run Derby
    path (scratch discipline). At 100 TB the same options point at a real
    warehouse and the ranges shard the extraction."""
    import os

    db = os.path.join(_scratch(sf_dir, "jdbc_derby"), "db")
    # Derby writes derby.log into user.dir (the repo checkout!) unless
    # redirected; the property is read at engine boot, so set it before
    # the first connection. Harmless no-op if Derby already booted.
    spark._jvm.System.setProperty(  # noqa: SLF001 (driver-side JVM prop)
        "derby.stream.error.file", db + ".derby.log"
    )
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("bal")
    )
    c.write.jdbc(url, "customer_jdbc", mode="overwrite", properties=props)
    lo, hi = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    back = spark.read.jdbc(
        url,
        "customer_jdbc",
        column="c_custkey",
        lowerBound=int(lo),
        upperBound=int(hi) + 1,
        numPartitions=4,
        properties=props,
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("bal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    )


@query(
    "io_schema_evolution_merge",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                          AS n_rows,
           CAST(count(CASE WHEN o_orderkey % 2 = 1
                           THEN 1 END) AS BIGINT)            AS n_with_price,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(round(o_totalprice, 2)
                                   AS DECIMAL(18,2)) END) AS DOUBLE)
                                                             AS total_price
    FROM orders
    """,
)
def io_schema_evolution_merge(spark, sf_dir):
    """Schema evolution on read (Hive ``ALTER TABLE ... ADD COLUMNS`` +
    schema-on-read, SURVEY §1.2): the table directory holds files written
    under TWO schemas — an old 2-column layout and a new 3-column layout
    with an added price column — and ``mergeSchema`` reconciles them into
    the evolved schema, old rows reading NULL for the new column (exactly
    Hive's add-columns semantics: no data rewrite, metadata-only DDL).
    The aggregate proves the NULL-backfill: n_with_price counts only
    new-layout rows, and the price total matches the oracle's odd-key
    partition of the source. At 100 TB this is the only sane way to add
    a column — rewriting the table is not."""
    out = _scratch(sf_dir, "orders_evolved")
    o = T(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    old.write.mode("overwrite").parquet(out)
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("price"),
    )
    new.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(committed(out))
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("price").cast("bigint").alias("n_with_price"),
        F.sum(F.col("price").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ---- round 10: RCFile through the REAL Hive SerDe, oracled -----------------

_RCFILE_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

src_parquet, bridge, tag = sys.argv[1], sys.argv[2], sys.argv[3]
s = (SparkSession.builder.master("local[4]")
     .config("spark.sql.warehouse.dir", f"{bridge}_wh")
     .config("javax.jdo.option.ConnectionURL",
             f"jdbc:derby:;databaseName={bridge}_ms;create=true")
     .config("spark.sql.session.timeZone", "UTC")
     .config("spark.ui.enabled", "false")
     .enableHiveSupport().getOrCreate())
(s.read.parquet(src_parquet)
  .selectExpr("s_suppkey", "s_nationkey", "round(s_acctbal, 2) AS bal")
  .createOrReplaceTempView("srcv"))
t = f"sup_rcfile_{tag}"
s.sql(f"CREATE TABLE {t} STORED AS RCFILE AS SELECT * FROM srcv")
# read back THROUGH the RCFile ColumnarSerDe and bridge to parquet
s.table(t).write.mode("errorifexists").parquet(bridge)
print("RCFILE_BRIDGE_OK")
"""


@query(
    "io_rcfile_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT)         AS n,
           CAST(sum(CAST(round(s_acctbal, 2) AS DECIMAL(18,2)))
                AS DOUBLE)                  AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def io_rcfile_roundtrip(spark, sf_dir):
    """RCFile round-trip through the REAL Hive ColumnarSerDe (SURVEY §2.2
    ``[jar: io/RCFile.class, serde2/columnar/ColumnarSerDe.class]``),
    closing the one §2.2 row that had no oracled registry entry (r9
    VERDICT item 5). ``STORED AS RCFILE`` needs a Hive-enabled session
    and catalogImplementation is a STATIC conf, so the write+readback
    runs in a subprocess Hive session (the tests/test_legacy_formats.py
    mechanism): supplier → CREATE TABLE STORED AS RCFILE (JVM SerDe
    encode) → ``s.table(t)`` scan (JVM SerDe decode) → parquet bridge.
    The engine session aggregates the bridge against an oracle computed
    from the ORIGINAL table — any corruption in the RCFile encode or
    decode breaks the hash. Scale: RCFile is a migration-era format; a
    100 TB migration reads it once through exactly this JVM SerDe path
    and lands parquet, which is what the bridge models."""
    import subprocess
    import sys as _sys
    import uuid as _uuid

    base = run_scratch("rcfile", sf_dir, "roundtrip")
    bridge = os.path.join(base, "bridge")
    if not os.path.isdir(bridge):  # once per run (bench warm-ups reuse)
        os.makedirs(base, exist_ok=True)
        proc = subprocess.run(
            [_sys.executable, "-c", _RCFILE_SCRIPT,
             os.path.join(sf_dir, "supplier.parquet"), bridge,
             _uuid.uuid4().hex[:8]],
            capture_output=True, text=True, timeout=600,
        )
        if "RCFILE_BRIDGE_OK" not in proc.stdout:
            raise RuntimeError(
                f"RCFile subprocess failed: {proc.stderr[-2000:]}"
            )
    return (
        spark.read.parquet(committed(bridge))
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("bal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )
