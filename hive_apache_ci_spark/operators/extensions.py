"""UDF / UDAF / UDTF extension surface (SURVEY.md §2.9) + pivot/sample.

Hive extension points and their Spark owners, each exercised by a query:

- legacy ``UDF`` + ``GenericUDF``  → ``spark.udf.register`` / ``@F.udf``
  (kept OUT of hot paths — here a vectorized ``@pandas_udf`` instead);
- ``GenericUDTF``                  → Python ``@F.udtf``;
- ``TRANSFORM ... USING 'cmd'``    → Spark SQL TRANSFORM with a real
  external process (ScriptOperator parity, /bin/cat identity pipe);
- ``CREATE TEMPORARY MACRO``       → a Python helper returning a Column;
- ``reflect``/``java_method``      → JVM reflection call;
- ``TABLESAMPLE``                  → ``df.sample`` (seeded, rows-only);
- ``.pivot()``                     → Spark bonus surface (no Hive
  equivalent), oracle via conditional aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..catalog import run_sql
from ..helpers import T, r2
from ..registry import query


@query(
    "pandas_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 1.07 * 10000 + 0.5) / 10000
               AS priced
    FROM lineitem WHERE l_orderkey <= 300
    """,
)
def pandas_udf_scalar(spark, sf_dir):
    """Vectorized scalar pandas UDF (Arrow batches — the GenericUDF
    replacement that doesn't abandon columnar transfer)."""

    @F.pandas_udf("double")
    def priced(price: pd.Series, disc: pd.Series) -> pd.Series:
        # explicit half-away rounding: pandas .round() is half-even, which
        # diverges from SQL round() exactly on the half-boundaries this
        # product lands on; the oracle mirrors this same formula bitwise
        import numpy as np

        return np.floor(price * (1 - disc) * 1.07 * 10000 + 0.5) / 10000

    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        priced("l_extendedprice", "l_discount").alias("priced"),
    )


@query(
    "python_udf_registered",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 400000 THEN 'XL'
                WHEN o_totalprice >= 200000 THEN 'L'
                ELSE 'S' END AS size_band
    FROM orders WHERE o_orderkey <= 400
    """,
)
def python_udf_registered(spark, sf_dir):
    """``spark.udf.register`` + use from SQL text — the ``CREATE FUNCTION``
    path (row-at-a-time Python; deliberately tiny input, see §2.9 note)."""

    def band(p: float) -> str:
        return "XL" if p >= 400000 else ("L" if p >= 200000 else "S")

    spark.udf.register("size_band_udf", band, "string")
    return run_sql(
        spark,
        "SELECT o_orderkey, size_band_udf(o_totalprice) AS size_band "
        "FROM orders WHERE o_orderkey <= 400",
        sf_dir,
    )


@query(
    "python_udtf",
    oracle="""
    SELECT r_regionkey, part FROM (
      SELECT r_regionkey, unnest(string_split(r_name, ' ')) AS part FROM region
    )
    """,
)
def python_udtf(spark, sf_dir):
    """Python ``@udtf`` (GenericUDTF parity: 1 row → N rows via forward())."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="r_regionkey int, part string")
    class SplitName:
        def eval(self, key: int, name: str):
            for part in name.split(" "):
                yield key, part

    spark.udtf.register("split_name", SplitName)
    return run_sql(
        spark,
        "SELECT s.r_regionkey, s.part FROM region, "
        "LATERAL split_name(r_regionkey, r_name) s",
        sf_dir,
    )


@query(
    "transform_using_script",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS k, c_mktsegment AS seg
    FROM customer WHERE c_custkey <= 200
    """,
)
def transform_using_script(spark, sf_dir):
    """Hive ``TRANSFORM ... USING 'cmd'`` with a REAL external process
    (/bin/cat identity pipe) — ScriptOperator parity including the
    tab-delimited row codec both directions."""
    return run_sql(
        spark,
        """
        SELECT TRANSFORM (c_custkey, c_mktsegment)
               USING 'cat'
               AS (k string, seg string)
        FROM customer WHERE c_custkey <= 200
        """,
        sf_dir,
    )


def discount_value_macro(price, discount):
    """``CREATE TEMPORARY MACRO discount_value(p, d) p*(1-d)`` — Hive macros
    are expression templates; in Python-first Spark that's exactly a helper
    returning a Column expression (GenericUDFMacro parity)."""
    return price * (1 - discount)


@query(
    "macro_expression",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS discounted
    FROM lineitem WHERE l_orderkey <= 200
    """,
)
def macro_expression(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            discount_value_macro(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("discounted"),
    )


@query(
    "java_method_reflect",
    oracle="""
    SELECT p_partkey,
           CAST(greatest(p_size, 25) AS VARCHAR) AS max_sz,
           lower(to_hex(p_size))                 AS size_hex
    FROM part WHERE p_partkey <= 300
    """,
)
def java_method_reflect(spark, sf_dir):
    """``reflect``/``java_method`` — JVM reflection UDF (Hive
    GenericUDFReflect): static Math.max and Integer.toHexString via reflection (java_method resolves static methods only)."""
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.java_method(
            F.lit("java.lang.Math"), F.lit("max"), F.col("p_size"), F.lit(25)
        ).alias("max_sz"),
        F.java_method(
            F.lit("java.lang.Integer"), F.lit("toHexString"), F.col("p_size")
        ).alias("size_hex"),
    )


@query(
    "pivot_segments",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           round(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN o_totalprice END), 2) AS automobile,
           round(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN o_totalprice END), 2) AS building,
           round(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN o_totalprice END), 2) AS machinery
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def pivot_segments(spark, sf_dir):
    """``.pivot()`` — Spark bonus surface (Hive has no pivot); oracle is the
    equivalent conditional aggregation."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("c_mktsegment", ["AUTOMOBILE", "BUILDING", "MACHINERY"])
        .agg(r2(F.sum("o_totalprice")))
        .select(
            "order_year",
            F.col("AUTOMOBILE").alias("automobile"),
            F.col("BUILDING").alias("building"),
            F.col("MACHINERY").alias("machinery"),
        )
    )


@query(
    "tablesample_seeded",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS source_rows,
           TRUE AS in_bounds,
           TRUE AS in_bounds_per_flag
    FROM lineitem
    """,
)
def tablesample_seeded(spark, sf_dir):
    """TABLESAMPLE (n PERCENT) ≙ df.sample(fraction, seed). The sampled
    ROW SET is engine-specific (Hive's SplitSample has the same
    granularity caveat), so the operator is graded on its statistical
    contract, computed in-plan over the actual sample: the overall sample
    size AND every per-returnflag stratum count must sit within 6 sigma of
    fraction*N (Bernoulli bound — deterministic for a fixed seed+layout,
    astronomically safe; the per-stratum form also certifies the sample is
    unbiased across groups). Full hash oracle (was rows-only)."""
    f = 0.1
    l = T(spark, sf_dir, "lineitem")
    s = l.sample(fraction=f, seed=42)
    sflag = s.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_g"))
    tflag = l.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("t_g"))
    # Coalesce BEFORE the bound check: a stratum entirely absent from the
    # sample leaves n_g NULL after the left join, and a NULL comparison
    # would make bool_and skip exactly the missed-large-stratum case this
    # guard exists for (r5 ADVICE) — coalesced, a missing large stratum
    # yields FALSE.
    in_g = (
        F.abs(F.coalesce("n_g", F.lit(0)) - F.lit(f) * F.col("t_g"))
        <= F.lit(6.0) * F.sqrt(F.lit(f * (1 - f)) * F.col("t_g"))
    )
    per_flag = (
        tflag.join(sflag, "l_returnflag", "left")
        .select(
            F.col("t_g"),
            F.coalesce("n_g", F.lit(0)).alias("n_g"),
            in_g.alias("ok_g"),
        )
        .agg(
            F.sum("t_g").cast("bigint").alias("source_rows"),
            F.sum("n_g").alias("n"),
            F.bool_and("ok_g").alias("in_bounds_per_flag"),
        )
    )
    bound = F.lit(6.0) * F.sqrt(F.lit(f * (1 - f)) * F.col("source_rows"))
    return per_flag.select(
        "source_rows",
        (
            F.abs(F.col("n") - F.lit(f) * F.col("source_rows")) <= bound
        ).alias("in_bounds"),
        "in_bounds_per_flag",
    )


@query(
    "matchpath_sessions",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lead(event_type)    OVER w AS next_type,
             lead(event_type, 2) OVER w AS next2_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS start_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, start_s
    FROM seq
    WHERE event_type = 'signup' AND next_type = 'view' AND next2_type = 'purchase'
    """,
)
def matchpath_sessions(spark, sf_dir):
    """Hive ``matchpath`` PTF (ql/udf/ptf/MatchPath.java): row-sequence
    pattern matching per partition. The common fixed-length pattern
    (signup → view → purchase) decomposes exactly into lead() comparisons —
    no Python needed; variable-length patterns (A.B*.C) use the
    applyInPandas matcher in tests/test_extensions.py."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("start_s"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("event_type", 2).over(w).alias("next2_type"),
    )
    return seq.filter(
        (F.col("event_type") == "signup")
        & (F.col("next_type") == "view")
        & (F.col("next2_type") == "purchase")
    ).select("user_id", "start_s")


@query(
    "tablesample_bucket",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 32 = 0
    """,
)
def tablesample_bucket(spark, sf_dir):
    """Hive ``TABLESAMPLE (BUCKET 1 OUT OF 32 ON key)`` — deterministic
    hash-bucket sampling (ql/parse/SplitSample's bucketed form). Unlike the
    seeded-RNG sample (rows-only), hashing the key makes the sample
    SQL-reproducible → fully oracled. At 100 TB this is the sampling mode
    that composes with bucketed layout: bucket-pruned scans read 1/32 of
    the files, not a 1/32 filter over all of them."""
    l = T(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 32
    )
    return l.filter(bucket == 0).select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "matchpath_variable_length",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'k'
                  WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
                  ELSE 'e' END AS sym,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) - 1
                  AS INTEGER) AS idx
      FROM events
    ),
    nx AS (
      SELECT user_id, sym, idx,
             min(CASE WHEN sym NOT IN ('k', 'v') THEN idx END)
               OVER (PARTITION BY user_id ORDER BY idx
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_hard
      FROM seq
    )
    SELECT a.user_id AS part,
           a.idx AS start_idx,
           CAST(a.next_hard - a.idx + 1 AS INTEGER) AS match_len
    FROM nx a JOIN seq b
      ON b.user_id = a.user_id AND b.idx = a.next_hard
    WHERE a.sym = 's' AND b.sym = 'p'
    """,
)
def matchpath_variable_length(spark, sf_dir):
    """Hive ``matchpath`` PTF, VARIABLE-length pattern ``s[kv]*p`` (signup,
    any clicks/views, purchase) — the generic applyInPandas sequence
    matcher (functions/hive_compat.matchpath), promoted from pytest-only to
    a registered, fully-oracled query. Oracle equivalence: within a
    ``s[kv]*p`` span only k/v symbols separate the s from the p, so
    leftmost non-overlapping regex matches = every signup whose NEXT
    non-click/view event is a purchase — expressible as one window min +
    self-join in ANSI SQL.

    Scale: one shuffle on user_id; each user's ordered sequence streams
    through Arrow (the PTFRowContainer constraint: a partition fits in
    worker memory)."""
    from ..functions.hive_compat import matchpath

    e = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'k' "
            "WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p' ELSE 'e' END"
        ).alias("sym"),
    )
    return matchpath(e, "user_id", ["ts", "event_id"], "sym", "s[kv]*p")


@query(
    "pandas_udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(sum(l_quantity * ln(l_extendedprice))
                     / sum(l_quantity)) + 1e-9, 4) AS weighted_geomean
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pandas_udaf_grouped(spark, sf_dir):
    """User-defined AGGREGATE function via a grouped-agg pandas UDF
    (Series→scalar, Arrow-batched) — the §2.9 UDAF extension surface
    (Hive's AbstractGenericUDAFResolver role): quantity-weighted geometric
    mean of price per return flag, an aggregate Spark has no builtin for.
    The UDF computes exp(Σ w·ln x / Σ w) with float64 numpy sums; the
    4dp epsilon-shift rounding absorbs group-order accumulation noise
    (~1e-8 relative) exactly like the engine's own float aggregates.
    Scale: grouped-agg pandas UDFs get whole groups per Arrow batch — fine
    for bounded group counts like this 3-flag rollup; unbounded-cardinality
    aggregates should stay in JVM two-phase aggs (docs/SCALE.md)."""
    from pyspark.sql.functions import pandas_udf

    def _wgm(x: pd.Series, w: pd.Series) -> float:
        import numpy as np

        xs = x.to_numpy(dtype="float64")
        ws = w.to_numpy(dtype="float64")
        return float(np.exp((ws * np.log(xs)).sum() / ws.sum()))

    wgm = pandas_udf(_wgm, "double")
    li = T(spark, sf_dir, "lineitem")
    # Catalyst forbids mixing pandas group-aggs with JVM aggs in one agg
    # list (INVALID_PANDAS_UDF_PLACEMENT) — so the JVM count runs in its
    # own tiny agg and joins back on the 3-row group key.
    udaf_side = li.groupBy("l_returnflag").agg(
        F.round(
            wgm(F.col("l_extendedprice"), F.col("l_quantity")) + F.lit(1e-9), 4
        ).alias("weighted_geomean")
    )
    counts = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return counts.join(udaf_side, "l_returnflag").select(
        "l_returnflag", "n", "weighted_geomean"
    )


# ---- round 7: fixed-size deterministic sample ----------------------------

_FIXK = 100
_FIXK_SALT = "fxk7"


@query(
    "tablesample_fixed_k",
    oracle=f"""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(row_number() OVER (ORDER BY hk, doc_id) AS INTEGER) AS rk
    FROM (
      SELECT doc_id, lang, n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':{_FIXK_SALT}') AS hk
      FROM documents
      ORDER BY hk, doc_id LIMIT {_FIXK}
    )
    """,
)
def tablesample_fixed_k(spark, sf_dir):
    """Fixed-size uniform sample without replacement — the third sampling
    surface next to Bernoulli (tablesample_seeded) and bucket
    (tablesample_bucket): rank every row by a salted md5 of its key and
    keep the `_FIXK` smallest. This is the distributed equivalent of
    reservoir sampling with the properties production wants and a
    reservoir lacks: the SAME `_FIXK` rows on every rerun (md5 order is a
    fixed uniform permutation), stable under partitioning/row order, and
    mergeable (the union's sample = top-`_FIXK` of the parts' top-`_FIXK`s — the
    bottom-k-sketch property). Exact row set, so fully hash-oracled —
    no statistical-bound grading needed.

    100 TB: orderBy(hash).limit(k) is TakeOrderedAndProject — per-
    partition partial top-k merged on the driver, never a global sort;
    cost is one scan + k·partitions rows of movement."""
    d = T(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_FIXK_SALT}")))
    from pyspark.sql import Window

    w = Window.orderBy("hk", "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", hk.alias("hk"))
        .orderBy("hk", "doc_id")
        .limit(_FIXK)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
    )


_ARROW_MAP_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
"""


@query("arrow_map_batches", oracle=_ARROW_MAP_ORACLE)
def arrow_map_batches(spark, sf_dir):
    """Arrow-native batch transform (``df.mapInArrow``, SPARK-37227) — the
    §2.9 extension tier BELOW pandas: zero pandas materialization, the
    Python side sees raw ``pyarrow.RecordBatch`` columns and computes with
    ``pyarrow.compute`` kernels (SIMD, no copy). This is the right shape
    for byte-level / columnar custom ops at 100 TB where even the
    Arrow→pandas conversion of ``mapInPandas`` is measurable. The map
    emits one revenue column per row; the aggregation stays JVM-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def revenue_batches(batches):
        for b in batches:
            ep, disc = b.column("l_extendedprice"), b.column("l_discount")
            rev = pc.multiply(ep, pc.subtract(pa.scalar(1.0), disc))
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), rev], ["l_returnflag", "revenue"]
            )

    l = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")
    )
    mapped = l.select("l_returnflag", "l_extendedprice", "l_discount").mapInArrow(
        revenue_batches, "l_returnflag string, revenue double"
    )
    # the Arrow kernel emits the RAW product (bitwise-identical IEEE
    # multiply on both engines); quantize-then-DECIMAL-accumulate JVM-side
    # (helpers.money_sum discipline — double sums at sf1 magnitude are not
    # 2dp-round-stable)
    term = F.round(F.col("revenue") + F.lit(1e-9), 2).cast("decimal(18,2)")
    return mapped.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum(term), 2).cast("double").alias("revenue"),
    )
