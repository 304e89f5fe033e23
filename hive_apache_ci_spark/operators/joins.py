"""Every HiveQL join variant (SURVEY.md §2.3).

Hive physical strategies covered and their Spark owners:

- shuffle (reduce-side) join  — ``JoinOperator``/``CommonJoinOperator``
  (ql/exec/JoinOperator.java) → SortMergeJoinExec;
- broadcast hash (map join)   — ``MapJoinOperator`` (ql/exec/MapJoinOperator.java)
  → ``F.broadcast`` / autoBroadcastJoinThreshold / AQE runtime conversion;
- semi/anti                   — ``LEFT SEMI JOIN`` + Calcite ``HiveSemiJoinRule``
  NOT IN/EXISTS rewrites → 'left_semi'/'left_anti';
- cross + residual theta      — ``CrossProductCheck`` + residual ON filters →
  crossJoin / non-equi join conditions (BroadcastNestedLoopJoin);
- null-safe ``<=>``           — ``GenericUDFOPEqualNS`` → ``eqNullSafe``;
- skew join                   — ``SkewJoinOptimizer`` → AQE skew-join (session conf).

Scale notes (100 TB): dimension sides (region/nation/supplier/part at TPC-H
ratios) are explicitly broadcast — no shuffle of the fact table for star
joins. Fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE
handles skew and partition coalescing. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import run_sql
from ..helpers import T, md5_int, money_sum, r2, ts_lit
from ..registry import query


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def join_inner(spark, sf_dir):
    """Inner equi-join (shuffle join in Hive; Spark picks broadcast for the
    filtered side automatically under AQE)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey)                      AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left(spark, sf_dir):
    """LEFT OUTER join with an extra ON-clause predicate (Hive: null-padding
    in CommonJoinOperator; the non-key predicate stays in the join, not the
    WHERE — a classic semantic trap both engines must agree on)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    joined = c.join(
        o, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "F"), "left"
    )
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count("o_orderkey").alias("n_orders"),
        r2(F.coalesce(F.sum("o_totalprice"), F.lit(0))).alias("total_spent"),
    )


@query(
    "join_right",
    oracle="""
    SELECT n.n_name, s.s_suppkey, s.s_name
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def join_right(spark, sf_dir):
    """RIGHT OUTER join — nations with no suppliers survive null-padded."""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_name", "s_suppkey", "s_name"
    )


@query(
    "join_full",
    oracle="""
    WITH big_cust AS (
        SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
    ),
    big_orders AS (
        SELECT o_custkey, count(*) AS n_big
        FROM orders WHERE o_totalprice > 450000 GROUP BY o_custkey
    )
    SELECT bc.c_custkey, bc.c_name, bo.o_custkey, bo.n_big
    FROM big_cust bc FULL JOIN big_orders bo ON bc.c_custkey = bo.o_custkey
    """,
)
def join_full(spark, sf_dir):
    """FULL OUTER join of two partially-overlapping key sets — exercises
    null padding on both sides (Hive CommonJoinOperator outer path)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    big_cust = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_name")
    big_orders = (
        o.filter(F.col("o_totalprice") > 450000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    return big_cust.join(
        big_orders, big_cust.c_custkey == big_orders.o_custkey, "full"
    ).select("c_custkey", "c_name", "o_custkey", "n_big")


@query(
    "join_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def join_semi(spark, sf_dir):
    """LEFT SEMI JOIN (HiveQL keyword; probe side deduplicated)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark, sf_dir):
    """Anti join — Hive has no ANTI keyword in 2.3; Calcite rewrites
    NOT EXISTS into it (HiveSemiJoinRule). Spark: 'left_anti'."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, seg.c_mktsegment
    FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
)
def join_cross(spark, sf_dir):
    """Explicit CROSS JOIN (Hive warns via CrossProductCheck) over two tiny
    inputs — the only scale-safe cartesian shape."""
    r = T(spark, sf_dir, "region").select("r_name")
    seg = T(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return r.crossJoin(seg)


@query(
    "join_nonequi",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size, l.l_quantity
    FROM lineitem l JOIN part p
      ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size + 38
    """,
)
def join_nonequi(spark, sf_dir):
    """Equi-key + residual non-equi predicate in ON (Hive: residual filter
    inside CommonJoinOperator). The equi key keeps it hash-joinable."""
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    return l.join(
        p,
        (l.l_partkey == p.p_partkey) & (l.l_quantity > p.p_size + 38),
        "inner",
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_size", "l_quantity")


@query(
    "join_nullsafe",
    oracle="""
    WITH cn AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nkey
        FROM customer
    ),
    sn AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS nkey
        FROM supplier
    )
    SELECT cn.nkey AS nkey, count(*) AS n_pairs
    FROM cn JOIN sn ON cn.nkey IS NOT DISTINCT FROM sn.nkey
    GROUP BY cn.nkey
    """,
)
def join_nullsafe(spark, sf_dir):
    """Null-safe equality join ``<=>`` (GenericUDFOPEqualNS): NULL keys on
    both sides pair up instead of dropping.

    Scale rewrite (r11 canary-ratio audit): the join key has ~|nations|
    distinct values, so the row-level many-to-many join materializes
    |customers/key| x |suppliers/key| pairs — output QUADRATIC in SF
    (100x pairs per data decade; the sf1 canary's 6.5x ratio was the
    fixed-cost-masked onset of that curve) only to count them. The
    aggregate is pushed BELOW the join: count each side per key first,
    then null-safe-join the two key-grain aggregates and multiply — same
    result, linear I/O, and the <=> comparison still drives the join.
    The classic partial-aggregation-through-join transform Catalyst does
    not apply automatically across a join."""
    c = T(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nkey"),
    ).groupBy("nkey").agg(F.count(F.lit(1)).alias("n_c"))
    s = T(spark, sf_dir, "supplier").select(
        F.when(F.col("s_suppkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("s_nationkey"))
        .alias("nkey"),
    ).groupBy("nkey").agg(F.count(F.lit(1)).alias("n_s"))
    return c.join(s, c["nkey"].eqNullSafe(s["nkey"]), "inner").select(
        c["nkey"].alias("nkey"),
        (F.col("n_c") * F.col("n_s")).alias("n_pairs"),
    )


@query(
    "join_broadcast_star",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def join_broadcast_star(spark, sf_dir):
    """Star join: fact (lineitem) joined to orders then down the dimension
    chain, dimensions explicitly broadcast (Hive MapJoinOperator; auto via
    ``hive.auto.convert.join``). At 100 TB only lineitem⋈orders shuffles —
    customer/nation/region ride the broadcast path."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q3_shipping",
    oracle="""
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o  ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark, sf_dir):
    """TPC-H Q3 adapted to the testdata schema (shipping priority)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < ts_lit("1996-03-15"))
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > ts_lit("1996-03-15"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 adapted: local-supplier volume — a 5-way join with a
    two-column equi condition (l_suppkey AND nation co-location)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc())
    )


@query(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_19', 'NATION_18', 'NATION_21')
      AND sn.n_name IN ('NATION_19', 'NATION_18', 'NATION_21')
      AND cn.n_name <> sn.n_name
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 adapted (cross-nation shipping volume): six-table join with
    two roles for the same dimension (nation joined twice) and a non-equi
    residual between the two roles."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_19", "NATION_18", "NATION_21"))
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            )
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 adapted: top customers by returned-item revenue in a
    quarter — selective fact filter + 4-way join + top-K."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .limit(20)
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 adapted (large-volume orders): IN over a grouped HAVING
    subquery — the agg-in-subquery decorrelation pattern."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "big_key"),
              F.col("o_orderkey") == F.col("big_key"), "left_semi")
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(r2(F.sum("l_quantity")).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            r2(F.col("o_totalprice")).alias("totalprice"),
            "total_qty",
        )
        .limit(25)
    )


@query(
    "tpch_q12_priority_bands",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS finished_count,
           CAST(sum(CASE WHEN o.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS open_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND l.l_quantity > 45
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q12_priority_bands(spark, sf_dir):
    """TPC-H Q12 adapted: conditional-sum banding after a selective
    fact-side filter (the CASE-inside-SUM aggregation pattern)."""
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    )
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "finished_count"
            ),
            F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)).alias(
                "open_count"
            ),
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def tpch_q14_promo_share(spark, sf_dir):
    """TPC-H Q14 adapted: promo revenue share — a global (single-group)
    conditional ratio with a broadcast dimension join."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = T(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev)
                + F.lit(1e-9),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "tpch_q19_or_chain",
    oracle="""
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def tpch_q19_or_chain(spark, sf_dir):
    """TPC-H Q19 adapted: disjunctive multi-branch predicate spanning both
    join sides (Hive's PointLookupOptimizer / Catalyst OptimizeIn +
    predicate-split territory — the OR-chain must still permit the equi
    hash join on partkey with residual disjunction)."""
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH volumes AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             n.n_name AS supp_nation,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
    )
    SELECT order_year,
           round(sum(CASE WHEN supp_nation = 'NATION_19' THEN volume ELSE 0 END)
                 / sum(volume) + 1e-9, 6) AS mkt_share
    FROM volumes
    GROUP BY order_year
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 adapted (national market share): conditional share of a
    global aggregate per year — the two-level ratio aggregation."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    volumes = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.year("o_orderdate").alias("order_year"),
            F.col("n_name").alias("supp_nation"),
            vol.alias("volume"),
        )
    )
    return volumes.groupBy("order_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_19", F.col("volume")).otherwise(0))
            / F.sum("volume")
            + F.lit(1e-9),
            6,
        ).alias("mkt_share")
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH supp_value AS (
      SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM supp_value
    WHERE value > (SELECT round(avg(value) * 1.5, 4) FROM supp_value)
    ORDER BY value DESC, l_partkey
    LIMIT 50
    """,
)
def tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 adapted (important stock): HAVING against a scalar
    fraction of the global aggregate — the same aggregate referenced at two
    granularities (ReuseExchange territory). The cut is DATA-DERIVED
    (1.5x the mean per-part value, like spec Q11's fraction scaling with
    1/SF) so the result is non-vacuous at every scale factor; a fixed
    fraction of the global SUM goes empty as the part catalog grows. The
    threshold is rounded 4dp before the membership cut (2dp part values,
    so cross-engine summation-order noise cannot flip membership)."""
    return run_sql(
        spark,
        """
        WITH supp_value AS (
          SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS value
          FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, value
        FROM supp_value
        WHERE value > (SELECT round(avg(value) * 1.5, 4) FROM supp_value)
        ORDER BY value DESC, l_partkey
        LIMIT 50
        """,
        sf_dir,
    )


@query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): outer join with an
    ON-clause exclusion, then a distribution over the grouped counts — the
    famous double-aggregation; the NULL-heavy zero-order bucket is the skew
    hazard at scale."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    counts = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0 + 1e-9, 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): correlated average over
    the SAME fact table keyed by the outer part — the self-referential
    decorrelation pattern (rewritten by Catalyst into an aggregate+join
    reusing the lineitem scan)."""
    return run_sql(
        spark,
        """
        SELECT round(sum(l.l_extendedprice) / 7.0 + 1e-9, 4) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size <= 5
          AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        """,
        sf_dir,
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - 50.0 * l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 adapted (product type profit by nation and year): 5-table
    join with a LIKE-filtered part dimension; ps_supplycost is adapted to a
    fixed unit cost since the schema has no partsupp. Scale shape: part /
    supplier / nation broadcast, only lineitem-orders shuffles."""
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 50.0 * F.col(
        "l_quantity"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(money_sum(profit).alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderpriority,
           count(*)                        AS n,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-salted fact⋈fact join (Hive SkewJoinOptimizer / SKEWED BY):
    helpers.salted_join splits every key across 8 salt partitions — the
    oracle is the PLAIN join, proving salting is semantics-preserving.
    The escape hatch for keys too hot even for AQE's skew split."""
    from ..helpers import salted_join

    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(l, o, "l_orderkey", "o_orderkey", n_salt=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("l_extendedprice"), 2).alias("total"),
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM customer a
    JOIN customer b
      ON substr(a.c_name, 1, 15) = substr(b.c_name, 1, 15)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def join_fuzzy_blocked(spark, sf_dir):
    """Entity-resolution fuzzy join: candidate pairs via a blocking key
    (shared 15-char name prefix — an equi-join, never a cross product),
    confirmed by Levenshtein distance ≤ 1. The standard two-phase
    block-then-verify topology of record linkage: the expensive edit
    distance runs only inside blocks.

    At 100 TB the blocking key is the shuffle key and block sizes bound the
    quadratic work — the same candidate-verify discipline as the LSH dedup
    ladder (docs/SCALE.md). The build side is the corpus and grows with SF,
    so the broadcast hint is SIZE-GATED (r5 ADVICE: an unconditional
    F.broadcast would blow the driver at large SF): under the session
    broadcast threshold the hint keeps the probe side's round-robin
    fan-out intact; above it the plan degrades to the shuffle join on blk,
    where block multiplicity (∝ corpus size) provides the parallelism. The
    probe-side spread() matters either way: a single-file scan otherwise
    evaluates EVERY in-block Levenshtein pair in one task (the r5 sf1
    canary caught exactly this — the CPU-heavy verify stage, not the
    candidate count, was the bottleneck), the same fan-out trap as the
    Arrow-UDF kernels (helpers.spread)."""
    from ..helpers import source_is_broadcastable, spread

    c = T(spark, sf_dir, "customer")
    a = spread(
        c.select(
            F.col("c_custkey").alias("key_a"),
            F.col("c_name").alias("name_a"),
            F.substring("c_name", 1, 15).alias("blk"),
        )
    )
    b = c.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.substring("c_name", 1, 15).alias("blk"),
    )
    if source_is_broadcastable(spark, sf_dir, "customer"):
        b = F.broadcast(b)
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", F.col("edit_dist").cast("int"))
    )


@query(
    "supplier_lead_time_p95",
    oracle="""
    WITH lt AS (
      SELECT l.l_suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_supp AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT)                        AS n_lines,
             round(quantile_cont(lead_days, 0.5) + 1e-9, 4)  AS p50_days,
             round(quantile_cont(lead_days, 0.95) + 1e-9, 4) AS p95_days
      FROM lt GROUP BY l_suppkey
    )
    SELECT rk, l_suppkey, n_lines, p50_days, p95_days
    FROM (SELECT l_suppkey, n_lines, p50_days, p95_days,
                 row_number() OVER (ORDER BY p95_days DESC, l_suppkey) AS rk
          FROM per_supp)
    WHERE rk <= 20
    """,
)
def supplier_lead_time_p95(spark, sf_dir):
    """Supplier fulfillment SLA report: order-to-ship lead time per
    supplier (lineitem⋈orders on the order key), exact p50/p95 in days,
    ranked to the 20 slowest suppliers by p95 — the operational join+
    derived-duration+grouped-quantile shape. One fact-fact equi-join on
    l_orderkey (orders projected to two columns before the join —
    pruned at scan), one supplier-keyed percentile agg (exactness viable
    per-group); the 20 slowest are selected with a distributed
    TakeOrderedAndProject (orderBy+limit) and the rank window runs over
    those 20 rows only — no single-partition sort of the supplier
    aggregate at any scale (round-5: closes the last global-order window
    in post-r4 code)."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lead = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    per_supp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("l_suppkey", lead.alias("lead_days"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.percentile("lead_days", F.lit(0.5)) + F.lit(1e-9), 4
            ).alias("p50_days"),
            F.round(
                F.percentile("lead_days", F.lit(0.95)) + F.lit(1e-9), 4
            ).alias("p95_days"),
        )
    )
    top = per_supp.orderBy(F.desc("p95_days"), "l_suppkey").limit(20)
    w = Window.orderBy(F.desc("p95_days"), "l_suppkey")
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "l_suppkey", "n_lines", "p50_days", "p95_days")
    )


# ---- spatial radius join via grid bucketing --------------------------------

_SPATIAL_R = 1.5     # radius; grid cell size == radius => 3x3 fan suffices
_SPATIAL_R2 = 2.25   # r^2, exact double


def _coord_sql(axis: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '{axis}'),"
        f" 1, 15)) AS BIGINT) % 1000000) / CAST(1000000 AS DOUBLE)"
        " * (SELECT L FROM st)"
    )


_SPATIAL_SQL = f"""
WITH st AS (SELECT 10 * sqrt(count(*)) AS L FROM customer),
pts AS (
  SELECT c_custkey AS k,
         {_coord_sql('x')} AS x,
         {_coord_sql('y')} AS y
  FROM customer
),
cells AS (
  SELECT k, x, y,
         CAST(floor(x / CAST({_SPATIAL_R} AS DOUBLE)) AS BIGINT) AS cx,
         CAST(floor(y / CAST({_SPATIAL_R} AS DOUBLE)) AS BIGINT) AS cy
  FROM pts
),
fan AS (
  SELECT k, x, y, cx + dx AS cx, cy + dy AS cy
  FROM cells, unnest([-1, 0, 1]) AS t1(dx), unnest([-1, 0, 1]) AS t2(dy)
),
pairs AS (
  SELECT a.k AS ka, b.k AS kb,
         round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
               + 1e-9, 6) AS d2
  FROM fan a JOIN cells b ON b.cx = a.cx AND b.cy = a.cy AND b.k > a.k
)
SELECT ka, kb, d2, round(sqrt(d2) + 1e-9, 6) AS dist
FROM pairs WHERE d2 <= {_SPATIAL_R2}
"""


@query("join_spatial_grid", oracle=_SPATIAL_SQL)
def join_spatial_grid(spark, sf_dir):
    """Spatial radius self-join (all customer pairs within distance r) via
    grid bucketing — the distributed spatial-join pattern: bucket points
    into r-sized grid cells, fan each point into its 3x3 neighborhood,
    equi-join on the cell key, then exact-distance confirm. With cell ==
    radius the 3x3 fan is a *complete* candidate set (|dx|<=r forces cell
    delta <=1), and each unordered pair is produced exactly once (b.k >
    a.k; B's home cell is unique, A's fan hits it once) — no DISTINCT.

    Coordinates are md5-derived uniforms scaled to an L x L domain with
    L = 10*sqrt(n), keeping point density (and so pairs-per-point) constant
    across scale factors — the result is non-vacuous at every SF by
    construction. sqrt is correctly-rounded IEEE on both engines; the
    squared distance is a product of identical doubles (bit-identical),
    6dp-shift-rounded before the radius cut.

    100 TB: the only shuffle keys on (cx, cy); constant-density cells keep
    every join partition O(points-per-cell^2) with cells ~ n, so the work
    is linear in points at fixed density — the exact reason real engines
    (Sedona, PostGIS partitioned) grid-partition instead of cross-joining.
    Skewed hotspots shard by salting the cell key, same as any skew join."""
    c = T(spark, sf_dir, "customer")
    st = c.agg((F.lit(10) * F.sqrt(F.count(F.lit(1)))).alias("L"))

    def coord(axis: str):
        return (
            md5_int(F.concat(F.col("c_custkey").cast("string"), F.lit(axis)))
            % 1000000
        ) / F.lit(1000000.0) * F.col("L")

    pts = c.crossJoin(F.broadcast(st)).select(
        F.col("c_custkey").alias("k"),
        coord("x").alias("x"),
        coord("y").alias("y"),
    )
    cells = pts.select(
        "k", "x", "y",
        F.floor(F.col("x") / F.lit(_SPATIAL_R)).cast("bigint").alias("cx"),
        F.floor(F.col("y") / F.lit(_SPATIAL_R)).cast("bigint").alias("cy"),
    )
    offs = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    fan = (
        cells.select("k", "x", "y", "cx", "cy", offs.alias("dx"))
        .select("k", "x", "y", "cx", "cy", "dx", offs.alias("dy"))
        .select(
            "k", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    a, b = fan.alias("a"), cells.alias("b")
    d2 = F.round(
        (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
        + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
        + F.lit(1e-9),
        6,
    )
    return (
        a.join(
            b,
            (F.col("b.cx") == F.col("a.cx"))
            & (F.col("b.cy") == F.col("a.cy"))
            & (F.col("b.k") > F.col("a.k")),
        )
        .select(
            F.col("a.k").alias("ka"),
            F.col("b.k").alias("kb"),
            d2.alias("d2"),
        )
        .filter(F.col("d2") <= _SPATIAL_R2)
        .select(
            "ka", "kb", "d2",
            F.round(F.sqrt(F.col("d2")) + F.lit(1e-9), 6).alias("dist"),
        )
    )
