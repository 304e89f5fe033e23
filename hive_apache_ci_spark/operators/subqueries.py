"""Subquery surface: IN / NOT IN / EXISTS / scalar / correlated.

Hive decorrelates these in Calcite (HiveSubQueryRemoveRule +
HiveRelDecorrelator — SURVEY.md §4.2); Catalyst owns the same rewrites
(RewritePredicateSubquery, RewriteCorrelatedScalarSubquery). We express the
queries in Spark SQL so the subquery *syntax* itself is exercised, not a
hand-rewritten join. NOT IN three-valued-logic with NULLs is the classic
semantic trap and gets its own query.
"""

from __future__ import annotations

from ..catalog import run_sql
from ..registry import query


_IN_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
  AND o_totalprice > 300000
"""


@query("subquery_in", oracle=_IN_SQL)
def subquery_in(spark, sf_dir):
    """Uncorrelated IN subquery → left semi join after decorrelation."""
    return run_sql(spark, _IN_SQL, sf_dir)


_NOT_IN_SQL = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 430000)
  AND c_acctbal > 8000
"""


@query("subquery_not_in", oracle=_NOT_IN_SQL)
def subquery_not_in(spark, sf_dir):
    """NOT IN over a non-NULL subquery → null-aware anti join."""
    return run_sql(spark, _NOT_IN_SQL, sf_dir)


_NOT_IN_NULL_SQL = """
SELECT c_custkey
FROM customer
WHERE c_custkey NOT IN
      (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END
       FROM orders)
"""


@query("subquery_not_in_null", oracle=_NOT_IN_NULL_SQL)
def subquery_not_in_null(spark, sf_dir):
    """NOT IN where the subquery yields NULLs: three-valued logic makes the
    predicate never-true, so the result must be EMPTY — both engines have to
    agree on this trap (SURVEY.md §7 build-plan P1 calls it out)."""
    return run_sql(spark, _NOT_IN_NULL_SQL, sf_dir)


_EXISTS_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
"""


@query("subquery_exists", oracle=_EXISTS_SQL)
def subquery_exists(spark, sf_dir):
    """Correlated EXISTS → semi join after decorrelation."""
    return run_sql(spark, _EXISTS_SQL, sf_dir)


_SCALAR_SQL = """
SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.8 FROM customer)
"""


@query("subquery_scalar", oracle=_SCALAR_SQL)
def subquery_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery in a predicate."""
    return run_sql(spark, _SCALAR_SQL, sf_dir)


_CORR_SCALAR_SQL = """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
FROM orders o
WHERE o.o_totalprice >
      (SELECT avg(o2.o_totalprice) * 2.2 FROM orders o2
       WHERE o2.o_custkey = o.o_custkey)
"""


@query("subquery_corr_scalar", oracle=_CORR_SCALAR_SQL)
def subquery_corr_scalar(spark, sf_dir):
    """Correlated scalar subquery (per-customer average) — decorrelated by
    Catalyst into an aggregate + join (HiveRelDecorrelator's job in Hive)."""
    return run_sql(spark, _CORR_SCALAR_SQL, sf_dir)


_IN_SELECT_SQL = """
SELECT o_orderkey,
       o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
           AS from_rich_customer
FROM orders
WHERE o_totalprice > 440000
"""


@query("subquery_in_select", oracle=_IN_SELECT_SQL)
def subquery_in_select(spark, sf_dir):
    """IN subquery used as a projected boolean (not a filter) — exercises
    the existence-join plan shape."""
    return run_sql(spark, _IN_SELECT_SQL, sf_dir)


_Q2_SQL = """
SELECT p.p_partkey, p.p_brand, s.s_suppkey, round(s.s_acctbal, 2) AS acctbal
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p.p_size = 10
  AND s.s_acctbal = (SELECT max(s2.s_acctbal)
                     FROM supplier s2 JOIN lineitem l2 ON l2.l_suppkey = s2.s_suppkey
                     WHERE l2.l_partkey = p.p_partkey)
GROUP BY p.p_partkey, p.p_brand, s.s_suppkey, s.s_acctbal
ORDER BY p.p_partkey
"""


@query("tpch_q2_min_cost_supplier", oracle=_Q2_SQL)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adapted (best supplier per part): correlated aggregate
    subquery against the outer join key — the decorrelation pattern
    (HiveRelDecorrelator / Catalyst RewriteCorrelatedScalarSubquery)."""
    return run_sql(spark, _Q2_SQL, sf_dir)


_Q16_SQL = """
SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
LIMIT 30
"""


@query("tpch_q16_supplier_cnt", oracle=_Q16_SQL)
def tpch_q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 adapted: DISTINCT-count after a NOT IN exclusion."""
    return run_sql(spark, _Q16_SQL, sf_dir)


_Q22_SQL = """
SELECT right(c.c_name, 1) AS name_digit,
       count(*) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY right(c.c_name, 1)
ORDER BY name_digit
"""


@query("tpch_q22_global_sales", oracle=_Q22_SQL)
def tpch_q22_global_sales(spark, sf_dir):
    """TPC-H Q22 adapted: scalar subquery + NOT EXISTS anti join + grouped
    aggregation over a derived key — three subquery forms in one query."""
    return run_sql(spark, _Q22_SQL, sf_dir)


_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 50
"""


@query("tpch_q21_waiting_supplier", oracle=_Q21_SQL)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to the
    testdata schema: the same fact table (lineitem) referenced by BOTH a
    correlated EXISTS and a correlated NOT EXISTS with different extra
    predicates — the hardest decorrelation HiveRelDecorrelator handles
    (SURVEY.md §4.2; l_returnflag='R' stands in for receipt>commit since
    the schema lacks those columns). Catalyst plans one semi and one anti
    join against the same scan."""
    return run_sql(spark, _Q21_SQL, sf_dir)


_Q4_SQL = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("tpch_q4_priority_check", oracle=_Q4_SQL)
def tpch_q4_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): correlated EXISTS whose
    correlation is equality PLUS a non-equi predicate referencing the outer
    column (l_shipdate > o_orderdate + 45 days stands in for
    commitdate < receiptdate). Decorrelation must carry the outer column
    into the semi-join condition."""
    return run_sql(spark, _Q4_SQL, sf_dir)


_EXISTS_MIXED_SQL = """
SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS totalprice
FROM orders o
WHERE o.o_totalprice > 250000
  AND EXISTS (SELECT 1 FROM lineitem l1
              WHERE l1.l_orderkey = o.o_orderkey AND l1.l_quantity >= 48)
  AND NOT EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = o.o_orderkey AND l2.l_discount > 0.08)
ORDER BY o.o_orderkey
"""


@query("subquery_exists_not_exists", oracle=_EXISTS_MIXED_SQL)
def subquery_exists_not_exists(spark, sf_dir):
    """EXISTS and NOT EXISTS on the SAME table with different correlated
    predicates ("some line has qty>=48 but no line has discount>0.08") —
    two independent subqueries against one scan, semi + anti stacked on the
    same outer relation."""
    return run_sql(spark, _EXISTS_MIXED_SQL, sf_dir)


_Q20_SQL = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
    AND l.l_shipdate >= TIMESTAMP '1995-01-01'
    AND l.l_shipdate <  TIMESTAMP '1996-01-01'
  GROUP BY l.l_suppkey
  HAVING sum(l.l_quantity) > 100
)
ORDER BY s.s_suppkey
"""


@query("tpch_q20_excess_stock", oracle=_Q20_SQL)
def tpch_q20_excess_stock(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): IN whose subquery itself
    contains a nested IN plus a GROUP BY ... HAVING over the fact table —
    the deepest subquery nesting in the TPC-H suite (partsupp availability
    is adapted to shipped-quantity sums since the schema has no partsupp)."""
    return run_sql(spark, _Q20_SQL, sf_dir)
