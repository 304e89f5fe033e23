"""Modern SQL surface (Spark 4.x) — the engine-modernization layer.

Hive 2.3's dialect (SURVEY.md §2.1) predates several ANSI features users of
the replaced engine get for free once on Spark 4: recursive CTEs
(SQL:1999 ``WITH RECURSIVE``), ``LISTAGG ... WITHIN GROUP`` (SQL:2016),
``UNPIVOT``, correlated ``LATERAL`` subqueries, error-safe ``try_*``
arithmetic (ANSI-mode escape hatches), ``GROUP BY ALL``, and the VARIANT
semi-structured type.  Each gets a driver-visible oracled query so the
coverage is machine-checked, not claimed.

Everything here runs through ``spark.sql`` so the *SQL surface itself* is
exercised (parser → analyzer → Catalyst), not a DataFrame re-phrasing.
"""

from __future__ import annotations

from ..catalog import load_tables, run_sql
from ..registry import query


# ---- recursive CTE ------------------------------------------------------

# Referral-chain walk: from each root customer, hop key -> key-37 until the
# key falls off the table, accumulating balance. Sequential accumulation =>
# bitwise-identical doubles in both engines.
_RECURSIVE_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS root, c_custkey AS cur, 0 AS depth, c_acctbal AS bal
  FROM customer WHERE c_custkey < 120
  UNION ALL
  SELECT ch.root, c.c_custkey, ch.depth + 1, ch.bal + c.c_acctbal
  FROM chain ch JOIN customer c ON c.c_custkey = ch.cur - 37
  WHERE ch.depth < 8
)
SELECT root AS c_custkey,
       max(depth)          AS chain_len,
       round(max(bal), 2)  AS chain_bal
FROM chain
GROUP BY root
"""


@query("recursive_cte_chain", oracle=_RECURSIVE_SQL)
def recursive_cte_chain(spark, sf_dir):
    """SQL:1999 recursive CTE (``WITH RECURSIVE``): per-root key-hop chain
    with accumulator columns — the linear-recursion shape (hierarchies,
    BOM walks) Hive 2.3 cannot express at all. Spark 4 executes it as an
    iterative loop of joins under one plan; the oracle is the identical
    query text in DuckDB (independent recursive-CTE implementation)."""
    return run_sql(spark, _RECURSIVE_SQL, sf_dir)


# ---- LISTAGG ... WITHIN GROUP -------------------------------------------


@query(
    "listagg_ordered",
    oracle="""
    SELECT c_mktsegment,
           string_agg(c_name, '|' ORDER BY c_name) AS names,
           count(*) AS n
    FROM customer
    WHERE c_acctbal > 9000
    GROUP BY c_mktsegment
    """,
)
def listagg_ordered(spark, sf_dir):
    """SQL:2016 ``LISTAGG ... WITHIN GROUP (ORDER BY ...)`` — the ANSI form
    of Hive's collect_list+sort+concat_ws idiom, with a deterministic
    element order making the result exact-hashable. Oracle: DuckDB's
    equivalent ordered ``string_agg``."""
    return run_sql(
        spark,
        """
        SELECT c_mktsegment,
               listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name) AS names,
               count(*) AS n
        FROM customer
        WHERE c_acctbal > 9000
        GROUP BY c_mktsegment
        """,
        sf_dir,
    )


# ---- UNPIVOT ------------------------------------------------------------


@query(
    "unpivot_measures",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2)      AS qty,
             round(sum(l_extendedprice), 2) AS price,
             round(sum(l_discount), 2)      AS disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty'   AS measure, qty   AS val FROM agg
    UNION ALL
    SELECT l_returnflag, 'price' AS measure, price AS val FROM agg
    UNION ALL
    SELECT l_returnflag, 'disc'  AS measure, disc  AS val FROM agg
    """,
)
def unpivot_measures(spark, sf_dir):
    """``UNPIVOT`` (wide measures → long rows) — the inverse of the pivot
    surface, new in Spark 3.4+ SQL. The oracle spells out the same
    relational algebra as a UNION ALL of the measure arms, so the check is
    engine-independent."""
    return run_sql(
        spark,
        """
        SELECT l_returnflag, measure, val
        FROM (
          SELECT l_returnflag,
                 round(sum(l_quantity), 2)      AS qty,
                 round(sum(l_extendedprice), 2) AS price,
                 round(sum(l_discount), 2)      AS disc
          FROM lineitem GROUP BY l_returnflag
        )
        UNPIVOT (val FOR measure IN (qty, price, disc))
        """,
        sf_dir,
    )


# ---- correlated LATERAL subquery ----------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS totalprice
FROM customer c,
     LATERAL (SELECT o_orderkey, o_totalprice
              FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 2) t
WHERE c.c_acctbal > 9500
"""


@query("lateral_topn_per_key", oracle=_LATERAL_SQL)
def lateral_topn_per_key(spark, sf_dir):
    """Correlated ``LATERAL`` derived table with ORDER BY + LIMIT — per-row
    top-N without a window function (the decorrelation target is a ranked
    semi-join). Identical SQL runs on DuckDB, whose LATERAL support is an
    independent implementation."""
    return run_sql(spark, _LATERAL_SQL, sf_dir)


# ---- try_* error-safe arithmetic ----------------------------------------


@query(
    "try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / nullif(o_custkey % 5, 0), 4) AS safe_div,
           CASE WHEN o_orderkey % 2 = 1 THEN NULL
                ELSE 9223372036854775807 END                 AS safe_add,
           CAST(NULL AS DOUBLE)                              AS bad_cast
    FROM orders
    WHERE o_orderkey <= 3000
    """,
)
def try_arithmetic(spark, sf_dir):
    """ANSI-mode error-safe arithmetic: ``try_divide`` (NULL on /0),
    ``try_add`` (NULL on bigint overflow), ``try_cast`` (NULL on malformed
    input) — Spark's lawful versions of Hive's silently-NULLing permissive
    math. The oracle states the expected NULL semantics explicitly
    (DuckDB would *raise* on overflow — the CASE encodes which rows
    overflow)."""
    return run_sql(
        spark,
        """
        SELECT o_orderkey,
               round(try_divide(o_totalprice, o_custkey % 5), 4)   AS safe_div,
               try_add(9223372036854775807, o_orderkey % 2)        AS safe_add,
               CAST(try_cast(o_orderstatus AS DOUBLE) AS DOUBLE)   AS bad_cast
        FROM orders
        WHERE o_orderkey <= 3000
        """,
        sf_dir,
    )


# ---- GROUP BY ALL -------------------------------------------------------


@query(
    "group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` — infer the grouping key from the non-aggregate
    select items. Oracle spells the inferred key out explicitly, proving
    the inference picked exactly (o_orderstatus, o_orderpriority)."""
    return run_sql(
        spark,
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ALL
        """,
        sf_dir,
    )


# ---- VARIANT semi-structured type ---------------------------------------


@query(
    "variant_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderkey                    AS v_key,
           o_orderstatus                 AS v_status,
           round(o_totalprice, 2)        AS v_price,
           o_custkey % 10                AS v_elem1
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def variant_roundtrip(spark, sf_dir):
    """VARIANT (Spark 4 semi-structured type): build a JSON document from
    row values, ``parse_json`` it into a variant, then ``variant_get``
    typed paths (scalar fields + array index) back out. The oracle is the
    identity on the source columns — a failed parse/extract anywhere
    breaks the hash. This is the modern replacement for Hive's
    JsonSerDe/get_json_object surface at engine-native speed."""
    return run_sql(
        spark,
        """
        SELECT o_orderkey,
               variant_get(v, '$.key', 'bigint')     AS v_key,
               variant_get(v, '$.status', 'string')  AS v_status,
               round(variant_get(v, '$.price', 'double'), 2) AS v_price,
               variant_get(v, '$.arr[1]', 'bigint')  AS v_elem1
        FROM (
          SELECT o_orderkey,
                 parse_json(concat(
                   '{"key":', o_orderkey,
                   ',"status":"', o_orderstatus,
                   '","price":', o_totalprice,
                   ',"arr":[0,', o_custkey % 10, ']}')) AS v
          FROM orders
          WHERE o_orderkey <= 2000
        )
        """,
        sf_dir,
    )


# ---- SQL pipe syntax (Spark 4.0, SQL:2023-adjacent) ----------------------

_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1994-01-01'
|> AGGREGATE count(*) AS n,
             CAST(round(sum(l_extendedprice * (1 - l_discount)), 2)
                  AS DOUBLE) AS revenue
   GROUP BY l_returnflag, l_linestatus
|> WHERE n > 0
|> ORDER BY l_returnflag, l_linestatus
"""


@query(
    "pipe_syntax_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 0
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pipe_syntax_agg(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0 `|>` operators): the same
    scan→filter→aggregate→having→sort program written as a linear pipeline
    — each `|>` stage consumes the previous relation, so query text reads
    in dataflow order. Catalyst compiles it to the identical plan as the
    classic form (the oracle IS the classic form in DuckDB), so adopting
    the modern surface costs nothing at any scale."""
    return run_sql(spark, _PIPE_SQL, sf_dir)


# ---- collation-aware comparison (Spark 4.0 COLLATE) ----------------------


@query(
    "collation_case_insensitive",
    oracle="""
    SELECT lower(c_mktsegment) AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM customer
    GROUP BY lower(c_mktsegment)
    """,
)
def collation_case_insensitive(spark, sf_dir):
    """Collation-aware grouping (Spark 4.0 ``COLLATE UTF8_LCASE``):
    grouping on a case-insensitive collated column — comparison semantics
    move into the TYPE, so every operator downstream (joins, group-bys,
    distinct) is case-insensitive without scattering lower() through the
    query. The oracle states the equivalent explicit-normalization query;
    the emitted group key is lower()ed on both sides so the hash compares
    representation, not just cardinality."""
    return run_sql(
        spark,
        """
        SELECT lower(seg) AS segment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM (SELECT c_mktsegment COLLATE UTF8_LCASE AS seg, c_nationkey
              FROM customer)
        GROUP BY seg
        """,
        sf_dir,
    )


# ---- SQL scripting (Spark 4 BEGIN/END procedural blocks) ----------------

_SCRIPT_SQL = """
BEGIN
  DECLARE lim BIGINT DEFAULT 0;
  DECLARE thr DOUBLE DEFAULT 1000.0;
  DECLARE n BIGINT DEFAULT 0;
  DECLARE iters INT DEFAULT 0;
  SET lim = (SELECT count(*) DIV 10 FROM orders);
  SET n = (SELECT count(*) FROM orders WHERE o_totalprice > thr);
  WHILE n > lim AND iters < 20 DO
    SET thr = thr * 2;
    SET iters = iters + 1;
    SET n = (SELECT count(*) FROM orders WHERE o_totalprice > thr);
  END WHILE;
  SELECT CAST(thr AS DOUBLE) AS threshold, CAST(n AS BIGINT) AS n_above,
         CAST(iters AS INT) AS iterations, CAST(lim AS BIGINT) AS limit_n;
END
"""


@query(
    "script_while_threshold",
    oracle="""
    WITH t AS (SELECT count(*) AS total, count(*) // 10 AS lim FROM orders),
    ks AS (SELECT unnest(range(0, 21)) AS k),
    cnts AS (
      SELECT ks.k,
             count(*) FILTER (
               WHERE o.o_totalprice > 1000.0 * CAST(1 << ks.k AS DOUBLE)
             ) AS n
      FROM ks CROSS JOIN orders o GROUP BY ks.k
    ),
    pick AS (
      SELECT least(coalesce(
               (SELECT min(k) FROM cnts, t WHERE cnts.n <= t.lim), 20),
             20) AS k
    )
    SELECT 1000.0 * CAST(1 << p.k AS DOUBLE) AS threshold,
           CAST(c.n AS BIGINT) AS n_above,
           CAST(p.k AS INT) AS iterations,
           CAST(t.lim AS BIGINT) AS limit_n
    FROM pick p JOIN cnts c ON c.k = p.k CROSS JOIN t
    """,
)
def script_while_threshold(spark, sf_dir):
    """SQL scripting (Spark 4 procedural blocks, SQL/PSM-shape): a
    BEGIN…END script with DECLAREd session variables and a WHILE loop
    that doubles a revenue threshold until at most 10% of orders exceed
    it — the data-dependent iterate-until-converged pattern (threshold
    search, price-band calibration) written in pure SQL where Hive
    users needed an external driver script (beeline + bash loop) around
    the engine. Each iteration is a full declarative aggregate, so every
    probe is one Catalyst-planned scan; the procedural layer only
    sequences them.

    The DuckDB oracle replays the loop CLOSED-FORM: thresholds are the
    geometric ladder 1000·2^k, the loop's exit is the minimal k whose
    survivor count drops to the limit (capped at 20 doublings), so
    final (threshold, count, iterations) are all derivable without
    procedural SQL. Thresholds are exact powers of two times 1000 —
    bit-identical doubles; counts exact.

    100 TB: iteration count is O(log(price range)) ≤ 20 regardless of
    data size, and each probe is a scan-level count Spark can answer
    from partial aggregates — the script never materializes anything
    driver-side beyond 4 scalars."""
    # scripting is needed only to PARSE/EXECUTE the block below; restore the
    # prior value so the conf never leaks into later queries of a shared
    # verify/bench/test session (r7 ADVICE). The returned DataFrame is
    # already materialized by EXECUTE IMMEDIATE semantics inside _sql.
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return run_sql(spark, _SCRIPT_SQL, sf_dir)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


# ---- PERCENTILE_CONT / PERCENTILE_DISC ... WITHIN GROUP ------------------

_PCTL_WG_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity)
                  AS DOUBLE) + 1e-9, 6) AS qty_p50,
       round(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_quantity)
                  AS DOUBLE) + 1e-9, 6) AS qty_p95,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
            AS DOUBLE) AS qty_p50_disc,
       CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY l_quantity)
            AS DOUBLE) AS qty_p95_disc
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_percentile_within_group", oracle=_PCTL_WG_SQL)
def agg_percentile_within_group(spark, sf_dir):
    """SQL:2008 ordered-set aggregates ``PERCENTILE_CONT`` /
    ``PERCENTILE_DISC ... WITHIN GROUP (ORDER BY ...)`` — the ANSI forms
    of Hive's percentile()/percentile_approx() surface (SURVEY §2.4),
    exercised in the standard inverse-distribution syntax both engines
    parse natively. CONT interpolates (6dp-rounded on both sides); DISC
    returns an actual population element, so it is exact by construction.
    Same per-group sort-bounded cost shape as agg_percentile: grouping
    bounds each ordered set to one cell, so no global sort exists."""
    return run_sql(spark, _PCTL_WG_SQL, sf_dir)


# ---- SQL UDFs (CREATE FUNCTION ... RETURN) -------------------------------

# Hive's CREATE TEMPORARY MACRO (SURVEY §2.9, macro_expression) grew up into
# ANSI SQL UDFs in Spark 4: named, typed, catalog-registered functions whose
# body is pure SQL — Catalyst inlines them, so unlike Java/Python UDFs they
# cost nothing at 100 TB (full codegen, pushdown through the call).

_SQL_UDF_SCALAR = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT)  AS n,
       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_total
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_udf_scalar", oracle=_SQL_UDF_SCALAR)
def sql_udf_scalar(spark, sf_dir):
    """ANSI SQL scalar UDF: ``CREATE TEMPORARY FUNCTION ... RETURNS DOUBLE
    RETURN <expr>`` (Spark 4) — the typed, catalog-visible successor to
    Hive's CREATE TEMPORARY MACRO. The body is inlined by Catalyst
    (stays inside WholeStageCodegen; no serialization wall), so the
    oracle is simply the query with the call textually expanded."""
    load_tables(spark, sf_dir, register=True)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(
            ep DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN ep * (1 - disc) * (1 + tax)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT)  AS n,
               -- money discipline (helpers.money_sum rationale): 2dp-quantize
               -- the TERM, DECIMAL-accumulate — double sums at sf1 magnitude
               -- are not 2dp-round-stable across engines
               CAST(round(sum(CAST(round(net_price(l_extendedprice, l_discount,
                                                   l_tax) + 1e-9, 2)
                                   AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS net_total
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


_SQL_UDF_TABLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT)       AS n,
       CAST(round(sum(CAST(b.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total
FROM (SELECT o_custkey, o_totalprice
      FROM orders WHERE o_totalprice >= 150000.0) b
JOIN customer c ON c.c_custkey = b.o_custkey
GROUP BY c.c_mktsegment
"""


@query("sql_udf_table", oracle=_SQL_UDF_TABLE)
def sql_udf_table(spark, sf_dir):
    """SQL table function: ``CREATE TEMPORARY FUNCTION ... RETURNS TABLE(...)
    RETURN SELECT ...`` — a parameterized view callable in FROM position
    (SQL:2016 polymorphic-ish table function, the lawful replacement for
    Hive's UDTF-as-view idiom). Catalyst expands the body as a subquery,
    so the parameter (a price floor) is folded and pushed down to the
    parquet scan like any literal predicate."""
    load_tables(spark, sf_dir, register=True)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(minprice DOUBLE)
        RETURNS TABLE(o_custkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_custkey, o_totalprice
               FROM orders WHERE o_totalprice >= minprice
        """
    )
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT)       AS n,
               CAST(round(sum(CAST(b.o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS total
        FROM big_orders(150000.0) b
        JOIN customer c ON c.c_custkey = b.o_custkey
        GROUP BY c.c_mktsegment
        """
    )


# ---- parameterized SQL ---------------------------------------------------

_PARAM_SQL_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT)      AS n,
       round(avg(o_totalprice), 2)   AS avg_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 25000.0
GROUP BY o_orderpriority
"""


@query("parameterized_query", oracle=_PARAM_SQL_ORACLE)
def parameterized_query(spark, sf_dir):
    """Named-parameter SQL binding (``spark.sql(text, args={...})`` with
    ``:name`` markers, SPARK-44140) — the injection-safe replacement for
    Hive's ``hivevar`` text substitution (SURVEY §3.4 CLI variables).
    Parameters bind as literals in the analyzer, so they constant-fold
    and push down to the scan exactly like inline constants; the oracle
    is the query with the bindings spelled out."""
    load_tables(spark, sf_dir, register=True)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT)      AS n,
               round(avg(o_totalprice), 2)   AS avg_price
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "floor": 25000.0},
    )
