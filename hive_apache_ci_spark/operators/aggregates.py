"""Aggregation surface (SURVEY.md §2.4 — GroupByOperator + the UDAF catalog).

Hive mechanics replicated declaratively: hash aggregation with map-side
partial agg (Spark does partial/final split automatically — PARTIAL1/FINAL
evaluator modes in Hive's GenericUDAFEvaluator), DISTINCT aggregates,
grouping sets / ROLLUP / CUBE with grouping_id (expanded inside Hive's
GroupByOperator; Catalyst ``Expand`` node here), the variance/covariance/
regression UDAF family, collect_list/collect_set, exact percentile.

Determinism: collect_* outputs are sorted then string-joined; floating
aggregates rounded (2dp sums / 4dp ratios) so cross-engine accumulation
order cannot flip the hash.

Scale notes: every groupBy here partial-aggregates map-side before the
shuffle; DISTINCT aggs rewrite to two-phase Expand+agg in Catalyst (same
trick as Hive's distinct-keys-into-shuffle-key).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..helpers import T, materialize, md5_int, r2, r4, ravg
from ..registry import query


@query(
    "agg_basic",
    oracle="""
    SELECT l_returnflag,
           count(*)                                   AS n_rows,
           count(l_quantity)                          AS n_qty,
           round(sum(l_quantity), 2)                  AS sum_qty,
           round(avg(l_extendedprice) + 1e-9, 4)      AS avg_price,
           round(min(l_extendedprice), 2)             AS min_price,
           round(max(l_extendedprice), 2)             AS max_price,
           CAST(sum(l_linenumber) AS BIGINT)          AS sum_linenum
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_basic(spark, sf_dir):
    """count/sum/avg/min/max (GenericUDAFCount/Sum/Average/Min/Max).
    Note DuckDB sum(int) yields HUGEINT — oracle casts to BIGINT to match
    Spark's LongType."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("l_quantity").alias("n_qty"),
            r2(F.sum("l_quantity")).alias("sum_qty"),
            ravg(F.avg("l_extendedprice")).alias("avg_price"),
            r2(F.min("l_extendedprice")).alias("min_price"),
            r2(F.max("l_extendedprice")).alias("max_price"),
            F.sum("l_linenumber").alias("sum_linenum"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_linestatus,
           round(var_pop(l_quantity), 4)     AS var_pop_qty,
           round(var_samp(l_quantity), 4)    AS var_samp_qty,
           round(stddev_pop(l_quantity), 4)  AS stddev_pop_qty,
           round(stddev_samp(l_quantity), 4) AS stddev_samp_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_stats(spark, sf_dir):
    """Variance family (GenericUDAFVariance/VarianceSample/Std/StdSample)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            r4(F.var_pop("l_quantity")).alias("var_pop_qty"),
            r4(F.var_samp("l_quantity")).alias("var_samp_qty"),
            r4(F.stddev_pop("l_quantity")).alias("stddev_pop_qty"),
            r4(F.stddev_samp("l_quantity")).alias("stddev_samp_qty"),
        )
    )


@query(
    "agg_corr_regr",
    oracle="""
    SELECT o_orderstatus,
           round(corr(o_totalprice, o_custkey), 4)        AS corr_pc,
           round(covar_pop(o_totalprice, o_custkey), 2)   AS covar_pop_pc,
           round(covar_samp(o_totalprice, o_custkey), 2)  AS covar_samp_pc,
           round(regr_slope(o_totalprice, o_custkey), 4)  AS slope,
           round(regr_intercept(o_totalprice, o_custkey), 2) AS intercept,
           round(regr_r2(o_totalprice, o_custkey), 4)     AS r2,
           CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n,
           round(regr_avgx(o_totalprice, o_custkey), 4)   AS avgx,
           round(regr_avgy(o_totalprice, o_custkey), 4)   AS avgy
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_corr_regr(spark, sf_dir):
    """corr/covar + the 9-function regression family
    (GenericUDAFCorrelation/Covariance/BinarySetFunctions)."""
    y, x = F.col("o_totalprice"), F.col("o_custkey")
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            r4(F.corr(y, x)).alias("corr_pc"),
            r2(F.covar_pop(y, x)).alias("covar_pop_pc"),
            r2(F.covar_samp(y, x)).alias("covar_samp_pc"),
            r4(F.regr_slope(y, x)).alias("slope"),
            r2(F.regr_intercept(y, x)).alias("intercept"),
            r4(F.regr_r2(y, x)).alias("r2"),
            F.regr_count(y, x).alias("n"),
            r4(F.regr_avgx(y, x)).alias("avgx"),
            r4(F.regr_avgy(y, x)).alias("avgy"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)  AS n_parts,
           count(DISTINCT l_suppkey)  AS n_supps,
           count(DISTINCT l_quantity) AS n_qtys,
           count(*)                   AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """Multi-column DISTINCT aggregates (Hive: distinct keys folded into the
    shuffle key; Catalyst: RewriteDistinctAggregates → Expand)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_quantity").alias("n_qtys"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "agg_collect",
    oracle="""
    SELECT c_mktsegment,
           string_agg(CAST(c_custkey AS VARCHAR), ','
                      ORDER BY CAST(c_custkey AS VARCHAR)) AS custkeys,
           count(*) AS n
    FROM customer
    WHERE c_acctbal > 9500
    GROUP BY c_mktsegment
    """,
)
def agg_collect(spark, sf_dir):
    """collect_list (GenericUDAFCollectList) — order-nondeterministic in a
    distributed agg, so the engine sorts the array then joins to a string
    (the canonical determinism recipe from SURVEY.md §5.2)."""
    return (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("c_custkey").cast("string"))), ","
            ).alias("custkeys"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_collect_set(spark, sf_dir):
    """collect_set (GenericUDAFCollectSet) — dedup + sort + join."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
                "statuses"
            )
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           count(*)                      AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
    """,
)
def agg_rollup(spark, sf_dir):
    """WITH ROLLUP (expanded inside Hive's GroupByOperator; Catalyst Expand).

    The grand-total row sums EVERY order: at sf1 the double accumulator
    runs at ~4e11 where one ulp is 6e-5, so double summation noise
    exceeds a cent and no 2dp round can be engine-stable (first seen in
    the r8 full-sf1 sweep). Money is exact cents, so both engines sum in
    DECIMAL(18,2) — exact integer-cents arithmetic at any scale — and
    cast the identical exact total back to double. Hive itself sums
    DECIMAL exactly (HiveDecimal), so this is also the more faithful
    semantics."""
    o = T(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    return o.rollup("order_year", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        r2(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")).alias(
            "total"
        ),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                    AS n,
           round(avg(o_totalprice) + 1e-9, 4) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    """WITH CUBE — all 4 grouping combinations."""
    return (
        T(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), ravg(F.avg("o_totalprice")).alias("avg_price"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS + GROUPING__ID (Hive registry names
    ``grouping``/``grouping_id``; same bit encoding in DuckDB's GROUPING)."""
    return (
        T(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4)        AS median_qty,
           round(quantile_cont(l_extendedprice, 0.25), 4)  AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), 4)  AS p75_price,
           round(quantile_cont(l_extendedprice, 0.95), 4)  AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    """Exact percentile (Hive bridge UDAF ``percentile``) — linear
    interpolation, same definition as DuckDB quantile_cont."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            r4(F.percentile("l_quantity", 0.5)).alias("median_qty"),
            r4(F.percentile("l_extendedprice", 0.25)).alias("p25_price"),
            r4(F.percentile("l_extendedprice", 0.75)).alias("p75_price"),
            r4(F.percentile("l_extendedprice", 0.95)).alias("p95_price"),
        )
    )


@query(
    "agg_percentile_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS exact_p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_approx(spark, sf_dir):
    """approx_percentile (Greenwald-Khanna sketch; Hive bridge
    ``percentile_approx``) graded against its PUBLISHED guarantee: the
    sketch's answer must be a data value whose true rank is within
    n/accuracy of the target rank. The query computes the approximate p50/
    p95 per group, joins back to count each answer's exact rank in-plan,
    and emits the rank-bound verdict as a boolean next to the exact
    (interpolated) percentiles — so the approximate operator runs under a
    FULL hash oracle: the booleans are deterministic (GK is hash-free and
    data-deterministic in Spark) and the oracle states them TRUE.

    Scale: two scans of lineitem (sketch agg + rank count) with the 3-row
    sketch result broadcast into the second; both are map-side partial
    aggregates — no wide shuffle beyond the 3-group agg."""
    acc = 1000
    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, acc).alias("a95"),
        F.percentile("l_extendedprice", 0.5).alias("e50"),
        F.percentile("l_extendedprice", 0.95).alias("e95"),
        F.count(F.lit(1)).alias("n"),
    )
    ranks = (
        li.join(F.broadcast(ap.select("l_returnflag", "a50", "a95")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") <= F.col("a50")).cast("long")).alias("r50"),
            F.sum((F.col("l_extendedprice") <= F.col("a95")).cast("long")).alias("r95"),
        )
    )
    slack = F.ceil(F.col("n") / acc) + 1
    return (
        ap.join(ranks, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n"),
            r4(F.col("e50")).alias("exact_p50"),
            r4(F.col("e95")).alias("exact_p95"),
            (F.abs(F.col("r50") - 0.5 * F.col("n")) <= slack).alias("p50_rank_ok"),
            (F.abs(F.col("r95") - 0.95 * F.col("n")) <= slack).alias("p95_rank_ok"),
        )
    )


@query(
    "agg_minmax_by",
    oracle="""
    WITH w AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS rmin,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax
      FROM orders
    )
    SELECT o_orderstatus,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
           bool_and(o_totalprice > 0)        AS all_positive,
           bool_or(o_totalprice > 500000)    AS any_huge
    FROM w
    GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark, sf_dir):
    """min_by/max_by + bool_and/bool_or (Spark-native additions covering
    Hive's max-struct idiom). Tie-break is EXPLICIT — min_by/max_by order
    on (price, orderkey) structs: organic data has near-unique prices,
    but the replicated sf1 corpus duplicates every price across copies
    and unordered arg_min/arg_max picked different winners per engine
    (first seen in the r8 full-sf1 sweep). The oracle mirrors the struct
    ordering with deterministic row_number windows (DuckDB's arg_min has
    no composite-key form)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min_by(
                "o_orderkey", F.struct("o_totalprice", "o_orderkey")
            ).alias("cheapest_order"),
            F.max_by(
                "o_orderkey", F.struct("o_totalprice", "o_orderkey")
            ).alias("priciest_order"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 500000).alias("any_huge"),
        )
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++) — Spark's upgrade over Hive 2.3's
    exact-only count distinct — graded against its PUBLISHED error bound:
    rsd=0.05, so |approx - exact| must stay within 3·rsd·exact (HLL++'s
    estimate is hash-deterministic for fixed data, so the verdict boolean
    is stable run-to-run and engine-independent). The bound check is
    computed IN-PLAN next to the exact count, turning the approximate
    operator into a fully hash-oracled entry (was rows-only; tests still
    bound the error independently in tests/test_aggregates.py)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            F.col("exact_parts").cast("bigint").alias("exact_parts"),
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 3 * 0.05 * F.col("exact_parts")
            ).alias("hll_within_bound"),
        )
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT l_returnflag,
           CAST(u.bin_idx AS INTEGER) AS bin_idx,
           TRUE AS height_positive,
           TRUE AS center_in_range,
           TRUE AS centers_increasing,
           TRUE AS heights_sum_to_n
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    CROSS JOIN (SELECT unnest(range(0, 5)) AS bin_idx) u
    """,
)
def agg_histogram(spark, sf_dir):
    """histogram_numeric (GenericUDAFHistogramNumeric) — the bin PLACEMENT
    is a merge-order heuristic no other engine reproduces, so the operator
    is graded on its INVARIANTS, all computed in-plan per bin: height > 0,
    center inside the group's [min, max], centers strictly increasing, and
    heights summing to the group row count (the defining properties of the
    Hive streaming-histogram algorithm). Each invariant is deterministic
    for fixed data, making this a full hash-oracle entry (was rows-only);
    the exact-bin complement stays `agg_histogram_fixed`. Exploded to one
    row per (flag, bin_idx) so every output column is a hashable scalar."""
    h = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("histogram_numeric(l_quantity, 5)").alias("qty_hist"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy("bin_idx")
    bins = (
        h.select(
            "l_returnflag",
            "qmin",
            "qmax",
            "n",
            F.aggregate(
                F.transform("qty_hist", lambda b: b.getField("y")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("height_sum"),
            F.posexplode("qty_hist").alias("bin_idx", "bin"),
        )
        .withColumn("prev_x", F.lag(F.col("bin.x")).over(w))
    )
    return bins.select(
        "l_returnflag",
        F.col("bin_idx").cast("int").alias("bin_idx"),
        (F.col("bin.y") > 0).alias("height_positive"),
        (
            (F.col("bin.x") >= F.col("qmin")) & (F.col("bin.x") <= F.col("qmax"))
        ).alias("center_in_range"),
        (F.col("prev_x").isNull() | (F.col("bin.x") > F.col("prev_x"))).alias(
            "centers_increasing"
        ),
        (F.abs(F.col("height_sum") - F.col("n")) < 1e-6).alias("heights_sum_to_n"),
    )


@query(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_dec,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS qty_dec
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark, sf_dir):
    """Exact DECIMAL aggregation (Hive decimal(p,s) semantics, §1.3):
    summing as decimal is order-insensitive and exact, so no rounding or
    epsilon games are needed — the final cast to double is purely for a
    type-stable comparison (Spark sum(decimal(18,2))→decimal(28,2) vs
    DuckDB →decimal(38,2))."""
    l = T(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_dec"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("qty_dec"),
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           count(*)                                             AS n_all,
           count(*) FILTER (WHERE o_orderstatus = 'F')          AS n_finished,
           round(coalesce(sum(o_totalprice)
                 FILTER (WHERE o_totalprice > 300000), 0), 2)   AS big_total,
           CAST(count_if(o_custkey % 2 = 0) AS BIGINT)          AS n_even_cust
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark, sf_dir):
    """FILTER (WHERE ...) aggregate modifiers + count_if — the ANSI form of
    Hive's CASE-inside-aggregate idiom (both engines support it natively)."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        r2(
            F.coalesce(
                F.sum(F.when(F.col("o_totalprice") > 300000, F.col("o_totalprice"))),
                F.lit(0),
            )
        ).alias("big_total"),
        F.count_if(F.col("o_custkey") % 2 == 0).alias("n_even_cust"),
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    WITH bounds AS (
      SELECT min(l_quantity) AS lo, max(l_quantity) AS hi FROM lineitem
    )
    SELECT l_returnflag,
           CAST(least(floor((l_quantity - lo) / ((hi - lo) / 10)), 9) AS INT)
             AS bin_idx,
           CAST(count(*) AS BIGINT)      AS n,
           round(min(l_quantity), 2)     AS bin_min,
           round(max(l_quantity), 2)     AS bin_max
    FROM lineitem, bounds
    GROUP BY 1, 2
    """,
)
def agg_histogram_fixed(spark, sf_dir):
    """Fixed-width 10-bin histogram of l_quantity per returnflag — the
    deterministic, exactly-oracled complement to `agg_histogram`
    (histogram_numeric's heuristic bin *placement* is engine-specific →
    rows-only; equal-width binning is pure arithmetic, so this one is
    hash-checked). Two-phase agg over a (flag, bin) key; the global
    min/max is a scalar subquery both engines broadcast."""
    l = T(spark, sf_dir, "lineitem")
    lo, hi = F.min("l_quantity"), F.max("l_quantity")
    b = l.agg(lo.alias("lo"), hi.alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 10
    return (
        l.crossJoin(F.broadcast(b))
        .select(
            "l_returnflag",
            "l_quantity",
            F.least(
                F.floor((F.col("l_quantity") - F.col("lo")) / width), F.lit(9)
            )
            .cast("int")
            .alias("bin_idx"),
        )
        .groupBy("l_returnflag", "bin_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_quantity"), 2).alias("bin_min"),
            F.round(F.max("l_quantity"), 2).alias("bin_max"),
        )
    )


@query(
    "analyze_column_stats",
    oracle="""
    SELECT 'l_quantity' AS col_name,
           count(l_quantity)                     AS n_nonnull,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           round(min(l_quantity), 4)             AS num_min,
           round(max(l_quantity), 4)             AS num_max,
           CAST(NULL AS VARCHAR)                 AS str_min,
           CAST(NULL AS VARCHAR)                 AS str_max
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(l_returnflag),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           NULL, NULL, min(l_returnflag), max(l_returnflag)
    FROM lineitem
    """,
)
def analyze_column_stats(spark, sf_dir):
    """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` parity
    (Hive's ColumnStatsTask / HiveColumnStatsAggregator): per-column
    non-null count, exact NDV, min/max — the stats the CBO feeds on. One
    pass over the table with multiple DISTINCT aggregates (Catalyst's
    expand-based multi-distinct — each distinct column gets its own
    partial-dedup branch, shuffle keyed by the grouping so NDV never
    collects to the driver), then unpivoted to the long catalog-stats
    shape."""
    l = T(spark, sf_dir, "lineitem")
    wide = l.agg(
        F.count("l_quantity").alias("q_n"),
        F.countDistinct("l_quantity").alias("q_ndv"),
        F.round(F.min("l_quantity"), 4).alias("q_min"),
        F.round(F.max("l_quantity"), 4).alias("q_max"),
        F.count("l_extendedprice").alias("p_n"),
        F.countDistinct("l_extendedprice").alias("p_ndv"),
        F.round(F.min("l_extendedprice"), 4).alias("p_min"),
        F.round(F.max("l_extendedprice"), 4).alias("p_max"),
        F.count("l_returnflag").alias("f_n"),
        F.countDistinct("l_returnflag").alias("f_ndv"),
        F.min("l_returnflag").alias("f_min"),
        F.max("l_returnflag").alias("f_max"),
    )
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    return wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("col_name"),
                    F.col("q_n").alias("n_nonnull"),
                    F.col("q_ndv").alias("ndv"),
                    F.col("q_min").alias("num_min"),
                    F.col("q_max").alias("num_max"),
                    null_s.alias("str_min"),
                    null_s.alias("str_max"),
                ),
                F.struct(
                    F.lit("l_extendedprice").alias("col_name"),
                    F.col("p_n").alias("n_nonnull"),
                    F.col("p_ndv").alias("ndv"),
                    F.col("p_min").alias("num_min"),
                    F.col("p_max").alias("num_max"),
                    null_s.alias("str_min"),
                    null_s.alias("str_max"),
                ),
                F.struct(
                    F.lit("l_returnflag").alias("col_name"),
                    F.col("f_n").alias("n_nonnull"),
                    F.col("f_ndv").alias("ndv"),
                    null_d.alias("num_min"),
                    null_d.alias("num_max"),
                    F.col("f_min").alias("str_min"),
                    F.col("f_max").alias("str_max"),
                ),
            )
        ).alias("s")
    ).select("s.*")


@query(
    "diagnose_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT)                      AS n_keys,
           CAST(max(c) AS BIGINT)                        AS max_rows,
           CAST(quantile_disc(c, 0.50) AS BIGINT)        AS p50_rows,
           CAST(quantile_disc(c, 0.99) AS BIGINT)        AS p99_rows,
           round(max(c) * 1.0 / avg(c) + 1e-9, 4)        AS skew_factor
    FROM per_key
    """,
)
def diagnose_key_skew(spark, sf_dir):
    """Join-key skew profiler — the diagnostic run before choosing
    broadcast/salt/AQE-skew strategies (Hive's SkewJoinOptimizer needs
    `hive.skewjoin.key` thresholds set from exactly this profile):
    per-key row counts reduced to count/max/discrete-percentiles and a
    max/mean skew factor. Two aggregations, the second over |keys| rows
    already keyed — at 100 TB the profile costs one map-side-combined
    shuffle and tells you whether the big join needs salting."""
    l = T(spark, sf_dir, "lineitem")
    per_key = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_rows"),
        F.percentile_approx("c", 0.50, 2147483647).alias("p50_rows"),
        F.percentile_approx("c", 0.99, 2147483647).alias("p99_rows"),
        F.round(F.max("c") * 1.0 / F.avg("c") + F.lit(1e-9), 4).alias(
            "skew_factor"
        ),
    )


@query(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_custkey_fk' AS constraint_name,
           (SELECT CAST(count(*) AS BIGINT) FROM orders)   AS n_checked,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_quantity <= 0 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'events_id_unique',
           (SELECT CAST(count(*) AS BIGINT) FROM events),
           (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
              (SELECT count(*) AS c FROM events GROUP BY event_id
               HAVING count(*) > 1))
    UNION ALL
    SELECT 'events_ts_in_range',
           (SELECT CAST(count(*) AS BIGINT) FROM events),
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE ts < TIMESTAMP '2000-01-01'
               OR ts >= TIMESTAMP '2100-01-01')
    UNION ALL
    SELECT 'documents_nchars_consistent',
           (SELECT CAST(count(*) AS BIGINT) FROM documents),
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE n_chars <> length(text))
    """,
)
def dq_constraint_report(spark, sf_dir):
    """Data-quality constraint audit — the expectations report (Deequ/
    Great-Expectations shape) a production pipeline runs before publishing
    a table: referential integrity (orders→customer anti-join), numeric
    range checks, key uniqueness (excess-copy count), timestamp sanity,
    and a derived-column consistency check. Each constraint is one
    aggregate; the anti-join is the only shuffle with a join (broadcast —
    the dimension side is small), the rest are scan-local.

    At 100 TB: every branch is a single pass over its table; Spark shares
    the scans across branches of the union where AQE can, and a real
    deployment runs the branches as one multi-aggregate pass per table."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    c = T(spark, sf_dir, "customer")
    e = T(spark, sf_dir, "events")
    d = T(spark, sf_dir, "documents")

    def report(name, n_checked_df, viol_df):
        n = n_checked_df.agg(F.count(F.lit(1)).cast("bigint").alias("n_checked"))
        v = viol_df
        return (
            n.crossJoin(F.broadcast(v))
            .select(
                F.lit(name).alias("constraint_name"), "n_checked", "n_violations"
            )
        )

    fk_viol = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
    )
    qty_viol = li.filter(
        (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
    disc_viol = li.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
    dup_viol = (
        e.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_violations")
        )
    )
    ts_viol = e.filter(
        (F.col("ts") < F.lit("2000-01-01").cast("timestamp"))
        | (F.col("ts") >= F.lit("2100-01-01").cast("timestamp"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
    nchars_viol = d.filter(F.col("n_chars") != F.length("text")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_violations")
    )
    return (
        report("orders_custkey_fk", o, fk_viol)
        .unionByName(report("lineitem_qty_range", li, qty_viol))
        .unionByName(report("lineitem_discount_range", li, disc_viol))
        .unionByName(report("events_id_unique", e, dup_viol))
        .unionByName(report("events_ts_in_range", e, ts_viol))
        .unionByName(report("documents_nchars_consistent", d, nchars_viol))
    )


@query(
    "analyze_equi_depth_histogram",
    oracle="""
    WITH ranked AS (
      SELECT l_quantity,
             ntile(10) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
                 AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS INT)           AS bucket,
           round(min(l_quantity), 2)     AS lo,
           round(max(l_quantity), 2)     AS hi,
           CAST(count(*) AS BIGINT)      AS n
    FROM ranked GROUP BY bucket
    """,
)
def analyze_equi_depth_histogram(spark, sf_dir):
    """Equi-depth (equi-height) histogram — the statistics shape Hive's
    ANALYZE ... COMPUTE STATISTICS stores for optimizer selectivity: 10
    buckets of equal row count with their value boundaries, exactly equal
    to NTILE(10) under the deterministic total order (l_quantity,
    l_orderkey, l_linenumber) — the unique composite key makes the
    bucketing exact and cross-engine-stable.

    Scale shape (the windows.py window_ntile_scaled technique, reused on
    the FACT table): percentile_approx value-range shards (split choice
    never affects the result), per-shard row_number, broadcast
    prefix-count offsets, ANSI ntile integer arithmetic on (rank, total).
    Every window partitions by the shard id — no single-partition global
    sort of lineitem anywhere in the plan (gated by
    tests/test_plans.py::test_equi_depth_histogram_no_global_window)."""
    from .windows import _global_ranks, _ntile_bucket

    li = T(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    ranked = _global_ranks(
        li, "l_quantity", ["l_orderkey", "l_linenumber"], 32
    )
    bucket = _ntile_bucket(F.col("i0"), F.col("n_total"), F.lit(10))
    return (
        ranked.select("l_quantity", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.round(F.min("l_quantity"), 2).alias("lo"),
            F.round(F.max("l_quantity"), 2).alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@query(
    "agg_contribution_share",
    oracle="""
    WITH nat_rev AS (
      SELECT n.n_name,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT sum(revenue) AS t FROM nat_rev)
    SELECT n_name, revenue,
           round(revenue / (SELECT t FROM tot) + 1e-9, 6) AS share
    FROM nat_rev
    """,
)
def agg_contribution_share(spark, sf_dir):
    """Percent-of-total contribution analysis (revenue share per nation).
    The total comes from a broadcast single-row aggregate, NOT a global
    empty-partition window — the scale-correct way to divide by a grand
    total (the window form would funnel every group through one reducer;
    the broadcast form is one extra tiny stage)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    nat_rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    tot = nat_rev.agg(F.sum("revenue").alias("t"))
    return nat_rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.col("t") + 1e-9, 6).alias("share"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                  WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                  WHEN 'error' THEN 4 ELSE 5 END AS code
      FROM events
    )
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << code) AS BIGINT) AS type_mask,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << code)) AS INT)
               AS n_distinct_types,
           CAST(count(*) AS BIGINT) AS n_events
    FROM coded GROUP BY user_id
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """Bitmap-encoded distinct aggregation (the Hive EWAH-bitmap-UDAF
    role, SURVEY §2.4): each event type maps to a bit position, per-user
    membership folds with bit_or, and COUNT(DISTINCT type) degenerates to
    a popcount on the mask. For small-cardinality domains this turns a
    distinct-agg (two-phase Expand in Catalyst) into a plain 8-byte
    commutative aggregate — map-side combine is a single OR, the exchange
    carries one long per group, and masks from different partitions/days
    merge with OR again (the same property Roaring bitmaps give unbounded
    domains). Exact integers end-to-end."""
    e = T(spark, sf_dir, "events")
    # shiftleft's Python signature takes a literal shift; a per-row shift
    # needs the SQL form
    bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CASE event_type"
        " WHEN 'view' THEN 0 WHEN 'click' THEN 1 WHEN 'purchase' THEN 2"
        " WHEN 'signup' THEN 3 WHEN 'error' THEN 4 ELSE 5 END)"
    )
    mask = F.bit_or(bit)
    return e.groupBy("user_id").agg(
        mask.cast("bigint").alias("type_mask"),
        F.bit_count(mask).cast("int").alias("n_distinct_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@query(
    "market_basket_lift",
    oracle="""
    WITH bound AS (
      SELECT CAST(ceil(max(l_partkey) / 10.0) AS BIGINT) AS part_bound
      FROM lineitem
    ),
    items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem, bound
      WHERE l_partkey <= bound.part_bound
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    freq AS (SELECT l_partkey, count(*) AS f FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS nb
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b,
           CAST(nb AS BIGINT) AS n_both,
           round(nb * 1.0 / n.n_orders + 1e-9, 6) AS support,
           round(nb * 1.0 * n.n_orders / (fa.f * fb.f) + 1e-9, 6) AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN n
    WHERE nb >= 2
    """,
)
def market_basket_lift(spark, sf_dir):
    """Market-basket co-occurrence mining (association-rules support/lift)
    on a part slice: item pairs bought in the same order, their support,
    and lift = P(a,b)/(P(a)·P(b)) — the classic retail affinity analysis
    Hive warehouses run nightly. The pair join is keyed on the ORDER —
    bounded by items-per-order (k), so pair volume is Σ k²/2 per order,
    never catalog-squared; item frequencies and the order count are
    broadcast side aggregates. All counts exact integers; support/lift
    are rounded ratios of them. The part slice is DATA-DERIVED (the lowest
    tenth of the part-key domain, computed as a broadcast scalar) so the
    query is non-vacuous at every scale factor — a fixed absolute key bound
    stops co-occurring as the catalog grows with SF."""
    li = T(spark, sf_dir, "lineitem")
    bound = li.agg(
        F.ceil(F.max("l_partkey") / F.lit(10.0)).cast("bigint").alias("part_bound")
    )
    items = (
        li.crossJoin(F.broadcast(bound))
        .filter(F.col("l_partkey") <= F.col("part_bound"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("both"))
        .filter(F.col("both") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("f").alias("fa"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("f").alias("fb"))
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("both").cast("bigint").alias("n_both"),
            F.round(F.col("both") * 1.0 / F.col("n_orders") + F.lit(1e-9), 6).alias(
                "support"
            ),
            F.round(
                F.col("both") * 1.0 * F.col("n_orders") / (F.col("fa") * F.col("fb"))
                + F.lit(1e-9),
                6,
            ).alias("lift"),
        )
    )


# ---- round 7: Count-Min sketch (the point-query frequency sketch) --------

_CM_DEPTH = 4    # hash rows; overestimate-bound failure prob = e^-depth
_CM_WIDTH = 256  # cells per row; eps = e / width
_CM_EPS = 2.718281828459045 / _CM_WIDTH
_CM_PROBE_K = 10


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n FROM orders),
    rows4 AS (SELECT unnest(range(0, {_CM_DEPTH})) AS r),
    cells AS (
      SELECT r,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                      || ':' || CAST(r AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_CM_WIDTH} AS c,
             count(*) AS cell
      FROM orders CROSS JOIN rows4 GROUP BY 1, 2
    ),
    freq AS (SELECT o_custkey, count(*) AS true_cnt FROM orders GROUP BY 1),
    probe AS (
      SELECT o_custkey, true_cnt FROM freq
      ORDER BY true_cnt DESC, o_custkey LIMIT {_CM_PROBE_K}
    ),
    est AS (
      SELECT p.o_custkey, p.true_cnt, min(cl.cell) AS est_cnt
      FROM probe p CROSS JOIN rows4 r
      JOIN cells cl
        ON cl.r = r.r
       AND cl.c = CAST(('0x' || substr(md5(CAST(p.o_custkey AS VARCHAR)
                                           || ':' || CAST(r.r AS VARCHAR)),
                                       1, 15)) AS BIGINT) % {_CM_WIDTH}
      GROUP BY p.o_custkey, p.true_cnt
    )
    SELECT e.o_custkey, CAST(e.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.est_cnt AS BIGINT) AS est_cnt,
           e.est_cnt >= e.true_cnt AS over_ok,
           e.est_cnt <= e.true_cnt
               + CAST(ceil({_CM_EPS} * n.n) AS BIGINT) AS bound_ok,
           round(CAST(e.est_cnt - e.true_cnt AS DOUBLE)
                 / e.true_cnt + 1e-9, 6) AS rel_err
    FROM est e CROSS JOIN n
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-Min sketch point-query frequencies (Cormode & Muthukrishnan
    2005) — the counting sketch next to the repo's HLL (distinct), GK
    (quantiles) and histogram surfaces: `_CM_DEPTH` hash rows x `_CM_WIDTH` cells, each
    order fans into one cell per row (md5-derived column, replayable),
    and a key's estimate is the MIN over its `_CM_DEPTH` cells. Probed on the
    top-`_CM_PROBE_K` true-frequency customers with BOTH published guarantees
    graded in-plan, per key: `over_ok` (CM never underestimates —
    structural, must always hold) and `bound_ok` (est <= true + ceil(e/W
    · N), the eps·N overestimate bound that holds w.p. 1-e^-`_CM_DEPTH`). The
    exact `freq` table exists only to select probes and grade the bounds
    — the audit, not the operator.

    100 TB: the sketch build is the whole point — a `_CM_DEPTH`x-row fan-out
    partially aggregated into `_CM_DEPTH`·`_CM_WIDTH` = 1024 cells
    (constant size at any corpus), never a key-grouped shuffle; cells
    broadcast to the probe side. The approx-op discipline: emit exact values
    next to verdict booleans so the sketch's contract hash-oracles instead
    of the sketch being waved through rows-only."""
    o = T(spark, sf_dir, "orders")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    rows4 = spark.range(_CM_DEPTH).select(F.col("id").cast("int").alias("r"))

    def cm_col(key_col):
        return (
            md5_int(
                F.concat(key_col.cast("string"), F.lit(":"), F.col("r").cast("string"))
            )
            % _CM_WIDTH
        )

    cells = (
        o.select("o_custkey")
        .crossJoin(F.broadcast(rows4))
        .select("r", cm_col(F.col("o_custkey")).alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    freq = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    probe = freq.orderBy(F.desc("true_cnt"), "o_custkey").limit(_CM_PROBE_K)
    est = (
        probe.crossJoin(F.broadcast(rows4))
        .select("o_custkey", "true_cnt", "r", cm_col(F.col("o_custkey")).alias("c"))
        .join(F.broadcast(cells), ["r", "c"])
        .groupBy("o_custkey", "true_cnt")
        .agg(F.min("cell").alias("est_cnt"))
    )
    return est.crossJoin(F.broadcast(n)).select(
        "o_custkey",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("est_cnt").cast("bigint").alias("est_cnt"),
        (F.col("est_cnt") >= F.col("true_cnt")).alias("over_ok"),
        (
            F.col("est_cnt")
            <= F.col("true_cnt")
            + F.ceil(F.lit(_CM_EPS) * F.col("n")).cast("bigint")
        ).alias("bound_ok"),
        F.round(
            (F.col("est_cnt") - F.col("true_cnt")).cast("double")
            / F.col("true_cnt")
            + F.lit(1e-9),
            6,
        ).alias("rel_err"),
    )


@query(
    "dq_volume_freshness",
    oracle="""
    WITH db AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS day,
             count(*) AS n,
             max(epoch(ts)) AS max_ts
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, day, n,
             median(n) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS med7
      FROM db
    ),
    fresh AS (
      SELECT event_type, max(max_ts) AS fmax FROM db GROUP BY event_type
    ),
    g AS (SELECT max(max_ts) AS gmax FROM db)
    SELECT m.event_type, m.day, CAST(m.n AS BIGINT) AS n,
           round(m.med7 + 1e-9, 4) AS med7,
           round(m.n / m.med7 + 1e-9, 4) AS vol_ratio,
           (m.med7 IS NOT NULL AND
            (m.n < 0.5 * m.med7 OR m.n > 2.0 * m.med7)) AS vol_anomaly,
           round((g.gmax - f.fmax) / 3600.0 + 1e-9, 4) AS lag_hours,
           ((g.gmax - f.fmax) / 3600.0 > 24.0) AS is_stale
    FROM med m JOIN fresh f USING (event_type) CROSS JOIN g
    """,
)
def dq_volume_freshness(spark, sf_dir):
    """Pipeline-health monitor over the events feed: per (type, day) row
    volume vs the trailing-7-day median (the robust baseline — a single
    bad day can't drag it like a mean), flagged when volume halves or
    doubles, plus per-type freshness lag against the feed's high-water
    mark with a 24 h staleness verdict. The report an on-call reads
    before trusting ANY downstream table — partial loads and dead
    producers show up here first.

    Determinism: counts are exact ints; the trailing median of ints is
    exactly representable (x.0/x.5) on both engines; timestamps compare
    at exact microsecond resolution. No accumulation-order float paths.

    100 TB: the raw scan collapses to (type, day) partials (map-side
    combine); the median window, freshness agg, and global high-water
    mark all run over |types|×|days| rows — the corpus is scanned once
    and never shuffled at row grain."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    db = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 86400) * 86400)
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("ts").cast("double")).alias("max_ts"),
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    med = db.select(
        "event_type",
        "day",
        "n",
        "max_ts",
        F.expr("percentile(n, 0.5)").over(w7).alias("med7"),
    )
    fresh = db.groupBy("event_type").agg(F.max("max_ts").alias("fmax"))
    g = db.agg(F.max("max_ts").alias("gmax"))
    return (
        med.join(F.broadcast(fresh), "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("med7") + F.lit(1e-9), 4).alias("med7"),
            F.round(F.col("n") / F.col("med7") + F.lit(1e-9), 4).alias("vol_ratio"),
            (
                F.col("med7").isNotNull()
                & (
                    (F.col("n") < 0.5 * F.col("med7"))
                    | (F.col("n") > 2.0 * F.col("med7"))
                )
            ).alias("vol_anomaly"),
            F.round(
                (F.col("gmax") - F.col("fmax")) / 3600.0 + F.lit(1e-9), 4
            ).alias("lag_hours"),
            ((F.col("gmax") - F.col("fmax")) / 3600.0 > 24.0).alias("is_stale"),
        )
    )


@query(
    "analyze_join_cardinality",
    oracle="""
    WITH w AS (
      SELECT CAST(ceil((max(o_custkey) + 1) / 16.0) AS BIGINT) AS w
      FROM orders
    ),
    ha AS (
      SELECT o_custkey // w.w AS bucket,
             count(*) AS na, count(DISTINCT o_custkey) AS ndv_a
      FROM orders CROSS JOIN w GROUP BY 1
    ),
    hb AS (
      SELECT user_id // w.w AS bucket,
             count(*) AS nb, count(DISTINCT user_id) AS ndv_b
      FROM events CROSS JOIN w GROUP BY 1
    ),
    act AS (
      SELECT o_custkey // w.w AS bucket, count(*) AS actual
      FROM orders JOIN events ON user_id = o_custkey
      CROSS JOIN w GROUP BY 1
    ),
    h AS (
      SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
             coalesce(na, 0) AS na, coalesce(ndv_a, 0) AS ndv_a,
             coalesce(nb, 0) AS nb, coalesce(ndv_b, 0) AS ndv_b
      FROM ha FULL JOIN hb ON ha.bucket = hb.bucket
    )
    SELECT h.bucket, CAST(h.na AS BIGINT) AS na, CAST(h.nb AS BIGINT) AS nb,
           CAST(h.ndv_a AS BIGINT) AS ndv_a, CAST(h.ndv_b AS BIGINT) AS ndv_b,
           round(CASE WHEN h.ndv_a = 0 OR h.ndv_b = 0 THEN 0.0
                 ELSE CAST(h.na AS DOUBLE) * h.nb
                      / greatest(h.ndv_a, h.ndv_b) END + 1e-9, 4) AS est,
           CAST(coalesce(a.actual, 0) AS BIGINT) AS actual,
           round((CASE WHEN h.ndv_a = 0 OR h.ndv_b = 0 THEN 0.0
                  ELSE CAST(h.na AS DOUBLE) * h.nb
                       / greatest(h.ndv_a, h.ndv_b) END
                  - coalesce(a.actual, 0))
                 / greatest(coalesce(a.actual, 0), 1) + 1e-9, 4) AS err_ratio
    FROM h LEFT JOIN act a ON h.bucket = a.bucket
    """,
)
def analyze_join_cardinality(spark, sf_dir):
    """Optimizer-diagnostics: the textbook equi-width-histogram join
    cardinality estimator — est_b = na·nb / max(ndv_a, ndv_b) per key
    bucket (uniform-within-bucket, containment assumptions) — audited
    against the TRUE per-bucket join count for orders.o_custkey ⋈
    events.user_id, a join whose domains only partially overlap, so the
    containment assumption genuinely fails and err_ratio localizes
    WHERE. This is the report you read when a CBO picks a terrible join
    order: it shows which key region's histogram resolution is lying.

    Determinism: bucket width derives from max(o_custkey) by exact
    integer-div arithmetic on both engines; counts/NDVs are exact; the
    estimate is one multiply-divide over exact ints, cut at 4dp.

    100 TB: both histograms are single groupBy partials over bucket
    (≤16 groups — map-side combine collapses everything); the
    ground-truth join is the one corpus-scale shuffle, and it is the
    point of the op (in production you'd run it on a key sample); the
    histogram⋈histogram and est⋈actual joins are 16-row broadcasts."""
    o = T(spark, sf_dir, "orders").select("o_custkey")
    e = T(spark, sf_dir, "events").select("user_id")
    w = o.agg(
        F.ceil((F.max("o_custkey") + 1) / 16.0).cast("bigint").alias("w")
    )
    ob = o.crossJoin(F.broadcast(w)).select(
        F.expr("o_custkey div w").alias("bucket"), "o_custkey"
    )
    eb = e.crossJoin(F.broadcast(w)).select(
        F.expr("user_id div w").alias("bucket"), "user_id"
    )
    ha = ob.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("na"),
        F.countDistinct("o_custkey").alias("ndv_a"),
    )
    hb = eb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("nb"),
        F.countDistinct("user_id").alias("ndv_b"),
    )
    act = (
        o.join(e, o["o_custkey"] == e["user_id"])
        .crossJoin(F.broadcast(w))
        .select(F.expr("o_custkey div w").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    h = (
        ha.join(hb, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("ndv_a", F.lit(0)).alias("ndv_a"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
            F.coalesce("ndv_b", F.lit(0)).alias("ndv_b"),
        )
    )
    est_col = (
        F.when((F.col("ndv_a") == 0) | (F.col("ndv_b") == 0), F.lit(0.0))
        .otherwise(
            F.col("na").cast("double")
            * F.col("nb")
            / F.greatest("ndv_a", "ndv_b")
        )
    )
    return (
        h.join(act, "bucket", "left")
        .select(
            "bucket",
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            F.col("ndv_a").cast("bigint").alias("ndv_a"),
            F.col("ndv_b").cast("bigint").alias("ndv_b"),
            F.round(est_col + F.lit(1e-9), 4).alias("est"),
            F.coalesce("actual", F.lit(0)).cast("bigint").alias("actual"),
            F.round(
                (est_col - F.coalesce("actual", F.lit(0)))
                / F.greatest(F.coalesce("actual", F.lit(0)), F.lit(1))
                + F.lit(1e-9),
                4,
            ).alias("err_ratio"),
        )
    )


@query(
    "agg_hll_sketch_setops",
    # ORACLE FAILURE-MODE NOTE (r7 ADVICE): union_within_bound /
    # inter_within_bound are hardcoded TRUE here — the oracle asserts the
    # DataSketches 3-rsd guarantee rather than replaying the HLL estimate
    # (DuckDB has no DataSketches-compatible HLL). If a future SF or data
    # refresh pushes an estimate outside the bound, the Spark side will
    # correctly emit false and THIS sweep entry will hash-mismatch: that
    # signature (bounds columns flipping, exact_* columns still matching)
    # means "sketch accuracy bound violated on this data", NOT an
    # engine-parity bug — widen lgK or the asserted rsd, don't debug the
    # join. The exact_* columns ARE independently checked.
    oracle="""
    WITH u AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    ex AS (
      SELECT event_type, count(*) AS exact FROM u GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS exact_inter
      FROM u a JOIN u b ON a.user_id = b.user_id
                       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           CAST(ea.exact AS BIGINT) AS exact_a,
           CAST(eb.exact AS BIGINT) AS exact_b,
           CAST(ea.exact + eb.exact - i.exact_inter AS BIGINT) AS exact_union,
           CAST(i.exact_inter AS BIGINT) AS exact_inter,
           TRUE AS union_within_bound,
           TRUE AS inter_within_bound
    FROM inter i
    JOIN ex ea ON ea.event_type = i.type_a
    JOIN ex eb ON eb.event_type = i.type_b
    """,
)
def agg_hll_sketch_setops(spark, sf_dir):
    """Mergeable-sketch set operations (Apache DataSketches HLL via
    Spark's hll_sketch_agg/hll_union): per-event-type user sketches are
    built in ONE corpus scan, then every pairwise audience union is
    estimated by MERGING the tiny sketches — the 100 TB pattern where
    daily/segment sketches are persisted and any ad-hoc union/overlap
    query is answered without rescanning raw data (HLL unions are
    lossless, unlike averaging estimates). Intersections come from
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B).

    Grading follows the agg_approx_distinct pattern: the sketch
    estimates are hash-deterministic for fixed data but not replayable
    in DuckDB, so the output carries the EXACT set sizes plus in-plan
    booleans asserting each estimate sits within its published bound
    (lgK=12 ⇒ rsd ≈ 1.04/2^6 ≈ 1.63%; unions graded at 3·rsd relative,
    inclusion–exclusion intersections at the additive 3·rsd·(|A|+|B |)
    + 1 compounding bound). Booleans hash cleanly; tests bound the
    error independently.

    100 TB: sketch build is a map-side partial agg (each executor folds
    its rows into a 2^12-bucket register array, merge is register-max);
    the pair fan-out is |types|² sketch rows of ~KB each. The exact side
    (distinct shuffle + user-keyed self-join) exists only as the audit —
    production keeps the sketches."""
    e = T(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact").alias("exact_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        F.hll_sketch_estimate(F.col("sk_a")).alias("est_a"),
        F.hll_sketch_estimate(F.col("sk_b")).alias("est_b"),
        F.hll_sketch_estimate(F.hll_union(F.col("sk_a"), F.col("sk_b"))).alias(
            "est_u"
        ),
    )
    u = e.select("event_type", "user_id").distinct()
    ua = u.select(F.col("event_type").alias("type_a"), "user_id")
    ub = u.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    rsd = 1.04 / (2.0 ** 6)
    return pairs.join(inter, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_b").cast("bigint").alias("exact_b"),
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
        .cast("bigint")
        .alias("exact_union"),
        F.col("exact_inter").cast("bigint").alias("exact_inter"),
        (
            F.abs(
                F.col("est_u")
                - (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            )
            <= 3 * rsd
            * (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
        ).alias("union_within_bound"),
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                - F.col("exact_inter")
            )
            <= 3 * rsd * (F.col("exact_a") + F.col("exact_b")) + 1
        ).alias("inter_within_bound"),
    )


@query(
    "agg_mode_median",
    oracle="""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity) AS INT) AS qty, l_extendedprice
      FROM lineitem
    ),
    med AS (
      SELECT l_returnflag, l_linestatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(median(l_extendedprice) + 1e-9, 6) AS median_price
      FROM base GROUP BY l_returnflag, l_linestatus
    ),
    c AS (
      SELECT l_returnflag, l_linestatus, qty, count(*) AS cnt
      FROM base GROUP BY l_returnflag, l_linestatus, qty
    ),
    m AS (
      SELECT l_returnflag, l_linestatus, qty, cnt,
             row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                                ORDER BY cnt DESC, qty) AS rk
      FROM c
    )
    SELECT med.l_returnflag, med.l_linestatus, n_rows, median_price,
           CAST(m.qty AS INT) AS mode_qty, CAST(m.cnt AS BIGINT) AS mode_cnt
    FROM med
    JOIN m ON m.l_returnflag = med.l_returnflag
          AND m.l_linestatus = med.l_linestatus AND m.rk = 1
    """,
)
def agg_mode_median(spark, sf_dir):
    """Exact MEDIAN and deterministic MODE per group (Hive/Spark `median`
    + `mode` aggregate surface, §2.4). Spark's built-in `mode()` is
    non-deterministic on count ties, so the mode here is the two-level
    deterministic form: groupBy(group, value).count() then
    `max_by(value, struct(cnt, -value))` — highest count wins, ties break
    to the SMALLEST value, which both engines agree on bitwise.

    100 TB shape: the median is one sort-based aggregate per group (Spark
    plans percentile over a per-group sort — heavy but shuffle-bounded by
    the group key); the mode path never holds a group in memory: the
    (group, value) pre-aggregate collapses duplicates map-side, then the
    argmax is an ordinary hash aggregate over distinct values. The two
    branches join on the 4-row group key — broadcast."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.floor("l_quantity").cast("int").alias("qty"),
        "l_extendedprice",
    )
    med = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.median("l_extendedprice") + F.lit(1e-9), 6).alias(
            "median_price"
        ),
    )
    cnt = li.groupBy("l_returnflag", "l_linestatus", "qty").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = F.max_by(
        F.struct(F.col("qty"), F.col("cnt")),
        F.struct(F.col("cnt"), (-F.col("qty")).alias("nq")),
    )
    mode = cnt.groupBy("l_returnflag", "l_linestatus").agg(
        best.getField("qty").cast("int").alias("mode_qty"),
        best.getField("cnt").cast("bigint").alias("mode_cnt"),
    )
    return med.join(F.broadcast(mode), ["l_returnflag", "l_linestatus"]).select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "median_price",
        "mode_qty",
        "mode_cnt",
    )


# ---- Benford first-digit audit -------------------------------------------

_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_CRIT = 15.507  # chi-square 0.95 quantile, 8 dof

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT l_returnflag AS grp,
         CAST(substring(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem WHERE l_extendedprice > 0
),
obs AS (SELECT grp, digit, count(*) AS o FROM digits GROUP BY grp, digit),
tot AS (SELECT grp, count(*) AS n FROM digits GROUP BY grp),
expd AS (
  SELECT * FROM (VALUES
    {", ".join(f"({d}, CAST({p} AS DOUBLE))" for d, p in _BENFORD_P.items())}
  ) AS t(digit, p)
),
cells AS (
  SELECT o.grp, o.digit, o.o, t.n, e.p,
         (o.o - e.p * t.n) * (o.o - e.p * t.n) / (e.p * t.n) AS chi
  FROM obs o JOIN tot t USING (grp) JOIN expd e USING (digit)
),
g AS (SELECT grp, round(sum(chi) + 1e-9, 4) AS chi2 FROM cells GROUP BY grp)
SELECT c.grp AS l_returnflag, c.digit,
       CAST(c.o AS BIGINT) AS obs_n,
       CAST(c.n AS BIGINT) AS n_total,
       round(c.o * 1.0 / c.n + 1e-9, 6) AS obs_share,
       c.p AS exp_share,
       round(c.chi + 1e-9, 4) AS chi_cell,
       g.chi2 AS chi2_total,
       g.chi2 > {_BENFORD_CRIT} AS benford_reject
FROM cells c JOIN g USING (grp)
"""


@query("dq_benford_audit", oracle=_BENFORD_SQL)
def dq_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit of l_extendedprice per returnflag —
    the forensic data-quality screen for fabricated or truncated numeric
    columns (real multi-order-of-magnitude amounts follow
    P(d) = log10(1+1/d); synthetic uniform data flunks it). Emits the
    9-digit observed-vs-expected distribution, per-cell chi-square
    contribution, and the group chi-square verdict against the 0.95
    critical value (8 dof).

    The first digit comes from the *integer cents* value formatted as a
    string — floor(x*100+0.5) then substring — because floor(log10(x))
    arithmetic misclassifies exact powers of ten under float log, and
    integer-to-string formatting is bit-identical across engines while
    double formatting is not. Expected shares are 6dp literals injected
    into both plans (no cross-engine libm log10 dependence).

    100 TB: one scan collapses map-side to |groups|x9 count cells; the
    chi-square math runs over 27 rows. Scan-bound by construction."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    digits = li.select(
        F.col("l_returnflag").alias("grp"),
        F.substring(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit"),
    )
    obs = digits.groupBy("grp", "digit").agg(F.count(F.lit(1)).alias("o"))
    tot = digits.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    expd = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "digit int, p double"
    )
    cells = (
        obs.join(tot, "grp")
        .join(F.broadcast(expd), "digit")
        .withColumn(
            "chi",
            (F.col("o") - F.col("p") * F.col("n"))
            * (F.col("o") - F.col("p") * F.col("n"))
            / (F.col("p") * F.col("n")),
        )
    )
    g = cells.groupBy("grp").agg(ravg(F.sum("chi")).alias("chi2"))
    return cells.join(F.broadcast(g), "grp").select(
        F.col("grp").alias("l_returnflag"),
        "digit",
        F.col("o").cast("bigint").alias("obs_n"),
        F.col("n").cast("bigint").alias("n_total"),
        ravg(F.col("o") / F.col("n"), 6).alias("obs_share"),
        F.col("p").alias("exp_share"),
        ravg(F.col("chi")).alias("chi_cell"),
        F.col("chi2").alias("chi2_total"),
        (F.col("chi2") > F.lit(_BENFORD_CRIT)).alias("benford_reject"),
    )


# ---- Poisson-bootstrap confidence intervals --------------------------------

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds, 6dp literals (identical both engines);
# k capped at 4 (P(k>4) ~ 0.4%)
_BOOT_CDF = (0.367879, 0.735759, 0.919699, 0.981012)

_BOOT_CASE = (
    f"CASE WHEN u < {_BOOT_CDF[0]} THEN 0 "
    f"WHEN u < {_BOOT_CDF[1]} THEN 1 "
    f"WHEN u < {_BOOT_CDF[2]} THEN 2 "
    f"WHEN u < {_BOOT_CDF[3]} THEN 3 ELSE 4 END"
)

_BOOT_SQL = f"""
WITH fan AS (
  SELECT l_returnflag AS flag, l_extendedprice AS x, b,
         (CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                || CAST(l_linenumber AS VARCHAR) || '-'
                || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
           / CAST(1000000 AS DOUBLE) AS u
  FROM lineitem, unnest(range(0, {_BOOT_B})) AS t(b)
),
wtd AS (SELECT flag, b, x, {_BOOT_CASE} AS w FROM fan),
rep AS (
  SELECT flag, CAST(b AS INT) AS replica,
         CAST(sum(w) AS BIGINT) AS n_eff,
         round(sum(w * x) / sum(w) + 1e-9, 4) AS boot_mean
  FROM wtd GROUP BY flag, b
),
summ AS (
  SELECT flag,
         round(quantile_cont(boot_mean, 0.025) + 1e-9, 4) AS ci_lo,
         round(quantile_cont(boot_mean, 0.975) + 1e-9, 4) AS ci_hi,
         round(stddev_samp(boot_mean) + 1e-9, 4) AS boot_se
  FROM rep GROUP BY flag
)
SELECT r.flag AS l_returnflag, r.replica, r.n_eff, r.boot_mean,
       s.ci_lo, s.ci_hi, s.boot_se
FROM rep r JOIN summ s ON s.flag = r.flag
"""


@query("agg_bootstrap_ci", oracle=_BOOT_SQL)
def agg_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap (Chamandy et al., Google): `_BOOT_B` resampling
    replicas of mean(l_extendedprice) per returnflag in ONE pass — each
    row contributes w ~ Poisson(1) copies to each replica, with w drawn
    deterministically from md5(rowkey, replica) through fixed 6dp
    inverse-CDF thresholds. Emits every replica mean plus the empirical
    95% CI and bootstrap SE — the scalable alternative to resample-and-
    recompute (which would rescan the corpus `_BOOT_B` times and need a global
    row index to sample).

    Determinism: the weight is integer and hash-derived (bit-replayable);
    the only float sums are the per-replica weighted means, 4dp-shift-cut;
    the CI quantiles interpolate over `_BOOT_B` deterministic values.

    100 TB: the x`_BOOT_B` fan is map-side (no shuffle amplification — partial
    aggregation collapses it to |groups| x `_BOOT_B` cells before the
    exchange); everything downstream runs over 96 rows. This is why
    Poisson bootstrap IS the web-scale bootstrap: one scan, B counters
    per group, no sampling coordination."""
    li = T(spark, sf_dir, "lineitem")
    fan = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        "l_orderkey",
        "l_linenumber",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        (
            md5_int(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                    F.lit("-"),
                    F.col("b").cast("string"),
                )
            )
            % 1000000
        )
        / F.lit(1000000.0),
    )
    w = (
        F.when(F.col("u") < _BOOT_CDF[0], 0)
        .when(F.col("u") < _BOOT_CDF[1], 1)
        .when(F.col("u") < _BOOT_CDF[2], 2)
        .when(F.col("u") < _BOOT_CDF[3], 3)
        .otherwise(4)
    )
    rep = (
        fan.withColumn("w", w)
        .groupBy("flag", F.col("b").cast("int").alias("replica"))
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("x")) / F.sum("w") + F.lit(1e-9), 4
            ).alias("boot_mean"),
        )
    )
    summ = rep.groupBy("flag").agg(
        F.round(F.percentile("boot_mean", 0.025) + F.lit(1e-9), 4).alias(
            "ci_lo"
        ),
        F.round(F.percentile("boot_mean", 0.975) + F.lit(1e-9), 4).alias(
            "ci_hi"
        ),
        F.round(F.stddev_samp("boot_mean") + F.lit(1e-9), 4).alias("boot_se"),
    )
    return rep.join(F.broadcast(summ), "flag").select(
        F.col("flag").alias("l_returnflag"),
        "replica", "n_eff", "boot_mean", "ci_lo", "ci_hi", "boot_se",
    )


# ---- weighted median / percentile ------------------------------------------

_WMED_SQL = """
WITH w AS (
  SELECT l_returnflag AS flag,
         l_extendedprice AS x,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
),
c AS (
  SELECT flag, x, wt,
         sum(wt) OVER (PARTITION BY flag
                       ORDER BY x, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw,
         sum(wt) OVER (PARTITION BY flag) AS tot
  FROM w
)
SELECT flag AS l_returnflag,
       CAST(count(*) AS BIGINT)  AS n_rows,
       CAST(max(tot) AS BIGINT)  AS total_weight,
       min(CASE WHEN 2 * cumw >= tot THEN x END)       AS w_p50,
       min(CASE WHEN 10 * cumw >= 9 * tot THEN x END)  AS w_p90
FROM c GROUP BY flag
"""


@query("agg_weighted_median", oracle=_WMED_SQL)
def agg_weighted_median(spark, sf_dir):
    """Weighted median / p90 (weight = quantity): the smallest price whose
    cumulative weight reaches q of the total — the aggregation Spark and
    Hive both lack natively (percentile() weighs rows equally; pricing,
    inventory, and token-budget questions weigh by units). Lower weighted
    quantile, no interpolation.

    Exactness: weights are floor(+0.5)-integerized (quantities are
    integral; CAST double->long truncates in Spark and rounds in DuckDB,
    so neither bare cast is portable), making the cumulative sum, the
    total, and the threshold test (2*cumw >= tot; 10*cumw >= 9*tot) pure
    BIGINT — bit-exact, no float-boundary discipline needed at all. The
    frame order carries the unique rowkey tiebreak.

    100 TB: one shuffle on the group key; the running sum is WindowExec's
    O(1)-memory streaming prefix frame; the conditional-min collapse
    reuses the same exchange. Contrast with the naive 'sort all, pick
    middle' — no global sort, no second pass."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wrun = (
        Window.partitionBy("flag")
        .orderBy("x", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("flag")
    c = li.withColumn("cumw", F.sum("wt").over(wrun)).withColumn(
        "tot", F.sum("wt").over(wall)
    )
    return c.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("tot").cast("bigint").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cumw") >= F.col("tot"), F.col("x"))
        ).alias("w_p50"),
        F.min(
            F.when(10 * F.col("cumw") >= 9 * F.col("tot"), F.col("x"))
        ).alias("w_p90"),
    )


# ---- k-anonymity audit ----------------------------------------------------

_KANON_SQL = """
WITH groups AS (
  SELECT c_mktsegment,
         c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_band,
         count(*) AS k
  FROM customer
  GROUP BY c_mktsegment, c_nationkey, CAST(floor(c_acctbal / 1000.0) AS INT)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT)                               AS n_groups,
       CAST(min(k) AS BIGINT)                                 AS min_k,
       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk,
       round(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1.0 / sum(k) + 1e-9, 6)
           AS risk_share
FROM groups
GROUP BY c_mktsegment
"""


@query("dq_k_anonymity", oracle=_KANON_SQL)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit over a quasi-identifier tuple (market segment,
    nation, account-balance band): group sizes k per QI combination, then
    per segment the minimum k, the number of under-k groups (k < 5), the
    row count re-identifiable through them, and the at-risk share — the
    privacy gate a dataset passes before leaving a trust boundary
    (Sweeney's k-anonymity, the standard pre-release audit next to the
    PII scan in pipeline/corpus.py's pii_redaction).

    100 TB: one hash aggregate keyed by the QI tuple (map-side partials
    collapse duplicate tuples early), then a segment-level re-aggregate
    of the tiny group table. No joins, no windows — scan-bound, and the
    QI aggregate is exactly the cardinality a real audit must materialize
    anyway."""
    c = T(spark, sf_dir, "customer")
    groups = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
    ).agg(F.count("*").alias("k"))
    small = F.when(F.col("k") < 5, F.col("k")).otherwise(0)
    return groups.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum((F.col("k") < 5).cast("int")).cast("bigint").alias("small_groups"),
        F.sum(small).cast("bigint").alias("rows_at_risk"),
        F.round(
            F.sum(small) / F.sum("k") + F.lit(1e-9), 6
        ).alias("risk_share"),
    )


# ---- market-concentration audit (HHI) --------------------------------------

_HHI_SQL = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                        + 1e-9, 2) AS DECIMAL(18,2))) AS revenue
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (SELECT nationkey, sum(revenue) AS total FROM rev GROUP BY nationkey),
shares AS (
  SELECT r.nationkey, r.suppkey,
         round(CAST(r.revenue AS DOUBLE) / CAST(t.total AS DOUBLE)
               + 1e-9, 6) AS share
  FROM rev r JOIN tot t ON t.nationkey = r.nationkey
)
SELECT CAST(nationkey AS INT)            AS nationkey,
       CAST(count(*) AS BIGINT)          AS n_suppliers,
       round(sum(share * share) * 10000.0 + 1e-9, 2) AS hhi,
       round(max(share) + 1e-9, 6)       AS cr1,
       CASE WHEN round(sum(share * share) * 10000.0 + 1e-9, 2) >= 2500.0
                 THEN 'concentrated'
            WHEN round(sum(share * share) * 10000.0 + 1e-9, 2) >= 1500.0
                 THEN 'moderate'
            ELSE 'unconcentrated' END    AS band
FROM shares
GROUP BY nationkey
"""


@query("supplier_hhi_concentration", oracle=_HHI_SQL)
def supplier_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman supplier-concentration audit per nation:
    exact-DECIMAL revenue per (nation, supplier), 6dp-quantized market
    shares, HHI = 10000 * sum(share^2) with the DOJ/FTC bands
    (>=2500 concentrated, >=1500 moderate) and the top-supplier share
    (CR1) — the procurement-risk query every supply-chain review runs.

    100 TB shape: one fact-side aggregate keyed by (nation, supplier)
    with map-side combine (the dimension join is a broadcast), then the
    share/HHI algebra on the |nations x suppliers| cell table with a
    |nations|-row totals join. Band cuts compare the ROUNDED hhi on both
    engines, so the classification is engine-stable. Revenue stays
    DECIMAL through the per-nation total (money_sum discipline) — the
    cast to double happens only at the share division, so accumulation
    order can never move a 6dp share boundary."""
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    rev = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            # 2dp-quantize the product TERM before DECIMAL accumulation
            # (tpcds_shapes discipline — 4dp products sit on half-cent
            # boundaries where raw decimal casts can split across engines)
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    + F.lit(1e-9),
                    2,
                ).cast("decimal(18,2)")
            ).alias("revenue")
        )
    )
    tot = rev.groupBy("nationkey").agg(F.sum("revenue").alias("total"))
    shares = rev.join(F.broadcast(tot), "nationkey").select(
        "nationkey",
        "suppkey",
        F.round(
            F.col("revenue").cast("double") / F.col("total").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("share"),
    )
    hhi = F.round(
        F.sum(F.col("share") * F.col("share")) * 10000.0 + F.lit(1e-9), 2
    )
    return shares.groupBy(F.col("nationkey").cast("int").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        hhi.alias("hhi"),
        F.round(F.max("share") + F.lit(1e-9), 6).alias("cr1"),
        F.when(hhi >= 2500.0, "concentrated")
        .when(hhi >= 1500.0, "moderate")
        .otherwise("unconcentrated")
        .alias("band"),
    )


# ---- round 12 closing: KMV mergeable distinct sketch ----------------------

#: KMV sketch size. Error ~ 1/sqrt(k-1) ≈ 18% — the point here is the
#: MERGE algebra, pinned deterministically, not tight accuracy (Spark's
#: own approx_count_distinct/HLL is pinned in agg_approx_vs_exact).
_KMV_K = 32

#: Exact numeric position of an md5 in [0,1): the first 13 hex digits as
#: a dyadic fraction. Every term is digit * 16^-i with 16^-i a power of
#: two whose literal round-trips exactly, and the 52-fractional-bit sum
#: is exactly representable in a double — so BOTH engines compute the
#: identical IEEE value and the (k-1)/h_k estimate matches to the bit.
def _kmv_frac(col: str) -> str:
    return " + ".join(
        f"(instr('0123456789abcdef', substr({col}, {i}, 1)) - 1)"
        f" * {16.0 ** -i!r}"
        for i in range(1, 14)
    )


_KMV_FRAC = _kmv_frac("h")

_KMV_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type AS grp, md5(CAST(user_id AS STRING)) AS h
  FROM events
),
ranked AS (
  SELECT grp, h,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY h) AS INT) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n_grp
  FROM hashed
),
sk AS (
  SELECT grp, h, rn, n_grp FROM ranked WHERE rn <= {_KMV_K}
),
per_group AS (
  SELECT grp,
         max(n_grp) AS exact_distinct,
         CASE WHEN max(n_grp) < {_KMV_K} THEN CAST(max(n_grp) AS DOUBLE)
              ELSE round(({_KMV_K} - 1)
                         / max(CASE WHEN rn = {_KMV_K}
                                    THEN {_KMV_FRAC} END) + 1e-9, 4)
         END AS est_distinct
  FROM sk
  GROUP BY grp
),
merged AS (
  SELECT h FROM (SELECT DISTINCT h FROM sk) u
  ORDER BY h LIMIT {_KMV_K}
),
gk AS (
  SELECT CAST(count(*) AS BIGINT) AS m_n, max(h) AS h FROM merged
),
global_est AS (
  SELECT CASE WHEN m_n < {_KMV_K} THEN CAST(m_n AS DOUBLE)
              ELSE round(({_KMV_K} - 1) / ({_KMV_FRAC}) + 1e-9, 4)
         END AS est
  FROM gk
)
SELECT grp,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       est_distinct
FROM per_group
UNION ALL
SELECT 'ALL' AS grp,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
           AS exact_distinct,
       (SELECT est FROM global_est) AS est_distinct
"""


@query("agg_kmv_mergeable_sketch", oracle=_KMV_SQL)
def agg_kmv_mergeable_sketch(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch with a REAL merge:
    per-group sketches (the k smallest md5 hashes of the key) estimate
    each group's NDV as (k-1)/h_k, and the GLOBAL estimate is computed
    from the union of the per-group sketches alone — never rescanning
    the fact — because the k smallest of a union of per-group k-smallest
    IS the global k-smallest (the mergeability algebra that lets a
    1000-executor scan ship 32 hashes per partition instead of the key
    set; reference parity: Hive's compute_stats NDV sketch per SURVEY
    §2.4, re-expressed as a deterministic, oracle-checkable KMV).
    Complements agg_hll_sketch_setops (DataSketches HLL, whose estimates
    are bound-CHECKED in-plan but not engine-replayable): KMV's estimate
    IS replayable in DuckDB, so the differential oracle pins the
    estimator itself, not just its error band.
    Deterministic by construction: md5 is identical on both engines and
    the hash's numeric position is an exactly-representable dyadic
    fraction of its first 13 hex digits, so estimates match bit-for-bit
    (no approx_count_distinct implementation drift). Scale: the
    per-group window shuffles keyed on grp over DISTINCT (grp, hash)
    rows; the merge is ORDER BY + LIMIT over <= |groups| * k sketch
    rows — Spark plans TakeOrderedAndProject, no single-partition
    window; each group keeps <= k rows after the rn filter. Exact
    NDVs ride along per group so the sweep pins both the sketch and its
    ground truth.

    The sk CTE is multiply referenced (per_group AND merged) and Spark
    re-instantiates each reference, so the engine materializes `sk` — the
    ≤|groups|·k-row post-window sketch — once per invocation and runs the
    same algebra over it; `hashed` stays a single-reference pipeline
    (scan → distinct → window → barrier, one window pass). A barrier on
    `hashed` instead would re-run the rank window once per sk reference.
    The one raw-events readout (exact
    global count(DISTINCT user_id)) still scans events — it is not
    derivable from the hashed relation without assuming md5
    collision-freedom."""
    from pyspark.sql import Window

    from ..catalog import load_tables
    from ..helpers import T

    load_tables(spark, sf_dir, register=True)
    hashed = (
        T(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("grp"),
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    w_grp = Window.partitionBy("grp")
    sk = materialize(
        hashed.withColumn(
            "rn", F.row_number().over(w_grp.orderBy("h")).cast("int")
        )
        .withColumn("n_grp", F.count(F.lit(1)).over(w_grp).cast("bigint"))
        .filter(F.col("rn") <= _KMV_K)
    )
    sk.createOrReplaceTempView("kmv_sk")
    engine_sql = _KMV_SQL.replace(
        f"""hashed AS (
  SELECT DISTINCT event_type AS grp, md5(CAST(user_id AS STRING)) AS h
  FROM events
),
ranked AS (
  SELECT grp, h,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY h) AS INT) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n_grp
  FROM hashed
),
sk AS (
  SELECT grp, h, rn, n_grp FROM ranked WHERE rn <= {_KMV_K}
),""",
        """sk AS (SELECT grp, h, rn, n_grp FROM kmv_sk),""",
    )
    assert "kmv_sk" in engine_sql  # replace() must have hit
    return spark.sql(engine_sql)


_KMV_SETOPS_SQL = f"""
WITH ha AS (
  SELECT DISTINCT md5(CAST(user_id AS STRING)) AS h
  FROM events WHERE event_type = 'click'
),
hb AS (
  SELECT DISTINCT md5(CAST(user_id AS STRING)) AS h
  FROM events WHERE event_type = 'view'
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
m AS (
  SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) u
  ORDER BY h LIMIT {_KMV_K}
),
mstats AS (
  SELECT CAST(count(*) AS BIGINT) AS m_n, max(h) AS m_max FROM m
),
uest AS (
  -- the ONE union-size estimate, unrounded: est_union and est_inter
  -- both derive from this row so they stay definitionally linked
  -- (review finding, round 12: the CASE was previously duplicated)
  SELECT m_n,
         CASE WHEN m_n < {_KMV_K} THEN CAST(m_n AS DOUBLE)
              ELSE ({_KMV_K} - 1) / ({_kmv_frac("m_max")})
         END AS u_raw
  FROM mstats
),
rho AS (
  SELECT CAST(count(*) AS BIGINT) AS both_n
  FROM m
  JOIN ska ON m.h = ska.h
  JOIN skb ON m.h = skb.h
),
exact_u AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union
  FROM (SELECT h FROM ha UNION SELECT h FROM hb) x
),
exact_i AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_inter
  FROM (SELECT h FROM ha INTERSECT SELECT h FROM hb) y
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_click,
  (SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_view,
  exact_u.exact_union,
  exact_i.exact_inter,
  round(CAST(exact_i.exact_inter AS DOUBLE) / exact_u.exact_union + 1e-9, 6)
      AS exact_jaccard,
  round(uest.u_raw + 1e-9, 4) AS est_union,
  round(CAST(rho.both_n AS DOUBLE) / uest.m_n + 1e-9, 6) AS est_jaccard,
  round((CAST(rho.both_n AS DOUBLE) / uest.m_n) * uest.u_raw + 1e-9, 4)
      AS est_inter
FROM uest, rho, exact_u, exact_i
"""


@query("agg_kmv_sketch_setops", oracle=_KMV_SETOPS_SQL)
def agg_kmv_sketch_setops(spark, sf_dir):
    """KMV sketch SET OPERATIONS (Beyer et al., SIGMOD'07): estimate
    |A∪B|, Jaccard, and |A∩B| between two channel user sets from their
    k-minimum-values sketches alone. The merged sketch M (k smallest of
    the two sketches' union) is a uniform hash-order sample of A∪B, so
    rho = |M ∩ SA ∩ SB| / |M| estimates the Jaccard and rho * (k-1)/h_k
    the intersection size — none of it touching the raw sets again.
    A DIFFERENT intersection estimator than agg_hll_sketch_setops'
    inclusion–exclusion (HLL cannot intersect directly; KMV's merged
    sketch is a uniform sample, so it can) — and unlike HLL, every
    number here is replayed bit-for-bit by the DuckDB oracle.
    Exact union/intersection/Jaccard ride along as ground truth (the
    count-based INTERSECT keeps the oracle memory-flat). Scale: every
    k-smallest is ORDER BY + LIMIT — Spark plans TakeOrderedAndProject
    (per-partition top-k, merge at the driver of k rows), never a
    single-partition window; sketch-vs-sketch joins touch <= k rows a
    side. Deterministic bit-for-bit across engines for the same reason
    as agg_kmv_mergeable_sketch (exact dyadic hash positions). At
    sf0.001 both sets are smaller than k, pinning the exact degenerate
    branch; at sf0.01+ the estimator branch is live — the sweep covers
    both paths.

    Spark re-instantiates un-materialized CTEs per reference (the
    self-contained text would scan events 24 times: ha/hb/ska/skb/m are
    each consumed 2-3x), so ONE groupBy(h) pass over events builds the
    per-hash membership table (h, in_click, in_view) — materialized
    once — from
    which EVERYTHING derives: the four exact stats are one aggregate
    over it (n_click = Σ in_click, exact_union = count, exact_inter =
    Σ both — the same hash-set counts the oracle's UNION/INTERSECT
    compute), and each sketch is a 32-row TakeOrdered over a filter,
    materialized so the ≤32-row set-op algebra (m/mstats/uest/rho —
    textually unchanged from the oracle) never re-instantiates anything
    bigger. Values are bit-identical: same hash sets in, same integer
    counts, same dyadic-fraction arithmetic out. All materializations
    recompute from parquet per invocation."""
    from ..catalog import load_tables
    from ..helpers import T

    load_tables(spark, sf_dir, register=True)
    ghx = materialize(
        T(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.md5(F.col("user_id").cast("string")).alias("h"))
        .agg(
            F.max(F.col("event_type") == "click").alias("a"),
            F.max(F.col("event_type") == "view").alias("b"),
        )
    )
    stats = ghx.agg(
        F.sum(F.col("a").cast("int")).cast("bigint").alias("n_click"),
        F.sum(F.col("b").cast("int")).cast("bigint").alias("n_view"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum((F.col("a") & F.col("b")).cast("int"))
        .cast("bigint")
        .alias("exact_inter"),
    )
    stats.createOrReplaceTempView("kmv_stats")
    ska = materialize(ghx.filter("a").select("h").orderBy("h").limit(_KMV_K))
    skb = materialize(ghx.filter("b").select("h").orderBy("h").limit(_KMV_K))
    ska.createOrReplaceTempView("kmv_ska")
    skb.createOrReplaceTempView("kmv_skb")
    engine_sql = _KMV_SETOPS_SQL.replace(
        f"""ha AS (
  SELECT DISTINCT md5(CAST(user_id AS STRING)) AS h
  FROM events WHERE event_type = 'click'
),
hb AS (
  SELECT DISTINCT md5(CAST(user_id AS STRING)) AS h
  FROM events WHERE event_type = 'view'
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),""",
        """ska AS (SELECT h FROM kmv_ska),
skb AS (SELECT h FROM kmv_skb),""",
    ).replace(
        """exact_u AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union
  FROM (SELECT h FROM ha UNION SELECT h FROM hb) x
),
exact_i AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_inter
  FROM (SELECT h FROM ha INTERSECT SELECT h FROM hb) y
)""",
        """exact_u AS (SELECT exact_union FROM kmv_stats),
exact_i AS (SELECT exact_inter FROM kmv_stats)""",
    ).replace(
        "(SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_click",
        "(SELECT n_click FROM kmv_stats) AS n_click",
    ).replace(
        "(SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_view",
        "(SELECT n_view FROM kmv_stats) AS n_view",
    )
    for marker in ("kmv_ska", "kmv_skb", "kmv_stats"):
        assert marker in engine_sql, marker  # replace() must have hit
    assert " ha " not in engine_sql and " hb " not in engine_sql
    return spark.sql(engine_sql)
