"""TPC-DS-shaped perf corpus (reference parity: SURVEY.md §5.1.4 — the
reference's dominant perf suite is the plan-golden TPC-DS set under
``ql/src/test/queries/clientpositive/perf/query*.q``).

The testdata schema is TPC-H-ish, so each query adapts a TPC-DS *plan
signature* — the shapes that stress an optimizer differently from TPC-H —
to the tables at hand, mapping TPC-DS's three sales channels onto the
three independent fact tables here (lineitem+orders = "store",
orders = "catalog", events = "web"):

- q5  : multi-channel UNION ALL -> ROLLUP          (tpcds_q5_channel_rollup)
- q10 : EXISTS chain incl. OR-of-EXISTS            (tpcds_q10_exists_chain)
- q11 : CTE reused 4x, cross-channel YoY ratio     (tpcds_q11_yoy_channels)
- q14 : 3-way INTERSECT feeding an IN filter       (tpcds_q14_cross_channel_items)
- q47 : window-over-agg deviation + lag/lead       (tpcds_q47_sales_deviation)
- q67 : ROLLUP -> rank() top-k per partition       (tpcds_q67_rollup_topk)
- q88 : scalar-count fan, 8 one-row cross joins    (tpcds_q88_time_bands)
- q97 : FULL OUTER overlap of two DISTINCT sets    (tpcds_q97_channel_overlap)
- q23 : scalar-max threshold CTEs -> double IN     (tpcds_q23_frequent_buyers)
- q51 : FULL OUTER of two cumulative-window streams,
        window AFTER the join forward-fills        (tpcds_q51_cumulative_channels)
- q64 : aggregate CTE self-joined on (item, yr+1)  (tpcds_q64_item_year_resales)
- q78 : aggregate-grain LEFT JOIN + IS NULL branch (tpcds_q78_channel_ratio)
- q95 : fact self-join EXISTS (ws1/ws2) + NOT EXISTS (tpcds_q95_multi_supplier)
- q34 : HAVING count-band -> join back to dimension   (tpcds_q34_basket_bands)
- q36 : ROLLUP + GROUPING()-driven hierarchy rank  (tpcds_q36_hierarchy_rank)
- q49 : union of doubly-ranked channel subqueries  (tpcds_q49_worst_return_ratios)
- q17 : composite-key fact chain + stddev family   (tpcds_q17_fact_chain_stddev)

Round-11 widening (17 -> 30 shapes; r10 verdict task 1):

- q72 : mega-join + non-equi date-range residual   (tpcds_q72_lagged_fulfillment)
- q4  : 3-channel CTEs x 2 years, triple ratio     (tpcds_q4_yoy_preference)
- q74 : union-CTE instantiated 4x, MAX, top-k      (tpcds_q74_max_yoy_topk)
- q93 : returns-netting LEFT JOIN, composite key   (tpcds_q93_net_after_returns)
- q54 : cohort semi-join -> revenue segmentation   (tpcds_q54_revenue_segments)
- q1  : correlated scalar subquery vs group avg    (tpcds_q1_returns_above_avg)
- q2  : weekly dow CASE-pivot, YoY self-join       (tpcds_q2_weekly_dow_ratio)
- q31 : 2 channels x 3 quarters share growth       (tpcds_q31_share_growth)
- q39 : stddev/mean cov, month+1 self-join         (tpcds_q39_inventory_cov)
- q6  : dimension-derived threshold + HAVING floor (tpcds_q6_oversized_buyers)
- q75 : returns-netted grain, steepest YoY decline (tpcds_q75_yoy_decline)
- q58 : 3-channel parity bands on shared average   (tpcds_q58_channel_parity_items)
- q99 : grouped fulfillment-lag CASE bands         (tpcds_q99_ship_lag_bands)
- q16 : global COUNT(DISTINCT) over semi/anti      (tpcds_q16_distinct_shippers)
- q87 : EXCEPT chain across channel cust sets      (tpcds_q87_channel_except_chain)
- q90 : scalar-over-scalar ratio readout           (tpcds_q90_am_pm_ratio)

Round-12 widening (33 -> 39 shapes; r11 verdict task 5):

- q21 : before/after inventory pivot + ratio band  (tpcds_q21_inventory_shift)
- q69 : EXISTS + double NOT EXISTS demographic agg (tpcds_q69_active_without_incident)
- q66 : 2-channel union -> 24-col monthly pivot    (tpcds_q66_monthly_ship_pivot)
- q9  : CASE choosing between scalar subqueries    (tpcds_q9_case_bucket_fan)
- q13 : OR-of-ANDs cross-table selectivity bands   (tpcds_q13_or_band_selectivity)
- q98 : share-of-class via unordered window sum    (tpcds_q98_class_revenue_share)
- q44 : opposite-order rankings joined on rank     (tpcds_q44_best_worst_rank_join)
- q65 : threshold from coarser re-aggregation      (tpcds_q65_below_average_items)

Round-12 late batch (41 -> 46): the five remaining shapes with a real
residual plan-feature delta, each named in its docstring:

- q28 : DISTINCT agg inside EVERY scalar-fan band   (tpcds_q28_distinct_band_fan)
- q30 : correlated agg-over-agg threshold + detail  (tpcds_q30_above_state_avg_returns)
- q32 : self-fact correlated threshold, dup filter  (tpcds_q32_excess_discount)
- q70 : window-derived dim selection -> ROLLUP      (tpcds_q70_ranked_states_rollup)
- q41 : fact-free dim self-COUNT (COUNT-bug path)   (tpcds_q41_dimension_self_count)

Plus the four upstream TWIN COMPLETIONS (46 -> 50) — upstream ships
these as channel pairs of already-pinned shapes; each is re-keyed or
re-residualed here and its docstring names the one thing the pair pins:

- q38 : INTERSECT-chain twin of q87's EXCEPT chain  (tpcds_q38_channel_intersect_chain)
- q94 : q16 twin, EXISTS keyed != NOT EXISTS key    (tpcds_q94_repeat_buyers_no_returns)
- q57 : q47's deviation re-keyed to supplier dim    (tpcds_q57_supplier_sales_deviation)
- q62 : q99's lag bands re-keyed (web pair)         (tpcds_q62_web_ship_lag_bands)

(The ~49 upstream shapes still unmatched are feature-REDUNDANT with
this corpus — each reduces to a combination of the plan features
already pinned here (rollup/Expand, window families, EXISTS/NOT-EXISTS
stacks, INTERSECT/EXCEPT lowering, scalar-subquery fans, CASE pivots,
non-equi residuals, YoY self-joins, derived thresholds, rank joins,
correlated-decorrelation incl. the COUNT bug); adding them would
re-test Catalyst paths this corpus already gates, with this repo's
schema as the only variable. Per-query redundancy ledger: q3/q42/q52/
q55/q43 trivial dim groupbys; q7/q26/q27/q18 demographic avgs (+q27
rollup = q36); q12/q20 = q98 twins; q15/q45/q8 zip bands (q45's
EXISTS-in-OR = q10); q19/q71 brand/time groupbys; q22 = rollup avg;
q24 = q23's scalar threshold; q25/q29 = q17; q33/q56/q60/q61 = q5+q14
combos; q35 = q69; q37/q82 = q21; q40 = q21+q93;
q46/q68/q73/q79 = q34; q48/q85 = q13; q50 = q99; q53/q63/q89 =
q47; q59 = q2; q76 NULL-key scan counts (no NULL keys in
this corpus); q77/q80 = q5+q93; q83 = q14-date variant; q84/q91
lookup chains; q86 = q36; q96 simple count.)

Expressed as shared SQL (one text, both engines — the subqueries-module
pattern): the *syntax* (ROLLUP, EXISTS-OR, INTERSECT, FULL OUTER) is what
exercises Catalyst's rewrites (RewritePredicateSubquery / ExistenceJoin,
ReplaceIntersectWithSemiJoin, ExpandExec for rollup), rather than
hand-rewritten joins. ``/*+ BROADCAST(...) */`` hints are Spark-effective
and comment-inert in DuckDB.

Determinism discipline: every money TERM is quantized to 2dp with the
+1e-9 shift BEFORE summing (4dp-decimal products sit exactly on x.xx5
half-boundaries where Spark's BigDecimal-exact HALF_UP and DuckDB's
multiply-path round diverge; the shift moves them decisively off, and
pre-quantized sums are .01-multiples that can never straddle the outer
2dp round). Then: money sums rounded 2dp,
window averages 4dp, every float membership/rank cut goes through a 6dp
round on BOTH sides, rollup NULL keys coalesced to placeholders so no
NULLS FIRST/LAST divergence exists, rank() cast to INT (DuckDB emits
BIGINT), and every rank ORDER BY carries a full unique tie-break.

Money totals are DECIMAL-accumulated (helpers.money_sum rationale: at
grand-total magnitude one double ulp exceeds a cent — first seen when
q67's ALL row failed the r8 sf1 sweep by exactly one cent).

Scale notes (100 TB): rollup = one Expand + two-phase hash agg, no extra
shuffle per grouping set; the q88 scalar fan is 8 scans that AQE folds to
1-row broadcasts (the allowed scalar-attach BNLJ shape); q97's FULL OUTER
shuffles both DISTINCT sets on the same (cust, item) key so the join
reuses the dedup exchange; q14's INTERSECT lowers to semi joins on the
item key — all shapes whose shuffles are keyed by their natural join keys
and survive a 1000-executor scale-up unchanged.
"""

from __future__ import annotations

from ..catalog import run_sql
from ..registry import query


# --- q5: multi-channel UNION ALL -> ROLLUP ---------------------------------

_Q5_SQL = """
WITH salesreturns AS (
  SELECT 'store' AS channel, l_partkey % 20 AS bucket,
         CASE WHEN l_returnflag = 'R' THEN 0.0
              ELSE round(l_extendedprice * (1 - l_discount) + 1e-9, 2) END AS sales,
         CASE WHEN l_returnflag = 'R' THEN round(l_extendedprice + 1e-9, 2) ELSE 0.0 END AS refunds,
         round(l_extendedprice * (1 - l_discount) - l_quantity * 10.0 + 1e-9, 2) AS profit
  FROM lineitem
  UNION ALL
  SELECT 'catalog' AS channel, o_custkey % 20 AS bucket,
         CASE WHEN o_orderstatus <> 'F' THEN round(o_totalprice + 1e-9, 2) ELSE 0.0 END AS sales,
         CASE WHEN o_orderstatus = 'F' THEN round(o_totalprice * 0.5 + 1e-9, 2) ELSE 0.0 END AS refunds,
         round(o_totalprice * 0.1 + 1e-9, 2) AS profit
  FROM orders
  UNION ALL
  SELECT 'web' AS channel, user_id % 20 AS bucket,
         CASE WHEN event_type <> 'error' THEN round(value + 1e-9, 2) ELSE 0.0 END AS sales,
         CASE WHEN event_type = 'error' THEN round(value + 1e-9, 2) ELSE 0.0 END AS refunds,
         round(value * 0.2 + 1e-9, 2) AS profit
  FROM events
),
base AS (
  SELECT channel AS channel0, bucket AS bucket0,
         sum(CAST(sales AS DECIMAL(18,2)))   AS s_sales,
         sum(CAST(refunds AS DECIMAL(18,2))) AS s_refunds,
         sum(CAST(profit AS DECIMAL(18,2)))  AS s_profit,
         count(*) AS n0
  FROM salesreturns
  GROUP BY channel, bucket
)
SELECT coalesce(channel0, 'ALL') AS channel,
       coalesce(CAST(bucket0 AS BIGINT), -1) AS bucket,
       CAST(round(sum(s_sales), 2) AS DOUBLE)   AS sales,
       CAST(round(sum(s_refunds), 2) AS DOUBLE) AS refunds,
       CAST(round(sum(s_profit), 2) AS DOUBLE)  AS profit,
       CAST(sum(n0) AS BIGINT) AS n
FROM base
GROUP BY ROLLUP(channel0, bucket0)
"""


@query("tpcds_q5_channel_rollup", oracle=_Q5_SQL)
def tpcds_q5_channel_rollup(spark, sf_dir):
    """TPC-DS q5 shape: per-channel sales/returns/profit union rolled up
    across (channel, bucket) -> channel subtotals -> grand total.

    Scale note (r8): the union is pre-aggregated at the finest
    (channel, bucket) grain BEFORE the ROLLUP, so the Expand node
    multiplies |channels x buckets| rows (~60) instead of the full fact
    union — exact-DECIMAL partial sums are associative, so results are
    bitwise identical while the x3 Expand blow-up of corpus-sized data
    disappears. At 100 TB this is the difference between a rollup over
    60 rows and a rollup over the whole fact table."""
    return run_sql(spark, _Q5_SQL, sf_dir)


# --- q10: EXISTS chain with OR-of-EXISTS -----------------------------------

_Q10_SQL = """
SELECT c.c_mktsegment, n.n_name,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(round(c.c_acctbal + 1e-9, 2)), 2) AS bal_sum
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                AND o.o_orderdate <  TIMESTAMP '1998-01-01')
  AND (EXISTS (SELECT 1 FROM orders o2 JOIN lineitem l ON l.l_orderkey = o2.o_orderkey
               WHERE o2.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
       OR EXISTS (SELECT 1 FROM orders o3
                  WHERE o3.o_custkey = c.c_custkey
                    AND o3.o_orderpriority = '1-URGENT'))
GROUP BY c.c_mktsegment, n.n_name
"""


@query("tpcds_q10_exists_chain", oracle=_Q10_SQL)
def tpcds_q10_exists_chain(spark, sf_dir):
    """TPC-DS q10 shape: demographic counts behind an AND of EXISTS plus a
    disjunctive (OR) EXISTS pair — the pattern Catalyst lowers to a left
    semi join plus ExistenceJoins feeding a boolean filter (plain semi
    joins can't express the OR)."""
    return run_sql(spark, _Q10_SQL, sf_dir)


# --- q11: CTE reused 4x, cross-channel year-over-year growth ---------------

_Q11_SQL = """
WITH store_total AS (
  SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
         round(sum(round(o_totalprice + 1e-9, 2)), 2) AS total
  FROM orders GROUP BY o_custkey, CAST(year(o_orderdate) AS INT)
),
ship_total AS (
  SELECT o.o_custkey AS cust, CAST(year(l.l_shipdate) AS INT) AS yr,
         round(sum(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)), 2) AS total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, CAST(year(l.l_shipdate) AS INT)
)
SELECT s1.cust AS c_custkey,
       s1.total AS store_1996, s2.total AS store_1997,
       w1.total AS ship_1996,  w2.total AS ship_1997,
       round(w2.total / w1.total + 1e-9, 6) AS ship_growth,
       round(s2.total / s1.total + 1e-9, 6) AS store_growth
FROM store_total s1
JOIN store_total s2 ON s1.cust = s2.cust
JOIN ship_total  w1 ON s1.cust = w1.cust
JOIN ship_total  w2 ON s1.cust = w2.cust
WHERE s1.yr = 1996 AND s2.yr = 1997 AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.total > 0 AND w1.total > 0
  AND round(w2.total / w1.total + 1e-9, 6) > round(s2.total / s1.total + 1e-9, 6)
"""


@query("tpcds_q11_yoy_channels", oracle=_Q11_SQL)
def tpcds_q11_yoy_channels(spark, sf_dir):
    """TPC-DS q11 shape: one per-(customer, year) total CTE per channel,
    each self-joined across two years; keep customers whose ship-channel
    growth beats the store channel. Growth cut is a 6dp-rounded ratio of
    2dp-quantized sums on both engines."""
    return run_sql(spark, _Q11_SQL, sf_dir)


# --- q14: cross-channel INTERSECT feeding a filter -------------------------

_Q14_SQL = """
WITH cross_items AS (
  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'N'
  INTERSECT
  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
  INTERSECT
  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'R'
)
SELECT /*+ BROADCAST(p) */ p.p_brand,
       CAST(count(*) AS BIGINT) AS n_sales,
       CAST(round(sum(CAST(round(l.l_extendedprice + 1e-9, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS sales
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_partkey IN (SELECT item FROM cross_items)
GROUP BY p.p_brand
"""


# _Q14_ENGINE_SQL equivalence: the oracle's 3-way INTERSECT of DISTINCT
# l_partkey sets (per returnflag) is exactly the set of partkeys that have
# at least one row of EACH flag — one GROUP BY l_partkey with three
# presence maxes computes the same membership (pure set algebra, no
# uniqueness assumption; a NULL partkey behaves identically in both forms
# because the IN filter rejects NULL either way). 4 lineitem scans +
# 3 distinct exchanges + 2 semi-join exchanges collapse to 2 scans +
# 1 grouped exchange (guide §2.4).
_Q14_ENGINE_SQL = """
WITH cross_items AS (
  SELECT l_partkey AS item
  FROM lineitem
  GROUP BY l_partkey
  HAVING max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) = 1
     AND max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) = 1
     AND max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1
)
SELECT /*+ BROADCAST(p) */ p.p_brand,
       CAST(count(*) AS BIGINT) AS n_sales,
       CAST(round(sum(CAST(round(l.l_extendedprice + 1e-9, 2) AS DECIMAL(18,2))), 2) AS DOUBLE) AS sales
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_partkey IN (SELECT item FROM cross_items)
GROUP BY p.p_brand
"""


@query("tpcds_q14_cross_channel_items", oracle=_Q14_SQL)
def tpcds_q14_cross_channel_items(spark, sf_dir):
    """TPC-DS q14 shape: items present in ALL channels (3-way INTERSECT ->
    chained semi joins after ReplaceIntersectWithSemiJoin) used as an IN
    filter on the fact scan, then brand-level aggregation behind a
    broadcast dimension join. The engine runs the single-scan presence-
    flags rewrite (_Q14_ENGINE_SQL, r13) — the q95-style fold of the
    INTERSECT chain into one aggregate."""
    return run_sql(spark, _Q14_ENGINE_SQL, sf_dir)


# --- q47: window over aggregate, deviation from period average -------------

_Q47_SQL = """
WITH v1 AS (
  SELECT p.p_brand,
         CAST(year(o.o_orderdate) AS INT)  AS yr,
         CAST(month(o.o_orderdate) AS INT) AS mon,
         round(sum(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)), 2) AS sum_sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p   ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, CAST(year(o.o_orderdate) AS INT),
           CAST(month(o.o_orderdate) AS INT)
),
v2 AS (
  SELECT p_brand, yr, mon, sum_sales,
         round(avg(sum_sales) OVER (PARTITION BY p_brand, yr) + 1e-6, 4) AS avg_monthly,
         lag(sum_sales)  OVER (PARTITION BY p_brand ORDER BY yr, mon) AS prev_sales,
         lead(sum_sales) OVER (PARTITION BY p_brand ORDER BY yr, mon) AS next_sales
  FROM v1
)
SELECT p_brand, yr, mon, sum_sales, avg_monthly, prev_sales, next_sales,
       round(sum_sales - avg_monthly + 1e-6, 2) AS dev
FROM v2
WHERE yr BETWEEN 1996 AND 1999
  AND avg_monthly > 0
  AND round(abs(sum_sales - avg_monthly) / avg_monthly + 1e-9, 6) > 0.1
"""


@query("tpcds_q47_sales_deviation", oracle=_Q47_SQL)
def tpcds_q47_sales_deviation(spark, sf_dir):
    """TPC-DS q47/q57 shape: monthly brand sales vs the brand-year average
    (window over an aggregate) with lag/lead context rows, keeping months
    that deviate >10%. Both windows share one (p_brand)-keyed exchange;
    the deviation cut is 6dp-rounded on both engines."""
    return run_sql(spark, _Q47_SQL, sf_dir)


# --- q67: ROLLUP hierarchy -> rank() top-k per partition -------------------

_Q67_SQL = """
WITH lagg AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2))) AS s
  FROM lineitem
  GROUP BY l_partkey
),
base AS (
  SELECT p.p_brand AS brand0, p.p_type AS ptype0, p.p_size AS psize0,
         sum(l.s) AS s
  FROM lagg l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, p.p_type, p.p_size
),
results AS (
  SELECT coalesce(brand0, 'ALL') AS brand,
         coalesce(ptype0, 'ALL')  AS ptype,
         coalesce(CAST(psize0 AS INT), -1) AS psize,
         CAST(round(sum(s), 2) AS DOUBLE) AS sumsales
  FROM base
  GROUP BY ROLLUP(brand0, ptype0, psize0)
)
SELECT brand, ptype, psize, sumsales, rk
FROM (
  SELECT brand, ptype, psize, sumsales,
         CAST(rank() OVER (PARTITION BY brand
                           ORDER BY sumsales DESC, ptype, psize) AS INT) AS rk
  FROM results
) ranked
WHERE rk <= 5
"""


@query("tpcds_q67_rollup_topk", oracle=_Q67_SQL)
def tpcds_q67_rollup_topk(spark, sf_dir):
    """TPC-DS q67 shape: a (brand, type, size) ROLLUP hierarchy ranked
    within brand, top-5 kept. Rank order carries the full unique
    (ptype, psize) tie-break so rank == row_number deterministically;
    rollup NULLs are coalesced to placeholders before partitioning.

    Scale note (r8): two-tier eager aggregation (Yan/Larson). Tier 1
    pre-aggregates lineitem per l_partkey BELOW the join, so the join
    matches |parts| aggregate rows against the part dimension instead of
    the full fact table; tier 2 re-aggregates at (brand, type, size)
    BEFORE the ROLLUP, so Expand multiplies a few hundred rows by 4, not
    the fact rows. Exact-DECIMAL partial sums are associative, so results
    are bitwise identical at every tier. The only corpus-sized exchange
    left is the map-side-combined l_partkey aggregate."""
    return run_sql(spark, _Q67_SQL, sf_dir)


# --- q88: scalar-count fan over time bands ---------------------------------

_Q88_SQL = """
SELECT h0.n AS h0_2, h1.n AS h3_5, h2.n AS h6_8, h3.n AS h9_11,
       h4.n AS h12_14, h5.n AS h15_17, h6.n AS h18_20, h7.n AS h21_23
FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 0  AND 2)  h0,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 3  AND 5)  h1,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 6  AND 8)  h2,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 9  AND 11) h3,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 12 AND 14) h4,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 15 AND 17) h5,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 18 AND 20) h6,
     (SELECT CAST(count(*) AS BIGINT) AS n FROM events WHERE hour(ts) BETWEEN 21 AND 23) h7
"""


@query("tpcds_q88_time_bands", oracle=_Q88_SQL)
def tpcds_q88_time_bands(spark, sf_dir):
    """TPC-DS q88 shape: eight independent filtered counts cross-joined
    into one row — each side is a 1-row aggregate, so every join is the
    allowed scalar-attach broadcast-BNLJ shape."""
    return run_sql(spark, _Q88_SQL, sf_dir)


# --- q97: FULL OUTER overlap of two DISTINCT channel sets ------------------

_Q97_SQL = """
WITH first_half AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
),
second_half AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
)
SELECT CAST(sum(CASE WHEN f.cust IS NOT NULL AND s.cust IS NULL     THEN 1 ELSE 0 END) AS BIGINT) AS early_only,
       CAST(sum(CASE WHEN f.cust IS NULL     AND s.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS late_only,
       CAST(sum(CASE WHEN f.cust IS NOT NULL AND s.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_halves
FROM first_half f
FULL OUTER JOIN second_half s ON f.cust = s.cust AND f.item = s.item
"""


@query("tpcds_q97_channel_overlap", oracle=_Q97_SQL)
def tpcds_q97_channel_overlap(spark, sf_dir):
    """TPC-DS q97 shape: (customer, item) DISTINCT sets from two periods
    FULL OUTER joined to count exclusive/shared pairs. Both sides hash to
    the same (cust, item) key, so the join reuses the dedup exchanges."""
    return run_sql(spark, _Q97_SQL, sf_dir)


# --- q23: scalar-max-threshold CTEs feeding a double IN filter -------------
#
# Thresholds are scale-RELATIVE (vs the average item frequency / the max
# customer spend), in exact integer/decimal arithmetic, so the query keeps
# firing at every SF instead of silently going vacuous as data grows.

_Q23_SQL = """
WITH item_counts AS (
  SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
),
corpus AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_lines,
         CAST(count(*) AS BIGINT) AS n_items
  FROM item_counts
),
frequent_items AS (
  SELECT i.item FROM item_counts i, corpus c
  WHERE i.cnt * c.n_items * 5 > c.total_lines * 6
),
cust_spend AS (
  SELECT o_custkey AS cust,
         sum(CAST(round(o_totalprice + 1e-9, 2) AS DECIMAL(18,2))) AS total
  FROM orders GROUP BY o_custkey
),
best_customers AS (
  SELECT cust FROM cust_spend
  WHERE 2 * total > (SELECT max(total) FROM cust_spend)
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_sales,
       CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS sales
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
  AND l.l_partkey IN (SELECT item FROM frequent_items)
  AND o.o_custkey IN (SELECT cust FROM best_customers)
GROUP BY c.c_mktsegment
"""


@query("tpcds_q23_frequent_buyers", oracle=_Q23_SQL)
def tpcds_q23_frequent_buyers(spark, sf_dir):
    """TPC-DS q23 shape: a frequent-items CTE (count above a corpus-relative
    bar) and a best-customers CTE (spend above half the MAX spend — the
    scalar-subquery-over-aggregate signature) jointly gate the fact scan
    via two IN filters, then segment-level totals. Catalyst lowers the two
    INs to semi joins and the scalar max to a one-row broadcast; all
    thresholds are exact BIGINT/DECIMAL arithmetic so every SF fires.

    r13 note (measured negative, guide §1): item_counts/cust_spend are
    re-instantiated per CTE reference (lineitem 3x, orders 3x), and a
    localCheckpoint-both variant (the q23 KMV pattern) removed the extra
    scans (plan Exchange 18->7, scans 17->6) but A/B-measured ~6% SLOWER
    at sf0.1 AND ~11% slower at sf1 (interleaved, min/arm: sf0.1
    1.19->1.27 s, sf1 2.24->2.50 s) — the two materialization barriers on
    dimension-sized aggregates cost more than the saved fact scans at
    these scales. Reverted; the plan dumps are plans/r13/tpcds_q23_* at
    commit 5ec251a."""
    return run_sql(spark, _Q23_SQL, sf_dir)


# --- q51: FULL OUTER of two cumulative streams, window AFTER the join ------

_Q51_SQL = """
WITH ship_m AS (
  SELECT o.o_custkey % 25 AS bkt,
         CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS INT) AS ym,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                             AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS sales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey % 25,
           CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS INT)
),
order_m AS (
  SELECT o_custkey % 25 AS bkt,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
         CAST(round(sum(CAST(round(o_totalprice + 1e-9, 2) AS DECIMAL(18,2))), 2)
              AS DECIMAL(18,2)) AS sales
  FROM orders
  GROUP BY o_custkey % 25,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
),
ship_cum AS (
  SELECT bkt, ym, sum(sales) OVER (PARTITION BY bkt ORDER BY ym
                                   ROWS UNBOUNDED PRECEDING) AS cum
  FROM ship_m
),
order_cum AS (
  SELECT bkt, ym, sum(sales) OVER (PARTITION BY bkt ORDER BY ym
                                   ROWS UNBOUNDED PRECEDING) AS cum
  FROM order_m
),
joined AS (
  SELECT coalesce(s.bkt, o.bkt) AS bkt, coalesce(s.ym, o.ym) AS ym,
         s.cum AS ship_cum_raw, o.cum AS order_cum_raw
  FROM ship_cum s FULL OUTER JOIN order_cum o
    ON s.bkt = o.bkt AND s.ym = o.ym
),
filled AS (
  SELECT bkt, ym,
         max(ship_cum_raw)  OVER (PARTITION BY bkt ORDER BY ym
                                  ROWS UNBOUNDED PRECEDING) AS ship_cum,
         max(order_cum_raw) OVER (PARTITION BY bkt ORDER BY ym
                                  ROWS UNBOUNDED PRECEDING) AS order_cum
  FROM joined
)
SELECT CAST(bkt AS BIGINT) AS bkt, ym,
       CAST(ship_cum AS DOUBLE) AS ship_cum,
       CAST(order_cum AS DOUBLE) AS order_cum
FROM filled
WHERE ship_cum IS NOT NULL AND order_cum IS NOT NULL
  AND ship_cum > order_cum
"""


@query("tpcds_q51_cumulative_channels", oracle=_Q51_SQL)
def tpcds_q51_cumulative_channels(spark, sf_dir):
    """TPC-DS q51 shape: two per-(bucket, month) cumulative revenue streams
    (windows BEFORE the join), FULL OUTER joined on the grain, then a
    running-MAX window AFTER the join forward-fills each side's cumulative
    through the other side's months; keep months where the ship channel's
    cumulative leads. Cumulatives accumulate as DECIMAL(18,2) inside the
    window so cross-engine float addition order can't matter; (bkt, ym) is
    unique per stream so every window order is total."""
    return run_sql(spark, _Q51_SQL, sf_dir)


# --- q64: aggregate CTE self-joined across adjacent years ------------------

_Q64_SQL = """
WITH sales_by_year AS (
  SELECT l.l_partkey AS item, p.p_brand,
         CAST(year(o.o_orderdate) AS INT) AS yr,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                             AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p   ON l.l_partkey = p.p_partkey
  GROUP BY l.l_partkey, p.p_brand, CAST(year(o.o_orderdate) AS INT)
)
SELECT s1.item, s1.p_brand,
       s1.yr AS yr1, s2.yr AS yr2,
       s1.cnt AS cnt1, s2.cnt AS cnt2,
       CAST(s1.sales AS DOUBLE) AS sales1,
       CAST(s2.sales AS DOUBLE) AS sales2
FROM sales_by_year s1
JOIN sales_by_year s2
  ON s1.item = s2.item AND s2.yr = s1.yr + 1
WHERE s1.cnt >= 2 AND s2.cnt >= 2
  AND 2 * s2.sales > 3 * s1.sales
"""


# Round-12 optimization (guide §2.4): Catalyst does NOT reuse the aggregate
# CTE across the self-join's two instances (measured plan: 6 scans, the
# whole lineitem/orders/part join + two-phase aggregate computed twice,
# then a SortMergeJoin). The engine runs the equivalent lag-window form:
# (item, yr) is unique in sales_by_year (p_brand is functionally dependent
# on item via the part PK), so the self-join on (item, yr+1) pairs each row
# with its immediate predecessor year iff that predecessor is exactly yr-1
# — which is lag() over (PARTITION BY item ORDER BY yr) guarded by
# yr = lag(yr) + 1. One CTE computation + one aggregate-grain window
# replaces the duplicate subtree + join. Oracle keeps the self-join text.
_Q64_ENGINE_SQL = """
WITH sales_by_year AS (
  SELECT l.l_partkey AS item, p.p_brand,
         CAST(year(o.o_orderdate) AS INT) AS yr,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                             AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p   ON l.l_partkey = p.p_partkey
  GROUP BY l.l_partkey, p.p_brand, CAST(year(o.o_orderdate) AS INT)
),
paired AS (
  SELECT item, p_brand, yr, cnt, sales,
         lag(yr)    OVER (PARTITION BY item ORDER BY yr) AS pyr,
         lag(cnt)   OVER (PARTITION BY item ORDER BY yr) AS pcnt,
         lag(sales) OVER (PARTITION BY item ORDER BY yr) AS psales
  FROM sales_by_year
)
SELECT item, p_brand,
       pyr AS yr1, yr AS yr2,
       pcnt AS cnt1, cnt AS cnt2,
       CAST(psales AS DOUBLE) AS sales1,
       CAST(sales AS DOUBLE) AS sales2
FROM paired
WHERE yr = pyr + 1 AND pcnt >= 2 AND cnt >= 2
  AND 2 * sales > 3 * psales
"""


@query("tpcds_q64_item_year_resales", oracle=_Q64_SQL)
def tpcds_q64_item_year_resales(spark, sf_dir):
    """TPC-DS q64 shape: one wide denormalized aggregate CTE (fact x 2 dims
    at (item, year) grain) paired across adjacent years, keeping items
    whose sales grew >1.5x. The growth cut is exact DECIMAL
    cross-multiplication (2*s2 > 3*s1) — no float ratio anywhere. The
    oracle keeps the CTE self-join text; the engine runs the equivalent
    lag-window form (_Q64_ENGINE_SQL) because Spark recomputes the CTE per
    join instance — the rewrite halves the fact scans and drops the join."""
    return run_sql(spark, _Q64_ENGINE_SQL, sf_dir)


# --- q78: aggregate-grain LEFT JOIN with IS NULL branch --------------------

_Q78_SQL = """
WITH store AS (
  SELECT o_custkey AS cust, CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(round(o_totalprice + 1e-9, 2) AS DECIMAL(18,2))) AS store_total
  FROM orders GROUP BY o_custkey
),
web AS (
  SELECT user_id AS cust, CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(round(value + 1e-9, 2) AS DECIMAL(18,2))) AS web_total
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT c.c_mktsegment,
       CASE WHEN w.cust IS NULL THEN 'store_only' ELSE 'both' END AS channel_mix,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(s.n_orders) AS BIGINT) AS n_orders,
       CAST(round(sum(s.store_total), 2) AS DOUBLE) AS store_sales,
       CAST(round(sum(coalesce(w.web_total, 0)), 2) AS DOUBLE) AS web_sales,
       round(CAST(sum(coalesce(w.web_total, 0)) AS DOUBLE)
             / CAST(sum(s.store_total) AS DOUBLE) + 1e-9, 6) AS web_share
FROM store s
JOIN customer c ON s.cust = c.c_custkey
LEFT JOIN web w ON s.cust = w.cust
GROUP BY c.c_mktsegment,
         CASE WHEN w.cust IS NULL THEN 'store_only' ELSE 'both' END
"""


@query("tpcds_q78_channel_ratio", oracle=_Q78_SQL)
def tpcds_q78_channel_ratio(spark, sf_dir):
    """TPC-DS q78 shape: per-customer channel totals LEFT JOINed at the
    aggregate grain, with the unmatched (IS NULL) branch kept as its own
    reporting segment — the ratio-of-channels report where one channel may
    be absent. DECIMAL totals; the only float is the final 6dp share."""
    return run_sql(spark, _Q78_SQL, sf_dir)


# --- q95: fact self-join EXISTS (ws1/ws2) + NOT EXISTS ---------------------

_Q95_SQL = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(round(o.o_totalprice + 1e-9, 2) AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS total
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l1 JOIN lineitem l2
                ON l1.l_orderkey = l2.l_orderkey
               AND l1.l_suppkey <> l2.l_suppkey
              WHERE l1.l_orderkey = o.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = o.o_orderkey
                    AND l3.l_returnflag = 'R')
GROUP BY o.o_orderpriority
"""


# Round-12 optimization (guide §2.3/§2.4): the engine executes the
# EXISTS/NOT EXISTS pair as ONE aggregate over ONE lineitem scan. Proof of
# equivalence (oracle keeps the original text; hash-verified at 3 SFs):
# EXISTS(l1 JOIN l2 ON same orderkey AND l1.suppkey <> l2.suppkey) holds
# iff the order's lines carry >= 2 distinct non-null suppkeys — i.e.
# min(l_suppkey) <> max(l_suppkey) (all-NULL -> NULL <> NULL -> filtered,
# matching the EXISTS, whose NULL <> NULL predicate also never fires);
# NOT EXISTS(line with l_returnflag='R') iff max(CASE 'R' THEN 1 END)=0 —
# and since the EXISTS branch already requires >= 2 lines, the "order has
# no lines at all" NOT-EXISTS case is unreachable, so an INNER join to the
# HAVING-filtered aggregate is exact. Plan effect (plans/r12/ at commit
# 5ec251a): 3 lineitem scans + broadcast self-join + SMJ semi + BHJ anti ->
# 1 scan + 1 partial aggregate + 1 join; measured 2.78 s -> see
# OPTIMIZATION_r12.md.
_Q95_ENGINE_SQL = """
WITH ok AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING min(l_suppkey) <> max(l_suppkey)
     AND max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 0
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(round(o.o_totalprice + 1e-9, 2) AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS total
FROM orders o
JOIN ok ON ok.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY o.o_orderpriority
"""


@query("tpcds_q95_multi_supplier", oracle=_Q95_SQL)
def tpcds_q95_multi_supplier(spark, sf_dir):
    """TPC-DS q95 shape: orders shipped by at least two DIFFERENT suppliers
    (the ws1/ws2 fact self-join inside EXISTS) with no returned line
    (NOT EXISTS on the same fact), counted per priority. The oracle keeps
    the literal EXISTS-pair text; the engine runs the equivalent
    single-scan aggregate rewrite (min/max suppkey spread + returns flag
    folded into one GROUP BY l_orderkey — see _Q95_ENGINE_SQL) because the
    self-join form rescans the fact three times and shuffles the pair fan;
    at 100 TB the rewrite is one map-side-combinable pass over the fact."""
    return run_sql(spark, _Q95_ENGINE_SQL, sf_dir)


# --- q34: HAVING count-band -> join back to the dimension ------------------

_Q34_SQL = """
WITH baskets AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem
  GROUP BY l_orderkey
  HAVING count(*) BETWEEN 6 AND 7
)
SELECT c.c_custkey, c.c_name,
       CAST(count(*) AS BIGINT) AS n_big_baskets,
       CAST(sum(b.n_lines) AS BIGINT) AS total_lines
FROM baskets b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
HAVING count(*) >= 2
"""


@query("tpcds_q34_basket_bands", oracle=_Q34_SQL)
def tpcds_q34_basket_bands(spark, sf_dir):
    """TPC-DS q34/q73 shape: per-ticket line counts filtered to a HAVING
    band (6-7 lines = the 'large basket' class), joined BACK through the
    fact to the customer dimension, then re-aggregated with a second
    HAVING (repeat large-basket customers). The band aggregate and the
    join-back reuse the same orderkey hash; all columns are exact
    BIGINT/string, no float anywhere."""
    return run_sql(spark, _Q34_SQL, sf_dir)


# --- q36: ROLLUP + GROUPING()-driven hierarchy rank (round 9) ---------------

_Q36_SQL = """
WITH base AS (
  SELECT n.n_name AS nation, s.s_suppkey % 10 AS sgrp,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2)))                       AS gross,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                        - l.l_quantity * 10.0 + 1e-9, 2)
                  AS DECIMAL(18,2)))                       AS profit
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_suppkey % 10
),
rolled AS (
  SELECT coalesce(nation, 'ALL') AS nation,
         coalesce(CAST(sgrp AS BIGINT), -1) AS sgrp,
         CAST(GROUPING(nation) + GROUPING(sgrp) AS INT) AS lochierarchy,
         CASE WHEN GROUPING(sgrp) = 0 THEN coalesce(nation, 'ALL') END
             AS parent,
         round(CAST(sum(profit) AS DOUBLE) / CAST(sum(gross) AS DOUBLE)
               + 1e-9, 6) AS margin
  FROM base
  GROUP BY ROLLUP(nation, sgrp)
)
SELECT nation, sgrp, lochierarchy,
       CAST(rank() OVER (PARTITION BY lochierarchy, parent
                         ORDER BY margin, nation, sgrp) AS INT)
           AS rank_within_parent,
       margin
FROM rolled
"""


@query("tpcds_q36_hierarchy_rank", oracle=_Q36_SQL)
def tpcds_q36_hierarchy_rank(spark, sf_dir):
    """TPC-DS q36 plan signature (round 9): gross-margin ROLLUP over a
    two-level hierarchy with the rank PARTITIONED BY the grouping level
    itself — GROUPING() outputs feed the window partition keys
    (lochierarchy = grouping(a)+grouping(b); within-parent rank at the
    leaf level). Exercises Expand -> two-phase agg -> window where the
    window keys are GROUPING-derived — a Catalyst path none of the other
    shapes touch. Margin is DECIMAL-accumulated and 6dp-rounded before
    ranking; the rank ORDER BY carries a full unique tie-break."""
    return run_sql(spark, _Q36_SQL, sf_dir)


# --- q49: union of per-channel ranked return-ratio subqueries (round 9) ----

_Q49_SQL = """
WITH store_r AS (
  SELECT l_partkey % 50 AS item,
         round(CAST(sum(CASE WHEN l_returnflag = 'R'
                             THEN CAST(round(l_quantity, 2)
                                       AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / nullif(CAST(sum(CAST(round(l_quantity, 2)
                                      AS DECIMAL(18,2))) AS DOUBLE), 0)
               + 1e-9, 6)                                    AS return_ratio,
         round(CAST(sum(CASE WHEN l_returnflag = 'R'
                             THEN CAST(round(l_extendedprice + 1e-9, 2)
                                       AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / nullif(CAST(sum(CAST(round(l_extendedprice + 1e-9, 2)
                                      AS DECIMAL(18,2))) AS DOUBLE), 0)
               + 1e-9, 6)                                    AS currency_ratio
  FROM lineitem GROUP BY l_partkey % 50
),
catalog_r AS (
  SELECT o_custkey % 50 AS item,
         round(sum(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END)
               / count(*) + 1e-9, 6)                         AS return_ratio,
         round(CAST(sum(CASE WHEN o_orderstatus = 'F'
                             THEN CAST(round(o_totalprice + 1e-9, 2)
                                       AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / nullif(CAST(sum(CAST(round(o_totalprice + 1e-9, 2)
                                      AS DECIMAL(18,2))) AS DOUBLE), 0)
               + 1e-9, 6)                                    AS currency_ratio
  FROM orders GROUP BY o_custkey % 50
),
web_r AS (
  SELECT user_id % 50 AS item,
         round(sum(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END)
               / count(*) + 1e-9, 6)                         AS return_ratio,
         round(CAST(sum(CASE WHEN event_type = 'error'
                             THEN CAST(round(value + 1e-9, 2)
                                       AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / nullif(CAST(sum(CAST(round(value + 1e-9, 2)
                                      AS DECIMAL(18,2))) AS DOUBLE), 0)
               + 1e-9, 6)                                    AS currency_ratio
  FROM events GROUP BY user_id % 50
),
ranked AS (
  SELECT 'store' AS channel, item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item)   AS return_rank,
         rank() OVER (ORDER BY currency_ratio, item) AS currency_rank
  FROM store_r
  UNION ALL
  SELECT 'catalog', item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item),
         rank() OVER (ORDER BY currency_ratio, item)
  FROM catalog_r
  UNION ALL
  SELECT 'web', item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item),
         rank() OVER (ORDER BY currency_ratio, item)
  FROM web_r
)
SELECT channel, CAST(item AS BIGINT) AS item,
       return_ratio, currency_ratio,
       CAST(return_rank AS INT)   AS return_rank,
       CAST(currency_rank AS INT) AS currency_rank
FROM ranked
WHERE return_rank <= 10 OR currency_rank <= 10
"""


# Round-12 optimization (guide §2.4 window/shuffle fusion): the original
# text ranks each channel INSIDE its union branch — six no-partition
# windows, each a single-partition exchange + sort stage (the 50-row sorts
# are free; the six stage waves are not). Ranking within a channel over
# the union, PARTITION BY channel, is value-identical (same rows, same
# ordering keys, same rank function per channel group) and needs ONE
# channel exchange feeding two sorts. Oracle keeps the ranked-branch text.
_Q49_ENGINE_SQL = _Q49_SQL.replace(
    """ranked AS (
  SELECT 'store' AS channel, item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item)   AS return_rank,
         rank() OVER (ORDER BY currency_ratio, item) AS currency_rank
  FROM store_r
  UNION ALL
  SELECT 'catalog', item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item),
         rank() OVER (ORDER BY currency_ratio, item)
  FROM catalog_r
  UNION ALL
  SELECT 'web', item, return_ratio, currency_ratio,
         rank() OVER (ORDER BY return_ratio, item),
         rank() OVER (ORDER BY currency_ratio, item)
  FROM web_r
)""",
    """unioned AS (
  SELECT 'store' AS channel, item, return_ratio, currency_ratio FROM store_r
  UNION ALL
  SELECT 'catalog', item, return_ratio, currency_ratio FROM catalog_r
  UNION ALL
  SELECT 'web', item, return_ratio, currency_ratio FROM web_r
),
ranked AS (
  SELECT channel, item, return_ratio, currency_ratio,
         rank() OVER (PARTITION BY channel
                      ORDER BY return_ratio, item)   AS return_rank,
         rank() OVER (PARTITION BY channel
                      ORDER BY currency_ratio, item) AS currency_rank
  FROM unioned
)""",
)
assert "PARTITION BY channel" in _Q49_ENGINE_SQL  # replace() must have hit


@query("tpcds_q49_worst_return_ratios", oracle=_Q49_SQL)
def tpcds_q49_worst_return_ratios(spark, sf_dir):
    """TPC-DS q49 plan signature (round 9): per-channel return-ratio and
    currency-ratio aggregates each DOUBLY ranked (two independent windows
    over the same subquery), three ranked channel branches UNION ALLed,
    then filtered by an OR of the two ranks — the union-of-ranked-
    subqueries shape (rank computed BELOW the union and the filter above
    it, so Catalyst cannot push the filter into the window). Ratios are
    6dp-rounded BEFORE ranking on both engines; each rank carries the
    item tie-break. The oracle keeps the branch-local windows; the engine
    ranks the union PARTITION BY channel (_Q49_ENGINE_SQL) — identical
    per-channel ranks, six single-partition window stages fused into one
    exchange + two sorts."""
    return run_sql(spark, _Q49_ENGINE_SQL, sf_dir)


# --- q17: three-fact composite-key chain + stddev family (round 9) ---------

_Q17_SQL = """
WITH ss AS (
  SELECT l.l_partkey AS item, o.o_custkey AS cust, l.l_quantity AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N'
),
sr AS (
  SELECT l.l_partkey AS item, o.o_custkey AS cust, l.l_quantity AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
),
cs AS (
  SELECT o_custkey AS cust, count(*) AS cq FROM orders GROUP BY o_custkey
)
SELECT ss.item % 25 AS item_class,
       CAST(count(*) AS BIGINT)                    AS n_chains,
       round(avg(ss.q) + 1e-9, 4)                  AS sales_avg,
       round(stddev_samp(ss.q) + 1e-9, 4)          AS sales_stdev,
       round(avg(sr.q) + 1e-9, 4)                  AS returns_avg,
       round(stddev_samp(sr.q) + 1e-9, 4)          AS returns_stdev,
       round(avg(cs.cq) + 1e-9, 4)                 AS catalog_avg
FROM ss
JOIN sr ON ss.item = sr.item AND ss.cust = sr.cust
JOIN cs ON cs.cust = ss.cust
GROUP BY ss.item % 25
"""


@query("tpcds_q17_fact_chain_stddev", oracle=_Q17_SQL)
def tpcds_q17_fact_chain_stddev(spark, sf_dir):
    """TPC-DS q17 plan signature (round 9): a sales fact self-chained to
    its returns on the COMPOSITE (item, customer) key, then joined to a
    third aggregate-grain fact, finishing in the stddev-family
    aggregates. The only shape in the corpus with a fact-fact equi-join
    on a two-column composite key (both sides shuffle once on the same
    composite hash) feeding mean/stdev readouts — TPC-DS's classic
    'quantity consistency across channels' audit. stddev/avg are
    4dp-rounded; counts exact."""
    return run_sql(spark, _Q17_SQL, sf_dir)


# ============================ round 11 widening ==============================
# r10 VERDICT task 1: broaden the signature corpus from 17 toward ~30 —
# prioritizing the plan features the corpus didn't yet exercise: the q72
# mega-join with a non-equi date-range residual, the q4/q74 multi-CTE YoY
# families (3-channel triple-ratio / union-CTE-instantiated-4x + global
# top-k), the q93 returns-netting left join, and the q54 revenue-window
# segmentation. Same determinism discipline as above (2dp pre-quantized
# DECIMAL money, 6dp ratio cuts, exact BIGINT counts, unique tie-breaks).


# --- q72: mega-join with a date-offset non-equi residual --------------------

_Q72_SQL = """
WITH returns AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_ret
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey
)
SELECT /*+ BROADCAST(p, n) */ p.p_brand, n.n_name,
       CAST(count(*) AS BIGINT) AS n_lagged,
       CAST(sum(CASE WHEN r.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_no_returns,
       CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 + 1e-9, 2) AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS lagged_revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN part p     ON l.l_partkey = p.p_partkey
LEFT JOIN returns r ON l.l_orderkey = r.l_orderkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY p.p_brand, n.n_name
"""


@query("tpcds_q72_lagged_fulfillment", oracle=_Q72_SQL)
def tpcds_q72_lagged_fulfillment(spark, sf_dir):
    """TPC-DS q72 plan signature: the inventory x date-range MEGA-JOIN —
    a fact-fact equi join (lineitem x orders on orderkey) carrying a
    NON-EQUI date-offset residual (shipped >30 days after ordering; q72's
    d3.d_date > d1.d_date + 5), three dimension joins, and a LEFT OUTER
    to an aggregate-grain returns set whose null branch is counted
    (q72's promotion left join). The residual stays a post-join predicate
    on the orderkey hash join — no range-join explosion; the dims are
    broadcast. At 100 TB the single fact-fact exchange on orderkey is
    the only big shuffle, exactly the shape AQE skew-splits if order
    sizes skew. Scale: the returns CTE is mutation-sized, broadcast-able
    by AQE after its own pre-aggregation."""
    return run_sql(spark, _Q72_SQL, sf_dir)


# --- q4: 3-channel multi-CTE YoY with triple ratio comparison ---------------

_Q4_SQL = """
WITH store_t AS (
  SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
         round(sum(round(o_totalprice + 1e-9, 2)), 2) AS total
  FROM orders GROUP BY o_custkey, CAST(year(o_orderdate) AS INT)
),
ship_t AS (
  SELECT o.o_custkey AS cust, CAST(year(l.l_shipdate) AS INT) AS yr,
         round(sum(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)),
               2) AS total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, CAST(year(l.l_shipdate) AS INT)
),
web_t AS (
  SELECT o.o_custkey AS cust, CAST(year(l.l_shipdate) AS INT) AS yr,
         round(sum(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)),
               2) AS total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N'
  GROUP BY o.o_custkey, CAST(year(l.l_shipdate) AS INT)
)
SELECT s1.cust AS c_custkey,
       round(s2.total / s1.total + 1e-9, 6) AS store_growth,
       round(h2.total / h1.total + 1e-9, 6) AS ship_growth,
       round(w2.total / w1.total + 1e-9, 6) AS web_growth
FROM store_t s1
JOIN store_t s2 ON s1.cust = s2.cust
JOIN ship_t  h1 ON s1.cust = h1.cust
JOIN ship_t  h2 ON s1.cust = h2.cust
JOIN web_t   w1 ON s1.cust = w1.cust
JOIN web_t   w2 ON s1.cust = w2.cust
WHERE s1.yr = 1996 AND s2.yr = 1997 AND h1.yr = 1996 AND h2.yr = 1997
  AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.total > 0 AND h1.total > 0 AND w1.total > 0
  AND round(h2.total / h1.total + 1e-9, 6) > round(s2.total / s1.total + 1e-9, 6)
  AND round(h2.total / h1.total + 1e-9, 6) > round(w2.total / w1.total + 1e-9, 6)
"""


@query("tpcds_q4_yoy_preference", oracle=_Q4_SQL)
def tpcds_q4_yoy_preference(spark, sf_dir):
    """TPC-DS q4 plan signature: THREE per-(customer, year) channel CTEs,
    each instantiated TWICE (six join instances over three aggregates) —
    customers whose ship-channel growth beat BOTH other channels. The
    q11 shape widened to q4's triple-ratio form: one extra channel adds
    two more self-join arms on the same cust hash, so all six arms reuse
    one exchange layout (Catalyst plans 5 hash joins, every one keyed
    cust). Growth cuts are 6dp-rounded ratios of 2dp-quantized sums on
    both engines. Scale: each CTE is customer-grain (small vs the fact);
    the join tree never re-shuffles — the 1000-executor plan is six
    co-partitioned map-side-ish joins after one agg shuffle each."""
    return run_sql(spark, _Q4_SQL, sf_dir)


# --- q74: union-CTE instantiated 4x, MAX year-totals, global top-k ----------

_Q74_SQL = """
WITH year_total AS (
  SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
         'store' AS channel,
         round(max(round(o_totalprice + 1e-9, 2)), 2) AS year_total
  FROM orders
  GROUP BY o_custkey, CAST(year(o_orderdate) AS INT)
  UNION ALL
  SELECT o.o_custkey AS cust, CAST(year(l.l_shipdate) AS INT) AS yr,
         'ship' AS channel,
         round(max(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)),
               2) AS year_total
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, CAST(year(l.l_shipdate) AS INT)
)
SELECT s1.cust AS c_custkey,
       s1.year_total AS store_1996, s2.year_total AS store_1997,
       w1.year_total AS ship_1996,  w2.year_total AS ship_1997,
       round(w2.year_total / w1.year_total + 1e-9, 6) AS ship_ratio
FROM year_total s1
JOIN year_total s2 ON s1.cust = s2.cust
JOIN year_total w1 ON s1.cust = w1.cust
JOIN year_total w2 ON s1.cust = w2.cust
WHERE s1.channel = 'store' AND s2.channel = 'store'
  AND w1.channel = 'ship'  AND w2.channel = 'ship'
  AND s1.yr = 1996 AND s2.yr = 1997 AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.year_total > 0 AND w1.year_total > 0
  AND round(w2.year_total / w1.year_total + 1e-9, 6)
      > round(s2.year_total / s1.year_total + 1e-9, 6)
ORDER BY ship_ratio DESC, c_custkey
LIMIT 100
"""


@query("tpcds_q74_max_yoy_topk", oracle=_Q74_SQL)
def tpcds_q74_max_yoy_topk(spark, sf_dir):
    """TPC-DS q74 plan signature: ONE union-of-channels CTE instantiated
    FOUR times with per-instance channel/year predicates (the literal q74
    structure — q4/q11 keep channels in separate CTEs; q74 unions them
    first and lets predicate pushdown split the instances), MAX-based
    year totals (q74 is the max/sum variant pair), and a GLOBAL top-k
    (ORDER BY ratio DESC LIMIT 100, unique cust tie-break) — the only
    YoY shape in the corpus finishing in TakeOrderedAndProject rather
    than a full sort. Scale: top-k is per-partition heaps + one k-row
    driver merge, never a global sort."""
    return run_sql(spark, _Q74_SQL, sf_dir)


# --- q93: returns-netting left join (net sales after returns) ---------------

_Q93_SQL = """
WITH returns AS (
  SELECT l_orderkey, l_linenumber,
         floor(l_quantity / 2) AS ret_qty
  FROM lineitem WHERE l_returnflag = 'R'
)
SELECT o.o_custkey AS c_custkey,
       CAST(round(sum(CAST(round((l.l_quantity - coalesce(r.ret_qty, 0.0))
                                 * (l.l_extendedprice / l.l_quantity)
                                 + 1e-9, 2) AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS net_paid
FROM lineitem l
LEFT JOIN returns r ON l.l_orderkey = r.l_orderkey
                   AND l.l_linenumber = r.l_linenumber
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey
ORDER BY net_paid, c_custkey
LIMIT 100
"""


# Round-12 optimization attempt, REVERTED: folding the returns LEFT JOIN
# into a per-row CASE assumed (l_orderkey, l_linenumber) is unique in
# lineitem — the differential oracle showed it is NOT in this synthetic
# corpus (the join legitimately fans out; oracle rows went negative where
# a line matched several 'R' rows). The join form stays.


@query("tpcds_q93_net_after_returns", oracle=_Q93_SQL)
def tpcds_q93_net_after_returns(spark, sf_dir):
    """TPC-DS q93 plan signature: the returns-netting anti-pattern — the
    full sales fact LEFT JOINed to its returns slice on the COMPOSITE
    (order, line) key, quantity netted through a coalesce(NULL branch)
    before pricing, per-customer sum, ascending top-100 (q93 reports the
    LOWEST net spenders). floor(qty/2) keeps the synthetic returned
    quantity off engine-specific .5 rounding. Scale: both join sides are
    the same fact — one composite-key exchange each, and the returns
    side is pre-filtered to the 'R' slice so the left join's build side
    is returns-sized, not table-sized."""
    return run_sql(spark, _Q93_SQL, sf_dir)


# --- q54: cohort -> revenue-window segmentation ------------------------------

_Q54_SQL = """
WITH target_users AS (
  SELECT DISTINCT o.o_custkey AS cust
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p   ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1996-07-01'
),
spend AS (
  SELECT o.o_custkey AS cust,
         sum(CAST(round(o.o_totalprice + 1e-9, 2) AS DECIMAL(18,2)))
             AS revenue
  FROM orders o
  WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    AND o.o_custkey IN (SELECT cust FROM target_users)
  GROUP BY o.o_custkey
)
SELECT CAST(floor((CAST(revenue AS DOUBLE) + 1e-9) / 5000.0) AS BIGINT)
           AS segment,
       CAST(count(*) AS BIGINT) AS num_customers
FROM spend
GROUP BY CAST(floor((CAST(revenue AS DOUBLE) + 1e-9) / 5000.0) AS BIGINT)
"""


@query("tpcds_q54_revenue_segments", oracle=_Q54_SQL)
def tpcds_q54_revenue_segments(spark, sf_dir):
    """TPC-DS q54 plan signature: revenue-window segmentation — a cohort
    of customers who bought target brands in H1 (DISTINCT over a 3-way
    join, lowered to a semi join feeder), their H2 revenue aggregated,
    then BUCKETED (floor(revenue/5000), q54's $50 segments) and counted
    per segment: two stacked aggregation grains (customer, then segment)
    behind a semi join. The bucket edge is deterministic: revenue is an
    exact DECIMAL sum of 2dp-quantized values, cast to DOUBLE and
    1e-9-shifted before the floor, so an exact segment-boundary total
    lands the same side on both engines. Scale: the second agg's input
    is customer-grain; the segment agg is a ~100-row shuffle."""
    return run_sql(spark, _Q54_SQL, sf_dir)


# --- q1: correlated scalar subquery vs per-group average ---------------------

_Q1_SQL = """
WITH customer_returns AS (
  SELECT o.o_custkey AS cust, c.c_nationkey AS nat,
         sum(CAST(round(l.l_extendedprice + 1e-9, 2) AS DECIMAL(18,2)))
             AS ret_total
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R'
  GROUP BY o.o_custkey, c.c_nationkey
)
SELECT ctr.cust AS c_custkey, n.n_name,
       CAST(ctr.ret_total AS DOUBLE) AS ret_total
FROM customer_returns ctr
JOIN nation n ON ctr.nat = n.n_nationkey
WHERE CAST(ctr.ret_total AS DOUBLE) > (
  SELECT round(avg(CAST(ctr2.ret_total AS DOUBLE)) * 1.2 + 1e-9, 4)
  FROM customer_returns ctr2
  WHERE ctr2.nat = ctr.nat
)
"""


@query("tpcds_q1_returns_above_avg", oracle=_Q1_SQL)
def tpcds_q1_returns_above_avg(spark, sf_dir):
    """TPC-DS q1 plan signature: a per-customer returns CTE referenced
    TWICE — once as the driving relation, once inside a CORRELATED SCALAR
    subquery computing the 1.2x per-nation average threshold. Catalyst
    decorrelates into an aggregate-over-the-CTE joined back on the nation
    key (RewriteCorrelatedScalarSubquery); DuckDB does the equivalent
    flattening — the semantics gate is that both agree on the rewrite.
    Threshold is a 4dp-rounded, 1e-9-shifted double against exact-DECIMAL
    totals. Scale: the correlated side aggregates to |nations| rows —
    broadcast-joined back, no per-row re-aggregation anywhere."""
    return run_sql(spark, _Q1_SQL, sf_dir)


# --- q2: weekly day-of-week pivot, year-over-year ratio ----------------------

# one template, two dialect keywords: Spark's ISO day-of-week extract field
# is DAYOFWEEK_ISO, DuckDB's is ISODOW (both Mon=1..Sun=7); everything else
# is shared text.
_Q2_TEMPLATE = """
WITH wk AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(weekofyear(o_orderdate) AS INT) AS wk,
         CAST(extract({DOW} FROM o_orderdate) AS INT) AS dow,
         sum(CAST(round(o_totalprice + 1e-9, 2) AS DECIMAL(18,2))) AS total
  FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY CAST(year(o_orderdate) AS INT),
           CAST(weekofyear(o_orderdate) AS INT),
           CAST(extract({DOW} FROM o_orderdate) AS INT)
),
pivoted AS (
  SELECT yr, wk,
         CAST(sum(CASE WHEN dow = 1 THEN total END) AS DOUBLE) AS mon,
         CAST(sum(CASE WHEN dow = 2 THEN total END) AS DOUBLE) AS tue,
         CAST(sum(CASE WHEN dow = 3 THEN total END) AS DOUBLE) AS wed,
         CAST(sum(CASE WHEN dow = 4 THEN total END) AS DOUBLE) AS thu,
         CAST(sum(CASE WHEN dow = 5 THEN total END) AS DOUBLE) AS fri,
         CAST(sum(CASE WHEN dow = 6 THEN total END) AS DOUBLE) AS sat,
         CAST(sum(CASE WHEN dow = 7 THEN total END) AS DOUBLE) AS sun
  FROM wk GROUP BY yr, wk
)
SELECT a.wk AS wk,
       round(b.mon / a.mon + 1e-9, 6) AS mon_ratio,
       round(b.tue / a.tue + 1e-9, 6) AS tue_ratio,
       round(b.wed / a.wed + 1e-9, 6) AS wed_ratio,
       round(b.thu / a.thu + 1e-9, 6) AS thu_ratio,
       round(b.fri / a.fri + 1e-9, 6) AS fri_ratio,
       round(b.sat / a.sat + 1e-9, 6) AS sat_ratio,
       round(b.sun / a.sun + 1e-9, 6) AS sun_ratio
FROM pivoted a
JOIN pivoted b ON a.wk = b.wk AND a.yr = 1996 AND b.yr = 1997
"""

_Q2_SPARK = _Q2_TEMPLATE.replace("{DOW}", "DAYOFWEEK_ISO")
_Q2_ORACLE = _Q2_TEMPLATE.replace("{DOW}", "ISODOW")


@query("tpcds_q2_weekly_dow_ratio", oracle=_Q2_ORACLE)
def tpcds_q2_weekly_dow_ratio(spark, sf_dir):
    """TPC-DS q2 plan signature: weekly sales pivoted to day-of-week
    columns (CASE pivot over the (year, week, dow) aggregate), then the
    SAME pivoted relation self-joined on week with a year-offset — the
    week-over-week 7-ratio report. ISO week + ISO dow on both engines
    (Spark extract field DAYOFWEEK_ISO = DuckDB ISODOW, Mon=1..Sun=7;
    plain DOW disagrees: Spark 1..7, DuckDB 0..6 — measured, hence the
    one-keyword template). Missing (week, dow) cells are NULL — both
    engines see the same data, so NULL ratios are themselves
    deterministic outputs (no cell gate; at tiny SFs a 14-cell
    requirement empties the result).
    Scale: the pivot grain is |weeks x 7| rows — the self-join is a
    driver-sized broadcast at any SF."""
    return run_sql(spark, _Q2_SPARK, sf_dir)


# --- q31: quarter-over-quarter share growth, two channels x 3 quarters ------

_Q31_SQL = """
WITH ss AS (
  SELECT n.n_name AS nation, CAST(quarter(o.o_orderdate) AS INT) AS q,
         sum(CAST(round(o.o_totalprice + 1e-9, 2) AS DECIMAL(18,2))) AS total
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) <= 3
  GROUP BY n.n_name, CAST(quarter(o.o_orderdate) AS INT)
),
ws AS (
  SELECT n.n_name AS nation, CAST(quarter(l.l_shipdate) AS INT) AS q,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2))) AS total
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE year(l.l_shipdate) = 1996 AND quarter(l.l_shipdate) <= 3
  GROUP BY n.n_name, CAST(quarter(l.l_shipdate) AS INT)
)
SELECT ss1.nation,
       round(CAST(ws2.total AS DOUBLE) / CAST(ws1.total AS DOUBLE) + 1e-9, 6)
           AS web_q1_q2,
       round(CAST(ws3.total AS DOUBLE) / CAST(ws2.total AS DOUBLE) + 1e-9, 6)
           AS web_q2_q3,
       round(CAST(ss2.total AS DOUBLE) / CAST(ss1.total AS DOUBLE) + 1e-9, 6)
           AS store_q1_q2,
       round(CAST(ss3.total AS DOUBLE) / CAST(ss2.total AS DOUBLE) + 1e-9, 6)
           AS store_q2_q3
FROM ss ss1 JOIN ss ss2 ON ss1.nation = ss2.nation
JOIN ss ss3 ON ss1.nation = ss3.nation
JOIN ws ws1 ON ss1.nation = ws1.nation
JOIN ws ws2 ON ss1.nation = ws2.nation
JOIN ws ws3 ON ss1.nation = ws3.nation
WHERE ss1.q = 1 AND ss2.q = 2 AND ss3.q = 3
  AND ws1.q = 1 AND ws2.q = 2 AND ws3.q = 3
  AND round(CAST(ws2.total AS DOUBLE) / CAST(ws1.total AS DOUBLE) + 1e-9, 6)
      > round(CAST(ss2.total AS DOUBLE) / CAST(ss1.total AS DOUBLE) + 1e-9, 6)
  AND round(CAST(ws3.total AS DOUBLE) / CAST(ws2.total AS DOUBLE) + 1e-9, 6)
      > round(CAST(ss3.total AS DOUBLE) / CAST(ss2.total AS DOUBLE) + 1e-9, 6)
"""


@query("tpcds_q31_share_growth", oracle=_Q31_SQL)
def tpcds_q31_share_growth(spark, sf_dir):
    """TPC-DS q31 plan signature: two channel CTEs at (nation, quarter)
    grain, each instantiated THREE times (six join arms on the nation
    key) — nations whose web-channel growth beat the store channel in
    BOTH consecutive quarter transitions. The chained double-ratio
    comparison is q31's distinct feature vs q4/q11's single-cut.
    Scale: both CTEs aggregate to |nations x 3| rows before the 6-way
    join — the join tree is a driver-sized broadcast chain at any SF;
    the cost is the two fact aggregations, each one shuffle."""
    return run_sql(spark, _Q31_SQL, sf_dir)


# --- q39: per-(supplier, month) coefficient of variation, month+1 self-join -

_Q39_SQL = """
WITH inv AS (
  SELECT l_suppkey AS supp, CAST(month(l_shipdate) AS INT) AS mon,
         round(avg(l_quantity) + 1e-9, 4) AS mean_q,
         round(stddev_samp(l_quantity) + 1e-9, 4) AS std_q,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem
  WHERE year(l_shipdate) = 1996
  GROUP BY l_suppkey, CAST(month(l_shipdate) AS INT)
  HAVING count(*) > 1
),
cov AS (
  SELECT supp, mon, mean_q, std_q,
         round(std_q / mean_q + 1e-9, 6) AS cov
  FROM inv WHERE mean_q > 0
)
SELECT c1.supp AS s_suppkey, c1.mon AS mon1,
       c1.cov AS cov1, c2.mon AS mon2, c2.cov AS cov2
FROM cov c1
JOIN cov c2 ON c1.supp = c2.supp AND c2.mon = c1.mon + 1
WHERE c1.cov > 0.5 AND c2.cov > 0.5
"""


@query("tpcds_q39_inventory_cov", oracle=_Q39_SQL)
def tpcds_q39_inventory_cov(spark, sf_dir):
    """TPC-DS q39 plan signature: per-(supplier, month) quantity mean and
    sample stddev -> coefficient of variation, the aggregate SELF-JOINED
    on (supplier, month+1) keeping supplier-month pairs where BOTH
    consecutive months are high-variance (q39's inventory consistency
    audit; the corpus's only stddev-derived join predicate). mean/stddev
    4dp-rounded with the 1e-9 shift before the 6dp cov cut, so the 0.5
    threshold reads identical rounded values on both engines. Scale: the
    self-join input is (supplier x 12)-grain; both arms share one
    supplier-keyed exchange."""
    return run_sql(spark, _Q39_SQL, sf_dir)


# --- q6: dimension-derived price threshold + HAVING floor --------------------

_Q6_SQL = """
WITH cat_avg AS (
  SELECT p_type, round(avg(CAST(p_size AS DOUBLE)) + 1e-9, 4) AS avg_size
  FROM part GROUP BY p_type
)
SELECT /*+ BROADCAST(n, a) */ n.n_name,
       CAST(count(*) AS BIGINT) AS n_oversized_buys
FROM customer c
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN cat_avg a  ON p.p_type = a.p_type
WHERE CAST(p.p_size AS DOUBLE) > round(1.2 * a.avg_size + 1e-9, 4)
GROUP BY n.n_name
HAVING count(*) >= 10
"""


@query("tpcds_q6_oversized_buyers", oracle=_Q6_SQL)
def tpcds_q6_oversized_buyers(spark, sf_dir):
    """TPC-DS q6 plan signature: buyers of items >1.2x their CATEGORY
    average — the threshold comes from a dimension-derived aggregate
    (per-type average SIZE; the testdata's retail prices are near-
    uniform within a type, max 1.2% over average at every SF, so q6's
    price threshold would be vacuously empty — p_size spans 1..50 and
    keeps the selectivity real) joined back onto the item dimension
    before the fact join, finished by a HAVING count floor (q6's 'at
    least 10 customers'). Distinct from q1: the comparison aggregate is
    over the DIMENSION, not the fact, so the whole threshold side is a
    broadcast at any scale. Both round(...,4) sides carry the 1e-9
    shift, so the 1.2x boundary reads identically."""
    return run_sql(spark, _Q6_SQL, sf_dir)


# --- q75: year-over-year decline with returns netted into the grain ---------

_Q75_SQL = """
WITH sales AS (
  SELECT p.p_brand AS brand, CAST(year(l.l_shipdate) AS INT) AS yr,
         CAST(round(sum(CASE WHEN l.l_returnflag = 'R' THEN -l.l_quantity
                             ELSE l.l_quantity END)) AS BIGINT) AS sales_cnt,
         sum(CAST(round(CASE WHEN l.l_returnflag = 'R'
                             THEN -l.l_extendedprice
                             ELSE l.l_extendedprice END + 1e-9, 2)
                  AS DECIMAL(18,2))) AS sales_amt
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1996, 1997)
  GROUP BY p.p_brand, CAST(year(l.l_shipdate) AS INT)
)
SELECT curr.brand, curr.yr,
       prev.sales_cnt AS prev_cnt, curr.sales_cnt AS curr_cnt,
       CAST(prev.sales_cnt - curr.sales_cnt AS BIGINT) AS cnt_decline,
       CAST(round(prev.sales_amt - curr.sales_amt, 2) AS DOUBLE)
           AS amt_decline,
       round(CAST(curr.sales_cnt AS DOUBLE) / prev.sales_cnt + 1e-9, 6)
           AS cnt_ratio
FROM sales curr
JOIN sales prev ON curr.brand = prev.brand AND curr.yr = prev.yr + 1
WHERE prev.sales_cnt > 0
ORDER BY cnt_ratio, curr.brand, curr.yr
LIMIT 50
"""


@query("tpcds_q75_yoy_decline", oracle=_Q75_SQL)
def tpcds_q75_yoy_decline(spark, sf_dir):
    """TPC-DS q75 plan signature: the year-over-year DECLINE report —
    per-(brand, year) sales with RETURNS NETTED INTO THE GRAIN (returned
    rows contribute negative quantity/amount — q75 subtracts cr/sr/wr
    before aggregating), the aggregate self-joined on (brand, year+1),
    keeping brands whose unit count fell below 0.9x. Two measures
    (count + DECIMAL amount) flow through the same join — q75's
    multi-measure diff columns, reported as the 50 STEEPEST declines
    (ascending ratio top-k with full tie-break; a fixed <0.9 cut goes
    vacuously empty at sf>=0.1 as per-brand counts concentrate).
    Scale: the self-join input is (brand x years)-grain; one
    brand-keyed exchange feeds both arms; the top-k is
    TakeOrderedAndProject, never a global sort."""
    return run_sql(spark, _Q75_SQL, sf_dir)


# --- q58: cross-channel parity items (revenue within band of 3-way avg) -----

_Q58_SQL = """
WITH ss AS (
  SELECT l_partkey AS item,
         sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2))) AS rev
  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey
),
cs AS (
  SELECT l_partkey AS item,
         sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2))) AS rev
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey
),
ws AS (
  SELECT l_partkey AS item,
         sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 2)
                  AS DECIMAL(18,2))) AS rev
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey
)
SELECT ss.item AS p_partkey,
       CAST(ss.rev AS DOUBLE) AS ss_rev,
       CAST(cs.rev AS DOUBLE) AS cs_rev,
       CAST(ws.rev AS DOUBLE) AS ws_rev,
       round((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE)
              + CAST(ws.rev AS DOUBLE)) / 3 + 1e-9, 4) AS avg_rev
FROM ss
JOIN cs ON ss.item = cs.item
JOIN ws ON ss.item = ws.item
WHERE round(CAST(ss.rev AS DOUBLE)
            / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE)
                + CAST(ws.rev AS DOUBLE)) / 3) + 1e-9, 6)
          BETWEEN 0.9 AND 1.1
  AND round(CAST(cs.rev AS DOUBLE)
            / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE)
                + CAST(ws.rev AS DOUBLE)) / 3) + 1e-9, 6)
          BETWEEN 0.9 AND 1.1
  AND round(CAST(ws.rev AS DOUBLE)
            / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE)
                + CAST(ws.rev AS DOUBLE)) / 3) + 1e-9, 6)
          BETWEEN 0.9 AND 1.1
"""


@query("tpcds_q58_channel_parity_items", oracle=_Q58_SQL)
def tpcds_q58_channel_parity_items(spark, sf_dir):
    """TPC-DS q58 plan signature: items whose revenue is in PARITY across
    all three channels — three per-item channel aggregates 3-way
    inner-joined on the item key, each channel's share of the 3-way
    average band-checked (within 10%). The triple BETWEEN over a shared
    denominator is q58's feature: every band cut goes through a
    6dp-rounded ratio so the 0.9/1.1 edges read identically on both
    engines. Scale: three item-grain aggregates off ONE fact scan
    (Catalyst shares the scan via plan dedup at best, or 3 pushed-filter
    scans at worst); the 3-way join reuses the item-key exchange."""
    return run_sql(spark, _Q58_SQL, sf_dir)


# --- q99: fulfillment-lag bands per priority (grouped CASE bands) -----------

# one template, two dialect day-difference spellings: Spark datediff(end,
# start), DuckDB date_diff('day', start, end).
_Q99_TEMPLATE = """
SELECT o.o_orderpriority,
       CAST(sum(CASE WHEN {LAG} <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS d30,
       CAST(sum(CASE WHEN {LAG} > 30 AND {LAG} <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d60,
       CAST(sum(CASE WHEN {LAG} > 60 AND {LAG} <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d90,
       CAST(sum(CASE WHEN {LAG} > 90 AND {LAG} <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d120,
       CAST(sum(CASE WHEN {LAG} > 120 THEN 1 ELSE 0 END) AS BIGINT)
           AS dmore
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""

_Q99_SPARK = _Q99_TEMPLATE.replace("{LAG}", "datediff(l.l_shipdate, o.o_orderdate)")
_Q99_ORACLE = _Q99_TEMPLATE.replace(
    "{LAG}", "date_diff('day', o.o_orderdate, l.l_shipdate)"
)


@query("tpcds_q99_ship_lag_bands", oracle=_Q99_ORACLE)
def tpcds_q99_ship_lag_bands(spark, sf_dir):
    """TPC-DS q99 plan signature: fulfillment-lag BANDS — every line's
    ship lag (days between order and ship date, whole-day integer on
    both engines; Spark datediff vs DuckDB date_diff spelling is the
    only dialect split) bucketed 30/60/90/120 by CASE inside conditional
    sums, grouped per priority. Distinct from q88's scalar fan: ONE scan
    and ONE grouped aggregate produce all five bands as columns — the
    banding is in the aggregate expressions, not in per-band subqueries.
    Scale: single fact-fact join on orderkey + one ~5-row aggregate;
    nothing else."""
    return run_sql(spark, _Q99_SPARK, sf_dir)


# --- q16: global COUNT(DISTINCT) readout behind EXISTS + NOT EXISTS ---------

_Q16_SQL = """
SELECT CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS distinct_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(round(o.o_totalprice + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l1 JOIN lineitem l2
                ON l1.l_orderkey = l2.l_orderkey
               AND l1.l_suppkey <> l2.l_suppkey
              WHERE l1.l_orderkey = o.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = o.o_orderkey
                    AND l3.l_returnflag = 'R')
"""


# Round-12 optimization: same single-aggregate rewrite as q95 (see the
# _Q95_ENGINE_SQL equivalence proof — identical EXISTS/NOT EXISTS block,
# different date window and readout). Oracle keeps the original text.
_Q16_ENGINE_SQL = """
WITH ok AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING min(l_suppkey) <> max(l_suppkey)
     AND max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 0
)
SELECT CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS distinct_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(round(o.o_totalprice + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders o
JOIN ok ON ok.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
"""


@query("tpcds_q16_distinct_shippers", oracle=_Q16_SQL)
def tpcds_q16_distinct_shippers(spark, sf_dir):
    """TPC-DS q16 plan signature: a GLOBAL one-row readout mixing
    count(DISTINCT customer) with plain count/sum over an EXISTS
    (multi-supplier order, fact self-join) + NOT EXISTS (no returns)
    filtered slice — q16's 'order count / total shipping cost' report.
    Distinct from q95 (which groups per priority): the single-row global
    aggregate forces Catalyst's two-phase distinct expansion (Expand +
    re-aggregate). The oracle keeps the literal EXISTS text; the engine
    runs the q95-style single-scan aggregate rewrite (_Q16_ENGINE_SQL) —
    the distinct expansion now stacks on one join instead of semi+anti."""
    return run_sql(spark, _Q16_ENGINE_SQL, sf_dir)


# --- q87: EXCEPT chain across three channel customer sets -------------------

_Q87_SQL = """
WITH store_c AS (
  SELECT DISTINCT o_custkey AS cust FROM orders
  WHERE year(o_orderdate) = 1996
),
ship_c AS (
  SELECT DISTINCT o.o_custkey AS cust
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(l.l_shipdate) = 1996 AND l.l_returnflag = 'R'
),
web_c AS (
  SELECT DISTINCT o_custkey AS cust FROM orders
  WHERE year(o_orderdate) = 1996 AND o_orderpriority = '1-URGENT'
),
only_store AS (
  SELECT cust FROM store_c
  EXCEPT
  SELECT cust FROM ship_c
  EXCEPT
  SELECT cust FROM web_c
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_store_only
FROM only_store s JOIN customer c ON s.cust = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("tpcds_q87_channel_except_chain", oracle=_Q87_SQL)
def tpcds_q87_channel_except_chain(spark, sf_dir):
    """TPC-DS q87/q38 plan signature: a chained EXCEPT across three
    channel customer sets (store minus returns-channel minus
    urgent-channel) — Catalyst lowers each EXCEPT to a left ANTI join
    after ReplaceExceptWithAntiJoin, stacked two deep over the DISTINCT
    aggregates, then the surviving set joins back to the dimension for
    segment counts. The corpus's q14 covers INTERSECT; this is the EXCEPT
    twin. Scale: all three sets and both anti joins share the custkey
    hash; the join-back is |survivors|-sized."""
    return run_sql(spark, _Q87_SQL, sf_dir)


# --- q90: scalar-over-scalar ratio readout (am/pm) ---------------------------

_Q90_SQL = """
WITH am AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM events
  WHERE CAST(extract(HOUR FROM ts) AS INT) BETWEEN 6 AND 11
),
pm AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM events
  WHERE CAST(extract(HOUR FROM ts) AS INT) BETWEEN 18 AND 23
)
SELECT am.n AS am_events, pm.n AS pm_events,
       round(am.n * 1.0 / nullif(pm.n, 0) + 1e-9, 6) AS am_pm_ratio
FROM am, pm
"""
# nullif guard (r11 ADVICE): on a degenerate corpus with zero evening
# events Spark's x/0 is NULL but DuckDB's (IEEE default) is inf — nullif
# makes both engines return NULL identically.


@query("tpcds_q90_am_pm_ratio", oracle=_Q90_SQL)
def tpcds_q90_am_pm_ratio(spark, sf_dir):
    """TPC-DS q90 plan signature: the scalar-over-scalar RATIO readout —
    two independent one-row aggregates (morning vs evening event counts,
    hour extracted from the timestamp) cross-joined into a single-row
    division. Distinct from q88 (which fans 8 scalar COLUMNS): q90's
    shape is two separate subquery scans whose 1-row results meet in a
    BroadcastNestedLoopJoin — the minimal legal cross join, both sides
    scalar. Scale: two pushed-predicate scans + 1-row broadcasts;
    nothing shuffles."""
    return run_sql(spark, _Q90_SQL, sf_dir)


# ============================================================================
# Round-12 widening (33 -> 39 shapes; r11 verdict task 5): the remaining
# upstream perf-suite plan features not yet signature-matched. q57 is NOT
# re-added — q47 above IS the q47/q57 deviation twin (same plan, different
# partition dimension); these six are the genuinely novel features.
# ============================================================================

# --- q21/q37/q82: inventory before/after pivot inside a date window ---------

_Q21_SQL = """
WITH inv AS (
  SELECT l.l_suppkey AS wh, l.l_partkey AS item,
         sum(CASE WHEN l.l_shipdate <  TIMESTAMP '1998-01-01'
                  THEN l.l_quantity ELSE 0 END) AS inv_before,
         sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1998-01-01'
                  THEN l.l_quantity ELSE 0 END) AS inv_after
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size BETWEEN 10 AND 40
    AND l.l_shipdate >= TIMESTAMP '1996-07-01'
    AND l.l_shipdate <  TIMESTAMP '1999-07-01'
  GROUP BY l.l_suppkey, l.l_partkey
)
SELECT wh, item,
       CAST(round(inv_before, 2) AS DOUBLE) AS inv_before,
       CAST(round(inv_after, 2)  AS DOUBLE) AS inv_after
FROM inv
WHERE inv_before > 0
  AND round(inv_after / inv_before + 1e-9, 6) BETWEEN 0.666667 AND 1.5
ORDER BY wh, item
LIMIT 100
"""


@query("tpcds_q21_inventory_shift", oracle=_Q21_SQL)
def tpcds_q21_inventory_shift(spark, sf_dir):
    """TPC-DS q21/q37/q82 plan signature: the inventory before/after PIVOT
    — one date-windowed fact scan split by a pivot date into two
    conditional sums per (warehouse, item), an item-dimension filter join,
    then a ratio BAND cut (2/3..3/2) and a keyed top-100. The feature vs
    q39 (stddev cov self-join) is the CASE-pivot inside one aggregation:
    no self-join, both sides of the pivot come from a single scan pass.
    Scale: the date window prunes the scan; the (suppkey, partkey) group
    is the natural shuffle key; the part join broadcasts (dimension).
    Quantities are integer-valued doubles (exact sums); the ratio cut is
    6dp-rounded on both engines."""
    return run_sql(spark, _Q21_SQL, sf_dir)


# --- q35/q69: EXISTS + double NOT EXISTS demographic aggregate stack --------

_Q69_SQL = """
SELECT c.c_nationkey, c.c_mktsegment,
       CAST(count(*) AS BIGINT)               AS n_customers,
       CAST(round(min(c.c_acctbal), 2) AS DOUBLE) AS min_bal,
       CAST(round(max(c.c_acctbal), 2) AS DOUBLE) AS max_bal,
       round(avg(c.c_acctbal) + 1e-9, 4)      AS avg_bal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  AND NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.user_id = c.c_custkey
                    AND e.event_type = 'error')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
GROUP BY c.c_nationkey, c.c_mktsegment
"""


@query("tpcds_q69_active_without_incident", oracle=_Q69_SQL)
def tpcds_q69_active_without_incident(spark, sf_dir):
    """TPC-DS q35/q69 plan signature: a dimension row kept by one EXISTS
    (bought in the store channel) and rejected by TWO NOT EXISTS on other
    channels (no web error event, no F-status order), then a multi-column
    demographic GROUP BY carrying a count + min/max/avg stack. Distinct
    from q10 (OR-of-EXISTS chain — ExistenceJoin): here Catalyst stacks
    one LeftSemi and two LeftAnti joins on the same custkey before the
    aggregate. Scale: all three subqueries key by custkey, so AQE shares
    one exchange side; the agg output is bounded by |nation x segment|."""
    return run_sql(spark, _Q69_SQL, sf_dir)


# --- q66: two-channel union -> 24-column monthly CASE pivot ------------------

def _q66_sql() -> str:
    mons = ["jan", "feb", "mar", "apr", "may", "jun",
            "jul", "aug", "sep", "oct", "nov", "dec"]
    cols = []
    for i, m in enumerate(mons, start=1):
        cols.append(
            f"       CAST(round(sum(CASE WHEN mon = {i} THEN "
            f"CAST(sales AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) "
            f"END), 2) AS DOUBLE) AS {m}_sales"
        )
    for i, m in enumerate(mons, start=1):
        cols.append(
            f"       CAST(round(sum(CASE WHEN mon = {i} THEN "
            f"CAST(net AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) "
            f"END), 2) AS DOUBLE) AS {m}_net"
        )
    body = ",\n".join(cols)
    return f"""
WITH chan AS (
  SELECT s.s_nationkey AS wh, CAST(month(l.l_shipdate) AS INT) AS mon,
         round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2) AS sales,
         round(l.l_extendedprice * l.l_discount + 1e-9, 2)       AS net
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  UNION ALL
  SELECT c.c_nationkey AS wh, CAST(month(o.o_orderdate) AS INT) AS mon,
         round(o.o_totalprice + 1e-9, 2)        AS sales,
         round(o.o_totalprice * 0.05 + 1e-9, 2) AS net
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT wh,
{body}
FROM chan
GROUP BY wh
"""


_Q66_SQL = _q66_sql()


@query("tpcds_q66_monthly_ship_pivot", oracle=_Q66_SQL)
def tpcds_q66_monthly_ship_pivot(spark, sf_dir):
    """TPC-DS q66 plan signature: the WIDE conditional pivot — a
    two-channel UNION ALL (store lineitem via supplier-nation warehouse,
    catalog orders via customer-nation) feeding ONE hash aggregate with
    24 CASE-guarded money columns (12 monthly sales + 12 monthly nets).
    The feature is agg-expression width over a single pass (no Expand, no
    per-month scans) — the optimizer must carry 24 partial buffers per
    key. Distinct from q2 (7-column dow pivot whose point is the YoY
    self-join on the pivoted rows). Scale: both branches prune to one
    year at the scan; the union shuffles once on the 25-value warehouse
    key; partial aggregation collapses each map task to |wh| rows."""
    return run_sql(spark, _Q66_SQL, sf_dir)


# --- q9: CASE choosing BETWEEN scalar subqueries, 5-bucket fan ---------------

def _q9_bucket(lo: int, hi: int, thresh: float) -> str:
    return f"""
  CASE WHEN (SELECT count(*) FROM lineitem
             WHERE l_quantity BETWEEN {lo} AND {hi})
            > (SELECT count(*) FROM lineitem) * {thresh}
       THEN (SELECT round(avg(l_extendedprice) + 1e-9, 4) FROM lineitem
             WHERE l_quantity BETWEEN {lo} AND {hi})
       ELSE (SELECT round(avg(l_discount) + 1e-9, 6) FROM lineitem
             WHERE l_quantity BETWEEN {lo} AND {hi})
  END AS bucket_{lo}_{hi}"""


_Q9_SQL = "SELECT" + ",".join(
    _q9_bucket(lo, lo + 9, th)
    for lo, th in ((1, 0.18), (11, 0.22), (21, 0.18), (31, 0.22), (41, 0.18))
)


@query("tpcds_q9_case_bucket_fan", oracle=_Q9_SQL)
def tpcds_q9_case_bucket_fan(spark, sf_dir):
    """TPC-DS q9 plan signature: a single-row SELECT whose five output
    columns are each a CASE that first evaluates a scalar-count subquery
    against a threshold and then CHOOSES between two further scalar
    subqueries (avg price vs avg discount over the same quantity band) —
    15 scalar subqueries over one fact table, with conditional branch
    selection. Distinct from q88 (a plain fan of 8 independent counts
    cross-joined): q9's subqueries nest INSIDE an expression, so Catalyst
    plans them as reusable ScalarSubquery nodes under one project.
    Scale: each subquery is a pushed-predicate scan + 1-row aggregate;
    nothing shuffles beyond partial-agg merges. Counts are exact, so the
    branch choice can never diverge across engines; averages are
    epsilon-shift rounded."""
    return run_sql(spark, _Q9_SQL, sf_dir)


# --- q13/q48: OR-of-ANDs selectivity bands over a 3-way join ----------------

_Q13_SQL = """
SELECT CAST(count(*) AS BIGINT)             AS n,
       round(avg(l.l_quantity) + 1e-9, 4)   AS avg_qty,
       round(avg(o.o_totalprice) + 1e-9, 4) AS avg_price,
       CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 + 1e-9, 2) AS DECIMAL(18,2))), 2)
            AS DOUBLE)                      AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE (c.c_mktsegment = 'BUILDING'
       AND o.o_totalprice BETWEEN 1000 AND 150000
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (c.c_mktsegment = 'MACHINERY'
       AND o.o_totalprice BETWEEN 50000 AND 300000
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (c.c_mktsegment = 'AUTOMOBILE'
       AND o.o_totalprice BETWEEN 100000 AND 500000
       AND l.l_quantity BETWEEN 25 AND 50)
"""


@query("tpcds_q13_or_band_selectivity", oracle=_Q13_SQL)
def tpcds_q13_or_band_selectivity(spark, sf_dir):
    """TPC-DS q13/q48 plan signature: a single global readout over a
    3-way join whose residual predicate is an OR of three AND-bands,
    each band correlating columns from DIFFERENT join inputs (segment
    from customer, price from orders, quantity from lineitem). The
    optimizer cannot push the disjunction to any single scan — only the
    per-column envelope is pushable — so the bands must survive as a
    post-join filter; the shape pins that Catalyst still prunes columns
    and keeps the join order despite the cross-table OR. Scale: joins
    key on orderkey/custkey as usual; the residual is evaluated
    streaming, no extra exchange."""
    return run_sql(spark, _Q13_SQL, sf_dir)


# --- q98: revenue share via windowed sum over an aggregate -------------------

_Q98_SQL = """
WITH agg AS (
  SELECT p.p_type AS class, p.p_brand AS brand,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   + 1e-9, 2) AS DECIMAL(18,2))), 2)
              AS DOUBLE) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY p.p_type, p.p_brand
)
SELECT class, brand, rev AS revenue,
       round(rev * 100.0 / sum(rev) OVER (PARTITION BY class) + 1e-9, 4)
           AS revenueratio
FROM agg
"""


@query("tpcds_q98_class_revenue_share", oracle=_Q98_SQL)
def tpcds_q98_class_revenue_share(spark, sf_dir):
    """TPC-DS q98 plan signature: the SHARE-OF-CLASS readout — a windowed
    sum(rev) OVER (PARTITION BY class) dividing each (class, brand)
    aggregate by its class total, i.e. a window directly over an
    aggregate with NO ordering (whole-partition frame). Distinct from
    q47 (ordered avg + lag/lead context) and q67 (rank top-k): the
    unordered full-partition frame lowers to a single WindowExec with no
    sort-based running state. Scale: the window repartitions by class
    only after the aggregate has collapsed the fact table to
    |class x brand| rows; cents-quantized doubles make the share stable
    to the 4dp round."""
    return run_sql(spark, _Q98_SQL, sf_dir)


# --- q44: best/worst rank self-join (two opposite-order rankings) -----------

_Q44_SQL = """
WITH perf AS (
  SELECT l_partkey,
         round(avg(round(l_extendedprice * (1 - l_discount) + 1e-9, 2))
               + 1e-9, 4) AS avg_rev
  FROM lineitem
  GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, avg_rev,
         CAST(rank() OVER (ORDER BY avg_rev DESC, l_partkey) AS INT)
             AS rnk_best,
         CAST(rank() OVER (ORDER BY avg_rev ASC, l_partkey DESC) AS INT)
             AS rnk_worst
  FROM perf
)
SELECT b.rnk_best                AS rnk,
       b.l_partkey               AS best_item,
       round(b.avg_rev + 1e-9, 4) AS best_avg_rev,
       w.l_partkey               AS worst_item,
       round(w.avg_rev + 1e-9, 4) AS worst_avg_rev
FROM ranked b
JOIN ranked w ON b.rnk_best = w.rnk_worst
WHERE b.rnk_best <= 10
ORDER BY rnk
"""


@query("tpcds_q44_best_worst_rank_join", oracle=_Q44_SQL)
def tpcds_q44_best_worst_rank_join(spark, sf_dir):
    """TPC-DS q44 plan signature: TWO opposite-direction rankings of the
    same aggregate joined ON THE RANK VALUE — the best-vs-worst pairing
    report. Distinct from q49 (union of ranked subqueries, filtered by
    OR-of-ranks) and q67 (rank inside rollup partitions): q44's join key
    IS the rank itself, so the optimizer sees a self-join of two window
    outputs whose only equi-key is computed by the windows. Scale: the
    aggregate collapses the fact to |partkey| rows first; both windows
    are global sorts over that collapsed grain (bounded by the dimension
    size, not the fact), and the rank<=10 cut broadcasts one side. Ranks
    order by the 4dp-rounded average + a unique partkey tie-break, so
    rank values can never diverge across engines."""
    return run_sql(spark, _Q44_SQL, sf_dir)


# --- q65: aggregate-derived threshold joined at a finer grain ----------------

_Q65_SQL = """
WITH sp AS (
  SELECT CAST(l_suppkey % 10 AS INT) AS store, l_partkey,
         CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   + 1e-9, 2) AS DECIMAL(18,2))), 2)
              AS DOUBLE) AS rev
  FROM lineitem
  GROUP BY CAST(l_suppkey % 10 AS INT), l_partkey
),
sc AS (
  SELECT store, round(avg(rev) + 1e-9, 4) AS avg_rev
  FROM sp
  GROUP BY store
)
SELECT sp.store, sp.l_partkey, sp.rev, sc.avg_rev
FROM sp
JOIN sc ON sp.store = sc.store
WHERE round(sp.rev / sc.avg_rev + 1e-9, 6) <= 0.5
"""


@query("tpcds_q65_below_average_items", oracle=_Q65_SQL)
def tpcds_q65_below_average_items(spark, sf_dir):
    """TPC-DS q65 plan signature: a threshold DERIVED from a coarser
    re-aggregation of the same aggregate — per-(store,item) revenue
    joined against per-store average revenue, keeping items at <=50% of
    their store's average. Distinct from q6 (threshold from a DIMENSION
    table) and q1 (correlated scalar per group): here the threshold side
    is a second aggregation OF THE FIRST aggregate's output, so Catalyst
    builds a two-level agg over one exchange and re-joins on the coarse
    key. Scale: the store-level side is 10 rows (broadcast); the
    (store,item) grain bounds the join output; the membership cut is
    6dp-rounded on both engines."""
    return run_sql(spark, _Q65_SQL, sf_dir)


# --- q28: six-band scalar fan with a DISTINCT aggregate per band -------------

def _q28_band(lo, hi, price_lo, price_hi, disc_lo, disc_hi, tax_lo, tax_hi):
    return f"""
  SELECT CAST(round(sum(CAST(round(l_extendedprice + 1e-9, 2)
                              AS DECIMAL(18,2))) / count(*) + 1e-9, 4)
              AS DOUBLE) AS avg_price,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS ndv
  FROM lineitem
  WHERE l_quantity BETWEEN {lo} AND {hi}
    AND (l_extendedprice BETWEEN {price_lo} AND {price_hi}
         OR l_discount BETWEEN {disc_lo} AND {disc_hi}
         OR l_tax BETWEEN {tax_lo} AND {tax_hi})"""


_Q28_SQL = f"""
WITH b1 AS ({_q28_band(1, 8, 1000, 30000, 0.00, 0.02, 0.06, 0.08)}),
     b2 AS ({_q28_band(9, 16, 20000, 50000, 0.03, 0.05, 0.00, 0.02)}),
     b3 AS ({_q28_band(17, 24, 40000, 70000, 0.06, 0.08, 0.03, 0.05)}),
     b4 AS ({_q28_band(25, 32, 60000, 90000, 0.09, 0.10, 0.06, 0.08)}),
     b5 AS ({_q28_band(33, 40, 1000, 50000, 0.00, 0.04, 0.00, 0.04)}),
     b6 AS ({_q28_band(41, 50, 50000, 105000, 0.05, 0.10, 0.04, 0.08)})
SELECT b1.avg_price AS avg1, b1.cnt AS cnt1, b1.ndv AS ndv1,
       b2.avg_price AS avg2, b2.cnt AS cnt2, b2.ndv AS ndv2,
       b3.avg_price AS avg3, b3.cnt AS cnt3, b3.ndv AS ndv3,
       b4.avg_price AS avg4, b4.cnt AS cnt4, b4.ndv AS ndv4,
       b5.avg_price AS avg5, b5.cnt AS cnt5, b5.ndv AS ndv5,
       b6.avg_price AS avg6, b6.cnt AS cnt6, b6.ndv AS ndv6
FROM b1, b2, b3, b4, b5, b6
"""


@query("tpcds_q28_distinct_band_fan", oracle=_Q28_SQL)
def tpcds_q28_distinct_band_fan(spark, sf_dir):
    """TPC-DS q28 plan signature: SIX band-restricted one-row aggregates
    — each carrying a COUNT(DISTINCT) next to plain aggs, each over an
    OR-of-ranges residual — cross-joined into a single readout row. The
    delta vs q88 (the pinned scalar-COUNT fan) is the DISTINCT inside
    every scalar branch: each band plans the single-distinct two-phase
    rewrite — a 4-level HashAggregate stack whose inner pair re-keys the
    partial aggregate BY THE DISTINCT COLUMN before the final fold (the
    multi-distinct Expand flavor is pinned separately in
    aggregates.py's agg_multi_distinct) — so the plan is a fan of 6
    independent distinct-agg pipelines folded by AQE into one-row
    broadcast joins (the allowed scalar-attach BNLJ shape). Scale: each
    band is one fact scan with its filter pushed down; the distinct
    re-shuffle is per-band on the distinct column; the final 6-way join
    is one row per side. Averages divide an
    exact DECIMAL sum of 2dp-quantized prices by the row count (never a
    double accumulation), rounded 4dp."""
    return run_sql(spark, _Q28_SQL, sf_dir)


# --- q30: return ratio vs 1.2x the coarser-group average, detail top-k -------

_Q30_SQL = """
WITH ctr AS (
  SELECT c.c_nationkey AS state, o.o_custkey AS cust,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   + 1e-9, 2) AS DECIMAL(18,2))), 2)
              AS DOUBLE) AS total_return
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R'
  GROUP BY c.c_nationkey, o.o_custkey
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment, ctr1.total_return
FROM ctr ctr1
JOIN customer c ON ctr1.cust = c.c_custkey
WHERE ctr1.total_return > (
  SELECT round(avg(ctr2.total_return) * 1.2 + 1e-9, 6)
  FROM ctr ctr2
  WHERE ctr2.state = ctr1.state)
ORDER BY ctr1.total_return DESC, c.c_custkey
LIMIT 50
"""


@query("tpcds_q30_above_state_avg_returns", oracle=_Q30_SQL)
def tpcds_q30_above_state_avg_returns(spark, sf_dir):
    """TPC-DS q30/q81 plan signature: customers whose channel returns
    exceed 1.2x the AVERAGE over their state, read back at customer
    detail with a top-k. The delta vs q65 (threshold from a coarser
    re-aggregation, expressed as an explicit join) is that the coarser
    aggregate is a CORRELATED scalar subquery over the SAME CTE, so
    Catalyst must decorrelate agg-over-agg (ctr instantiated twice, the
    inner one re-grouped by the correlation key) before the detail
    join-back. Scale: ctr collapses the fact to (state, cust) grain;
    the decorrelated threshold side is |states| rows (broadcast); the
    detail join is keyed on custkey. The 1.2x threshold carries the
    +1e-9 shift and a 6dp round so the strict > cut is identical on
    both engines; top-k is fully tie-broken by custkey."""
    return run_sql(spark, _Q30_SQL, sf_dir)


# --- q32: excess discount vs 1.3x the per-item average, same date window -----

_Q32_SQL = """
SELECT CAST(coalesce(round(sum(CAST(round(l.l_extendedprice * l.l_discount
                                          + 1e-9, 2) AS DECIMAL(18,2))), 2),
                     0.00) AS DOUBLE) AS excess_discount_amount
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand IN ('Brand#3', 'Brand#7', 'Brand#11', 'Brand#19', 'Brand#23')
  AND l.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
  AND l.l_discount > (
    SELECT round(1.3 * avg(l2.l_discount) + 1e-9, 6)
    FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
      AND l2.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31')
"""


@query("tpcds_q32_excess_discount", oracle=_Q32_SQL)
def tpcds_q32_excess_discount(spark, sf_dir):
    """TPC-DS q32/q92 plan signature: "excess discount" — sum the
    discount amount of fact rows whose discount exceeds 1.3x the
    per-item average computed by a scalar subquery CORRELATED ON THE
    SAME FACT TABLE, with the SAME date window repeated on both sides.
    The delta vs q1/q30 (correlated threshold over a returns/CTE grain)
    is the self-fact correlation under a duplicated filter: Catalyst
    decorrelates to an aggregated self-join in which both branches carry
    the date-range predicate PUSHED TO THE PARQUET SCAN (expressed as a
    shipdate BETWEEN, not year(), precisely so it reaches PushedFilters),
    and the brand filter prunes only the OUTER branch — the classic q32
    asymmetry. Scale: the inner branch aggregates the date-windowed fact
    to |partkey| rows (dimension-bounded, broadcastable); the outer scan
    keeps its brand IN-list and date range at the reader. Threshold is 6dp-rounded with the +1e-9 shift;
    the summed terms are 2dp-quantized into DECIMAL before accumulation;
    an empty survivor set reads 0.00 on both engines via coalesce."""
    return run_sql(spark, _Q32_SQL, sf_dir)


# --- q70: window-derived dimension selection feeding a ROLLUP ----------------

_Q70_SQL = """
WITH nat_rev AS (
  SELECT n.n_regionkey AS region, n.n_nationkey AS nation,
         CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   + 1e-9, 2) AS DECIMAL(18,2))), 2)
              AS DOUBLE) AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_nationkey
),
top_nations AS (
  SELECT region, nation
  FROM (SELECT region, nation,
               CAST(rank() OVER (PARTITION BY region
                                 ORDER BY rev DESC, nation) AS INT) AS rnk
        FROM nat_rev) t
  WHERE rnk <= 3
),
detail AS (
  SELECT n.n_regionkey AS region, n.n_nationkey AS nation,
         round(l.l_extendedprice * (1 - l.l_discount) + 1e-9, 2) AS rev
  FROM lineitem l
  JOIN supplier s     ON l.l_suppkey = s.s_suppkey
  JOIN nation n       ON s.s_nationkey = n.n_nationkey
  JOIN top_nations tn ON n.n_regionkey = tn.region
                     AND n.n_nationkey = tn.nation
),
rolled AS (
  SELECT coalesce(CAST(region AS INT), -1) AS region_k,
         coalesce(CAST(nation AS INT), -1) AS nation_k,
         CAST(round(sum(CAST(rev AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_rev,
         CAST(grouping(region) + grouping(nation) AS INT) AS lochierarchy
  FROM detail
  GROUP BY ROLLUP(region, nation)
)
SELECT region_k, nation_k, total_rev, lochierarchy,
       CAST(rank() OVER (
                PARTITION BY lochierarchy,
                             CASE WHEN lochierarchy = 0 THEN region_k END
                ORDER BY total_rev DESC, nation_k, region_k) AS INT)
           AS rank_within_level
FROM rolled
ORDER BY lochierarchy DESC, region_k, nation_k
"""


# Round-12 optimization (guide §2.4 "remove shuffles outright"): the
# original text scans lineitem><supplier><nation TWICE — once for nat_rev
# (the rank input) and once for detail (the rollup input) — and Catalyst
# does not dedupe the subtrees. But the rollup's leaf grain IS nat_rev's
# grain: detail's per-row 2dp DECIMAL revenues summed per (region, nation)
# are exactly nat_rev's DECIMAL sum (per-row rounding identical, DECIMAL
# accumulation exact), the region level is the exact DECIMAL sum of its
# top-3 nations' sums, and the grand total likewise. So the engine keeps
# the DECIMAL sum un-rounded in nat_rev, ranks on the identically-rounded
# DOUBLE readout, and rolls up over the <=15 surviving aggregate rows —
# one fact scan instead of two, and the Expand operates on rows-of-nations
# instead of rows-of-lineitems. Oracle keeps the two-scan text.
_Q70_ENGINE_SQL = """
WITH nat_rev AS (
  SELECT n.n_regionkey AS region, n.n_nationkey AS nation,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                        + 1e-9, 2) AS DECIMAL(18,2))) AS rev_dec
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_nationkey
),
top_nations AS (
  SELECT region, nation, rev_dec
  FROM (SELECT region, nation, rev_dec,
               CAST(rank() OVER (
                        PARTITION BY region
                        ORDER BY CAST(round(rev_dec, 2) AS DOUBLE) DESC,
                                 nation) AS INT) AS rnk
        FROM nat_rev) t
  WHERE rnk <= 3
),
rolled AS (
  SELECT coalesce(CAST(region AS INT), -1) AS region_k,
         coalesce(CAST(nation AS INT), -1) AS nation_k,
         CAST(round(sum(rev_dec), 2) AS DOUBLE) AS total_rev,
         CAST(grouping(region) + grouping(nation) AS INT) AS lochierarchy
  FROM top_nations
  GROUP BY ROLLUP(region, nation)
)
SELECT region_k, nation_k, total_rev, lochierarchy,
       CAST(rank() OVER (
                PARTITION BY lochierarchy,
                             CASE WHEN lochierarchy = 0 THEN region_k END
                ORDER BY total_rev DESC, nation_k, region_k) AS INT)
           AS rank_within_level
FROM rolled
ORDER BY lochierarchy DESC, region_k, nation_k
"""


@query("tpcds_q70_ranked_states_rollup", oracle=_Q70_SQL)
def tpcds_q70_ranked_states_rollup(spark, sf_dir):
    """TPC-DS q70 plan signature: the ROLLUP's dimension population is
    itself SELECTED BY A WINDOW — only the top-3 nations per region (by
    a rank over a pre-aggregate) feed the (region, nation) rollup, which
    then ranks within each grouping level via GROUPING(). The delta vs
    q36 (grouping-rank over an unrestricted rollup) is the window-derived
    semi-filter UPSTREAM of the Expand: Catalyst must plan agg -> window
    -> filter -> join -> rollup -> window, reusing the supplier/nation
    join tree on both sides. Scale: nat_rev collapses the fact to
    |nation| rows before the window (25 rows — the window sort is
    dimension-bounded); top_nations broadcasts into the detail join; the
    rollup is one Expand over the filtered detail. Rollup NULL keys are
    coalesced to -1 placeholders; both ranks carry unique tie-breaks.
    The oracle keeps the two-scan text; the engine rolls up over the
    nation-grain DECIMAL aggregate instead (_Q70_ENGINE_SQL — one fact
    scan, Expand over <=15 aggregate rows; see the equivalence note)."""
    return run_sql(spark, _Q70_ENGINE_SQL, sf_dir)


# --- q41: dimension-only self-correlated COUNT with OR-of-AND bands ----------

_Q41_SQL = """
SELECT DISTINCT p1.p_name
FROM part p1
WHERE p1.p_partkey BETWEEN 0 AND 120
  AND (SELECT count(*)
       FROM part p2
       WHERE p2.p_brand = p1.p_brand
         AND ((p2.p_size BETWEEN 1 AND 15
               AND p2.p_type IN ('ECONOMY', 'PROMO'))
              OR (p2.p_size BETWEEN 30 AND 45
                  AND p2.p_type IN ('LARGE', 'STANDARD')))) > 0
ORDER BY p1.p_name
LIMIT 100
"""


@query("tpcds_q41_dimension_self_count", oracle=_Q41_SQL)
def tpcds_q41_dimension_self_count(spark, sf_dir):
    """TPC-DS q41 plan signature: a FACT-FREE query — the dimension
    filtered by a COUNT(*) scalar subquery correlated on the SAME
    dimension, with OR-of-AND attribute bands inside the subquery. Two
    deltas vs the pinned corpus: (1) no fact table at all, so the whole
    plan is dimension-sized; (2) the correlated COUNT(*) must survive
    decorrelation with COUNT-bug handling — an empty inner group reads
    0, not NULL, and `> 0` must exclude it — which Catalyst implements
    with a left outer join + coalesce around the count. Scale: both
    sides are the dimension; the partkey band prunes the outer scan at
    the reader. DISTINCT names make the ORDER BY unique, so the top-100
    cut is deterministic."""
    return run_sql(spark, _Q41_SQL, sf_dir)


# --- q38: INTERSECT-chain twin of q87's EXCEPT chain -------------------------

_Q38_SQL = """
WITH store_c AS (
  SELECT DISTINCT o_custkey AS cust FROM orders
  WHERE year(o_orderdate) = 1996
),
ship_c AS (
  SELECT DISTINCT o.o_custkey AS cust
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(l.l_shipdate) = 1996 AND l.l_returnflag <> 'R'
),
web_c AS (
  SELECT DISTINCT o_custkey AS cust FROM orders
  WHERE year(o_orderdate) = 1996
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
),
common AS (
  SELECT cust FROM store_c
  INTERSECT
  SELECT cust FROM ship_c
  INTERSECT
  SELECT cust FROM web_c
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_in_all_three
FROM common s JOIN customer c ON s.cust = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("tpcds_q38_channel_intersect_chain", oracle=_Q38_SQL)
def tpcds_q38_channel_intersect_chain(spark, sf_dir):
    """TPC-DS q38 — the INTERSECT-count twin of the pinned q87 EXCEPT
    chain (upstream ships them as a pair over identical channel CTEs;
    this corpus completes the pair with DIFFERENT set residuals:
    kept-lines channel and a two-priority web set). Catalyst lowers the
    chained INTERSECT to two stacked left SEMI joins
    (ReplaceIntersectWithSemiJoin) where q87 stacks ANTI joins — the
    lowering pair is what the twin pins. Scale: identical to q87 — all
    three DISTINCT sets and both semi joins share the custkey hash."""
    return run_sql(spark, _Q38_SQL, sf_dir)


# --- q94: web twin of q16 (EXISTS correlated on a DIFFERENT key) -------------

_Q94_SQL = """
SELECT CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS distinct_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(round(o.o_totalprice + 1e-9, 2)
                           AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  AND o.o_orderpriority = '1-URGENT'
  AND EXISTS (SELECT 1 FROM orders o2
              WHERE o2.o_custkey = o.o_custkey
                AND o2.o_orderkey <> o.o_orderkey
                AND o2.o_orderdate >= TIMESTAMP '1997-01-01'
                AND o2.o_orderdate <  TIMESTAMP '1997-07-01')
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = o.o_orderkey
                    AND l3.l_returnflag = 'R')
"""


@query("tpcds_q94_repeat_buyers_no_returns", oracle=_Q94_SQL)
def tpcds_q94_repeat_buyers_no_returns(spark, sf_dir):
    """TPC-DS q94 — the web twin of the pinned q16 (upstream's pair:
    catalog vs web order counts behind EXISTS + NOT EXISTS). The twin's
    delta: the EXISTS correlates on a DIFFERENT key than the NOT EXISTS
    (custkey self-join vs orderkey returns probe), so the two rewritten
    joins CANNOT share an exchange — the planner must key one semi join
    by custkey and the anti join by orderkey, where q16 shares the
    orderkey hash across both. Scale: the custkey-keyed EXISTS side
    aggregates the date-windowed slice to customer grain before the
    join; the distinct readout is custkey-keyed partial aggregation."""
    return run_sql(spark, _Q94_SQL, sf_dir)


# --- q57: q47's deviation machinery re-keyed to the supplier dimension -------

_Q57_SQL = """
WITH v1 AS (
  SELECT n.n_name,
         CAST(year(o.o_orderdate) AS INT)  AS yr,
         CAST(month(o.o_orderdate) AS INT) AS mon,
         round(sum(round(l.l_extendedprice * (1 - l.l_discount)
                         + 1e-9, 2)), 2) AS sum_sales
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INT),
           CAST(month(o.o_orderdate) AS INT)
),
v2 AS (
  SELECT n_name, yr, mon, sum_sales,
         round(avg(sum_sales) OVER (PARTITION BY n_name, yr) + 1e-6, 4)
             AS avg_monthly,
         lag(sum_sales)  OVER (PARTITION BY n_name ORDER BY yr, mon)
             AS prev_sales,
         lead(sum_sales) OVER (PARTITION BY n_name ORDER BY yr, mon)
             AS next_sales
  FROM v1
)
SELECT n_name, yr, mon, sum_sales, avg_monthly, prev_sales, next_sales,
       round(sum_sales - avg_monthly + 1e-6, 2) AS dev
FROM v2
WHERE yr BETWEEN 1996 AND 1999
  AND avg_monthly > 0
  AND round(abs(sum_sales - avg_monthly) / avg_monthly + 1e-9, 6) > 0.1
"""


@query("tpcds_q57_supplier_sales_deviation", oracle=_Q57_SQL)
def tpcds_q57_supplier_sales_deviation(spark, sf_dir):
    """TPC-DS q57 — upstream IS q47 with the partition dimension swapped
    (call_center for store); this corpus completes the documented pair
    by re-keying the deviation machinery from the part dimension to the
    supplier→nation join tree. Same window family on purpose — the twin
    pins that the (dimension, yr)-keyed window exchange is reused across
    both window functions regardless of WHICH dimension feeds it. Scale:
    identical to q47 — one keyed exchange, dimension-grain windows."""
    return run_sql(spark, _Q57_SQL, sf_dir)


# --- q62: q99's lag bands re-keyed (web twin) --------------------------------

_Q62_TEMPLATE = """
SELECT l.l_linestatus,
       CAST(year(o.o_orderdate) AS INT) AS yr,
       CAST(sum(CASE WHEN {LAG} <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS d30,
       CAST(sum(CASE WHEN {LAG} > 30 AND {LAG} <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d60,
       CAST(sum(CASE WHEN {LAG} > 60 AND {LAG} <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d90,
       CAST(sum(CASE WHEN {LAG} > 90 AND {LAG} <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d120,
       CAST(sum(CASE WHEN {LAG} > 120 THEN 1 ELSE 0 END) AS BIGINT)
           AS dmore
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_linestatus, CAST(year(o.o_orderdate) AS INT)
"""

_Q62_SPARK = _Q62_TEMPLATE.replace(
    "{LAG}", "datediff(l.l_shipdate, o.o_orderdate)"
)
_Q62_ORACLE = _Q62_TEMPLATE.replace(
    "{LAG}", "date_diff('day', o.o_orderdate, l.l_shipdate)"
)


@query("tpcds_q62_web_ship_lag_bands", oracle=_Q62_ORACLE)
def tpcds_q62_web_ship_lag_bands(spark, sf_dir):
    """TPC-DS q62 — the web twin of the pinned q99 lag-band pivot
    (upstream ships q62/q99 as the web/catalog pair over the same
    30/60/90/120 bands); completed here with the grouping re-keyed from
    order priority to (linestatus, year). Same banding on purpose — the
    pair pins that the CASE-band conditional aggregation is insensitive
    to the grouping key's cardinality or type. Scale: identical to q99
    — one orderkey join, one small grouped aggregate."""
    return run_sql(spark, _Q62_SPARK, sf_dir)
