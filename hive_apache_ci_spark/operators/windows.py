"""Window function / PTF surface (SURVEY.md §2.5).

Hive architecture being replicated: PTFOperator partitions+sorts via the
shuffle and buffers each partition (PTFRowContainer); WindowingTableFunction
(ql/udf/ptf/WindowingTableFunction.java) evaluates ranking/analytic/UDAF
functions over ROWS/RANGE frames (WindowFrameDef/BoundaryDef;
ValueBoundaryScanner for RANGE). Spark's WindowExec is the direct owner —
same partition/sort shuffle, same frame semantics, plus O(1) streaming
evaluation for prefix frames (Hive's GenericUDAFStreamingEvaluator).

Determinism: every ORDER BY inside a window spec carries a unique tiebreak
key so row_number/lead/lag/frames agree across engines.

Scale note: a window over ``partitionBy(user_id)`` shuffles once on
user_id; all frames evaluate within partitions — no driver materialization.
Skewed partition keys (one giant user) are the known hazard; AQE cannot
split a window partition, so high-cardinality partition keys are the design
rule for 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..helpers import T, materialize, money_sum, r2, ravg
from ..registry import query


@query(
    "window_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER w AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank(spark, sf_dir):
    """rank / dense_rank / row_number per partition."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        r2(F.col("c_acctbal")).alias("acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


@query(
    "window_leadlag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(lag(o_totalprice)  OVER w, 2)       AS prev_price,
           round(lead(o_totalprice) OVER w, 2)       AS next_price,
           round(lag(o_totalprice, 2, -1.0) OVER w, 2) AS prev2_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_leadlag(spark, sf_dir):
    """lead/lag with offset + default (GenericUDFLeadLag in Hive)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        r2(F.col("o_totalprice")).alias("totalprice"),
        r2(F.lag("o_totalprice").over(w)).alias("prev_price"),
        r2(F.lead("o_totalprice").over(w)).alias("next_price"),
        r2(F.lag("o_totalprice", 2, -1.0).over(w)).alias("prev2_price"),
    )


@query(
    "window_moving_rows",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 1e-9, 4)
               AS moving_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 1e-9, 4)
               AS moving_avg
    FROM events
    """,
)
def window_moving_rows(spark, sf_dir):
    """ROWS-frame moving aggregate (WindowFrameDef ROWS 2 PRECEDING..CURRENT)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        ravg(F.sum("value").over(w)).alias("moving_sum"),
        ravg(F.avg("value").over(w)).alias("moving_avg"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
               AS n_within_50k
    FROM orders
    """,
)
def window_range_frame(spark, sf_dir):
    """RANGE frame on a numeric order key (Hive's ValueBoundaryScanner —
    DoubleValueBoundaryScanner here). Count of orders within $50k below."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-50000, Window.currentRow)
    )
    return T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        r2(F.col("o_totalprice")).alias("totalprice"),
        F.count(F.lit(1)).over(w).alias("n_within_50k"),
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_total(spark, sf_dir):
    """Running total — the prefix frame Hive streams in O(1) memory
    (GenericUDAFStreamingEvaluator); explicit ROWS frame + unique tiebreak
    (default RANGE frame would sum peer groups)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        r2(F.sum("o_totalprice").over(w)).alias("running_total"),
    )


@query(
    "window_ntile",
    parity_only=True,  # r10: correctness surface only — scale twin below
    oracle="""
    SELECT c_custkey,
           ntile(4)  OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
    FROM customer
    """,
)
def window_ntile(spark, sf_dir):
    """ntile bucketing over a global order (single-partition window — the
    one shape that does NOT scale; kept for Hive parity. The scale path is
    ``window_ntile_scaled`` below: shard-ranked + broadcast offsets, same
    output, no global window)."""
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.ntile(10).over(w).alias("decile"),
    )


@query(
    "window_firstlast",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_firstlast(spark, sf_dir):
    """first_value / last_value / nth_value over the full-partition frame
    (last_value over the default frame is the classic gotcha — frame pinned
    to UNBOUNDED FOLLOWING here)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "window_first_ignore_nulls",
    oracle="""
    SELECT o_orderkey,
           first_value(big_key IGNORE NULLS) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS first_big_order
    FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 CASE WHEN o_totalprice > 300000 THEN o_orderkey END AS big_key
          FROM orders)
    """,
)
def window_first_ignore_nulls(spark, sf_dir):
    """first_value(... IGNORE NULLS) — Hive supports IGNORE NULLS on
    first/last (WindowingTableFunction); running 'first big order seen'."""
    o = T(spark, sf_dir, "orders").withColumn(
        "big_key", F.when(F.col("o_totalprice") > 300000, F.col("o_orderkey"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.first("big_key", ignorenulls=True).over(w).alias("first_big_order"),
    )


@query(
    "window_leadlag_ignore_nulls",
    oracle="""
    SELECT o_orderkey,
           first_value(big_key IGNORE NULLS) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_big_order,
           last_value(big_key IGNORE NULLS) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_big_order
    FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 CASE WHEN o_totalprice > 300000 THEN o_orderkey END AS big_key
          FROM orders)
    """,
)
def window_leadlag_ignore_nulls(spark, sf_dir):
    """lead/lag with IGNORE NULLS — Hive's WindowingTableFunction supports
    the IGNORE NULLS modifier on lead/lag (GenericUDAFLead/Lag with
    skipNulls); Spark 4 exposes the same via SQL syntax
    ``lead(x, 1) IGNORE NULLS``. 'Next/previous big order seen' per
    customer. The DuckDB 1.0 oracle emulates it with the equivalent
    first_value/last_value(IGNORE NULLS) over one-sided frames (the
    standard rewrite; lead/lag IGNORE NULLS landed in DuckDB later).

    Scale: one shuffle on o_custkey, streaming frame evaluation — same
    cost envelope as any lead/lag window."""
    o = T(spark, sf_dir, "orders").withColumn(
        "big_key", F.when(F.col("o_totalprice") > 300000, F.col("o_orderkey"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.expr("lead(big_key, 1) ignore nulls").over(w).alias("next_big_order"),
        F.expr("lag(big_key, 1) ignore nulls").over(w).alias("prev_big_order"),
    )


@query(
    "window_percent",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           round(c_acctbal / sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 8)
               AS share_of_segment
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_percent(spark, sf_dir):
    """percent_rank / cume_dist + an unordered partition aggregate
    (share-of-total) in one pass."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_mktsegment")
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.col("c_acctbal") / F.sum("c_acctbal").over(wp), 8).alias(
            "share_of_segment"
        ),
    )


@query(
    "window_range_interval",
    oracle="""
    SELECT user_id, event_id,
           count(*) OVER w AS n_last_2h,
           round(sum(value) OVER w + 1e-9, 4) AS sum_last_2h
    FROM (SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark, sf_dir):
    """Time-interval RANGE frame (Hive TimestampValueBoundaryScanner):
    per-user rolling 2-hour window over event time — the time-series
    sliding-aggregate idiom that needs no bucket alignment."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    # rangeBetween needs a numeric order key for interval offsets in the
    # DataFrame API: order by epoch seconds (cast is exact integer seconds).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-2 * 3600, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_2h"),
        ravg(F.sum("value").over(w)).alias("sum_last_2h"),
    )


@query(
    "window_rfm_segmentation",
    parity_only=True,  # r10: correctness surface only — scale twin below
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(max(epoch(o_orderdate)) AS BIGINT) AS last_order_s,
             count(*)                                AS frequency,
             round(sum(o_totalprice), 2)             AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order_s, o_custkey) AS INT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency,    o_custkey) AS INT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary,     o_custkey) AS INT) AS m_score
    FROM per_cust
    """,
)
def window_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: per-customer recency (last order epoch),
    frequency (order count), monetary (spend), each quartiled with
    ``ntile(4)`` under a deterministic (metric, custkey) total order — the
    classic CRM scoring query (Hive expresses it identically with three
    windowed NTILEs over one aggregate).

    Scale note: like ``window_ntile``, global NTILE is a deliberate
    single-partition shape kept for parity — at 100 TB the quartile
    boundaries come from ``approxQuantile``/percentile_approx and scores
    from a map-side comparison against the broadcast boundaries
    (docs/SCALE.md 'known non-scalable shapes')."""
    o = T(spark, sf_dir, "orders")
    # o_orderdate reads as timestamp_ntz (parquet ms, no tz) — route through
    # a timestamp cast (UTC session ⇒ instant-preserving) before epoching
    per_cust = o.groupBy("o_custkey").agg(
        F.max(
            F.col("o_orderdate").cast("timestamp").cast("long")
        ).alias("last_order_s"),
        F.count(F.lit(1)).alias("frequency"),
        r2(F.sum("o_totalprice")).alias("monetary"),
    )
    return per_cust.select(
        "o_custkey",
        F.ntile(4)
        .over(Window.orderBy("last_order_s", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("monetary", "o_custkey"))
        .cast("int")
        .alias("m_score"),
    )


@query(
    "window_moving_median",
    oracle="""
    SELECT user_id, event_id,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                 + 1e-9, 4) AS moving_median
    FROM events
    """,
)
def window_moving_median(spark, sf_dir):
    """Moving median over a 5-row frame — the robust-smoothing window
    Spark has no native windowed-median for: collect the frame, sort it,
    take the middle (averaging the middle pair on even counts — exactly
    DuckDB's interpolated median at q=0.5). The collect_list stays
    bounded by the frame size (5), so this is frame-local memory, not a
    partition materialization; deterministic under the (ts, event_id)
    total order."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return T(spark, sf_dir, "events").select(
        "user_id", "event_id", ravg(med).alias("moving_median")
    )


@query(
    "window_ntile_scaled",
    oracle="""
    SELECT c_custkey,
           ntile(4)  OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
    FROM customer
    """,
)
def window_ntile_scaled(spark, sf_dir):
    """NTILE without the single-partition global window — the 100 TB path
    for ``window_ntile`` (same output on ANY input: the composite sort key
    (c_acctbal DESC, c_custkey) is unique, so ranks — and therefore ntile
    buckets — are fully determined).

    Plan shape: (1) percentile_approx boundaries split the table into
    value-range shards (the split is Spark-internal — any deterministic
    split works, it never affects the result); (2) exact rank = within-
    shard row_number + the broadcast prefix-count offset of earlier
    shards; (3) bucket = Hive/ANSI ntile arithmetic on (rank, total) —
    pure integers, so the plain ``ntile`` oracle hash-matches. Every
    window here partitions by the shard id; the only exchanges are two
    tiny aggregates (boundaries, shard counts)."""
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = _global_ranks(
        cust, "c_acctbal", ["c_custkey"], 16, descending=True
    )
    i0, n = F.col("i0"), F.col("n_total")
    return ranked.select(
        "c_custkey",
        _ntile_bucket(i0, n, F.lit(4)).alias("quartile"),
        _ntile_bucket(i0, n, F.lit(10)).alias("decile"),
    )



def _ntile_bucket(i0, n, buckets):
    """ANSI NTILE arithmetic on (0-based global rank, total): the first
    (n mod B) buckets hold ceil(n/B) rows. Pure integer math — the ONE
    place the bucket formula lives (window_ntile_scaled, the RFM scorer
    and the equi-depth histogram all derive through it)."""
    q = (n / buckets).cast("bigint")  # floor div on nonneg ints
    r = n % buckets
    big = r * (q + 1)
    return (
        F.when(i0 < big, (i0 / (q + 1)).cast("bigint"))
        .otherwise(r + ((i0 - big) / q).cast("bigint"))
        + 1
    ).cast("int")


def _global_ranks(df, value_col, tiebreaks, n_shards=16, descending=False):
    """Exact 0-based GLOBAL rank over (value_col [DESC], *tiebreaks)
    without a single-partition window — the shared scaffold: value-range
    shards (percentile_approx split, choice never affects the result),
    per-shard row_number, broadcast prefix-count offsets via the tiny
    n_shards^2 self-join. Returns the input columns plus ``i0`` (0-based
    rank) and ``n_total``. Output is exact whenever (value_col,
    *tiebreaks) is a unique composite key."""
    sharded = _value_range_shards(df, value_col, n_shards, descending)
    order = [
        F.col(value_col).desc() if descending else F.col(value_col)
    ] + [F.col(c) for c in tiebreaks]
    w = Window.partitionBy("shard").orderBy(*order)
    ranked = sharded.withColumn("rn", F.row_number().over(w))
    counts = sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    earlier = counts.select(
        F.col("shard").alias("eshard"), F.col("cnt").alias("ecnt")
    )
    # prefix offsets via tiny n_shards^2 self-join, not a global window
    offs = (
        counts.join(earlier, F.col("eshard") < F.col("shard"), "left")
        .groupBy("shard")
        .agg(F.coalesce(F.sum("ecnt"), F.lit(0)).alias("off"))
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    return (
        ranked.join(F.broadcast(offs), "shard")
        .crossJoin(F.broadcast(total))
        .withColumn("i0", (F.col("off") + F.col("rn") - 1).cast("bigint"))
        .drop("rn", "off")
    )


def _value_range_shards(df, value_col, n_shards=16, descending=False):
    """Shared first pass of every scaled-window op (NTILE, RFM, Pareto):
    percentile_approx value-range shard assignment. The 'shard' column is
    monotone in the requested sort direction (ascending: count boundaries
    at-or-below; descending: count boundaries above), and the split choice
    never affects results — any deterministic split works. materialize
    pins ONE evaluation of the approximate boundaries so the downstream
    branches (per-shard windows AND prefix offsets) can never see two
    different assignments for a boundary-adjacent row."""
    fracs = [i / n_shards for i in range(1, n_shards)]
    bnd = df.agg(F.percentile_approx(value_col, fracs, 10000).alias("bs"))
    if descending:
        hit = lambda b: F.col(value_col) < b  # noqa: E731
    else:
        hit = lambda b: F.col(value_col) >= b  # noqa: E731
    shard = F.aggregate(
        F.col("bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(hit(b), 1).otherwise(0),
    )
    return materialize(
        df.crossJoin(F.broadcast(bnd))
        .withColumn("shard", shard)
        .drop("bs")
    )


def _scaled_ntile_score(df, value_col, key_col, buckets=4, n_shards=16):
    """Exact global NTILE(buckets) over (value_col ASC, key_col ASC)
    WITHOUT a single-partition window — window_ntile_scaled's technique as
    a reusable pass: percentile_approx value-range shards (split choice
    never affects the result), per-shard row_number, broadcast
    prefix-count offsets, ANSI ntile integer arithmetic. Returns
    (key_col, score). Output equals plain NTILE whenever the composite
    sort key is unique (key_col breaks all ties)."""
    src = df.select(key_col, value_col)
    ranked = _global_ranks(src, value_col, [key_col], n_shards)
    score = _ntile_bucket(F.col("i0"), F.col("n_total"), F.lit(buckets))
    return ranked.select(F.col(key_col), score.alias("score"))


@query(
    "window_rfm_scaled",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(max(epoch(o_orderdate)) AS BIGINT) AS last_order_s,
             count(*)                                AS frequency,
             round(sum(o_totalprice), 2)             AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order_s, o_custkey) AS INT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency,    o_custkey) AS INT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary,     o_custkey) AS INT) AS m_score
    FROM per_cust
    """,
)
def window_rfm_scaled(spark, sf_dir):
    """RFM quartile segmentation with NO global window — the 100 TB path
    for ``window_rfm_segmentation`` (round-3 verdict's weak flag): each of
    the three metric quartiles comes from an independent
    shard-rank-offset NTILE pass (_scaled_ntile_score), all of whose
    windows partition by the shard id. The composite (metric, custkey)
    sort keys are unique, so output EQUALS the plain-NTILE form — which is
    exactly what the oracle states (it IS window_rfm_segmentation's
    oracle). Cost: three passes over the customer-sized aggregate, each a
    broadcast-boundaries + per-shard window + two tiny aggregates."""
    o = T(spark, sf_dir, "orders")
    per_cust = materialize(
        o.groupBy("o_custkey").agg(
            F.max(
                F.col("o_orderdate").cast("timestamp").cast("long")
            ).alias("last_order_s"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    r = _scaled_ntile_score(per_cust, "last_order_s", "o_custkey").select(
        "o_custkey", F.col("score").alias("r_score")
    )
    f = _scaled_ntile_score(per_cust, "frequency", "o_custkey").select(
        "o_custkey", F.col("score").alias("f_score")
    )
    m = _scaled_ntile_score(per_cust, "monetary", "o_custkey").select(
        "o_custkey", F.col("score").alias("m_score")
    )
    return r.join(f, "o_custkey").join(m, "o_custkey")


# ---- DISTINCT aggregate over a window frame -------------------------------

_WDC_SQL = """
SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
       count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dtypes_running,
       count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS dtypes_last10
FROM events WHERE user_id <= 200
"""


@query("window_distinct_count", oracle=_WDC_SQL)
def window_distinct_count(spark, sf_dir):
    """DISTINCT aggregate over a window frame — Hive supports
    ``count(DISTINCT ...) OVER`` (HIVE-9534); Spark's WindowExec does not,
    so the engine rewrites it as ``size(collect_set(...))`` over the same
    frame, which is semantically exact (set semantics, null-excluding) and
    evaluates streaming within the partition buffer. Two frames: the
    running prefix (how many distinct event types has this user emitted so
    far) and a trailing 10-row frame (recent behavioral diversity — the
    feature a fraud/segmentation model actually wants).

    Determinism: frame order carries the unique (ts, event_id) tiebreak.

    100 TB: one shuffle on user_id, both frames evaluated in the same
    WindowExec pass; collect_set state is bounded by |event types| (tiny),
    not frame length, so the prefix frame is O(1) memory per row. The
    user_id predicate prunes the scan before the shuffle."""
    e = T(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_10 = base.rowsBetween(-9, Window.currentRow)
    return e.select(
        "user_id",
        F.col("ts").cast("double").cast("bigint").alias("ts_s"),
        "event_id",
        F.size(F.collect_set("event_type").over(w_run))
        .cast("bigint")
        .alias("dtypes_running"),
        F.size(F.collect_set("event_type").over(w_10))
        .cast("bigint")
        .alias("dtypes_last10"),
    )


# ---- consecutive-run streaks (gaps-and-islands on a condition) --------------

_STREAK_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
err AS (
  SELECT user_id, event_id, ts_s, rn,
         rn - row_number() OVER (PARTITION BY user_id
                                 ORDER BY rn) AS isl
  FROM e WHERE is_err = 1
),
streaks AS (
  SELECT user_id, isl,
         CAST(count(*) AS BIGINT) AS len,
         CAST(min(ts_s) AS BIGINT) AS start_s
  FROM err GROUP BY user_id, isl
),
best AS (
  SELECT user_id, len, start_s,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_s) AS rk
  FROM streaks
)
SELECT s.user_id,
       CAST(sum(s.len) AS BIGINT)  AS n_errors,
       CAST(count(*) AS BIGINT)    AS n_streaks,
       max(b.len)                  AS max_streak,
       max(b.start_s)              AS max_streak_start
FROM streaks s
JOIN best b ON b.user_id = s.user_id AND b.rk = 1
GROUP BY s.user_id
"""


@query("window_streaks", oracle=_STREAK_SQL)
def window_streaks(spark, sf_dir):
    """Longest consecutive-error streak per user (gaps-and-islands on a
    row condition): among each user's time-ordered events, maximal runs
    of event_type='error' — the reliability/abuse signal ('N failures IN
    A ROW') that a bare count can't express because it ignores
    interruption. Emits per affected user the total errors, streak
    count, the longest streak, and when it began (ties to the earliest).

    The island id is the classic rn - conditional_rn difference — two
    row_numbers over the SAME user-keyed exchange, so the whole operator
    is one shuffle plus tiny per-streak aggregates. Pure integers.

    100 TB: one shuffle on user_id; both windows and the streak
    aggregation reuse that exchange; per-user state is bounded by the
    user's row count (the window-partition skew rule applies — user_id is
    high-cardinality here by design)."""
    e = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("double").cast("bigint").alias("ts_s"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
        "ts",
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = e.withColumn("rn", F.row_number().over(w_all)).filter(
        F.col("is_err") == 1
    )
    w_err = Window.partitionBy("user_id").orderBy("rn")
    err = rn.withColumn("isl", F.col("rn") - F.row_number().over(w_err))
    streaks = err.groupBy("user_id", "isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("ts_s").cast("bigint").alias("start_s"),
    )
    best = F.max(
        F.struct(
            F.col("len").alias("l"),
            (-F.col("start_s")).alias("ns"),
            F.col("start_s").alias("s"),
        )
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_errors"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        best.getField("l").alias("max_streak"),
        best.getField("s").alias("max_streak_start"),
    )


# ---- Pareto / ABC revenue classification ----------------------------------

_ABC_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS r
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT sum(CAST(r AS DECIMAL(18,2))) AS t FROM rev),
cum AS (
  SELECT o_custkey, r,
         sum(CAST(r AS DECIMAL(18,2)))
             OVER (ORDER BY r DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM rev
),
cls AS (
  SELECT r,
         CASE WHEN round(CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE) + 1e-9, 6)
                   <= 0.80 THEN 'A'
              WHEN round(CAST(c AS DOUBLE) / CAST(t.t AS DOUBLE) + 1e-9, 6)
                   <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM cum CROSS JOIN tot t
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(round(sum(CAST(r AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS class_revenue,
       round(CAST(sum(CAST(r AS DECIMAL(18,2))) AS DOUBLE)
             / (SELECT CAST(t AS DOUBLE) FROM tot) + 1e-9, 6)
           AS revenue_share
FROM cls
GROUP BY abc
"""


@query("window_pareto_abc", oracle=_ABC_SQL)
def window_pareto_abc(spark, sf_dir):
    """Pareto / ABC analysis: customers ranked by exact-DECIMAL revenue,
    classified by cumulative revenue share (A <= 80%, B <= 95%, C rest) —
    the 80/20 inventory-and-accounts classification every revenue org
    runs. Class counts and revenue mass per class certify the skew
    ('how few customers carry 80% of revenue').

    100 TB path (window_ntile_scaled's pattern applied to a cumulative
    SUM): no single-partition global window — percentile boundaries split
    customers into value-range shards; the cumulative revenue is the
    within-shard DECIMAL running sum (window partitioned BY SHARD) plus
    the broadcast prefix revenue of richer shards (|shards|^2 tiny
    self-join). DECIMAL accumulation keeps every prefix exact, so the
    6dp-rounded share cut lands identically in both engines; the
    (revenue DESC, custkey) order is unique, pinning ties."""
    o = T(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        money_sum(F.col("o_totalprice"), 2).alias("r")
    )
    sharded = _value_range_shards(rev, "r", 16, descending=True)
    rdec = F.col("r").cast("decimal(18,2)")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("r").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = sharded.withColumn("wcum", F.sum(rdec).over(w))
    sums = sharded.groupBy("shard").agg(F.sum(rdec).alias("srev"))
    richer = sums.select(
        F.col("shard").alias("eshard"), F.col("srev").alias("erev")
    )
    offs = (
        # shard index DECREASES with revenue (count of boundaries above),
        # so "richer prefix" = strictly smaller shard ids
        sums.join(richer, F.col("eshard") < F.col("shard"), "left")
        .groupBy("shard")
        .agg(
            F.coalesce(F.sum("erev"), F.lit(0).cast("decimal(18,2)")).alias(
                "off"
            )
        )
    )
    total = sums.agg(F.sum("srev").cast("double").alias("t"))
    cumshare = F.round(
        (F.col("off") + F.col("wcum")).cast("double") / F.col("t")
        + F.lit(1e-9),
        6,
    )
    cls = (
        within.join(F.broadcast(offs), "shard")
        .crossJoin(F.broadcast(total))
        .select(
            "r",
            F.when(cumshare <= 0.80, "A")
            .when(cumshare <= 0.95, "B")
            .otherwise("C")
            .alias("abc"),
            F.col("t"),
        )
    )
    return cls.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum(rdec), 2).cast("double").alias("class_revenue"),
        F.round(
            F.sum(rdec).cast("double") / F.first("t") + F.lit(1e-9), 6
        ).alias("revenue_share"),
    )
