"""Materialized-view rollup rewrite (Hive 3.x CREATE MATERIALIZED VIEW +
Calcite's AbstractMaterializedViewRule — SURVEY.md §7.8 noted the *storage*
side is out of scope, but the rewrite semantics are engine-expressible).

The Spark-first emulation is explicit: materialize the fine-grained partial
aggregate once (daily partials, parquet), then answer coarser queries by
re-aggregating the partials — never touching the fact table. The rewrite is
only correct because the aggregates COMPOSE: sum-of-daily-sums = monthly
sum, sum-of-daily-counts = monthly count, avg = composed sum / composed
count (never avg-of-avgs). The oracle recomputes the answer directly from
the fact table, so the driver hash-checks exactly that composition law.

Scale: this is the 100 TB pre-aggregation pattern — the MV is ~|days × flags|
rows regardless of fact size, the monthly query reads only the MV, and
tests/test_plans.py asserts the rewritten plan scans the MV parquet and not
lineitem."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..helpers import T, committed, md5_int, ravg, run_scratch
from ..registry import query


def _mv_path(sf_dir: str, name: str) -> str:
    """Per-run MV location (round-6 scratch discipline: RUN_ID in the path
    so concurrent runs at one SF can't clobber each other — helpers.run_scratch)."""
    return run_scratch("mv", sf_dir, name)


@query(
    "mv_rollup_rewrite",
    oracle="""
    SELECT l_returnflag,
           strftime(l_shipdate, '%Y-%m')              AS ship_month,
           CAST(count(*) AS BIGINT)                   AS n_items,
           round(sum(l_quantity), 2)                  AS sum_qty,
           round(sum(l_extendedprice), 2)             AS sum_price,
           round(sum(l_extendedprice)
                 / count(*) + 1e-9, 4)                AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, strftime(l_shipdate, '%Y-%m')
    """,
)
def mv_rollup_rewrite(spark, sf_dir):
    """Monthly revenue per returnflag answered FROM the daily-partials MV
    (build step writes the MV parquet; the returned plan reads only it).
    avg_price is composed from the MV's (sum, count) partials — the
    rewrite-correctness trap (avg-of-avgs) the composition law avoids."""
    mv = _mv_path(sf_dir, "mv_daily_revenue")
    l = T(spark, sf_dir, "lineitem")
    (
        l.groupBy(
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum("l_quantity").alias("p_qty"),
            F.sum("l_extendedprice").alias("p_price"),
        )
        .write.mode("overwrite")
        .parquet(mv)
    )
    daily = spark.read.parquet(committed(mv))
    return (
        daily.groupBy(
            "l_returnflag", F.substring("ship_day", 1, 7).alias("ship_month")
        )
        .agg(
            F.sum("p_n").alias("n_items"),
            F.round(F.sum("p_qty"), 2).alias("sum_qty"),
            F.round(F.sum("p_price"), 2).alias("sum_price"),
            ravg(F.sum("p_price") / F.sum("p_n"), 4).alias("avg_price"),
        )
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
           event_type,
           CAST(count(*) AS BIGINT)    AS n,
           round(sum(value) + 1e-9, 4) AS sum_value,
           round(avg(value) + 1e-9, 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def mv_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance law: the hourly MV built
    from the 90% 'already materialized' slice MERGED with the partials of
    the 10% 'newly arrived' delta must equal a full recompute over all
    events — which is exactly what the oracle computes. Partials are
    (count, sum); avg is composed at read time from the merged partials
    (never avg-of-avgs — the algebraic-aggregate rule that makes MVs
    incrementally maintainable).

    100 TB shape: refresh cost ∝ delta size, not corpus size — the
    continuous-aggregate maintenance pattern (TimescaleDB caggs, Hive MV
    rebuild avoidance). The merge is a full-outer on the MV key; at scale
    both sides are partitioned by bucket so the merge co-locates."""
    e = T(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    split = md5_int(F.col("event_id").cast("string")) % 10
    tagged = e.select(
        bucket.alias("bucket"), "event_type", "value", split.alias("bk")
    )

    def partials(df):
        return df.groupBy("bucket", "event_type").agg(
            F.count(F.lit(1)).alias("pn"), F.sum("value").alias("psv")
        )

    base = partials(tagged.filter(F.col("bk") < 9))
    delta = partials(tagged.filter(F.col("bk") >= 9))
    merged = (
        base.select("bucket", "event_type", "pn", "psv")
        .unionByName(delta.select("bucket", "event_type", "pn", "psv"))
        .groupBy("bucket", "event_type")
        .agg(F.sum("pn").alias("n"), F.sum("psv").alias("sv"))
    )
    return merged.select(
        "bucket",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        ravg(F.col("sv")).alias("sum_value"),
        ravg(F.col("sv") / F.col("n")).alias("avg_value"),
    )
