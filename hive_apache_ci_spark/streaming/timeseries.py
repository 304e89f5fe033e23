"""Batch time-series window aggregations over ``events`` (SURVEY.md §2.10).

Buckets are surfaced as *epoch seconds* (bigint) on both engines so the
driver's hash compares integers, not engine-specific timestamp renderings.
Spark's ``F.window`` is epoch-aligned (origin 1970-01-01), which the DuckDB
oracles reproduce with integer arithmetic on ``floor(epoch(ts))``.

Scale notes: tumbling/session aggregation shuffles once on (bucket, key) /
(user) — the partial-agg shape; the sliding window fans each row into
window/slide buckets (4× here) *before* the partial agg, identical to
Spark's own Expand-based implementation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..helpers import T, ravg
from ..registry import query


@query(
    "events_tumbling_hour",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_start,
           event_type,
           count(*)             AS n,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hour(spark, sf_dir):
    """Tumbling 1-hour window aggregation (``F.window``)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), ravg(F.sum("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "events_sliding_hour",
    oracle="""
    SELECT bucket_start, count(*) AS n, round(avg(value) + 1e-9, 4) AS avg_value
    FROM (
      SELECT CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k * 900 AS bucket_start,
             value
      FROM events, unnest([0, 1, 2, 3]) AS u(k)
    )
    GROUP BY bucket_start
    """,
)
def events_sliding_hour(spark, sf_dir):
    """Sliding window: 1-hour length, 15-minute slide — every event lands in
    exactly 4 buckets (oracle expands the 4 offsets arithmetically)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), ravg(F.avg("value")).alias("avg_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"), "n", "avg_value"
        )
    )


@query(
    "events_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*)             AS n_events,
           round(sum(value) + 1e-9, 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_session_window(spark, sf_dir):
    """Session window, 30-minute gap (``F.session_window`` — the stateful
    operator Hive cannot express; batch form is oracle-able via
    gaps-and-islands SQL)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), ravg(F.sum("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_hourly_to_daily_rollup",
    oracle="""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS h,
             event_type,
             count(*)      AS n,
             sum(value)    AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(floor(h / 86400) AS BIGINT) * 86400 AS day_start,
           event_type,
           CAST(sum(n) AS BIGINT)  AS n,
           round(sum(sv) + 1e-9, 4)  AS sum_value,
           count(*)                AS n_hours
    FROM hourly
    GROUP BY 1, 2
    """,
)
def events_hourly_to_daily_rollup(spark, sf_dir):
    """Hypertable-style hierarchical rollup: hourly partials re-aggregated
    to daily (the continuous-aggregate pattern — at 100 TB the hourly layer
    is materialized once and the daily layer reads it, not the raw data)."""
    e = T(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(F.col("w.start").cast("long").alias("h"), "event_type", "n", "sv")
    )
    return (
        hourly.groupBy(
            (F.floor(F.col("h") / 86400) * 86400).cast("long").alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            ravg(F.sum("sv")).alias("sum_value"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )


@query(
    "events_gap_analysis",
    oracle="""
    SELECT user_id,
           count(*)                                              AS n_events,
           CAST(max(gap_s) AS BIGINT)                            AS max_gap_s,
           CAST(min(gap_s) AS BIGINT)                            AS min_gap_s
    FROM (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
               AS gap_s
      FROM events
    )
    GROUP BY user_id
    """,
)
def events_gap_analysis(spark, sf_dir):
    """Inter-event gap statistics per user (lag over time order) — the
    time-series idiom behind retention/heartbeat analyses."""
    e = T(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.withColumn(
        "gap_s",
        F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("gap_s").alias("max_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
    )


@query(
    "events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS stage_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                          AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT)
               AS stage_purchase
    FROM per_user
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel analysis (signup → first later view → first later
    purchase): per-user min-timestamps + stage predicates — one shuffle on
    user_id, the standard product-analytics funnel at any scale."""
    e = T(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_view"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s1.cast("int")).cast("bigint").alias("stage_signup"),
        F.sum(s2.cast("int")).cast("bigint").alias("stage_view"),
        F.sum(s3.cast("int")).cast("bigint").alias("stage_purchase"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH per_user AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cs
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT e.user_id, p.cs,
             CAST(floor((CAST(floor(epoch(e.ts)) AS BIGINT)
                         - CAST(floor(epoch(p.cs)) AS BIGINT)) / 604800.0)
                  AS INT) AS offset_w
      FROM events e JOIN per_user p USING (user_id)
    ),
    agg AS (
      SELECT cs, offset_w, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM act GROUP BY cs, offset_w
    ),
    cohort_size AS (
      SELECT cs, CAST(count(*) AS BIGINT) AS cohort_n FROM per_user GROUP BY cs
    )
    SELECT strftime(a.cs, '%Y-%m-%d')                         AS cohort_week,
           a.offset_w, a.n_active, s.cohort_n,
           round(a.n_active * 1.0 / s.cohort_n + 1e-9, 6)     AS retention
    FROM agg a JOIN cohort_size s USING (cs)
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-activity week,
    counted distinct per week-offset, normalized by cohort size — the
    standard growth-analytics triangle. Two aggregations both keyed by
    user/cohort (no global sort); the cohort-size table is |weeks| rows →
    broadcast. Week offsets computed in integer epoch-seconds so both
    engines bin identically."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cs")
    )
    act = e.join(per_user, "user_id").select(
        "user_id",
        "cs",
        F.floor(
            (F.col("ts").cast("long") - F.col("cs").cast("long")) / 604800.0
        )
        .cast("int")
        .alias("offset_w"),
    )
    agg = act.groupBy("cs", "offset_w").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    size = per_user.groupBy("cs").agg(F.count(F.lit(1)).alias("cohort_n"))
    return agg.join(F.broadcast(size), "cs").select(
        F.date_format("cs", "yyyy-MM-dd").alias("cohort_week"),
        "offset_w",
        "n_active",
        "cohort_n",
        F.round(
            F.col("n_active") * 1.0 / F.col("cohort_n") + F.lit(1e-9), 6
        ).alias("retention"),
    )


@query(
    "events_ohlc_hourly",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_start,
           event_type,
           round(arg_min(value, CAST(floor(epoch(ts)) AS BIGINT) * 1000000 + event_id), 4) AS open,
           round(max(value), 4)                                     AS high,
           round(min(value), 4)                                     AS low,
           round(arg_max(value, CAST(floor(epoch(ts)) AS BIGINT) * 1000000 + event_id), 4) AS close,
           count(*)                                                 AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def events_ohlc_hourly(spark, sf_dir):
    """OHLC candlestick bars (open/high/low/close per hour per type) —
    the financial/hypertable downsampling primitive. open/close are
    min_by/max_by on a total-order key (epoch-micros + event_id
    tiebreaker), so the bars are deterministic under any row order; one
    two-phase aggregation keyed by (bucket, type)."""
    e = T(spark, sf_dir, "events")
    order_key = (
        F.col("ts").cast("long") * 1000000 + F.col("event_id")
    )
    return (
        e.groupBy(
            (F.floor(F.col("ts").cast("long") / 3600) * 3600).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.round(F.min_by("value", order_key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", order_key), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "events_concurrency_sweep",
    oracle="""
    WITH deltas AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) + 600, -1, event_id FROM events
    ),
    swept AS (
      SELECT event_type,
             sum(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta, event_id) AS live
      FROM deltas
    )
    SELECT event_type, CAST(max(live) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY event_type
    """,
)
def events_concurrency_sweep(spark, sf_dir):
    """Sweep-line maximum concurrency: each event opens a 10-minute
    interval; +1/-1 deltas ordered by time give the live count, max per
    event_type. The window partitions by type — the scale rule for sweep
    lines (a single global ORDER BY would be the one-reducer trap; at
    100 TB you sweep per shard key or per time-bucket with boundary
    merge). Ends sort before starts at the same instant (delta -1 first) —
    half-open [t, t+600) intervals in both engines."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    starts = e.select(
        "event_type",
        F.col("ts").cast("long").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    ends = e.select(
        "event_type",
        (F.col("ts").cast("long") + 600).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    deltas = starts.unionByName(ends)
    w = Window.partitionBy("event_type").orderBy("t", "delta", "event_id")
    swept = deltas.withColumn("live", F.sum("delta").over(w))
    return swept.groupBy("event_type").agg(
        F.max("live").alias("max_concurrent")
    )


@query(
    "events_temporal_rollup",
    oracle="""
    SELECT CAST(GROUPING(y, m, d) AS BIGINT) AS gid, y, m, d,
           count(*) AS n, round(sum(value) + 1e-9, 4) AS sum_value
    FROM (SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
                 CAST(day(ts) AS INT) AS d, value
          FROM events)
    GROUP BY GROUPING SETS ((y), (y, m), (y, m, d))
    """,
)
def events_temporal_rollup(spark, sf_dir):
    """Time-hierarchy rollup (year -> year+month -> year+month+day) in one
    pass via GROUPING SETS — the hypertable continuous-aggregate shape.
    Spark expands the sets with a single Expand node feeding one partial
    aggregation, so the fact table is scanned ONCE for all three grains
    (vs three separate groupBys = three scans + three shuffles at 100 TB).
    grouping_id disambiguates the grain of each output row."""
    e = T(spark, sf_dir, "events").select(
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        "value",
    )
    return e.groupingSets(
        [["y"], ["y", "m"], ["y", "m", "d"]], "y", "m", "d"
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        ravg(F.sum("value")).alias("sum_value"),
    ).select("gid", "y", "m", "d", "n", "sum_value")


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH scored AS (
      SELECT event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             value,
             avg(value)         OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*)           OVER w AS n_hist
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, ts_s, value,
           round((value - mu) / sigma + 1e-9, 4) AS z
    FROM scored
    WHERE n_hist >= 10 AND round(sigma, 6) > 0
      AND round(abs((value - mu) / sigma) + 1e-9, 4) > 2.5
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection: each event scored against the
    mean/stddev of its event_type's previous 20 events (frame excludes the
    current row — the score must not contaminate its own baseline), flagged
    when |z| > 2.5 with at least 10 history rows. The streaming-monitoring
    op (metric outlier detection) in batch form.

    Scale: one window partitioned by event_type ordered by (ts, event_id)
    — a per-type rolling frame, never a global sort; at 100 TB widen the
    partition key (type × day) to bound partition size. Deterministic: the
    (ts, event_id) total order fixes the frame exactly, and the oracle
    replays the identical frame."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = e.select(
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_s"),
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    # Membership predicates are QUANTIZED on both sides (repo epsilon
    # discipline): a z-score within cross-engine float noise of the 2.5 cut
    # (or a sigma within noise of 0) must not flip row membership between
    # Spark and the DuckDB oracle, so both engines compare the identically
    # rounded value, not the raw double.
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        scored.filter(
            (F.col("n_hist") >= 10)
            & (F.round(F.col("sigma"), 6) > 0)
            & (ravg(F.abs(z)) > 2.5)
        )
        .select(
            "event_id",
            "event_type",
            "ts_s",
            "value",
            ravg(z).alias("z"),
        )
    )


@query(
    "events_gapfill_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             count(*) AS n, avg(value) AS avg_v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT b.event_type, g.bucket
      FROM bounds b, unnest(generate_series(b.lo, b.hi, 3600)) AS g(bucket)
    ),
    joined AS (
      SELECT g.event_type, g.bucket, h.n, h.avg_v
      FROM grid g LEFT JOIN hourly h
        ON g.event_type = h.event_type AND g.bucket = h.bucket
    ),
    ctx AS (
      SELECT event_type, bucket, n, avg_v,
             last_value(avg_v IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN avg_v IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER wb AS prev_b,
             first_value(avg_v IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN avg_v IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER wf AS next_b
      FROM joined
      WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket,
           CAST(coalesce(n, 0) AS BIGINT) AS n,
           CASE WHEN avg_v IS NOT NULL THEN 0 ELSE 1 END AS is_gap,
           round(CASE
             WHEN avg_v IS NOT NULL THEN avg_v
             WHEN next_v IS NULL THEN prev_v
             WHEN prev_v IS NULL THEN next_v
             ELSE prev_v + (next_v - prev_v) * (bucket - prev_b)
                           / (next_b - prev_b)
           END + 1e-9, 4) AS value_filled
    FROM ctx
    """,
)
def events_gapfill_interpolate(spark, sf_dir):
    """Gap-filled hourly resample with linear interpolation (the
    TimescaleDB ``time_bucket_gapfill`` + ``interpolate``/``locf`` shape):
    per event_type, densify the hourly grid between that type's first and
    last observation, then fill empty buckets by time-weighted linear
    interpolation between the neighboring observed buckets (LOCF at the
    trailing edge, backfill at the leading edge).

    Scale: the aggregation is the only full-data shuffle; the grid is
    sequence()+explode over per-type (lo, hi) scalars — rows ∝ span/step,
    independent of event count; the fill windows partition per type. At
    100 TB shard the grid windows by (type, coarse time block) and stitch
    block boundaries, exactly like the documented sweep-line sharding."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    hourly = e.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_v"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(3600).cast("long"))
        ).alias("bucket"),
    )
    joined = grid.join(hourly, ["event_type", "bucket"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("avg_v").isNotNull(), F.col("bucket"))
    ctx = joined.select(
        "event_type",
        "bucket",
        "n",
        "avg_v",
        F.last("avg_v", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_bucket, ignorenulls=True).over(wb).alias("prev_b"),
        F.first("avg_v", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_bucket, ignorenulls=True).over(wf).alias("next_b"),
    )
    filled = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("bucket") - F.col("prev_b"))
            / (F.col("next_b") - F.col("prev_b"))
        )
    )
    return ctx.select(
        "event_type",
        "bucket",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.when(F.col("avg_v").isNotNull(), 0).otherwise(1).alias("is_gap"),
        ravg(filled).alias("value_filled"),
    )


@query(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT dayofweek(ts)           AS dow,
           CAST(hour(ts) AS INT)   AS hod,
           count(*)                AS n,
           round(avg(value) + 1e-9, 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_heatmap_dow_hour(spark, sf_dir):
    """Activity heatmap: events bucketed by (day-of-week × hour-of-day) —
    the classic usage-pattern grid. Convention trap handled explicitly:
    Spark's dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6, so the
    engine side subtracts 1 to meet the oracle. One two-key groupBy, ≤168
    output rows at any scale."""
    e = T(spark, sf_dir, "events")
    return e.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        ravg(F.avg("value")).alias("avg_value"),
    )


@query(
    "events_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             min(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) AS h0
      FROM events GROUP BY user_id
    ),
    hourly_new AS (
      SELECT h0 AS bucket_start, count(*) AS new_users
      FROM first_seen GROUP BY h0
    )
    SELECT bucket_start,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY bucket_start
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_users
    FROM hourly_new
    """,
)
def events_cumulative_users(spark, sf_dir):
    """Cumulative distinct users per hour WITHOUT any per-bucket
    distinct state: each user collapses to their first-seen hour (one
    groupBy), hourly new-user counts roll up with a running sum over the
    tiny hour series.
    The exact-streaming-cardinality idiom — a naive per-bucket
    count(DISTINCT) over a growing window would rescan history at every
    step; first-seen attribution makes cumulative cardinality a one-pass
    aggregate at any scale (the final window runs over ~hours rows only)."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    first_seen = e.groupBy("user_id").agg(F.min(hour).alias("h0"))
    hourly_new = first_seen.groupBy(F.col("h0").alias("bucket_start")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("bucket_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hourly_new.select(
        "bucket_start",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@query(
    "events_debounce",
    oracle="""
    WITH marked AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 300 THEN 1
                  ELSE 0 END AS burst_head
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    bursts AS (
      SELECT event_id, user_id, event_type, ts,
             sum(burst_head) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS burst_id
      FROM marked
    )
    SELECT user_id, event_type,
           CAST(min(event_id) AS BIGINT)        AS kept_event_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS burst_start_s,
           CAST(count(*) AS BIGINT)             AS n_collapsed
    FROM bursts
    GROUP BY user_id, event_type, burst_id
    """,
)
def events_debounce(spark, sf_dir):
    """Event debouncing: bursts of same (user, type) events separated by
    < 5 minutes collapse to their first event (kept id + burst size) — the
    duplicate-click / retry-storm hygiene filter, as gaps-and-islands
    (burst head marking + running island id). Same shuffle topology as
    sessionization: one window partitioned by the (user, type) key, total
    order (ts, event_id) for cross-engine determinism."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts").cast("long")).over(w)
    marked = e.withColumn(
        "burst_head",
        F.when(
            prev_ts.isNull() | (F.col("ts").cast("long") - prev_ts >= 300), 1
        ).otherwise(0),
    )
    bursts = marked.withColumn(
        "burst_id",
        F.sum("burst_head").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return bursts.groupBy("user_id", "event_type", "burst_id").agg(
        F.min("event_id").cast("bigint").alias("kept_event_id"),
        F.min(F.col("ts").cast("long")).cast("bigint").alias("burst_start_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_collapsed"),
    ).drop("burst_id")


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    cnt AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    tot AS (SELECT src, sum(n) AS t FROM cnt GROUP BY src)
    SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(t.t AS DOUBLE) + 1e-9, 6) AS p
    FROM cnt c JOIN tot t ON c.src = t.src
    """,
)
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current), from lead() over each user's timeline —
    the journey-analytics / next-action model input. One window shuffle on
    user_id, one small (|types|²) aggregation; the row-normalizing totals
    join is over ≤|types| rows."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").alias("t"))
    return cnt.join(tot, "src").select(
        "src",
        "dst",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("t").cast("double") + 1e-9, 6).alias("p"),
    )


@query(
    "events_trending_topk",
    oracle="""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT bucket_start, event_type, n,
             row_number() OVER (PARTITION BY bucket_start
                                ORDER BY n DESC, event_type) AS rk
      FROM hourly
    )
    SELECT bucket_start, CAST(rk AS INT) AS rk, event_type, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rk <= 3
    """,
)
def events_trending_topk(spark, sf_dir):
    """Trending items: top-3 event types per hour by count — per-group
    top-K via row_number over the (already tiny) hourly aggregate, with a
    deterministic (count desc, type) tiebreak. The aggregation is the only
    full-data shuffle; the ranking window runs over ≤|types| rows per
    bucket. The per-group-top-K discipline at 100 TB: rank AFTER
    aggregating, never window over raw events."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    hourly = e.groupBy(
        bucket.alias("bucket_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        hourly.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("bucket_start", "rk", "event_type", F.col("n").cast("bigint"))
    )


@query(
    "events_hourly_quantiles",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT)                       AS n,
           round(quantile_cont(value, 0.5) + 1e-9, 6)     AS p50,
           round(quantile_cont(value, 0.95) + 1e-9, 6)    AS p95,
           round(max(value) + 1e-9, 6)                    AS vmax
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_quantiles(spark, sf_dir):
    """Exact hourly latency-style percentiles per event type (p50/p95/max)
    — the SLO dashboard aggregate. Exact interpolated percentile (Hive
    `percentile` bridge ≡ DuckDB quantile_cont) over the (hour, type)
    groups: one shuffle keyed on the group, map-side partial collection.
    At 100 TB the exact form is viable exactly because the grouping bounds
    each sort to one (hour, type) cell; the streaming/sketch alternative
    (approx_percentile) is the documented rows-only path."""
    e = T(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    return e.groupBy(bucket.alias("bucket_start"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)) + F.lit(1e-9), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)) + F.lit(1e-9), 6).alias("p95"),
        F.round(F.max("value") + F.lit(1e-9), 6).alias("vmax"),
    )


@query(
    "events_path_analysis",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
      FROM ordered WHERE e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT rk, path, n FROM (
      SELECT path, CAST(n AS BIGINT) AS n,
             row_number() OVER (ORDER BY n DESC, path) AS rk
      FROM paths
    ) WHERE rk <= 10
    """,
)
def events_path_analysis(spark, sf_dir):
    """Behavioral path mining: the 10 most frequent 3-step event-type
    sequences across user timelines (funnel discovery — what journeys
    actually happen, vs events_funnel which checks one prescribed
    journey). Per-user trigrams come from two lead() calls over ONE
    (user, time)-ordered window exchange — no self-joins on the event
    table; counting is a path-keyed shuffle with map-side partials; the
    final ranking runs over the tiny aggregate. Deterministic (ts,
    event_id) ordering pins tie cases in both engines."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = ordered.groupBy(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.orderBy(F.desc("n"), "path")
    return (
        paths.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select("rk", "path", "n")
    )


@query(
    "events_lateness_audit",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             floor(epoch(ts)) AS ts_s,
             max(floor(epoch(ts))) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS high_water
      FROM events
    ),
    late AS (
      SELECT event_type, high_water - ts_s AS late_s FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(late_s, 0.5) + 1e-9, 4)  AS p50_late_s,
           round(quantile_cont(late_s, 0.95) + 1e-9, 4) AS p95_late_s,
           CAST(max(late_s) AS BIGINT)                  AS max_late_s,
           round(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) * 1.0
                 / count(*) + 1e-9, 6) AS share_over_10min
    FROM late GROUP BY event_type
    """,
)
def events_lateness_audit(spark, sf_dir):
    """Watermark-sizing audit: per event type, how late events arrive
    relative to the running event-time high-water mark in ARRIVAL order
    (event_id as the arrival proxy) — p50/p95/max lateness and the share
    beyond 10 minutes. This is the report that justifies (or indicts) the
    streaming jobs' '10 minutes' watermark: rows in the >10 min share are
    exactly what those jobs would drop. The running max is a per-type
    partitioned window (one exchange keyed on type, each partition
    streamed once); quantiles are exact per-(type) cells."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_s = F.floor(F.col("ts").cast("long"))
    arr = e.select(
        "event_type",
        ts_s.alias("ts_s"),
        F.max(ts_s).over(w).alias("high_water"),
    )
    late = arr.select(
        "event_type", (F.col("high_water") - F.col("ts_s")).alias("late_s")
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("late_s", F.lit(0.5)) + F.lit(1e-9), 4).alias(
            "p50_late_s"
        ),
        F.round(F.percentile("late_s", F.lit(0.95)) + F.lit(1e-9), 4).alias(
            "p95_late_s"
        ),
        F.max("late_s").cast("bigint").alias("max_late_s"),
        F.round(
            F.sum(F.when(F.col("late_s") > 600, 1).otherwise(0)) * 1.0
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("share_over_10min"),
    )


# ---- round 7: LTTB downsampling ------------------------------------------

_LTTB_OUT = 30  # output points per series (first + 28 buckets + last)


def _lttb_oracle() -> str:
    nb = _LTTB_OUT - 2
    return f"""
    WITH pts0 AS (
      SELECT event_type, event_id, ts, value,
             epoch(ts) AS xe,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS idx,
             count(*) OVER (PARTITION BY event_type) AS n,
             min(epoch(ts)) OVER (PARTITION BY event_type) AS tmin
      FROM events
    ),
    pts AS (
      SELECT event_type, event_id, ts, value,
             round(xe - tmin + 1e-12, 6) AS x,
             CAST(value AS DOUBLE) AS y, idx, n
      FROM pts0 WHERE n >= {_LTTB_OUT}
    ),
    mid AS (
      SELECT *, CAST(((idx - 1) * {nb}) // (n - 2) AS INTEGER) AS bucket
      FROM pts WHERE idx >= 1 AND idx <= n - 2
    ),
    am AS (
      SELECT event_type, bucket,
             round(avg(x) + 1e-9, 4) AS mx,
             round(avg(y) + 1e-9, 4) AS my
      FROM mid GROUP BY event_type, bucket
    ),
    firstp AS (SELECT * FROM pts WHERE idx = 0),
    lastp  AS (SELECT * FROM pts WHERE idx = n - 1),
    aprev AS (
      SELECT event_type, bucket + 1 AS bucket, mx AS ax, my AS ay FROM am
      UNION ALL
      SELECT event_type, 0, round(x + 1e-9, 4), round(y + 1e-9, 4)
      FROM firstp
    ),
    anext AS (
      SELECT event_type, bucket - 1 AS bucket, mx AS nx, my AS ny FROM am
      UNION ALL
      SELECT event_type, {nb - 1}, round(x + 1e-9, 4), round(y + 1e-9, 4)
      FROM lastp
    ),
    scored AS (
      SELECT m.event_type, m.bucket, m.event_id, m.ts, m.value,
             round(abs((p.ax - q.nx) * (m.y - p.ay)
                       - (p.ax - m.x) * (p.ay - q.ny)) + 1e-9, 6) AS area
      FROM mid m
      JOIN aprev p ON m.event_type = p.event_type AND m.bucket = p.bucket
      JOIN anext q ON m.event_type = q.event_type AND m.bucket = q.bucket
    ),
    sel AS (
      SELECT event_type, bucket + 1 AS slot, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, area
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                         ORDER BY area DESC, ts, event_id)
                        AS rn
            FROM scored)
      WHERE rn = 1
    )
    SELECT event_type, CAST(slot AS INTEGER) AS slot, event_id, ts_s,
           value, area
    FROM sel
    UNION ALL
    SELECT event_type, 0, event_id,
           CAST(floor(epoch(ts)) AS BIGINT), value, 0.0 FROM firstp
    UNION ALL
    SELECT event_type, {_LTTB_OUT - 1}, event_id,
           CAST(floor(epoch(ts)) AS BIGINT), value, 0.0 FROM lastp
    """


@query("events_downsample_lttb", oracle=_lttb_oracle())
def events_downsample_lttb(spark, sf_dir):
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    the standard visually-faithful decimation dashboards run before
    plotting a dense series: per event_type, keep first + last point and,
    from each of `_LTTB_OUT - 2` equal-COUNT middle buckets, the point forming the
    largest triangle with its neighbor buckets' anchors. This is the
    PARALLEL variant (anchors = neighbor-bucket MEANS, fixed up front)
    rather than the sequential original (anchor = previously selected
    point), which has a chain dependency no engine can parallelize — the
    standard trade in distributed LTTB, visually indistinguishable.

    Determinism: x is rebased per series (epoch - series min) BEFORE the
    6dp-quantized bucket means — at raw-epoch magnitude (~1.7e9) the
    cross-engine summation noise of an average (~1e-7 absolute) straddles
    the 6dp grid, rebased (~1e6) it is 1e-10 and safely inside it; bucket
    assignment is pure integer division; triangle areas multiply
    identically-quantized doubles in the same op order both engines, and
    the per-bucket argmax tie-breaks on (ts, event_id).

    100 TB: one (type)-keyed window for idx/n, one (type, bucket) shuffle
    for means and argmax — the anchors table is `_LTTB_OUT`·|types| rows
    (broadcast); no global sort, no collect. At extreme per-type density,
    sub-key the window by coarse time range and LTTB each range."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("ts", "event_id")
    pts0 = e.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.col("ts").cast("double").alias("xe"),
        (F.row_number().over(wo) - 1).alias("idx"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.min(F.col("ts").cast("double")).over(wt).alias("tmin"),
    )
    pts = pts0.filter(F.col("n") >= _LTTB_OUT).select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.round(F.col("xe") - F.col("tmin") + F.lit(1e-12), 6).alias("x"),
        F.col("value").cast("double").alias("y"),
        "idx",
        "n",
    )
    nb = _LTTB_OUT - 2
    mid = pts.filter((F.col("idx") >= 1) & (F.col("idx") <= F.col("n") - 2)).withColumn(
        "bucket", F.expr(f"CAST(((idx - 1) * {nb}) DIV (n - 2) AS INT)")
    )
    am = mid.groupBy("event_type", "bucket").agg(
        # 4dp + 1e-9 (the sums-of-partials rule): at rebased-x magnitude
        # (~1e6) cross-engine avg noise is ~1e-9 — a 6dp grid flips ~1 in
        # 1e3 anchors (observed: 2 of 150 rows in the first sweep)
        F.round(F.avg("x") + F.lit(1e-9), 4).alias("mx"),
        F.round(F.avg("y") + F.lit(1e-9), 4).alias("my"),
    )
    firstp = pts.filter(F.col("idx") == 0)
    lastp = pts.filter(F.col("idx") == F.col("n") - 1)
    aprev = am.select(
        "event_type",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("mx").alias("ax"),
        F.col("my").alias("ay"),
    ).unionByName(
        firstp.select(
            "event_type",
            F.lit(0).alias("bucket"),
            F.round(F.col("x") + F.lit(1e-9), 4).alias("ax"),
            F.round(F.col("y") + F.lit(1e-9), 4).alias("ay"),
        )
    )
    anext = am.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("mx").alias("nx"),
        F.col("my").alias("ny"),
    ).unionByName(
        lastp.select(
            "event_type",
            F.lit(nb - 1).alias("bucket"),
            F.round(F.col("x") + F.lit(1e-9), 4).alias("nx"),
            F.round(F.col("y") + F.lit(1e-9), 4).alias("ny"),
        )
    )
    area = F.round(
        F.abs(
            (F.col("ax") - F.col("nx")) * (F.col("y") - F.col("ay"))
            - (F.col("ax") - F.col("x")) * (F.col("ay") - F.col("ny"))
        )
        + F.lit(1e-9),
        6,
    )
    scored = (
        mid.join(F.broadcast(aprev), ["event_type", "bucket"])
        .join(F.broadcast(anext), ["event_type", "bucket"])
        .select("event_type", "bucket", "event_id", "ts", "value", area.alias("area"))
    )
    wsel = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("area"), "ts", "event_id"
    )
    sel = (
        scored.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            (F.col("bucket") + 1).cast("int").alias("slot"),
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "value",
            "area",
        )
    )
    ends = firstp.select(
        "event_type",
        F.lit(0).cast("int").alias("slot"),
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        "value",
        F.lit(0.0).alias("area"),
    ).unionByName(
        lastp.select(
            "event_type",
            F.lit(_LTTB_OUT - 1).cast("int").alias("slot"),
            "event_id",
            F.col("ts").cast("long").alias("ts_s"),
            "value",
            F.lit(0.0).alias("area"),
        )
    )
    return sel.unionByName(ends)


# ---- round 7: CUSUM changepoint detection --------------------------------


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH hb AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             round(avg(CAST(value AS DOUBLE)) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, count(*) AS n,
             round(avg(v) + 1e-9, 6) AS gm,
             round(var_samp(v) + 1e-9, 6) AS vr
      FROM hb GROUP BY event_type
    ),
    cs AS (
      SELECT h.event_type, h.bucket, s.n, s.gm, s.vr,
             round(sum(h.v - s.gm)
                     OVER (PARTITION BY h.event_type ORDER BY h.bucket
                           ROWS UNBOUNDED PRECEDING) + 1e-9, 4) AS s_k
      FROM hb h JOIN st s USING (event_type)
    ),
    cp AS (
      SELECT event_type, bucket AS cp_bucket, s_k, n, gm, vr FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(s_k) DESC, bucket) AS rn
        FROM cs) WHERE rn = 1
    ),
    seg AS (
      SELECT c.event_type,
             round(avg(CASE WHEN h.bucket <= c.cp_bucket THEN h.v END)
                   + 1e-9, 4) AS mean_before,
             round(avg(CASE WHEN h.bucket > c.cp_bucket THEN h.v END)
                   + 1e-9, 4) AS mean_after
      FROM cp c JOIN hb h USING (event_type) GROUP BY c.event_type
    )
    SELECT c.event_type, CAST(c.n AS BIGINT) AS n_buckets,
           c.gm AS grand_mean, c.cp_bucket,
           round(abs(c.s_k) + 1e-9, 4) AS s_max,
           g.mean_before, g.mean_after,
           round(g.mean_after - g.mean_before + 1e-9, 4) AS shift,
           (c.s_k * c.s_k > 4.0 * c.vr * c.n) AS detected
    FROM cp c JOIN seg g USING (event_type)
    """,
)
def events_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection per event_type (Page 1954, the
    offline max-|CUSUM| form): hourly mean series, cumulative sum of
    deviations from the series mean, changepoint = the hour maximizing
    |S_k|, plus before/after segment means, the shift estimate, and a
    detection verdict comparing S_max^2 against 4·var·n — the squared
    form of the classic S_max > 2·sd·sqrt(n) threshold, kept sqrt-free so
    the verdict is pure arithmetic over already-quantized values (the
    libm-tail discipline). The monitoring op that tells an operator WHEN
    a metric's level shifted, next to events_anomaly_zscore's WHICH ROWS
    are outliers.

    Determinism: hourly means quantized 6dp before anything downstream;
    the running CUSUM is a frame-ordered window sum (identical addition
    order both engines) cut at 4dp (sums-of-partials rule); argmax
    tie-breaks on bucket; segment means cut at 4dp.

    100 TB: one (type, hour) partial-agg shuffle, then all windows ride
    the type-keyed exchange over |hours| rows per type (~10^4/year) —
    corpus-sized data never reaches a window."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    hb = (
        e.groupBy(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 3600) * 3600)
            .cast("bigint")
            .alias("bucket"),
        )
        .agg(F.round(F.avg(F.col("value").cast("double")) + F.lit(1e-9), 6).alias("v"))
    )
    st = hb.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v") + F.lit(1e-9), 6).alias("gm"),
        F.round(F.var_samp("v") + F.lit(1e-9), 6).alias("vr"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = hb.join(st, "event_type").select(
        "event_type",
        "bucket",
        "n",
        "gm",
        "vr",
        "v",
        F.round(
            F.sum(F.col("v") - F.col("gm")).over(wcum) + F.lit(1e-9), 4
        ).alias("s_k"),
    )
    wcp = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_k")).desc(), "bucket"
    )
    cp = (
        cs.withColumn("rn", F.row_number().over(wcp))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", F.col("bucket").alias("cp_bucket"), "s_k", "n", "gm", "vr"
        )
    )
    seg = (
        cp.select("event_type", "cp_bucket")
        .join(hb, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.avg(F.when(F.col("bucket") <= F.col("cp_bucket"), F.col("v")))
                + F.lit(1e-9),
                4,
            ).alias("mean_before"),
            F.round(
                F.avg(F.when(F.col("bucket") > F.col("cp_bucket"), F.col("v")))
                + F.lit(1e-9),
                4,
            ).alias("mean_after"),
        )
    )
    return cp.join(seg, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_buckets"),
        F.col("gm").alias("grand_mean"),
        "cp_bucket",
        F.round(F.abs(F.col("s_k")) + F.lit(1e-9), 4).alias("s_max"),
        "mean_before",
        "mean_after",
        F.round(F.col("mean_after") - F.col("mean_before") + F.lit(1e-9), 4).alias(
            "shift"
        ),
        (F.col("s_k") * F.col("s_k") > 4.0 * F.col("vr") * F.col("n")).alias(
            "detected"
        ),
    )


_ACF_LAGS = (1, 2, 3, 6, 12)

@query(
    "events_autocorrelation",
    oracle=f"""
    WITH hb AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             round(avg(CAST(value AS DOUBLE)) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, count(*) AS n,
             round(avg(v) + 1e-9, 6) AS m
      FROM hb GROUP BY event_type
    ),
    den AS (
      SELECT h.event_type, s.n, s.m,
             round(sum((h.v - s.m) * (h.v - s.m)) + 1e-9, 4) AS ss
      FROM hb h JOIN st s USING (event_type) GROUP BY h.event_type, s.n, s.m
    ),
    lags AS (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]) AS lag_h),
    pairs AS (
      SELECT h.event_type, l.lag_h,
             count(*) AS n_pairs,
             round(sum((h.v - d.m) * (p.v - d.m)) + 1e-9, 4) AS num
      FROM hb h
      CROSS JOIN lags l
      JOIN hb p ON p.event_type = h.event_type
              AND p.bucket = h.bucket - l.lag_h * 3600
      JOIN den d ON d.event_type = h.event_type
      GROUP BY h.event_type, l.lag_h, d.ss
    )
    SELECT p.event_type, CAST(p.lag_h AS INT) AS lag_h,
           CAST(p.n_pairs AS BIGINT) AS n_pairs,
           round(p.num / d.ss + 1e-9, 4) AS acf
    FROM pairs p JOIN den d USING (event_type)
    """,
)
def events_autocorrelation(spark, sf_dir):
    """Sample autocorrelation function per event_type at lags {1,2,3,6,12}
    hours over the hourly mean series — the seasonality/persistence
    diagnostic that tells an operator whether a metric has daily structure
    (acf@12/24 high) or is white noise. ACF_k = Σ(v_t−m)(v_{t−k}−m) / Σ(v_t−m)²
    with the full-series mean m and variance denominator (the standard
    estimator); gap-aware because the lagged partner is matched by
    *bucket arithmetic* (bucket − k·3600), not row offset, so missing
    hours produce no phantom pairs.

    Determinism: hourly means 6dp; m 6dp; products of rounded values are
    bit-identical, their order-nondeterministic sums cut at 4dp before
    the ratio; ratio re-cut 4dp.

    100 TB: the raw scan collapses to (type, hour) partials first —
    everything downstream (self-join on shifted bucket key, lag fan-out
    ×5) runs over |types|·|hours| rows, shuffled on event_type; corpus
    rows never reach a join."""
    e = T(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.round(F.avg(F.col("value").cast("double")) + F.lit(1e-9), 6).alias("v"))
    st = hb.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v") + F.lit(1e-9), 6).alias("m"),
    )
    den = (
        hb.join(st, "event_type")
        .groupBy("event_type", "n", "m")
        .agg(
            F.round(
                F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))
                + F.lit(1e-9),
                4,
            ).alias("ss")
        )
    )
    lags = F.explode(F.array(*[F.lit(k) for k in _ACF_LAGS])).alias("lag_h")
    fan = hb.select("event_type", "bucket", "v", lags)
    part = hb.select(
        "event_type", F.col("bucket").alias("pbucket"), F.col("v").alias("pv")
    )
    pairs = (
        fan.join(
            part,
            (part["event_type"] == fan["event_type"])
            & (part["pbucket"] == fan["bucket"] - fan["lag_h"] * 3600),
        )
        .drop(part["event_type"])
        .join(den.select("event_type", "m", "ss"), "event_type")
        .groupBy("event_type", "lag_h", "ss")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum((F.col("v") - F.col("m")) * (F.col("pv") - F.col("m")))
                + F.lit(1e-9),
                4,
            ).alias("num"),
        )
    )
    return pairs.select(
        "event_type",
        F.col("lag_h").cast("int").alias("lag_h"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(F.col("num") / F.col("ss") + F.lit(1e-9), 4).alias("acf"),
    )


# Truncated-EWMA taps: alpha=0.3, w_j = 0.3 * 0.7^j, j = 0..7. Written as
# exact decimal literals so BOTH engines parse the identical double constant
# (a runtime pow() could differ in the last ulp between libm builds).
_EWMA_W = (
    "0.3",
    "0.21",
    "0.147",
    "0.1029",
    "0.07203",
    "0.050421",
    "0.0352947",
    "0.02470629",
)


def _ewma_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(v, {j}) OVER w AS x{j}" for j in range(len(_EWMA_W))
    )
    num = " + ".join(
        f"CASE WHEN x{j} IS NULL THEN 0.0 ELSE {w} * x{j} END"
        for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"CASE WHEN x{j} IS NULL THEN 0.0 ELSE {w} END"
        for j, w in enumerate(_EWMA_W)
    )
    taps = " + ".join(
        f"CASE WHEN x{j} IS NULL THEN 0 ELSE 1 END" for j in range(len(_EWMA_W))
    )
    return f"""
    WITH hb AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             round(avg(CAST(value AS DOUBLE)) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, bucket, v,
             {lag_cols}
      FROM hb
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    )
    SELECT event_type, bucket, v,
           CAST({taps} AS INT) AS n_taps,
           round(({num}) / ({den}) + 1e-9, 6) AS ewma
    FROM lagged
    """


@query("events_ewma_taps", oracle=_ewma_oracle())
def events_ewma_taps(spark, sf_dir):
    """Exponentially-weighted moving average, truncated to 8 taps
    (alpha=0.3, so the dropped tail carries 0.7^8 ≈ 5.8% of the mass),
    per event_type over the hourly mean series — the smoothing primitive
    behind dashboards and alert baselines. The truncation is what makes
    the op *windowed* instead of recursive: a true recursive EWMA is a
    sequential scan per series, but 8 fixed taps are just lag(v, j)
    columns in ONE window node, and the leading-edge rows renormalize
    over the taps actually present.

    Determinism: each tap is (exact decimal weight literal) × (6dp value)
    — products of identically-rounded inputs are bit-identical on both
    engines; numerator/denominator are FIXED TEXTUAL ORDER few-term sums
    (the few-term-total rule, not an order-nondeterministic SUM agg), so
    the ratio is bit-identical before its 6dp cut.

    100 TB: one (type, hour) partial agg collapses the corpus; all 8 lags
    ride a single type-keyed window exchange over |hours| rows per type.
    A year of hourly buckets is ~8.8k rows per series — never a wide
    partition."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.round(F.avg(F.col("value").cast("double")) + F.lit(1e-9), 6).alias("v"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = hb.select(
        "event_type",
        "bucket",
        "v",
        *[F.lag("v", j).over(w).alias(f"x{j}") for j in range(len(_EWMA_W))],
    )
    num = None
    den = None
    taps = None
    for j, wl in enumerate(_EWMA_W):
        t_num = F.when(F.col(f"x{j}").isNull(), F.lit(0.0)).otherwise(
            F.lit(float(wl)) * F.col(f"x{j}")
        )
        t_den = F.when(F.col(f"x{j}").isNull(), F.lit(0.0)).otherwise(F.lit(float(wl)))
        t_tap = F.when(F.col(f"x{j}").isNull(), F.lit(0)).otherwise(F.lit(1))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
        taps = t_tap if taps is None else taps + t_tap
    return lagged.select(
        "event_type",
        "bucket",
        "v",
        taps.cast("int").alias("n_taps"),
        F.round(num / den + F.lit(1e-9), 6).alias("ewma"),
    )


@query(
    "events_seasonal_residual",
    oracle="""
    WITH hb AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             round(avg(CAST(value AS DOUBLE)) + 1e-9, 6) AS v
      FROM events GROUP BY 1, 2
    ),
    seas AS (
      SELECT event_type,
             CAST((bucket // 3600) % 24 AS INT) AS hod,
             round(avg(v) + 1e-9, 6) AS base,
             count(*) AS n_obs
      FROM hb GROUP BY 1, 2
    ),
    res AS (
      SELECT h.event_type, h.bucket, s.hod, h.v, s.base,
             h.v - s.base AS r
      FROM hb h
      JOIN seas s ON s.event_type = h.event_type
                 AND s.hod = CAST((h.bucket // 3600) % 24 AS INT)
    ),
    sd AS (
      SELECT event_type, round(stddev_samp(r) + 1e-9, 6) AS sd_r
      FROM res GROUP BY event_type
    )
    SELECT r.event_type, r.bucket, r.hod, r.v, r.base,
           round(r.r + 1e-9, 4) AS resid,
           (round(abs(r.r) + 1e-9, 4) > round(2.0 * d.sd_r + 1e-9, 4))
             AS is_anomaly
    FROM res r JOIN sd d USING (event_type)
    """,
)
def events_seasonal_residual(spark, sf_dir):
    """Seasonal-naive decomposition + residual anomaly flags: the hourly
    mean series per event_type is split into an hour-of-day seasonal
    baseline (avg over all same-hour observations) and a residual; hours
    whose |residual| exceeds 2σ of the type's residual distribution are
    flagged. This is the deseasonalized counterpart to
    events_anomaly_zscore — a 3 am spike is judged against *other 3 ams*,
    not the 24 h blend, so daily rhythm stops masking true anomalies.

    Determinism: hourly means and baselines 6dp, so the residual (their
    difference) is exact; σ is a variance sum cut at 6dp; BOTH comparison
    sides re-cut at 4dp before the > so the boolean can't straddle an
    accumulation tail.

    100 TB: (type, hour) partial agg collapses the corpus; the seasonal
    profile is |types|×24 rows joined back on the (type, hod) key; every
    downstream table is bucket-granularity. One corpus scan total."""
    e = T(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.round(F.avg(F.col("value").cast("double")) + F.lit(1e-9), 6).alias("v"))
    hod = ((F.col("bucket") / 3600) % 24).cast("int")
    hbh = hb.withColumn("hod", hod)
    seas = hbh.groupBy("event_type", "hod").agg(
        F.round(F.avg("v") + F.lit(1e-9), 6).alias("base"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    res = hbh.join(F.broadcast(seas.select("event_type", "hod", "base")),
                   ["event_type", "hod"]).withColumn(
        "r", F.col("v") - F.col("base")
    )
    sd = res.groupBy("event_type").agg(
        F.round(F.stddev_samp("r") + F.lit(1e-9), 6).alias("sd_r")
    )
    return res.join(F.broadcast(sd), "event_type").select(
        "event_type",
        "bucket",
        "hod",
        "v",
        "base",
        F.round(F.col("r") + F.lit(1e-9), 4).alias("resid"),
        (
            F.round(F.abs(F.col("r")) + F.lit(1e-9), 4)
            > F.round(2.0 * F.col("sd_r") + F.lit(1e-9), 4)
        ).alias("is_anomaly"),
    )


@query(
    "events_sliding_distinct_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS day,
             user_id
      FROM events
    ),
    bounds AS (
      SELECT min(day) AS lo, max(day) AS hi FROM ud
    ),
    fan AS (
      SELECT u.event_type, u.user_id,
             u.day + k.k * 86400 AS wday
      FROM ud u
      CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k) k
      CROSS JOIN bounds b
      WHERE u.day + k.k * 86400 <= b.hi
    )
    SELECT event_type, wday AS window_end_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM fan GROUP BY 1, 2
    """,
)
def events_sliding_distinct_users(spark, sf_dir):
    """Sliding-window COUNT DISTINCT: for every (type, day), the number
    of distinct users active in the trailing 7-day window — the weekly-
    active-users series. Distinct-over-sliding-window is the textbook
    op a SQL window function CANNOT express (count(distinct) over a
    frame is unsupported precisely because it can't be computed
    incrementally), so the engine rewrite is fan-out: dedup to
    (type, user, day) grain first, replicate each survivor into the ≤7
    window-end days it serves, and count distinct per (type, window).

    Determinism: pure exact integer arithmetic end-to-end.

    100 TB: the first distinct collapses the corpus to user-day grain
    (map-side partials do most of it — a user's repeat events within a
    day never leave the mapper); the ×7 fan-out multiplies the SMALL
    deduped table, not the corpus; the final distinct shuffles on
    (type, wday) — bounded keys, heavy values — which is exactly the
    two-level distinct shape Spark plans as partial_count(distinct)."""
    e = T(spark, sf_dir, "events")
    ud = e.select(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 86400) * 86400)
        .cast("bigint")
        .alias("day"),
        "user_id",
    ).distinct()
    bounds = ud.agg(F.max("day").alias("hi"))
    fan = (
        ud.select(
            "event_type",
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6 * 86400, F.lit(86400))
            ).alias("wday"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("wday") <= F.col("hi"))
    )
    return fan.groupBy("event_type", F.col("wday").alias("window_end_day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_distinct_users")
    )


# ---- interval union / coverage (gaps-and-islands) ------------------------

_IVC_SQL = """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 60 + (event_id % 541) AS e,
         event_id
  FROM events
),
flagged AS (
  SELECT user_id, s, e, event_id,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY user_id ORDER BY s, e, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
),
per_island AS (
  SELECT user_id, island_id,
         min(s) AS i_start, max(e) AS i_end, count(*) AS n_iv
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(sum(n_iv) AS BIGINT)            AS n_intervals,
       CAST(count(*) AS BIGINT)             AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_s,
       CAST(max(i_end - i_start) AS BIGINT) AS max_island_s,
       CAST(min(i_start) AS BIGINT)         AS first_start,
       CAST(max(i_end) AS BIGINT)           AS last_end
FROM per_island GROUP BY user_id
"""


@query("events_interval_coverage", oracle=_IVC_SQL)
def events_interval_coverage(spark, sf_dir):
    """Interval union / coverage per user (gaps-and-islands): each event
    opens a deterministic interval [ts, ts + 60 + event_id % 541 s); all
    overlapping-or-touching intervals merge into islands, and the report
    is per-user island count, total covered seconds, and the longest
    contiguous stretch — the classic uptime/occupancy/billing-coverage
    operator that a naive `sum(duration)` double-counts.

    The merge is the two-window rewrite: an interval starts a new island
    iff its start exceeds the running max(end) over all PRECEDING
    intervals in (start, end, event_id) order; the island id is then the
    running sum of that flag. Pure BIGINT arithmetic — both engines agree
    bitwise.

    100 TB shape: one shuffle on user_id; both window passes reuse the
    same sort (Spark plans a single Sort + two Window nodes), then the
    island rollup is an ordinary hash aggregate. Per-user partitions are
    event-count bounded — no global sort, no island materialized wider
    than a row."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + 60 + F.col("event_id") % 541).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_run)
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_s"),
        F.max(F.col("i_end") - F.col("i_start")).cast("bigint").alias("max_island_s"),
        F.min("i_start").cast("bigint").alias("first_start"),
        F.max("i_end").cast("bigint").alias("last_end"),
    )

# ---- Holt linear-trend smoothing + h-step forecast ------------------------

_HOLT_Q6 = "floor(({x}) * 1000000 + 0.5) / 1000000"


def _q6(x: str) -> str:
    return _HOLT_Q6.format(x=x)


_HOLT_LNEW = _q6("0.5 * s.v + 0.5 * (r.l + r.b)")

_HOLT_SQL = f"""
WITH RECURSIVE hb AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
         floor((avg(CAST(value AS DOUBLE)) + 1e-9) * 1000000 + 0.5) / 1000000 AS v
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM hb
),
sz AS (SELECT event_type, max(rn) AS n FROM seq GROUP BY event_type),
rec AS (
  SELECT s1.event_type,
         CAST(1 AS BIGINT) AS rn,
         s1.v AS l,
         {_q6("s2.v - s1.v")} AS b,
         CAST(0 AS DOUBLE) AS sse
  FROM seq s1
  JOIN seq s2 ON s2.event_type = s1.event_type AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT r.event_type, r.rn + 1,
         {_HOLT_LNEW},
         {_q6(f"0.25 * ({_HOLT_LNEW} - r.l) + 0.75 * r.b")},
         r.sse + (s.v - (r.l + r.b)) * (s.v - (r.l + r.b))
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT r.event_type,
       CAST(z.n AS BIGINT) AS n_buckets,
       r.l AS level, r.b AS trend,
       floor(r.sse * 10000 + 0.5) / 10000 AS sse,
       floor((r.l + 1 * r.b) * 10000 + 0.5) / 10000 AS f1,
       floor((r.l + 2 * r.b) * 10000 + 0.5) / 10000 AS f2,
       floor((r.l + 3 * r.b) * 10000 + 0.5) / 10000 AS f3
FROM rec r JOIN sz z ON z.event_type = r.event_type AND r.rn = z.n
"""


@query("events_holt_linear", oracle=_HOLT_SQL)
def events_holt_linear(spark, sf_dir):
    """Holt linear-trend exponential smoothing per event_type over the
    hourly mean series, with 1/2/3-hour-ahead forecasts and the one-step
    -ahead SSE (the model-fit number an operator alarms on) — the
    forecasting counterpart to events_ewma_taps' filter. alpha=0.5,
    beta=0.25 (exact binary fractions, so every product is deterministic):

        l_t = 0.5*y_t + 0.5*(l_{t-1} + b_{t-1})
        b_t = 0.25*(l_t - l_{t-1}) + 0.75*b_{t-1}
        f_h = l_T + h*b_T          (init l_1=y_1, b_1=y_2-y_1)

    Determinism: the hourly mean (the only order-nondeterministic sum) is
    shift-quantized at 6dp; each recurrence step re-quantizes l and b at
    6dp via the half-up floor formula (pandas .round is half-even, SQL
    round is half-away — ``floor(x*1e6+0.5)/1e6`` is the one spelling both
    engines compute bit-identically); the SSE accumulates in the same
    sequential order on both sides, so it is bit-identical before its
    final 4dp cut. The DuckDB oracle replays the recursion statement for
    statement with a recursive CTE.

    100 TB: the raw scan collapses map-side to (type, hour) partials; the
    smoother itself is inherently sequential in time but keyed-parallel
    across types via one applyInPandas over series whose length is
    calendar-bounded (10 years ~ 87k hours), not data-bounded — the
    classic "reduce to bounded state per key, then iterate in-core"
    shape. Adding series (finer keys) adds parallelism, not state."""
    import math

    import pandas as pd

    e = T(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(
        (
            F.floor(
                (F.avg(F.col("value").cast("double")) + F.lit(1e-9)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("v")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        v = pdf["v"].to_numpy()
        n = len(v)
        if n < 2:
            return pd.DataFrame(
                columns=[
                    "event_type", "n_buckets", "level", "trend",
                    "sse", "f1", "f2", "f3",
                ]
            )
        l = v[0]
        b = math.floor((v[1] - v[0]) * 1000000 + 0.5) / 1000000
        sse = 0.0
        for t in range(1, n):
            pred = l + b
            d = v[t] - pred
            sse = sse + d * d
            l_new = math.floor((0.5 * v[t] + 0.5 * pred) * 1000000 + 0.5) / 1000000
            b = math.floor(
                (0.25 * (l_new - l) + 0.75 * b) * 1000000 + 0.5
            ) / 1000000
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_buckets": [n],
                "level": [l],
                "trend": [b],
                "sse": [math.floor(sse * 10000 + 0.5) / 10000],
                "f1": [math.floor((l + 1 * b) * 10000 + 0.5) / 10000],
                "f2": [math.floor((l + 2 * b) * 10000 + 0.5) / 10000],
                "f3": [math.floor((l + 3 * b) * 10000 + 0.5) / 10000],
            }
        )

    return hb.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, n_buckets bigint, level double, trend double, "
        "sse double, f1 double, f2 double, f3 double",
    )


# ---- robust (MAD) outlier detection ---------------------------------------

_MAD_C = 1.4826  # consistency constant: MAD * c estimates sigma under normality
_MAD_K = 3.0

_MAD_SQL = f"""
WITH med AS (
  SELECT event_type,
         floor((quantile_cont(CAST(value AS DOUBLE), 0.5) + 1e-9) * 1000000
               + 0.5) / 1000000 AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
         m.med, abs(CAST(e.value AS DOUBLE) - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type,
         floor((quantile_cont(adev, 0.5) + 1e-9) * 1000000 + 0.5) / 1000000
           AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, round(d.value + 1e-9, 4) AS value,
       d.med, m2.mad,
       round(d.adev / ({_MAD_C} * m2.mad) + 1e-9, 6) AS robust_z
FROM dev d JOIN mad m2 USING (event_type)
WHERE round(d.adev / ({_MAD_C} * m2.mad) + 1e-9, 6) > {_MAD_K}
"""


@query("events_mad_outliers", oracle=_MAD_SQL)
def events_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median / MAD (median absolute
    deviation): robust_z = |v - median| / (1.4826 * MAD) > 3 — the
    breakdown-resistant counterpart to events_anomaly_zscore, which a
    heavy-tailed metric silently defeats (outliers inflate the mean and
    stddev that are supposed to catch them; the median and MAD have 50%
    breakdown). Emits the flagged rows with their per-type robust score.

    Determinism: both medians are exact linear-interpolated quantiles
    (Spark percentile == DuckDB quantile_cont by definition), shift-
    quantized at 6dp before reuse; the score is 6dp-rounded before the
    threshold cut so an engine ULP cannot flip a boundary row.

    100 TB: two grouped exact quantiles (Spark computes each as a single
    shuffle-and-select per type — or swap percentile_approx in at trillion
    -row scale, the docstring'd upgrade), then one broadcast join of the
    5-row med/mad table against the scan. No corpus-sized shuffle in the
    flagging pass."""
    e = T(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("double")
    )
    q6 = lambda c: F.floor((c + F.lit(1e-9)) * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    med = e.groupBy("event_type").agg(
        q6(F.percentile("value", 0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        q6(F.percentile("adev", 0.5)).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "robust_z",
        F.round(
            F.col("adev") / (F.lit(_MAD_C) * F.col("mad")) + F.lit(1e-9), 6
        ),
    )
    return scored.filter(F.col("robust_z") > _MAD_K).select(
        "event_id",
        "event_type",
        F.round(F.col("value") + F.lit(1e-9), 4).alias("value"),
        "med",
        "mad",
        "robust_z",
    )


# ---- rolling-origin forecast backtest --------------------------------------

_BT_FRACS = (0.6, 0.8)
_BT_H = 3

_BT_LNEW = _q6("0.5 * s.v + 0.5 * (r.l + r.b)")

_BT_SQL = f"""
WITH RECURSIVE hb AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
         floor((avg(CAST(value AS DOUBLE)) + 1e-9) * 1000000 + 0.5) / 1000000 AS v
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM hb
),
sz AS (SELECT event_type, max(rn) AS n FROM seq GROUP BY event_type),
cuts AS (
  SELECT z.event_type, t.f,
         CAST(floor(z.n * t.f) AS BIGINT) AS cut, z.n
  FROM sz z, (VALUES {", ".join(f"(CAST({f} AS DOUBLE))" for f in _BT_FRACS)})
       t(f)
  WHERE CAST(floor(z.n * t.f) AS BIGINT) >= 2
    AND CAST(floor(z.n * t.f) AS BIGINT) + {_BT_H} <= z.n
),
rec AS (
  SELECT c.event_type, c.f, c.cut,
         CAST(1 AS BIGINT) AS rn,
         s1.v AS l,
         {_q6("s2.v - s1.v")} AS b
  FROM cuts c
  JOIN seq s1 ON s1.event_type = c.event_type AND s1.rn = 1
  JOIN seq s2 ON s2.event_type = c.event_type AND s2.rn = 2
  UNION ALL
  SELECT r.event_type, r.f, r.cut, r.rn + 1,
         {_BT_LNEW},
         {_q6(f"0.25 * ({_BT_LNEW} - r.l) + 0.75 * r.b")}
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
  WHERE r.rn + 1 <= r.cut
),
fin AS (SELECT event_type, f, cut, l, b FROM rec WHERE rn = cut),
hs AS (SELECT unnest(range(1, {_BT_H} + 1)) AS h),
ev AS (
  SELECT fin.event_type, fin.f, fin.cut, hs.h,
         floor((fin.l + hs.h * fin.b) * 10000 + 0.5) / 10000 AS forecast,
         floor(a.v * 10000 + 0.5) / 10000 AS actual
  FROM fin CROSS JOIN hs
  JOIN seq a ON a.event_type = fin.event_type AND a.rn = fin.cut + hs.h
)
SELECT event_type, f AS cutoff_frac, cut AS cutoff_rn, CAST(h AS INT) AS h,
       forecast, actual,
       round(abs(forecast - actual) / greatest(abs(actual), 1e-6) + 1e-9, 6)
         AS ape
FROM ev
"""


@query("events_forecast_backtest", oracle=_BT_SQL)
def events_forecast_backtest(spark, sf_dir):
    """Rolling-origin forecast backtest of the Holt linear smoother: for
    each series, train on the first 60% / 80% of hourly buckets, forecast
    h=1..`_BT_H` ahead, and score absolute percentage error against the
    held-out actuals — the evaluation loop that decides whether
    events_holt_linear's model is trustworthy before anyone alarms on it
    (training-set fit like SSE cannot say that; only out-of-sample error
    can).

    Same bit-exact recurrence as events_holt_linear (6dp half-up floor
    quantization per step; the DuckDB oracle replays it with a recursive
    CTE whose state rows carry a (series, cutoff) key and stop at each
    cutoff). Forecast/actual cut at 4dp before the APE ratio; APE guards
    a near-zero actual with greatest(|a|, 1e-6).

    100 TB: identical shape to the smoother — map-side collapse to
    (type, hour), then per-(series x cutoff) sequential recursion over
    calendar-bounded state, keyed-parallel in one applyInPandas (each
    group replays its prefix once per cutoff; cutoffs are a constant)."""
    import math

    import pandas as pd

    e = T(spark, sf_dir, "events")
    hb = e.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket"),
    ).agg(
        (
            F.floor(
                (F.avg(F.col("value").cast("double")) + F.lit(1e-9)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("v")
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        v = pdf["v"].to_numpy()
        n = len(v)
        out = []
        for frac in _BT_FRACS:
            cut = math.floor(n * frac)
            if cut < 2 or cut + _BT_H > n:
                continue
            l = v[0]
            b = math.floor((v[1] - v[0]) * 1000000 + 0.5) / 1000000
            for t in range(1, cut):
                pred = l + b
                l_new = math.floor(
                    (0.5 * v[t] + 0.5 * pred) * 1000000 + 0.5
                ) / 1000000
                b = math.floor(
                    (0.25 * (l_new - l) + 0.75 * b) * 1000000 + 0.5
                ) / 1000000
                l = l_new
            for h in range(1, _BT_H + 1):
                fc = math.floor((l + h * b) * 10000 + 0.5) / 10000
                ac = math.floor(v[cut + h - 1] * 10000 + 0.5) / 10000
                ape = math.floor(
                    (abs(fc - ac) / max(abs(ac), 1e-6) + 1e-9) * 1000000 + 0.5
                )
                out.append(
                    {
                        "event_type": pdf["event_type"].iloc[0],
                        "cutoff_frac": frac,
                        "cutoff_rn": cut,
                        "h": h,
                        "forecast": fc,
                        "actual": ac,
                        "ape": ape / 1000000,
                    }
                )
        cols = [
            "event_type", "cutoff_frac", "cutoff_rn", "h",
            "forecast", "actual", "ape",
        ]
        return pd.DataFrame(out, columns=cols)

    return hb.groupBy("event_type").applyInPandas(
        backtest,
        "event_type string, cutoff_frac double, cutoff_rn bigint, h int, "
        "forecast double, actual double, ape double",
    )


# ---- multi-touch marketing attribution ----------------------------------

_ATTR_SQL = """
WITH p AS (
  SELECT event_id AS pid, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id AS tid, ts, event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click')
),
touches AS (
  SELECT p.pid, t.touch_type, t.ts, t.tid,
         CAST(row_number() OVER (PARTITION BY p.pid ORDER BY t.ts, t.tid)
              AS INT) AS rk_asc,
         CAST(row_number() OVER (PARTITION BY p.pid ORDER BY t.ts DESC, t.tid DESC)
              AS INT) AS rk_desc,
         CAST(count(*) OVER (PARTITION BY p.pid) AS BIGINT) AS n
  FROM p JOIN t ON p.user_id = t.user_id
   AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL '24' HOUR
),
credited AS (
  SELECT touch_type,
         CASE WHEN rk_asc = 1 THEN 'first'
              WHEN rk_desc = 1 THEN 'last'
              ELSE 'middle' END AS role,
         CASE WHEN rk_asc = 1 AND n = 1 THEN 1.0
              WHEN rk_asc = 1 OR rk_desc = 1 THEN
                   CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
              ELSE round(0.2 / (n - 2) + 1e-9, 6) END AS credit
  FROM touches
)
SELECT touch_type, role,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(round(sum(CAST(credit AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_credit
FROM credited
GROUP BY touch_type, role
"""


@query("events_attribution_multitouch", oracle=_ATTR_SQL)
def events_attribution_multitouch(spark, sf_dir):
    """Multi-touch conversion attribution (the U-shaped / position-based
    model marketing warehouses run): every purchase credits the view/click
    touches in its trailing 24 h — a lone touch gets full credit, a pair
    splits 50/50, otherwise first and last get 40% each and the middles
    share the remaining 20% equally. Output: credit mass and touch counts
    per (touch type, position role).

    Dataflow: purchases ⋈ touches is a user-keyed equi join with a
    residual time-range predicate (the fan per purchase is bounded by a
    user's 24 h activity); first/last/size come from two row_number
    windows + one count over the purchase-keyed exchange the join already
    produced. 100 TB: one user-keyed shuffle, one purchase-keyed shuffle,
    map-side partial final agg. Credits are 6dp-quantized then
    DECIMAL-accumulated, so the report is bit-identical across engines.
    Hive parity: pure joins + PTF windowing (SURVEY §2.3/§2.5 composition);
    the attribution model itself is public analytics practice."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("tid"),
        "ts",
        F.col("event_type").alias("touch_type"),
    )
    touches = (
        p.join(t, "user_id")
        .filter(
            (F.col("ts") < F.col("pts"))
            & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        )
        .select("pid", "touch_type", "ts", "tid")
    )
    wp = Window.partitionBy("pid")
    ranked = touches.select(
        "touch_type",
        F.row_number().over(wp.orderBy("ts", "tid")).cast("int").alias("rk_asc"),
        F.row_number()
        .over(wp.orderBy(F.desc("ts"), F.desc("tid")))
        .cast("int")
        .alias("rk_desc"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    role = (
        F.when(F.col("rk_asc") == 1, F.lit("first"))
        .when(F.col("rk_desc") == 1, F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    endpoint = F.when(F.col("n") == 2, F.lit(0.5)).otherwise(F.lit(0.4))
    credit = (
        F.when((F.col("rk_asc") == 1) & (F.col("n") == 1), F.lit(1.0))
        .when((F.col("rk_asc") == 1) | (F.col("rk_desc") == 1), endpoint)
        .otherwise(F.round(F.lit(0.2) / (F.col("n") - 2) + F.lit(1e-9), 6))
    )
    return (
        ranked.select("touch_type", role.alias("role"), credit.alias("credit"))
        .groupBy("touch_type", "role")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum(F.col("credit").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("total_credit"),
        )
    )


# ---- cohort lifetime value (the money counterpart to retention) ---------

_LTV_SQL = """
WITH per_user AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cs
  FROM events GROUP BY user_id
),
purchases AS (
  SELECT e.user_id, p.cs,
         CAST(floor((CAST(floor(epoch(e.ts)) AS BIGINT)
                     - CAST(floor(epoch(p.cs)) AS BIGINT)) / 604800.0)
              AS INT) AS offset_w,
         CAST(round(e.value + 1e-9, 2) AS DECIMAL(18,2)) AS rev
  FROM events e JOIN per_user p USING (user_id)
  WHERE e.event_type = 'purchase'
),
weekly AS (
  SELECT cs, offset_w,
         CAST(count(*) AS BIGINT) AS n_purchases,
         sum(rev) AS revenue
  FROM purchases GROUP BY cs, offset_w
),
cohort_size AS (
  SELECT cs, CAST(count(*) AS BIGINT) AS cohort_n FROM per_user GROUP BY cs
)
SELECT strftime(w.cs, '%Y-%m-%d') AS cohort_week,
       w.offset_w, w.n_purchases, s.cohort_n,
       CAST(round(w.revenue, 2) AS DOUBLE) AS revenue,
       CAST(round(sum(w.revenue) OVER (PARTITION BY w.cs ORDER BY w.offset_w
                                       ROWS UNBOUNDED PRECEDING), 2)
            AS DOUBLE) AS cum_revenue,
       round(CAST(sum(w.revenue) OVER (PARTITION BY w.cs ORDER BY w.offset_w
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / s.cohort_n + 1e-9, 6) AS ltv_per_user
FROM weekly w JOIN cohort_size s USING (cs)
"""


@query("events_ltv_cohorts", oracle=_LTV_SQL)
def events_ltv_cohorts(spark, sf_dir):
    """Cohort lifetime value: users bucketed by first-activity week (the
    retention-cohort key), purchase revenue aggregated per (cohort,
    week-offset), then a cumulative DECIMAL window gives each cohort's
    running LTV and per-user LTV curve — the money counterpart to
    events_retention_cohorts' activity triangle.

    Dataflow: one user-keyed join to attach cohorts, one (cohort, offset)
    aggregate, one cohort-keyed cumulative window over the ~weeks-sized
    aggregate (tiny); cohort sizes broadcast. Week offsets bin in integer
    epoch seconds and revenue accumulates as DECIMAL(18,2) end-to-end, so
    the curve is bit-identical across engines."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cs")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(per_user, "user_id")
        .select(
            "cs",
            F.floor(
                (
                    F.floor(F.col("ts").cast("double")).cast("bigint")
                    - F.floor(F.col("cs").cast("double")).cast("bigint")
                )
                / 604800.0
            )
            .cast("int")
            .alias("offset_w"),
            F.round(F.col("value") + F.lit(1e-9), 2)
            .cast("decimal(18,2)")
            .alias("rev"),
        )
    )
    weekly = purchases.groupBy("cs", "offset_w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("rev").alias("revenue"),
    )
    sizes = per_user.groupBy("cs").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_n")
    )
    wcum = (
        Window.partitionBy("cs")
        .orderBy("offset_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = weekly.join(F.broadcast(sizes), "cs").select(
        F.date_format("cs", "yyyy-MM-dd").alias("cohort_week"),
        "offset_w",
        "n_purchases",
        "cohort_n",
        F.round(F.col("revenue"), 2).cast("double").alias("revenue"),
        F.round(F.sum("revenue").over(wcum), 2).cast("double").alias("cum_revenue"),
        F.round(
            F.sum("revenue").over(wcum).cast("double") / F.col("cohort_n")
            + F.lit(1e-9),
            6,
        ).alias("ltv_per_user"),
    )
    return out


# ---- A/B experiment readout ----------------------------------------------

_AB_SQL = """
WITH arms AS (
  SELECT event_type, user_id % 2 AS arm,
         count(*)         AS n,
         avg(value)       AS m,
         var_samp(value)  AS v
  FROM events GROUP BY event_type, user_id % 2
)
SELECT a.event_type,
       CAST(a.n AS BIGINT)                       AS n_control,
       CAST(b.n AS BIGINT)                       AS n_treat,
       round(a.m + 1e-9, 6)                      AS mean_control,
       round(b.m + 1e-9, 6)                      AS mean_treat,
       round((b.m - a.m) / a.m + 1e-9, 6)        AS rel_lift,
       round((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n) + 1e-9, 6) AS z_welch,
       abs(round((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n) + 1e-9, 6)) > 1.96
           AS significant
FROM arms a JOIN arms b
  ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
"""


@query("events_ab_readout", oracle=_AB_SQL)
def events_ab_readout(spark, sf_dir):
    """A/B experiment readout: users split into control/treatment by a
    deterministic id hash (user_id % 2 here so the oracle can mirror it;
    production would use a salted hash), then per metric (event_type) the
    Welch two-sample z statistic on `value`, relative lift, and a 95%
    two-sided significance flag. This is THE online-experimentation query
    shape — the readout every product analytics stack recomputes hourly.

    100 TB shape: one aggregate pass keyed by (event_type, arm) — map-side
    partial (n, sum, sum-of-squares) moments do all the work, the z-test
    math runs on the |metrics|x2 cell table, and the self-join is over
    that tiny table (broadcast). Nothing downstream of the scan scales
    with data volume. The flag compares the 6dp-rounded z on both sides,
    so engine summation-order noise cannot flip it (repo discipline)."""
    e = T(spark, sf_dir, "events")
    arms = e.groupBy(
        "event_type", (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    return welch_readout(arms)


def welch_readout(arms):
    """Welch two-sample finish over (event_type, arm, n, m, v) cells —
    shared by the batch readout and the streaming stream_ab_readout job
    so the two can never diverge on thresholds or rounding."""
    a = arms.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("event_type").alias("et_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    z = (F.col("m_b") - F.col("m_a")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    z6 = F.round(z + F.lit(1e-9), 6)
    return (
        a.join(F.broadcast(b), a.event_type == b.et_b)
        .select(
            "event_type",
            F.col("n_a").cast("bigint").alias("n_control"),
            F.col("n_b").cast("bigint").alias("n_treat"),
            F.round(F.col("m_a") + F.lit(1e-9), 6).alias("mean_control"),
            F.round(F.col("m_b") + F.lit(1e-9), 6).alias("mean_treat"),
            F.round(
                (F.col("m_b") - F.col("m_a")) / F.col("m_a") + F.lit(1e-9), 6
            ).alias("rel_lift"),
            z6.alias("z_welch"),
            (F.abs(z6) > 1.96).alias("significant"),
        )
    )


# ---- CUPED variance-reduced A/B readout -----------------------------------

_CUPED_SQL = """
WITH bounds AS (
  SELECT min(epoch(ts)) AS e0, max(epoch(ts)) AS e1 FROM events
),
per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         round(sum(CASE WHEN epoch(ts) < (e0 + e1) / 2.0
                        THEN value ELSE 0.0 END) + 1e-9, 6) AS pre,
         round(sum(CASE WHEN epoch(ts) >= (e0 + e1) / 2.0
                        THEN value ELSE 0.0 END) + 1e-9, 6) AS post
  FROM events CROSS JOIN bounds
  GROUP BY user_id, user_id % 2
),
theta AS (
  SELECT round(covar_pop(pre, post) / var_pop(pre) + 1e-9, 6) AS th,
         round(avg(pre) + 1e-9, 6)                            AS mu_pre
  FROM per_user
),
adjusted AS (
  SELECT arm, post, post - th * (pre - mu_pre) AS adj
  FROM per_user CROSS JOIN theta
),
arms AS (
  SELECT arm,
         count(*)        AS n,
         avg(post)       AS m_post,  var_samp(post) AS v_post,
         avg(adj)        AS m_adj,   var_samp(adj)  AS v_adj
  FROM adjusted GROUP BY arm
),
readout AS (
  SELECT round((b.m_post - a.m_post)
               / sqrt(a.v_post / a.n + b.v_post / b.n) + 1e-9, 6) AS z_raw,
         round((b.m_adj - a.m_adj)
               / sqrt(a.v_adj / a.n + b.v_adj / b.n) + 1e-9, 6)   AS z_cuped,
         round(1.0 - (a.v_adj + b.v_adj) / (a.v_post + b.v_post) + 1e-9, 6)
             AS var_reduction
  FROM arms a JOIN arms b ON a.arm = 0 AND b.arm = 1
)
SELECT CAST(s.arm AS BIGINT)           AS arm,
       CAST(s.n AS BIGINT)             AS n_users,
       round(s.m_post + 1e-9, 6)       AS mean_post,
       round(s.m_adj + 1e-9, 6)        AS mean_adj,
       (SELECT th FROM theta)          AS theta,
       (SELECT z_raw FROM readout)     AS z_raw,
       (SELECT z_cuped FROM readout)   AS z_cuped,
       (SELECT var_reduction FROM readout) AS var_reduction
FROM arms s
"""


@query("events_ab_cuped", oracle=_CUPED_SQL)
def events_ab_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al., WSDM'13 —
    the industry-standard A/B sensitivity booster): per user, a
    pre-period covariate (value mass in the first half of the window) and
    the post-period metric; theta = cov(pre, post)/var(pre) fitted on the
    pooled arms; the adjusted metric post - theta*(pre - mean(pre))
    preserves the treatment-effect mean while removing the covariate-
    explained variance. Emits per-arm raw/adjusted means plus theta, the
    raw and CUPED Welch z, and the achieved variance reduction — the
    exact readout that tells an experimenter how much extra power the
    covariate bought.

    100 TB shape: per-user (pre, post) is ONE scan keyed by user (the
    time split rides as a conditional sum, not a self-join); theta and
    the means are a handful of pooled moments (map-side partials);
    adjustment is a broadcast scalar attach; the arm readout is a 2-cell
    aggregate. The per-user pre/post sums AND theta/mu_pre are all
    6dp-quantized before the adjustment on both engines (LTV/attribution
    discipline), so the per-user adjusted values are identical across
    engines; the remaining double aggregates (arm means/variances, the
    z readouts) are protected by the standard 6dp+1e-9 output rounding —
    which makes boundary-straddle noise unlikely, not impossible."""
    e = T(spark, sf_dir, "events").select(
        "user_id", "value", F.col("ts").cast("double").alias("ets")
    )
    bounds = e.agg(
        ((F.min("ets") + F.max("ets")) / 2.0).alias("mid")
    )
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("ets") < F.col("mid"), F.col("value"))
                    .otherwise(0.0)
                )
                + F.lit(1e-9),
                6,
            ).alias("pre"),
            F.round(
                F.sum(
                    F.when(F.col("ets") >= F.col("mid"), F.col("value"))
                    .otherwise(0.0)
                )
                + F.lit(1e-9),
                6,
            ).alias("post"),
        )
    )
    theta = per_user.agg(
        F.round(
            F.covar_pop("pre", "post") / F.var_pop("pre") + F.lit(1e-9), 6
        ).alias("th"),
        F.round(F.avg("pre") + F.lit(1e-9), 6).alias("mu_pre"),
    )
    adjusted = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "post",
        (F.col("post") - F.col("th") * (F.col("pre") - F.col("mu_pre"))).alias(
            "adj"
        ),
        "th",
    )
    arms = adjusted.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.avg("post").alias("m_post"),
        F.var_samp("post").alias("v_post"),
        F.avg("adj").alias("m_adj"),
        F.var_samp("adj").alias("v_adj"),
        F.first("th").alias("th"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("m_post").alias("mp_a"),
        F.col("v_post").alias("vp_a"), F.col("m_adj").alias("ma_a"),
        F.col("v_adj").alias("va_a"),
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("m_post").alias("mp_b"),
        F.col("v_post").alias("vp_b"), F.col("m_adj").alias("ma_b"),
        F.col("v_adj").alias("va_b"),
    )
    readout = a.crossJoin(F.broadcast(b)).select(
        F.round(
            (F.col("mp_b") - F.col("mp_a"))
            / F.sqrt(F.col("vp_a") / F.col("n_a") + F.col("vp_b") / F.col("n_b"))
            + F.lit(1e-9),
            6,
        ).alias("z_raw"),
        F.round(
            (F.col("ma_b") - F.col("ma_a"))
            / F.sqrt(F.col("va_a") / F.col("n_a") + F.col("va_b") / F.col("n_b"))
            + F.lit(1e-9),
            6,
        ).alias("z_cuped"),
        F.round(
            1.0
            - (F.col("va_a") + F.col("va_b")) / (F.col("vp_a") + F.col("vp_b"))
            + F.lit(1e-9),
            6,
        ).alias("var_reduction"),
    )
    return arms.crossJoin(F.broadcast(readout)).select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("m_post") + F.lit(1e-9), 6).alias("mean_post"),
        F.round(F.col("m_adj") + F.lit(1e-9), 6).alias("mean_adj"),
        F.col("th").alias("theta"),
        "z_raw",
        "z_cuped",
        "var_reduction",
    )


# ---- Kaplan-Meier survival (time-to-first-error, administrative censor) ---

_KM_HORIZON_H = 96

_KM_SQL = f"""
WITH u AS (
  SELECT user_id, min(ts) AS first_ts,
         min(CASE WHEN event_type = 'error' THEN ts END) AS first_err
  FROM events GROUP BY user_id
),
obs AS (
  SELECT user_id,
         CASE WHEN first_err IS NOT NULL
               AND floor((epoch(first_err) - epoch(first_ts)) / 3600.0)
                   <= {_KM_HORIZON_H}
              THEN 1 ELSE 0 END AS died,
         CASE WHEN first_err IS NOT NULL
               AND floor((epoch(first_err) - epoch(first_ts)) / 3600.0)
                   <= {_KM_HORIZON_H}
              THEN CAST(floor((epoch(first_err) - epoch(first_ts))
                              / 3600.0) AS BIGINT)
              ELSE {_KM_HORIZON_H} END AS t
  FROM u
),
cells AS (
  SELECT t, sum(died) AS d, count(*) AS ends FROM obs GROUP BY t
),
risk AS (
  SELECT t, d,
         (SELECT count(*) FROM obs)
           - coalesce(sum(ends) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM cells
),
deaths AS (SELECT t, d, n_risk FROM risk WHERE d > 0),
km AS (
  SELECT t, d, n_risk,
         exp(sum(ln(greatest(1.0 - d * 1.0 / n_risk, 1e-300)))
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)) AS s
  FROM deaths
)
SELECT CAST(t AS BIGINT)      AS t_hours,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT)      AS deaths,
       round(s + 1e-9, 6)     AS survival
FROM km
"""


@query("events_survival_km", oracle=_KM_SQL)
def events_survival_km(spark, sf_dir):
    """Kaplan-Meier survival estimator over time-to-first-error per user
    (administratively censored at a 96-hour horizon — users whose first
    error lands beyond it count as at-risk, not dead): at each death time
    the at-risk count, deaths, and the product-limit survival
    S(t) = prod(1 - d/n) — THE churn/reliability curve every product and
    SRE stack reports, with lawful censoring handling instead of the
    biased drop-the-censored shortcut.

    100 TB shape: per-user observation is one user-keyed aggregate scan;
    everything after runs on the |distinct times| cell table (<= horizon
    rows), where the reverse-cumulative risk window and the cumulative
    product are legitimately tiny. The product is computed as
    exp(cumsum(ln .)) over integer-exact d/n ratios in ascending-time
    order — both engines sum the same terms in the same order; the d = n
    terminal case is floored at 1e-300 so ln never sees zero."""
    e = T(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("first_err"),
    )
    hrs = F.floor(
        (F.col("first_err").cast("double") - F.col("first_ts").cast("double"))
        / 3600.0
    )
    died = F.when(
        F.col("first_err").isNotNull() & (hrs <= _KM_HORIZON_H), 1
    ).otherwise(0)
    obs = u.select(
        died.alias("died"),
        F.when(died == 1, hrs.cast("bigint"))
        .otherwise(F.lit(_KM_HORIZON_H))
        .alias("t"),
    )
    cells = obs.groupBy("t").agg(
        F.sum("died").alias("d"), F.count("*").alias("ends")
    )
    total = obs.agg(F.count("*").alias("n_total"))
    from pyspark.sql import Window

    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = cells.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("ends").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    deaths = risk.filter(F.col("d") > 0)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    lnterm = F.log(
        F.greatest(1.0 - F.col("d") / F.col("n_risk"), F.lit(1e-300))
    )
    return deaths.select(
        F.col("t").cast("bigint").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("deaths"),
        F.round(F.exp(F.sum(lnterm).over(w_cum)) + F.lit(1e-9), 6).alias(
            "survival"
        ),
    )


# ---- A/B power analysis / required sample size ----------------------------

_POWER_SQL = """
WITH m AS (
  SELECT event_type,
         count(*)        AS n_obs,
         avg(value)      AS mu,
         var_samp(value) AS v
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(n_obs AS BIGINT)        AS n_obs,
       round(mu + 1e-9, 6)          AS mean_value,
       round(v + 1e-9, 6)           AS variance,
       round(0.05 * mu + 1e-9, 6)   AS mde_abs,
       CAST(ceil(2.0 * power(1.959964 + 0.841621, 2) * round(v + 1e-9, 6)
                 / power(round(0.05 * mu + 1e-9, 6), 2)) AS BIGINT)
           AS n_per_arm,
       CAST(ceil(2.0 * power(1.959964 + 0.841621, 2) * round(v + 1e-9, 6)
                 / power(round(0.05 * mu + 1e-9, 6), 2)) AS BIGINT) * 2
           <= n_obs AS currently_powered
FROM m
"""


@query("events_ab_power", oracle=_POWER_SQL)
def events_ab_power(spark, sf_dir):
    """Experiment power analysis: per metric, the required per-arm sample
    size to detect a 5% relative lift at alpha=0.05 (two-sided) with 80%
    power — n = 2 (z_a + z_b)^2 sigma^2 / delta^2 — plus whether the
    current traffic already clears it. This is the pre-registration step
    of the experimentation family (events_ab_readout computes the
    readout, events_ab_cuped buys variance back, this decides if the
    test is worth running at all). z quantiles are fixed literals
    (1.959964, 0.841621) on both engines, so the only data-dependent
    inputs are the same one-pass moments.

    100 TB shape: one (metric)-keyed moment aggregate — map-side partial
    (n, sum, sumsq); the power algebra runs on |metrics| cells."""
    e = T(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    # ceil runs on 6dp-quantized moments on BOTH sides so engine
    # summation-order noise can never straddle an integer boundary
    v6 = F.round(F.col("v") + F.lit(1e-9), 6)
    d6 = F.round(0.05 * F.col("mu") + F.lit(1e-9), 6)
    n_req = F.ceil(
        2.0 * F.pow(F.lit(1.959964 + 0.841621), 2) * v6 / F.pow(d6, 2)
    ).cast("bigint")
    return m.select(
        "event_type",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.round(F.col("mu") + F.lit(1e-9), 6).alias("mean_value"),
        F.round(F.col("v") + F.lit(1e-9), 6).alias("variance"),
        F.round(0.05 * F.col("mu") + F.lit(1e-9), 6).alias("mde_abs"),
        n_req.alias("n_per_arm"),
        (n_req * 2 <= F.col("n_obs")).alias("currently_powered"),
    )


# ---- difference-in-differences --------------------------------------------

_DID_SQL = """
WITH bounds AS (
  SELECT min(epoch(ts)) AS e0, max(epoch(ts)) AS e1 FROM events
),
cells AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN epoch(ts) < (e0 + e1) / 2.0 THEN 0 ELSE 1 END AS period,
         count(*)        AS n,
         avg(value)      AS m,
         var_samp(value) AS v
  FROM events CROSS JOIN bounds
  GROUP BY user_id % 2,
           CASE WHEN epoch(ts) < (e0 + e1) / 2.0 THEN 0 ELSE 1 END
),
wide AS (
  SELECT max(CASE WHEN arm = 1 AND period = 1 THEN m END) AS t_post,
         max(CASE WHEN arm = 1 AND period = 0 THEN m END) AS t_pre,
         max(CASE WHEN arm = 0 AND period = 1 THEN m END) AS c_post,
         max(CASE WHEN arm = 0 AND period = 0 THEN m END) AS c_pre,
         sum(v / n) AS se2
  FROM cells
),
summary AS (
  SELECT round((t_post - t_pre) - (c_post - c_pre) + 1e-9, 6) AS did,
         round(sqrt(se2) + 1e-9, 6)                           AS se,
         round(((t_post - t_pre) - (c_post - c_pre)) / sqrt(se2) + 1e-9, 6)
             AS z_did
  FROM wide
)
SELECT CAST(c.arm AS BIGINT)    AS arm,
       CAST(c.period AS BIGINT) AS period,
       CAST(c.n AS BIGINT)      AS n,
       round(c.m + 1e-9, 6)     AS mean_value,
       s.did, s.se, s.z_did
FROM cells c CROSS JOIN summary s
"""


@query("events_ab_did", oracle=_DID_SQL)
def events_ab_did(spark, sf_dir):
    """Difference-in-differences: the 2x2 (arm x pre/post) cell means and
    the DiD effect (treat-change minus control-change) with its pooled
    standard error and z — the quasi-experimental estimator for rollouts
    where random assignment exists but time-varying shocks hit both arms
    (parallel-trends assumption; the pre-period difference is the
    counterfactual). Completes the experimentation suite: readout
    (events_ab_readout), sensitivity (events_ab_cuped), sizing
    (events_ab_power), survival (events_survival_km), causal panel (this).

    100 TB shape: ONE scan into a 4-cell moment aggregate (arm and
    period are both map-side expressions; the time midpoint rides as a
    broadcast scalar); the estimator algebra runs on the 4 cells."""
    e = T(spark, sf_dir, "events").select(
        "user_id", "value", F.col("ts").cast("double").alias("ets")
    )
    bounds = e.agg(((F.min("ets") + F.max("ets")) / 2.0).alias("mid"))
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            (F.col("user_id") % 2).alias("arm"),
            F.when(F.col("ets") < F.col("mid"), 0).otherwise(1).alias("period"),
        )
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    wide = cells.agg(
        F.max(F.when((F.col("arm") == 1) & (F.col("period") == 1), F.col("m"))).alias("t_post"),
        F.max(F.when((F.col("arm") == 1) & (F.col("period") == 0), F.col("m"))).alias("t_pre"),
        F.max(F.when((F.col("arm") == 0) & (F.col("period") == 1), F.col("m"))).alias("c_post"),
        F.max(F.when((F.col("arm") == 0) & (F.col("period") == 0), F.col("m"))).alias("c_pre"),
        F.sum(F.col("v") / F.col("n")).alias("se2"),
    )
    did_raw = (F.col("t_post") - F.col("t_pre")) - (
        F.col("c_post") - F.col("c_pre")
    )
    summary = wide.select(
        F.round(did_raw + F.lit(1e-9), 6).alias("did"),
        F.round(F.sqrt("se2") + F.lit(1e-9), 6).alias("se"),
        F.round(did_raw / F.sqrt("se2") + F.lit(1e-9), 6).alias("z_did"),
    )
    return cells.crossJoin(F.broadcast(summary)).select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("period").cast("bigint").alias("period"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("m") + F.lit(1e-9), 6).alias("mean_value"),
        "did",
        "se",
        "z_did",
    )


# ---- behavior predictability: Markov entropy rate --------------------------

_MARKOV_ENTROPY_SQL = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, count(*) AS n FROM seq
  WHERE dst IS NOT NULL GROUP BY src, dst
),
tot AS (SELECT src, sum(n) AS t FROM cnt GROUP BY src),
alltot AS (SELECT sum(n) AS g FROM cnt),
rowent AS (
  SELECT c.src,
         CAST(t.t AS BIGINT) AS n_out,
         round(t.t / (SELECT CAST(g AS DOUBLE) FROM alltot) + 1e-9, 6)
             AS pi,
         round(-sum((c.n / CAST(t.t AS DOUBLE))
                    * log2(c.n / CAST(t.t AS DOUBLE))) + 1e-9, 6)
             AS h_row
  FROM cnt c JOIN tot t ON c.src = t.src
  GROUP BY c.src, t.t
),
rate AS (
  SELECT round(sum(pi * h_row) + 1e-9, 6) AS h_rate FROM rowent
)
SELECT src, n_out, pi, h_row,
       (SELECT h_rate FROM rate) AS entropy_rate
FROM rowent
"""


@query("events_markov_entropy", oracle=_MARKOV_ENTROPY_SQL)
def events_markov_entropy(spark, sf_dir):
    """Behavior predictability: the Markov entropy rate of the user
    event-type transition chain — per source state its conditional
    entropy H(next | src) in bits and stationary weight pi (empirical
    transition mass), plus the chain's entropy rate sum(pi * H_row).
    Low rate = predictable journeys (prefetch/cache/UX wins); ~log2(K) =
    behavior indistinguishable from noise. The information-theoretic
    summary on top of events_transition_matrix's raw probabilities.

    100 TB shape: the user-keyed lead() window builds transitions in one
    exchange (same as the transition matrix); everything after runs on
    the |K|^2 cell table. Row entropies 6dp-rounded BEFORE the pi-weighted
    sum so libm log2 noise can't leak into the rate."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").alias("t"))
    alltot = cnt.agg(F.sum("n").cast("double").alias("g"))
    p = F.col("n") / F.col("t").cast("double")
    rowent = (
        cnt.join(F.broadcast(tot), "src")
        .groupBy("src", "t")
        .agg(
            F.round(-F.sum(p * F.log2(p)) + F.lit(1e-9), 6).alias("h_row")
        )
        .crossJoin(F.broadcast(alltot))
        .select(
            "src",
            F.col("t").cast("bigint").alias("n_out"),
            F.round(F.col("t") / F.col("g") + F.lit(1e-9), 6).alias("pi"),
            "h_row",
        )
    )
    rate = rowent.agg(
        F.round(F.sum(F.col("pi") * F.col("h_row")) + F.lit(1e-9), 6).alias(
            "entropy_rate"
        )
    )
    return rowent.crossJoin(F.broadcast(rate))


# ---- robust metrics: winsorization -----------------------------------------

_WINSOR_SQL = """
WITH cuts AS (
  SELECT event_type,
         round(CAST(percentile_cont(0.01) WITHIN GROUP (ORDER BY value)
                    AS DOUBLE) + 1e-9, 6) AS lo,
         round(CAST(percentile_cont(0.99) WITHIN GROUP (ORDER BY value)
                    AS DOUBLE) + 1e-9, 6) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(e.value) + 1e-9, 6) AS mean_raw,
       round(avg(CASE WHEN e.value < c.lo THEN c.lo
                      WHEN e.value > c.hi THEN c.hi
                      ELSE e.value END) + 1e-9, 6) AS mean_winsor,
       CAST(sum(CASE WHEN e.value < c.lo OR e.value > c.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       round(stddev_samp(e.value) + 1e-9, 6) AS sd_raw,
       round(stddev_samp(CASE WHEN e.value < c.lo THEN c.lo
                              WHEN e.value > c.hi THEN c.hi
                              ELSE e.value END) + 1e-9, 6) AS sd_winsor
FROM events e JOIN cuts c ON c.event_type = e.event_type
GROUP BY e.event_type
"""


@query("events_winsorized_metrics", oracle=_WINSOR_SQL)
def events_winsorized_metrics(spark, sf_dir):
    """Winsorized metric hygiene: per metric the 1%/99% exact percentile
    cuts (6dp-quantized on both engines before any clamp decision), the
    raw vs winsorized mean and standard deviation, and how many
    observations were clamped — the heavy-tail guard every
    experimentation platform applies to value metrics before the z-test
    (one whale order otherwise owns the variance and kills power).

    100 TB shape: pass 1 computes |metrics| exact-percentile cells
    (grouping bounds each ordered set to one cell — agg_percentile's
    shape); pass 2 re-scans with the broadcast cut table and clamps in
    codegen. Two scans, no corpus-sized shuffle."""
    e = T(spark, sf_dir, "events")
    cuts = e.groupBy("event_type").agg(
        F.round(
            F.expr("percentile(value, 0.01)") + F.lit(1e-9), 6
        ).alias("lo"),
        F.round(
            F.expr("percentile(value, 0.99)") + F.lit(1e-9), 6
        ).alias("hi"),
    )
    j = e.join(F.broadcast(cuts), "event_type")
    clamped = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    out_flag = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("value") + F.lit(1e-9), 6).alias("mean_raw"),
        F.round(F.avg(clamped) + F.lit(1e-9), 6).alias("mean_winsor"),
        F.sum(out_flag.cast("int")).cast("bigint").alias("n_clamped"),
        F.round(F.stddev_samp("value") + F.lit(1e-9), 6).alias("sd_raw"),
        F.round(F.stddev_samp(clamped) + F.lit(1e-9), 6).alias("sd_winsor"),
    )


# ---- survey sampling: Neyman allocation -------------------------------------

_NEYMAN_SQL = """
WITH strata AS (
  SELECT event_type,
         count(*)         AS n_h,
         stddev_samp(value) AS s_h
  FROM events GROUP BY event_type
),
weights AS (
  SELECT event_type, n_h,
         round(s_h + 1e-9, 6)          AS s_h,
         n_h * round(s_h + 1e-9, 6)    AS w
  FROM strata
),
tot AS (SELECT sum(w) AS tw, sum(n_h) AS tn FROM weights)
SELECT w.event_type,
       CAST(w.n_h AS BIGINT) AS stratum_size,
       w.s_h                 AS stratum_sd,
       round(w.w / t.tw + 1e-9, 6) AS alloc_share,
       CAST(floor(1000 * round(w.w / t.tw + 1e-9, 6)) AS BIGINT)
           AS n_alloc_of_1000,
       round(w.w / t.tw + 1e-9, 6)
         - round(w.n_h * 1.0 / t.tn + 1e-9, 6) AS vs_proportional
FROM weights w CROSS JOIN tot t
"""


@query("sample_neyman_allocation", oracle=_NEYMAN_SQL)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation for stratified sampling: each stratum's
    share of a fixed labeling/sampling budget proportional to
    N_h * sigma_h (minimum-variance allocation for a fixed total n —
    Neyman 1934), with the concrete per-1000 budget split and the delta
    vs naive proportional allocation. The budget-planning op that pairs
    sample_stratified_hash (which draws) with a principled HOW MUCH per
    stratum; high-variance strata get oversampled, near-constant strata
    starve.

    100 TB shape: one moment aggregate per stratum (map-side partials),
    allocation algebra on |strata| cells. Stratum sigma is 6dp-quantized
    before the weight product so the allocation shares and the
    floor-based integer budget split are engine-stable."""
    e = T(spark, sf_dir, "events")
    strata = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.stddev_samp("value").alias("s_raw"),
    )
    weights = strata.select(
        "event_type",
        "n_h",
        F.round(F.col("s_raw") + F.lit(1e-9), 6).alias("s_h"),
    ).withColumn("w", F.col("n_h") * F.col("s_h"))
    tot = weights.agg(
        F.sum("w").alias("tw"), F.sum("n_h").cast("double").alias("tn")
    )
    share = F.round(F.col("w") / F.col("tw") + F.lit(1e-9), 6)
    return weights.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("n_h").cast("bigint").alias("stratum_size"),
        F.col("s_h").alias("stratum_sd"),
        share.alias("alloc_share"),
        F.floor(1000 * share).cast("bigint").alias("n_alloc_of_1000"),
        (share - F.round(F.col("n_h") / F.col("tn") + F.lit(1e-9), 6)).alias(
            "vs_proportional"
        ),
    )


# ---- SRE alerting: multi-window SLO burn rate -------------------------------

_SLO_TARGET = 0.88  # synthetic corpus runs ~10-12% errors; budget = 12%

_BURN_SQL = f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS h,
         count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
  FROM events GROUP BY 1
),
win AS (
  SELECT h, n, errs,
         sum(n)    OVER w6 AS n6,
         sum(errs) OVER w6 AS errs6
  FROM hourly
  WINDOW w6 AS (ORDER BY h RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
),
rates AS (
  SELECT h,
         CAST(n AS BIGINT)  AS n_1h,
         CAST(n6 AS BIGINT) AS n_6h,
         round((errs * 1.0 / n) / (1.0 - {_SLO_TARGET}) + 1e-9, 6)
             AS burn_1h,
         round((errs6 * 1.0 / n6) / (1.0 - {_SLO_TARGET}) + 1e-9, 6)
             AS burn_6h
  FROM win
)
SELECT h AS hour_start, n_1h, n_6h, burn_1h, burn_6h,
       burn_1h > 2.0 AND burn_6h > 1.0 AS page
FROM rates
"""


@query("events_slo_burn_rate", oracle=_BURN_SQL)
def events_slo_burn_rate(spark, sf_dir):
    """Multi-window SLO burn-rate alerting (Google SRE workbook): per hour
    the 1h and trailing-6h error-budget burn rates (observed error rate /
    allowed rate for a `_SLO_TARGET` success SLO) and the page condition —
    BOTH windows burning (short window > 2x budget AND long window > 1x)
    — the standard rule that pages on real sustained burn while ignoring
    blips the long window absorbs. The query every SRE alerting pipeline
    evaluates continuously.

    100 TB shape: one hour-keyed count aggregate over the raw events
    (map-side partials), then the 6h trailing window runs over the
    |hours| cell table — a RANGE frame on the epoch key (gap-correct,
    unlike ROWS) over cells, never over raw events.
    Burn rates are ratios of exact integer counts, 6dp-rounded before
    the page cut on both engines."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    hourly = e.groupBy(
        (
            F.floor(F.col("ts").cast("double") / 3600).cast("bigint") * 3600
        ).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("errs"),
    )
    # RANGE on the epoch key, not ROWS: hourly buckets can have gaps, and
    # a ROWS frame would silently span non-contiguous hours (caught by the
    # window-accounting test)
    w6 = Window.orderBy("h").rangeBetween(-5 * 3600, 0)
    win = hourly.select(
        "h",
        "n",
        "errs",
        F.sum("n").over(w6).alias("n6"),
        F.sum("errs").over(w6).alias("errs6"),
    )
    budget = 1.0 - _SLO_TARGET
    burn1 = F.round((F.col("errs") / F.col("n")) / budget + F.lit(1e-9), 6)
    burn6 = F.round((F.col("errs6") / F.col("n6")) / budget + F.lit(1e-9), 6)
    return win.select(
        F.col("h").alias("hour_start"),
        F.col("n").cast("bigint").alias("n_1h"),
        F.col("n6").cast("bigint").alias("n_6h"),
        burn1.alias("burn_1h"),
        burn6.alias("burn_6h"),
        ((burn1 > 2.0) & (burn6 > 1.0)).alias("page"),
    )


# ---- drift monitoring: Population Stability Index ---------------------------

_PSI_SQL = """
WITH bounds AS (
  SELECT min(epoch(ts)) AS e0, max(epoch(ts)) AS e1 FROM events
),
base AS (
  SELECT value FROM events CROSS JOIN bounds
  WHERE epoch(ts) < (e0 + e1) / 2.0
),
cuts AS (
  SELECT list_transform(
           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]),
           q -> round(CAST(q AS DOUBLE) + 1e-9, 6)) AS qs
  FROM base
),
binned AS (
  SELECT CASE WHEN epoch(ts) < (e0 + e1) / 2.0 THEN 'base' ELSE 'cur' END
             AS period,
         len(list_filter(c.qs, q -> e.value >= q)) AS bin
  FROM events e CROSS JOIN bounds CROSS JOIN cuts c
),
cells AS (
  SELECT bin,
         sum(CASE WHEN period = 'base' THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN period = 'cur'  THEN 1 ELSE 0 END) AS nc
  FROM binned GROUP BY bin
),
tots AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM cells),
shares AS (
  SELECT bin, CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
         round(greatest(nb * 1.0 / t.tb, 1e-6) + 1e-9, 6) AS p_base,
         round(greatest(nc * 1.0 / t.tc, 1e-6) + 1e-9, 6) AS p_cur
  FROM cells CROSS JOIN tots t
),
psi AS (
  SELECT round(sum((p_cur - p_base) * ln(p_cur / p_base)) + 1e-9, 6) AS psi
  FROM shares
)
SELECT CAST(s.bin AS INT) AS bin, s.n_base, s.n_cur, s.p_base, s.p_cur,
       round((s.p_cur - s.p_base) * ln(s.p_cur / s.p_base) + 1e-9, 6)
           AS contribution,
       (SELECT psi FROM psi) AS psi,
       (SELECT psi FROM psi) >= 0.2 AS drifted
FROM shares s
"""


@query("dq_psi_drift", oracle=_PSI_SQL)
def dq_psi_drift(spark, sf_dir):
    """Population Stability Index between the first and second half of the
    event window: decile bins fitted on the BASE period (6dp-quantized
    exact quantile cuts), per-bin base/current shares (floored at 1e-6 —
    the standard empty-bin guard), per-bin contribution
    (p_cur - p_base)*ln(p_cur/p_base), the total PSI and the >=0.2 drift
    flag — the model-monitoring metric scorecards report alongside KS
    (quality_ks_drift); PSI localizes WHERE the distribution moved.

    100 TB shape: one pass fits 9 exact quantile cuts on the base half
    (one ordered-set cell), one pass bins both halves against the
    broadcast cut list in codegen (no join, no sort), then the algebra
    runs on 10 cells. The drift flag compares the rounded PSI."""
    e = T(spark, sf_dir, "events").select(
        "value", F.col("ts").cast("double").alias("ets")
    )
    bounds = e.agg(((F.min("ets") + F.max("ets")) / 2.0).alias("mid"))
    eb = e.crossJoin(F.broadcast(bounds))
    cuts = (
        eb.filter(F.col("ets") < F.col("mid"))
        .agg(
            F.expr(
                "transform(percentile(value, array(0.1,0.2,0.3,0.4,0.5,"
                "0.6,0.7,0.8,0.9)), q -> round(q + 1e-9, 6))"
            ).alias("qs")
        )
    )
    binned = eb.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("ets") < F.col("mid"), "base").otherwise("cur").alias(
            "period"
        ),
        F.size(F.filter("qs", lambda q: F.col("value") >= q)).alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum((F.col("period") == "base").cast("int")).alias("nb"),
        F.sum((F.col("period") == "cur").cast("int")).alias("nc"),
    )
    tots = cells.agg(
        F.sum("nb").cast("double").alias("tb"),
        F.sum("nc").cast("double").alias("tc"),
    )
    shares = cells.crossJoin(F.broadcast(tots)).select(
        "bin",
        F.col("nb").cast("bigint").alias("n_base"),
        F.col("nc").cast("bigint").alias("n_cur"),
        F.round(
            F.greatest(F.col("nb") / F.col("tb"), F.lit(1e-6)) + F.lit(1e-9), 6
        ).alias("p_base"),
        F.round(
            F.greatest(F.col("nc") / F.col("tc"), F.lit(1e-6)) + F.lit(1e-9), 6
        ).alias("p_cur"),
    )
    contrib = (F.col("p_cur") - F.col("p_base")) * F.log(
        F.col("p_cur") / F.col("p_base")
    )
    psi = shares.agg(
        F.round(F.sum(contrib) + F.lit(1e-9), 6).alias("psi")
    )
    return shares.crossJoin(F.broadcast(psi)).select(
        F.col("bin").cast("int").alias("bin"),
        "n_base",
        "n_cur",
        "p_base",
        "p_cur",
        F.round(contrib + F.lit(1e-9), 6).alias("contribution"),
        "psi",
        (F.col("psi") >= 0.2).alias("drifted"),
    )
