"""Row-mutation semantics on immutable storage: MERGE emulation + CDC.

Hive 2.3's ACID surface (``MERGE INTO``, transactional update/delete —
ql/parse/MergeSemanticAnalyzer + AcidOutputFormat in hive-exec-2.3.10) needs
a transactional table format; this environment has plain parquet (SURVEY.md
§7.8). The portable Spark-first equivalent is copy-on-write: compute the
merged state as a DataFrame and INSERT OVERWRITE it. These operators cover
the *semantics* (the part users port queries against); the overwrite write
path itself is exercised by sources/io_roundtrip.py and
tests/test_mutations.py.

Scale notes: merge is ONE shuffle of each side on the merge key (or
shuffle-free if both sides are bucketed on it — io_bucketed_smb_join shows
that layout); SCD2/latest-snapshot are one window scan per key timeline.
At 100 TB the same topology holds partition-by-partition; Delta/Iceberg/Hudi
only add file-level pruning of untouched partitions on top.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..helpers import T, md5_int, r2, ravg
from ..registry import query

# Source relation for the merge: per-customer finalized-order revenue at a
# 1% credit — customers with >= 8 finalized orders are "delete" tombstones
# (account closed), others are balance updates; custkeys shifted by
# 10_000_000 model brand-new customers arriving in the batch. Customers
# with no finalized orders are absent from the source → 'kept'.
_MERGE_SOURCE = """
  SELECT o_custkey                                  AS s_custkey,
         round(sum(o_totalprice) / 100.0 + 1e-9, 2) AS s_newbal,
         CASE WHEN count(*) >= 8 THEN 'D' ELSE 'U' END AS s_op
  FROM orders
  WHERE o_orderstatus = 'F'
  GROUP BY o_custkey
"""


@query(
    "merge_into_upsert",
    oracle=f"""
    WITH src AS ({_MERGE_SOURCE}),
    new_rows AS (
      SELECT s_custkey + 10000000 AS s_custkey, s_newbal, 'I' AS s_op
      FROM src WHERE s_custkey % 10 = 0 AND s_op = 'U'
    ),
    source AS (SELECT * FROM src UNION ALL SELECT * FROM new_rows)
    SELECT coalesce(t.c_custkey, s.s_custkey)            AS c_custkey,
           coalesce(t.c_name, 'Customer#new' || CAST(s.s_custkey AS VARCHAR))
                                                         AS c_name,
           CASE WHEN s.s_custkey IS NOT NULL THEN s.s_newbal
                ELSE round(t.c_acctbal, 2) END           AS c_acctbal,
           coalesce(t.c_mktsegment, 'NEWSEGMENT')        AS c_mktsegment,
           CASE WHEN s.s_custkey IS NULL THEN 'kept'
                WHEN t.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END                       AS merge_action
    FROM customer t FULL JOIN source s ON t.c_custkey = s.s_custkey
    WHERE s.s_op IS NULL OR s.s_op <> 'D'
    """,
)
def merge_into_upsert(spark, sf_dir):
    """MERGE INTO emulation (copy-on-write): full outer join target⋈source,
    then per-row clause selection —

    - WHEN MATCHED AND s_op='D'      THEN DELETE
    - WHEN MATCHED                   THEN UPDATE SET c_acctbal = s_newbal
    - WHEN NOT MATCHED AND s_op<>'D' THEN INSERT (new customer row)
    - target rows never matched      survive unchanged ('kept')

    Equivalent of Hive MergeSemanticAnalyzer's rewrite of MERGE into a
    right-outer-join + multi-insert (same join-based plan, minus ACID
    delta files)."""
    t = T(spark, sf_dir, "customer")
    src = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("s_custkey"))
        .agg(
            # /100 is a ratio of 2-decimal-quantized data: epsilon-shift the
            # round so boundary-exact values agree cross-engine.
            ravg(F.sum("o_totalprice") / 100.0, 2).alias("s_newbal"),
            F.when(F.count(F.lit(1)) >= 8, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("s_op"),
        )
    )
    # r12 optimization (guide §2.4): the old `src UNION ALL new_rows` form
    # instantiated the orders scan + aggregate twice (Catalyst does not
    # dedupe the subtrees). Identical rows in ONE pass: each src row
    # explodes into itself plus — iff it qualifies as a synthetic insert —
    # its custkey-shifted 'I' copy. Same multiset, no re-scan, no
    # materialization (scale-safe at any corpus size).
    row = F.struct(
        F.col("s_custkey"), F.col("s_newbal"), F.col("s_op")
    )
    shifted = F.struct(
        (F.col("s_custkey") + 10000000).alias("s_custkey"),
        F.col("s_newbal"),
        F.lit("I").alias("s_op"),
    )
    source = (
        src.select(
            F.explode(
                F.when(
                    (F.col("s_custkey") % 10 == 0) & (F.col("s_op") == "U"),
                    F.array(row, shifted),
                ).otherwise(F.array(row))
            ).alias("r")
        )
        .select("r.s_custkey", "r.s_newbal", "r.s_op")
    )
    j = t.join(source, t["c_custkey"] == source["s_custkey"], "full_outer")
    return (
        # 'D' rows vanish whether matched (DELETE) or not (no insert);
        # null-safe so unmatched target rows (s_op NULL) survive as 'kept'.
        j.filter(F.col("s_op").isNull() | (F.col("s_op") != "D"))
        .select(
            F.coalesce("c_custkey", "s_custkey").alias("c_custkey"),
            F.coalesce(
                "c_name",
                F.concat(F.lit("Customer#new"), F.col("s_custkey").cast("string")),
            ).alias("c_name"),
            F.when(F.col("s_custkey").isNotNull(), F.col("s_newbal"))
            .otherwise(r2(F.col("c_acctbal")))
            .alias("c_acctbal"),
            F.coalesce("c_mktsegment", F.lit("NEWSEGMENT")).alias("c_mktsegment"),
            F.when(F.col("s_custkey").isNull(), "kept")
            .when(F.col("c_custkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("merge_action"),
        )
    )


@query(
    "cdc_scd2_history",
    oracle="""
    SELECT user_id,
           round(value, 2)                        AS value,
           CAST(floor(epoch(ts)) AS BIGINT)       AS valid_from,
           CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2 build: each change record gets a
    [valid_from, valid_to) interval via lead() over the per-key timeline,
    open-ended (+is_current) on the newest. One window scan per key — the
    standard dimension-history materialization a MERGE-less warehouse runs
    nightly."""
    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        r2(F.col("value")).alias("value"),
        F.col("ts").cast("long").alias("valid_from"),
        nxt.cast("long").alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "cdc_latest_snapshot",
    oracle="""
    SELECT user_id,
           round(value, 2)                  AS value,
           CAST(floor(epoch(ts)) AS BIGINT) AS updated_at
    FROM (
      SELECT user_id, value, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE event_type IN ('signup', 'error')
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_latest_snapshot(spark, sf_dir):
    """Changelog compaction to latest state: last record per key wins;
    a trailing tombstone ('error' here) deletes the key from the snapshot.
    row_number desc over the key timeline — the CDC-read pattern every
    lakehouse table service (Hudi/Delta snapshot read) implements."""
    e = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            r2(F.col("value")).alias("value"),
            F.col("ts").cast("long").alias("updated_at"),
        )
    )


_DIFF_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 20"
)


@query(
    "table_diff_snapshots",
    oracle=f"""
    WITH snap AS (
      SELECT o_orderkey,
             CASE WHEN {_DIFF_BUCKET} = 1
                  THEN round(o_totalprice * 1.1 + 1e-9, 2)
                  ELSE round(o_totalprice, 2) END AS price
      FROM orders WHERE {_DIFF_BUCKET} <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, round(o_totalprice, 2)
      FROM orders WHERE {_DIFF_BUCKET} = 2
    ),
    base AS (SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders)
    SELECT coalesce(b.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN s.o_orderkey IS NULL THEN 'removed'
                ELSE 'modified' END              AS diff_status,
           b.price                               AS old_price,
           s.price                               AS new_price
    FROM base b FULL OUTER JOIN snap s ON b.o_orderkey = s.o_orderkey
    WHERE b.o_orderkey IS NULL OR s.o_orderkey IS NULL
       OR b.price <> s.price
    """,
)
def table_diff_snapshots(spark, sf_dir):
    """Snapshot reconciliation (the audit/migration-verification op): diff
    two table versions into added / removed / modified rows via one
    full-outer join on the key, emitting only the rows that differ. The
    'new' snapshot is derived deterministically from orders (md5 buckets:
    5% deleted, 5% price-modified, 5% duplicated under new keys) so the
    oracle replays the identical derivation.

    At 100 TB both snapshots partition by the join key (co-located diff);
    emitting only differences keeps the output ∝ drift, not table size."""
    o = T(spark, sf_dir, "orders")
    bucket = md5_int(F.col("o_orderkey").cast("string")) % 20
    base = o.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    kept = o.filter(bucket != 0).select(
        "o_orderkey",
        # +1e-9: price*1.1 lands exactly on half-cents (x.xx5) for 2dp
        # inputs; the epsilon shift makes both engines round identically
        F.when(bucket == 1, F.round(F.col("o_totalprice") * 1.1 + 1e-9, 2))
        .otherwise(F.round("o_totalprice", 2))
        .alias("price"),
    )
    added = o.filter(bucket == 2).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("price"),
    )
    snap = kept.unionByName(added)
    b = base.alias("b")
    s = snap.alias("s")
    joined = b.join(s, F.col("b.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
    return (
        joined.filter(
            F.col("b.o_orderkey").isNull()
            | F.col("s.o_orderkey").isNull()
            | (F.col("b.price") != F.col("s.price"))
        )
        .select(
            F.coalesce("b.o_orderkey", "s.o_orderkey").alias("o_orderkey"),
            F.when(F.col("b.o_orderkey").isNull(), "added")
            .when(F.col("s.o_orderkey").isNull(), "removed")
            .otherwise("modified")
            .alias("diff_status"),
            F.col("b.price").alias("old_price"),
            F.col("s.price").alias("new_price"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH hist AS (
      SELECT user_id, round(value, 2) AS dim_value,
             CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
             CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)))
                 AS BIGINT) AS valid_to
      FROM events WHERE event_type = 'signup'
    ),
    fact AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts_s, h.dim_value, h.valid_from
    FROM fact f
    JOIN hist h
      ON f.user_id = h.user_id
     AND f.ts_s >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts_s < h.valid_to)
    """,
)
def join_point_in_time_scd2(spark, sf_dir):
    """Point-in-time (temporal/versioned-dimension) join: each purchase
    fact row joins to the SCD2 dimension version that was valid AT ITS
    OWN timestamp — equality on the key plus interval containment on the
    version window. The warehouse lookup every versioned-dimension model
    needs (and what naive 'latest snapshot' joins get wrong: facts must
    see history as of their event time, not as of today).

    Scale: the join is equi on user_id (SMJ/SHJ on the key); the interval
    predicates are post-join filters within each key's small version list
    — never a BNLJ over the fact table."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            r2(F.col("value")).alias("dim_value"),
            F.col("ts").cast("long").alias("valid_from"),
            F.lead(F.col("ts").cast("long")).over(w).alias("valid_to"),
        )
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_s")
    )
    return (
        fact.join(hist, "user_id")
        .filter(
            (F.col("ts_s") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts_s") < F.col("valid_to")))
        )
        .select("event_id", "user_id", "ts_s", "dim_value", "valid_from")
    )
