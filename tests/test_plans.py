"""Physical-plan quality gates (the 100 TB checklist, SURVEY.md §4):

- filters and column pruning reach the parquet scan (PushedFilters /
  ReadSchema);
- dimension joins broadcast (no fact-table shuffle for star joins);
- orderBy().limit() compiles to TakeOrderedAndProject (no global sort);
- aggregations are two-phase (map-side partial before the exchange);
- hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import contextlib
import io

from hive_apache_ci_spark.registry import all_queries

from .conftest import SF_DIR


def plan(spark, name: str, mode: str = "formatted") -> str:
    df = all_queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    p = plan(spark, "filter_project")
    assert "PushedFilters: [" in p
    # at least one of the three predicates must be pushed to the scan
    assert "GreaterThan" in p or "LessThan" in p or "IsNotNull" in p
    # projection pruning: only the 7 needed columns in ReadSchema, not all 11
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" not in read_schema and "l_shipdate" in read_schema


def test_star_join_broadcasts_dimensions(spark):
    p = plan(spark, "join_broadcast_star")
    assert p.count("BroadcastHashJoin") >= 3, p
    # the fact-side join may be sort-merge or broadcast (AQE decides); what
    # must NOT happen is a cartesian or nested-loop join
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_topk_is_take_ordered(spark):
    p = plan(spark, "sort_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort shuffle


def test_aggregation_is_two_phase(spark):
    p = plan(spark, "q1_pricing_summary")
    assert "partial_sum" in p or "partial_count" in p, p  # map-side combine


def test_flagship_is_whole_stage_codegen(spark):
    # An unexecuted AdaptiveSparkPlan reports 0 codegen subtrees, so probe
    # the codegen explain with AQE off — same operators, static plan.
    # (Build the DataFrame FIRST: catalog.load_table re-applies the session
    # confs, which would flip AQE back on.)
    df = all_queries()["q1_pricing_summary"](spark, SF_DIR)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="codegen")
        p = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p
    assert "Found 0 WholeStageCodegen" not in p


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan(spark, "join_semi", "extended")
    assert "LeftAnti" in plan(spark, "join_anti", "extended")


def test_session_window_is_stateful_agg(spark):
    p = plan(spark, "events_session_window")
    assert "session_window" in p.lower()


def test_minhash_no_cartesian(spark):
    """The LSH self-join must be an equi-join on (band, band_sig), never a
    cartesian product."""
    p = plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_knn_broadcasts_query_side(spark):
    p = plan(spark, "knn_topk_cosine")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_salted_join_equals_plain_join(spark):
    """Skew-salting must be a pure physical rewrite: same rows out."""
    from hive_apache_ci_spark.helpers import T, salted_join

    l = T(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    p = T(spark, SF_DIR, "part").select("p_partkey", "p_brand")
    plain = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_partkey", "p_brand"
    )
    salted = salted_join(l, p, "l_partkey", "p_partkey", n_salt=8).select(
        "l_orderkey", "l_partkey", "p_brand"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_persist_cache_role(spark):
    """LLAP's cache role (SURVEY.md §4.3) → df.persist: the cached plan must
    show InMemoryTableScan on reuse and produce identical results."""
    from hive_apache_ci_spark.helpers import T
    from pyspark.sql import functions as F

    hot = (
        T(spark, SF_DIR, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    first = hot.count()
    p = plan_of(hot.filter(F.col("n") > 2))
    assert "InMemoryTableScan" in p
    assert hot.count() == first
    hot.unpersist()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_static_partition_pruning(spark):
    """Partition-column filters must prune directories at plan time
    (Hive PartitionPruner ≙ file-source PartitionFilters)."""
    import os
    import tempfile

    from hive_apache_ci_spark.helpers import T
    from pyspark.sql import functions as F

    out = os.path.join(tempfile.gettempdir(), "hive_apache_ci_spark_io", "prune_demo")
    o = T(spark, SF_DIR, "orders").withColumn("order_year", F.year("o_orderdate"))
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    q = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    p = plan_of(q)
    assert "PartitionFilters" in p and "order_year" in p.split("PartitionFilters")[1][:120]


def test_dynamic_partition_pruning(spark):
    """Join-driven partition elimination (Hive DynamicPartitionPruning ≙
    spark.sql.dynamicPartitionPruning): a selective dim filter must inject
    a runtime subquery filter into the partitioned fact scan."""
    import os
    import tempfile

    from hive_apache_ci_spark.helpers import T
    from pyspark.sql import functions as F

    out = os.path.join(tempfile.gettempdir(), "hive_apache_ci_spark_io", "dpp_fact")
    o = T(spark, SF_DIR, "orders").withColumn("cseg", F.col("o_custkey") % 10)
    o.write.mode("overwrite").partitionBy("cseg").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        T(spark, SF_DIR, "customer")
        .withColumn("cseg", F.col("c_custkey") % 10)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("cseg")
        .distinct()
    )
    q = fact.join(dim, "cseg").groupBy("o_orderstatus").count()
    p = plan_of(q)
    assert "dynamicpruning" in p.lower() or "SubqueryBroadcast" in p, p


def test_smb_query_entry_no_shuffle(spark):
    """The io_bucketed_smb_join queries() entry must consume the bucketed
    scans directly: SortMergeJoin with no Exchange before the join."""
    p = plan(spark, "io_bucketed_smb_join")
    join_part = p.split("HashAggregate")[0]
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning" not in join_part, p


def test_bloom_filter_semijoin_injects(spark):
    """Runtime bloom-filter semijoin (Hive's bloom_filter/in_bloom_filter
    semijoin reduction, SURVEY.md §2.3): a selective dim filter on the
    creation side must inject a bloom_filter_agg + might_contain probe on
    the fact side. Thresholds are lowered because the optimizer gates on
    production-scale scan sizes."""
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    l = T(spark, SF_DIR, "lineitem")
    p_ = T(spark, SF_DIR, "part")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q = (
            l.join(p_.filter(F.col("p_size") == 10), l.l_partkey == p_.p_partkey)
            .groupBy("p_brand")
            .count()
        )
        text = plan_of(q, "extended")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in text, text
    assert "might_contain" in text.lower(), text


def test_mv_rewrite_reads_only_the_mv(spark):
    """The rewritten monthly query must scan the materialized daily
    partials, never the lineitem fact table — the whole point of the MV."""
    p = plan(spark, "mv_rollup_rewrite")
    assert "hive_apache_ci_spark_mv" in p, p
    assert "lineitem" not in p, "rewritten plan still scans the fact table"


def test_global_sort_uses_range_partitioning(spark):
    """Full ORDER BY must distribute via sampled range boundaries (the
    many-reducer shape), never collapse to a single partition."""
    p = plan(spark, "sort_global_range")
    assert "rangepartitioning(" in p, p
    assert "SinglePartition" not in p, p


def test_minhash_spread_adds_no_extra_shuffle(spark):
    """helpers.spread (explicit-count repartition by doc_id) parallelizes the
    CPU-heavy shingle explode WITHOUT adding a shuffle: the doc-keyed
    exchange is exactly the distribution the signature groupBy needs, so
    Catalyst satisfies the aggregation from the same Exchange — the whole
    signature computation has ONE Exchange total (and the final agg sits
    directly on the partial agg with no exchange between)."""
    from hive_apache_ci_spark.helpers import T
    from hive_apache_ci_spark.pipeline.dedup import minhash_signatures

    sig = minhash_signatures(T(spark, SF_DIR, "documents").select("doc_id", "text"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sig.explain(mode="formatted")
    p = buf.getvalue()
    exchanges = [l for l in p.splitlines() if l.strip().startswith("(") and ") Exchange" in l]
    assert len(exchanges) == 1, p


def test_spread_fans_out_to_task_slots(spark):
    """helpers.spread pins one partition per task slot
    (``defaultParallelism``: N on local[N], total executor cores on a
    cluster), hashed or round-robin, not spark.sql.shuffle.partitions:
    a fan-out wider than the slots runs in several waves of tiny tasks."""
    from hive_apache_ci_spark.helpers import T, spread

    slots = spark.sparkContext.defaultParallelism
    docs = T(spark, SF_DIR, "documents")
    assert spread(docs, "doc_id").rdd.getNumPartitions() == slots
    assert spread(docs.select("text")).rdd.getNumPartitions() == slots


def test_only_helpers_sizes_a_fan_out():
    """helpers.spread is the one way to pin a fan-out: no other engine
    module reads spark.sql.shuffle.partitions (as a call argument, e.g.
    ``conf.get``) or ``defaultParallelism`` to size a repartition."""
    import ast
    import pathlib

    import hive_apache_ci_spark

    def sizes(node) -> bool:
        if isinstance(node, ast.Attribute):
            return node.attr == "defaultParallelism"
        return isinstance(node, ast.Call) and any(
            isinstance(a, ast.Constant) and a.value == "spark.sql.shuffle.partitions"
            for a in node.args
        )

    root = pathlib.Path(hive_apache_ci_spark.__file__).parent
    readers = {
        str(p.relative_to(root)) for p in root.rglob("*.py")
        if any(map(sizes, ast.walk(ast.parse(p.read_text()))))
    }
    assert readers == {"helpers.py"}, readers


def test_temporal_rollup_single_expand(spark):
    """The 3-grain GROUPING SETS rollup must be one Expand + one two-phase
    aggregation — one scan of the fact table, not three."""
    p = plan(spark, "events_temporal_rollup")
    assert p.count("Expand") >= 1
    scans = [l for l in p.splitlines() if l.startswith("(") and ") Scan parquet" in l]
    assert len(scans) == 1, p
    assert "partial_count" in p or "partial_sum" in p, p


def test_anomaly_zscore_window_is_partitioned(spark):
    """The rolling z-score window must partition by event_type — a global
    (empty-partition) window would single-reducer the whole event stream."""
    p = plan(spark, "events_anomaly_zscore")
    assert "Window" in p, p
    assert "hashpartitioning(event_type" in p, p


def test_incremental_dedup_is_hash_join_not_cartesian(spark):
    """Increment-vs-base dedup must join on the content-hash key (any hash/
    merge join is fine; a cartesian/BNL join would be the corpus-squared
    trap)."""
    p = plan(spark, "dedup_incremental_batch")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_gapfill_windows_partition_per_type(spark):
    """Gap-fill's LOCF/backfill windows must partition by event_type (the
    grid is per-type; a global window would serialize the fill)."""
    p = plan(spark, "events_gapfill_interpolate")
    assert "hashpartitioning(event_type" in p, p
    assert "SinglePartition" not in p, p


def test_ntile_scaled_no_global_window(spark):
    """The boundary-broadcast NTILE variant must plan every window
    partitioned by the shard id — no empty-partition windowspec (the
    single-reducer shape window_ntile keeps for Hive parity)."""
    import re

    p = plan(spark, "window_ntile_scaled")
    assert "Window" in p, p
    assert "hashpartitioning(shard" in p, p
    assert not re.search(r"windowspecdefinition\(c_acctbal", p), p


def test_mapjoin_hint_text_broadcasts(spark):
    """Hive's /*+ MAPJOIN(t) */ hint, given as SQL TEXT, must reach the
    physical plan as a broadcast join (dialect parity includes the hint
    names, not just the clauses)."""
    p = plan(spark, "qtext_mapjoin_hint")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_equi_depth_histogram_no_global_window(spark):
    """The ANALYZE equi-depth histogram runs over the FACT table, so its
    NTILE must use the shard-ranked plan: every window partitioned by the
    shard id, no empty-partition windowspec funneling lineitem through a
    single reducer."""
    import re

    p = plan(spark, "analyze_equi_depth_histogram")
    assert "Window" in p, p
    assert "hashpartitioning(shard" in p, p
    assert not re.search(r"windowspecdefinition\(l_quantity", p), p


def test_ntile_scaled_equals_global_ntile(spark):
    """Exact-equality on the real table (unique composite sort key =>
    identical ranks => identical buckets, ties included)."""
    qs = all_queries()
    a = sorted(map(tuple, qs["window_ntile"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, qs["window_ntile_scaled"](spark, SF_DIR).collect()))
    assert a == b


def test_dpp_prunes_partitioned_scan(spark):
    """SURVEY §2.3 DPP row (was 'automatic, untested'): the partitioned-fact
    join must inject a dynamicpruningexpression partition filter so only
    qualifying year directories are scanned."""
    p = plan(spark, "io_dpp_partitioned_join")
    assert "dynamicpruning" in p, p
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l for l in pf), pf


def test_cbo_join_reorder_uses_stats(spark):
    """SURVEY §4.1 JoinReorder row (was 'automatic, untested'): ANALYZE
    TABLE column stats + spark.sql.cbo must (a) attach rowCount statistics
    to join nodes and (b) reorder the deliberately-bad join order
    (orders x nation cartesian first) into pure equi-joins."""
    import contextlib
    import io

    from hive_apache_ci_spark.helpers import T

    import os
    import shutil

    SF = SF_DIR
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/hive_apache_ci_spark_warehouse"
    ).removeprefix("file:")
    for t in ("cbo_orders", "cbo_customer", "cbo_nation"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a stale location from a previous process survives the DROP (the
        # metastore is per-session in-memory) and blocks saveAsTable
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    T(spark, SF, "orders").write.mode("overwrite").saveAsTable("cbo_orders")
    T(spark, SF, "customer").write.mode("overwrite").saveAsTable("cbo_customer")
    T(spark, SF, "nation").write.mode("overwrite").saveAsTable("cbo_nation")
    for t, cols in [
        ("cbo_orders", "o_custkey"),
        ("cbo_customer", "c_custkey, c_nationkey"),
        ("cbo_nation", "n_nationkey"),
    ]:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS {cols}")
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        df = spark.sql(
            """
            SELECT n.n_name, count(*) AS n_orders
            FROM cbo_orders o
            JOIN cbo_nation n ON 1=1
            JOIN cbo_customer c ON o.o_custkey = c.c_custkey
                               AND c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
            """
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="cost")
        p = buf.getvalue()
        opt = p.split("== Optimized Logical Plan ==")[1].split(
            "== Physical Plan =="
        )[0]
        # stats flowed into the optimizer
        join_lines = [l for l in opt.splitlines() if "Join Inner" in l]
        assert join_lines and all("rowCount" in l for l in join_lines), opt
        # the written cartesian (orders x nation ON 1=1) was reordered away
        assert "Join Inner, (c_nationkey" in opt, opt
        assert "Join Inner, (o_custkey" in opt, opt
        assert "1=1" not in opt and not any(
            "Join Inner\n" in l for l in join_lines
        ), opt
        # and the result is right (25 nations at every SF)
        assert df.count() == 25
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)
        for t in ("cbo_orders", "cbo_customer", "cbo_nation"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_repeated_segments_cut_is_shuffled_anti_join(spark):
    """The CCNet segment cut must be an anti join keyed on the segment text
    (shuffle or broadcast hash — AQE picks; the forbidden shapes are a
    cartesian/nested-loop pairing, which would be corpus-squared)."""
    p = plan(spark, "dedup_repeated_segments")
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_ivf_pq_scoring_broadcasts_lut(spark):
    """IVF-PQ's ADC scoring join (candidate codes x per-query lookup table)
    must broadcast the LUT (queries x M x K rows — constant-sized) so the
    only corpus-sized exchange is keyed on the neighbor id."""
    p = plan(spark, "ivf_pq_topk")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_ivf_pq_search_reads_index_not_corpus(spark):
    """The serving-path search must read the materialized index tables plus
    ONLY the query slice of embeddings: the scan of embeddings carries a
    vec_id pushdown (never a full-corpus embedding read), the LUT join is
    broadcast, and there is no cartesian anywhere."""
    p = plan(spark, "ivf_pq_search_topk")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    # every embeddings scan in the plan must be filtered to the query ids
    import re

    scans = [
        seg[:400]
        for seg in p.split("Scan parquet")[1:]
        if "embeddings.parquet" in seg[:400]
    ]
    assert scans, p
    for head in scans:
        assert re.search(r"PushedFilters: \[[^\]]*vec_id", head), head


def test_kmeans_assign_has_no_window(spark):
    """The Lloyd trainers' per-vector argmin must be a min_by hash-agg
    (partial-aggregable), never a row_number window — a per-vector sort
    exchange per training round (the round-4 verdict's polish item)."""
    p = plan(spark, "kmeans_lloyd")
    assert "Window" not in p, p
    assert "row_number" not in p, p


def test_semdedup_pairs_join_on_cluster_key(spark):
    """SemDeDup's pairwise stage must equi-join on the cluster id (O(n²/k)
    within clusters), never a global cartesian over the corpus."""
    p = plan(spark, "dedup_semdedup_clusters")
    assert "CartesianProduct" not in p, p


def test_winnow_fingerprints_no_pairwise(spark):
    """Winnowing is per-document: the rightmost-argmin join is bounded by
    the window width and keyed on (doc_id, position) — no corpus-pairwise
    or nested-loop shape anywhere."""
    p = plan(spark, "text_winnow_fingerprints")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_iterative_trainers_no_cartesian(spark):
    """The GD / Lloyd / peel loops attach scalar or broadcast state per
    round; the only nested-loop shape allowed is the 1-row scalar attach —
    a true CartesianProduct anywhere would be the corpus-squared trap."""
    for name in ("train_logreg_quality", "kmeans_lloyd",
                 "graph_kcore_membership"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, (name, p)


def test_rfm_scaled_no_global_window(spark):
    """The scaled RFM variant must run every window partitioned by shard —
    no empty-partition (single-reducer) WINDOW anywhere (the tiny scalar
    aggregates legitimately use SinglePartition exchanges; windows must
    not)."""
    import re

    p = plan(spark, "window_rfm_scaled")
    assert "Window" in p, p
    assert "hashpartitioning(shard" in p, p
    # every windowspecdefinition must be the shard-partitioned one — none
    # ordered directly by a raw metric with an empty partition clause
    assert not re.search(
        r"windowspecdefinition\((last_order_s|frequency|monetary)", p
    ), p


def test_calibration_and_curriculum_no_global_sort_or_window(spark):
    """The round-6 quantile-bucket reports claim 'no global sort — boundary
    broadcast': neither plan may contain a Window or a global range
    Exchange; the only cross joins are broadcast scalar/bounds rows."""
    for name in ("quality_calibration_report", "corpus_curriculum_schedule"):
        p = plan(spark, name)
        assert "Window" not in p, (name, p)
        assert "Exchange rangepartitioning" not in p, name
        assert "CartesianProduct" not in p, name


def test_nprobe_sweep_reuses_broadcast_centroids(spark):
    """Every sweep point routes via broadcast centroids; candidate joins
    key on the inverted-list label, never a corpus cartesian."""
    p = plan(spark, "ann_nprobe_sweep")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 3  # cvecs broadcast per sweep point


def test_fingerprint_prefilter_semi_join_broadcasts_fp_set(spark):
    """Tier 1 must be a broadcast semi/anti join on the 4-byte fingerprint
    (the in-memory filter tier), not a shuffle of the batch."""
    p = plan(spark, "dedup_fingerprint_prefilter")
    assert "BroadcastHashJoin" in p and ("LeftSemi" in p or "LeftAnti" in p), p
    assert "CartesianProduct" not in p


def test_retrieval_topk_is_take_ordered_not_global_window(spark):
    """Round-7 pin (r6 verdict #1): the three retrieval top-k shapes must
    plan a distributed TakeOrderedAndProject partial top-k, NOT rely on
    InferWindowGroupLimit rewriting a corpus-wide row_number window (which
    nothing asserted), and NOT funnel the corpus through one single-
    partition Sort. The only Window allowed is the rank-after pass over
    the k survivors, which sits ABOVE the TakeOrderedAndProject cut."""
    for q in ("search_bm25_topk", "search_query_likelihood",
              "search_hybrid_rrf", "search_hybrid_rrf_indexed"):
        p = plan(spark, q)
        assert "TakeOrderedAndProject" in p, (q, p)
        # no corpus-sized single-partition sort below an exchange
        assert "Exchange rangepartitioning" not in p, (q, p)


def test_interval_overlap_is_hash_join_not_bnlj(spark):
    """join_interval_overlap's whole point is the bin-overlap rewrite: the
    overlap predicate must ride a hash equi-join on (user, bucket), never
    a BroadcastNestedLoopJoin / CartesianProduct (the naive plan for a
    raw interval predicate)."""
    p = plan(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # equi-join on (user, bucket) with the overlap predicate as residual;
    # at sf0.001 the planner may broadcast the tiny side — any HASH
    # equi-join qualifies, a nested-loop over the raw predicate does not
    assert (
        "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    ), p
    assert "Join condition: ((a_start" in p, p  # residual rides the equi-join


def test_ewma_single_window_node(spark):
    """All 8 EWMA taps must ride ONE window node over one type-keyed
    exchange — 8 separate Window operators would mean 8 sorts."""
    import re

    p = plan(spark, "events_ewma_taps")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert "Exchange rangepartitioning" not in p


def test_timeseries_diagnostics_no_corpus_window(spark):
    """ACF / seasonal-residual / volume-freshness all aggregate to
    (type, bucket) grain BEFORE any window or join — no global-sort
    exchange, no cartesian beyond broadcast scalar plumbing."""
    for name in (
        "events_autocorrelation",
        "events_seasonal_residual",
        "dq_volume_freshness",
    ):
        p = plan(spark, name)
        assert "Exchange rangepartitioning" not in p, name
        assert "CartesianProduct" not in p, name


def test_hll_setops_sketch_is_partial_agg(spark):
    """The sketch build must be a two-phase aggregate (map-side partial
    HLL fold before the type-keyed exchange)."""
    p = plan(spark, "agg_hll_sketch_setops")
    assert "partial_hll_sketch_agg" in p, p


def test_acid_orc_read_is_broadcast_anti_join(spark):
    """The Hive ACID ORC snapshot read (r12) must lower to ONE multi-path
    scan of base+insert deltas anti-joined against BROADCAST delete keys —
    never a shuffled anti join (delete_deltas are compaction-bounded
    small) and never a cartesian. The scan side must stay a plain ORC
    relation so base-file pushdown survives."""
    p = plan(spark, "io_acid_orc_read")
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "orc" in p.lower(), p
