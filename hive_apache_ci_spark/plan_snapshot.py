"""Golden-EXPLAIN plan snapshots (reference parity: SURVEY.md §5.1.1 —
the reference's qtest ``.q.out`` artifacts include EXPLAIN output, so a
silent plan change fails the suite even when results stay correct).

tests/test_plans.py asserts ~40 plan *properties* (pushdown reached the
scan, join became broadcast, no cartesian, ...) — semantically stronger
per-property, but blind to regressions nobody wrote a property for.
These snapshots close that hole for the headline queries: the FULL
normalized physical plan is pinned to ``docs/plan_snapshots/*.txt`` and
any drift (a new exchange, a lost pushed filter, a codegen split, a join
strategy flip) fails tests/test_plan_snapshots.py with a line diff.

Normalization strips everything run-varying — expression ids, plan ids,
filesystem locations, in-memory index path counts, scratch run-ids —
and keeps everything structural: the operator tree, output columns,
PushedFilters, ReadSchema, join strategies, WholeStageCodegen spans.

Regenerate deliberately with ``python scripts/regen_plan_snapshots.py``
after an intentional plan change, and commit the diff so the review
shows exactly what moved (the qtest workflow).
"""

from __future__ import annotations

import re

# Headline queries pinned by snapshot. Only PURE queries belong here (plan
# construction must not run side-effect writes, which io_*/merge_into/ivf
# builds do when called); coverage spans §2.1 relational, joins, windows,
# aggregation, set ops, subqueries, lateral, the TPC-H trio-adjacent set,
# the TPC-DS corpus, and the two pipeline serving headliners.
SNAPSHOT_QUERIES = (
    "q1_pricing_summary",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "join_inner",
    "join_broadcast_star",
    "join_asof_backward",
    "window_rank",
    "window_moving_rows",
    "agg_basic",
    "agg_rollup",
    "set_union_all",
    "subquery_in",
    "explode_tokens",
    "sort_topk",
    "dedup_minhash_lsh",
    "knn_topk_cosine",
    "search_bm25_topk",
    "text_quality_score",
    "tpcds_q5_channel_rollup",
    "tpcds_q10_exists_chain",
    "tpcds_q11_yoy_channels",
    "tpcds_q14_cross_channel_items",
    "tpcds_q47_sales_deviation",
    "tpcds_q67_rollup_topk",
    "tpcds_q88_time_bands",
    "tpcds_q97_channel_overlap",
    "tpcds_q23_frequent_buyers",
    "tpcds_q51_cumulative_channels",
    "tpcds_q64_item_year_resales",
    "tpcds_q78_channel_ratio",
    "tpcds_q95_multi_supplier",
    "tpcds_q34_basket_bands",
    # round 11 corpus widening (r10 verdict task 1): each new TPC-DS
    # shape is plan-snapshot-pinned alongside its oracle + bench entries
    "tpcds_q72_lagged_fulfillment",
    "tpcds_q4_yoy_preference",
    "tpcds_q74_max_yoy_topk",
    "tpcds_q93_net_after_returns",
    "tpcds_q54_revenue_segments",
    "tpcds_q1_returns_above_avg",
    "tpcds_q2_weekly_dow_ratio",
    "tpcds_q31_share_growth",
    "tpcds_q39_inventory_cov",
    "tpcds_q6_oversized_buyers",
    "tpcds_q75_yoy_decline",
    "tpcds_q58_channel_parity_items",
    "tpcds_q99_ship_lag_bands",
    "tpcds_q16_distinct_shippers",
    "tpcds_q87_channel_except_chain",
    "tpcds_q90_am_pm_ratio",
    # round 12 corpus widening (r11 verdict task 5)
    "tpcds_q21_inventory_shift",
    "tpcds_q69_active_without_incident",
    "tpcds_q66_monthly_ship_pivot",
    "tpcds_q9_case_bucket_fan",
    "tpcds_q13_or_band_selectivity",
    "tpcds_q98_class_revenue_share",
    "tpcds_q44_best_worst_rank_join",
    "tpcds_q65_below_average_items",
    # round 12 late batch: residual-delta shapes beyond the 41
    "tpcds_q28_distinct_band_fan",
    "tpcds_q30_above_state_avg_returns",
    "tpcds_q32_excess_discount",
    "tpcds_q70_ranked_states_rollup",
    "tpcds_q41_dimension_self_count",
    "tpcds_q38_channel_intersect_chain",
    "tpcds_q94_repeat_buyers_no_returns",
    "tpcds_q57_supplier_sales_deviation",
    "tpcds_q62_web_ship_lag_bands",
    # round 9: the text-hint join. (analyze_equi_depth_histogram is NOT
    # snapshot-pinned: its _value_range_shards localCheckpoint embeds a
    # session-state-dependent RDD scan in the plan text; the invariant
    # that matters — no partitionless WindowExec — is property-gated in
    # tests/test_plans.py::test_equi_depth_histogram_no_global_window.)
    "qtext_mapjoin_hint",
)

_RULES: tuple[tuple[re.Pattern[str], str], ...] = (
    # expression ids:  l_quantity#123, sum#45L  ->  l_quantity#N
    (re.compile(r"#\d+"), "#N"),
    # higher-order-function lambda variables carry a JVM-global counter
    # (lambda x_10 / y_11 in a fresh session, x_214 / y_215 mid-suite) —
    # normalize the counter; the `lambda ` lookbehind keeps real column
    # names like h0_2 untouched
    (re.compile(r"(?<=lambda )(\w+?)_\d+#"), r"\1_N#"),
    # exchange/subquery/plan ids:  [plan_id=123], [id=#N] already covered
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # filesystem locations (testdata, scratch run dirs, warehouse)
    (re.compile(r"(file|hdfs|s3a?):/[^\s\],)]*"), "<path>"),
    (re.compile(r"InMemoryFileIndex\([^)]*\)"), "InMemoryFileIndex(<n> paths)"),
    # partition/file counts inside scan summaries vary with SF
    (re.compile(r"\d+ paths"), "<n> paths"),
    # cached-plan object addresses (defensive; pure queries shouldn't hit)
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),
    # run-scratch ids that leak into view names if a query registers temps,
    # and their underscore form in per-run catalog table names
    # (orders_smb_sf0_001_run_<hex>)
    (re.compile(r"run-[0-9a-f]{12}"), "run-ID"),
    (re.compile(r"run_[0-9a-f]{12}"), "run_ID"),
    # localCheckpoint scans embed a session-global RDD counter
    # (MapPartitionsRDD[26] in a fresh session, [8] mid-suite) — r12, the
    # checkpointed-arm plans (search_bm25_topk) made this reachable
    (re.compile(r"RDD\[\d+\]"), "RDD[NL]"),
    # ... and an environment-dependent Java callsite (renders as
    # `NativeMethodAccessorImpl.java:0` under some JVMs, `<unknown>:0`
    # under others); normalize the whole callsite token, which may end its line
    (re.compile(r"localCheckpoint at [^,\n]+"), "localCheckpoint at <SITE>"),
    # Spark 4's common-expression aliases carry a session-global counter
    # (_common_expr_1 on one build, _common_expr_3 on the next)
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    # helpers.spread pins its exchange to the host's task slots, so the
    # count of a REPARTITION_BY_NUM exchange follows the core count; the
    # count itself is pinned by tests/test_plans.py, the shape and keys here
    (re.compile(r"(?<=[(, ])\d+(?=\), REPARTITION_BY_NUM)"), "<slots>"),
)


def normalized_plan(df) -> str:
    """Formatted physical explain with run-varying tokens normalized."""
    return normalize_plan_text(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )


def normalize_plan_text(text: str) -> str:
    """Apply the run-varying-token rules to explain text."""
    for pat, repl in _RULES:
        text = pat.sub(repl, text)
    # strip trailing whitespace per line; drop trailing blank lines
    lines = [ln.rstrip() for ln in text.splitlines()]
    while lines and not lines[-1]:
        lines.pop()
    return "\n".join(lines) + "\n"
