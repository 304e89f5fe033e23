#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Protocol matches BASELINE.md: one cold run, then best-of-N warm runs in the
same process, session startup excluded, ANSI off / UTC / nanosAsLong configs
identical to the recorded baseline. ``value`` is the sum of the three
baseline-comparable queries (q1-agg-shaped, 4-way-join-shaped,
window-shaped); the other headliners are reported in ``queries`` for trend
tracking.

The last stdout line is the compact grade, kept under 2 KB so a fixed-size
tail capture never truncates it. The full payload (per-query
best/median/worst spread, foreign-JVM count, regression detail) goes to the
``docs/BENCH_LAST.json`` sidecar, whose ``best`` holds running per-query
minima keyed by host (core count / GB of RAM / CPU model). A run is judged
only against its own host's bests: a first run on a new host seeds them and
flags nothing; after that a query more than ``REGRESSION_RATIO`` over its
best is listed in ``regressions``, and ``noisy`` means the graded trio is
over that band against the host's ``best_total``. Bests are never compared
across machines, so ``box_drift`` is always null. ``contended`` marks a run
that started while another JVM was running on the box.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench.host import _meminfo_kb, cpu_model, foreign_jvms

_REPO = os.path.dirname(os.path.abspath(__file__))
_SIDECAR = os.path.join(_REPO, "docs", "BENCH_LAST.json")

# The three names comparable to BASELINE.md's q1_agg / q3_join / qw_window:
BASELINE_COMPARABLE = ("q1_pricing_summary", "join_broadcast_star", "window_moving_rows")
EXTRA_HEADLINERS = (
    "tpch_q5_local_supplier",
    "events_session_window",
    "dedup_minhash_lsh",
    "knn_topk_cosine",
    "text_quality_score",
    "join_asof_backward",
    "dedup_embedding_cosine",
    "merge_into_upsert",
    "quality_lm_perplexity",
    "search_bm25_topk",
    "kmeans_lloyd",
    "train_logreg_quality",
    "dedup_repeated_segments",
    "ivf_pq_build_index",
    "ivf_pq_search_topk",
    "search_hybrid_rrf",
    "ivf_pq_ingest_delta",
    "search_hybrid_rrf_indexed",
    "quality_kn_bigram_perplexity",
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
    "events_ab_cuped",
    "tpcds_q36_hierarchy_rank",
    "tpcds_q49_worst_return_ratios",
    "tpcds_q17_fact_chain_stddev",
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
    "tpcds_q21_inventory_shift",
    "tpcds_q69_active_without_incident",
    "tpcds_q66_monthly_ship_pivot",
    "tpcds_q9_case_bucket_fan",
    "tpcds_q13_or_band_selectivity",
    "tpcds_q98_class_revenue_share",
    "io_acid_orc_read",
    "tpcds_q44_best_worst_rank_join",
    "tpcds_q65_below_average_items",
    "tpcds_q28_distinct_band_fan",
    "tpcds_q30_above_state_avg_returns",
    "tpcds_q32_excess_discount",
    "tpcds_q70_ranked_states_rollup",
    "tpcds_q41_dimension_self_count",
    "io_zorder_file_skipping",
    "agg_kmv_mergeable_sketch",
    "agg_kmv_sketch_setops",
    "tpcds_q38_channel_intersect_chain",
    "tpcds_q94_repeat_buyers_no_returns",
    "tpcds_q57_supplier_sales_deviation",
    "tpcds_q62_web_ship_lag_bands",
    "io_hilbert_file_skipping",
)

# A query (or the graded trio, for `noisy`) more than this ratio over its
# same-host running best is flagged.
REGRESSION_RATIO = 1.15


def host_key() -> str:
    """The host a set of bests belongs to: core count, GB of RAM, CPU model."""
    gb = _meminfo_kb("MemTotal") // (1 << 20)
    return f"{os.cpu_count()} cores / {gb} GB / {cpu_model()}"


def find_regressions(
    prev_best: dict[str, float], timings: dict[str, float | None]
) -> list[dict[str, float | str]]:
    """Queries >REGRESSION_RATIO slower than their previous best.
    Only queries with a previous best are comparable; a query that FAILED
    this run (None) is always listed — a crash is the worst regression."""
    out: list[dict[str, float | str]] = []
    for name, now in timings.items():
        prev = prev_best.get(name)
        if prev is None:
            continue
        if now is None:
            out.append({"q": name, "prev": prev, "now": "failed"})
        elif now > prev * REGRESSION_RATIO:
            out.append({"q": name, "prev": prev, "now": now})
    return out


def judge(
    bests: dict[str, dict[str, float]],
    host: str,
    timings: dict[str, float | None],
) -> tuple[list[dict[str, float | str]], bool, dict[str, dict[str, float]]]:
    """Grade a run against ``host``'s own running bests only.

    Returns (regressions, noisy, updated bests). Other hosts' bests are
    carried over untouched. The bests are running minima, so one slow run
    cannot clobber them and a crashed query (None) keeps its best."""
    prev = bests.get(host, {})
    best = dict(prev)
    for k, v in timings.items():
        if v is not None:
            best[k] = min(v, best.get(k, v))
    total, conv = _trio_total(timings), _trio_total(prev)
    noisy = total is not None and conv is not None and total > conv * REGRESSION_RATIO
    return find_regressions(prev, timings), noisy, {**bests, host: best}


def compact_line(
    total: float | None,
    timings: dict[str, float | None],
    sf: float | str,
    contended: bool,
    regressions: list[dict[str, float | str]],
    noisy: bool = False,
    best_total: float | None = None,
) -> str:
    """The grade: ONE short JSON line, under 2048 bytes.
    Built from ONE dict so the slim fallback can never drop a field the
    full line carries — only `queries` shrinks to the graded trio.
    `best_total` is the sum of the trio's running same-host bests."""
    grade = {
        "metric": "headline_warm_total (q1_agg+q3_join+qw_window shapes)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "contended": contended,
        "regressions": [r["q"] for r in regressions],
        "noisy": noisy,
        "box_drift": None,
        "best_total": best_total,
    }
    line = json.dumps(grade, separators=(",", ":"))
    if len(line) >= 2048:  # never hand the driver a truncatable grade
        grade["queries"] = {k: timings.get(k) for k in BASELINE_COMPARABLE}
        line = json.dumps(grade, separators=(",", ":"))
    return line


def _sidecar_path(sf: float | str) -> str:
    """docs/BENCH_LAST.json is the canonical (driver-SF, 0.1) baseline; a
    sanity run at another SF gets its own file so cross-SF numbers are never
    compared and a quick sf0.01 pass can't clobber the real baseline."""
    if sf == 0.1:
        return _SIDECAR
    return _SIDECAR.replace(".json", f"_sf{sf}.json")


def _load_bests(sf: float | str) -> dict[str, dict[str, float]]:
    """The sidecar's host-keyed `best` (running per-query minima per host)."""
    try:
        with open(_sidecar_path(sf)) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return {}
    if prev.get("sf") != sf:
        return {}
    return prev.get("best") or {}


def _measure(
    spark,
    sf_dir: str,
    queries,
    names,
    timings: dict[str, float | None],
    spread: dict[str, dict[str, float]],
) -> None:
    """Cold-run + best-of-N warm reps per query, MERGED into timings/spread
    as running minima (a name measured twice keeps its best pass)."""
    for name in names:
        # A broken query degrades to `null` in `queries`, never to a
        # missing JSON line.
        try:
            fn = queries[name]
            fn(spark, sf_dir).collect()  # cold run: plan + JIT + page cache
            # the graded trio gets extra reps: box-load noise was measured
            # at +-20% run-to-run
            reps = 7 if name in BASELINE_COMPARABLE else 3
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                times.append(time.perf_counter() - t0)
            cur = round(min(times), 4)
            old = timings.get(name)
            timings[name] = cur if old is None else min(cur, old)
            run = {
                "best": cur,
                "median": round(statistics.median(times), 4),
                "worst": round(max(times), 4),
            }
            prev = spread.get(name)
            if prev is None or run["best"] < prev["best"]:
                spread[name] = run
        except Exception as exc:  # noqa: BLE001 — bench must always publish
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings.setdefault(name, None)


def _trio_total(timings: dict[str, float | None]) -> float | None:
    core = [timings.get(n) for n in BASELINE_COMPARABLE]
    return round(sum(core), 4) if all(v is not None for v in core) else None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    foreign = foreign_jvms()  # before our own JVM starts
    host = host_key()
    from hive_apache_ci_spark.registry import all_queries
    from hive_apache_ci_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float | None] = {}
    spread: dict[str, dict[str, float]] = {}
    _measure(
        spark, sf_dir, all_queries(), (*BASELINE_COMPARABLE, *EXTRA_HEADLINERS),
        timings, spread,
    )
    total = _trio_total(timings)
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    sf = float(sf_tag) if sf_tag.replace(".", "").isdigit() else sf_tag
    regressions, noisy, bests = judge(_load_bests(sf), host, timings)
    best_total = _trio_total(bests[host])
    # Full payload -> sidecar, which is also the next run's baseline.
    # Best-effort: a read-only checkout must not kill the grade line.
    try:
        os.makedirs(os.path.dirname(_SIDECAR), exist_ok=True)
        with open(_sidecar_path(sf), "w") as fh:
            json.dump(
                {
                    "metric": "headline_warm_total (q1_agg+q3_join+qw_window shapes)",
                    "value": total,
                    "unit": "sec",
                    "sf": sf,
                    "host": host,
                    "queries": timings,
                    "spread": spread,
                    "contended": bool(foreign),
                    "foreign_jvms": foreign,
                    "regressions": regressions,
                    "noisy": noisy,
                    "box_drift": None,
                    "best_total": best_total,
                    "best": bests,
                },
                fh,
                indent=1,
            )
            fh.write("\n")
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)
    print(
        compact_line(
            total, timings, sf, bool(foreign), regressions, noisy, best_total,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
