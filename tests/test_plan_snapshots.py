"""Golden-EXPLAIN snapshot tests (qtest parity — SURVEY.md §5.1.1: the
reference's ``.q.out`` files pin EXPLAIN output, so unasserted plan
regressions fail the suite). Complements test_plans.py's ~40 plan
*property* gates with full-plan pins for the headline queries.

On an intentional plan change: ``python scripts/regen_plan_snapshots.py``
and commit the snapshot diff.
"""

from __future__ import annotations

import difflib
import os

import pytest

from hive_apache_ci_spark.plan_snapshot import (
    SNAPSHOT_QUERIES,
    normalize_plan_text,
    normalized_plan,
)
from hive_apache_ci_spark.registry import all_queries

from .conftest import SF_DIR

SNAP_DIR = os.path.join(
    os.path.dirname(__file__), "..", "docs", "plan_snapshots"
)


@pytest.mark.parametrize("name", SNAPSHOT_QUERIES)
def test_plan_matches_snapshot(spark, name):
    path = os.path.join(SNAP_DIR, f"{name}.txt")
    assert os.path.isfile(path), (
        f"missing snapshot {path} — run scripts/regen_plan_snapshots.py"
    )
    expected = open(path).read()
    actual = normalized_plan(all_queries()[name](spark, SF_DIR))
    if actual != expected:
        diff = "\n".join(
            difflib.unified_diff(
                expected.splitlines(),
                actual.splitlines(),
                fromfile=f"docs/plan_snapshots/{name}.txt",
                tofile="live plan",
                lineterm="",
            )
        )
        pytest.fail(
            f"physical plan drifted for {name} — if intentional, regen the "
            f"snapshot and commit the diff:\n{diff}"
        )


def test_snapshot_catches_join_strategy_flip(spark):
    """The canary the property gates can't express: a deliberate conf
    change (broadcast disabled) must CHANGE the pinned plan — proving the
    snapshot actually covers join strategy, not just cosmetics."""
    # tpch_q3 relies on AUTO broadcast (no explicit hint — an explicit
    # F.broadcast()/hint survives threshold=-1 and would not flip)
    name = "tpch_q3_shipping"
    expected = open(os.path.join(SNAP_DIR, f"{name}.txt")).read()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        actual = normalized_plan(all_queries()[name](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert actual != expected, (
        "disabling auto-broadcast did not change the snapshot — the "
        "normalizer is stripping structure, not just noise"
    )


def test_no_stale_snapshots():
    """Every committed snapshot corresponds to a pinned query (catches a
    renamed query leaving its old golden file behind)."""
    files = {
        f[:-4] for f in os.listdir(SNAP_DIR) if f.endswith(".txt")
    }
    assert files == set(SNAPSHOT_QUERIES), (
        files.symmetric_difference(SNAPSHOT_QUERIES)
    )


def test_checkpoint_callsite_rule_stops_at_line_end():
    """A localCheckpoint callsite that ends its line is normalized without
    swallowing the next line of the plan."""
    raw = (
        "(1) Scan ExistingRDD\n"
        "Arguments: [a#1], MapPartitionsRDD[26] at localCheckpoint at <unknown>:0\n"
        "(2) HashAggregate [codegen id : 1]\n"
    )
    assert normalize_plan_text(raw) == (
        "(1) Scan ExistingRDD\n"
        "Arguments: [a#N], MapPartitionsRDD[NL] at localCheckpoint at <SITE>\n"
        "(2) HashAggregate [codegen id : 1]\n"
    )


def test_common_expr_alias_counter_is_normalized():
    """Spark 4 numbers common-expression aliases with a session-global
    counter; two builds of one plan differ only in it and must normalize
    identically."""
    raw = (
        "(3) Project\n"
        "Output [2]: [a#1, _common_expr_{n}#7]\n"
        "Input [1]: [a#1]\n"
    )
    one = normalize_plan_text(raw.format(n=1))
    assert one == normalize_plan_text(raw.format(n=3))
    assert "_common_expr_N#N" in one


def test_run_id_in_catalog_table_names_is_normalized():
    """io_roundtrip's per-run catalog tables embed the process RUN_ID with
    "-" turned to "_"; two sessions' plans differ only in it and must
    normalize identically."""
    raw = "+- Scan parquet spark_catalog.default.orders_smb_sf0_001_run_{rid} (1)\n"
    one = normalize_plan_text(raw.format(rid="f98cae3f7384"))
    assert one == normalize_plan_text(raw.format(rid="7bee854594bd"))
    assert "orders_smb_sf0_001_run_ID" in one
