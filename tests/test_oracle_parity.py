"""Differential gate: every registered query must MATCH its DuckDB oracle
(or be explicitly rows-only) at sf0.001 — the same comparison the driver
runs at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_apache_ci_spark.registry import all_queries
from hive_apache_ci_spark.verify import compare_one

from .conftest import SF_DIR


def _names():
    return sorted(all_queries().keys())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, duck, name):
    res = compare_one(spark, duck, name, SF_DIR)
    assert res["status"] in ("MATCH", "ROWS_ONLY"), res
    assert res["rows"] >= 0


def test_verify_main_fails_on_oracle_oom(monkeypatch, capsys):
    """An oracle OOM leaves the engine's result unchecked, so verify.main
    counts it as FAIL (exit 1) exactly as the gate above does, and keeps
    the status string for diagnosis."""
    from hive_apache_ci_spark import session, verify

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(verify, "duck_connect", lambda sf_dir: None)
    monkeypatch.setattr(
        verify,
        "compare_one",
        lambda spark, con, name, sf_dir: {
            "name": name, "rows": 3, "status": "ORACLE_OOM_KNOWN_LIMIT"
        },
    )
    assert verify.main(["q_oom"]) == 1
    out = capsys.readouterr().out
    assert "FAIL q_oom" in out and "ORACLE_OOM_KNOWN_LIMIT" in out, out


def test_verify_main_rejects_sf_dir_without_value(capsys):
    """A bare ``--sf-dir`` is a usage error (exit 2 with a message), not a
    traceback."""
    from hive_apache_ci_spark import verify

    with pytest.raises(SystemExit) as exc:
        verify.main(["--sf-dir"])
    assert exc.value.code == 2
    assert "--sf-dir" in capsys.readouterr().err


def test_approx_count_distinct_error_bound(spark):
    """approx_count_distinct (HLL++, rsd 5%) must stay within 3*rsd of
    exact on every group; the query now computes the verdict in-plan
    (hll_within_bound) so the oracle hashes it — this test asserts the
    same bound independently with a raw aggregation."""
    from hive_apache_ci_spark.helpers import T
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["agg_approx_distinct"](spark, SF_DIR).collect()
    assert rows and all(r.hll_within_bound for r in rows), rows
    raw = (
        T(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.05).alias("a"),
            F.countDistinct("l_partkey").alias("e"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r.a - r.e) / r.e < 0.15, r


def test_q11_non_vacuous(spark):
    """Round-1 verdict: the Q11 threshold filtered everything at small SFs,
    making the oracle match vacuous. The fraction must yield rows."""
    from hive_apache_ci_spark.registry import all_queries

    assert all_queries()["tpch_q11_important_stock"](spark, SF_DIR).count() > 0


def test_market_basket_non_vacuous(spark):
    """Round-4 verdict: the fixed partkey slice went empty at sf0.1. The
    data-derived slice (lowest tenth of the key domain) must yield pairs at
    every SF; verify.py's VACUOUS_EMPTY guard enforces the same invariant
    registry-wide."""
    from hive_apache_ci_spark.registry import all_queries

    assert all_queries()["market_basket_lift"](spark, SF_DIR).count() > 0


def test_histogram_columns_are_scalars(spark):
    """agg_histogram must emit only hashable scalar columns (array-typed
    outputs crash the driver's canonicalizer)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from hive_apache_ci_spark.registry import all_queries

    df = all_queries()["agg_histogram"](spark, SF_DIR)
    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), f


def test_salted_join_rejects_outer_modes(spark):
    """salted_join replicates the non-salted side, so right/full outer would
    duplicate unmatched rows — those modes must be rejected."""
    import pytest as _pytest

    from hive_apache_ci_spark.helpers import T, salted_join

    l = T(spark, SF_DIR, "lineitem")
    p = T(spark, SF_DIR, "part")
    with _pytest.raises(ValueError):
        salted_join(l, p, "l_partkey", "p_partkey", how="full")
