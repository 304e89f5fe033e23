"""Corpus primary-key invariants gating the r12 query rewrites.

Four TPC-DS-shape rewrites (tpcds_q64_item_year_resales' lag-window form,
tpcds_q70_ranked_states_rollup's pre-rollup aggregate, and the q95/q16
EXISTS-pair folds) are algebraically equivalent to their oracles ONLY if
the dimension/fact primary keys they join through are unique — a
data-dependent invariant of the synthetic corpus, not of SQL. Round 12's
attempted q93 fold showed the hazard is real: (l_orderkey, l_linenumber)
is NOT unique in this corpus and the fold was reverted.

These tests fail loudly if a future testdata regeneration ever duplicates
the PKs the rewrites assume (r12 VERDICT task 7). They run on DuckDB over
every locally present SF, so they are cheap and engine-independent.
"""

from __future__ import annotations

import os

import pytest

from hive_apache_ci_spark.verify import duck_connect

#: (table, pk columns) pairs the r12 rewrites depend on. part.p_partkey
#: gates q64's lag-window equivalence (one sales_by_year row per
#: (item, yr)); orders.o_orderkey gates q95/q16's inner-join step (one
#: order row per lineitem orderkey); customer/supplier PKs gate the
#: dimension joins shared by q64/q70.
_PK_CONTRACTS = (
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("nation", ("n_nationkey",)),
    ("region", ("r_regionkey",)),
)

_SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_pk_uniqueness(sf_dir):
    con = duck_connect(sf_dir)
    try:
        for table, cols in _PK_CONTRACTS:
            key = ", ".join(cols)
            total, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT ({key})) FROM {table}"
            ).fetchone()
            assert total == distinct, (
                f"{table} PK ({key}) duplicated at {sf_dir}: {total} rows, "
                f"{distinct} distinct — the q64/q70/q95/q16 rewrites in "
                f"operators/tpcds_shapes.py assume this key is unique; "
                f"revert them or fix the generator before shipping"
            )
            nulls = con.execute(
                "SELECT count(*) FROM "
                f"{table} WHERE "
                + " OR ".join(f"{c} IS NULL" for c in cols)
            ).fetchone()[0]
            assert nulls == 0, f"{table} PK ({key}) has {nulls} NULLs at {sf_dir}"
    finally:
        con.close()


def test_lineitem_composite_key_is_not_assumed_unique():
    """Documents the r12 q93 negative result: (l_orderkey, l_linenumber)
    is NOT unique in this corpus, so no rewrite may assume it. If the
    generator ever makes it unique, this xfail-style guard flips and the
    q93 fold becomes legal again — worth knowing either way."""
    if not _SF_DIRS:
        pytest.skip("no scale-factor test data directory exists")
    con = duck_connect(_SF_DIRS[-1])
    try:
        total, distinct = con.execute(
            "SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber)) "
            "FROM lineitem"
        ).fetchone()
    finally:
        con.close()
    # Not an assertion of inequality forever — just a loud signal if the
    # corpus contract changes (then revisit the q93 fold, OPTIMIZATION_r12
    # §15).
    assert total >= distinct
    if total == distinct:
        pytest.skip(
            "corpus regenerated with unique (l_orderkey, l_linenumber): "
            "the q93 join-to-CASE fold (OPTIMIZATION_r12 §15) is now legal"
        )
