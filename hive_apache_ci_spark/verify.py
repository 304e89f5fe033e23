"""Local differential verification: Spark query vs DuckDB oracle.

Mimics the driver's correctness gate (row-count + column set + order-
insensitive value comparison) so every registered query can be validated at
sf0.001/sf0.01 *before* the driver runs. Usage:

    python -m hive_apache_ci_spark.verify [--sf-dir DIR] [name ...]

Exact-match philosophy: the driver hashes values, so queries are designed to
be bit-deterministic across engines (rounded float aggregates, tie-broken
orderings, sorted arrays). This harness therefore compares canonicalized
values exactly, and additionally reports whether a failure would pass at
1e-9 tolerance (diagnosing float-tail vs real logic bugs).
"""

from __future__ import annotations

import math
import sys
from collections import Counter
from datetime import date, datetime

import duckdb

from .catalog import TABLES
from .registry import all_oracles, all_queries

#: Queries whose EMPTY result is the semantically-correct answer under test
#: (e.g. three-valued-logic NOT IN against a NULL-bearing list). Every other
#: query returning 0 rows is flagged VACUOUS_EMPTY even when it hash-matches
#: the oracle — "0 rows matched 0 rows" exercises nothing and hides
#: thresholds that silently stop firing as the scale factor grows.
EXPECTED_EMPTY: frozenset = frozenset({"subquery_not_in_null"})


def _canon(v, ndigits: int | None = None):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if ndigits is not None:
            v = round(v, ndigits)
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x, ndigits) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x, ndigits)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item(), ndigits)
    return f"{type(v).__name__}:{v}"


def _rows_to_multiset(cols, rows, ndigits: int | None = None) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i], ndigits) for i in order) for r in rows)


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # Bound the oracle engine: DuckDB's default memory_limit is 80% of
    # PHYSICAL RAM per process, so concurrent sweep shards (or one
    # pathological oracle at a big SF) can take the whole box to 0-free
    # before spilling — seen in the r8 sf1 sweep, where one quadratic
    # oracle held ~100 GB then filled the disk with spill files. Capping
    # at min(24 GB, 40% of detected RAM) keeps any one oracle inside a
    # fair share of the big box while never RAISING the budget above what
    # a small host can give (a flat 24 GB on a 16 GB runner would invite
    # the OS OOM-killer instead of a clean OUT_OF_MEMORY).
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
        cap_gb = max(1, min(24, int(total_kb * 0.4 / 1024 / 1024)))
    except (OSError, StopIteration, ValueError):
        cap_gb = 24
    con.execute(f"SET memory_limit='{cap_gb}GB'")
    con.execute(f"SET max_temp_directory_size='{cap_gb * 2}GB'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_one(spark, con, name: str, sf_dir: str) -> dict:
    qfn = all_queries()[name]
    oracle = all_oracles().get(name)
    sdf = qfn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    out = {"name": name, "rows": len(srows), "cols": scols}
    if len(srows) == 0 and name not in EXPECTED_EMPTY:
        out["status"] = "VACUOUS_EMPTY"
        return out
    if oracle is None:
        out["status"] = "ROWS_ONLY"
        return out
    try:
        dres = con.execute(oracle)
        dcols = [d[0].lower() for d in dres.description]
        drows = dres.fetchall()
    except duckdb.OutOfMemoryException:
        # DuckDB hit the deliberate memory cap (duck_connect). The query
        # still FAILS — an unchecked result is not a pass — but the status
        # names the oracle, not the engine, as the side that gave out.
        out["status"] = "ORACLE_OOM_KNOWN_LIMIT"
        return out
    if sorted(scols) != sorted(dcols):
        out["status"] = "SCHEMA_MISMATCH"
        out["oracle_cols"] = dcols
        return out
    if len(srows) != len(drows):
        out["status"] = "ROWCOUNT_MISMATCH"
        out["oracle_rows"] = len(drows)
        return out
    if _rows_to_multiset(scols, srows) == _rows_to_multiset(dcols, drows):
        out["status"] = "MATCH"
        return out
    # diagnose: does it match at reduced float precision?
    for nd in (9, 6, 4):
        if _rows_to_multiset(scols, srows, nd) == _rows_to_multiset(dcols, drows, nd):
            out["status"] = f"FLOAT_TAIL_MISMATCH_(matches@{nd}dp)"
            return out
    out["status"] = "VALUE_MISMATCH"
    sset = _rows_to_multiset(scols, srows)
    dset = _rows_to_multiset(dcols, drows)
    out["spark_only"] = list((sset - dset).keys())[:3]
    out["oracle_only"] = list((dset - sset).keys())[:3]
    return out


def main(argv: list[str]) -> int:
    from .session import get_spark

    sf_dir = "/root/testdata/sf0.001"
    names = []
    it = iter(argv)
    for a in it:
        if a == "--sf-dir":
            sf_dir = next(it)
        else:
            names.append(a)
    spark = get_spark("verify")
    con = duck_connect(sf_dir)
    targets = names or sorted(all_queries().keys())
    failures = 0
    for name in targets:
        try:
            res = compare_one(spark, con, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": f"ERROR: {type(e).__name__}: {e}"}
        ok = res["status"] in ("MATCH", "ROWS_ONLY")
        failures += 0 if ok else 1
        print(f"{'PASS' if ok else 'FAIL'} {res['name']:34s} {res['status']}"
              + (f" rows={res.get('rows')}" if ok else f" {res}"))
    print(f"== {len(targets) - failures}/{len(targets)} ok ==")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
