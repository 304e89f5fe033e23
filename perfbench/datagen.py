"""Deterministic synthetic tables for the benchmark.

Writes the ten catalog tables (``hive_apache_ci_spark.catalog.TABLES``) as one
parquet file each, with the schemas and value distributions of the engine's
reference testdata: a TPC-H-like star schema, an ``events`` stream table and
the two LLM-pipeline tables. The same ``(sf, seed)`` always gives the same
bytes of data, so the benchmark needs nothing outside its checkout.

    python3 perfbench/datagen.py OUT_DIR [--sf 0.01] [--seed 42]
    python3 -m hive_apache_ci_spark.verify --sf-dir OUT_DIR   # oracle check

A query joins a workload only after it matches its oracle on these tables.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
ORDER_DATE_LO = np.datetime64("1995-01-01", "D")
ORDER_DATE_DAYS = 2404  # through 2001-08-01
SHIP_DATE_LO = np.datetime64("1995-01-02", "D")
SHIP_DATE_DAYS = 2498  # through 2001-11-04
EVENTS_LO = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * DAY_US


def _scaled(sf: float, base: int) -> int:
    return max(1, int(round(base * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(lo: np.datetime64, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``sf`` (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = _scaled(sf, 150_000)
    n_supp = _scaled(sf, 10_000)
    n_part = _scaled(sf, 200_000)
    n_ord = _scaled(sf, 1_500_000)
    n_line = 4 * n_ord
    n_evt = _scaled(sf, 1_000_000)
    n_users = _scaled(sf, 15_000)
    n_docs = 500 if sf <= 0.01 else _scaled(sf, 50_000)
    n_vecs = 500 if sf <= 0.01 else _scaled(sf, 20_000)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": _ids(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": _ids(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_DATE_LO, rng, ORDER_DATE_DAYS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(SHIP_DATE_LO, rng, SHIP_DATE_DAYS, n_line),
    })
    offsets = np.sort(rng.integers(0, EVENTS_SPAN_US, n_evt))
    t["events"] = pa.table({
        "event_id": _ids(n_evt),
        "ts": pa.array(EVENTS_LO + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]),
    })
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _ids(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in ten is a near-copy of an earlier one
    (a few words replaced), so the dedup operators have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": _ids(n),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def ensure(out_dir: str, sf: float, seed: int) -> str:
    """Generate the tables into ``out_dir`` unless a complete set is there.

    Writes into a sibling temp dir and renames it into place, so an
    interrupted generation never leaves a partial table set behind."""
    if os.path.isfile(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.partial.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(json.dumps({"sf": sf, "seed": seed}))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    print(ensure(args.out_dir, args.sf, args.seed))


if __name__ == "__main__":
    main()
