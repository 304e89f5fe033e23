#!/usr/bin/env python
"""Scale canary: time the heaviest queries on a base corpus and on the same
data replicated ten times more, and flag super-linear growth empirically
instead of asserting scale-safety from plan shape alone.

Usage:
    python scripts/scale_canary.py --copies {10,100} [--regen] [--all] [names...]

Two lanes, each one decade apart (see ``LANES``):

- ``--copies 10``: sf0.1 against sf0.1 replicated x10 ("sf1");
- ``--copies 100``: the x10 corpus against sf0.1 replicated x100 ("sf10").

A ratio near 10 is linear; above 30 a query is SUPER-LINEAR, and a query
non-empty on the base but empty at scale is VACUOUS. Every attempt runs
under a wall-clock ceiling, and a query that hits it is cancelled and
recorded as TIMEOUT. ``--all`` sweeps the whole registry (parity-only
shapes excluded) with one timed run each; ``--regen`` rebuilds the lane's
corpus. Prints one JSON line.

``docs/CANARY_RATIOS.json`` keeps each query's best (minimum) ratio per host
and lane under ``best[bench.host_key()][copies]``, and the latest row per
query under ``last[copies]``. A run is judged only against its own host's
bests: a first run on a new host seeds them and flags nothing; after that a
ratio more than ``CREEP_RATIO`` over its best and at least
``CREEP_MIN_RATIO`` is listed in ``ratio_creep``.

Replication recipe (DuckDB, deterministic; every copy reads sf0.1, since
re-replicating the x10 corpus would reuse its copy markers and create
cross-copy duplicates that inflate every dedup operator quadratically):

- TPC-H tables: keys offset by (max + 1) per copy keep joins consistent;
  region and nation stay fixed dimensions.
- customer: each copy swaps the '#' in c_name for a copy-unique codepoint
  (``Lane.marker`` + copy). Same length, same position inside the fuzzy
  join's blocking prefix, so every copy keeps the original block structure
  in disjoint blocks and candidate volume scales linearly.
- documents: every token of copy i gets the suffix 'x' + i. The corpus
  charset has no 'x', no digits and no non-ASCII (checked before writing),
  so cross-copy Jaccard is exactly 0 while within-copy near-duplicate pairs
  keep theirs, and byte-vs-char slicing oracles stay equivalent.
- embeddings: a cyclic rotation per copy (norms and distances preserved),
  plus ``Lane.jitter`` * i so copies whose rotation collides differ.
- events: user_id offset per copy.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from typing import NamedTuple

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402
from hive_apache_ci_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

# sf0.1, next to the catalog's default testdata
SF01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
RATIO_SIDECAR = os.path.join(_REPO, "docs", "CANARY_RATIOS.json")
CREEP_RATIO = 1.25
# A ratio under this floor is constant-overhead dominated at 10x data, not
# a scaling signal: without it, jitter on sub-linear ratios trips the band.
CREEP_MIN_RATIO = 3.0
SUPER_LINEAR = 30.0
TABLES = (
    "lineitem orders customer supplier part events documents embeddings "
    "region nation"
).split()


class Lane(NamedTuple):
    base: int  # copies of sf0.1 the ratio's denominator runs on
    ceilings: tuple[float, float]  # per-attempt seconds: base, scaled
    marker: int  # c_name '#' becomes chr(marker + copy)
    jitter: float  # added to embedding copy i as i * jitter
    queries: tuple[str, ...]


LANES = {
    10: Lane(
        base=1,
        ceilings=(60.0, 120.0),
        marker=64,
        jitter=0.0,
        # every expensive topology: scan-agg, star join, window, session,
        # minhash, hyperplane LSH, brute-force knn, iterative CC,
        # retrieval, merge, iterative trainers, segment/winnow text passes
        queries=(
            "q1_pricing_summary",
            "join_broadcast_star",
            "tpch_q5_local_supplier",
            "window_moving_rows",
            "events_session_window",
            "dedup_minhash_lsh",
            "dedup_embedding_cosine",
            "knn_topk_cosine",
            "quality_lm_perplexity",
            "search_bm25_topk",
            "merge_into_upsert",
            "dedup_connected_components",
            "kmeans_lloyd",
            "train_logreg_quality",
            "dedup_repeated_segments",
            "text_winnow_fingerprints",
            "dedup_semdedup_clusters",
            "ivf_pq_topk",
            "bpe_encode_corpus",
        ),
    ),
    100: Lane(
        base=10,
        ceilings=(600.0, 1800.0),
        # chr(64 + i) leaves the ASCII letters after 26 copies; from 193 up
        # there are 99 distinct single codepoints
        marker=192,
        # rotations repeat every 63 copies
        jitter=1e-6,
        # the scale-sensitive families: dedup ladder, ANN lifecycle,
        # retrieval, the heaviest joins and TPC-DS shapes, one ACID op
        queries=(
            "dedup_exact",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_ngram_jaccard",
            "dedup_embedding_cosine",
            "ivf_pq_build_index",
            "ivf_pq_search_topk",
            "ivf_pq_ingest_delta",
            "knn_topk_cosine",
            "join_fuzzy_blocked",
            "join_salted_skew",
            "join_nullsafe",
            "search_bm25_topk",
            "search_hybrid_rrf_indexed",
            "tpcds_q72_lagged_fulfillment",
            "tpcds_q64_item_year_resales",
            "tpcds_q95_multi_supplier",
            "acid_partitioned_upsert",
            "hive_ngrams_top",
        ),
    ),
}


def corpus_dir(copies: int) -> str:
    """Where sf0.1 replicated ``copies`` times lives (sf0.1 itself for 1)."""
    if copies == 1:
        return SF01
    return os.path.join(
        tempfile.gettempdir(), f"hive_apache_ci_spark_sf{copies // 10}"
    )


def _assert_bijection_marker_safe(con, docs_rel: str = "documents") -> None:
    """The 'x' + copy-id token suffix is collision-free, and the byte-slicing
    oracles stay equivalent, only while the corpus is pure ASCII with no
    'x' and no digits: fail here if the testdata generator ever changes."""
    n = con.execute(
        f"SELECT count(*) FROM {docs_rel} "
        "WHERE regexp_matches(text, '[x0-9]') "
        "   OR regexp_matches(text, '[^ -~]')"
    ).fetchone()[0]
    if n:
        raise AssertionError(
            f"{n} document(s) contain 'x', a digit, or non-ASCII — the "
            "'x'+copy-id bijection marker is no longer collision-safe; "
            "pick a marker outside the new charset"
        )


def generate(copies: int, force: bool = False) -> None:
    """Write sf0.1 replicated ``copies`` times to ``corpus_dir(copies)``."""
    out = corpus_dir(copies)
    done = os.path.join(out, ".complete")
    if os.path.exists(done) and not force:
        return
    import duckdb

    lane = LANES[copies]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    _assert_bijection_marker_safe(con)

    def stride(col: str, table: str) -> int:
        return con.execute(f"SELECT max({col}) + 1 FROM {table}").fetchone()[0]

    ok, ck = stride("o_orderkey", "orders"), stride("c_custkey", "customer")
    sk, pk = stride("s_suppkey", "supplier"), stride("p_partkey", "part")
    ek, uk = stride("event_id", "events"), stride("user_id", "events")
    dk, vk = stride("doc_id", "documents"), stride("vec_id", "embeddings")
    rotated = "embedding[2 + (i-1) % 63:] || embedding[1:1 + (i-1) % 63]"
    if lane.jitter:
        rotated = (
            f"list_transform({rotated}, "
            f"x -> CAST(x + i * {lane.jitter!r} AS FLOAT))"
        )
    selects = {
        "lineitem": f"""l_orderkey + i*{ok} AS l_orderkey,
            l_partkey + i*{pk} AS l_partkey, l_suppkey + i*{sk} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate""",
        "orders": f"""o_orderkey + i*{ok} AS o_orderkey,
            o_custkey + i*{ck} AS o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority""",
        "customer": f"""c_custkey + i*{ck} AS c_custkey,
            CASE WHEN i = 0 THEN c_name
                 ELSE replace(c_name, '#', chr(CAST({lane.marker} + i AS INTEGER)))
            END AS c_name, c_nationkey, c_acctbal, c_mktsegment""",
        "supplier": f"""s_suppkey + i*{sk} AS s_suppkey, s_name, s_nationkey,
            s_acctbal""",
        "part": f"""p_partkey + i*{pk} AS p_partkey, p_name, p_brand, p_type,
            p_size, p_retailprice""",
        "events": f"""event_id + i*{ek} AS event_id, ts,
            user_id + i*{uk} AS user_id, event_type, value, props""",
        "embeddings": f"""vec_id + i*{vk} AS vec_id,
            CASE WHEN i = 0 THEN embedding ELSE {rotated} END AS embedding,
            label""",
    }
    sql = {t: f"SELECT {s} FROM {t}, range({copies}) r(i)" for t, s in selects.items()}
    sql["documents"] = f"""SELECT doc_id + i*{dk} AS doc_id, txt AS text, lang,
            source, length(txt) AS n_chars
        FROM (
          SELECT doc_id, lang, source, i,
                 CASE WHEN i = 0 THEN text
                      ELSE regexp_replace(text, '(\\S+)', '\\1x' || i, 'g')
                 END AS txt
          FROM documents, range({copies}) r(i)
        )"""
    for t in ("region", "nation"):
        sql[t] = f"SELECT * FROM {t}"
    for t in TABLES:
        con.execute(f"COPY ({sql[t]}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    with open(done, "w") as fh:
        fh.write("ok")


class Timeout(Exception):
    pass


def _count_with_ceiling(spark, fn, sf_dir: str, limit_s: float, group: str) -> int:
    """fn(spark, sf_dir).count() under a wall-clock ceiling. The count runs
    in a worker thread under its own job group (job groups are thread-local,
    so the group is set in the worker); at the ceiling the group is
    cancelled and Timeout raised. The thread is a daemon, so a worker stuck
    past the cancel cannot block interpreter exit.

    Counting, not bench's collect(): join_fuzzy_blocked returns 20 M rows
    at x100, and collecting them would time the driver, not the engine."""
    box: dict = {}

    def target():
        try:
            spark.sparkContext.setJobGroup(group, "canary ceiling", True)
            box["rows"] = fn(spark, sf_dir).count()
        except BaseException as exc:  # noqa: BLE001 — relayed to caller
            box["exc"] = exc

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(limit_s)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        th.join(15)
        raise Timeout(f"exceeded {limit_s:.0f}s ceiling")
    if "exc" in box:
        raise box["exc"]
    return box["rows"]


def measure(spark, name: str, fn, lane: Lane, sweep: bool) -> dict:
    """One row: best base and scaled seconds, row counts, ratio, verdict.
    Each side gets one untimed warm-up (plan + page cache; the ceiling
    applies to it too) and the best of two timed runs, each on a fresh
    plan; a ``sweep`` trades precision for coverage with one timed run."""
    row: dict = {}
    sides = (("base", corpus_dir(lane.base)), ("scaled", corpus_dir(lane.base * 10)))
    for (side, sf_dir), limit in zip(sides, lane.ceilings):
        try:
            if not sweep:
                _count_with_ceiling(spark, fn, sf_dir, limit, f"{name}@{side}#warm")
            best = float("inf")
            for i in range(1 if sweep else 2):
                t0 = time.perf_counter()
                rows = _count_with_ceiling(spark, fn, sf_dir, limit, f"{name}@{side}#{i}")
                best = min(best, time.perf_counter() - t0)
            row[side] = round(best, 3)
            row[f"rows_{side}"] = rows
        except Timeout as exc:
            print(f"canary: {name}@{side} TIMEOUT: {exc}", file=sys.stderr)
            row[side] = None
            row["verdict"] = "TIMEOUT"
        except Exception as exc:  # noqa: BLE001 — one query must not end the run
            print(f"canary: {name}@{side} FAILED: {exc}", file=sys.stderr)
            row[side] = None
    if row.get("base") and row.get("scaled"):
        row["ratio"] = round(row["scaled"] / row["base"], 1)
        row["verdict"] = "linear-ish" if row["ratio"] <= SUPER_LINEAR else "SUPER-LINEAR"
        if row["rows_base"] > 0 and row["rows_scaled"] == 0:
            row["verdict"] = "VACUOUS"
    return row


def find_ratio_creep(
    prev_best: dict[str, float], ratios: dict[str, float]
) -> list[dict]:
    """Queries whose ratio exceeds their best by more than CREEP_RATIO and
    sits at or above CREEP_MIN_RATIO."""
    out = []
    for name, now in ratios.items():
        prev = prev_best.get(name)
        if prev is not None and now > prev * CREEP_RATIO and now >= CREEP_MIN_RATIO:
            out.append({"q": name, "best": prev, "now": now})
    return out


def merge_best_ratios(
    prev_best: dict[str, float], ratios: dict[str, float]
) -> dict[str, float]:
    """Running per-query minimum: one slow run cannot raise a best."""
    best = dict(prev_best)
    for k, v in ratios.items():
        best[k] = min(v, best[k]) if k in best else v
    return best


def _load_sidecar(path: str) -> dict:
    try:
        with open(path) as fh:
            side = json.load(fh)
    except (OSError, ValueError):
        side = {}
    return {"best": side.get("best") or {}, "last": side.get("last") or {}}


def load_prev_ratios(path: str, host: str, copies: int) -> dict[str, float]:
    """``host``'s best ratios for the ``copies`` lane."""
    lane = _load_sidecar(path)["best"].get(host, {}).get(str(copies)) or {}
    return {k: v for k, v in lane.items() if isinstance(v, (int, float))}


def record(path: str, host: str, copies: int, rows: dict[str, dict]) -> list[dict]:
    """Judge ``rows`` against ``host``'s bests for the lane, then merge them
    into the sidecar: bests as running minima, ``last`` row by row. Other
    hosts' and lanes' entries are carried over untouched. Returns the creep
    list."""
    ratios = {q: r["ratio"] for q, r in rows.items() if r.get("ratio") is not None}
    prev = load_prev_ratios(path, host, copies)
    creep = find_ratio_creep(prev, ratios)
    side = _load_sidecar(path)
    lane = str(copies)
    side["best"].setdefault(host, {})[lane] = merge_best_ratios(prev, ratios)
    side["last"][lane] = {**side["last"].get(lane, {}), **rows}
    try:
        with open(path, "w") as fh:
            json.dump(side, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"canary: ratio sidecar write failed: {exc}", file=sys.stderr)
    return creep


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, choices=sorted(LANES), required=True)
    ap.add_argument("--regen", action="store_true", help="rebuild the lane's corpus")
    ap.add_argument("--all", action="store_true", help="sweep the whole registry")
    ap.add_argument("names", nargs="*", help="restrict the run to these queries")
    args = ap.parse_args(argv)
    lane = LANES[args.copies]

    if lane.base > 1:
        generate(lane.base)
    generate(args.copies, args.regen)
    from hive_apache_ci_spark.registry import all_queries, parity_only_queries
    from hive_apache_ci_spark.session import get_spark

    qs = all_queries()
    if args.names:
        names = args.names
    elif args.all:
        # parity-only shapes are the documented don't-run-at-scale twins
        parity = parity_only_queries()
        names = sorted(set(qs) - parity)
        print(f"canary: excluding parity-only shapes: {sorted(parity)}", file=sys.stderr)
    else:
        names = lane.queries
    spark = get_spark("scale-canary")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name in names:
        out[name] = measure(spark, name, qs[name], lane, args.all)
        print(f"  {name}: {out[name]}", file=sys.stderr)
    creep = record(RATIO_SIDECAR, bench.host_key(), args.copies, out)
    for c in creep:
        print(
            f"canary: RATIO-CREEP {c['q']}: best {c['best']} -> now {c['now']}"
            f" (> {CREEP_RATIO}x)",
            file=sys.stderr,
        )
    print(json.dumps({
        "copies": args.copies,
        "all": args.all,
        "queries": out,
        "ratio_creep": [c["q"] for c in creep],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
