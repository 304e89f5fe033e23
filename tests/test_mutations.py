"""MERGE emulation + CDC operator semantics (operators/mutations.py)."""

from __future__ import annotations

import shutil
import tempfile

from hive_apache_ci_spark.registry import all_queries

from .conftest import SF_DIR


def test_merge_exercises_all_clauses(spark):
    """The merge result must contain updated, inserted AND kept rows, and
    no deleted key may survive."""
    rows = all_queries()["merge_into_upsert"](spark, SF_DIR).collect()
    actions = {r.merge_action for r in rows}
    assert actions == {"updated", "inserted", "kept"}
    inserted = [r for r in rows if r.merge_action == "inserted"]
    assert all(r.c_custkey >= 10000000 for r in inserted)
    assert all(r.c_mktsegment == "NEWSEGMENT" for r in inserted)


def test_merge_copy_on_write_roundtrip(spark):
    """Full ACID-emulation cycle: compute merge → INSERT OVERWRITE to
    parquet → read back; the table state equals the computed merge."""
    from pyspark.sql import functions as F

    merged = all_queries()["merge_into_upsert"](spark, SF_DIR)
    target = tempfile.mkdtemp(prefix="merge_cow_") + "/t"
    try:
        merged.write.mode("overwrite").parquet(target)
        back = spark.read.parquet(target)
        assert back.count() == merged.count()
        diff = back.exceptAll(merged).count() + merged.exceptAll(back).count()
        assert diff == 0
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_scd2_intervals_tile_the_timeline(spark):
    """Per key: intervals are disjoint, contiguous (valid_to == next
    valid_from), and exactly one open (is_current) interval exists."""
    rows = all_queries()["cdc_scd2_history"](spark, SF_DIR).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    assert by_key
    for recs in by_key.values():
        recs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in recs) == 1
        assert recs[-1].valid_to is None and recs[-1].is_current == 1
        for a, b in zip(recs, recs[1:]):
            assert a.valid_to == b.valid_from


def test_latest_snapshot_is_one_row_per_live_key(spark):
    rows = all_queries()["cdc_latest_snapshot"](spark, SF_DIR).collect()
    keys = [r.user_id for r in rows]
    assert len(keys) == len(set(keys))
    assert len(keys) > 0


def test_sorted_layout_files_disjoint(spark):
    """io_sorted_layout's contract: after repartitionByRange+sortWithin,
    every parquet file covers a disjoint ts slice (per-file min/max from
    the footers must not overlap) — the property file-level pruning needs."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hive_apache_ci_spark.registry import all_queries
    from hive_apache_ci_spark.sources.io_roundtrip import _scratch

    out = all_queries()["io_sorted_layout"](spark, SF_DIR)
    assert out.count() > 0  # materializes the write
    d = _scratch(SF_DIR, "events_sorted")  # per-run path (round-6 discipline)
    ranges = []
    for f in glob.glob(os.path.join(d, "*.parquet")):
        # footer stats for TIMESTAMP_NTZ chunks aren't always populated;
        # reading the single ts column of a small file is equivalent proof
        col = pq.read_table(f, columns=["ts"]).column("ts")
        if len(col):
            import pyarrow.compute as pc

            ranges.append(
                (pc.min(col).as_py(), pc.max(col).as_py())
            )
    assert len(ranges) >= 2, "expected a multi-file layout"
    ranges.sort()
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo, f"overlapping file ranges: {a_hi} > {b_lo}"


# ---- ACID-lite (operators/acid.py) -----------------------------------------


def _tiny_acid(spark, tmpdir):
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.operators.acid import AcidTable

    tbl = AcidTable(tmpdir)
    base = spark.createDataFrame(
        [(1, "a", 10.0, "S1"), (2, "b", 20.0, "S2"), (3, "c", 30.0, "S1")],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    )
    tbl.create(base)
    tbl.commit_delta(
        base.filter("c_custkey = 2").select(
            "c_custkey", "c_name",
            (F.col("c_acctbal") + 5).alias("c_acctbal"),
            "c_mktsegment", F.lit("U").alias("_op"),
        )
    )
    tbl.commit_delta(
        base.filter("c_custkey = 3").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
            F.lit("D").alias("_op"),
        )
    )
    return tbl


def test_acid_merge_on_read_and_time_travel(spark, tmp_path):
    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    latest = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert latest == {1: 10.0, 2: 25.0}          # update applied, 3 deleted
    v0 = {r.c_custkey: r.c_acctbal for r in tbl.read(spark, 0).collect()}
    assert v0 == {1: 10.0, 2: 20.0, 3: 30.0}     # VERSION AS OF 0
    v1 = {r.c_custkey: r.c_acctbal for r in tbl.read(spark, 1).collect()}
    assert v1 == {1: 10.0, 2: 25.0, 3: 30.0}


def test_acid_compacted_read_scans_base_only(spark, tmp_path):
    """After major compaction the LATEST manifest has an empty delta chain
    and the read plan is a single parquet scan — no delta unions, no
    merge window."""
    import contextlib
    import io

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    tbl.compact(spark)
    m = tbl.manifest()
    assert m["deltas"] == [] and m["base"].startswith("base_3")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tbl.read(spark).explain(mode="formatted")
    p = buf.getvalue()
    assert "Union" not in p, p
    assert "Window" not in p, p
    assert p.count("(1) Scan parquet") == 1 and "(2) Scan" not in p, p
    # equivalence with the pre-compaction snapshot
    latest = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert latest == {1: 10.0, 2: 25.0}


def test_acid_crash_safety(spark, tmp_path):
    """Crash-model contract of the manifest-is-the-commit protocol:
    (a) a stray temp file from a writer that died BEFORE publishing is
    ignored (transaction never happened); (b) a complete manifest from a
    writer that died right AFTER publishing IS the committed latest
    (roll-forward — nothing wedges, the next writer targets the slot
    after it); (c) a data dir without its _SUCCESS marker raises;
    (d) reading an explicit never-committed version raises."""
    import glob
    import json
    import os

    import pytest

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    # (a) torn pre-publish temp: invisible to the version scan
    with open(os.path.join(tbl.commits, ".tmp.deadbeef"), "w") as fh:
        fh.write('{"version": 99')  # torn JSON, never linked
    assert tbl.latest_version() == 2
    # (b) died-after-publish: a COMPLETE orphan manifest is committed
    m3 = dict(tbl.manifest())
    m3["version"] = 3
    with open(os.path.join(tbl.commits, "v3.json"), "w") as fh:
        json.dump(m3, fh)
    assert tbl.latest_version() == 3
    assert {r.c_custkey for r in tbl.read(spark).collect()} == {1, 2}
    # and the next writer does NOT wedge: it targets v4
    from pyspark.sql import functions as F

    nxt = tbl.read(spark, 0).filter("c_custkey = 1").select(
        "c_custkey", "c_name", F.lit(1.0).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"))
    assert tbl.commit_delta(nxt) == 4
    # (d) explicit missing version
    with pytest.raises(OSError):
        tbl.read(spark, 42)
    # (c) torn data dir: remove the commit marker of a delta
    d2 = glob.glob(os.path.join(tbl.root, "delta_2_*"))[0]
    os.remove(os.path.join(d2, "_SUCCESS"))
    with pytest.raises(OSError):
        tbl.read(spark)


def test_acid_optimistic_concurrency(spark, tmp_path):
    """Two writers racing for the same version: exactly one commits; the
    loser raises ConcurrentCommitError (first-writer-wins O_EXCL on the
    manifest slot) and its retry after re-read succeeds at the NEXT
    version, with both mutations visible."""
    from pyspark.sql import functions as F

    import pytest

    from hive_apache_ci_spark.operators.acid import (
        AcidTable, ConcurrentCommitError,
    )

    root = str(tmp_path / "t")
    a, b = _tiny_acid(spark, root), AcidTable(root)
    base = a.read(spark, 0)
    d_a = base.filter("c_custkey = 1").select(
        "c_custkey", "c_name", F.lit(111.0).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"))
    d_b = base.filter("c_custkey = 2").select(
        "c_custkey", "c_name", F.lit(222.0).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"))
    # both handles observed v2; a wins v3
    assert a.commit_delta(d_a, read_version=2) == 3
    # the READ-THEN-COMMIT race (r9 ADVICE): b's delta was derived from
    # the v2 snapshot, so its commit is pinned to target v3 — which a
    # already took. Without read_version pinning this would silently
    # stack b's delta on state b never saw; with it, b must conflict.
    with pytest.raises(ConcurrentCommitError):
        b.commit_delta(d_b, read_version=2)
    # the narrower slot-replay race is still caught at the link itself
    with pytest.raises(ConcurrentCommitError):
        b._commit({"version": 3, "base": "base_0", "base_seq": 0,
                   "deltas": []})
    # loser retries the contract way: re-read the NEW snapshot, re-derive,
    # commit against the observed version -> succeeds at v4
    v_seen = b.latest_version()
    assert v_seen == 3
    d_b2 = b.read(spark, v_seen).filter("c_custkey = 2").select(
        "c_custkey", "c_name", F.lit(222.0).alias("c_acctbal"),
        "c_mktsegment", F.lit("U").alias("_op"))
    assert b.commit_delta(d_b2, read_version=v_seen) == 4
    latest = {r.c_custkey: r.c_acctbal for r in b.read(spark).collect()}
    assert latest == {1: 111.0, 2: 222.0}


def test_acid_delta_cardinality_guard(spark, tmp_path):
    """Two events for one key in one transaction must be rejected (same
    _seq => arbitrary merge winner)."""
    from pyspark.sql import functions as F

    import pytest

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    base = tbl.read(spark, 0)
    bad = base.filter("c_custkey = 1").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        F.lit("U").alias("_op"),
    )
    with pytest.raises(ValueError, match="multiple events"):
        tbl.commit_delta(bad.unionAll(bad))


def test_acid_merge_on_read_window_partitions_by_key(spark, tmp_path):
    """The merge-on-read window must hash-partition by the merge key —
    never a single-partition window — so the ACID read path scales with
    the key space."""
    import contextlib
    import io

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tbl.read(spark).explain(mode="formatted")
    p = buf.getvalue()
    assert "hashpartitioning(c_custkey" in p, p
    assert "SinglePartition" not in p, p
    assert "WindowGroupLimit" in p or "Window" in p, p


def test_acid_vacuum_gc_and_retention(spark, tmp_path):
    """vacuum keeps every dir the retained manifests reference, deletes
    replaced bases/orphans, and time travel beyond the horizon fails
    cleanly (missing committed dir) instead of serving partial data."""
    import os

    import pytest

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    tbl.compact(spark)                         # v3: fresh base, old dirs dead
    before = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    deleted = tbl.vacuum(retain_versions=1)
    assert "base_0" in deleted                 # replaced base GC'd
    assert any(d.startswith("delta_1_") for d in deleted)
    after = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert after == before                     # latest snapshot untouched
    with pytest.raises(OSError):               # horizon: v0 is gone
        tbl.read(spark, 0).collect()


def test_acid_vacuum_guards(spark, tmp_path):
    """r9 ADVICE rails: retain_versions=0 (would delete the live base) is
    rejected, and vacuum never touches co-located non-table dirs (the
    streaming-ingest layout keeps checkpoints/chunks under the same
    root)."""
    import os

    import pytest

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="retain_versions"):
        tbl.vacuum(retain_versions=0)
    # co-located stream dirs must survive a vacuum
    for extra in ("ckpt", "chunks", "stage_0"):
        os.makedirs(os.path.join(tbl.root, extra), exist_ok=True)
    tbl.compact(spark)
    deleted = tbl.vacuum(retain_versions=1)
    assert all(d.startswith(("base_", "delta_")) for d in deleted)
    for extra in ("ckpt", "chunks", "stage_0", "_commits"):
        assert os.path.isdir(os.path.join(tbl.root, extra))


def test_acid_compacting_a_clean_table_commits_nothing(spark, tmp_path):
    """An unpartitioned table is the one-chain case of a partitioned one,
    so compaction follows the same rule: a dirty chain is rewritten and
    returned (keyed None), and with no live deltas left compaction
    returns [] and commits no version."""
    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    assert tbl.compact(spark) == [None]
    v = tbl.latest_version()
    assert tbl.compact(spark) == []
    assert tbl.latest_version() == v


def test_acid_mechanisms_have_one_definition():
    """Partitioned and unpartitioned tables share every ACID mechanism:
    the merge-on-read window, the delta-cardinality guard, the vacuum
    retention rail and the data-dir publish are each written once in
    operators/acid.py, and PartitionedAcidTable adds only a constructor."""
    import inspect
    import re

    from hive_apache_ci_spark.operators import acid

    src = inspect.getsource(acid)
    for pattern in (
        r"F\.row_number\(\)\.over\(",
        r"\.orderBy\(F\.col\(\"_seq\"\)",
        r"multiple events for key",
        r"retain_versions must be >= 1",
        r"_fsync_dir_entries\(committed\(",
    ):
        assert len(re.findall(pattern, src)) == 1, pattern
    methods = {
        name for name, v in vars(acid.PartitionedAcidTable).items()
        if callable(v)
    }
    assert methods == {"__init__"}, methods


# ---- partitioned ACID (round 10) -------------------------------------------


def _tiny_pacid(spark, tmpdir):
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.operators.acid import PartitionedAcidTable

    tbl = PartitionedAcidTable(tmpdir, part="c_mktsegment")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "S1"), (2, "b", 20.0, "S2"), (3, "c", 30.0, "S1"),
         (4, "d", 40.0, "S3")],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    )
    tbl.create(base)
    # v1 touches ONLY S1 (update) — S2/S3 chains stay clean
    tbl.commit_delta(
        base.filter("c_custkey = 1").select(
            "c_custkey", "c_name",
            (F.col("c_acctbal") + 5).alias("c_acctbal"),
            "c_mktsegment", F.lit("U").alias("_op"),
        ),
        read_version=0,
    )
    return tbl


def test_pacid_partition_chains_and_dynamic_birth(spark, tmp_path):
    """Per-partition chains: a delta touching one partition appends to one
    chain; an insert with a NEW partition value creates the partition
    (base=None, Hive dynamic-partition insert)."""
    from pyspark.sql import functions as F

    tbl = _tiny_pacid(spark, str(tmp_path / "t"))
    m = tbl.manifest()
    assert set(m["partitions"]) == {"S1", "S2", "S3"}
    assert len(m["partitions"]["S1"]["deltas"]) == 1
    assert m["partitions"]["S2"]["deltas"] == []
    newp = spark.createDataFrame(
        [(9, "z", 90.0, "S9")],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    ).withColumn("_op", F.lit("I"))
    tbl.commit_delta(newp, read_version=1)
    m = tbl.manifest()
    assert m["partitions"]["S9"]["base"] is None
    got = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert got == {1: 15.0, 2: 20.0, 3: 30.0, 4: 40.0, 9: 90.0}
    # partition-pruned read of the dynamically-born partition
    only = tbl.read(spark, partition="S9")
    assert [r.c_custkey for r in only.collect()] == [9]
    assert all("c_mktsegment=S9" in f for f in only.inputFiles())


def test_pacid_partition_scoped_compaction_and_vacuum(spark, tmp_path):
    """compact() rewrites ONLY dirty partitions; clean partitions keep
    their base dir identity; post-compaction pruned read is a plain scan
    (no merge window in the plan — the partition-at-a-time 100 TB claim);
    vacuum GCs the superseded per-partition delta/base dirs only."""
    import contextlib
    import io

    tbl = _tiny_pacid(spark, str(tmp_path / "t"))
    m0 = tbl.manifest()
    compacted = tbl.compact(spark)
    assert compacted == ["S1"]                    # only the dirty partition
    m1 = tbl.manifest()
    assert m1["partitions"]["S2"]["base"] == m0["partitions"]["S2"]["base"]
    assert m1["partitions"]["S3"]["base"] == m0["partitions"]["S3"]["base"]
    assert m1["partitions"]["S1"]["base"] != m0["partitions"]["S1"]["base"]
    assert all(not e["deltas"] for e in m1["partitions"].values())
    # plan gate: pruned read of the compacted partition = one base scan
    pruned = tbl.read(spark, partition="S1")
    assert all("c_mktsegment=S1" in f and "/base_" in f
               for f in pruned.inputFiles())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(mode="formatted")
    assert "Window" not in buf.getvalue()
    # second compact: nothing dirty -> no-op, no new version
    v = tbl.latest_version()
    assert tbl.compact(spark) == []
    assert tbl.latest_version() == v
    deleted = tbl.vacuum(retain_versions=1)
    assert any(d.startswith("c_mktsegment=S1/base_0") for d in deleted)
    assert any(d.startswith("c_mktsegment=S1/delta_1") for d in deleted)
    assert not any(d.startswith("c_mktsegment=S2") for d in deleted)
    got = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert got == {1: 15.0, 2: 20.0, 3: 30.0, 4: 40.0}


def test_pacid_metachar_partition_values_and_stage_gc(spark, tmp_path):
    """r10 ADVICE pair: (1) a partition value containing '/' (or ':')
    must NOT corrupt the on-disk layout — the manifest keys by Spark's
    escaped dir-name form verbatim, and raw-value reads escape on lookup;
    (2) vacuum GCs orphaned .stage_* dirs left by a crashed writer."""
    import os

    from pyspark.sql import functions as F

    from hive_apache_ci_spark.operators.acid import (
        PartitionedAcidTable, escape_partition_value,
    )

    assert escape_partition_value("A/B:C") == "A%2FB%3AC"
    root = str(tmp_path / "t")
    tbl = PartitionedAcidTable(root, part="c_mktsegment")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "A/B"), (2, "b", 20.0, "plain")],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    )
    tbl.create(base)
    m = tbl.manifest()
    assert set(m["partitions"]) == {"A%2FB", "plain"}
    # no nested 'A' dir was ever created — the layout is flat
    assert os.path.isdir(os.path.join(root, "c_mktsegment=A%2FB"))
    assert not os.path.exists(os.path.join(root, "c_mktsegment=A"))
    # raw-value pruned read resolves through the escaped key
    got = tbl.read(spark, partition="A/B")
    assert [r.c_custkey for r in got.collect()] == [1]
    # inputFiles are URIs: the on-disk '%' is itself URI-encoded to %25
    assert all("c_mktsegment=A%252FB" in f for f in got.inputFiles())
    # delta into the metachar partition lands on the same chain
    tbl.commit_delta(
        base.filter("c_custkey = 1").select(
            "c_custkey", "c_name",
            (F.col("c_acctbal") + 5).alias("c_acctbal"),
            "c_mktsegment", F.lit("U").alias("_op"),
        ),
        read_version=0,
    )
    assert len(tbl.manifest()["partitions"]["A%2FB"]["deltas"]) == 1
    assert tbl.read(spark, partition="A/B").collect()[0].c_acctbal == 15.0
    # orphaned staging dir (crashed writer) is vacuum's business now
    orphan = os.path.join(root, ".stage_deadbeef")
    os.makedirs(orphan)
    deleted = tbl.vacuum(retain_versions=2)
    assert ".stage_deadbeef" in deleted
    assert not os.path.exists(orphan)


def test_acid_commit_transaction_auto_retry(spark, tmp_path):
    """commit_transaction: the automatic read->derive->pinned-commit->
    re-derive retry loop. A conflicting commit lands between the txn's
    snapshot read and its commit; the loop must re-derive from the NEW
    snapshot (the +1 applies on top of the interloper's x2, never on the
    stale state) and succeed on the second attempt. Inherited by
    PartitionedAcidTable unchanged. Livelock guard: a txn_fn that always
    loses raises after max_retries."""
    from pyspark.sql import functions as F

    import pytest

    from hive_apache_ci_spark.operators.acid import (
        AcidTable, ConcurrentCommitError,
    )

    root = str(tmp_path / "t")
    tbl, rival = _tiny_acid(spark, root), AcidTable(root)
    calls = {"n": 0}

    def txn(snap):
        calls["n"] += 1
        if calls["n"] == 1:  # interloper wins the first race
            rival.commit_delta(
                rival.read(spark).filter("c_custkey = 1").select(
                    "c_custkey", "c_name",
                    F.round(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
                    "c_mktsegment", F.lit("U").alias("_op")),
            )
        return snap.filter("c_custkey = 1").select(
            "c_custkey", "c_name",
            F.round(F.col("c_acctbal") + 1, 2).alias("c_acctbal"),
            "c_mktsegment", F.lit("U").alias("_op"))

    v = tbl.commit_transaction(spark, txn)
    assert calls["n"] == 2 and v == 4          # one conflict, one retry
    got = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert got[1] == 21.0                      # (10*2)+1, never 10+1

    def always_loses(snap):
        rival.commit_delta(
            rival.read(spark).filter("c_custkey = 2").select(
                "c_custkey", "c_name",
                F.round(F.col("c_acctbal") + 0.5, 2).alias("c_acctbal"),
                "c_mktsegment", F.lit("U").alias("_op")),
        )
        return snap.filter("c_custkey = 1").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
            F.lit("U").alias("_op"))

    with pytest.raises(ConcurrentCommitError, match="consecutive races"):
        tbl.commit_transaction(spark, always_loses, max_retries=2)


def test_acid_commit_transaction_thread_race(spark, tmp_path):
    """REAL concurrent writers (4 threads, not scripted interleaving) each
    run commit_transaction adding +1 to the same row. The link(2)
    first-writer-wins arbiter serializes them; the retry loop re-derives
    from each new snapshot, so all 4 increments land exactly once
    (final = base + 4) and the table ends 4 versions ahead — a lost
    update or a double-applied delta breaks either check."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    tbl = _tiny_acid(spark, str(tmp_path / "t"))
    v0 = tbl.latest_version()
    base_bal = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}[1]

    def bump(_i):
        def txn(snap):
            return snap.filter("c_custkey = 1").select(
                "c_custkey", "c_name",
                F.round(F.col("c_acctbal") + 1, 2).alias("c_acctbal"),
                "c_mktsegment", F.lit("U").alias("_op"))

        return tbl.commit_transaction(spark, txn, max_retries=10)

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(bump, range(4)))
    assert versions == [v0 + 1, v0 + 2, v0 + 3, v0 + 4]
    got = {r.c_custkey: r.c_acctbal for r in tbl.read(spark).collect()}
    assert got[1] == base_bal + 4


# ---- writer lease (round 11: the DbTxnManager queueing analog) -------------


def test_writer_lease_mutual_exclusion_and_takeover(tmp_path):
    """O_EXCL lock file: second acquirer blocks then times out while held;
    an EXPIRED lease is broken by exactly one waiter; release only unlinks
    the holder's own lock."""
    import os
    import threading

    import pytest

    from hive_apache_ci_spark.operators.acid import (
        LeaseTimeoutError, WriterLease,
    )

    commits = str(tmp_path)
    a = WriterLease(commits, ttl_s=30.0).acquire(timeout_s=1)
    b = WriterLease(commits, ttl_s=30.0)
    with pytest.raises(LeaseTimeoutError):
        b.acquire(timeout_s=0.3)
    a.release()
    assert not os.path.exists(a.path)
    b.acquire(timeout_s=1)
    # releasing the STALE handle 'a' must not unlink b's live lease
    a._held = True
    a.release()
    assert os.path.exists(b.path)
    b.release()
    # expired lease (crashed holder): ttl elapses, waiters race to break
    # it; exactly one wins the rename and the slot is re-acquired
    WriterLease(commits, ttl_s=0.05).acquire(timeout_s=1)  # never released
    import time

    time.sleep(0.1)
    winners = []
    def contend():
        try:
            lk = WriterLease(commits, ttl_s=5.0).acquire(timeout_s=2)
            winners.append(lk)
        except LeaseTimeoutError:
            pass
    ts = [threading.Thread(target=contend) for _ in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(winners) == 1, "exactly one waiter takes over an expired lease"
    winners[0].release()


def test_writer_lease_heartbeat_extends(tmp_path):
    """heartbeat() pushes the expiry out: a short-TTL lease that keeps
    heartbeating is never broken by a waiter."""
    import time

    from hive_apache_ci_spark.operators.acid import (
        LeaseTimeoutError, WriterLease,
    )

    lk = WriterLease(str(tmp_path), ttl_s=0.3).acquire(timeout_s=1)
    w = WriterLease(str(tmp_path), ttl_s=0.3)
    t_end = time.monotonic() + 0.8
    broken = False
    while time.monotonic() < t_end:
        lk.heartbeat()
        try:
            w.acquire(timeout_s=0.05)
            broken = True
            break
        except LeaseTimeoutError:
            pass
    assert not broken, "heartbeating lease was stolen"
    lk.release()


def test_writer_lease_heartbeat_after_takeover_raises(tmp_path):
    """r11 ADVICE: an expired holder whose lease was broken + re-acquired
    must NOT clobber the new holder's lock on heartbeat — it gets
    LeaseLostError and the new lease survives; and its release() must
    leave the new holder's lock in place (rename-tombstone path)."""
    import json
    import os
    import time

    import pytest

    from hive_apache_ci_spark.operators.acid import (
        LeaseLostError, WriterLease,
    )

    old = WriterLease(str(tmp_path), ttl_s=0.05).acquire(timeout_s=1)
    time.sleep(0.1)  # let it expire
    new = WriterLease(str(tmp_path), ttl_s=30.0).acquire(timeout_s=1)
    with pytest.raises(LeaseLostError):
        old.heartbeat()
    # the failed heartbeat marks the stale handle un-held; the new lock
    # is intact and still names the new holder
    with open(new.path) as fh:
        assert json.load(fh)["holder"] == new.holder
    # a stale handle that goes straight to release() (no heartbeat) must
    # also leave the new holder's lock behind
    old2 = WriterLease(str(tmp_path), ttl_s=30.0)
    old2._held = True  # simulate: believes it holds, but `new` does
    old2.release()
    assert os.path.exists(new.path)
    with open(new.path) as fh:
        assert json.load(fh)["holder"] == new.holder
    new.release()
    assert not os.path.exists(new.path)


def test_escape_partition_value_null_and_empty():
    """r11 ADVICE: null/empty partition values key by Spark's
    __HIVE_DEFAULT_PARTITION__ marker (ExternalCatalogUtils), so the
    manifest key written for them is reachable by lookup."""
    from hive_apache_ci_spark.operators.acid import escape_partition_value

    assert escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"
    assert escape_partition_value("BUILDING") == "BUILDING"


def test_acid_commit_transaction_with_lease_serializes(spark, tmp_path):
    """use_lease=True: four threads commit through the lease and NONE of
    them ever hits a ConcurrentCommitError (Hive's queueing behavior —
    writers wait, not retry). Final state = all four deltas applied."""
    import threading

    from pyspark.sql import functions as F

    from hive_apache_ci_spark.operators.acid import AcidTable

    tbl = AcidTable(str(tmp_path / "t"), cols=["k", "v"], key="k")
    tbl.create(spark.createDataFrame([(1, 0.0)], "k long, v double"))
    conflicts = []
    orig = tbl.commit_delta

    def counting_commit(delta_df, read_version=None):
        from hive_apache_ci_spark.operators.acid import ConcurrentCommitError
        try:
            return orig(delta_df, read_version=read_version)
        except ConcurrentCommitError:
            conflicts.append(1)
            raise

    tbl.commit_delta = counting_commit
    errs = []

    def writer(i):
        def txn(snap):
            return snap.filter(F.col("k") == 1).select(
                "k", (F.col("v") + 1).alias("v"), F.lit("U").alias("_op")
            )
        try:
            tbl.commit_transaction(
                spark, txn, use_lease=True, lease_timeout_s=300
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert errs == []
    assert conflicts == [], "lease-holding writers must never conflict"
    assert tbl.latest_version() == 4
    assert tbl.read(spark).collect()[0].v == 4.0
