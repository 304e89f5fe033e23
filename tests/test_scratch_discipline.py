"""Scratch discipline: every write-then-read-back query uses a per-run path
under TMPDIR — no fixed shared /tmp write path anywhere — with
_SUCCESS-gated readbacks, stale-run GC, and scratch released only through
``helpers.materialize`` once the result is stored."""

from __future__ import annotations

import os
import re
import time

from hive_apache_ci_spark import helpers


def test_run_scratch_is_per_run_and_tagged(tmp_path, monkeypatch):
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    p = helpers.run_scratch("io", "/root/testdata/sf0.01", "foo")
    assert helpers.RUN_ID in p
    assert p.endswith(os.path.join("sf0.01", helpers.RUN_ID, "foo"))
    assert "hive_apache_ci_spark_io" in p


def test_gc_reaps_only_stale_foreign_runs(tmp_path, monkeypatch):
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    base = tmp_path / "hive_apache_ci_spark_io" / "sf0.01"
    stale = base / "run-deadbeef0000"
    fresh = base / "run-cafebabe0000"
    ours = base / helpers.RUN_ID
    legacy = base / "orders_by_year"  # pre-round-6 fixed layout: left alone
    for d in (stale, fresh, ours, legacy):
        d.mkdir(parents=True)
    old = time.time() - helpers._STALE_SECONDS - 60
    os.utime(stale, (old, old))
    os.utime(ours, (old, old))  # even an old OWN dir must survive
    helpers.run_scratch("io", "/root/testdata/sf0.01", "foo")
    assert not stale.exists()
    assert fresh.exists() and ours.exists() and legacy.exists()


def test_committed_gates_on_success_marker(tmp_path):
    d = tmp_path / "out"
    d.mkdir()
    try:
        helpers.committed(str(d))
        raise AssertionError("uncommitted dir accepted")
    except OSError:
        pass
    (d / "_SUCCESS").touch()
    assert helpers.committed(str(d)) == str(d)


def test_materialize_stores_rows_then_deletes_scratch(spark, tmp_path):
    """materialize returns df's rows, deletes every scratch dir, and the
    result still collects afterwards: its plan scans stored rows, not the
    deleted files."""
    d, extra = tmp_path / "src", tmp_path / "src_ckpt"
    spark.range(40).selectExpr("id", "id * 3 AS v").write.parquet(str(d))
    extra.mkdir()
    df = spark.read.parquet(str(d))
    expected = sorted(df.collect())
    assert "FileScan" in df._jdf.queryExecution().executedPlan().toString()

    out = helpers.materialize(df, str(d), str(extra))
    assert not d.exists() and not extra.exists()
    assert sorted(out.collect()) == expected
    qe = out._jdf.queryExecution()
    assert "FileScan" not in qe.optimizedPlan().toString()
    assert "FileScan" not in qe.executedPlan().toString()


def _sources(subdir: str = "hive_apache_ci_spark"):
    """(path relative to ``subdir``, source) for each module under it."""
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), subdir)
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                yield os.path.relpath(path, root), open(path).read()


def test_engine_barriers_go_through_materialize():
    """helpers.materialize is the one place the engine materializes a
    subtree: no other engine module calls a checkpoint itself."""
    callers = {
        rel
        for rel, src in _sources()
        if re.search(r"localCheckpoint\(|\.checkpoint\(", src)
    }
    assert callers == {"helpers.py"}, callers


def test_no_fixed_shared_tmp_write_paths_in_tree():
    """Every engine and script write lands under TMPDIR
    (``tempfile.gettempdir()``), and only where the path is (a) per-run
    (RUN_ID/uuid in the path), (b) content-addressed with atomic publish
    (the PQ index, the staged events copy) or (c) a corpus built by a fixed
    recipe and published by a marker written last (the scale canary). The
    one literal "/tmp" left is session.py's warehouse default (a build conf;
    bucketed table names carry RUN_ID)."""
    tmp_roots, literals = set(), []
    sources = list(_sources()) + [
        (os.path.join("scripts", rel), src) for rel, src in _sources("scripts")
    ]
    for rel, src in sources:
        if "gettempdir()" in src:
            tmp_roots.add(rel)
        for m in re.finditer(r"[\"']/tmp\b[^\"'\n]*[\"']", src):
            literals.append((rel, m.group(0)))
    allowed_roots = {
        # helpers.run_scratch — the per-run factory itself
        "helpers.py",
        # _staged_events_dir (content-addressed atomic copy)
        "streaming/jobs.py",
        # _pq_index_dir: content-addressed (recipe+mtime key), atomic publish
        "pipeline/similarity.py",
        # corpus_dir: sf0.1 replicated by a fixed recipe, published by a
        # .complete marker written last
        "scripts/scale_canary.py",
    }
    bad = sorted(tmp_roots - allowed_roots)
    assert not bad, f"TMPDIR write roots outside the audited allowlist: {bad}"
    assert literals == [
        ("session.py", '"/tmp/hive_apache_ci_spark_warehouse"')
    ], f"literal /tmp paths (use tempfile.gettempdir()): {literals}"


def test_index_gc_never_reaps_inflight_builds(tmp_path):
    """ADVICE r06 (high): two concurrent cold builders — A must not reap
    B's in-progress (_SUCCESS-less) version dir, and the GC must keep
    whatever LATEST names at GC time even if it is not in A's keep set."""
    import os
    import time

    from hive_apache_ci_spark.pipeline.similarity import (
        _PQ_GC_STALE_SECONDS,
        _gc_pq_versions,
    )

    root = str(tmp_path)

    def mkver(name, committed, mtime_ago=0.0):
        d = os.path.join(root, name)
        os.makedirs(d)
        if committed:
            open(os.path.join(d, "_SUCCESS"), "w").close()
        if mtime_ago:
            past = time.time() - mtime_ago
            os.utime(d, (past, past))
        return d

    mkver("v_new", committed=True)          # A's fresh build (in keep)
    mkver("v_prev", committed=True)         # grace generation (in keep)
    mkver("v_inflight", committed=False)    # B's build mid-write
    mkver("v_crashed", committed=False, mtime_ago=_PQ_GC_STALE_SECONDS + 60)
    mkver("v_old", committed=True)          # genuinely old committed
    mkver("v_pointed", committed=True)      # a racing builder's flip...
    with open(os.path.join(root, "LATEST"), "w") as fh:
        fh.write("v_pointed")               # ...LATEST names it, keep it

    _gc_pq_versions(root, {"v_new", "v_prev", None})

    left = {e for e in os.listdir(root) if e.startswith("v_")}
    assert left == {"v_new", "v_prev", "v_inflight", "v_pointed"}, left
