"""Scale-canary contract (scripts/scale_canary.py), without a Spark run.

The canary persists per-query best (minimum) scaled/base ratios per host
and lane to docs/CANARY_RATIOS.json and flags a query whose ratio exceeds
its same-host best by >1.25x. These tests pin that rule, the clobber-proof
merge, the host keying, the wall-clock ceiling and the corpus guard.
"""

from __future__ import annotations

import json
import threading
import time

import duckdb
import pytest

import scripts.scale_canary as canary

_OLD_HOST = "32 cores / 125 GB / CPU model not recorded"


def test_ratio_creep_rule():
    prev = {"a": 8.0, "b": 8.0, "gone": 5.0, "tiny": 0.9}
    cur = {"a": 9.9, "b": 10.1, "new": 29.0, "tiny": 1.4}
    creep = canary.find_ratio_creep(prev, cur)
    by_q = {c["q"]: c for c in creep}
    assert "a" not in by_q  # 9.9 <= 8.0 * 1.25 — inside the band
    assert by_q["b"]["now"] == 10.1  # > 1.25x best AND >= floor — flagged
    assert "new" not in by_q  # no baseline yet — recorded, not flagged
    # constant-overhead jitter below the absolute floor never flags even
    # at >1.5x its best
    assert "tiny" not in by_q


def test_best_ratio_merge_is_running_minimum():
    prev = {"a": 8.0, "b": 3.0}
    cur = {"a": 12.0, "b": 2.5, "c": 7.0}
    best = canary.merge_best_ratios(prev, cur)
    assert best == {"a": 8.0, "b": 2.5, "c": 7.0}


def test_load_prev_ratios_rejects_other_copy_factor(tmp_path):
    p = tmp_path / "CANARY_RATIOS.json"
    p.write_text(json.dumps({"best": {"h": {"100": {"a": 1.0}}}}))
    assert canary.load_prev_ratios(str(p), "h", 10) == {}
    p.write_text(json.dumps({"best": {"h": {"10": {"a": 1.0, "x": "bad"}}}}))
    assert canary.load_prev_ratios(str(p), "h", 10) == {"a": 1.0}  # non-numeric dropped


def test_ratio_sidecar_is_committed_and_covers_registry():
    """The sidecar is the trend baseline: committed, host-keyed, and the
    32-core x10 entry carries a best ratio from the full-registry sweeps."""
    with open(canary.RATIO_SIDECAR) as fh:
        side = json.load(fh)
    assert sorted(side) == ["best", "last"]
    best = side["best"][_OLD_HOST]["10"]
    assert len(best) >= 250
    for lane in side["best"].values():
        for ratios in lane.values():
            assert all(isinstance(v, (int, float)) and v > 0 for v in ratios.values())
    assert set(side["best"][_OLD_HOST]["100"]) >= set(canary.LANES[100].queries)


def test_sf10_canary_names_are_registered():
    """Every query a lane measures exists in the registry, and none is
    parity_only (perf-surface exclusion rule)."""
    from hive_apache_ci_spark.registry import all_queries, parity_only_queries

    qs = all_queries()
    for lane in canary.LANES.values():
        for name in lane.queries:
            assert name in qs, name
        assert not (set(lane.queries) & parity_only_queries())
    # the x100 lane is one decade over the x10 lane's corpus
    assert canary.LANES[100].base == 10 and canary.LANES[10].base == 1


def _row(ratio):
    return {"base": 1.0, "scaled": ratio, "ratio": ratio, "verdict": "linear-ish"}


def test_first_run_on_new_host_seeds_and_flags_nothing(tmp_path):
    p = str(tmp_path / "CANARY_RATIOS.json")
    creep = canary.record(p, "new host", 10, {"a": _row(29.0), "b": {"base": None}})
    assert creep == []
    side = json.loads(open(p).read())
    assert side["best"] == {"new host": {"10": {"a": 29.0}}}
    assert side["last"]["10"]["b"] == {"base": None}
    # the second run on that host is judged against the seeded entry
    creep = canary.record(p, "new host", 10, {"a": _row(40.0)})
    assert [c["q"] for c in creep] == ["a"]
    assert json.loads(open(p).read())["best"]["new host"]["10"] == {"a": 29.0}


def test_other_hosts_ratios_are_never_compared(tmp_path):
    p = tmp_path / "CANARY_RATIOS.json"
    other = {"other": {"10": {"a": 1.0}, "100": {"a": 1.0}}}
    p.write_text(json.dumps({"best": other, "last": {"100": {"z": _row(2.0)}}}))
    before = json.dumps(other["other"], indent=1, sort_keys=True)
    creep = canary.record(str(p), "me", 10, {"a": _row(20.0)})
    assert creep == []  # 20x over the other host's best: not this host's
    side = json.loads(p.read_text())
    assert json.dumps(side["best"]["other"], indent=1, sort_keys=True) == before
    assert side["best"]["me"] == {"10": {"a": 20.0}}
    assert side["last"]["100"] == {"z": _row(2.0)}  # other lane untouched


class _FakeContext:
    def __init__(self):
        self.cancelled = threading.Event()
        self.groups = []

    def setJobGroup(self, group, desc, interrupt):
        self.groups.append(group)

    def cancelJobGroup(self, group):
        self.groups.append(("cancel", group))
        self.cancelled.set()


class _SleepingQuery:
    """count() blocks until the job group is cancelled, then fails like a
    cancelled Spark job."""

    def __init__(self, sc):
        self.sc = sc

    def count(self):
        if not self.sc.cancelled.wait(30):
            return 0
        raise RuntimeError("job group cancelled")


def test_count_with_ceiling_cancels_job_group_and_raises_timeout():
    sc = _FakeContext()
    spark = type("FakeSpark", (), {"sparkContext": sc})()
    t0 = time.perf_counter()
    with pytest.raises(canary.Timeout):
        canary._count_with_ceiling(
            spark, lambda s, d: _SleepingQuery(sc), "sf", 0.2, "q@scaled#0"
        )
    assert time.perf_counter() - t0 < 10
    assert sc.groups == ["q@scaled#0", ("cancel", "q@scaled#0")]


@pytest.mark.parametrize(
    "text", ["an ax here", "tok3n", "café au lait"], ids=["x", "digit", "non_ascii"]
)
def test_bijection_guard_rejects_unsafe_charset(text):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.execute("INSERT INTO documents VALUES ('plain words only'), (?)", [text])
    with pytest.raises(AssertionError, match="1 document"):
        canary._assert_bijection_marker_safe(con)
    con.execute("DELETE FROM documents WHERE text = ?", [text])
    canary._assert_bijection_marker_safe(con)  # the clean corpus passes
