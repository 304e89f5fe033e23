"""bench.py grade-line contract tests.

The LAST stdout line is a compact JSON grade under 2 KB (a fixed-size tail
capture must never truncate it); everything bulky (spread, regression
detail, the host-keyed bests) lives in the docs/BENCH_LAST.json sidecar.
A run is judged only against its own host's bests. These tests pin that
contract without paying for a real bench run.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_timings(n: int) -> dict[str, float]:
    # worst realistic case: more queries than we actually bench, long names
    return {f"some_quite_long_query_name_number_{i:02d}": 123.4567 for i in range(n)}


def test_compact_line_parses_and_fits_tail_window():
    timings = _fake_timings(30)
    regs = [{"q": k, "prev": 1.0, "now": 2.0} for k in list(timings)[:5]]
    line = bench.compact_line(370.37, timings, 0.1, False, regs)
    assert len(line) < 2048, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == 370.37
    assert parsed["unit"] == "sec"
    assert set(parsed["regressions"]) == set(list(timings)[:5])
    # spread must NOT be in the grade line — that's what overflowed r5
    assert "spread" not in parsed


def test_compact_line_degrades_to_core_queries_rather_than_overflow():
    # pathological: hundreds of queries would overflow — the line must slim
    # itself to the three baseline-comparable queries, never exceed the cap
    timings = _fake_timings(200)
    for name in bench.BASELINE_COMPARABLE:
        timings[name] = 0.5
    line = bench.compact_line(1.5, timings, 0.1, True, [])
    assert len(line) < 2048, len(line)
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(bench.BASELINE_COMPARABLE)


def test_find_regressions_rule():
    prev = {"a": 1.0, "b": 1.0, "c": 1.0, "gone": 9.9}
    cur = {"a": 1.14, "b": 1.16, "c": None, "new": 5.0}
    regs = bench.find_regressions(prev, cur)
    by_q = {r["q"]: r for r in regs}
    assert "a" not in by_q  # inside the 15% band
    assert by_q["b"]["now"] == 1.16  # >15% slower
    assert by_q["c"]["now"] == "failed"  # crash = worst regression
    assert "new" not in by_q  # no previous best to compare against


def test_bench_names_are_registered():
    from hive_apache_ci_spark.registry import all_queries

    names = set(all_queries())
    for q in (*bench.BASELINE_COMPARABLE, *bench.EXTRA_HEADLINERS):
        assert q in names, q


def test_sidecar_is_committed_and_loadable():
    # the sidecar doubles as the next run's regression baseline — it must
    # exist in the repo and carry per-host, per-query bests
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "BENCH_LAST.json",
    )
    with open(path) as fh:
        prev = json.load(fh)
    assert prev["queries"], "sidecar lost its per-query timings"
    assert all(v is None or v > 0 for v in prev["queries"].values())
    # bests are keyed by host; the run on record names its own host
    assert prev["host"] in prev["best"]
    for best in prev["best"].values():
        assert best and all(v > 0 for v in best.values())


def test_regression_baseline_is_running_minimum(tmp_path, monkeypatch):
    """A slow run must not clobber the committed bests (a persistent
    regression would be reported once and then silently pass), and a
    crashed query must not erase its best."""
    side = tmp_path / "BENCH_LAST.json"
    monkeypatch.setattr(bench, "_SIDECAR", str(side))
    side.write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 9.9}, "best": {"h": {"a": 1.0, "b": 2.0}}})
    )
    bests = bench._load_bests(0.1)
    assert bests == {"h": {"a": 1.0, "b": 2.0}}  # `best`, not `queries`
    # a sidecar whose `sf` disagrees with its file name is never compared
    (tmp_path / "BENCH_LAST_sf0.01.json").write_text(side.read_text())
    assert bench._load_bests(0.01) == {}
    _, _, merged = bench.judge(bests, "h", {"a": 3.0, "b": None, "c": 0.5})
    assert merged == {"h": {"a": 1.0, "b": 2.0, "c": 0.5}}


def test_compact_line_carries_converged_story_and_still_fits():
    """The grade line carries noisy/best_total so the graded artifact
    references converged numbers even on a loaded box — and adding them
    must not break the 2 KB tail contract."""
    timings = _fake_timings(30)
    line = bench.compact_line(370.37, timings, 0.1, False, [], True, 1.519)
    assert len(line) < 2048, len(line)
    parsed = json.loads(line)
    assert parsed["noisy"] is True
    assert parsed["best_total"] == 1.519
    # default: a clean run is explicitly not-noisy (absence is ambiguous)
    parsed = json.loads(bench.compact_line(1.5, timings, 0.1, False, []))
    assert parsed["noisy"] is False and parsed["best_total"] is None


def test_trio_total_requires_all_three():
    t = {n: 0.5 for n in bench.BASELINE_COMPARABLE}
    assert bench._trio_total(t) == 1.5
    t[bench.BASELINE_COMPARABLE[0]] = None
    assert bench._trio_total(t) is None  # a crashed trio query -> no total


def test_measure_merges_running_minima():
    """_measure merges via minima — measuring a name again can only
    improve its number, never clobber a faster first pass."""

    class _FakeDF:
        def __init__(self, delay):
            self.delay = delay

        def collect(self):
            pass

    calls = {"n": 0}

    def fake_query(spark, sf_dir):
        calls["n"] += 1
        return _FakeDF(0)

    timings = {"q": 0.0}  # pre-existing unbeatable result
    spread = {"q": {"best": 0.0, "median": 0.0, "worst": 0.0}}
    bench._measure(None, "x", {"q": fake_query}, ("q",), timings, spread)
    assert timings["q"] == 0.0  # second pass (slower) did not clobber
    assert spread["q"]["best"] == 0.0
    assert calls["n"] >= 2  # cold + warm reps actually ran


def test_parity_only_excluded_from_perf_surfaces():
    """The registry's parity_only flag: the two deliberate
    global-window parity shapes stay in the CORRECTNESS surface but must
    never appear in a performance list — bench headliners or the canary's
    heavy sets — and each must have its scaled twin registered."""
    import bench
    from hive_apache_ci_spark.registry import all_queries, parity_only_queries
    from scripts.scale_canary import LANES

    parity = parity_only_queries()
    assert parity == {"window_ntile", "window_rfm_segmentation"}
    perf = set(bench.BASELINE_COMPARABLE) | set(bench.EXTRA_HEADLINERS)
    for lane in LANES.values():
        perf |= set(lane.queries)
    assert not (parity & perf), parity & perf
    qs = all_queries()
    for twin in ("window_ntile_scaled", "window_rfm_scaled"):
        assert twin in qs and twin not in parity


# --- host keying ----------------------------------------------------------

_GRADE_KEYS = {
    "metric", "value", "unit", "queries", "sf", "contended",
    "regressions", "noisy", "box_drift", "best_total",
}


class _Clock:
    """Stands in for the `time` module: the fake queries advance it."""

    now = 0.0

    def perf_counter(self):
        return self.now


def _run_bench(monkeypatch, capsys, side, host, cost):
    """One bench.main() on a fake session, writing sidecar `side`: every
    query's collect() takes cost(name) seconds on a fake clock. Returns the
    parsed grade line, its raw text and the sidecar."""
    import hive_apache_ci_spark.registry as registry
    import hive_apache_ci_spark.session as session

    clock = _Clock()

    class _DF:
        def __init__(self, name):
            self.name = name

        def collect(self):
            clock.now += cost(self.name)

    class _Queries(dict):
        def __missing__(self, name):
            return lambda spark, sf_dir: _DF(name)

    class _Spark:
        class sparkContext:  # noqa: N801 — mirrors SparkSession's attribute
            @staticmethod
            def setLogLevel(level):
                pass

    monkeypatch.setattr(registry, "all_queries", _Queries)
    monkeypatch.setattr(session, "get_spark", lambda name: _Spark())
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setattr(bench, "host_key", lambda: host)
    monkeypatch.setattr(bench, "foreign_jvms", lambda: 0)
    monkeypatch.setattr(bench, "_SIDECAR", str(side))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    assert bench.main() == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(line), line, json.loads(side.read_text())


def test_first_run_on_new_host_seeds_bests_and_flags_nothing(
    tmp_path, monkeypatch, capsys
):
    side = tmp_path / "BENCH_LAST.json"
    # a much faster machine's bests are on file
    fast = {n: 0.001 for n in (*bench.BASELINE_COMPARABLE, *bench.EXTRA_HEADLINERS)}
    side.write_text(json.dumps({"sf": 0.1, "best": {"big box": fast}}))
    grade, _, sidecar = _run_bench(monkeypatch, capsys, side, "this box", lambda n: 1.0)
    assert grade["regressions"] == [] and grade["noisy"] is False
    assert grade["best_total"] == 3.0
    assert sidecar["host"] == "this box"
    assert sidecar["best"]["this box"] == sidecar["queries"]
    assert sidecar["best"]["big box"] == fast  # kept, never matched


def test_same_host_query_over_band_is_listed(tmp_path, monkeypatch, capsys):
    side = tmp_path / "BENCH_LAST.json"
    _run_bench(monkeypatch, capsys, side, "h", lambda n: 1.0)
    slower = {"kmeans_lloyd": 1.2, "tpcds_q5_channel_rollup": 1.1}
    grade, _, sidecar = _run_bench(
        monkeypatch, capsys, side, "h", lambda n: slower.get(n, 1.0)
    )
    assert grade["regressions"] == ["kmeans_lloyd"]  # 1.1x is inside the band
    assert sidecar["best"]["h"]["kmeans_lloyd"] == 1.0  # running minimum
    # the trio over band against this host's best_total reads as noisy
    grade, _, _ = _run_bench(monkeypatch, capsys, side, "h", lambda n: 1.2)
    assert grade["noisy"] is True and grade["best_total"] == 3.0


def test_other_hosts_bests_are_never_compared():
    bests = {"other": {"q": 0.1}, "h": {"q": 1.0}}
    regs, noisy, merged = bench.judge(bests, "h", {"q": 1.1, "r": 0.5})
    assert regs == [] and noisy is False  # 11x over "other", 1.1x over "h"
    assert merged["other"] == {"q": 0.1}  # untouched by a run elsewhere
    assert merged["h"] == {"q": 1.0, "r": 0.5}
    regs, _, merged = bench.judge(bests, "new", {"q": 5.0})
    assert regs == [] and merged["new"] == {"q": 5.0}


def test_grade_line_keeps_ten_keys_under_2kb(tmp_path, monkeypatch, capsys):
    grade, line, _ = _run_bench(
        monkeypatch, capsys, tmp_path / "BENCH_LAST.json", "h", lambda n: 1.0
    )
    assert set(grade) == _GRADE_KEYS
    assert len(line) < 2048, len(line)
    assert grade["box_drift"] is None  # bests never cross machines
    assert grade["contended"] is False
