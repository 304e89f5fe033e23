"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The smoke tests start Spark and take about a minute per workload."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    value, pct = stats.tail(samples)
    assert (value, pct) == (90.0, 90.0)
    assert sum(s > value for s in samples) == stats.TAIL_BEYOND

    value, pct = stats.tail(list(reversed([float(i) for i in range(1, 31)])))
    assert value == 20.0 and pct == pytest.approx(200 / 3)


def test_tail_never_falls_below_the_median():
    samples = [float(i) for i in range(1, 13)]
    value, pct = stats.tail(samples)
    assert value >= statistics.median(samples)
    assert (value, pct) == (7.0, pytest.approx(700 / 12))
    assert stats.tail([3.0]) == (3.0, 100.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_failed_frac_and_throughput():
    assert stats.failed_frac(0, 48) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    assert stats.throughput_ops_min(36, 24.0) == 90.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.throughput_ops_min(1, 0.0)


def test_end_to_end_counts_failures_against_attempts():
    res = {
        "setup_s": 9.0, "first_run": {"a": 2.0, "b": 3.0}, "timed_s": 3.0,
        "warm": [{"latency_s": 1.0, "ok": True}, {"latency_s": 2.0, "ok": True},
                 {"latency_s": 0.0, "ok": False}],
        "failures": [{"query": "b", "status": "VALUE_MISMATCH"}],
        "peak_rss_kb": 2048,
    }
    e2e = run.end_to_end(res)
    assert e2e["attempted"] == 5 and e2e["failed"] == 1
    assert e2e["failed_frac"] == 0.2
    assert e2e["first_run_s"] == 5.0
    assert e2e["throughput_ops_min"] == 40.0
    assert e2e["latency_p50_s"] == 1.5
    assert e2e["peak_rss_mb"] == 2.0


def test_datagen_is_deterministic_and_complete():
    from hive_apache_ci_spark.catalog import TABLES

    a = datagen.build_tables(0.001, 7)
    b = datagen.build_tables(0.001, 7)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows == 6000


def test_catalog_wrappers_reach_modules_that_bind_at_import():
    code = (
        "import tracer\n"
        "from hive_apache_ci_spark import catalog\n"
        "t = tracer.Tracer('.', '.')\n"
        "t.wrap_catalog(catalog)\n"
        "from hive_apache_ci_spark import helpers\n"
        "from hive_apache_ci_spark.operators import hiveql_text, tpcds_shapes\n"
        "assert helpers.load_table is catalog.load_table\n"
        "assert tpcds_shapes.load_tables is catalog.load_tables\n"
        "assert hiveql_text.run_sql is catalog.run_sql\n"
        "assert catalog.load_table.__wrapped__.__module__ == catalog.__name__\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]))
    subprocess.run([sys.executable, "-c", code], env=env, check=True, cwd=ROOT)


@pytest.mark.parametrize("workload", ["olap_mix", "pipeline_write"])
def test_one_pass_smoke_prints_every_end_to_end_metric(workload, monkeypatch, capsys):
    workloads, bench = run.load_spec()
    workloads["workloads"][workload]["sf"] = 0.001
    monkeypatch.setattr(run, "load_spec", lambda: (workloads, bench))
    code = run.main(["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", "0"])
    assert code == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 2 * len(workloads["workloads"][workload]["queries"])
    expected = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in result["metrics"].values())
