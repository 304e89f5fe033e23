"""Defense against testdata physical-encoding drift (the round-2 incident).

The driver regenerated events.parquet between rounds 1 and 2, silently
switching ``ts`` from parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS) — which
crashed 14 queries and the bench. This test writes a tiny parquet in each
encoding the generator has ever used (plus tz-aware micros for good measure)
and asserts ``catalog.load_table`` normalizes all of them to a session-TZ
timestamp with the SAME instants. If the generator drifts to a third
encoding, THIS fails first — not 24 scattered operator tests.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hive_apache_ci_spark.catalog import load_table

UTC = dt.timezone.utc
# Second-granular instants (both encodings represent them exactly).
INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=UTC),
    dt.datetime(2024, 1, 1, 0, 30, 0, tzinfo=UTC),
    dt.datetime(2024, 1, 2, 12, 0, 1, tzinfo=UTC),
    dt.datetime(2024, 2, 29, 23, 59, 59, tzinfo=UTC),
    dt.datetime(2024, 6, 1, 6, 6, 6, tzinfo=UTC),
]
EPOCHS = [int(t.timestamp()) for t in INSTANTS]


def _write_events(tmpdir: str, tag: str, ts_array: pa.Array) -> str:
    sf_dir = os.path.join(tmpdir, tag)
    os.makedirs(sf_dir, exist_ok=True)
    n = len(INSTANTS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


def _naive():
    return [t.replace(tzinfo=None) for t in INSTANTS]


ENCODINGS = {
    "micros_ntz": pa.array(_naive(), pa.timestamp("us")),  # current testdata
    "nanos": pa.array(_naive(), pa.timestamp("ns")),  # round-1 testdata
    "micros_utc": pa.array(INSTANTS, pa.timestamp("us", tz="UTC")),
}


@pytest.mark.parametrize("tag", sorted(ENCODINGS))
def test_load_table_normalizes_ts(spark, tmp_path, tag):
    sf_dir = _write_events(str(tmp_path), tag, ENCODINGS[tag])
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (tag, dict(df.dtypes))
    # cast("long") must resolve (the idiom used across temporal operators)
    # and yield the true epoch seconds — catches both the round-2 crash and
    # the streaming 1000x-shift class of bug.
    got = sorted(
        r[0] for r in df.selectExpr("cast(ts as long)").collect()
    )
    assert got == sorted(EPOCHS), (tag, got)


def test_real_testdata_ts_is_timestamp(spark):
    """Whatever encoding /root/testdata currently has, the loaded dtype is a
    timestamp and epoch seconds are in a sane modern range (not 1970)."""
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    lo, hi = df.selectExpr(
        "min(cast(ts as long))", "max(cast(ts as long))"
    ).first()
    assert 1_000_000_000 < lo <= hi < 4_102_444_800, (lo, hi)  # 2001..2100


def test_streaming_source_matches_batch_instants(spark, tmp_path):
    """The stream source's ts normalization must agree with the catalog's
    for BOTH encodings (the round-2 silent 1000x shift)."""
    from hive_apache_ci_spark.streaming.jobs import (
        _events_schema,
        _staged_ts_unit,
    )
    import pyspark.sql.functions as F
    import pyspark.sql.types as Ty

    for tag in ("micros_ntz", "nanos", "micros_utc"):
        sf_dir = _write_events(str(tmp_path), f"s_{tag}", ENCODINGS[tag])
        path = os.path.join(sf_dir, "events.parquet")
        unit, tz = _staged_ts_unit(path)
        # batch-read the same file through the schema+conversion the stream
        # source uses (readStream itself is exercised in test_streaming.py)
        if unit == "ns":
            raw = spark.read.schema(_events_schema(Ty.LongType())).parquet(path)
            conv = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif tz is not None:
            conv = spark.read.schema(_events_schema(Ty.TimestampType())).parquet(
                path
            )
        else:
            raw = spark.read.schema(_events_schema(Ty.TimestampNTZType())).parquet(
                path
            )
            conv = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        got = sorted(r[0] for r in conv.selectExpr("cast(ts as long)").collect())
        assert got == sorted(EPOCHS), (tag, unit, tz, got)


def test_stream_staging_detects_regenerated_source(tmp_path):
    """_staged_events_dir must re-copy when the source file changes (the
    driver regenerates testdata between rounds — a stale staged copy would
    make stream jobs silently diverge from batch)."""
    import os

    from hive_apache_ci_spark.streaming.jobs import _staged_events_dir

    sf_dir = _write_events(str(tmp_path), "stage_v1", ENCODINGS["micros_ntz"])
    staged = _staged_events_dir(sf_dir)
    marker = os.path.join(staged, "events.parquet")
    size_v1 = os.path.getsize(marker)

    # regenerate the source with different content (fewer rows)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 2)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))

    staged2 = _staged_events_dir(sf_dir)
    assert staged2 == staged
    assert pq.read_metadata(marker).num_rows == 2, (
        "stale staged copy survived a source regeneration"
    )
    # idempotent when nothing changed
    _staged_events_dir(sf_dir)
    assert pq.read_metadata(marker).num_rows == 2


def test_queries_survive_empty_tables(spark, tmp_path):
    """Edge hardening: a user pointing the engine at an empty partition of
    events/documents/embeddings must get empty results, not crashes —
    exercises div-by-zero guards, first()-on-empty, and empty-grid paths
    across one representative query per family."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_apache_ci_spark.registry import all_queries

    sf_dir = str(tmp_path / "empty_sf")
    os.makedirs(sf_dir, exist_ok=True)
    # empty versions of the three tables these families read
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
                "lang": pa.array([], pa.string()),
                "source": pa.array([], pa.string()),
                "n_chars": pa.array([], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    qs = all_queries()
    for name in (
        "events_tumbling_hour",
        "events_gapfill_interpolate",
        "events_anomaly_zscore",
        "dedup_exact",
        "quality_lm_perplexity",
        "vocab_coverage_topk",
        "split_train_valid_test",
        "pagerank_similarity_graph",
        "dedup_connected_components",
        "knn_topk_cosine",
    ):
        assert qs[name](spark, sf_dir).count() == 0, name


def test_sibling_session_gets_runtime_confs(spark):
    """spark.newSession() shares the applicationId but has its own SQLConf —
    the apply_runtime_confs cache must not skip it (the probe-conf
    re-check)."""
    from hive_apache_ci_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)  # primes the applicationId cache
    sib = spark.newSession()
    sib.conf.set("spark.sql.session.timeZone", "America/New_York")
    apply_runtime_confs(sib)
    assert sib.conf.get("spark.sql.session.timeZone") == "UTC"
    assert sib.conf.get("spark.sql.ansi.enabled") == "false"


def test_get_spark_extra_conf_wins_on_first_call(spark, monkeypatch, tmp_path):
    """On an application's first get_spark, extra_conf must win over
    RUNTIME_CONFS for the returned session, and a later table load (which
    re-applies the runtime confs) must keep it."""
    from hive_apache_ci_spark import session

    extra = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.join.preferSortMergeJoin": "true",
    }
    monkeypatch.setattr(session, "_CONFS_APPLIED", set())  # first-call path
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "t.parquet"))
    try:
        s = session.get_spark("pytest", extra_conf=extra)
        for key, value in extra.items():
            assert s.conf.get(key) == value, key
        assert load_table(s, str(tmp_path), "t").count() == 1
        for key, value in extra.items():
            assert s.conf.get(key) == value, key
    finally:
        for key in extra:
            spark.conf.set(key, session.RUNTIME_CONFS[key])


def test_engine_reads_no_env_var_but_cpus():
    """Session behaviour is set by code and ``extra_conf``, not by the
    environment: the one variable the engine package reads is
    SPARK_GRAFT_CPUS (the local master's core count)."""
    import re

    import hive_apache_ci_spark

    root = os.path.dirname(hive_apache_ci_spark.__file__)
    read = re.compile(r"(?:environ\.get|getenv)\(\s*[\"'](\w+)|environ\[\s*[\"'](\w+)")
    names, uses = set(), 0
    for dirpath, _, files in os.walk(root):
        for fn in (f for f in files if f.endswith(".py")):
            src = open(os.path.join(dirpath, fn)).read()
            uses += len(re.findall(r"\benviron\b|\bgetenv\b", src))
            names |= {a or b for a, b in read.findall(src)}
    assert names == {"SPARK_GRAFT_CPUS"}, names
    assert uses == 1, "environment read by a name the guard cannot see"
