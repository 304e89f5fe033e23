"""Stream-vs-batch equivalence: the streaming topologies must produce the
same results as their batch counterparts over the same files (no oracle can
check a stream, so the batch engine is the oracle here)."""

from __future__ import annotations

from hive_apache_ci_spark.registry import all_queries

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    qs = all_queries()
    stream = qs["stream_tumbling_counts"](spark, SF_DIR)
    batch = qs["events_tumbling_hour"](spark, SF_DIR)
    assert _rows(stream) == _rows(batch)


def test_stream_session_equals_batch(spark):
    qs = all_queries()
    stream = qs["stream_session_counts"](spark, SF_DIR)
    batch = qs["events_session_window"](spark, SF_DIR).select(
        "user_id", "session_start", "n_events"
    )
    assert _rows(stream) == _rows(batch)


def test_stream_dedup_counts(spark):
    qs = all_queries()
    stream = qs["stream_dedup_watermark"](spark, SF_DIR)
    # events have unique event_ids already -> dedup is identity on counts
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
    )
    assert _rows(stream) == _rows(batch)


def test_stream_foreach_batch_totals(spark):
    qs = all_queries()
    stream = qs["stream_foreach_batch_sink"](spark, SF_DIR)
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
    )
    assert _rows(stream) == _rows(batch)


def test_stream_stateful_counter_equals_batch(spark):
    from pyspark.sql import functions as F

    qs = all_queries()
    stream = qs["stream_stateful_counter"](spark, SF_DIR)
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    srows = {(r.user_id, r.n_events) for r in stream.collect()}
    brows = {(r.user_id, r.n_events) for r in batch.collect()}
    assert srows == brows


def test_stream_stream_join_equals_batch(spark):
    """The watermarked stream-stream view⋈purchase join must produce the
    same per-user pair counts as the identical batch self-join."""
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T

    qs = all_queries()
    stream = qs["stream_stream_join"](spark, SF_DIR)

    e = T(spark, SF_DIR, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("b_ts"),
    )
    batch = (
        v.join(
            b,
            (F.col("v_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("v_ts"))
            & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("buy_id").alias("n_buys"),
        )
    )
    assert _rows(stream) == _rows(batch)


def test_stream_static_join_equals_batch(spark):
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T

    stream = all_queries()["stream_static_join"](spark, SF_DIR)
    e = T(spark, SF_DIR, "events")
    dim = T(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        e.join(dim, "user_id", "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") + F.lit(1e-6))
            .cast("long")
            .alias("sum_value_long"),
        )
    )
    assert _rows(stream) == _rows(batch)


def test_stream_sliding_equals_batch(spark):
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T, ravg

    qs = all_queries()
    stream = qs["stream_sliding_counts"](spark, SF_DIR)
    batch = (
        T(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), ravg(F.sum("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    assert _rows(stream) == _rows(batch)


# ---- restart/resume equivalence (checkpoint recovery) --------------------
#
# Row-level oracles can't see checkpoint-recovery bugs: a job that loses or
# double-counts state on restart still looks fine in a one-shot AvailableNow
# run. Here each registered stream job runs in TWO phases against ONE
# persistent checkpoint — phase 1 sees only the first (time-ordered) half of
# the events, then the second half is added and the job restarts — and the
# recovered result must equal the one-shot run over everything.


def _phase_source(spark, src_dir):
    import pyspark.sql.types as Ty

    schema = Ty.StructType(
        [
            Ty.StructField("event_id", Ty.LongType()),
            Ty.StructField("ts", Ty.TimestampType()),
            Ty.StructField("user_id", Ty.LongType()),
            Ty.StructField("event_type", Ty.StringType()),
            Ty.StructField("value", Ty.DoubleType()),
            Ty.StructField("props", Ty.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _write_halves(spark, base):
    """events split at the median ts (monotone arrival: the restart never
    introduces artificial late data the watermark would drop)."""
    import os

    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T

    e = T(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    mid = e.agg(
        F.percentile_approx(F.col("ts").cast("long"), 0.5).alias("m")
    ).first()["m"]
    h1 = e.filter(F.col("ts").cast("long") <= mid)
    h2 = e.filter(F.col("ts").cast("long") > mid)
    import time

    d_inc = os.path.join(base, "inc")
    d_all = os.path.join(base, "all")
    h1.coalesce(1).write.mode("append").parquet(d_inc)
    h1.coalesce(1).write.mode("append").parquet(d_all)
    # FileStreamSource orders batches by modification time and both halves
    # would land within the same instant — age h1's files 100 s so the
    # one-shot run can't (nondeterministically) see h2 first and treat all
    # of h1 as late data.
    past = time.time() - 100
    for d in (d_inc, d_all):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (past, past))
    h2.coalesce(1).write.mode("append").parquet(d_all)
    return d_inc, d_all, h2


def _run_phase(spark, out_df, mode, ckpt):
    import uuid

    from hive_apache_ci_spark.streaming.jobs import drain

    name = f"restart_{uuid.uuid4().hex[:10]}"
    drain(
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt),
        name,
    )
    return spark.table(name)


def _run_phase_to_parquet(out_df, mode, ckpt, sink):
    """Delta-emitting jobs (update/append) need a fault-tolerant sink for
    checkpoint recovery (the memory sink refuses it for stateful queries):
    append every emitted micro-batch to a parquet dir — the accumulated
    rows across phases are exactly the union a one-shot run would emit."""

    from hive_apache_ci_spark.streaming.jobs import drain

    def dump(batch_df, batch_id):
        batch_df.write.mode("append").parquet(sink)

    drain(
        out_df.writeStream.foreachBatch(dump)
        .outputMode(mode)
        .option("checkpointLocation", ckpt),
        sink,
    )


def test_stream_restart_resume_equivalence(spark, tmp_path):
    import os
    import shutil

    from hive_apache_ci_spark.streaming.jobs import _STREAM_JOBS

    d_h1, d_all, h2 = _write_halves(spark, str(tmp_path))
    for name, job in sorted(_STREAM_JOBS.items()):
        ckpt = os.path.join(str(tmp_path), f"ckpt_{name}")
        # per-job incremental dir (appending h2 to a shared dir would leak
        # an extra h2 copy into every later job's phase 1)
        d_inc = os.path.join(str(tmp_path), f"inc_{name}")
        shutil.copytree(d_h1, d_inc, copy_function=shutil.copy2)

        def src(d=d_inc):
            return _phase_source(spark, d)

        def src_all(d=d_all):
            return _phase_source(spark, d)

        ckpt_one = os.path.join(str(tmp_path), f"ckpt_one_{name}")
        if job["acc"] == "last":
            # complete-mode sink: the final table is the answer
            _run_phase(spark, job["build"](src, spark, SF_DIR), job["mode"], ckpt)
            h2.coalesce(1).write.mode("append").parquet(d_inc)
            recovered = _run_phase(
                spark, job["build"](src, spark, SF_DIR), job["mode"], ckpt
            )
            one = _run_phase(
                spark, job["build"](src_all, spark, SF_DIR), job["mode"], ckpt_one
            )
        else:
            # delta sinks (update/append) accumulate across phases; memory
            # sink refuses stateful recovery, so append to parquet
            sink = os.path.join(str(tmp_path), f"sink_{name}")
            sink_one = os.path.join(str(tmp_path), f"sink_one_{name}")
            _run_phase_to_parquet(
                job["build"](src, spark, SF_DIR), job["mode"], ckpt, sink
            )
            h2.coalesce(1).write.mode("append").parquet(d_inc)
            _run_phase_to_parquet(
                job["build"](src, spark, SF_DIR), job["mode"], ckpt, sink
            )
            recovered = spark.read.parquet(sink)
            _run_phase_to_parquet(
                job["build"](src_all, spark, SF_DIR),
                job["mode"],
                ckpt_one,
                sink_one,
            )
            one = spark.read.parquet(sink_one)
        if job["post"]:
            recovered = job["post"](recovered)
            one = job["post"](one)
        got = sorted(tuple(r) for r in recovered.collect())
        want = sorted(tuple(r) for r in one.collect())
        assert got == want and got, (name, got[:5], want[:5])


def test_foreach_batch_restart_resume(spark, tmp_path):
    import os

    from hive_apache_ci_spark.streaming.jobs import (
        foreach_batch_readback,
        run_foreach_batch_phase,
    )

    d_inc, d_all, h2 = _write_halves(spark, str(tmp_path))
    sink = os.path.join(str(tmp_path), "fb_sink")
    run_foreach_batch_phase(_phase_source(spark, d_inc), sink)
    h2.coalesce(1).write.mode("append").parquet(d_inc)
    run_foreach_batch_phase(_phase_source(spark, d_inc), sink)
    sink_one = os.path.join(str(tmp_path), "fb_sink_one")
    run_foreach_batch_phase(_phase_source(spark, d_all), sink_one)
    got = sorted(
        tuple(r) for r in foreach_batch_readback(spark, sink).collect()
    )
    want = sorted(
        tuple(r) for r in foreach_batch_readback(spark, sink_one).collect()
    )
    assert got == want and got, (got, want)


def test_stream_ab_readout_matches_batch(spark):
    """The streamed arm cells must reproduce the batch readout exactly —
    count/avg/var are order-insensitive, so stream == batch bit-for-bit
    at the rounded precision."""
    from hive_apache_ci_spark.registry import all_queries

    from .conftest import SF_DIR

    got = {
        r["event_type"]: r
        for r in all_queries()["stream_ab_readout"](spark, SF_DIR).collect()
    }
    want = {
        r["event_type"]: r
        for r in all_queries()["events_ab_readout"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k]["z_welch"] == want[k]["z_welch"]
        assert got[k]["n_control"] == want[k]["n_control"]
        assert got[k]["significant"] == want[k]["significant"]


def test_transform_with_state_env_gate(spark):
    """transformWithStateInPandas (Spark 4's modern stateful API) needs
    google.protobuf, which is broken in this sandbox (r8-r10 documented
    env block; SURVEY §7.8) — applyInPandasWithState covers the stateful
    capability meanwhile. This gate flips the moment the env is fixed:
    when protobuf imports, the test FAILS loudly as a reminder to add the
    transformWithStateInPandas twin for the stateful topology in
    streaming/jobs.py (r9 VERDICT item 8)."""
    import importlib.util

    import pytest

    try:
        have = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace at all
        have = False
    if not have:
        pytest.skip(
            "google.protobuf unavailable in sandbox — "
            "transformWithStateInPandas blocked (documented env limit); "
            "applyInPandasWithState covers stateful streaming"
        )
    raise AssertionError(
        "protobuf is now importable: add the transformWithStateInPandas "
        "twin in streaming/jobs.py and oracle it"
    )
