"""Shared helpers for query modules."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table

# One scratch namespace per engine PROCESS: two concurrent runs at the same
# SF write disjoint dirs and can never clobber each other mid-read (the
# round-5 streaming hardening, applied uniformly in round 6 — r5 VERDICT #2).
# Within a process, repeated runs of one query reuse its dir via
# mode('overwrite'), so a long verify/bench session doesn't accrete copies.
RUN_ID = "run-" + uuid.uuid4().hex[:12]

_STALE_SECONDS = 6 * 3600


def _gc_stale_runs(base: str) -> None:
    """Best-effort cleanup of OTHER processes' abandoned run dirs (ours is
    excluded by name; a live concurrent run is excluded by mtime — every
    overwrite refreshes its run dir). Errors are ignored: GC must never be
    the reason a query fails."""
    import time

    try:
        entries = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for e in entries:
        if not e.startswith("run-") or e == RUN_ID:
            continue
        p = os.path.join(base, e)
        try:
            if now - os.path.getmtime(p) > _STALE_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def run_scratch(kind: str, sf_dir: str, name: str) -> str:
    """Scratch path for a write-then-read-back query:
    ``$TMP/hive_apache_ci_spark_{kind}/{sf_tag}/{RUN_ID}/{name}``."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), f"hive_apache_ci_spark_{kind}", tag)
    _gc_stale_runs(base)
    return os.path.join(base, RUN_ID, name)


def committed(path: str) -> str:
    """_SUCCESS-gated readback: Spark's output committer writes the marker
    only after every task commits, so reading back without it would scan a
    torn write. Raises instead of returning partial data."""
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        raise OSError(f"write to {path} left no _SUCCESS commit marker")
    return path


def materialize(df: DataFrame, *scratch: str) -> DataFrame:
    """The engine's one materialization barrier: store ``df``'s rows now,
    cutting its lineage, then delete each ``scratch`` directory, which the
    stored result no longer reads. Every barrier in the engine goes through
    here, so the policy below is a one-function change.

    The cut is ``localCheckpoint()``, which is eager and local:

    - Eager: merely *constructing* a query DataFrame that has a barrier
      (e.g. for plan snapshotting or ``explain``) runs the barrier's
      sub-jobs and pins their rows in executor storage until the returned
      DataFrame is garbage-collected. Nothing is cached across runs: every
      invocation recomputes the barrier from its sources. Callers that only
      want a plan should expect construction-time Spark jobs.
    - Local: the rows live in executor block storage and do not survive
      executor loss. On a cluster, a reliable ``checkpoint()`` to a
      configured checkpoint directory is the fault-tolerant choice.

    Scratch is deleted only after the rows are stored, so a caller may pass
    the directory the barrier's input was read from."""
    out = df.localCheckpoint()
    for path in scratch:
        shutil.rmtree(path, ignore_errors=True)
    return out


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table (schema-on-read from parquet)."""
    return load_table(spark, sf_dir, name)


def md5_int(col, hex_chars: int = 15) -> Column:
    """The engine's one md5-to-integer hash: the first ``hex_chars`` hex
    digits of ``md5(col)`` as a BIGINT. 15 digits (60 bits) stay positive
    in a signed 64-bit long; 8 digits give a 32-bit hash. Oracle mirror:
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("bigint")


def r2(c: Column) -> Column:
    """Round to 2 decimals — for SUMs of doubles, where cross-engine
    accumulation-order differences live in the ~1e-7 relative tail."""
    return F.round(c, 2)


def r4(c: Column) -> Column:
    """Round to 4 decimals — for AVG/variance-family outputs."""
    return F.round(c, 4)


def ravg(c: Column, nd: int = 4) -> Column:
    """Epsilon-shifted rounding for averages/ratios of decimal-quantized
    data: their true values can land EXACTLY on a rounding boundary (e.g.
    avg of 8 four-decimal values = x.xxxx5), where cross-engine accumulation
    noise (~1e-12) flips the round differently per engine. Shifting by
    1e-9 ≫ noise moves boundary-exact values consistently off the boundary
    on both sides; the oracle mirrors with ``round(x + 1e-9, nd)``."""
    return F.round(c + F.lit(1e-9), nd)


def money_sum(c: Column, scale: int = 4) -> Column:
    """Exact money SUM for sf1+-magnitude totals: DECIMAL-accumulated,
    rounded to cents IN DECIMAL, cast back to double.

    Why (r8 full-sf1 sweep findings): (a) once a double accumulator runs
    at >=1e10, one ulp exceeds 1e-5 and summation-order noise across
    engines exceeds a cent — no 2dp round of a double sum is stable;
    (b) revenue terms like price*(1-discount) are EXACT 4dp decimals, so
    group totals land exactly ON x.xx5 half-cent boundaries, where each
    engine's noisy double sum rounds in a random direction. DECIMAL
    accumulation is exact at any scale (and matches Hive's own
    HiveDecimal summation semantics); rounding while still DECIMAL keeps
    the half-cent decision exact, and the final 2dp value casts to an
    identical double on both engines. Oracle mirror:
    ``CAST(round(sum(CAST(expr AS DECIMAL(18,s))), 2) AS DOUBLE)``.

    ``scale``: 2 for exact-cents columns (o_totalprice, l_extendedprice),
    4 for price*(1-disc) products, 6 for price*(1-disc)*(1+tax)."""
    return F.round(F.sum(c.cast(f"decimal(18,{scale})")), 2).cast("double")


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on `cols` with an EXPLICIT partition count
    (spark.sql.shuffle.partitions). The explicit count matters: a
    column-only ``repartition(col)`` is fair game for AQE partition
    coalescing, and on a small-bytes-but-CPU-heavy relation (shingle
    explode → md5, hyperplane folds) AQE happily coalesces back to one
    partition and serializes the expensive map work. Pinning the count
    keeps the fan-out; downstream groupBys on the same key reuse the
    exchange, so no extra shuffle is introduced."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in cols])


_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_byte_string(s) -> int | None:
    """Spark size-conf parser (the JavaUtils.byteStringAsBytes grammar:
    optional k/m/g/t/p unit with optional trailing 'b', case-insensitive,
    bare digits = bytes). Returns None on unparseable input so callers can
    degrade LOUDLY — a bare int() here silently disabled the fuzzy-join
    broadcast gate whenever the session conf used a Spark-normal suffixed
    form like '64m'."""
    if s is None:
        return None
    s = str(s).strip().lower()
    mult = 1
    for suf in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf):
            mult = _BYTE_SUFFIXES[suf]
            s = s[: -len(suf)].strip()
            break
    try:
        return int(s) * mult
    except ValueError:
        return None


def source_is_broadcastable(
    spark: SparkSession, sf_dir: str, name: str
) -> bool:
    """Size-gate for explicit broadcast hints on relations that GROW with
    the corpus (never needed for true dimension tables): True iff the
    source parquet's on-disk bytes stay under a quarter of the session
    autoBroadcastJoinThreshold (parquet→in-memory expansion is ~2-4×, so
    /4 is conservative). Hinting through this gate keeps a hand-tuned
    probe-side partitioning intact at canary scale while degrading to the
    shuffle join before a growing build side can blow the driver."""
    import os

    thresh = parse_byte_string(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    if thresh is None:
        import warnings

        warnings.warn(
            "autoBroadcastJoinThreshold unparseable; broadcast gate "
            "degrades to shuffle join",
            stacklevel=2,
        )
        return False
    if thresh <= 0:
        return False
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    else:
        try:
            size = os.path.getsize(path)
        except OSError:
            return False
    return size < thresh // 4


def ts_lit(s: str) -> Column:
    """Timestamp literal (testdata 'date' columns are parquet timestamps)."""
    return F.lit(s).cast("timestamp")


def salted_join(
    skewed,
    other,
    skewed_key: str,
    other_key: str,
    n_salt: int = 16,
    how: str = "inner",
):
    """Skew-mitigated equi-join (Hive SkewJoinOptimizer / SKEWED BY role,
    SURVEY.md §2.3): the skewed (fact) side gets a random salt in
    [0, n_salt); the other side is replicated n_salt times; the join key
    becomes (key, salt), splitting each hot key across n_salt reducers.

    AQE's skew-join split handles most cases automatically; explicit
    salting remains the tool when a single key exceeds what one executor
    can hold even after AQE splits (the 100 TB hot-key escape hatch).
    Row-level results are identical to the plain join for inner/left only:
    the replicated `other` side would emit each unmatched row n_salt times
    under right/full outer, so those modes are rejected.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join preserves semantics only for inner/left joins, got {how!r}"
        )
    salted = skewed.withColumn("_salt", (F.rand(seed=42) * n_salt).cast("int"))
    replicated = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = salted.join(
        replicated,
        (salted[skewed_key] == replicated[other_key])
        & (salted["_salt"] == replicated["_salt"]),
        how,
    )
    return out.drop("_salt")
