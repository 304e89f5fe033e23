"""Embedding similarity search over ``embeddings`` (SURVEY.md §2.11).

Cosine arithmetic is written so both engines compute *bitwise-identical*
doubles: each float is cast to double before multiplying, and products are
summed sequentially in array order (Spark ``F.aggregate`` left-fold ==
DuckDB ``list_sum(list_transform(list_zip(...)))`` — verified bitwise-equal
against a Python fold). That makes brute-force top-k rank-stable across
engines with no tolerance games.

Scale notes: brute-force is the *oracle baseline* (O(Q·N) — fine for a
bounded query set against a broadcastable index shard). The scale path is
``knn_lsh_topk``: deterministic random-hyperplane buckets cut the candidate
set, turning the cross join into a bucket-keyed equi-join — at 100 TB the
bucket is the shuffle key and each bucket's candidates fit an executor.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..helpers import T, materialize, md5_int, ravg, spread
from ..registry import query

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


# ---- vector kernels: every query below builds on these ---------------------
#
# Each kernel is the one Spark spelling of a dataflow its DuckDB oracles
# spell out in SQL. The casts are free on double inputs: Catalyst drops a
# double->double cast, so the optimized plan is the same as without it.


def dot_fold(a, b):
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a, b):
    return dot_fold(a, b) / (F.sqrt(dot_fold(a, a)) * F.sqrt(dot_fold(b, b)))


def sq_l2(a, b):
    """Sequential double-precision squared-L2 distance of two arrays."""
    sq = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)


def explode_dims(df, *keys, col="embedding"):
    """(keys..., pos, val): one row per element of the ``col`` array, with
    1-based ``pos`` and ``val`` cast to double."""
    return df.select(*keys, F.posexplode(col).alias("pos0", "val_f")).select(
        *keys,
        (F.col("pos0") + 1).alias("pos"),
        F.col("val_f").cast("double").alias("val"),
    )


def mean_vectors(dims, *keys):
    """(keys..., cvec): per key, the element-wise mean of ``explode_dims``
    rows. Each element is shifted by 1e-12 and rounded to 6dp BEFORE any
    distance or argmin reads it: summation-order noise in the mean, across
    engines or runs, must not flip a near-tie downstream."""
    cells = dims.groupBy(*keys, "pos").agg(
        F.round(F.avg("val") + F.lit(1e-12), 6).alias("c")
    )
    return cells.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("cvec")
    )


def label_centroids(df):
    """(c_label, cvec): the IVF coarse quantizer, one mean vector per
    label of ``df``."""
    return mean_vectors(explode_dims(df, "label"), "label").select(
        F.col("label").alias("c_label"), "cvec"
    )


def _label_order():
    """Centroid order for routing: by distance, near-ties to the lower label."""
    return F.col("d2") + F.col("c_label") * 1e-12


def _label_distances(vecs, cvecs, *keys):
    """(keys..., c_label, d2): every ``embedding`` row of ``vecs`` against
    every centroid of the broadcast (c_label, cvec) table."""
    return vecs.join(F.broadcast(cvecs)).select(
        *keys, "c_label", sq_l2("embedding", "cvec").alias("d2")
    )


def nearest_label(vecs, cvecs, *keys):
    """(keys..., c_label): each row of ``vecs`` routed to its nearest
    centroid. A map-side argmin, no sort."""
    return (
        _label_distances(vecs, cvecs, *keys)
        .groupBy(*keys)
        .agg(F.min_by("c_label", _label_order()).alias("c_label"))
    )


def probe_lists(queries, cvecs, nprobe: int):
    """(query_id, c_label): each query's ``nprobe`` nearest centroids,
    ordered as ``nearest_label`` orders them."""
    w = Window.partitionBy("query_id").orderBy(_label_order())
    return (
        _label_distances(queries, cvecs, "query_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "c_label")
    )


def best_label(scored, *keys):
    """(keys..., pred_label): per key, the c_label with the highest
    ``score``; near-ties go to the lower label."""
    return scored.groupBy(*keys).agg(
        F.max_by("c_label", F.col("score") - F.col("c_label") * 1e-12).alias(
            "pred_label"
        )
    )


def assign_nearest(pairs, *keys):
    """Lloyd assign step: ``pairs`` holds (keys..., emb, cid, cvec) rows;
    per key, keep the cid nearest by squared-L2 rounded to 9dp, ties to the
    lower cid. Returns (keys..., cid, d2). ``min_by`` on the (d2, cid)
    struct is a partial-aggregable hash aggregate: no per-key sort."""
    scored = pairs.select(
        *keys, "cid", F.round(sq_l2("emb", "cvec"), 9).alias("d2")
    )
    return (
        scored.groupBy(*keys)
        .agg(F.min_by(F.struct("cid", "d2"), F.struct("d2", "cid")).alias("m"))
        .select(*keys, F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )


def pq_adc(qsub, codebook, cands, codes, qkeys, vkey):
    """PQ asymmetric distance: a lookup table of 9dp partial distances from
    each query sub-vector (qkeys..., s, qemb) to every (s, cid, cvec)
    codeword, summed over each candidate's stored (vkey, s, cid) codes and
    rounded to 8dp. Returns (qkeys..., vkey, adc_d2)."""
    lut = qsub.join(codebook, "s").select(
        *qkeys, "s", "cid", F.round(sq_l2("qemb", "cvec"), 9).alias("pd2")
    )
    return (
        cands.join(codes, vkey)
        .join(F.broadcast(lut), [*qkeys, "s", "cid"])
        .groupBy(*qkeys, vkey)
        .agg(F.round(F.sum("pd2") + F.lit(1e-12), 8).alias("adc_d2"))
    )


_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)})))"
    )


_KNN_TOPK_ORACLE = f"""
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.embedding', 'c.embedding')} AS sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.vec_id
             ) AS rank
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN embeddings c ON c.vec_id <> q.vec_id
    )
    WHERE rank <= {TOP_K}
    """


@query("knn_topk_cosine", oracle=_KNN_TOPK_ORACLE)
def knn_topk_cosine(spark, sf_dir):
    """Brute-force top-k cosine neighbors for the first `N_QUERIES` vectors
    — the exact-ANN baseline. Query side is broadcast (tiny); ranking is a
    per-query window with vec_id tiebreak."""
    e = T(spark, sf_dir, "embeddings").withColumn(
        # norms once per vector, not once per (query, candidate) pair — the
        # sequential fold is deterministic, so sim doubles are unchanged
        "nrm",
        F.sqrt(dot_fold(F.col("embedding"), F.col("embedding"))),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sims = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "sim_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim_raw", 6).alias("sim"))
    )


@query(
    "embeddings_label_stats",
    oracle=f"""
    SELECT label,
           count(*)                        AS n,
           round(avg(norm), 6)             AS avg_norm,
           round(min(norm), 6)             AS min_norm,
           round(max(norm), 6)             AS max_norm
    FROM (SELECT label, sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS norm
          FROM embeddings)
    GROUP BY label
    """,
)
def embeddings_label_stats(spark, sf_dir):
    """Per-label L2-norm statistics — the embedding-space sanity profile."""
    e = T(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
    )


N_TABLES = 4  # independent LSH tables (recall lever: L tables)
K_MIN = 4     # planes/table floor — tiny corpora keep ≥16 buckets
K_MAX = 10    # planes/table ceiling — caps signature cost per vector
BUCKET_OCCUPANCY = 8  # target vectors per bucket; drives k below


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic pseudo-random ±1 from md5 parity (engine-agnostic)."""
    import hashlib

    h = hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 else -1


# k (planes per table) is DERIVED FROM CORPUS SIZE so bucket count tracks n:
#   k = clamp(bitlength(ceil(n / OCCUPANCY) - 1), K_MIN, K_MAX)
# i.e. the smallest k with 2^k >= n/OCCUPANCY — expected bucket occupancy
# stays ~constant and the candidate/all-pairs ratio ~ L*OCC/n falls as the
# corpus grows (a FIXED k would drift toward n²/2^k, the round-3 weak flag).
# Integer-only bit-length via length(bin(m-1)) — both Spark and DuckDB have
# bin(), so the two engines agree bitwise with no float log2 edge cases.
# sf0.001 n=20 -> k=4 (16 buckets), sf0.01 n=500 -> k=6 (64), sf0.1
# n=2000 -> k=8 (256, candidate ratio 1.75% measured vs 23% in round 3).
_K_FORMULA = (
    "GREATEST(LEAST(length(bin((CAST({n} AS BIGINT) + {occ1}) {div} {occ} - 1)), "
    f"{K_MAX}), {K_MIN})"
)


def k_planes_expr(n_col):
    """Spark Column: planes-per-table for a corpus of ``n_col`` vectors."""
    return F.expr(
        _K_FORMULA.format(
            n=n_col, occ1=BUCKET_OCCUPANCY - 1, occ=BUCKET_OCCUPANCY, div="div"
        )
    )


def k_planes_sql(src: str = "embeddings") -> str:
    """DuckDB scalar: the same integer k formula over ``count(*)``."""
    return _K_FORMULA.format(
        n="count(*)", occ1=BUCKET_OCCUPANCY - 1, occ=BUCKET_OCCUPANCY, div="//"
    )


def k_planes_py(n: int) -> int:
    """Python mirror of the k formula (for tests / bound computation)."""
    m = (n + BUCKET_OCCUPANCY - 1) // BUCKET_OCCUPANCY
    return max(K_MIN, min(K_MAX, max(1, (m - 1).bit_length() if m > 1 else 1)))


_SIGNS_NP = None


def _signs_np():
    """±1 plane matrix (L*K_MAX × 64), cached; same md5 derivation as the
    oracle's literal sign arrays."""
    global _SIGNS_NP
    if _SIGNS_NP is None:
        import numpy as np

        _SIGNS_NP = np.array(
            [
                [_plane_sign(j, d) for d in range(64)]
                for j in range(N_TABLES * K_MAX)
            ],
            dtype=np.float64,
        )
    return _SIGNS_NP


def _make_lsh_buckets_udf():
    """Arrow-batched signature kernel: per input vector, every table's
    bucket id in one numpy pass. This is the documented pandas-UDF
    exception: the per-plane dot products are 40 sequential 64-term float
    folds per row, which Spark's higher-order functions evaluate
    interpreted per element (measured 2.5 s for 2k vectors at sf0.1 —
    dominant); the numpy loop does the same arithmetic vectorized across
    the batch. Bit-exactness vs the DuckDB oracle's list_sum: products are
    x_d * ±1.0 (exact in IEEE754) and the accumulation loops over
    dimensions in order, so every per-plane partial sum is the identical
    left-associated float64 chain."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _lsh_buckets(emb, k):
        import numpy as np

        X = np.array(emb.tolist(), dtype=np.float64)  # n × 64
        S = _signs_np()
        nf = N_TABLES * K_MAX
        dots = np.zeros((X.shape[0], nf))
        for d in range(64):  # dimension-order accumulation — oracle-exact
            dots += X[:, d : d + 1] * S[:, d][None, :]
        bits = dots > 0
        kk = k.to_numpy()
        pmask = np.arange(K_MAX)[None, :] < kk[:, None]  # plane p active iff p < k
        weights = 1 << np.arange(K_MAX)
        buckets = np.stack(
            [
                ((bits[:, t * K_MAX : (t + 1) * K_MAX] & pmask) * weights).sum(
                    axis=1
                )
                for t in range(N_TABLES)
            ],
            axis=1,
        )
        return pd.Series(list(buckets.astype("int32")))

    # annotations set explicitly: the module's postponed annotations would
    # leave 'pd.Series' unresolvable inside pandas_udf's type inference
    _lsh_buckets.__annotations__ = {
        "emb": pd.Series, "k": pd.Series, "return": pd.Series
    }
    return pandas_udf(_lsh_buckets, "array<int>")


def lsh_table_buckets(df, emb_col: str = "embedding"):
    """(… , table, bucket) — one row per LSH table per vector. Multi-table
    LSH: a pair is a candidate if it collides in ANY table; recall =
    1-(1-p^k)^L with p = 1-angle/pi (Charikar's SimHash LSH). k comes from
    the corpus size via one count aggregate broadcast to every row (the
    repo's scalar-total pattern — no driver-side action in the plan)."""
    kdf = df.agg(F.count(F.lit(1)).alias("n_vec")).select(
        k_planes_expr("n_vec").alias("k_planes")
    )
    # Repartition by id first: small parquet inputs arrive as one split, and
    # the Arrow signature batches are the expensive part — spread them
    # across cores before exploding (see minhash_signatures). The fan-out is
    # a QUARTER of the shuffle width (floor 4), not the full width: the
    # numpy kernel amortizes per-batch Python/Arrow overhead only past a few
    # hundred rows per batch (measured at sf0.1: 32 batches of 62 rows =
    # 0.83 s/stage, 8 batches of 250 = 0.45 s), and shuffle width scales
    # with the cluster, so a quarter of it still saturates any real
    # deployment while quartering the fixed per-batch cost.
    # One-row scalar attach: compiles to a BroadcastNestedLoopJoin whose
    # build side is the single k_planes value — constant network cost, and
    # the plan gate (test_embedding_dedup_no_cartesian) allows exactly this
    # shape while still forbidding table-sized nested loops.
    n_udf = max(
        4, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")) // 4
    )
    return (
        df.repartition(n_udf, F.col(df.columns[0]))
        .crossJoin(F.broadcast(kdf))
        .withColumn(
            "_buckets",
            _make_lsh_buckets_udf()(F.col(emb_col), F.col("k_planes")),
        )
        .select(
            *df.columns,
            # _outer: the plain generator implies `size(_buckets) > 0 AND
            # isnotnull(_buckets)`, which InferFiltersFromConstraints pushes
            # into the scalar-attach BNLJ — Catalyst then warns, rewrites the
            # join to a cross join, and re-evaluates the Python UDF a second
            # time in the moved-out filter. The kernel always returns exactly
            # N_TABLES buckets, so the outer variant is semantically
            # identical and keeps the UDF evaluated once.
            F.posexplode_outer("_buckets").alias("table", "bucket"),
        )
    )


def _bucket_sql(table: int) -> str:
    """DuckDB bucket expression for one LSH table — the SAME md5-derived
    ±1 planes as lsh_bucket_expr, embedded as literals (the planes are
    import-time constants, so the oracle reproduces the index exactly).
    References scalar ``kk.k`` (the corpus-size-derived plane count), so it
    must be used with ``CROSS JOIN kk`` — see lsh_tb_cte_sql."""
    terms = []
    for p in range(K_MAX):
        signs = [_plane_sign(table * K_MAX + p, d) for d in range(64)]
        arr = "[" + ", ".join(f"{s}.0" for s in signs) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "z -> CAST(z[1] AS DOUBLE) * z[2]))"
        )
        terms.append(
            f"(CASE WHEN {p} < kk.k AND {dot} > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def lsh_tb_cte_sql(src: str = "embeddings") -> str:
    """The shared ``kk, tb`` CTE prefix for every LSH-indexed oracle:
    ``kk`` computes planes-per-table from count(*) with the identical
    integer formula as the Spark side; ``tb`` is one row per (vector,
    table) with its bucket id. Embed as ``WITH {lsh_tb_cte_sql()}, ...``."""
    union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, embedding, {t} AS tbl, {_bucket_sql(t)} AS bucket"
        f" FROM {src} CROSS JOIN kk"
        for t in range(N_TABLES)
    )
    return (
        f"kk AS (SELECT {k_planes_sql(src)} AS k FROM {src}),\n"
        f"    tb AS (\n{union}\n    )"
    )


_KNN_LSH_ORACLE = (
    f"WITH {lsh_tb_cte_sql()}"
    + f""",
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
      FROM (SELECT * FROM tb WHERE vec_id < {N_QUERIES}) q
      JOIN tb c ON c.tbl = q.tbl AND c.bucket = q.bucket
               AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             {_cos_sql('qe', 'ce')} AS sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_cos_sql('qe', 'ce')} DESC, neighbor_id
             ) AS rank
      FROM cands
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= {TOP_K}
    """
)


@query("knn_lsh_topk", oracle=_KNN_LSH_ORACLE)
def knn_lsh_topk(spark, sf_dir):
    """Approximate top-k: candidates = vectors sharing any LSH-table bucket
    with the query (multi-table random hyperplanes), ranked by exact cosine.
    Fully oracled: the md5-derived planes are embedded as literals in the
    DuckDB SQL, which rebuilds the identical index and ranking;
    tests/test_pipeline.py additionally bounds recall vs the brute-force
    baseline. The scale path: (table, bucket) is the shuffle key, so
    candidate generation is an equi-join, not a cross join."""
    base = T(spark, sf_dir, "embeddings")
    tb = lsh_table_buckets(base.select("vec_id", "embedding"))
    # ids-only through bucket join + DISTINCT; vectors re-attached once per
    # distinct candidate (generate cheap, verify narrow — see
    # dedup_embedding_cosine for the measured 3× at sf0.1)
    q = tb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table", "bucket"
    )
    c = tb.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket")
    pairs = (
        F.broadcast(q)
        .join(c, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    withnorm = base.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    qv = withnorm.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cv = withnorm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sims = (
        pairs.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "sim_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("sim_raw", 6).alias("sim"))
    )


@query(
    "similar_pairs_threshold",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS sim
    FROM (SELECT * FROM embeddings WHERE vec_id < 120) a
    JOIN (SELECT * FROM embeddings WHERE vec_id < 120) b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} > 0.28
    """,
)
def similar_pairs_threshold(spark, sf_dir):
    """All-pairs similarity above a threshold on a bounded slice — the
    embedding-dedup primitive (at scale this runs per-LSH-bucket, never
    globally)."""
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    sim = cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(sim > 0.28)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("sim"))
    )


_CENTROID_SQL = """
    WITH dims AS (
      SELECT label,
             u.pos AS pos, u.val AS val
      FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
        FROM embeddings
      )
    ),
    centroids AS (
      SELECT label, pos, round(avg(val) + 1e-12, 6) AS c
      FROM dims GROUP BY label, pos
    )
"""


@query(
    "ivf_centroids",
    oracle=_CENTROID_SQL
    + """
    SELECT label, count(*) AS n_dims,
           round(sum(c * c) + 1e-9, 6) AS sq_norm
    FROM centroids
    GROUP BY label
    """,
)
def ivf_centroids(spark, sf_dir):
    """IVF coarse quantizer, training step: per-label centroids as the
    elementwise mean of member embeddings (posexplode → group by
    (label, dim) → avg). Output: per-centroid squared norm (a compact,
    deterministic summary of the 64-dim vectors).

    Scale: one shuffle keyed by (label, dim) — 640 cells regardless of
    corpus size; the centroid table is broadcastable forever after."""
    dims = explode_dims(T(spark, sf_dir, "embeddings"), "label")
    # the cells of mean_vectors, kept unassembled: the report sums c*c per
    # label
    centroids = dims.groupBy("label", "pos").agg(
        F.round(F.avg("val") + F.lit(1e-12), 6).alias("c")
    )
    return centroids.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        ravg(F.sum(F.col("c") * F.col("c")), 6).alias("sq_norm"),
    )


@query(
    "ivf_assign",
    oracle=_CENTROID_SQL
    + """
    , cvecs AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cvec FROM centroids GROUP BY label
    ),
    scored AS (
      SELECT v.vec_id, v.label AS true_label, c.c_label,
             list_sum(list_transform(list_zip(v.embedding, c.cvec),
                      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
      FROM (SELECT * FROM embeddings WHERE vec_id < 200) v CROSS JOIN cvecs c
    )
    SELECT vec_id, true_label,
           arg_min(c_label, d2 + c_label * 1e-12) AS assigned_label
    FROM scored
    GROUP BY vec_id, true_label
    """,
)
def ivf_assign(spark, sf_dir):
    """IVF coarse quantizer, assignment step: nearest centroid by L2 for a
    vector slice. The centroid table (10×64) is broadcast; distance is the
    same bitwise-deterministic fold as the cosine queries; ties broken by
    an epsilon-scaled label term mirrored in the oracle.

    At 100 TB this is THE ANN scale path: assign once, shuffle by
    (centroid bucket), search within buckets only."""
    e = T(spark, sf_dir, "embeddings")
    v = e.filter(F.col("vec_id") < 200).select(
        "vec_id", F.col("label").alias("true_label"), "embedding"
    )
    return nearest_label(
        v, label_centroids(e), "vec_id", "true_label"
    ).withColumnRenamed("c_label", "assigned_label")


_IVF_PROBE = 2  # nprobe: centroids searched per query


def _ivf_ranked_ctes(nprobe: int) -> str:
    """The IVF candidate+rank CTE chain (through ``ranked``), shared by the
    top-k search oracles AND the round-7 radius search."""
    return (
        _CENTROID_SQL
        + f"""
    , cvecs AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cvec
      FROM centroids GROUP BY label
    ),
    assigned AS (
      SELECT vec_id,
             arg_min(c_label,
                     list_sum(list_transform(list_zip(embedding, cvec),
                              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                 * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                     + c_label * 1e-12) AS c_label
      FROM embeddings CROSS JOIN cvecs
      GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, c_label FROM (
        SELECT e.vec_id, c.c_label,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum(list_transform(list_zip(e.embedding, c.cvec),
                          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                             * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                          + c.c_label * 1e-12) AS rk
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) e
        CROSS JOIN cvecs c
      ) WHERE rk <= {nprobe}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (c_label)
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT c.query_id, c.neighbor_id,
             {_cos_sql('q.embedding', 'n.embedding')} AS sim,
             row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY {_cos_sql('q.embedding', 'n.embedding')} DESC, c.neighbor_id
             ) AS rank
      FROM cands c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    """
    )


def _ivf_search_sql(nprobe: int) -> str:
    """Top-k IVF search oracle (shared by ivf_probe_topk /
    ann_recall_report / ann_nprobe_sweep)."""
    return (
        _ivf_ranked_ctes(nprobe)
        + f"""
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= {TOP_K}
    """
    )


_IVF_SEARCH_ORACLE = _ivf_search_sql(_IVF_PROBE)


@query("ivf_probe_topk", oracle=_IVF_SEARCH_ORACLE)
def ivf_probe_topk(spark, sf_dir):
    """Full IVF ANN search — the third step completing train
    (`ivf_centroids`) and assign (`ivf_assign`): every corpus vector is
    assigned to its nearest centroid, each query probes its nprobe=2
    nearest centroids, and exact cosine runs ONLY against vectors assigned
    to a probed centroid (~nprobe/k of the corpus), ranked top-k.

    Scale story: the centroid table broadcasts (k×dim floats); corpus
    assignment is a map-side argmin; the candidate join shuffles on
    c_label — the inverted-list key — so search cost is proportional to
    the probed lists, never the corpus. Fully oracled: centroids,
    assignment tie-breaks, and the cosine fold are all deterministic and
    recomputed identically in DuckDB."""
    return _ivf_search(spark, sf_dir, _IVF_PROBE)


def _ivf_search(spark, sf_dir, nprobe: int):
    """Top-k IVF search (shared with ann_nprobe_sweep): rank the shared
    candidate sims and keep TOP_K."""
    sims = _ivf_candidate_sims(spark, sf_dir, nprobe)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("sim_raw", 6).alias("sim"),
        )
    )


def _ivf_candidate_sims(spark, sf_dir, nprobe: int):
    """IVF candidate generation + exact cosine, parametrized by nprobe —
    the shared pre-ranking dataflow for top-k AND radius search."""
    e = T(spark, sf_dir, "embeddings")
    assigned, probes = _ivf_routing(spark, sf_dir, nprobe)
    return _ivf_score_cands(e, _probed_cands(probes, assigned))


def _probed_cands(probes, routing):
    """(query_id, neighbor_id): every vector routed to one of the query's
    probed lists, the query itself excluded."""
    return (
        F.broadcast(probes)
        .join(routing, "c_label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def _ivf_routing(spark, sf_dir, nprobe: int):
    """(assigned, probes) — the IVF routing tables: every corpus vector's
    inverted-list assignment and every query's nprobe probed lists.
    Shared by search (candidate generation) and the traffic report."""
    e = T(spark, sf_dir, "embeddings")
    cvecs = label_centroids(e)
    assigned = nearest_label(e.select("vec_id", "embedding"), cvecs, "vec_id")
    return assigned, probe_lists(_query_vectors(e), cvecs, nprobe)


def _query_vectors(e):
    """(query_id, embedding): the query panel."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _ivf_score_cands(e, cands):
    """Exact cosine over (query_id, neighbor_id) candidate pairs, norms
    computed once per vector."""
    withnorm = e.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    qv = withnorm.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cv = withnorm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    return (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "sim_raw"
            ),
        )
    )


# ---- ANN index quality: recall@k of IVF search vs brute-force truth -----


@query(
    "ann_recall_report",
    oracle=f"""
    WITH truth AS ({_KNN_TOPK_ORACLE}),
    ivf AS ({_IVF_SEARCH_ORACLE}),
    m AS (
      SELECT t.query_id, count(i.rank) AS n_matched
      FROM truth t
      LEFT JOIN ivf i ON i.query_id = t.query_id
                     AND i.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT query_id,
           CAST(n_matched AS BIGINT) AS n_matched,
           round(n_matched * 1.0 / {TOP_K} + 1e-9, 6) AS recall_at_k
    FROM m
    """,
)
def ann_recall_report(spark, sf_dir):
    """ANN index EVALUATION (the companion to `dedup_minhash_eval`): per
    query, recall@`TOP_K` of the IVF index search (`ivf_probe_topk` —
    exact cosine within nprobe=`_IVF_PROBE` probed lists) against the
    brute-force truth (`knn_topk_cosine`) — the standard index-quality
    report every ANN deployment runs before trusting an index, computed
    entirely in-engine by composing the two dataflows. Both sides are
    deterministic, so the whole report hash-oracles (the oracle nests both
    queries' SQL as CTEs).

    Scale: truth is the expensive side (brute force) but only over the
    bounded query set; the recall join is queries*k rows. In production
    the same report runs on a sampled query panel — the shape is
    identical."""
    # truth feeds the semi-join AND the query-id spine
    truth = materialize(
        knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    ivf = ivf_probe_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        truth.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            F.round(
                F.coalesce("n_matched", F.lit(0)) * 1.0 / TOP_K + F.lit(1e-9), 6
            ).alias("recall_at_k"),
        )
    )


# ---- embedding compression: JL random projection + scalar quantization --

_RP_DIMS = 8
_RP_PLANE_BASE = 1000  # offset so projection planes never reuse LSH planes


def _rp_matrix() -> list[list[int]]:
    """±1 Johnson-Lindenstrauss projection rows derived from md5 — the
    same no-stored-model trick as the LSH planes."""
    return [
        [_plane_sign(_RP_PLANE_BASE + r, d) for d in range(64)]
        for r in range(_RP_DIMS)
    ]


def _rp_oracle() -> str:
    rows = _rp_matrix()
    cols = []
    for r, signs in enumerate(rows):
        arr = "[" + ", ".join(f"{s}.0" for s in signs) + "]"
        cols.append(
            f"round({_DOT_SQL.format(a='embedding', b=arr)} / sqrt({_RP_DIMS}.0)"
            f" + 1e-12, 6) AS p{r}"
        )
    return f"""
    SELECT vec_id, {', '.join(cols)}
    FROM embeddings
    """


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sketch: 64-dim float vectors → `_RP_DIMS`-dim
    via a deterministic ±1/sqrt(k) projection (md5-derived rows — no model
    state to ship, any executor regenerates the matrix). The ANN
    compression step that makes a 100 TB vector corpus memory-resident:
    8x fewer bytes per vector with JL-bounded distance distortion.
    Pure map-side fold — zero shuffles; exactly oracled (sequential
    double fold == DuckDB list_sum)."""
    e = T(spark, sf_dir, "embeddings")
    e = spread(e, "vec_id")
    out = [F.col("vec_id")]
    for r, signs in enumerate(_rp_matrix()):
        plane = F.array(*[F.lit(float(s)) for s in signs])
        out.append(
            F.round(
                dot_fold(F.col("embedding"), plane) / (_RP_DIMS**0.5)
                + F.lit(1e-12),
                6,
            ).alias(f"p{r}")
        )
    return e.select(*out)


_SQ_LEVELS = 255


def _sq_stats_sql() -> str:
    return """
    dims AS (
      SELECT u.pos AS pos, CAST(u.val AS DOUBLE) AS val
      FROM (
        SELECT unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'pos': i, 'val': embedding[i]})) AS u
        FROM embeddings
      )
    ),
    stats AS (
      SELECT list(dmin ORDER BY pos) AS mins, list(dmax ORDER BY pos) AS maxs
      FROM (SELECT pos, min(val) AS dmin, max(val) AS dmax
            FROM dims GROUP BY pos)
    )
    """


@query(
    "embedding_scalar_quantize",
    oracle=f"""
    WITH {_sq_stats_sql()}
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT)  AS code_sum,
           CAST(list_min(codes) AS INT)     AS code_min,
           CAST(list_max(codes) AS INT)     AS code_max
    FROM (
      SELECT vec_id,
             list_transform(
               list_zip(embedding, mins, maxs),
               p -> least(CAST(floor((CAST(p[1] AS DOUBLE) - p[2])
                                     / (p[3] - p[2]) * {_SQ_LEVELS}) AS BIGINT),
                          {_SQ_LEVELS})) AS codes
      FROM embeddings, stats
    )
    """,
)
def embedding_scalar_quantize(spark, sf_dir):
    """Scalar (int8-style) quantization: per-dimension global [min, max]
    ranges (one tiny agg, broadcast) map each float to a 0..`_SQ_LEVELS`
    code — 4x smaller vectors for ANN candidate scoring, re-ranked in
    float32 later. Emits per-vector code checksum/min/max so the entire
    64-code vector is hash-verified against DuckDB computing the identical
    quantizer. Map-side after one broadcastable stats agg."""
    e = T(spark, sf_dir, "embeddings")
    stats = (
        explode_dims(e)
        .groupBy("pos")
        .agg(F.min("val").alias("dmin"), F.max("val").alias("dmax"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "dmin"))),
                lambda s: s.getField("dmin"),
            ).alias("mins"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "dmax"))),
                lambda s: s.getField("dmax"),
            ).alias("maxs"),
        )
    )
    codes = F.transform(
        F.arrays_zip(F.col("embedding"), F.col("mins"), F.col("maxs")),
        lambda p: F.least(
            F.floor(
                (p.getField("embedding").cast("double") - p.getField("mins"))
                / (p.getField("maxs") - p.getField("mins"))
                * _SQ_LEVELS
            ).cast("bigint"),
            F.lit(_SQ_LEVELS).cast("bigint"),
        ),
    )
    return (
        spread(e, "vec_id")
        .join(F.broadcast(stats))
        .select("vec_id", codes.alias("codes"))
        .select(
            "vec_id",
            F.aggregate(
                "codes", F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("code_sum"),
            F.array_min("codes").cast("int").alias("code_min"),
            F.array_max("codes").cast("int").alias("code_max"),
        )
    )


# ---- Lloyd k-means (fixed-iteration, fully oracled) ----------------------

_KM_K = 8
_KM_ITERS = 3


def _kmeans_ctes() -> str:
    """Unrolled Lloyd iterations as a CTE body (no WITH / final SELECT):
    per round one argmin-assignment CTE (squared-L2 rounded to 9dp,
    centroid-id tie-break) and one centroid update whose per-dimension
    means are rounded to 6dp — rounding the shared state each round is
    what keeps both engines' trajectories bit-identical despite unordered
    float summation (same discipline as the PageRank/LPA oracles). Final
    assignment and centroids are the ``a``/``c`` CTEs of round
    `_KM_ITERS`; shared by the k-means and SemDeDup oracles."""
    parts = [
        f"""
    vv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    dd AS (
      SELECT vec_id, u.pos AS pos, u.val AS val
      FROM (
        SELECT vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'pos': i, 'val': CAST(embedding[i] AS DOUBLE)}})) AS u
        FROM embeddings
      )
    ),
    c0 AS (
      SELECT vec_id AS cid, emb AS cvec FROM vv ORDER BY vec_id LIMIT {_KM_K}
    )"""
    ]
    d2 = (
        "round(list_sum(list_transform(list_zip(v.emb, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
    )
    for i in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
    a{i} AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT v.vec_id, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2}, c.cid) AS rn
        FROM vv v CROSS JOIN c{i-1} c
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT p.cid, coalesce(m.cvec, p.cvec) AS cvec
      FROM c{i-1} p LEFT JOIN (
        SELECT cid, list(c ORDER BY pos) AS cvec FROM (
          SELECT a.cid, d.pos, round(avg(d.val) + 1e-12, 6) AS c
          FROM a{i} a JOIN dd d USING (vec_id)
          GROUP BY a.cid, d.pos
        ) GROUP BY cid
      ) m ON p.cid = m.cid
    )"""
        )
    return "".join(parts)


def _kmeans_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()}
    SELECT c.cid,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_members,
           round(coalesce(s.inertia, 0.0) + 1e-9, 4) AS inertia,
           round(list_sum(list_transform(c.cvec, x -> x * x)) + 1e-9, 6)
               AS sq_norm
    FROM c{_KM_ITERS} c LEFT JOIN (
      SELECT cid, count(*) AS n, sum(d2) AS inertia
      FROM a{_KM_ITERS} GROUP BY cid
    ) s ON c.cid = s.cid
    """


@query("kmeans_lloyd", oracle=_kmeans_oracle())
def kmeans_lloyd(spark, sf_dir):
    """Distributed Lloyd k-means over the embedding corpus: k=`_KM_K` seeds
    (the k smallest vec_ids — deterministic, no RNG state), `_KM_ITERS` fixed
    iterations of assign (squared-L2 argmin, centroid-id tie-break) +
    update (per-dimension mean). Per-round centroid means are rounded to
    6dp and distances to 9dp BEFORE the argmin on both engines, pinning
    the whole trajectory bit-identically — which is what lets an
    inherently iterative ML algorithm carry a full value-hash oracle.

    100 TB shape: the k×d centroid table is broadcast every round (k·d
    doubles — KBs); assignment is map-side (no shuffle of the corpus);
    the update is ONE groupBy(cid, dim) shuffle of (corpus × d) narrow
    rows. Lineage is cut per round with materialize. This is exactly
    MLlib KMeans' dataflow, re-expressed in DataFrame ops so the
    trajectory is auditable and oracle-able."""
    cent, assign = _kmeans_train(spark, sf_dir)
    stats = assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d2").alias("inertia")
    )
    return cent.join(stats, "cid", "left").select(
        "cid",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_members"),
        F.round(F.coalesce("inertia", F.lit(0.0)) + F.lit(1e-9), 4).alias("inertia"),
        F.round(
            F.aggregate(
                F.transform("cvec", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + F.lit(1e-9),
            6,
        ).alias("sq_norm"),
    )


def _kmeans_train(spark, sf_dir):
    """Shared Lloyd training dataflow: returns (final centroids (cid,
    cvec), final assignment (vec_id, cid, d2)) after the fixed rounds —
    consumed by kmeans_lloyd and dedup_semdedup_clusters."""
    e = T(spark, sf_dir, "embeddings")
    # r8 perf (r7 verdict #7): the base scan (+float->double transform) and
    # its posexploded narrow form are re-read by EVERY Lloyd round (assign
    # reads vv, update joins dd) — persist both for the loop's duration and
    # release them as soon as the final assignment is materialized. At
    # 100 TB this is the difference between I Lloyd rounds costing I corpus
    # scans and costing one scan + I cache reads.
    vv = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).persist()
    dd = explode_dims(vv, "vec_id", col="emb").persist()
    cent = (
        vv.orderBy("vec_id")
        .limit(_KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cvec"))
    )
    assign = None
    for _ in range(_KM_ITERS):
        # per-round assign is not checkpointed — see _pq_train.
        assign = assign_nearest(vv.crossJoin(F.broadcast(cent)), "vec_id")
        # centroid update stays the posexplode -> (cid,pos) avg ->
        # collect_list two-shuffle shape HERE: the one-pass 64-wide avg
        # aggregate used by _pq_train was A/B-measured SLOWER at full dim
        # (128 agg buffer fields blow the whole-stage-codegen field limit,
        # and raising the limit produces methods past the JIT size cap —
        # interpreted either way). dd is persisted, so the explosion is
        # paid once per build, not once per round.
        upd = mean_vectors(assign.join(dd, "vec_id"), "cid").withColumnRenamed(
            "cvec", "new_cvec"
        )
        cent = materialize(
            cent.join(upd, "cid", "left")
            .select("cid", F.coalesce("new_cvec", "cvec").alias("cvec"))
        )
    assign = materialize(assign)  # eager: materializes off the cache
    vv.unpersist(False)
    dd.unpersist(False)
    return cent, assign


# ---- Product quantization (per-subspace Lloyd codebooks) -----------------

_PQ_M = 4        # subspaces
_PQ_SUB = 16     # dims per subspace (64-dim embeddings)
_PQ_K = 4        # codes per subspace codebook
_PQ_ITERS = 2


def _pq_ctes(src: str = "embeddings") -> str:
    """Unrolled per-subspace Lloyd rounds as a CTE body (no WITH, no final
    SELECT) — the k-means oracle with a subspace key `s` carried through
    every CTE, so all `_PQ_M` codebooks train in the same unrolled SQL
    (per-round 6dp centroid / 9dp distance quantization pins the
    trajectory, as in _kmeans_oracle). Final codebook and assignment are
    the ``c``/``a`` CTEs of round `_PQ_ITERS`; shared by the PQ-codes and
    IVF-PQ oracles."""
    parts = [
        f"""
    vv AS (
      SELECT e.vec_id, sp.s,
             list_transform(list_slice(e.embedding,
                                       sp.s * {_PQ_SUB} + 1,
                                       sp.s * {_PQ_SUB} + {_PQ_SUB}),
                            x -> CAST(x AS DOUBLE)) AS emb
      FROM {src} e
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) sp
    ),
    dd AS (
      SELECT vec_id, s, u.pos AS pos, u.val AS val
      FROM (
        SELECT vec_id, s,
               unnest(list_transform(range(1, len(emb) + 1),
                      i -> {{'pos': i, 'val': emb[i]}})) AS u
        FROM vv
      )
    ),
    c0 AS (
      SELECT s, vec_id AS cid, emb AS cvec FROM vv
      WHERE vec_id IN (SELECT vec_id FROM {src}
                       ORDER BY vec_id LIMIT {_PQ_K})
    )"""
    ]
    d2 = (
        "round(list_sum(list_transform(list_zip(v.emb, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
    )
    for i in range(1, _PQ_ITERS + 1):
        parts.append(
            f""",
    a{i} AS (
      SELECT vec_id, s, cid, d2 FROM (
        SELECT v.vec_id, v.s, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {d2}, c.cid) AS rn
        FROM vv v JOIN c{i-1} c ON v.s = c.s
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT p.s, p.cid, coalesce(m.cvec, p.cvec) AS cvec
      FROM c{i-1} p LEFT JOIN (
        SELECT s, cid, list(c ORDER BY pos) AS cvec FROM (
          SELECT a.s, a.cid, d.pos, round(avg(d.val) + 1e-12, 6) AS c
          FROM a{i} a JOIN dd d ON a.vec_id = d.vec_id AND a.s = d.s
          GROUP BY a.s, a.cid, d.pos
        ) GROUP BY s, cid
      ) m ON p.s = m.s AND p.cid = m.cid
    )"""
        )
    return "".join(parts)


def _pq_oracle() -> str:
    return f"""
    WITH {_pq_ctes()}
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), '|' ORDER BY s) AS codes,
           round(sum(d2) + 1e-9, 4) AS quant_err
    FROM a{_PQ_ITERS}
    GROUP BY vec_id
    """


@query("embedding_pq_codes", oracle=_pq_oracle())
def embedding_pq_codes(spark, sf_dir):
    """Product quantization: split each embedding into `_PQ_M` subspaces of
    `_PQ_SUB` dims, train a `_PQ_K`-entry Lloyd codebook per subspace (`_PQ_ITERS` fixed
    rounds, seeds = the `_PQ_K` smallest vec_ids' sub-vectors), and emit each
    vector's code word ('c0|c1|...') plus total squared reconstruction
    error. PQ compresses `_PQ_M`x`_PQ_SUB` floats to `_PQ_M` small ints — the memory
    side of IVF-PQ ANN (ivf_* ops are the routing side).

    All `_PQ_M` codebooks train in ONE dataflow: subspace id `s` rides along
    as a grouping key, so per round there is one broadcast of the (s, cid)
    centroid table (`_PQ_M`·`_PQ_K` rows), one map-side argmin, and one
    groupBy(s, cid, pos) shuffle of narrow rows — identical topology to
    kmeans_lloyd, M codebooks for the price of one. Per-round 6dp/9dp
    quantization makes the full trajectory (and thus the codes) carry a
    value-hash oracle."""
    _, _, assign = _pq_train(spark, sf_dir)
    return assign.groupBy("vec_id").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "cid"))),
                lambda st: st.getField("cid").cast("string"),
            ),
        ).alias("codes"),
        # 4dp, matching kmeans_lloyd's inertia: the summed 9dp partials
        # carry run-order float noise that a 6dp cut was once observed to
        # flip (one sweep in ~10); 4dp puts the cut 100x further from the
        # noise floor on BOTH engines
        F.round(F.sum("d2") + F.lit(1e-9), 4).alias("quant_err"),
    )


def _pq_subvectors(spark, e):
    """(vec_id, s, emb) sub-vector rows — the PQ subspace split, shared by
    training and the round-6 delta-ingest encoder."""
    sub = spark.range(_PQ_M).select(F.col("id").cast("int").alias("s"))
    return (
        e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb64"),
        )
        .crossJoin(F.broadcast(sub))
        .select(
            "vec_id",
            "s",
            F.slice("emb64", F.col("s") * _PQ_SUB + 1, _PQ_SUB).alias("emb"),
        )
    )


def _pq_encode(vv, cent):
    """(vec_id, s, cid, d2): each (vec_id, s, emb) sub-vector's nearest
    codeword in the broadcast (s, cid, cvec) codebook — the PQ assign step,
    in training and when encoding against a frozen codebook."""
    return assign_nearest(vv.join(F.broadcast(cent), "s"), "vec_id", "s")


def _pq_train(spark, sf_dir, src=None):
    """Shared PQ training dataflow: returns (vv sub-vectors, final (s, cid)
    codebook, final (vec_id, s, cid, d2) assignment) after the fixed Lloyd
    rounds — consumed by embedding_pq_codes and ivf_pq_topk. `src`
    (round 6) trains on a base slice instead of the full table — the
    delta-ingest op freezes codebooks trained this way."""

    e = src if src is not None else T(spark, sf_dir, "embeddings")
    # r8 perf (r7 verdict #7): same loop-scoped caching as _kmeans_train —
    # the sub-vector split and its narrow posexplode feed every Lloyd
    # round; persist for the loop, release once the final assignment is
    # materialized (the returned vv recomputes lazily for the one consumer
    # that uses it post-training, exactly as before).
    vv = _pq_subvectors(spark, e).persist()
    seeds = e.orderBy("vec_id").limit(_PQ_K).select("vec_id")
    cent = vv.join(F.broadcast(seeds), "vec_id").select(
        "s", F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")
    )
    assign = None
    for _ in range(_PQ_ITERS):
        # assign carries NO cross-round state (next round scores from vv +
        # cent only), so it is not checkpointed per round — each barrier
        # was a full extra job; only the tiny cent table pins the lineage.
        assign = _pq_encode(vv, cent)
        # one-pass centroid update (see _kmeans_train r8 note): _PQ_SUB
        # per-dimension avg expressions in a single (s, cid) aggregation —
        # one shuffle, no x{sub} posexplode; 6dp(+1e-12) per dimension
        # keeps the trajectory bit-identical.
        upd = (
            assign.join(vv, ["vec_id", "s"])
            .groupBy("s", "cid")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.col("emb")[d]) + F.lit(1e-12), 6)
                        for d in range(_PQ_SUB)
                    ]
                ).alias("new_cvec")
            )
        )
        cent = materialize(
            cent.join(upd, ["s", "cid"], "left")
            .select("s", "cid", F.coalesce("new_cvec", "cvec").alias("cvec"))
        )
    # final assignment IS consumed repeatedly downstream — materialize once
    assign = materialize(assign)
    vv.unpersist(False)
    return vv, cent, assign


# ---- MMR diversified re-ranking ------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_CAND = 20
_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: selection state grows one row per step; every
    score the argmax ranks on is computed from 6-dp-quantized relevance /
    pairwise similarities (then 9-dp-quantized), so the greedy trajectory
    is engine-independent."""
    cos_qc = _cos_sql("q.qe", "c.embedding")
    cos_ab = _cos_sql("x.embedding", "y.embedding")
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT qid, cid, rel FROM (
        SELECT q.qid, c.vec_id AS cid,
               round({cos_qc} + 1e-9, 6) AS rel,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round({cos_qc} + 1e-9, 6) DESC, c.vec_id) AS rn
        FROM q JOIN embeddings c ON c.vec_id <> q.qid
      ) WHERE rn <= {_MMR_CAND}
    ),
    sim AS (
      SELECT a.qid, a.cid AS ca, b.cid AS cb,
             round({cos_ab} + 1e-9, 6) AS s
      FROM cand a
      JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
      JOIN embeddings x ON x.vec_id = a.cid
      JOIN embeddings y ON y.vec_id = b.cid
    ),
    sel1 AS (
      SELECT qid, cid, rel, 1 AS step FROM (
        SELECT qid, cid, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, cid) AS rn
        FROM cand
      ) WHERE rn = 1
    )"""
    ]
    for t in range(2, _MMR_K + 1):
        parts.append(
            f""",
    m{t} AS (
      SELECT si.qid, si.ca AS cid, max(si.s) AS mx
      FROM sim si JOIN sel{t-1} s ON si.qid = s.qid AND si.cb = s.cid
      GROUP BY si.qid, si.ca
    ),
    p{t} AS (
      SELECT c.qid, c.cid, c.rel,
             row_number() OVER (PARTITION BY c.qid
               ORDER BY round({_MMR_LAMBDA} * c.rel
                              - {round(1 - _MMR_LAMBDA, 6)} * m.mx, 9) DESC,
                        c.cid) AS rn
      FROM cand c
      JOIN m{t} m ON m.qid = c.qid AND m.cid = c.cid
      ANTI JOIN sel{t-1} s ON s.qid = c.qid AND s.cid = c.cid
    ),
    sel{t} AS (
      SELECT qid, cid, rel, {t} AS step FROM p{t} WHERE rn = 1
      UNION ALL SELECT qid, cid, rel, step FROM sel{t-1}
    )"""
        )
    parts.append(
        f"""
    SELECT qid AS query_id, step AS rank, cid AS neighbor_id, rel
    FROM sel{_MMR_K}
    """
    )
    return "".join(parts)


@query("knn_mmr_rerank", oracle=_mmr_oracle())
def knn_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    for each query, greedily pick `_MMR_K` results from its top-`_MMR_CAND` cosine
    candidates maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    selected (λ=`_MMR_LAMBDA`) — the diversity-aware retrieval pass RAG pipelines
    run after ANN. Greedy selection is inherently sequential, but only in
    the `_MMR_K`-step depth: each step is one (query-keyed) join + anti-join +
    window argmax over ≤`_MMR_CAND` candidates per query, all queries advancing in
    parallel — so wall-clock is `_MMR_K` tiny stages regardless of query count.
    Candidate relevances and the `_MMR_CAND`×`_MMR_CAND` pairwise sims are
    computed once, quantized to 6dp (argmax inputs to 9dp), materialized,
    and reused every step — which is also what pins the greedy trajectory
    across engines for the unrolled DuckDB oracle."""
    from pyspark.sql import Window as W

    e = T(spark, sf_dir, "embeddings").withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    rel = F.round(
        dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
        + F.lit(1e-9),
        6,
    )
    wq = W.partitionBy("qid")
    cand = materialize(
        F.broadcast(q)
        .join(c, F.col("cid") != F.col("qid"))
        .select("qid", "cid", rel.alias("rel"))
        .withColumn(
            "rn", F.row_number().over(wq.orderBy(F.desc("rel"), F.col("cid")))
        )
        .filter(F.col("rn") <= _MMR_CAND)
        .select("qid", "cid", "rel")
    )
    ea = e.select(F.col("vec_id").alias("ca"), F.col("embedding").alias("xa"),
                  F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("cb"), F.col("embedding").alias("xb"),
                  F.col("nrm").alias("nb"))
    s = F.round(
        dot_fold(F.col("xa"), F.col("xb")) / (F.col("na") * F.col("nb"))
        + F.lit(1e-9),
        6,
    )
    sim = materialize(
        cand.select("qid", F.col("cid").alias("ca"))
        .join(cand.select("qid", F.col("cid").alias("cb")), "qid")
        .filter(F.col("ca") != F.col("cb"))
        .join(ea, "ca")
        .join(eb, "cb")
        .select("qid", "ca", "cb", s.alias("s"))
    )
    sel = (
        cand.withColumn(
            "rn", F.row_number().over(wq.orderBy(F.desc("rel"), F.col("cid")))
        )
        .filter(F.col("rn") == 1)
        .select("qid", "cid", "rel", F.lit(1).alias("step"))
    )
    for t in range(2, _MMR_K + 1):
        m = (
            sim.join(
                sel.select("qid", F.col("cid").alias("cb")), ["qid", "cb"]
            )
            .groupBy("qid", "ca")
            .agg(F.max("s").alias("mx"))
            .withColumnRenamed("ca", "cid")
        )
        score = F.round(
            _MMR_LAMBDA * F.col("rel")
            - round(1 - _MMR_LAMBDA, 6) * F.col("mx"),
            9,
        )
        pick = (
            cand.join(sel.select("qid", "cid"), ["qid", "cid"], "left_anti")
            .join(m, ["qid", "cid"])
            .withColumn(
                "rn",
                F.row_number().over(wq.orderBy(score.desc(), F.col("cid"))),
            )
            .filter(F.col("rn") == 1)
            .select("qid", "cid", "rel", F.lit(t).alias("step"))
        )
        sel = materialize(sel.unionAll(pick))
    return sel.select(
        F.col("qid").alias("query_id"),
        F.col("step").alias("rank"),
        F.col("cid").alias("neighbor_id"),
        "rel",
    )


# ---- IVF-PQ: coarse routing + asymmetric-distance scoring ----------------


# Shared oracle SQL fragments (single source — a determinism fix here must
# reach every consumer, incl. retrieval's indexed-RRF oracle):
_SUB_D2_SQL = (
    "round(list_sum(list_transform(list_zip(q.emb, c.cvec), "
    "p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
)
_FULL_D2_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


def _coarse_ctes(cent_src: str = "embeddings") -> str:
    """dims/centroids/cvl/assigned CTE bodies (no WITH) — the label-mean
    coarse router replay (6dp centroid quantization before any routing
    argmin), shared by _ivf_pq_oracle, retrieval's indexed-RRF oracle and
    the merge-compact oracle. `cent_src` trains the centroids on a slice
    (frozen-router compaction) while assignment always routes the full
    corpus."""
    return f"""
    dims AS (
      SELECT label, u.pos AS pos, u.val AS val
      FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'pos': i, 'val': CAST(embedding[i] AS DOUBLE)}})) AS u
        FROM {cent_src}
      )
    ),
    centroids AS (
      SELECT label, pos, round(avg(val) + 1e-12, 6) AS c FROM dims GROUP BY label, pos
    ),
    cvl AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cvec
      FROM centroids GROUP BY label
    ),
    assigned AS (
      SELECT vec_id,
             arg_min(c_label,
                     {_FULL_D2_SQL.format(a='embedding', b='cvec')}
                     + c_label * 1e-12) AS c_label
      FROM embeddings CROSS JOIN cvl
      GROUP BY vec_id
    )"""


def _ivf_pq_oracle() -> str:
    sub_d2 = _SUB_D2_SQL
    full_d2 = _FULL_D2_SQL
    return f"""
    WITH {_pq_ctes()},
    {_coarse_ctes()},
    probes AS (
      SELECT vec_id AS query_id, c_label FROM (
        SELECT e.vec_id, c.c_label,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {full_d2.format(a='e.embedding', b='c.cvec')}
                          + c.c_label * 1e-12) AS rk
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) e
        CROSS JOIN cvl c
      ) WHERE rk <= {_IVF_PROBE}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (c_label)
      WHERE a.vec_id <> p.query_id
    ),
    qsub AS (
      SELECT vec_id AS query_id, s, emb FROM vv WHERE vec_id < {N_QUERIES}
    ),
    lut AS (
      SELECT q.query_id, c.s, c.cid, {sub_d2} AS pd2
      FROM qsub q JOIN c{_PQ_ITERS} c ON q.s = c.s
    ),
    adc AS (
      SELECT cd.query_id, cd.neighbor_id,
             round(sum(l.pd2) + 1e-12, 8) AS adc_d2
      FROM cands cd
      JOIN a{_PQ_ITERS} a ON a.vec_id = cd.neighbor_id
      JOIN lut l ON l.query_id = cd.query_id AND l.s = a.s AND l.cid = a.cid
      GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, adc_d2 FROM (
      SELECT query_id, neighbor_id, adc_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, neighbor_id) AS rank
      FROM adc
    ) WHERE rank <= {TOP_K}
    """


@query("ivf_pq_topk", oracle=_ivf_pq_oracle())
def ivf_pq_topk(spark, sf_dir):
    """IVF-PQ ANN search (Jégou et al. 2011) — the two halves joined:
    IVF routing (label-mean coarse centroids, nprobe=`_IVF_PROBE`) picks candidate
    inverted lists exactly as in ivf_probe_topk, and candidates are scored
    by PQ ASYMMETRIC DISTANCE: each query precomputes a lookup table of
    partial distances to every codebook entry (`_PQ_M`·`_PQ_K` values per query),
    and a candidate's distance is the SUM of `_PQ_M` table lookups keyed by its
    stored code — no candidate vector is ever touched at query time, which
    is the entire memory story of IVF-PQ at 100 TB (codes are `_PQ_M` small
    ints vs `_PQ_M`×`_PQ_SUB` floats; the corpus embedding column is read once at
    index build, never at search).

    Topology: codebooks from the shared _pq_train dataflow; the LUT is
    queries×`_PQ_M`×`_PQ_K` rows — broadcast; scoring is one join from candidates
    to their codes (shuffle keyed on neighbor id) plus `_PQ_M` broadcast-hash
    lookups, then a per-query top-K window. Everything is quantized
    (9dp partials, 8dp sums) so ranks are engine-stable."""
    vv, cent, assign = _pq_train(spark, sf_dir)
    assigned, probes = _ivf_routing(spark, sf_dir, _IVF_PROBE)
    qsub = vv.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", F.col("emb").alias("qemb")
    )
    return _ivf_pq_rank(probes, assigned, qsub, cent, assign)


def _ivf_pq_rank(probes, routing, qsub, codebook, codes):
    """Top-K by ADC over the probed lists: (query_id, neighbor_id, rank,
    adc_d2) — the search half shared by the train-and-search query and the
    index-served one."""
    adc = pq_adc(
        qsub,
        codebook,
        _probed_cands(probes, routing),
        codes.select(F.col("vec_id").alias("neighbor_id"), "s", "cid"),
        ["query_id"],
        "neighbor_id",
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )


# ---- IVF-PQ index lifecycle: build/materialize once, search many ---------
#
# ivf_pq_topk runs train + search in ONE query — correct, but not
# production's topology: there the codebook/codes/routing tables are built
# once, persisted, and every search reads them. These two queries model
# that split: `ivf_pq_build_index` trains and MATERIALIZES the four index
# tables (coarse centroids, coarse routing, PQ codebook, PQ codes) as
# parquet, and `ivf_pq_search_topk` answers top-k reading ONLY the
# materialized index + the query vectors — so the benched search cost is
# the true serving cost (LUT build + code lookups), with zero training in
# the plan. Index content is fully deterministic (6dp/9dp quantized), so
# the build is idempotent and a racing concurrent build publishes
# byte-identical data.

_PQ_INDEX_VERSION = "r6"  # r6: versioned-dir + LATEST-pointer layout
# Uncommitted (_SUCCESS-less) version dirs younger than this are presumed
# in-flight concurrent builds and exempt from GC; far above any real build
# time (sf0.1 build ≈ 3 s) yet short enough that crashed builds don't
# accumulate across a day of rounds.
_PQ_GC_STALE_SECONDS = 1800


def _pq_index_dir(sf_dir: str) -> str:
    """Materialized-index ROOT, keyed by recipe version AND the source
    file's identity (mtime+size) so regenerated testdata or a changed
    training recipe can never serve a stale index. Since round 6 the root
    holds immutable version dirs behind a LATEST pointer file (the
    streaming-state publish protocol) — a rebuild never deletes the dir a
    concurrent reader has already resolved."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return os.path.join(
        tempfile.gettempdir(),
        "hive_apache_ci_spark_index",
        f"ivfpq_{_PQ_INDEX_VERSION}_{tag}_{st.st_mtime_ns}_{st.st_size}",
    )


def _ivf_pq_index_frames(spark, sf_dir):
    """The four index artifacts as (unmaterialized) DataFrames:
    coarse (c_label, cvec), routing (vec_id, c_label),
    codebook (s, cid, cvec), codes (vec_id, s, cid)."""
    _vv, cent, assign = _pq_train(spark, sf_dir)
    e = T(spark, sf_dir, "embeddings")
    # coarse (|labels| rows) feeds BOTH its own parquet write and routing's
    # broadcast join — without the barrier the full embeddings posexplode
    # + two-shuffle centroid aggregation executes once per consumer.
    coarse = materialize(label_centroids(e))
    routing = nearest_label(e.select("vec_id", "embedding"), coarse, "vec_id")
    return coarse, routing, cent, assign.select("vec_id", "s", "cid")


def _resolve_pq_index(root: str) -> str | None:
    """The committed version dir named by root/LATEST, or None."""
    import os

    try:
        with open(os.path.join(root, "LATEST")) as fh:
            vname = fh.read().strip()
    except OSError:
        return None
    vdir = os.path.join(root, vname)
    if os.path.isfile(os.path.join(vdir, "_SUCCESS")):
        return vdir
    return None


def _ensure_pq_index(spark, sf_dir: str, rebuild: bool = False) -> str:
    """Train and publish the index if absent; return the COMMITTED VERSION
    dir (immutable). Publish protocol (round-6, review-hardened — the old
    rename-out/rename-in swap deleted the live dir under concurrent
    readers' feet and left a no-published-dir window): each build writes
    its own uuid version dir under the content-keyed root, commits it with
    _SUCCESS, then atomically flips root/LATEST via os.replace — exactly
    the streaming-state pointer protocol. Readers resolve the pointer once
    and hold an immutable dir. GC keeps the new version plus the one it
    replaced (a one-generation grace window for in-flight readers); a
    concurrent rebuild's last flip wins and all contents are deterministic,
    so every survivor is byte-equivalent."""
    import os
    import shutil
    import uuid

    root = _pq_index_dir(sf_dir)
    live = _resolve_pq_index(root)
    if live is not None and not rebuild:
        return live
    vname = "v_" + uuid.uuid4().hex
    vdir = os.path.join(root, vname)
    coarse, routing, codebook, codes = _ivf_pq_index_frames(spark, sf_dir)
    # r12 optimization (guide §2.6 "overlap independent jobs"): the four
    # index writes share no lineage that still executes (cent/assign are
    # materialized by _pq_train, coarse above), so submit them from a
    # small thread pool — the tail tasks of one write back-fill cores the
    # next would leave idle. FIFO scheduling keeps this deterministic;
    # _SUCCESS is only written after every future resolves.
    from concurrent.futures import ThreadPoolExecutor

    frames = (
        ("coarse", coarse),
        ("routing", routing),
        ("codebook", codebook),
        ("codes", codes),
    )
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(
            pool.map(
                lambda nf: nf[1]
                .write.mode("overwrite")
                .parquet(os.path.join(vdir, nf[0])),
                frames,
            )
        )
    open(os.path.join(vdir, "_SUCCESS"), "w").close()
    prev = _resolve_pq_index(root)  # re-resolve: racing builders may have flipped
    ptr = os.path.join(root, "LATEST")
    tmp_ptr = ptr + ".tmp." + uuid.uuid4().hex
    with open(tmp_ptr, "w") as fh:
        fh.write(vname)
    os.replace(tmp_ptr, ptr)
    _gc_pq_versions(root, {vname, os.path.basename(prev) if prev else None})
    return vdir


def _gc_pq_versions(root: str, keep: set) -> None:
    """Reap old index version dirs. Keeps: the explicit `keep` set (the
    new version + its immediate predecessor — the grace generation a live
    reader may still hold) AND whatever LATEST names RIGHT NOW (re-read
    inside the GC pass — a racing builder may have flipped after our own
    flip; reaping the dir the pointer currently names would leave it
    dangling for every later reader). A dir WITHOUT _SUCCESS is a
    concurrent builder's in-flight write, never reapable on sight —
    deleting it mid-write poisons that builder's eventual commit (its
    remaining parquet writes recreate the dir minus the frames written
    before the reap, then it flips LATEST to the truncated index).
    Uncommitted dirs are reaped only past the staleness window (an
    abandoned/crashed build)."""
    import os
    import shutil
    import time

    keep = {k for k in keep if k}
    try:
        cur = _resolve_pq_index(root)
        if cur is not None:
            keep.add(os.path.basename(cur))
        now = time.time()
        for e in os.listdir(root):
            if not e.startswith("v_") or e in keep:
                continue
            p = os.path.join(root, e)
            if not os.path.isfile(os.path.join(p, "_SUCCESS")):
                try:
                    if now - os.path.getmtime(p) < _PQ_GC_STALE_SECONDS:
                        continue  # in-flight build — hands off
                except OSError:
                    continue
            shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass


@query(
    "ivf_pq_build_index",
    oracle=f"""
    WITH {_pq_ctes()}
    SELECT c.s, c.cid,
           CAST(count(a.vec_id) AS BIGINT) AS n_vectors,
           round(list_sum(list_transform(c.cvec, x -> x * x)) + 1e-9, 6)
               AS c_sq_norm
    FROM c{_PQ_ITERS} c
    LEFT JOIN a{_PQ_ITERS} a ON a.s = c.s AND a.cid = c.cid
    GROUP BY c.s, c.cid, c.cvec
    """,
)
def ivf_pq_build_index(spark, sf_dir):
    """IVF-PQ index BUILD: train the per-subspace PQ codebooks + coarse
    router and materialize all four index tables to parquet (the once-per-
    corpus production step), then report per-codeword occupancy + codebook
    norms READ BACK FROM DISK — so the oracle validates the bytes that were
    actually published, not the in-flight dataflow. Re-running always
    retrains (the build is the operator under test); publish is atomic and
    idempotent. At 100 TB the build is one corpus scan per Lloyd round and
    the materialized index is ~(M codes + 1 label)/row, the artifact every
    `ivf_pq_search_topk` serving query reuses."""
    import os

    idx = _ensure_pq_index(spark, sf_dir, rebuild=True)
    codebook = spark.read.parquet(os.path.join(idx, "codebook"))
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    sq = F.round(
        F.aggregate(
            F.transform("cvec", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(1e-9),
        6,
    )
    occ = codes.groupBy("s", "cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    return (
        codebook.join(occ, ["s", "cid"], "left")
        .select(
            "s",
            "cid",
            F.coalesce("n_vectors", F.lit(0)).cast("bigint").alias("n_vectors"),
            sq.alias("c_sq_norm"),
        )
    )


@query("ivf_pq_search_topk", oracle=_ivf_pq_oracle())
def ivf_pq_search_topk(spark, sf_dir):
    """IVF-PQ SEARCH against the materialized index (built on first use,
    then reused): the serving-path half of ivf_pq_topk. The plan touches
    only (a) the query vectors, (b) the broadcast coarse-centroid table for
    probe selection, (c) the `routing` table filtered to probed lists, and
    (d) the `codes` table joined to the broadcast per-query LUT — the
    corpus embedding column is never read. This is the number a serving
    fleet sees: ADC scoring over M small-int codes per candidate, immune to
    training cost. Results are identical to ivf_pq_topk (same quantized
    index, same oracle)."""
    import os

    idx = _ensure_pq_index(spark, sf_dir)
    coarse = spark.read.parquet(os.path.join(idx, "coarse"))
    routing = spark.read.parquet(os.path.join(idx, "routing"))
    codebook = spark.read.parquet(os.path.join(idx, "codebook"))
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    q = _query_vectors(T(spark, sf_dir, "embeddings"))
    probes = probe_lists(q, coarse, _IVF_PROBE)
    sub = spark.range(_PQ_M).select(F.col("id").cast("int").alias("s"))
    qsub = (
        q.crossJoin(F.broadcast(sub))
        .select(
            "query_id",
            "s",
            F.transform(
                F.slice("embedding", F.col("s") * _PQ_SUB + 1, _PQ_SUB),
                lambda x: x.cast("double"),
            ).alias("qemb"),
        )
    )
    return _ivf_pq_rank(probes, routing, qsub, codebook, codes)


@query(
    "ann_pq_recall_report",
    oracle=f"""
    WITH truth AS ({_KNN_TOPK_ORACLE}),
    pq AS ({_ivf_pq_oracle()}),
    m AS (
      SELECT t.query_id, count(p.rank) AS n_matched
      FROM truth t
      LEFT JOIN pq p ON p.query_id = t.query_id
                    AND p.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT query_id,
           CAST(n_matched AS BIGINT) AS n_matched,
           round(n_matched * 1.0 / {TOP_K} + 1e-9, 6) AS recall_at_k
    FROM m
    """,
)
def ann_pq_recall_report(spark, sf_dir):
    """Quantization-loss EVALUATION: per-query recall@`TOP_K` of the full
    IVF-PQ search (coarse routing + ADC code-lookup scoring) against the
    brute-force cosine truth. `ann_recall_report` isolates what IVF
    ROUTING loses (exact distances inside probed lists); this report adds
    what PQ QUANTIZATION loses on top (distances approximated from `_PQ_M`
    codebook lookups) — the two reports together are how production picks
    nprobe and codebook size against a recall target. Deterministic on
    both sides, fully hash-oracled (the oracle nests both dataflows'
    unrolled SQL as CTEs)."""
    truth = knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    pq = ivf_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        truth.join(pq, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            F.round(
                F.coalesce("n_matched", F.lit(0)) * 1.0 / TOP_K + F.lit(1e-9), 6
            ).alias("recall_at_k"),
        )
    )


# ---- SemDeDup: semantic dedup within k-means clusters --------------------

_SEMDEDUP_TH = 0.3


def _semdedup_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()},
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.cid
      FROM a{_KM_ITERS} a JOIN a{_KM_ITERS} b
        ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ),
    close AS (
      SELECT p.va, p.vb
      FROM pairs p
      JOIN embeddings x ON x.vec_id = p.va
      JOIN embeddings y ON y.vec_id = p.vb
      WHERE round({_cos_sql('x.embedding', 'y.embedding')} + 1e-9, 6)
            > {_SEMDEDUP_TH}
    )
    SELECT a.vec_id,
           a.cid AS cluster_id,
           CAST(coalesce(s.n_close, 0) AS BIGINT) AS n_close,
           CASE WHEN coalesce(s.min_nbr, a.vec_id) < a.vec_id
                THEN 1 ELSE 0 END AS removed
    FROM a{_KM_ITERS} a LEFT JOIN (
      SELECT va, count(*) AS n_close, min(vb) AS min_nbr
      FROM close GROUP BY va
    ) s ON a.vec_id = s.va
    """


@query("dedup_semdedup_clusters", oracle=_semdedup_oracle())
def dedup_semdedup_clusters(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal that only
    compares embeddings WITHIN their k-means cluster — cluster first (the
    shared fixed-iteration Lloyd dataflow, k=`_KM_K`), then exact cosine among
    cluster members, then keep the smallest vec_id of each close group
    (removed = some smaller-id clustermate is above cosine `_SEMDEDUP_TH`). Emits
    per vector: cluster, close-neighbor count, removal verdict.

    100 TB shape: this is the dedup topology for corpora where LSH recall
    on raw vectors is poor — clustering makes the pairwise step O(n²/k)
    with k grown proportionally to n in production (k here is pinned to
    the oracle-able Lloyd run); the pairwise join shuffles on cluster id,
    ids-only, vectors re-attached once per side. Cluster assignment
    trajectories are quantized per round, so the WHOLE operator —
    clustering included — carries a value-hash oracle."""
    cent, assign = _kmeans_train(spark, sf_dir)
    e = T(spark, sf_dir, "embeddings")
    a = assign.select("vec_id", "cid")
    pa = a.select(F.col("vec_id").alias("va"), "cid")
    pb = a.select(F.col("vec_id").alias("vb"), "cid")
    pairs = pa.join(pb, "cid").filter(F.col("va") != F.col("vb"))
    withnorm = e.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    ea = withnorm.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("xa"),
        F.col("nrm").alias("na"),
    )
    eb = withnorm.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("xb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot_fold(F.col("xa"), F.col("xb")) / (F.col("na") * F.col("nb"))
    close = (
        pairs.join(ea, "va")
        .join(eb, "vb")
        .filter(F.round(sim + F.lit(1e-9), 6) > F.lit(_SEMDEDUP_TH))
        .select("va", "vb")
    )
    s = close.groupBy("va").agg(
        F.count(F.lit(1)).alias("n_close"), F.min("vb").alias("min_nbr")
    )
    return a.join(s, a["vec_id"] == s["va"], "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.coalesce("n_close", F.lit(0)).cast("bigint").alias("n_close"),
        F.when(
            F.coalesce("min_nbr", F.col("vec_id")) < F.col("vec_id"), 1
        )
        .otherwise(0)
        .alias("removed"),
    )


# ---- cluster topic report (cluster-then-describe) ------------------------


def _cluster_topics_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()},
    toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''))) AS t
      FROM documents
    ),
    csize AS (SELECT cid, count(*) AS n FROM a{_KM_ITERS} GROUP BY cid),
    corpus_df AS (SELECT t, count(*) AS df_all FROM toks GROUP BY t),
    ntot AS (SELECT count(*) AS n_docs FROM embeddings),
    cdf AS (
      SELECT a.cid, k.t, count(*) AS df_c
      FROM a{_KM_ITERS} a JOIN toks k ON k.doc_id = a.vec_id
      GROUP BY a.cid, k.t
    ),
    scored AS (
      SELECT c.cid, c.t, c.df_c,
             round(c.df_c * 1.0 / s.n
                   - d.df_all * 1.0 / (SELECT n_docs FROM ntot)
                   + 1e-9, 6) AS lift
      FROM cdf c JOIN csize s ON c.cid = s.cid
      JOIN corpus_df d ON c.t = d.t
    )
    SELECT cid, rk, t AS token, CAST(df_c AS BIGINT) AS df_in_cluster, lift
    FROM (SELECT cid, t, df_c, lift,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY lift DESC, t) AS rk
          FROM scored)
    WHERE rk <= 3
    """


@query("cluster_topics_report", oracle=_cluster_topics_oracle())
def cluster_topics_report(spark, sf_dir):
    """Cluster-then-describe corpus exploration: k-means over embeddings
    (the shared quantized Lloyd dataflow), then each cluster summarized by
    its 3 most DISTINCTIVE tokens — ranked by document-frequency lift
    (in-cluster df share minus corpus df share), which surfaces what makes
    a cluster different rather than globally common words. The cross-modal
    vec_id↔doc_id join is the repo's established convention
    (dedup_semantic_text_confirm).

    100 TB shape: per-(cluster, token) df is one shuffle keyed by (cid,
    token) over distinct doc-token pairs; cluster sizes and corpus df are
    side aggregates (broadcast); ranking windows run over
    vocabulary-per-cluster rows. Clustering itself is the oracled
    fixed-round Lloyd, so the WHOLE report hash-matches."""
    from pyspark.sql import Window as W

    cent, assign = _kmeans_train(spark, sf_dir)
    d = T(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower("text"), r"\s+"),
                        lambda x: x != "",
                    )
                )
            ).alias("t"),
        )
    )
    a = assign.select("vec_id", "cid")
    csize = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    corpus_df = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df_all"))
    ntot = T(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    cdf = (
        a.join(toks, a["vec_id"] == toks["doc_id"])
        .groupBy("cid", "t")
        .agg(F.count(F.lit(1)).alias("df_c"))
    )
    scored = (
        cdf.join(csize, "cid")
        .join(corpus_df, "t")
        .crossJoin(F.broadcast(ntot))
        .select(
            "cid",
            "t",
            "df_c",
            F.round(
                F.col("df_c") * 1.0 / F.col("n")
                - F.col("df_all") * 1.0 / F.col("n_docs")
                + F.lit(1e-9),
                6,
            ).alias("lift"),
        )
    )
    w = W.partitionBy("cid").orderBy(F.desc("lift"), "t")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "cid",
            "rk",
            F.col("t").alias("token"),
            F.col("df_c").cast("bigint").alias("df_in_cluster"),
            "lift",
        )
    )


# ---- round 6: matryoshka truncation recall + nprobe tuning sweep ---------

_MRL_DIMS = (16, 32)  # prefix lengths evaluated against the 64-dim truth


def _knn_trunc(spark, sf_dir, d: int):
    """Brute-force top-k by cosine over the FIRST d dims only (matryoshka
    prefix): same dataflow as knn_topk_cosine with the embedding sliced
    before any arithmetic — norms are prefix norms."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, d).alias("emb")
    )
    e = e.withColumn("nrm", F.sqrt(dot_fold(F.col("emb"), F.col("emb"))))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sims = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "sim_raw"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def _knn_trunc_sql(d: int) -> str:
    """Self-contained (own WITH scope) truncated-knn id pairs for DuckDB."""
    return f"""
    WITH qs AS (SELECT vec_id, embedding[1:{d}] AS emb
                FROM embeddings WHERE vec_id < {N_QUERIES}),
         cs AS (SELECT vec_id, embedding[1:{d}] AS emb FROM embeddings)
    SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.emb', 'c.emb')} DESC, c.vec_id
             ) AS rank
      FROM qs q JOIN cs c ON c.vec_id <> q.vec_id
    ) WHERE rank <= {TOP_K}
    """


def _matryoshka_oracle() -> str:
    blocks = []
    for d in _MRL_DIMS:
        blocks.append(f"""
    SELECT {d} AS trunc_dims, t.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           round(count(i.neighbor_id) * 1.0 / {TOP_K} + 1e-9, 6) AS recall_at_k
    FROM truth t
    LEFT JOIN (SELECT * FROM ({_knn_trunc_sql(d)}) x) i
           ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """)
        # each truncated ranking lives in its own subquery WITH-scope, so
        # the chains can't collide; truth is shared once at the top
    return (
        f"WITH truth AS ({_KNN_TOPK_ORACLE})"
        + " UNION ALL ".join(blocks)
    )


@query("ann_matryoshka_recall", oracle=_matryoshka_oracle())
def ann_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation evaluation: recall@`TOP_K` per query when
    ranking by cosine over only the FIRST d dims (d ∈ `_MRL_DIMS`) against
    the full-dim brute-force truth — the report that decides how far a
    matryoshka-trained embedding can be truncated before retrieval quality
    degrades. Truncation is THE cheap scale lever for 100 TB ANN: a 16-of-
    64 prefix cuts index bytes, scan IO, and distance FLOPs 4x with zero
    re-embedding cost, and prefix scoring composes with every index here
    (IVF routing and PQ codebooks over the prefix). Dataflow: the sliced
    ranking reuses the knn topology (broadcast queries, per-query window);
    recall joins are id-only. Fully hash-oracled — the sequential fold
    over identical slices is bit-deterministic in both engines."""
    # `truth` (the expensive brute-force pass) feeds the semi-join AND the
    # query-id spine for EVERY dim — without the cut it would recompute 2x
    # per union branch
    truth = materialize(
        knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    parts = []
    for d in _MRL_DIMS:
        trunc = _knn_trunc(spark, sf_dir, d)
        hits = (
            truth.join(trunc, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_matched"))
        )
        parts.append(
            truth.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(d).alias("trunc_dims"),
                "query_id",
                F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
                F.round(
                    F.coalesce("n_matched", F.lit(0)) * 1.0 / TOP_K + F.lit(1e-9), 6
                ).alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SWEEP_PROBES = (1, 2, 4)


def _nprobe_sweep_oracle() -> str:
    blocks = []
    for np_ in _SWEEP_PROBES:
        blocks.append(f"""
    SELECT {np_} AS nprobe,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
           round(count(i.neighbor_id) * 1.0 / {N_QUERIES * TOP_K} + 1e-9, 6)
               AS mean_recall_at_k
    FROM truth t
    LEFT JOIN (SELECT query_id, neighbor_id
               FROM ({_ivf_search_sql(np_)}) x) i
           ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
    """)
    return (
        f"WITH truth AS ({_KNN_TOPK_ORACLE})"
        + " UNION ALL ".join(blocks)
    )


@query("ann_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def ann_nprobe_sweep(spark, sf_dir):
    """IVF tuning curve: mean recall@`TOP_K` over the query panel as a
    function of nprobe ∈ `_SWEEP_PROBES` — the sweep every ANN deployment
    runs to pick its latency/recall operating point (recall must be
    monotone in nprobe; at nprobe = n_centroids the search is exhaustive
    within assignment and recall is limited only by routing loss). Each
    sweep point reuses the shared `_ivf_search` dataflow; truth is
    computed once. At 100 TB this is a sampled-panel job: cost scales with
    panel size x probed-list fraction, never the corpus — exactly why the
    sweep is affordable to run continuously against a production index."""
    # one brute-force pass for all sweep points
    truth = materialize(
        knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    parts = []
    for np_ in _SWEEP_PROBES:
        ivf = _ivf_search(spark, sf_dir, np_).select("query_id", "neighbor_id")
        matched = truth.join(ivf, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_matched")
        )
        parts.append(
            matched.select(
                F.lit(np_).alias("nprobe"),
                F.col("n_matched").cast("bigint").alias("n_matched"),
                F.round(
                    F.col("n_matched") * 1.0 / (N_QUERIES * TOP_K) + F.lit(1e-9), 6
                ).alias("mean_recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---- round 6: incremental index ingest (frozen-codebook delta encode) ----

_INGEST_SPLIT = 9  # md5(vec_id) decimal bucket: < 9 => base, >= 9 => delta

_INGEST_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 10"
)


def _ingest_split(e):
    """(base, delta) corpus split by md5(vec_id) decimal bucket — the
    deterministic stand-in for 'yesterday's corpus vs today's ingest
    batch', shared by ivf_pq_ingest_delta and ivf_pq_retrain_decision."""
    bucket = md5_int(F.col("vec_id").cast("string")) % 10
    tagged = e.withColumn("bk", bucket)
    return (
        tagged.filter(F.col("bk") < _INGEST_SPLIT).drop("bk"),
        tagged.filter(F.col("bk") >= _INGEST_SPLIT).drop("bk"),
    )


def _ingest_delta_oracle() -> str:
    d2 = (
        "round(list_sum(list_transform(list_zip(v.emb, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
    )
    return f"""
    WITH base_embeddings AS (
      SELECT * FROM embeddings WHERE {_INGEST_BUCKET_SQL} < {_INGEST_SPLIT}
    ),
    {_pq_ctes(src="base_embeddings")},
    delta AS (
      SELECT * FROM embeddings WHERE {_INGEST_BUCKET_SQL} >= {_INGEST_SPLIT}
    ),
    dvv AS (
      SELECT e.vec_id, sp.s,
             list_transform(list_slice(e.embedding,
                                       sp.s * {_PQ_SUB} + 1,
                                       sp.s * {_PQ_SUB} + {_PQ_SUB}),
                            x -> CAST(x AS DOUBLE)) AS emb
      FROM delta e
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) sp
    ),
    dassign AS (
      SELECT vec_id, s, cid, d2 FROM (
        SELECT v.vec_id, v.s, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {d2}, c.cid) AS rn
        FROM dvv v JOIN c{_PQ_ITERS} c ON v.s = c.s
      ) WHERE rn = 1
    ),
    nb AS (SELECT s, cid, count(*) AS n_base FROM a{_PQ_ITERS} GROUP BY s, cid),
    nd AS (SELECT s, cid, count(*) AS n_delta,
                  round(sum(d2) + 1e-9, 4) AS delta_err
           FROM dassign GROUP BY s, cid)
    SELECT c.s, c.cid,
           CAST(coalesce(nb.n_base, 0) AS BIGINT)  AS n_base,
           CAST(coalesce(nd.n_delta, 0) AS BIGINT) AS n_delta,
           CAST(coalesce(nb.n_base, 0)
                + coalesce(nd.n_delta, 0) AS BIGINT) AS n_total,
           coalesce(nd.delta_err, 0.0)              AS delta_err
    FROM c{_PQ_ITERS} c
    LEFT JOIN nb ON nb.s = c.s AND nb.cid = c.cid
    LEFT JOIN nd ON nd.s = c.s AND nd.cid = c.cid
    """


@query("ivf_pq_ingest_delta", oracle=_ingest_delta_oracle())
def ivf_pq_ingest_delta(spark, sf_dir):
    """Incremental index ingest — how a production ANN index absorbs a new
    batch WITHOUT retraining: codebooks are trained on the base corpus
    (md5-bucket 90% of vectors) and FROZEN; the 10% delta batch is encoded
    against them (per-subspace nearest-codeword argmin, broadcast
    codebooks, map-side min_by) and appended to the inverted lists. The
    report is the per-codeword occupancy ledger (n_base / n_delta /
    n_total) plus the delta's summed quantization error per codeword —
    the drift signal that tells an index operator when accumulated
    out-of-distribution ingest warrants a retrain (rising delta_err with
    skewed n_delta = the codebook no longer fits the data).

    100 TB shape: this is the write path that makes the build/search split
    (ivf_pq_build_index / ivf_pq_search_topk) operable day-to-day — daily
    ingest touches only the delta (encode cost ∝ batch, one broadcast of
    the M×K codebook), never the corpus; the oracle replays the frozen
    training on the identical base slice, so a codebook that silently
    retrained on delta data would hash-mismatch."""
    e = T(spark, sf_dir, "embeddings")
    base, delta = _ingest_split(e)
    _, cent, base_assign = _pq_train(spark, sf_dir, src=base)
    dassign = _pq_encode(_pq_subvectors(spark, delta), cent)
    nb = base_assign.groupBy("s", "cid").agg(F.count(F.lit(1)).alias("n_base"))
    nd = dassign.groupBy("s", "cid").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.round(F.sum("d2") + F.lit(1e-9), 4).alias("delta_err"),
    )
    return (
        cent.select("s", "cid")
        .join(nb, ["s", "cid"], "left")
        .join(nd, ["s", "cid"], "left")
        .select(
            "s",
            "cid",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("bigint").alias("n_delta"),
            (F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0)))
            .cast("bigint")
            .alias("n_total"),
            F.coalesce("delta_err", F.lit(0.0)).alias("delta_err"),
        )
    )


# ---- round 7: retrain decision (closes build -> serve -> ingest -> decide)

_RETRAIN_ERR_RATIO = 1.5   # ingest fits >1.5x worse than base => drift
_RETRAIN_OCC_SHARE = 0.5   # a codeword holding >2x the uniform 1/K share


def _retrain_decision_oracle() -> str:
    d2 = (
        "round(list_sum(list_transform(list_zip(v.emb, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
    )
    return f"""
    WITH base_embeddings AS (
      SELECT * FROM embeddings WHERE {_INGEST_BUCKET_SQL} < {_INGEST_SPLIT}
    ),
    {_pq_ctes(src="base_embeddings")},
    delta AS (
      SELECT * FROM embeddings WHERE {_INGEST_BUCKET_SQL} >= {_INGEST_SPLIT}
    ),
    dvv AS (
      SELECT e.vec_id, sp.s,
             list_transform(list_slice(e.embedding,
                                       sp.s * {_PQ_SUB} + 1,
                                       sp.s * {_PQ_SUB} + {_PQ_SUB}),
                            x -> CAST(x AS DOUBLE)) AS emb
      FROM delta e
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) sp
    ),
    dassign AS (
      SELECT vec_id, s, cid, d2 FROM (
        SELECT v.vec_id, v.s, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY v.vec_id, v.s
                                  ORDER BY {d2}, c.cid) AS rn
        FROM dvv v JOIN c{_PQ_ITERS} c ON v.s = c.s
      ) WHERE rn = 1
    ),
    nb AS (SELECT s, cid, count(*) AS n_base,
                  round(sum(d2) + 1e-9, 4) AS base_err
           FROM a{_PQ_ITERS} GROUP BY s, cid),
    nd AS (SELECT s, cid, count(*) AS n_delta,
                  round(sum(d2) + 1e-9, 4) AS delta_err
           FROM dassign GROUP BY s, cid),
    led AS (
      SELECT c.s, c.cid,
             CAST(coalesce(nb.n_base, 0) AS BIGINT)  AS n_base,
             CAST(coalesce(nd.n_delta, 0) AS BIGINT) AS n_delta,
             coalesce(nb.base_err, 0.0)              AS base_err,
             coalesce(nd.delta_err, 0.0)             AS delta_err
      FROM c{_PQ_ITERS} c
      LEFT JOIN nb ON nb.s = c.s AND nb.cid = c.cid
      LEFT JOIN nd ON nd.s = c.s AND nd.cid = c.cid
    ),
    m AS (
      SELECT *, n_base + n_delta AS n_total,
             CASE WHEN n_base > 0
                  THEN round(base_err / n_base + 1e-9, 6) ELSE 0.0 END
                 AS mean_base_err,
             CASE WHEN n_delta > 0
                  THEN round(delta_err / n_delta + 1e-9, 6) ELSE 0.0 END
                 AS mean_delta_err
      FROM led
    ),
    ss AS (
      SELECT s, sum(n_total) AS n_total_s,
             CASE WHEN sum(n_base) > 0
                  THEN round(sum(base_err) / sum(n_base) + 1e-9, 6)
                  ELSE 0.0 END AS s_mean_base_err,
             CASE WHEN sum(n_delta) > 0
                  THEN round(sum(delta_err) / sum(n_delta) + 1e-9, 6)
                  ELSE 0.0 END AS s_mean_delta_err
      FROM m GROUP BY s
    ),
    m2 AS (
      SELECT m.*,
             round(CAST(m.n_total AS DOUBLE) / ss.n_total_s + 1e-9, 6)
                 AS occ_share,
             CASE WHEN m.mean_base_err > 0 AND m.n_delta > 0
                  THEN round(m.mean_delta_err / m.mean_base_err + 1e-9, 4)
                  ELSE 0.0 END AS err_ratio,
             CASE WHEN ss.s_mean_base_err > 0 AND ss.s_mean_delta_err > 0
                  THEN round(ss.s_mean_delta_err / ss.s_mean_base_err
                             + 1e-9, 4)
                  ELSE 0.0 END AS s_err_ratio
      FROM m JOIN ss ON m.s = ss.s
    ),
    sk AS (SELECT s, max(occ_share) AS max_occ_share FROM m2 GROUP BY s)
    SELECT m2.s, m2.cid, n_base, n_delta,
           CAST(n_total AS BIGINT) AS n_total,
           base_err, delta_err, mean_base_err, mean_delta_err,
           err_ratio, occ_share,
           (err_ratio > {_RETRAIN_ERR_RATIO} AND n_delta > 0) AS err_drift,
           occ_share > {_RETRAIN_OCC_SHARE} AS occ_skew,
           s_err_ratio,
           (s_err_ratio > {_RETRAIN_ERR_RATIO}
            OR sk.max_occ_share > {_RETRAIN_OCC_SHARE}) AS retrain_subspace,
           CASE WHEN s_err_ratio > {_RETRAIN_ERR_RATIO}
                     AND sk.max_occ_share > {_RETRAIN_OCC_SHARE}
                THEN 'err+skew'
                WHEN s_err_ratio > {_RETRAIN_ERR_RATIO} THEN 'err_drift'
                WHEN sk.max_occ_share > {_RETRAIN_OCC_SHARE} THEN 'occ_skew'
                ELSE 'ok' END AS reason
    FROM m2 JOIN sk ON m2.s = sk.s
    """


@query("ivf_pq_retrain_decision", oracle=_retrain_decision_oracle())
def ivf_pq_retrain_decision(spark, sf_dir):
    """Retrain trigger — the decision step that CONSUMES the ingest drift
    ledger (r6 verdict #3), closing the index lifecycle
    build -> serve -> ingest -> decide: per codeword, compare the ingest
    batch's mean quantization error against the base corpus's own mean
    error under the SAME frozen codebook (err_ratio — rising means the
    codebook no longer fits incoming data) and each codeword's share of
    its subspace's occupancy (occ_share — a hot codeword degrades both
    compression and probe selectivity). Verdicts at both grains: per-
    codeword ``err_drift``/``occ_skew`` booleans, and the per-subspace
    ``retrain_subspace`` + ``reason`` an index operator would alert on
    (subspace-weighted err ratio > `_RETRAIN_ERR_RATIO` OR any codeword
    holding > `_RETRAIN_OCC_SHARE` of the subspace, i.e. 2x the uniform 1/K
    share).

    100 TB shape: everything derives from two (s, cid)-keyed ledgers
    (M*K rows each — 16 here) already produced by the ingest dataflow:
    base encode is one corpus scan (the same scan the build pays), delta
    encode is ∝ batch, and every decision metric is arithmetic over the
    tiny ledger — the decision itself costs nothing at any scale. All
    ratios divide identically-rounded inputs (6dp means, 4dp sums) in the
    same op order both engines, so the verdict booleans hash-oracle
    cleanly."""
    e = T(spark, sf_dir, "embeddings")
    base, delta = _ingest_split(e)
    _, cent, base_assign = _pq_train(spark, sf_dir, src=base)
    dassign = _pq_encode(_pq_subvectors(spark, delta), cent)
    nb = base_assign.groupBy("s", "cid").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.round(F.sum("d2") + F.lit(1e-9), 4).alias("base_err"),
    )
    nd = dassign.groupBy("s", "cid").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.round(F.sum("d2") + F.lit(1e-9), 4).alias("delta_err"),
    )
    led = (
        cent.select("s", "cid")
        .join(nb, ["s", "cid"], "left")
        .join(nd, ["s", "cid"], "left")
        .select(
            "s",
            "cid",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("bigint").alias("n_delta"),
            F.coalesce("base_err", F.lit(0.0)).alias("base_err"),
            F.coalesce("delta_err", F.lit(0.0)).alias("delta_err"),
        )
    )
    m = led.select(
        "*",
        (F.col("n_base") + F.col("n_delta")).alias("n_total"),
        F.when(
            F.col("n_base") > 0,
            F.round(F.col("base_err") / F.col("n_base") + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_base_err"),
        F.when(
            F.col("n_delta") > 0,
            F.round(F.col("delta_err") / F.col("n_delta") + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_delta_err"),
    )
    ss = m.groupBy("s").agg(
        F.sum("n_total").alias("n_total_s"),
        F.when(
            F.sum("n_base") > 0,
            F.round(F.sum("base_err") / F.sum("n_base") + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("s_mean_base_err"),
        F.when(
            F.sum("n_delta") > 0,
            F.round(F.sum("delta_err") / F.sum("n_delta") + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("s_mean_delta_err"),
    )
    m2 = m.join(F.broadcast(ss), "s").select(
        "*",
        F.round(
            F.col("n_total").cast("double") / F.col("n_total_s") + F.lit(1e-9), 6
        ).alias("occ_share"),
        F.when(
            (F.col("mean_base_err") > 0) & (F.col("n_delta") > 0),
            F.round(
                F.col("mean_delta_err") / F.col("mean_base_err") + F.lit(1e-9), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("err_ratio"),
        F.when(
            (F.col("s_mean_base_err") > 0) & (F.col("s_mean_delta_err") > 0),
            F.round(
                F.col("s_mean_delta_err") / F.col("s_mean_base_err")
                + F.lit(1e-9),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("s_err_ratio"),
    )
    sk = m2.groupBy("s").agg(F.max("occ_share").alias("max_occ_share"))
    drift = F.col("s_err_ratio") > _RETRAIN_ERR_RATIO
    skew = F.col("max_occ_share") > _RETRAIN_OCC_SHARE
    return m2.join(F.broadcast(sk), "s").select(
        "s",
        "cid",
        "n_base",
        "n_delta",
        F.col("n_total").cast("bigint").alias("n_total"),
        "base_err",
        "delta_err",
        "mean_base_err",
        "mean_delta_err",
        "err_ratio",
        "occ_share",
        (
            (F.col("err_ratio") > _RETRAIN_ERR_RATIO) & (F.col("n_delta") > 0)
        ).alias("err_drift"),
        (F.col("occ_share") > _RETRAIN_OCC_SHARE).alias("occ_skew"),
        "s_err_ratio",
        (drift | skew).alias("retrain_subspace"),
        F.when(drift & skew, F.lit("err+skew"))
        .when(drift, F.lit("err_drift"))
        .when(skew, F.lit("occ_skew"))
        .otherwise(F.lit("ok"))
        .alias("reason"),
    )


# ---- round 7: inverted-list merge-compact --------------------------------

_VEC_H32_SQL = (
    "CAST(('0x' || substr(md5(CAST({v} AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def _merge_compact_oracle() -> str:
    return f"""
    WITH base_embeddings AS (
      SELECT * FROM embeddings WHERE {_INGEST_BUCKET_SQL} < {_INGEST_SPLIT}
    ),
    {_coarse_ctes(cent_src="base_embeddings")},
    tag AS (SELECT vec_id, {_INGEST_BUCKET_SQL} AS bk FROM embeddings)
    SELECT a.c_label,
           CAST(sum(CASE WHEN t.bk < {_INGEST_SPLIT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_base,
           CAST(sum(CASE WHEN t.bk >= {_INGEST_SPLIT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_delta,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(min(a.vec_id) AS BIGINT) AS min_vec_id,
           CAST(max(a.vec_id) AS BIGINT) AS max_vec_id,
           CAST(sum({_VEC_H32_SQL.format(v='a.vec_id')}) AS BIGINT)
               AS list_digest,
           round(CAST(sum(CASE WHEN t.bk >= {_INGEST_SPLIT} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) AS delta_share
    FROM assigned a JOIN tag t USING (vec_id)
    GROUP BY a.c_label
    """


@query("ivf_pq_merge_compact", oracle=_merge_compact_oracle())
def ivf_pq_merge_compact(spark, sf_dir):
    """Inverted-list MERGE-COMPACT — the companion to the retrain decision
    (r6 verdict #3 named "retrain_decision or merge-compact"; round 7
    ships both): after enough delta ingests, production rewrites each
    coarse list merging the base segment with its appended deltas. The
    router is FROZEN on the base slice (label-mean centroids over the 90%
    base, 6dp-quantized — compaction must never re-route, or served
    results change under the reader); every vector routes through it and
    the report certifies each merged list's CONTENT, not just its size:
    n_base/n_delta/n_total plus min/max vec_id and a commutative content
    digest (sum of 32-bit md5-derived id hashes) that any engine can
    recompute from base ∪ delta — a dropped or duplicated vector flips
    the digest even when counts collide.

    100 TB: the digest/min/max/counts are all COMMUTATIVE partial
    aggregates — map-side combine on the routing shuffle, no collect_list
    of a 10^9-row list, no order dependence; compaction cost is one scan
    of routing + one broadcast of the frozen centroid table. The digest
    is the same trick LSM compactions use to verify a merge without
    sorting: content equality reduces to an O(1) comparison per list."""
    e = T(spark, sf_dir, "embeddings")
    base, _delta = _ingest_split(e)
    assigned = nearest_label(
        e.select("vec_id", "embedding"), label_centroids(base), "vec_id"
    )
    bucket = md5_int(F.col("vec_id").cast("string")) % 10
    tag = e.select("vec_id", bucket.alias("bk"))
    h32 = md5_int(F.col("vec_id").cast("string"), 8)
    return (
        assigned.join(tag, "vec_id")
        .groupBy("c_label")
        .agg(
            F.sum(F.when(F.col("bk") < _INGEST_SPLIT, 1).otherwise(0))
            .cast("bigint")
            .alias("n_base"),
            F.sum(F.when(F.col("bk") >= _INGEST_SPLIT, 1).otherwise(0))
            .cast("bigint")
            .alias("n_delta"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
            F.max("vec_id").cast("bigint").alias("max_vec_id"),
            F.sum(h32).cast("bigint").alias("list_digest"),
        )
        .select(
            "*",
            F.round(
                F.col("n_delta").cast("double") / F.col("n_total") + F.lit(1e-9),
                6,
            ).alias("delta_share"),
        )
    )


# ---- filtered ANN: metadata predicate fused into the search -------------

_FILT_TOPK = 5

_ANN_FILTERED_ORACLE = f"""
    SELECT query_id, label, neighbor_id, rank, round(sim, 6) AS sim
    FROM (
      SELECT q.vec_id AS query_id, q.label AS label,
             c.vec_id AS neighbor_id,
             {_cos_sql('q.embedding', 'c.embedding')} AS sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.embedding', 'c.embedding')} DESC, c.vec_id
             ) AS rank
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id
    )
    WHERE rank <= {_FILT_TOPK}
    """


@query("ann_filtered_topk", oracle=_ANN_FILTERED_ORACLE)
def ann_filtered_topk(spark, sf_dir):
    """Filtered ANN: top-`_FILT_TOPK` cosine neighbors restricted to candidates
    sharing the query's label — the metadata-constrained search every
    production vector store serves ("nearest docs in MY tenant / of THIS
    language"). The constraint is fused into the search as a JOIN KEY,
    not applied as a post-filter over an unconstrained top-k (post-filter
    under-fills k whenever the constraint is selective — the classic
    filtered-ANN correctness bug).

    100 TB shape: equality on label makes this a hash-partitioned join —
    each candidate partition holds one label shard, so the scan prunes to
    matching shards instead of streaming the full corpus past every query
    (with the corpus parquet laid out partitionBy(label), partition
    pruning does it at the file level — the `io_dpp_partitioned_join`
    layout applied to vectors). Queries stay broadcast; ranking is a
    per-query window over one label's candidates with vec_id tiebreak,
    never a global sort."""
    e = T(spark, sf_dir, "embeddings").withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    sims = (
        F.broadcast(q)
        .join(
            c,
            (F.col("clabel") == F.col("qlabel"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "neighbor_id",
            (
                dot_fold(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
            ).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _FILT_TOPK)
        .select(
            "query_id",
            "label",
            "neighbor_id",
            "rank",
            F.round("sim_raw", 6).alias("sim"),
        )
    )


# ---- radius (range) search over the IVF index ------------------------------

_RANGE_R = 0.15

_RANGE_ORACLE = (
    _ivf_ranked_ctes(_IVF_PROBE)
    + f"""
    SELECT query_id, neighbor_id, rank,
           round(sim + 1e-9, 6) AS sim
    FROM ranked WHERE round(sim + 1e-9, 6) >= {_RANGE_R}
    """
)


@query("ann_range_search", oracle=_RANGE_ORACLE)
def ann_range_search(spark, sf_dir):
    """Radius (range) search over the IVF index: ALL neighbors with cosine
    >= `_RANGE_R` within the probed inverted lists, per query — the
     'everything this similar' operator (dedup sweeps, recommendation
    fan-outs, contamination screens) next to top-k's 'the k most
    similar'. Shares the exact candidate-generation dataflow with
    ivf_probe_topk (broadcast centroids, map-side argmin routing,
    list-keyed candidate join); only the final cut differs — a quantized
    radius filter instead of a rank window. The emitted rank is the
    candidate rank (position among all probed candidates by sim desc), so
    boundary rounding can leave small gaps — identically in both engines.

    Determinism: 6dp-shift-rounded sim on BOTH the cut and the output;
    rank tie-broken by neighbor_id.

    100 TB: identical cost profile to the top-k search (candidates ∝
    probed lists, never corpus); the radius variant returns an unbounded-
    per-query result by SEMANTICS, so downstream consumers paginate on
    (query_id, rank) rather than collecting."""
    sims = _ivf_candidate_sims(spark, sf_dir, _IVF_PROBE)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .withColumn("sim", F.round(F.col("sim_raw") + F.lit(1e-9), 6))
        .filter(F.col("sim") >= _RANGE_R)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# ---- probe-traffic / hot-list report over the IVF index ---------------------

_TRAFFIC_ORACLE = (
    _ivf_ranked_ctes(_IVF_PROBE)
    + f"""
    , occ AS (
      SELECT c_label, CAST(count(*) AS BIGINT) AS occupancy
      FROM assigned GROUP BY c_label
    ),
    traffic AS (
      SELECT c_label, CAST(count(*) AS BIGINT) AS n_probes
      FROM probes GROUP BY c_label
    ),
    tot AS (SELECT CAST(sum(n_probes) AS BIGINT) AS t FROM traffic)
    SELECT o.c_label AS list_id, o.occupancy,
           CAST(coalesce(tr.n_probes, 0) AS BIGINT) AS n_probes,
           round(coalesce(tr.n_probes, 0) * 1.0 / (SELECT t FROM tot)
                 + 1e-9, 6) AS traffic_share,
           CAST(o.occupancy * coalesce(tr.n_probes, 0) AS BIGINT)
             AS scan_cost,
           coalesce(tr.n_probes, 0) * (SELECT count(*) FROM occ)
             > 2 * (SELECT t FROM tot) AS hot
    FROM occ o LEFT JOIN traffic tr ON tr.c_label = o.c_label
    """
)


@query("ivf_probe_traffic_report", oracle=_TRAFFIC_ORACLE)
def ivf_probe_traffic_report(spark, sf_dir):
    """Probe-traffic / hot-list report over the IVF index: per inverted
    list, its occupancy (vectors assigned), the probe traffic it receives
    from the query workload, its traffic share, the scan cost it induces
    (occupancy x probes — the actual work a skewed list costs), and a hot
    flag (share > 2x uniform) — the monitoring surface that tells an
    operator when routing skew calls for list splitting, caching, or a
    retrain (complementing ivf_pq_retrain_decision's drift view with a
    WORKLOAD view). Zero-traffic lists stay in the report (left join).

    Reuses the shared _ivf_routing tables — the report adds only two
    k-row aggregates on top of the search's own dataflow. Pure integers
    plus one 6dp share; the hot test is integer cross-multiplication
    (probes * k > 2 * total), no float boundary at all.

    100 TB: occupancy and traffic are map-side count partials over the
    routing tables; the report is |lists| rows. Cost is dominated by the
    routing computation the search already performs."""
    assigned, probes = _ivf_routing(spark, sf_dir, _IVF_PROBE)
    occ = assigned.groupBy("c_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("occupancy")
    )
    traffic = probes.groupBy("c_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes")
    )
    tot = traffic.agg(F.sum("n_probes").cast("bigint").alias("t"))
    k = occ.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    return (
        occ.join(traffic, "c_label", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k))
        .select(
            F.col("c_label").alias("list_id"),
            "occupancy",
            F.coalesce(F.col("n_probes"), F.lit(0).cast("bigint")).alias(
                "n_probes"
            ),
            F.round(
                F.coalesce(F.col("n_probes"), F.lit(0)) / F.col("t")
                + F.lit(1e-9),
                6,
            ).alias("traffic_share"),
            (
                F.col("occupancy")
                * F.coalesce(F.col("n_probes"), F.lit(0))
            )
            .cast("bigint")
            .alias("scan_cost"),
            (
                F.coalesce(F.col("n_probes"), F.lit(0)) * F.col("k")
                > 2 * F.col("t")
            ).alias("hot"),
        )
    )
