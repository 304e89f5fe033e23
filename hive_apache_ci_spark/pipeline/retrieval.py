"""Corpus retrieval operators over ``documents`` (SURVEY.md §2.11):
inverted index, TF-IDF term weighting, BM25 keyword search.

A training-data pipeline needs keyword retrieval both for quality curation
(pull docs relevant to a probe query) and for benchmark-decontamination
lookups; these are the scan→explode→term-keyed-shuffle shapes that serve
that at 100 TB:

- tokenization is JVM-side (``split``/``explode``) — whole-stage codegen,
  no Python in the hot path;
- everything downstream of the explode is keyed by ``term`` (or ``doc_id``),
  so each op is ONE logical shuffle; window functions and final aggregates
  reuse the same exchange;
- posting lists are truncated with a *windowed* row_number BEFORE the
  collect, so per-term state is bounded even for stop-word-frequency terms
  (a bare ``collect_list`` would buffer every posting for hot terms);
- multiply-referenced subtrees are cut with ``helpers.materialize``, so
  constructing some of these queries already runs Spark jobs (see there);
- corpus-level scalars (N, avgdl) are single-row aggregates joined in by
  broadcast; the per-term df table is vocabulary-sized (≪ corpus, zipfian)
  and broadcast-joined where used.

Float determinism: scores involve ``ln`` (1-ulp cross-engine risk), so they
are epsilon-shift rounded to 6 dp on both sides and ranked on the ROUNDED
value with a doc_id tie-break (rank flips impossible whenever the rounded
scores agree). BM25 sums its per-term contributions in a FIXED textual
order via conditional pivot — never a shuffle-order double ``sum()``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..helpers import T, materialize
from ..registry import query

_TOKENS_SQL = """
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents)
      WHERE t <> ''
"""


def _term_rows(spark, sf_dir):
    """(doc_id, term) — one row per token occurrence, codegen-resident."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")


@query(
    "search_inverted_postings",
    oracle=f"""
    WITH tf AS (
      SELECT term, doc_id, count(*) AS tf
      FROM ({_TOKENS_SQL}) GROUP BY term, doc_id
    ),
    x AS (
      SELECT term, doc_id,
             count(*) OVER (PARTITION BY term)                AS df,
             CAST(sum(tf) OVER (PARTITION BY term) AS BIGINT) AS total_tf,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM tf
    )
    SELECT term, CAST(max(df) AS BIGINT) AS df, max(total_tf) AS total_tf,
           string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings
    FROM x WHERE df >= 10 AND rn <= 20
    GROUP BY term
    """,
)
def search_inverted_postings(spark, sf_dir):
    """Inverted index: term -> (df, total_tf, first-20 posting list).

    The truncation is a windowed ``row_number <= 20`` BEFORE the collect —
    bounded memory per term no matter how hot the term — and df/total_tf
    come from window aggregates over the SAME term-keyed exchange, so the
    whole index build is one shuffle after the per-(term,doc) tf agg."""
    tf = (
        _term_rows(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term")
    wo = w.orderBy("doc_id")
    x = (
        tf.withColumn("df", F.count(F.lit(1)).over(w))
        .withColumn("total_tf", F.sum("tf").over(w))
        .withColumn("rn", F.row_number().over(wo))
        .filter((F.col("df") >= 10) & (F.col("rn") <= 20))
    )
    return x.groupBy("term").agg(
        F.max("df").alias("df"),
        F.max("total_tf").alias("total_tf"),
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda c: c.cast("string")
            ),
        ).alias("postings"),
    )


@query(
    "text_tfidf_topk",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM ({_TOKENS_SQL}) GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0) + 1e-9, 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, rk, term, tfidf
    FROM (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smooth idf = ln((1+N)/(1+df)) + 1).

    df is a vocabulary-sized aggregate broadcast back onto the term-keyed
    tf rows; N is a single-row broadcast. Ranking is per-doc (window on the
    doc-keyed exchange) on the ROUNDED score with a term tie-break."""
    tf = (
        _term_rows(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = T(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log((1.0 + F.col("n")) / (1.0 + F.col("df"))) + 1.0)
                + F.lit(1e-9),
                6,
            ).alias("tfidf"),
        )
    )
    wo = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(wo))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "tfidf")
    )


_BM25_TERMS = ("hash", "join", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


_BM25_ORACLE = f"""
    WITH toks AS ({_TOKENS_SQL}),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    piv AS (
      SELECT doc_id,
             round(coalesce(max(CASE WHEN term = 'hash' THEN s END), 0.0)
                   + coalesce(max(CASE WHEN term = 'join' THEN s END), 0.0)
                   + coalesce(max(CASE WHEN term = 'scan' THEN s END), 0.0)
                   + 1e-9, 6) AS score
      FROM contrib GROUP BY doc_id
    )
    SELECT rk, doc_id, score
    FROM (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM piv)
    WHERE rk <= 20
    """


@query("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark, sf_dir):
    """BM25 keyword search (query = 'hash join scan', k1=1.2, b=0.75):
    top-20 documents by summed per-term BM25 contribution.

    Scale shape: the tf explode filters to query terms IMMEDIATELY (only
    matching tokens survive to the shuffle); df is a |query|-row broadcast;
    dl/avgdl come from one doc-keyed count. The three per-term scores are
    summed in FIXED textual order via a conditional pivot — never an
    order-nondeterministic double ``sum()`` — so the score is bitwise
    reproducible. The global top-20 is ``orderBy().limit(20)`` —
    TakeOrderedAndProject, i.e. distributed per-partition partial top-k
    merged on the driver, never a corpus-sized single-partition sort (the
    round-6 shape leaned on InferWindowGroupLimit with nothing pinning
    it; plan-gated in tests/test_plans.py since round 7) — and the rank
    column is derived by a 20-row window AFTER the cut."""
    # r12 optimization (guide §2.3 "aggregate before you shuffle" / §2.4):
    # ONE pass over the token explode — per-doc dl and the three per-term
    # tfs come from a single conditional-pivot aggregate (the old shape
    # re-ran the explode for dl, tf and df and joined them back). The
    # doc-grain aggregate is materialized so the corpus stats (1 row)
    # and the scoring projection don't each re-run the explode. Bitwise
    # equivalence with the unchanged oracle: tf/df/dl/n/avgdl are the same
    # integers, the per-term score expression is operand-for-operand the
    # old one (a tf=0 term contributes exactly +0.0, just like the old
    # coalesce over the absent pivot row), terms sum in the same fixed
    # textual order, and docs with no query term are filtered out exactly
    # as they were absent from the old pivot.
    toks = _term_rows(spark, sf_dir)
    tf_cols = [
        F.count(F.when(F.col("term") == t, F.lit(1))).alias(f"tf_{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    per_doc = materialize(
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"), *tf_cols)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)

    def _term_score(i: int):
        df_c, tf_c = F.col(f"df_{i}"), F.col(f"tf_{i}")
        return (
            F.log(1.0 + (F.col("n") - df_c + 0.5) / (df_c + 0.5))
            * tf_c
            * (k1 + 1.0)
            / (tf_c + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )

    piv = (
        per_doc.filter(
            sum(F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))) > 0
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                sum(_term_score(i) for i in range(len(_BM25_TERMS)))
                + F.lit(1e-9),
                6,
            ).alias("score"),
        )
    )
    topk = piv.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    wo = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        F.row_number().over(wo).alias("rk"), "doc_id", "score"
    )


_QL_MU = 200.0
_QL_TERMS = ("hash", "join", "scan")


def _ql_term_sql(t: str) -> str:
    return (
        f"ln((coalesce(max(CASE WHEN term = '{t}' THEN tf END), 0)"
        f" + {_QL_MU} * max(CASE WHEN term = '{t}' THEN pc END))"
        f" / (max(dl) + {_QL_MU}))"
    )


_QL_ORACLE = f"""
    WITH toks AS ({_TOKENS_SQL}),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    cstat AS (SELECT count(*) AS c FROM toks),
    cf AS (
      SELECT term, count(*) * 1.0 / (SELECT c FROM cstat) AS pc
      FROM toks WHERE term IN {str(_QL_TERMS)} GROUP BY term
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN {str(_QL_TERMS)} GROUP BY doc_id, term
    ),
    cells AS (
      SELECT d.doc_id, c.term, d.dl, c.pc, t.tf
      FROM dl d CROSS JOIN cf c
      LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = c.term
    ),
    scored AS (
      SELECT doc_id,
             round({' + '.join(_ql_term_sql(t) for t in _QL_TERMS)}
                   + 1e-9, 6) AS score
      FROM cells GROUP BY doc_id
    )
    SELECT rk, doc_id, score
    FROM (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 20
    """


@query("search_query_likelihood", oracle=_QL_ORACLE)
def search_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty):
    score(q,d) = Σ_t ln((tf_td + μ·p(t|C)) / (|d| + μ)), μ={MU} — the
    language-modeling ranking family next to BM25's probabilistic one.
    Smoothing means every document scores against every query term (tf=0
    falls back to the collection model), so the dataflow densifies: doc
    lengths × the |q|-row term-stat table (broadcast cross), left-joined
    with the sparse tf cells — at 100 TB that is one doc-keyed shuffle
    plus broadcasts, with the per-term sum evaluated in FIXED textual
    order (conditional pivot) and 6-dp-rounded before ranking, the repo's
    ln()-determinism discipline."""
    toks = _term_rows(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    cstat = toks.agg(F.count(F.lit(1)).cast("double").alias("c"))
    qt = toks.filter(F.col("term").isin(*_QL_TERMS))
    cf = (
        qt.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(cstat))
        .select("term", (F.col("cnt") / F.col("c")).alias("pc"))
    )
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cells = (
        dl.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "term"], "left")
    )
    def term_score(t):
        tfv = F.coalesce(
            F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
        )
        pcv = F.max(F.when(F.col("term") == t, F.col("pc")))
        return F.log((tfv + _QL_MU * pcv) / (F.max("dl") + _QL_MU))

    total = term_score(_QL_TERMS[0])
    for t in _QL_TERMS[1:]:
        total = total + term_score(t)
    scored = cells.groupBy("doc_id").agg(
        F.round(total + F.lit(1e-9), 6).alias("score")
    )
    topk = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return topk.select(
        F.row_number().over(w).alias("rk"), "doc_id", "score"
    )


search_query_likelihood.__doc__ = search_query_likelihood.__doc__.replace(
    "{MU}", str(_QL_MU)
)


# ---- round 6: hybrid retrieval — reciprocal-rank fusion ------------------

_RRF_K = 60       # the standard RRF damping constant (Cormack et al.)
_RRF_PRF_DOCS = 5  # BM25 top-N whose embedding mean forms the vector query
_RRF_ARM_K = 20    # per-arm depth
_RRF_OUT_K = 10    # fused result depth

def _prf_query_vector(bm, e):
    """1-row (qvec) DataFrame: the 6dp-quantized dimension-wise mean of
    the BM25 top-{P} docs' embeddings — classic vector PRF, shared by the
    brute-force and indexed RRF variants."""
    qdims = (
        bm.filter(F.col("bm_rk") <= _RRF_PRF_DOCS)
        .join(e, bm.doc_id == e.vec_id)
        .select(F.posexplode("embedding").alias("pos0", "val"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")) + F.lit(1e-12), 6).alias("c")
        )
    )
    return qdims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("qvec")
    )


def _rrf_cos_sql() -> str:
    """Cosine-SQL template imported from similarity (the single source of
    the fold/cast discipline — a determinism fix there must reach this
    oracle too; review-caught duplication)."""
    from .similarity import _cos_sql

    return _cos_sql("e.embedding", "q.qvec")


def _rrf_oracle() -> str:
    _COS = _rrf_cos_sql()
    return f"""
    WITH bm AS (SELECT rk AS bm_rk, doc_id FROM ({_BM25_ORACLE}) b),
    qdims AS (
      SELECT u.pos AS pos, round(avg(CAST(u.val AS DOUBLE)) + 1e-12, 6) AS c
      FROM bm
      JOIN embeddings e ON e.vec_id = bm.doc_id
      CROSS JOIN unnest(list_transform(range(1, len(e.embedding) + 1),
                        i -> {{'pos': i, 'val': e.embedding[i]}})) AS t(u)
      WHERE bm.bm_rk <= {_RRF_PRF_DOCS}
      GROUP BY u.pos
    ),
    qv AS (SELECT list(c ORDER BY pos) AS qvec FROM qdims),
    sem AS (
      SELECT vec_id AS doc_id, rk AS vec_rk FROM (
        SELECT e.vec_id,
               row_number() OVER (ORDER BY {_COS} DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN qv q
      ) WHERE rk <= {_RRF_ARM_K}
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, sem.doc_id) AS doc_id,
             bm.bm_rk, sem.vec_rk,
             round(coalesce(1.0 / ({_RRF_K} + bm.bm_rk), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + sem.vec_rk), 0.0), 6)
                 AS rrf_score
      FROM bm FULL OUTER JOIN sem ON bm.doc_id = sem.doc_id
    )
    SELECT rk, doc_id,
           CAST(bm_rk AS INTEGER)  AS bm_rk,
           CAST(vec_rk AS INTEGER) AS vec_rk,
           rrf_score
    FROM (SELECT doc_id, bm_rk, vec_rk, rrf_score,
                 row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {_RRF_OUT_K}
    """


@query("search_hybrid_rrf", oracle=_rrf_oracle())
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion — the standard way
    production search combines a lexical arm and a vector arm without
    score calibration (RRF: score = Σ 1/(k + rank), k={K}): arm 1 is the
    BM25 top-{A} ('hash join scan'); arm 2 ranks the corpus by cosine to a
    pseudo-relevance-feedback query vector (the dimension-wise mean of the
    BM25 top-{P} docs' embeddings — classic vector PRF, so the semantic
    query derives deterministically from the lexical results instead of
    needing an out-of-band query embedding). Ranks fuse on doc_id
    (vec_id ≡ doc_id in this corpus), reciprocal contributions sum in
    fixed arm order, 6-dp-rounded BEFORE the fused ranking so near-tie
    rank pairs order identically cross-engine.

    100 TB shape: each arm is already scale-safe (BM25: broadcast df +
    TakeOrderedAndProject; vector arm: broadcast 1-row query vector,
    map-side cosine, top-k — swap in ivf_pq_search_topk for the
    brute-force arm at corpus scale); fusion itself touches only
    {A}+{A} id-rank rows. The PRF mean is 6-dp-quantized (the centroid
    discipline) so both engines rank against the identical query vector."""
    from .similarity import dot_fold

    # Materialize the two tiny arm intermediates: `bm` (ARM_K rows) feeds
    # both the PRF vector and the fusion join, and `qv` (1 row) feeds the
    # cosine arm — each reference otherwise instantiates the whole
    # 14-exchange BM25 dataflow again. Intra-query materialization of <=20
    # rows, recomputed from parquet on every invocation.
    bm = materialize(
        search_bm25_topk(spark, sf_dir)
        .select(F.col("rk").alias("bm_rk"), "doc_id")
    )
    e = T(spark, sf_dir, "embeddings")
    qv = materialize(_prf_query_vector(bm, e))
    cos = dot_fold(F.col("embedding"), F.col("qvec")) / (
        F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot_fold(F.col("qvec"), F.col("qvec")))
    )
    wsem = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    sem = (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", cos.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(_RRF_ARM_K)
        .withColumn("vec_rk", F.row_number().over(wsem))
        .select(F.col("vec_id").alias("doc_id"), "vec_rk")
    )
    fused = (
        bm.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "bm_rk",
            "vec_rk",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("bm_rk")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vec_rk")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _RRF_OUT_K)
        .select(
            "rk",
            "doc_id",
            F.col("bm_rk").cast("int").alias("bm_rk"),
            F.col("vec_rk").cast("int").alias("vec_rk"),
            "rrf_score",
        )
    )


search_hybrid_rrf.__doc__ = (
    search_hybrid_rrf.__doc__.replace("{K}", str(_RRF_K))
    .replace("{A}", str(_RRF_ARM_K))
    .replace("{P}", str(_RRF_PRF_DOCS))
)


# ---- round 7: hybrid retrieval served from the materialized ANN index ----


def _rrf_indexed_oracle() -> str:
    from .similarity import (
        _FULL_D2_SQL,
        _IVF_PROBE,
        _PQ_ITERS,
        _PQ_M,
        _PQ_SUB,
        _SUB_D2_SQL,
        _coarse_ctes,
        _pq_ctes,
    )

    _COS = _rrf_cos_sql()
    qd2 = _FULL_D2_SQL.format(a="q.qvec", b="c.cvec")
    return f"""
    WITH bm AS (SELECT rk AS bm_rk, doc_id FROM ({_BM25_ORACLE}) b),
    qdims AS (
      SELECT u.pos AS pos, round(avg(CAST(u.val AS DOUBLE)) + 1e-12, 6) AS c
      FROM bm
      JOIN embeddings e ON e.vec_id = bm.doc_id
      CROSS JOIN unnest(list_transform(range(1, len(e.embedding) + 1),
                        i -> {{'pos': i, 'val': e.embedding[i]}})) AS t(u)
      WHERE bm.bm_rk <= {_RRF_PRF_DOCS}
      GROUP BY u.pos
    ),
    qv AS (SELECT list(c ORDER BY pos) AS qvec FROM qdims),
    {_pq_ctes()},
    {_coarse_ctes()},
    probes AS (
      SELECT c_label FROM (
        SELECT c.c_label,
               row_number() OVER (ORDER BY {qd2} + c.c_label * 1e-12) AS rk
        FROM cvl c CROSS JOIN qv q
      ) WHERE rk <= {_IVF_PROBE}
    ),
    cands AS (SELECT a.vec_id FROM assigned a SEMI JOIN probes USING (c_label)),
    qsub AS (
      SELECT sp.s,
             list_transform(list_slice(q.qvec,
                                       sp.s * {_PQ_SUB} + 1,
                                       sp.s * {_PQ_SUB} + {_PQ_SUB}),
                            x -> CAST(x AS DOUBLE)) AS emb
      FROM qv q
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) sp
    ),
    lut AS (
      SELECT q.s, c.cid, {_SUB_D2_SQL} AS pd2
      FROM qsub q JOIN c{_PQ_ITERS} c ON q.s = c.s
    ),
    adc AS (
      SELECT cd.vec_id, round(sum(l.pd2) + 1e-12, 8) AS adc_d2
      FROM cands cd
      JOIN a{_PQ_ITERS} a ON a.vec_id = cd.vec_id
      JOIN lut l ON l.s = a.s AND l.cid = a.cid
      GROUP BY cd.vec_id
    ),
    sem AS (
      SELECT vec_id AS doc_id, rk AS vec_rk FROM (
        SELECT vec_id, row_number() OVER (ORDER BY adc_d2, vec_id) AS rk
        FROM adc
      ) WHERE rk <= {_RRF_ARM_K}
    ),
    bf AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (ORDER BY {_COS} DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN qv q
      ) WHERE rk <= {_RRF_ARM_K}
    ),
    rec AS (
      SELECT round(CAST(count(*) AS DOUBLE) / {_RRF_ARM_K} + 1e-9, 6)
                 AS vec_arm_recall
      FROM sem SEMI JOIN bf ON sem.doc_id = bf.vec_id
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, sem.doc_id) AS doc_id,
             bm.bm_rk, sem.vec_rk,
             round(coalesce(1.0 / ({_RRF_K} + bm.bm_rk), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + sem.vec_rk), 0.0), 6)
                 AS rrf_score
      FROM bm FULL OUTER JOIN sem ON bm.doc_id = sem.doc_id
    )
    SELECT rk, doc_id,
           CAST(bm_rk AS INTEGER)  AS bm_rk,
           CAST(vec_rk AS INTEGER) AS vec_rk,
           rrf_score, vec_arm_recall
    FROM (SELECT doc_id, bm_rk, vec_rk, rrf_score,
                 row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
          FROM fused) CROSS JOIN rec
    WHERE rk <= {_RRF_OUT_K}
    """


@query("search_hybrid_rrf_indexed", oracle=_rrf_indexed_oracle())
def search_hybrid_rrf_indexed(spark, sf_dir):
    """Hybrid RRF retrieval SERVED FROM THE MATERIALIZED IVF-PQ INDEX —
    the arm swap search_hybrid_rrf's docstring promises at corpus scale
    (r6 verdict #5): the vector arm routes the PRF query vector through
    the published index (broadcast coarse table -> nprobe lists -> ADC
    scoring of the probed lists' PQ codes against a 1-query LUT) instead
    of brute-force cosine over every embedding. The corpus embedding
    column is never read by the vector arm; its cost is the
    ivf_pq_search_topk serving shape (LUT build + code lookups over
    ~nprobe/K of the codes table). The output adds ``vec_arm_recall`` —
    the indexed arm's overlap@{A} against the brute-force cosine arm,
    computed in-plan — so the quality cost of the arm swap is graded
    next to its rank effects, not assumed. (ADC ranks by L2 on
    unnormalized embeddings while the brute-force arm ranks by cosine, so
    the recall delta also prices the metric mismatch — exactly what an
    operator tuning the swap needs to see.)

    100 TB: BM25 arm as before (broadcast df + TakeOrderedAndProject);
    vector arm reads only index tables (codes rows are M small ints);
    fusion is 40 id-rank rows; the recall audit joins two 20-row sets.
    The brute-force comparator stays in-plan ONLY for the audit column —
    drop it in production and the corpus is never scanned at all."""
    import os

    from .similarity import (
        _IVF_PROBE,
        _PQ_M,
        _PQ_SUB,
        _ensure_pq_index,
        dot_fold,
    )

    # Same tiny-intermediate materialization as search_hybrid_rrf: `bm` is
    # referenced by the PRF vector + fusion, `qv` by the probe selection,
    # the per-subspace LUT slicing, AND the brute-force recall comparator —
    # each reference would otherwise instantiate the BM25 subtree again.
    bm = materialize(
        search_bm25_topk(spark, sf_dir)
        .select(F.col("rk").alias("bm_rk"), "doc_id")
    )
    e = T(spark, sf_dir, "embeddings")
    qv = materialize(_prf_query_vector(bm, e))
    idx = _ensure_pq_index(spark, sf_dir)
    coarse = spark.read.parquet(os.path.join(idx, "coarse"))
    routing = spark.read.parquet(os.path.join(idx, "routing"))
    codebook = spark.read.parquet(os.path.join(idx, "codebook"))
    codes = spark.read.parquet(os.path.join(idx, "codes"))
    qd2 = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("cvec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        qv.crossJoin(F.broadcast(coarse))
        .select("c_label", qd2.alias("d2"))
        .orderBy(F.col("d2") + F.col("c_label") * 1e-12)
        .limit(_IVF_PROBE)
        .select("c_label")
    )
    cands = routing.join(F.broadcast(probes), "c_label").select("vec_id")
    sub = spark.range(_PQ_M).select(F.col("id").cast("int").alias("s"))
    qsub = (
        qv.crossJoin(F.broadcast(sub))
        .select(
            "s",
            F.transform(
                F.slice("qvec", F.col("s") * _PQ_SUB + 1, _PQ_SUB),
                lambda x: x.cast("double"),
            ).alias("qemb"),
        )
    )
    pd2 = F.round(
        F.aggregate(
            F.zip_with("qemb", "cvec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    lut = qsub.join(codebook, "s").select("s", "cid", pd2.alias("pd2"))
    adc = (
        cands.join(codes, "vec_id")
        .join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("pd2") + F.lit(1e-12), 8).alias("adc_d2"))
    )
    wsem = Window.orderBy("adc_d2", "doc_id")
    # `sem` is referenced by BOTH the fusion join and the recall audit —
    # un-materialized, each reference re-instantiates the whole
    # probe→cands→codes→ADC arm. Materialize the ≤ARM_K-row rank list once
    # (recomputed from parquet every invocation, same discipline as
    # `bm`/`qv`).
    sem = materialize(
        adc.select(F.col("vec_id").alias("doc_id"), "adc_d2")
        .orderBy("adc_d2", "doc_id")
        .limit(_RRF_ARM_K)
        .withColumn("vec_rk", F.row_number().over(wsem))
        .select("doc_id", "vec_rk")
    )
    cos = dot_fold(F.col("embedding"), F.col("qvec")) / (
        F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot_fold(F.col("qvec"), F.col("qvec")))
    )
    bf = (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", cos.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(_RRF_ARM_K)
        .select("vec_id")
    )
    rec = (
        sem.join(bf, sem.doc_id == bf.vec_id, "left_semi")
        .agg(
            F.round(
                F.count(F.lit(1)).cast("double") / _RRF_ARM_K + F.lit(1e-9), 6
            ).alias("vec_arm_recall")
        )
    )
    fused = (
        bm.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "bm_rk",
            "vec_rk",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("bm_rk")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vec_rk")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _RRF_OUT_K)
        .crossJoin(F.broadcast(rec))
        .select(
            "rk",
            "doc_id",
            F.col("bm_rk").cast("int").alias("bm_rk"),
            F.col("vec_rk").cast("int").alias("vec_rk"),
            "rrf_score",
            "vec_arm_recall",
        )
    )


search_hybrid_rrf_indexed.__doc__ = search_hybrid_rrf_indexed.__doc__.replace(
    "{A}", str(_RRF_ARM_K)
)


# ---- positional phrase / proximity search ----------------------------------

_PHRASE = ("hash", "join")
_NEAR_W = 3


_PHRASE_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(a)+1),
                                 i -> {{'pos': i-1, 'tok': a[i]}})) AS u
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents)
  )
),
p1 AS (SELECT doc_id, pos FROM toks WHERE tok = '{_PHRASE[0]}'),
p2 AS (SELECT doc_id, pos FROM toks WHERE tok = '{_PHRASE[1]}'),
phrase AS (
  SELECT a.doc_id, a.pos
  FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
near AS (
  SELECT a.doc_id, a.pos
  FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id
        AND b.pos > a.pos AND b.pos <= a.pos + {_NEAR_W}
)
SELECT n.doc_id,
       CAST(coalesce(ph.n_phrase, 0) AS BIGINT) AS n_phrase,
       ph.first_pos,
       CAST(n.n_near AS BIGINT) AS n_near
FROM (SELECT doc_id, count(*) AS n_near FROM near GROUP BY doc_id) n
LEFT JOIN (SELECT doc_id, count(*) AS n_phrase,
                  CAST(min(pos) AS BIGINT) AS first_pos
           FROM phrase GROUP BY doc_id) ph
       ON ph.doc_id = n.doc_id
"""


@query("search_phrase_positions", oracle=_PHRASE_SQL)
def search_phrase_positions(spark, sf_dir):
    """Positional phrase + proximity search over a positional inverted
    index: exact-phrase matches ('{P0} {P1}' = the terms at adjacent
    positions) and NEAR/{W} proximity matches ('{P1}' within {W} tokens
    after '{P0}') — the postings-adjacency operator Boolean/phrase IR
    engines run, next to BM25's ranked family. Emits per matching doc the
    phrase count, first phrase position, and the proximity count (every
    near doc appears; phrase columns null/0 when only NEAR matches).

    Pure integer position arithmetic — bit-exact by construction.

    100 TB: the index explode is map-side and each term's postings list
    is a FILTER on the token column (at real scale: the pre-built
    search_inverted_postings table, partitioned by term — the join then
    shuffles two term-shards by doc_id, never the corpus); adjacency and
    proximity are doc_id-keyed equi-joins with a position range predicate
    pushed into the join. Work ∝ postings(t1) + postings(t2)."""
    from ..helpers import spread

    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
    )
    p1 = toks.filter(F.col("tok") == _PHRASE[0]).select("doc_id", "pos")
    p2 = toks.filter(F.col("tok") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    phrase = p1.join(
        p2,
        (F.col("doc_id2") == F.col("doc_id"))
        & (F.col("pos2") == F.col("pos") + 1),
    ).select("doc_id", "pos")
    near = p1.join(
        p2,
        (F.col("doc_id2") == F.col("doc_id"))
        & (F.col("pos2") > F.col("pos"))
        & (F.col("pos2") <= F.col("pos") + _NEAR_W),
    ).select("doc_id", "pos")
    ph = phrase.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_phrase"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )
    nr = near.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_near")
    )
    return nr.join(ph, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_phrase", F.lit(0).cast("bigint")).alias("n_phrase"),
        "first_pos",
        "n_near",
    )


search_phrase_positions.__doc__ = (
    search_phrase_positions.__doc__.replace("{P0}", _PHRASE[0])
    .replace("{P1}", _PHRASE[1])
    .replace("{W}", str(_NEAR_W))
)


# ---- query spell correction (SymSpell deletion-neighborhood join) ----------

_SPELL_SQL = """
WITH vocab AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents)
  WHERE len(tok) >= 3
  GROUP BY tok
),
typos AS (
  SELECT DISTINCT
         tok AS truth,
         substr(tok, 1, CAST(doc_id % (len(tok) - 1) AS INT) + 1 - 1)
           || substr(tok, CAST(doc_id % (len(tok) - 1) AS INT) + 2) AS typo
  FROM (
    SELECT doc_id,
           string_split_regex(lower(text), '\\s+')
             [CAST(doc_id % 5 AS INT) + 1] AS tok
    FROM documents WHERE doc_id % 7 = 0
  )
  WHERE len(tok) >= 3
),
vkeys AS (
  SELECT tok, freq, tok AS key FROM vocab
  UNION ALL
  SELECT tok, freq,
         substr(tok, 1, i - 1) || substr(tok, i + 1) AS key
  FROM vocab, unnest(range(1, len(tok) + 1)) AS t(i)
),
cand AS (
  SELECT DISTINCT t.typo, t.truth, v.tok AS suggestion, v.freq
  FROM typos t JOIN vkeys v ON v.key = t.typo
  WHERE levenshtein(t.typo, v.tok) <= 1
),
mf AS (SELECT typo, truth, max(freq) AS freq FROM cand GROUP BY typo, truth),
best AS (
  SELECT c.typo, c.truth, min(c.suggestion) AS correction, m.freq
  FROM cand c JOIN mf m
    ON m.typo = c.typo AND m.truth = c.truth AND m.freq = c.freq
  GROUP BY c.typo, c.truth, m.freq
)
SELECT typo, truth, correction,
       CAST(freq AS BIGINT) AS correction_freq,
       correction = truth   AS recovered
FROM best
"""


@query("search_spell_correction", oracle=_SPELL_SQL)
def search_spell_correction(spark, sf_dir):
    """Query spell correction by the SymSpell deletion-neighborhood trick:
    candidate (typo, word) pairs come from an EQUI-JOIN on 1-deletion
    keys (every vocab word is indexed under itself plus each
    single-character deletion; a 1-deletion typo then hits its source
    word's key exactly), confirmed by levenshtein <= 1 and ranked by
    corpus frequency — never an all-pairs edit-distance scan. Typos are
    synthesized deterministically from the corpus (one char deleted at a
    doc_id-derived position), so the output also reports the recovery
    rate against ground truth.

    100 TB shape: the deletion index is |vocab| x (1 + avg word length)
    keys built once (explode + hash join on the key); candidate fanout
    is bounded by words sharing a deletion key, not vocabulary size.
    This is exactly how SymSpell/Elasticsearch-style suggesters scale;
    the (freq desc, suggestion asc) tie-break runs as max-freq-then-min-
    suggestion on both engines."""
    d = T(spark, sf_dir, "documents")
    arr = F.split(F.lower("text"), r"\s+")
    vocab = (
        d.select(F.explode(arr).alias("tok"))
        .filter(F.length("tok") >= 3)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    picked = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.element_at(arr, (F.col("doc_id") % 5 + 1).cast("int")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") >= 3)
    )
    # deletion position (0-based char index doc_id % (len-1)), written
    # ONCE and used for both substring halves so the synthesis can never
    # half-diverge from the oracle
    pos = (F.col("doc_id") % (F.length("tok") - 1)).cast("int")
    typos = picked.select(
        F.col("tok").alias("truth"),
        F.concat(
            F.substring("tok", F.lit(1), pos),
            F.substring("tok", pos + 2, F.length("tok")),
        ).alias("typo"),
    ).distinct()
    dels = vocab.select(
        "tok",
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok")),
                lambda i: F.concat(
                    F.expr("tok").substr(F.lit(1), i - 1),
                    F.col("tok").substr(i + 1, F.length("tok")),
                ),
            )
        ).alias("key"),
    )
    vkeys = vocab.select("tok", "freq", F.col("tok").alias("key")).unionByName(
        dels
    )
    cand = (
        typos.join(vkeys, vkeys.key == typos.typo)
        .filter(F.levenshtein(F.col("typo"), F.col("tok")) <= 1)
        .select("typo", "truth", F.col("tok").alias("suggestion"), "freq")
        .distinct()
    )
    # max freq first, then MIN suggestion among the tied — two-step
    # because the oracle's arg_max cannot take a composite key
    mf = cand.groupBy("typo", "truth").agg(F.max("freq").alias("freq"))
    best = (
        cand.join(mf, ["typo", "truth", "freq"])
        .groupBy("typo", "truth", "freq")
        .agg(F.min("suggestion").alias("correction"))
    )
    return best.select(
        "typo",
        "truth",
        "correction",
        F.col("freq").cast("bigint").alias("correction_freq"),
        (F.col("correction") == F.col("truth")).alias("recovered"),
    )
