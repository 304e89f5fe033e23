"""Deduplication operators over ``documents`` (SURVEY.md §2.11).

The full near-dup ladder a training-data pipeline needs:

1. exact        — group on content hash, keep min doc_id (one shuffle);
2. normalized   — same after lowercase/whitespace canonicalization;
3. MinHash+LSH  — shingle → k hash-mins → banded signatures → bucket
   self-join → candidate pairs. md5-based so the DuckDB oracle can compute
   the *identical* signatures (cross-engine-verifiable LSH, rather than a
   rows-only approximation);
4. n-gram Jaccard — exact pairwise similarity via a shared-shingle join
   (verifies what LSH candidates mean; keyed by shingle so it never
   materializes the n² cross product);
5. SimHash      — per-bit majority vote fingerprint.

Scale notes: every operator is shuffle-bounded by (hash) or (band,
signature) keys; nothing is pairwise over the corpus except *within* LSH
buckets — the standard web-scale dedup topology.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hive_compat import shingles
from ..helpers import T, materialize, md5_int, spread
from ..registry import query

N_HASHES = 16
BAND_ROWS = 2  # 8 bands x 2 rows
N_BANDS = N_HASHES // BAND_ROWS


@query(
    "dedup_exact",
    oracle="""
    SELECT h AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*)                    AS n_copies
    FROM (SELECT doc_id, md5(text) AS h FROM documents)
    GROUP BY h
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, representative = min doc_id.
    One shuffle on the hash key; at 100 TB the hash is the shard key."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_normalized",
    oracle="""
    SELECT h AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*) AS n_copies
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
          FROM documents)
    GROUP BY h
    HAVING count(*) >= 1
    """,
)
def dedup_normalized(spark, sf_dir):
    """Dedup after canonicalization (lowercase + whitespace collapse) —
    catches trivially-reformatted copies exact dedup misses."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_normalized_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _normalized_text():
    """Canonical text: trimmed, lowercased, whitespace runs collapsed."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime) — universal-hash modulus


def minhash_signatures(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, h0..h{N-1}) — universal-hashing MinHash: ONE md5 per shingle,
    split into two 60-bit ints (a, b), then g_s = (a + (s+1)*b) mod P per
    seed — the classic (a + s*b) mod p family. Reproducible in any engine
    with md5 + hex-to-int; 16x fewer md5 evaluations than hashing
    (seed || shingle) per seed, which dominated the signature cost.

    Plan shape: ONE explode to shingle rows, then all N_HASHES mins as
    separate aggregates of a single groupBy — no seed-row blowup, one
    shuffle keyed by doc (a per-row nested-HOF variant was tried and is
    ~100x slower: Catalyst re-inlines the shingle array into every lambda
    element — see docs/SCALE.md)."""
    # Spread by doc BEFORE the explode: a small corpus parquet arrives as
    # few (often 1) input splits, which would leave the shingle explode +
    # md5 + 16 min-aggs single-threaded. The doc-keyed exchange is the SAME
    # distribution the groupBy needs, so Catalyst reuses it — no extra
    # shuffle; the explicit partition count, one per task slot, stops AQE
    # from coalescing the CPU-heavy (but byte-light) stage back to one task
    # and runs it in one wave (helpers.spread).
    sh = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(shingles(F.col(text_col))).alias("shingle"))
        .filter(F.col("shingle") != "")
        .withColumn("m", F.md5("shingle"))
        .select(
            id_col,
            F.conv(F.substring("m", 1, 15), 16, 10).cast("bigint").alias("ha"),
            (F.conv(F.substring("m", 17, 15), 16, 10).cast("bigint") % MINHASH_P).alias(
                "hb"
            ),
        )
    )
    mins = [
        F.min((F.col("ha") + F.lit(s + 1) * F.col("hb")) % MINHASH_P).alias(f"h{s}")
        for s in range(N_HASHES)
    ]
    return sh.groupBy(id_col).agg(*mins)


def lsh_bands(sig, id_col: str = "doc_id"):
    """(id, band, band_sig) — concatenate each band's BAND_ROWS signature
    columns and re-hash; posexplode to one row per band."""
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * BAND_ROWS + r}").cast("string")
                        for r in range(BAND_ROWS)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select(F.col(id_col), F.posexplode(bands).alias("band", "band_sig"))


def _lsh_pairs(bands):
    """(doc_a, doc_b), doc_a < doc_b: distinct document pairs that share
    any full band signature — the LSH candidate set."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_MINHASH_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents)
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS ha,
             CAST(('0x' || substr(md5(shingle), 17, 15)) AS BIGINT)
               % {MINHASH_P} AS hb
      FROM sh WHERE shingle <> ''
    ),
    sig AS (
      SELECT doc_id, seed,
             CAST(min((ha + (seed + 1) * hb) % {MINHASH_P}) AS VARCHAR) AS minhash
      FROM hashed, unnest(range(0, {N_HASHES})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed / {BAND_ROWS}) AS INTEGER) AS band,
             md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs (`N_HASHES` hashes, `N_BANDS` bands x
    `BAND_ROWS` rows): documents sharing any full band signature. The
    oracle recomputes identical md5-based signatures in SQL — this is a
    fully-verified LSH, not a rows-only approximation."""
    d = T(spark, sf_dir, "documents")
    return _lsh_pairs(lsh_bands(minhash_signatures(d)))


_JACCARD_MAX_DF = 12  # drop shingles present in >12 of the 120 docs (10%)


def _shingle_rows(docs):
    """(doc_id, shingle): one row per distinct 2-token shingle of a doc."""
    return docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))


def _cut_hot(sh, max_df=_JACCARD_MAX_DF):
    """Drop shingles present in more than ``max_df`` docs (stopword
    bigrams like "of the") BEFORE any pairwise join: they add candidate
    pairs quadratically in their doc frequency while carrying no dedup
    signal, and at 100 TB one hot shingle would funnel millions of rows
    through a single join key."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    # hot set is tiny by construction (only high-df shingles) → broadcast anti
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _shingle_overlap(sh):
    """(doc_a, doc_b, c, na, nb) for each doc pair (doc_a < doc_b) sharing
    a shingle: ``c`` shared shingles, ``na``/``nb`` each doc's shingle
    count. Keyed by shared shingle, so the n² cross product is never
    materialized; every score built from it is a ratio of exact integers."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "c",
            F.col("sa.n").alias("na"), F.col("sb.n").alias("nb"),
        )
    )

_JACCARD_ORACLE = f"""
    WITH sh0 AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents WHERE doc_id < 120)
      ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING count(*) > {_JACCARD_MAX_DF}
    ),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.08
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact pairwise n-gram Jaccard over a doc subset, keyed by shared
    shingle (never materializes the full n^2 cross product) — the
    verification layer for MinHash candidates.

    Shingles in >10% of the docs are cut first (``_cut_hot``). Sizes are
    recomputed post-cut, so Jaccard is exact over the retained shingle
    sets (the oracle applies the identical cut)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    jacc = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        _shingle_overlap(_cut_hot(_shingle_rows(d)))
        .filter(jacc >= 0.08)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
    )


# 0.2 keeps the check non-vacuous at every test SF (max observed pairwise
# containment after the df-cut is ~0.45 at sf0.01); the cut compares
# c/na — a ratio of two exact integers — so both engines produce the
# bit-identical double and the predicate cannot flip across engines.
_CONTAIN_TH = 0.2

_CONTAIN_ORACLE = f"""
    WITH sh0 AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents WHERE doc_id < 120)
      ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING count(*) > {_JACCARD_MAX_DF}
    ),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, c, sa.n AS na, sb.n AS nb
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a AS doc_sub, doc_b AS doc_sup,
           round(c * 1.0 / na, 6) AS containment
    FROM scored WHERE c * 1.0 / na >= {_CONTAIN_TH}
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_sup,
           round(c * 1.0 / nb, 6) AS containment
    FROM scored WHERE c * 1.0 / nb >= {_CONTAIN_TH}
"""


@query("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark, sf_dir):
    """Shingle-containment dedup: directed containment
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ `_CONTAIN_TH`
    flags doc A as (near-)subsumed by doc B — the asymmetric complement of
    Jaccard that catches a short doc quoted whole inside a long one, which
    symmetric Jaccard misses because the union is dominated by the long doc
    (Broder's containment measure). Same shared-shingle join + >10%-df hot
    cut as ``dedup_ngram_jaccard``: one intersection count per unordered
    pair, then BOTH directions are scored from that single count (no second
    pairwise join)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    scored = _shingle_overlap(_cut_hot(_shingle_rows(d)))
    fwd = scored.where(F.col("c") * 1.0 / F.col("na") >= _CONTAIN_TH).select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_sup"),
        F.round(F.col("c") * 1.0 / F.col("na"), 6).alias("containment"),
    )
    rev = scored.where(F.col("c") * 1.0 / F.col("nb") >= _CONTAIN_TH).select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_sup"),
        F.round(F.col("c") * 1.0 / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionAll(rev)


_SIMHASH_BITS = 16


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t
      FROM documents
    ),
    bits AS (
      SELECT doc_id, j,
             CASE WHEN CAST(('0x' || substr(md5(t), j + 1, 1)) AS INTEGER) % 2 = 1
                  THEN 1 ELSE -1 END AS vote
      FROM tok, unnest(range(0, {_SIMHASH_BITS})) AS u(j)
      WHERE t <> ''
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END * (1 << CAST(j AS INTEGER))) AS BIGINT)
               AS simhash
    FROM (SELECT doc_id, j, sum(vote) AS s FROM bits GROUP BY doc_id, j)
    GROUP BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprint (`_SIMHASH_BITS`-bit, md5-nibble parity votes):
    per-bit majority over the document's distinct tokens. Near-dups land at
    small Hamming distance; the fingerprint doubles as a dedup shard key."""
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias("t"),
    ).filter(F.col("t") != "")
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("j"),
        "t",
    ).withColumn(
        "vote",
        F.when(
            F.conv(F.substring(F.md5("t"), F.col("j") + 1, 1), 16, 10).cast("int") % 2
            == 1,
            1,
        ).otherwise(-1),
    )
    per_bit = bits.groupBy("doc_id", "j").agg(F.sum("vote").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(F.expr("IF(s > 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))"))
        .cast("bigint")
        .alias("simhash")
    )


# ---- 6. embedding-cosine near-dup --------------------------------------
# Candidates come from the SAME multi-table hyperplane LSH index as
# knn_lsh_topk (similarity.py); a vector is a dup of its smallest-id
# LSH-neighbor above the cosine threshold. This is the first iteration of
# min-id propagation — full connected components iterate the same
# bucket-keyed join to a fixed point, identical shuffle topology.

_COS_DEDUP_TH = 0.35


def _embedding_dedup_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    nbr AS (
      SELECT va AS vec_id, min(vb) AS min_nbr
      FROM cand WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
      GROUP BY va
    )
    SELECT e.vec_id,
           coalesce(n.min_nbr, e.vec_id)                     AS canonical_id,
           CASE WHEN n.min_nbr IS NULL THEN 0 ELSE 1 END     AS is_dup
    FROM embeddings e LEFT JOIN nbr n USING (vec_id)
    """


@query("dedup_embedding_cosine", oracle=_embedding_dedup_oracle())
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup: LSH-bucketed candidate pairs (never the
    n² cross product), exact cosine above `_COS_DEDUP_TH` confirms, each
    vector collapses to its smallest-id confirmed neighbor. Fully oracled —
    DuckDB rebuilds the identical md5-plane LSH index and thresholding.

    100 TB shape: candidate generation shuffles on (table, bucket); the
    confirm join is within-bucket only; min-id collapse is one groupBy.
    Per-vector L2 norms are computed ONCE before the pair join (not three
    folds per pair) — same doubles, a third of the pairwise flops; the
    oracle's per-pair sqrt(dot(a,a)) is bitwise-identical because the
    sequential fold is deterministic."""
    e = T(spark, sf_dir, "embeddings")
    nbr = (
        _confirmed_cosine_pairs(spark, sf_dir)
        .groupBy(F.col("va").alias("vec_id"))
        .agg(F.min("vb").alias("min_nbr"))
    )
    return e.join(nbr, "vec_id", "left").select(
        "vec_id",
        F.coalesce("min_nbr", "vec_id").alias("canonical_id"),
        F.when(F.col("min_nbr").isNull(), 0).otherwise(1).alias("is_dup"),
    )


def _confirmed_cosine_pairs(spark, sf_dir, th=_COS_DEDUP_TH):
    """(va, vb) with va > vb: distinct LSH-candidate pairs whose exact
    cosine exceeds the threshold. Candidate generation carries ONLY ids
    through the bucket join + the multi-table DISTINCT (two longs per row,
    not 2×64 floats); vectors are re-attached once per distinct pair for
    exactly one scoring fold each — the 100 TB candidate-verify topology
    (generate cheap, verify narrow; measured 2.9× over carrying arrays)."""
    from .similarity import dot_fold, lsh_table_buckets

    e = T(spark, sf_dir, "embeddings")
    tb = lsh_table_buckets(e.select("vec_id", "embedding"))
    # Within-bucket pair generation via groupBy + nested array transforms
    # instead of a bucket self-join: the signature table is computed ONCE
    # (a self-join evaluates the whole signature pipeline per side) and one
    # shuffle on (table, bucket) replaces the join exchange. Bucket sizes
    # are occupancy-bounded (k tracks corpus size), so the per-bucket pair
    # blowup is ~occ²/2, never a hot-key quadratic.
    ids = tb.groupBy("table", "bucket").agg(
        F.collect_list("vec_id").alias("ids")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x: F.transform(
                F.filter(F.col("ids"), lambda y: y < x),
                lambda y: F.struct(x.alias("va"), y.alias("vb")),
            ),
        )
    )
    pairs = (
        ids.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.va").alias("va"), F.col("p.vb").alias("vb"))
        .distinct()
    )
    withnorm = e.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    ea = withnorm.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    eb = withnorm.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot_fold(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        # Quantized membership cut (repo epsilon discipline): a cosine within
        # cross-engine float noise of the threshold must not flip pair
        # membership vs the oracle — both sides compare round(sim+1e-9, 6).
        pairs.join(ea, "va").join(eb, "vb")
        .filter(F.round(sim + F.lit(1e-9), 6) > F.lit(th))
        .select("va", "vb")
    )


def _symmetric_edges(pairs):
    """(s, d): both directions of each undirected (va, vb) pair."""
    return pairs.select(F.col("va").alias("s"), F.col("vb").alias("d")).unionByName(
        pairs.select(F.col("vb").alias("s"), F.col("va").alias("d"))
    )


# ---- 7. connected-components dedup (fixpoint) ---------------------------


def _cc_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH RECURSIVE {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    confirmed AS (
      SELECT c.va, c.vb FROM cand c
      JOIN embeddings x ON x.vec_id = c.va
      JOIN embeddings y ON y.vec_id = c.vb
      WHERE round({_cos_sql('x.embedding', 'y.embedding')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    edges AS (
      SELECT va AS s, vb AS d FROM confirmed
      UNION ALL SELECT vb, va FROM confirmed
    ),
    reach(v, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
    )
    SELECT v AS vec_id,
           min(r)                                        AS component_id,
           CASE WHEN min(r) = v THEN 1 ELSE 0 END        AS is_canonical
    FROM reach GROUP BY v
    """


def cc_fixpoint(labels, edges, max_rounds: int = 30):
    """Min-label propagation + path-halving to the fixed point; returns
    ``(labels, rounds)`` where ``rounds`` counts executed rounds INCLUDING
    the final no-change round that proves convergence.

    Round-count contract (pinned by tests/test_round8_ops.py on a
    worst-case single long chain): each round combines one neighbor hop
    with one pointer jump (label <- label[label]), so the propagated
    min-label's reach at least doubles per round — convergence in
    ceil(log2(diameter)) + 2 rounds (the +2: the reach-1 seeding round
    and the no-change detection round), NOT O(diameter). This is the bound
    that keeps the sf1 canary ratio ~linear in data, independent of
    component shape.

    Convergence detector: labels only ever DECREASE elementwise, so the
    label sum is strictly monotone until the fixed point — one scalar agg
    per round replaces a join+filter+count change detector (half the
    per-round driver actions; ids < 2^31 keep the bigint sum safe).
    Both inputs must arrive materialized; each round's labels are
    re-materialized (persist alone leaves the logical plan nesting every
    prior round's joins — by ~10 rounds plan compilation itself OOMs)."""
    prev_sum = None
    rounds = 0
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges["d"] == labels["vec_id"])
            .groupBy(F.col("s").alias("vec_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.join(nbr_min, "vec_id", "left").select(
            "vec_id",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        # Pointer jumping (path halving): label <- label[label]. Chains
        # collapse in O(log diameter) rounds instead of O(diameter) — the
        # standard Pregel-CC acceleration; the fixed point (min reachable
        # id) is unchanged, which the recursive-CTE oracle verifies.
        ptr = hop.select(
            F.col("vec_id").alias("p"), F.col("label").alias("plabel")
        )
        new_labels = materialize(
            hop.join(ptr, hop["label"] == ptr["p"], "left")
            .select(
                "vec_id",
                F.least("label", F.coalesce("plabel", "label")).alias("label"),
            )
        )
        cur_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        rounds += 1
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, rounds


@query("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark, sf_dir):
    """Transitive-closure dedup: connected components over the confirmed
    cosine-similarity graph, each vector labeled with the SMALLEST id
    reachable through any chain of near-dups (A~B, B~C ⇒ {A,B,C} collapse
    even when A≁C — what single-pass min-neighbor misses).

    Spark side: iterative min-label propagation (the Pregel/GraphX
    ``connectedComponents`` algorithm as DataFrame joins) to a fixed point —
    per round ONE shuffle keyed by vertex; the driver only reads the
    converged-yet? count. Each round's labels are materialized: persist()
    alone leaves the *logical plan* growing (every round nests the
    previous round's joins), and by ~10 rounds plan compilation/rendering
    itself OOMs — cutting the lineage to the stored result is the standard
    fix for iterative DataFrame algorithms. Oracle: DuckDB recursive CTE
    computing min reachable id — an independent transitive-closure
    implementation."""
    e = T(spark, sf_dir, "embeddings")
    edges = materialize(_symmetric_edges(_confirmed_cosine_pairs(spark, sf_dir)))
    labels = materialize(e.select("vec_id", F.col("vec_id").alias("label")))
    labels, _rounds = cc_fixpoint(labels, edges)
    return labels.select(
        "vec_id",
        F.col("label").alias("component_id"),
        F.when(F.col("label") == F.col("vec_id"), 1).otherwise(0).alias("is_canonical"),
    )


# ---- 8. PageRank over the near-dup graph (fixed-iteration, oracled) -----

_PR_DAMP = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration power method in pure SQL: one CTE pair
    (dangling-mass scalar, next rank vector) per iteration, over the SAME
    md5-plane LSH candidate graph as ``_embedding_dedup_oracle``. Constants
    are embedded via ``repr`` so the Python-float arithmetic the Spark side
    does ((1-0.85) is not 0.15 in IEEE754) is reproduced bit-for-bit; the
    9-dp permille rounding then absorbs summation-order noise."""
    from .similarity import _cos_sql, lsh_tb_cte_sql
    parts = [
        f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    pairs AS (
      SELECT va, vb FROM cand WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    edges AS MATERIALIZED (
      SELECT va AS s, vb AS d FROM pairs
      UNION ALL
      SELECT vb AS s, va AS d FROM pairs
    ),
    deg AS MATERIALIZED (SELECT s, count(*) AS outdeg FROM edges GROUP BY s),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    r0 AS (
      SELECT vec_id, 1.0 / (SELECT n FROM nv) AS rank FROM embeddings
    )"""
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    d{i} AS (
      SELECT coalesce(sum(r.rank), 0.0) AS dm
      FROM {prev} r LEFT JOIN deg ON r.vec_id = deg.s
      WHERE deg.s IS NULL
    ),
    r{i} AS MATERIALIZED (
      SELECT e.vec_id,
             {(1 - _PR_DAMP)!r} / (SELECT n FROM nv)
             + {_PR_DAMP!r} * (coalesce(c.in_rank, 0.0)
                               + (SELECT dm FROM d{i}) / (SELECT n FROM nv))
                 AS rank
      FROM embeddings e
      LEFT JOIN (
        SELECT ed.d AS vec_id, sum(r.rank / dg.outdeg) AS in_rank
        FROM edges ed
        JOIN deg dg ON ed.s = dg.s
        JOIN {prev} r ON ed.s = r.vec_id
        GROUP BY ed.d
      ) c ON e.vec_id = c.vec_id
    )"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
    SELECT vec_id, round(rank * 1000 + 1e-12, 9) AS rank_permille
    FROM {prev}
    """
    )
    return "".join(parts)


@query("pagerank_similarity_graph", oracle=_pagerank_oracle())
def pagerank_similarity_graph(spark, sf_dir):
    """PageRank over the confirmed near-dup graph (`_PR_ITERS` fixed
    power-iterations, damping 0.85) — the link-centrality quality signal
    crawl pipelines attach to documents (CommonCrawl host ranks). Isolated
    vertices hold the teleport mass; each iteration is ONE shuffle keyed by
    destination vertex plus a broadcast of the scalar N;
    ``materialize`` truncates the per-round lineage exactly as in
    `dedup_connected_components`.

    Fully oracled: DuckDB replays the identical `_PR_ITERS`
    unrolled iterations over the same LSH-confirmed edge set; per-vertex
    float-sum ordering differs across engines but the graphs are sparse and
    the 9-dp permille rounding absorbs it (verified MATCH at sf0.001 and
    sf0.01). tests/test_pipeline.py still pins the engine-side invariants
    (mass conservation, dangling-node floor, determinism)."""
    e = T(spark, sf_dir, "embeddings")
    n = e.count()
    if n == 0:
        # empty corpus: no teleport denominator — return the empty result
        # with the contract schema instead of a driver-side ZeroDivision
        return e.select(
            "vec_id", (F.col("vec_id") * 0.0).alias("rank_permille")
        )
    edges = materialize(_symmetric_edges(_confirmed_cosine_pairs(spark, sf_dir)))
    deg = materialize(edges.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")))
    ranks = materialize(e.select("vec_id", F.lit(1.0 / n).alias("rank")))
    for _ in range(_PR_ITERS):
        # dangling (no-outlink) vertices redistribute their mass uniformly —
        # without this the total rank leaks every iteration (the graph is
        # sparse: most vectors have no near-dups). One scalar to the driver
        # per round, same cost class as CC's converged? count.
        dangling = (
            ranks.join(deg, ranks["vec_id"] == deg["s"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            edges.join(deg, "s")
            .join(ranks, edges["s"] == ranks["vec_id"])
            .select(
                F.col("d").alias("vec_id"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("vec_id")
            .agg(F.sum("c").alias("in_rank"))
        )
        ranks = materialize(
            e.select("vec_id")
            .join(contrib, "vec_id", "left")
            .select(
                "vec_id",
                (
                    F.lit((1 - _PR_DAMP) / n)
                    + _PR_DAMP
                    * (F.coalesce("in_rank", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
    return ranks.select(
        "vec_id", F.round(F.col("rank") * 1000 + 1e-12, 9).alias("rank_permille")
    )


# ---- 8b. label-propagation communities (fixed-iteration, oracled) -------

_LPA_ITERS = 4


def _lpa_chain_sql() -> str:
    """Unrolled synchronous label propagation CTE chain (shared by the
    LPA oracle and the modularity readout): per iteration, one
    neighbor-label frequency CTE, one per-node argmax (count desc, label
    asc — deterministic), one carry-forward for isolated nodes. Same
    LSH-confirmed edge set as PageRank. Ends at the ``l`` CTE of round
    `_LPA_ITERS`."""
    from .similarity import _cos_sql, lsh_tb_cte_sql

    parts = [
        f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    pairs AS (
      SELECT va, vb FROM cand WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    edges AS MATERIALIZED (
      SELECT va AS s, vb AS d FROM pairs
      UNION ALL
      SELECT vb AS s, va AS d FROM pairs
    ),
    l0 AS (SELECT vec_id, vec_id AS label FROM embeddings)"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
    c{i} AS (
      SELECT e.d AS vec_id, l.label, count(*) AS cnt
      FROM edges e JOIN l{i-1} l ON e.s = l.vec_id
      GROUP BY 1, 2
    ),
    m{i} AS (
      SELECT vec_id, label FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cnt DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ),
    l{i} AS MATERIALIZED (
      SELECT p.vec_id, coalesce(m.label, p.label) AS label
      FROM l{i-1} p LEFT JOIN m{i} m ON p.vec_id = m.vec_id
    )"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    return (
        _lpa_chain_sql()
        + f"""
    SELECT vec_id, CAST(label AS BIGINT) AS community_id
    FROM l{_LPA_ITERS}
    """
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the
    confirmed near-dup graph (`_LPA_ITERS` fixed iterations): every node
    starts in its own community and repeatedly adopts the most frequent
    label among its neighbors, ties broken toward the smallest label so the
    update is fully deterministic (async/random-order LPA is the classic
    nondeterminism trap — fixed-iteration synchronous updates sidestep it
    and make the run exactly reproducible AND oracle-able).

    100 TB shape: per iteration one shuffle keyed by destination vertex
    (the neighbor-label count) + one window argmax partitioned by vertex —
    both partition by high-cardinality vec_id; ``materialize`` bounds
    lineage per round exactly as in connected components. LPA's cost is
    O(edges) per iteration with no global state, which is why it's the
    standard billion-node community algorithm (GraphX/GraphFrames ship the
    same shape)."""
    labels, _edges = _lpa_labels(spark, sf_dir)
    return labels.select(
        "vec_id", F.col("label").cast("bigint").alias("community_id")
    )


def _lpa_labels(spark, sf_dir):
    """Shared synchronous-LPA loop: returns (labels, symmetric edges) —
    reused by graph_label_propagation and graph_community_modularity."""
    from pyspark.sql import Window as W

    e = T(spark, sf_dir, "embeddings")
    edges = materialize(_symmetric_edges(_confirmed_cosine_pairs(spark, sf_dir)))
    labels = e.select("vec_id", F.col("vec_id").alias("label"))
    for _ in range(_LPA_ITERS):
        counts = (
            edges.join(labels, edges["s"] == labels["vec_id"])
            .groupBy(F.col("d").alias("nid"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = W.partitionBy("nid").orderBy(F.desc("cnt"), "label")
        mode = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("nid", F.col("label").alias("new_label"))
        )
        labels = materialize(
            labels.join(mode, labels["vec_id"] == mode["nid"], "left")
            .select(
                "vec_id", F.coalesce("new_label", "label").alias("label")
            )
        )
    return labels, edges


# ---- 9. cluster-size report over the CC dedup ---------------------------


def _cluster_stats_oracle() -> str:
    return f"""
    WITH sizes AS (
      SELECT component_id, count(*) AS cluster_size
      FROM ( {_cc_oracle()} ) comp
      GROUP BY component_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """


@query("dedup_cluster_stats", oracle=_cluster_stats_oracle())
def dedup_cluster_stats(spark, sf_dir):
    """Cluster-size distribution of the connected-components dedup — the
    report a dedup stage actually publishes: for each cluster size, how
    many clusters exist and how many documents dedup would remove
    (size − 1 per cluster keeps one canonical member). Two tiny groupBys
    downstream of CC; the iterative work is all in
    ``dedup_connected_components``, whose labels this consumes."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_removable",
    )


# ---- 10. incremental batch dedup ----------------------------------------
# The production topology: you never re-dedup the 100 TB corpus — you dedup
# the daily increment AGAINST it. Base/increment split here is a derived
# md5 partition of `documents` (increment ≈ 20%), standing in for
# yesterday's corpus vs today's batch.

_INC_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 10"
)


def _batch_bucket():
    """md5 doc bucket in [0, 10) (oracle: ``_INC_BUCKET``): buckets < 8
    are the base corpus, the rest (~20%) today's batch."""
    return md5_int(F.col("doc_id").cast("string")) % 10


def _split_base_batch(d, **cols):
    """(base, batch) of ``d`` by ``_batch_bucket``, each carrying the
    named ``cols``; the base side's doc_id is renamed ``base_id``."""
    hashed = d.select(
        "doc_id", *[c.alias(k) for k, c in cols.items()], _batch_bucket().alias("bk")
    )
    base = hashed.filter(F.col("bk") < 8).select(
        F.col("doc_id").alias("base_id"), *cols
    )
    return base, hashed.filter(F.col("bk") >= 8).select("doc_id", *cols)


def _fingerprinted_split(d):
    """Base/batch split carrying the normalized-text hash ``h`` and the
    prefix fingerprint ``fp`` (32-bit hash of the first 40 normalized
    chars) that the two-tier prefilters screen on."""
    norm = _normalized_text()
    return _split_base_batch(
        d, h=F.md5(norm), fp=F.substring(F.md5(F.substring(norm, 1, 40)), 1, 8)
    )


def _confirm_screened(cand, non, base):
    """Tier 2 of the two-tier prefilters: each ``cand`` batch doc (passed
    the screen) is confirmed against the base by normalized hash, its
    ``dup_of_base`` the min matching base_id; each ``non`` doc was screened
    out. Emits (doc_id, was_candidate, is_dup, dup_of_base)."""
    conf = (
        cand.join(base.select("h", "base_id"), "h", "left")
        .groupBy("doc_id")
        .agg(F.min("base_id").cast("bigint").alias("dup_of_base"))
        .select("doc_id", F.lit(1).alias("was_candidate"), "dup_of_base")
    )
    non = non.select(
        "doc_id",
        F.lit(0).alias("was_candidate"),
        F.lit(None).cast("bigint").alias("dup_of_base"),
    )
    return conf.unionByName(non).select(
        "doc_id",
        "was_candidate",
        F.when(F.col("dup_of_base").isNotNull(), 1).otherwise(0).alias("is_dup"),
        "dup_of_base",
    )


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS h
      FROM documents WHERE {_INC_BUCKET} < 8
    ),
    inc AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS h
      FROM documents WHERE {_INC_BUCKET} >= 8
    )
    SELECT i.doc_id,
           CAST(min(b.doc_id) AS BIGINT) AS dup_of_base,
           CASE WHEN min(b.doc_id) IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM inc i LEFT JOIN base b ON i.h = b.h
    GROUP BY i.doc_id
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental dedup: each document of the new batch is checked against
    the existing corpus by normalized content hash (left join on the hash,
    min base id as the canonical collision). At 100 TB the base side is a
    bucketed-by-hash table, so the increment (orders of magnitude smaller)
    shuffles to the base's layout and the join is co-located — the corpus
    is never re-scanned pairwise, and AQE broadcasts the increment when it
    fits. Base/increment here is a deterministic md5 80/20 split of
    `documents` (the same bucket idiom as split_train_valid_test)."""
    d = T(spark, sf_dir, "documents")
    base, inc = _split_base_batch(d, h=F.md5(_normalized_text()))
    return (
        inc.join(base, "h", "left")
        .groupBy("doc_id")
        .agg(F.min("base_id").cast("bigint").alias("dup_of_base"))
        .select(
            "doc_id",
            "dup_of_base",
            F.when(F.col("dup_of_base").isNotNull(), 1)
            .otherwise(0)
            .alias("is_dup"),
        )
    )


@query(
    "dedup_fingerprint_prefilter",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             md5(nt) AS h,
             substring(md5(substring(nt, 1, 40)), 1, 8) AS fp,
             {_INC_BUCKET} AS bk
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
            FROM documents)
    ),
    base AS (SELECT doc_id AS base_id, h, fp FROM hs WHERE bk < 8),
    inc  AS (SELECT doc_id, h, fp FROM hs WHERE bk >= 8),
    fps  AS (SELECT DISTINCT fp FROM base),
    cand AS (SELECT i.doc_id, i.h FROM inc i SEMI JOIN fps USING (fp)),
    conf AS (
      SELECT c.doc_id, 1 AS was_candidate,
             CAST(min(b.base_id) AS BIGINT) AS dup_of_base
      FROM cand c LEFT JOIN base b ON b.h = c.h
      GROUP BY c.doc_id
    ),
    non AS (
      SELECT i.doc_id, 0 AS was_candidate, CAST(NULL AS BIGINT) AS dup_of_base
      FROM inc i ANTI JOIN fps USING (fp)
    )
    SELECT doc_id, was_candidate,
           CASE WHEN dup_of_base IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
           dup_of_base
    FROM (SELECT * FROM conf UNION ALL SELECT * FROM non)
    """,
)
def dedup_fingerprint_prefilter(spark, sf_dir):
    """Two-tier incremental dedup — the bloom-filter topology with a
    replayable filter: tier 1 screens each new-batch document against a
    COMPACT in-memory index (a 32-bit hash of the first 40 normalized
    chars — 4 bytes/corpus doc, the role a bloom filter's bit array
    plays; a deterministic fingerprint instead of bloom bits so DuckDB
    replays the filter exactly and the candidate set itself is
    hash-oracled, not just bounded); tier 2 confirms surviving candidates
    against the full corpus hash table. The filter guarantees NO false
    negatives structurally (identical texts have identical prefixes ⇒
    identical fingerprints), so tier 2's left join decides truth; false
    positives — shared-prefix near-dups and 32-bit collisions
    (was_candidate=1, is_dup=0) — cost exactly one extra probe each: the
    bloom trade, made visible per document.

    100 TB shape: the fingerprint tier is what lets the confirm tier scale
    — tier 1 eliminates ~all genuinely-new documents with a broadcast
    semi-join against the 4-byte/doc set (when the set outgrows a
    broadcast, the registered ``dedup_bloom_prefilter`` variant is the
    upgrade path: a true m-bit/k-hash bloom at ~2 bytes/key, confirm tier
    pytest-pinned equal to this one), and only the tiny candidate stream
    shuffles to the corpus hash table's bucketed layout. Cites
    dedup_incremental_batch's 80/20 md5 split (same base/batch
    stand-in)."""
    base, inc = _fingerprinted_split(T(spark, sf_dir, "documents"))
    fps = base.select("fp").distinct()
    return _confirm_screened(
        inc.join(F.broadcast(fps), "fp", "left_semi"),
        inc.join(F.broadcast(fps), "fp", "left_anti"),
        base,
    )


# ---- bloom-filter prefilter (the stated upgrade path) --------------------

_BLOOM_K = 3             # hash functions
_BLOOM_BITS_PER_KEY = 16 # m = 16 * |base fp set|  => ~0.1% fp rate at k=3


def _bloom_oracle() -> str:
    pos = (
        "CAST(('0x' || substr(md5(fp || ':' || CAST(i AS VARCHAR)), 1, 15))"
        " AS BIGINT) % (SELECT m FROM mtab)"
    )
    return f"""
    WITH hs AS (
      SELECT doc_id,
             md5(nt) AS h,
             substring(md5(substring(nt, 1, 40)), 1, 8) AS fp,
             {_INC_BUCKET} AS bk
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
            FROM documents)
    ),
    base AS (SELECT doc_id AS base_id, h, fp FROM hs WHERE bk < 8),
    inc  AS (SELECT doc_id, h, fp FROM hs WHERE bk >= 8),
    fps  AS (SELECT DISTINCT fp FROM base),
    mtab AS (SELECT count(*) * {_BLOOM_BITS_PER_KEY} AS m FROM fps),
    seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS i),
    bits AS (SELECT DISTINCT {pos} AS pos FROM fps CROSS JOIN seeds),
    probe AS (SELECT doc_id, h, {pos} AS pos FROM inc CROSS JOIN seeds),
    screened AS (
      SELECT doc_id, h,
             min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS allhit
      FROM probe p LEFT JOIN bits b ON p.pos = b.pos
      GROUP BY doc_id, h
    ),
    conf AS (
      SELECT s.doc_id, 1 AS was_candidate,
             CAST(min(b.base_id) AS BIGINT) AS dup_of_base
      FROM screened s LEFT JOIN base b ON b.h = s.h
      WHERE s.allhit = 1
      GROUP BY s.doc_id
    ),
    non AS (
      SELECT doc_id, 0 AS was_candidate, CAST(NULL AS BIGINT) AS dup_of_base
      FROM screened WHERE allhit = 0
    )
    SELECT doc_id, was_candidate,
           CASE WHEN dup_of_base IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
           dup_of_base
    FROM (SELECT * FROM conf UNION ALL SELECT * FROM non)
    """


@query("dedup_bloom_prefilter", oracle=_bloom_oracle())
def dedup_bloom_prefilter(spark, sf_dir):
    """The bloom-tier topology dedup_fingerprint_prefilter's docstring
    names as the past-broadcast upgrade path:
    tier 1 is a REAL m-bit / k=`_BLOOM_K`-hash bloom filter over the base
    corpus's prefix fingerprints — m = `_BLOOM_BITS_PER_KEY`·|fp set| bits
    (~2 bytes/key vs the fp table's 4), k md5-derived bit positions per key,
    a document survives only if ALL k of its positions are set. Spark's
    internal ``bloom_filter_agg``/``might_contain`` pair implements exactly
    this shape but is not in the public function registry of this build
    (probed: UNRESOLVED_ROUTINE), so the bit array is computed as a
    distinct-positions table — which also makes the filter REPLAYABLE:
    DuckDB rebuilds the identical bit set, so the candidate tier itself is
    hash-oracled, not just bounded (no other bloom implementation could be
    graded this hard). No false negatives structurally: a base key's
    positions are all set by construction, so an identical incoming
    fingerprint always passes; false positives (k-position collisions) cost
    one confirm probe each and the rate is tunable by m — the textbook bloom
    trade.

    100 TB: the bits relation is ~`_BLOOM_BITS_PER_KEY` bits/key regardless of key
    width and ships as a broadcast (or, past driver memory, stays a
    shuffle semi-join on `pos` — the same plan shape, no rewrite); the
    probe explodes each batch doc into k narrow (pos) rows, so tier-1
    cost is k·|batch|, never corpus-sized; tier 2 is identical to the fp
    variant (pytest-pinned equal on the confirm columns)."""
    base, inc = _fingerprinted_split(T(spark, sf_dir, "documents"))
    fps = base.select("fp").distinct()
    mtab = fps.agg(
        (F.count(F.lit(1)) * _BLOOM_BITS_PER_KEY).cast("bigint").alias("m")
    )
    seeds = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("i"))
    pos = (
        md5_int(F.concat(F.col("fp"), F.lit(":"), F.col("i").cast("string")))
        % F.col("m")
    )
    bits = (
        fps.crossJoin(F.broadcast(mtab))
        .crossJoin(F.broadcast(seeds))
        .select(pos.alias("pos"))
        .distinct()
    )
    screened = (
        inc.crossJoin(F.broadcast(mtab))
        .crossJoin(F.broadcast(seeds))
        .select("doc_id", "h", pos.alias("pos"))
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "h")
        .agg(F.min(F.coalesce("hit", F.lit(0))).alias("allhit"))
    )
    return _confirm_screened(
        screened.filter(F.col("allhit") == 1),
        screened.filter(F.col("allhit") == 0),
        base,
    )


# ---- 11. cross-modal near-dup confirm -----------------------------------


def _semantic_confirm_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    pairs AS (
      SELECT va, vb FROM cand WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    sh AS (
      SELECT doc_id, list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1]))) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents)
    )
    SELECT p.va, p.vb,
           round(len(list_intersect(sa.s, sb.s)) * 1.0
                 / nullif(len(list_distinct(sa.s || sb.s)), 0), 6) AS jaccard,
           CASE WHEN len(list_intersect(sa.s, sb.s)) * 1.0
                     / nullif(len(list_distinct(sa.s || sb.s)), 0) >= 0.05
                THEN 1 ELSE 0 END AS text_confirmed
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.va
    JOIN sh sb ON sb.doc_id = p.vb
    """


@query("dedup_semantic_text_confirm", oracle=_semantic_confirm_oracle())
def dedup_semantic_text_confirm(spark, sf_dir):
    """Cross-modal near-dup confirm (the CCNet-style composition): pairs
    that the embedding LSH + cosine stage confirmed are re-scored on the
    TEXT side with exact 2-gram Jaccard (vec_id ≡ doc_id in the testdata),
    flagging which semantic dups are also lexical dups. Disagreement
    between the two modalities is the interesting signal — paraphrases
    pass cosine but fail Jaccard.

    Scale: candidate pairs come from the bucketed LSH stage (never n²);
    each side's shingle SET attaches by doc-id equi-join and the Jaccard
    is a per-row array_intersect/array_union — map-side after the two
    joins. No explode: per-doc shingle arrays stay packed."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    pairs = _confirmed_cosine_pairs(spark, sf_dir)
    sa = docs.select(F.col("doc_id").alias("va"), F.col("sh").alias("sha"))
    sb = docs.select(F.col("doc_id").alias("vb"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    jac = inter * 1.0 / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        pairs.join(sa, "va")
        .join(sb, "vb")
        .select(
            "va",
            "vb",
            F.round(jac, 6).alias("jaccard"),
            F.when(jac >= 0.05, 1).otherwise(0).alias("text_confirmed"),
        )
    )


# ---- 12. triangle count over the near-dup graph -------------------------

# Looser threshold than the dedup collapse: at 0.35 the graph is triangle-
# free at test SFs (vacuous result); 0.25 keeps the op non-vacuous while
# still bucketed-LSH-bounded.
_TRI_TH = 0.25


def _triangle_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    ed AS (
      SELECT vb AS lo, va AS hi FROM cand
      WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_TRI_TH}
    ),
    tri AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM ed e1
      JOIN ed e2 ON e2.lo = e1.hi
      JOIN ed e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    )
    SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS vertex FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY vertex
    """


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark, sf_dir):
    """Per-vertex triangle counts over the confirmed near-dup graph — the
    clustering-coefficient numerator (dense triangles ⇒ tight dup
    clusters; an open wedge that never closes ⇒ chain-shaped borderline
    similarity). Ordered-edge join (lo<hi throughout) enumerates each
    triangle exactly once: e(a,b)⋈e(b,c)⋈e(a,c) with a<b<c.

    Scale: the canonical two-join triangle enumeration — both joins key on
    a vertex, so work ∝ Σ deg(v)² (wedges), never |V|³; at web scale add
    the standard degree-ordering so high-degree vertices are always the
    closing side."""
    pairs = _confirmed_cosine_pairs(spark, sf_dir, th=_TRI_TH)
    ed = materialize(
        pairs.select(F.col("vb").alias("lo"), F.col("va").alias("hi"))
    )
    e1, e2, e3 = ed.alias("e1"), ed.alias("e2"), ed.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.hi") == F.col("e2.lo"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


# ---- structural (SCAN-style) edge similarity ----------------------------


def _node_jaccard_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    confirmed AS (
      SELECT va, vb FROM cand
      WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    sym AS (
      SELECT va AS s, vb AS d FROM confirmed
      UNION ALL SELECT vb, va FROM confirmed
    ),
    deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
    common AS (
      SELECT c.va, c.vb, count(*) AS cn
      FROM confirmed c
      JOIN sym x ON x.s = c.va
      JOIN sym y ON y.s = c.vb AND y.d = x.d
      GROUP BY c.va, c.vb
    )
    SELECT c.va, c.vb,
           CAST(da.deg AS BIGINT) AS deg_a,
           CAST(db.deg AS BIGINT) AS deg_b,
           CAST(coalesce(m.cn, 0) AS BIGINT) AS common_neighbors,
           round(coalesce(m.cn, 0) * 1.0
                 / (da.deg + db.deg - coalesce(m.cn, 0)) + 1e-9, 6)
               AS jaccard
    FROM confirmed c
    JOIN deg da ON da.s = c.va
    JOIN deg db ON db.s = c.vb
    LEFT JOIN common m ON m.va = c.va AND m.vb = c.vb
    """


@query("graph_node_jaccard", oracle=_node_jaccard_oracle())
def graph_node_jaccard(spark, sf_dir):
    """Structural similarity of each confirmed near-dup edge: Jaccard of
    the endpoints' (open) neighbor sets — SCAN-style graph clustering's
    core measure. Low-Jaccard edges are bridges between otherwise separate
    duplicate clusters (candidates for cutting before transitive-closure
    dedup over-merges); high-Jaccard edges sit inside dense near-dup
    communities.

    100 TB shape: common neighbors come from ONE wedge join keyed on the
    shared neighbor (sym.d) — the same degree-bounded topology as
    graph_triangle_count, never an all-pairs comparison; degrees are a
    single groupBy. The edge list is LSH-bucket-generated and
    materialized once, then reused by all three joins."""
    pairs = materialize(_confirmed_cosine_pairs(spark, sf_dir))
    sym = _symmetric_edges(pairs)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    x = sym.select(F.col("s").alias("va"), F.col("d").alias("w"))
    y = sym.select(F.col("s").alias("vb"), F.col("d").alias("w"))
    common = (
        pairs.join(x, "va").join(y, ["vb", "w"])
        .groupBy("va", "vb")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    da = deg.select(F.col("s").alias("va"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("s").alias("vb"), F.col("deg").alias("deg_b"))
    cn = F.coalesce("cn", F.lit(0))
    return (
        pairs.join(da, "va").join(db, "vb").join(common, ["va", "vb"], "left")
        .select(
            "va",
            "vb",
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            cn.cast("bigint").alias("common_neighbors"),
            F.round(
                cn * 1.0 / (F.col("deg_a") + F.col("deg_b") - cn) + F.lit(1e-9),
                6,
            ).alias("jaccard"),
        )
    )


# ---- k-core decomposition (iterative peel) -------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    parts = [
        f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    confirmed AS (
      SELECT va, vb FROM cand
      WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_COS_DEDUP_TH}
    ),
    e0 AS MATERIALIZED (
      SELECT va AS s, vb AS d FROM confirmed
      UNION ALL SELECT vb, va FROM confirmed
    )"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    v{i} AS MATERIALIZED (
      SELECT s AS v FROM e{i-1} GROUP BY s
      HAVING count(*) >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.s, e.d FROM e{i-1} e
      JOIN v{i} x ON e.s = x.v
      JOIN v{i} y ON e.d = y.v
    )"""
        )
    parts.append(
        f"""
    SELECT emb.vec_id,
           CASE WHEN v.v IS NOT NULL THEN 1 ELSE 0 END AS in_core,
           CAST(coalesce(dg.deg, 0) AS BIGINT)          AS core_degree
    FROM embeddings emb
    LEFT JOIN v{_KCORE_ROUNDS} v ON emb.vec_id = v.v
    LEFT JOIN (SELECT s, count(*) AS deg FROM e{_KCORE_ROUNDS} GROUP BY s) dg
           ON emb.vec_id = dg.s
    """
    )
    return "".join(parts)


@query("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership(spark, sf_dir):
    """`_KCORE_K`-core decomposition of the confirmed near-dup graph by iterative
    peeling (`_KCORE_ROUNDS` fixed rounds): repeatedly drop vertices with
    degree < `_KCORE_K` and the edges touching them. The surviving core is
    the dense duplicate-mass region (clusters worth aggressive collapse);
    peeled vertices are weakly-attached near-dups that transitive closure
    would over-merge. Emits per vector the core verdict and its within-core
    degree.

    100 TB shape: each peel round is one groupBy(vertex) degree count plus
    one semi-join of edges against surviving vertices — O(edges) per
    round, the same bounded-iteration discipline as PageRank/LPA, lineage
    cut per round with materialize; the oracle unrolls the identical
    `_KCORE_ROUNDS` rounds."""
    e = T(spark, sf_dir, "embeddings")
    edges = materialize(_symmetric_edges(_confirmed_cosine_pairs(spark, sf_dir)))
    surv = None
    for _ in range(_KCORE_ROUNDS):
        surv = materialize(
            edges.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("s").alias("v"))
        )
        edges = materialize(
            edges.join(surv.withColumnRenamed("v", "s"), "s", "left_semi")
            .join(surv.withColumnRenamed("v", "d"), "d", "left_semi")
        )
    # core membership = the final round's degree-filtered vertex set (a
    # vertex can survive the round-R cut yet lose its last edges when its
    # neighbors are peeled in the same round — it is still in the round-R
    # core; one more round would peel it)
    core_v = surv
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    return (
        e.select("vec_id")
        .join(core_v, e["vec_id"] == core_v["v"], "left")
        .join(deg, e["vec_id"] == deg["s"], "left")
        .select(
            "vec_id",
            F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("in_core"),
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("core_degree"),
        )
    )


# ---- dedup threshold-sensitivity sweep -----------------------------------

_SWEEP_THRESHOLDS = (0.05, 0.1, 0.15, 0.2, 0.3)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH sh0 AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents WHERE doc_id < 120)
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING count(*) > {_JACCARD_MAX_DF}
    ),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT doc_a, doc_b,
             c * 1.0 / (sa.n + sb.n - c) AS jacc
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    th AS (SELECT CAST(unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}])
                       AS DOUBLE) AS threshold)
    SELECT t.threshold,
           CAST(count(CASE WHEN p.jacc >= t.threshold THEN 1 END) AS BIGINT)
               AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.jacc >= t.threshold
                                    THEN p.doc_b END) AS BIGINT)
               AS n_docs_removed
    FROM th t CROSS JOIN pairs p
    GROUP BY t.threshold
    """,
)
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup aggressiveness curve: for a ladder of Jaccard cutoffs, how
    many near-dup pairs fire and how many documents the min-id rule would
    remove — the sensitivity report a data team reads BEFORE picking the
    production threshold (too low ⇒ real content removed; too high ⇒
    boilerplate survives). The pairwise Jaccard table (shared-shingle
    keyed, df-cut — dedup_ngram_jaccard's exact topology) is computed ONCE
    and swept against the broadcast threshold ladder; each Jaccard is a
    ratio of exact integers, so the ≥-cuts are bit-identical across
    engines with no epsilon games."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    pairs = _shingle_overlap(_cut_hot(_shingle_rows(d))).select(
        "doc_a",
        "doc_b",
        (F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))).alias("jacc"),
    )
    th = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], ["threshold"]
    )
    fired = F.when(F.col("jacc") >= F.col("threshold"), 1)
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.count(fired).cast("bigint").alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("jacc") >= F.col("threshold"), F.col("doc_b"))
            )
            .cast("bigint")
            .alias("n_docs_removed"),
        )
    )


# ---- MinHash index quality evaluation ------------------------------------

_EVAL_TH = 0.2  # ground-truth Jaccard cutoff


@query(
    "dedup_minhash_eval",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents WHERE doc_id < 500)
    ),
    clean AS (SELECT * FROM sh WHERE shingle <> ''),
    sizes AS (SELECT doc_id, count(*) AS n FROM clean GROUP BY doc_id),
    truth AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM clean a JOIN clean b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= {_EVAL_TH}
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS ha,
             CAST(('0x' || substr(md5(shingle), 17, 15)) AS BIGINT)
               % {MINHASH_P} AS hb
      FROM clean
    ),
    sig AS (
      SELECT doc_id, seed,
             CAST(min((ha + (seed + 1) * hb) % {MINHASH_P}) AS VARCHAR)
                 AS minhash
      FROM hashed, unnest(range(0, {N_HASHES})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed / {BAND_ROWS}) AS INTEGER) AS band,
             md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, 2
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    tp AS (SELECT count(*) AS c FROM cand JOIN truth USING (doc_a, doc_b))
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT)  AS n_candidates,
           CAST((SELECT c FROM tp) AS BIGINT)           AS true_positives,
           round(coalesce((SELECT c FROM tp) * 1.0
                 / nullif((SELECT count(*) FROM cand), 0), 0.0) + 1e-9, 6)
               AS precision,
           round(coalesce((SELECT c FROM tp) * 1.0
                 / nullif((SELECT count(*) FROM truth), 0), 0.0) + 1e-9, 6)
               AS recall
    """,
)
def dedup_minhash_eval(spark, sf_dir):
    """Index-quality evaluation of the MinHash-LSH candidate generator:
    on a bounded slice, compare its candidate pairs against exact-Jaccard
    ground truth (>= `_EVAL_TH`) and report precision/recall — the measurement a
    data team runs before trusting an approximate index at 100 TB, here as
    an ORACLED query (both the index and the truth are deterministic, so
    even the evaluation hash-matches). Exact pairwise truth is affordable
    only on the slice — which is precisely how production evals work:
    sample a block, brute-force it, score the index against it. All
    counts are exact integers; P/R are ratios of those integers."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sh = _shingle_rows(d).filter(F.col("shingle") != "")
    truth = (
        _shingle_overlap(sh)
        .filter(F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c")) >= _EVAL_TH)
        .select("doc_a", "doc_b")
    )
    cand = _lsh_pairs(lsh_bands(minhash_signatures(d)))
    n_truth = truth.agg(F.count(F.lit(1)).alias("v"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("v"))
    n_tp = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("v")
    )
    t = F.broadcast(n_truth.select(F.col("v").alias("n_truth")))
    c = F.broadcast(n_cand.select(F.col("v").alias("n_candidates")))
    p = F.broadcast(n_tp.select(F.col("v").alias("true_positives")))
    return (
        t.crossJoin(c)
        .crossJoin(p)
        .select(
            F.col("n_truth").cast("bigint"),
            F.col("n_candidates").cast("bigint"),
            F.col("true_positives").cast("bigint"),
            F.round(
                F.coalesce(
                    F.col("true_positives")
                    * 1.0
                    / F.nullif(F.col("n_candidates"), F.lit(0)),
                    F.lit(0.0),
                )
                + F.lit(1e-9),
                6,
            ).alias("precision"),
            F.round(
                F.coalesce(
                    F.col("true_positives")
                    * 1.0
                    / F.nullif(F.col("n_truth"), F.lit(0)),
                    F.lit(0.0),
                )
                + F.lit(1e-9),
                6,
            ).alias("recall"),
        )
    )


# ---- dedup ladder funnel report ------------------------------------------

_LADDER_JACC_TH = 0.5


def _ladder_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH k1 AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents WHERE doc_id IN (SELECT doc_id FROM k1))
    ),
    clean AS MATERIALIZED (SELECT * FROM sh WHERE shingle <> ''),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS ha,
             CAST(('0x' || substr(md5(shingle), 17, 15)) AS BIGINT)
               % {MINHASH_P} AS hb
      FROM clean
    ),
    sig AS (
      SELECT doc_id, seed,
             CAST(min((ha + (seed + 1) * hb) % {MINHASH_P}) AS VARCHAR)
                 AS minhash
      FROM hashed, unnest(range(0, {N_HASHES})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed / {BAND_ROWS}) AS INTEGER) AS band,
             md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    -- Jaccard via pre-aggregated COUNTS, not per-pair shingle LISTS: the
    -- r8 sf1 sweep OOMed (37 GiB) materializing list(shingle) per doc and
    -- re-shipping both lists on every candidate pair. clean is referenced
    -- 3x so DuckDB materializes it once; inter/sizes are plain hash
    -- aggregates that spill. |A∩B| from the pair×shingle equi-join,
    -- |A∪B| = |A|+|B|-|A∩B| (shingles are per-doc distinct).
    sizes AS (SELECT doc_id, count(*) AS ns FROM clean GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ni
      FROM cand c
      JOIN clean sa ON sa.doc_id = c.doc_a
      JOIN clean sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    confirmed2 AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.ni * 1.0 / nullif(za.ns + zb.ns - i.ni, 0)
            >= {_LADDER_JACC_TH}
    ),
    removed2 AS MATERIALIZED (
      SELECT DISTINCT doc_b AS doc_id FROM confirmed2),
    k2 AS MATERIALIZED (SELECT doc_id FROM k1 WHERE doc_id NOT IN
           (SELECT doc_id FROM removed2)),
    {lsh_tb_cte_sql()},
    -- pairs-only DISTINCT, embeddings joined back per surviving pair:
    -- carrying both embedding ARRAYS through the bucket self-join's
    -- DISTINCT held ~10M pre-distinct pairs x 2 vectors in memory and was
    -- the residual sf1 OOM after the minhash stage was count-ified
    ecand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
      WHERE a.vec_id IN (SELECT doc_id FROM k2)
        AND b.vec_id IN (SELECT doc_id FROM k2)
    ),
    confirmed3 AS MATERIALIZED (
      SELECT e.va, e.vb
      FROM ecand e
      JOIN embeddings pa ON pa.vec_id = e.va
      JOIN embeddings pb ON pb.vec_id = e.vb
      WHERE round({_cos_sql('pa.embedding', 'pb.embedding')} + 1e-9, 6)
            > {_COS_DEDUP_TH}
    ),
    removed3 AS (SELECT DISTINCT va AS doc_id FROM confirmed3),
    n AS (
      SELECT (SELECT count(*) FROM documents)  AS n0,
             (SELECT count(*) FROM k1)         AS n1,
             (SELECT count(*) FROM removed2)   AS r2,
             (SELECT count(*) FROM k2)         AS n2,
             (SELECT count(*) FROM removed3
               WHERE doc_id IN (SELECT doc_id FROM k2)) AS r3
      )
    SELECT * FROM (
      SELECT 1 AS stage, 'exact' AS method,
             CAST(n0 AS BIGINT) AS docs_in,
             CAST(n0 - n1 AS BIGINT) AS docs_removed,
             CAST(n1 AS BIGINT) AS docs_out
      FROM n
      UNION ALL
      SELECT 2, 'minhash_jaccard', CAST(n1 AS BIGINT),
             CAST(r2 AS BIGINT), CAST(n2 AS BIGINT) FROM n
      UNION ALL
      SELECT 3, 'embedding_cosine', CAST(n2 AS BIGINT),
             CAST(r3 AS BIGINT), CAST(n2 - r3 AS BIGINT) FROM n
    )
    """


@query("dedup_ladder_report", oracle=_ladder_oracle())
def dedup_ladder_report(spark, sf_dir):
    """The production dedup LADDER as one composed dataflow, reported as a
    funnel: (1) exact content-hash dedup, (2) MinHash-LSH candidates
    confirmed by exact shingle Jaccard >= `_LADDER_JACC_TH` (cheap surface dup), (3)
    embedding-cosine near-dup among the survivors (semantic dup) — each
    stage consuming the previous stage's survivor set, which is how the
    stages interact in a real 100 TB corpus build (cheapest filter first,
    each later stage sees less data). Direct min-id collapse per stage
    (the transitive-closure variant is dedup_connected_components). The
    composition — survivor-set threading included — is hash-checked
    against the oracle replaying the identical three stages."""
    d = T(spark, sf_dir, "documents")
    k1 = materialize(
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = d.join(k1, "doc_id", "left_semi")
    cand = _lsh_pairs(lsh_bands(minhash_signatures(d1)))
    packed = d1.select(
        "doc_id",
        F.filter(shingles(F.col("text")), lambda x: x != "").alias("s"),
    )
    pa = packed.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    pb = packed.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    jacc = F.size(F.array_intersect("sa", "sb")) * 1.0 / F.nullif(
        F.size(F.array_union("sa", "sb")), F.lit(0)
    )
    confirmed2 = (
        cand.join(pa, "doc_a").join(pb, "doc_b")
        .filter(jacc >= _LADDER_JACC_TH)
        .select("doc_a", "doc_b")
    )
    removed2 = materialize(
        confirmed2.select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    k2 = materialize(k1.join(removed2, "doc_id", "left_anti"))
    epairs = _confirmed_cosine_pairs(spark, sf_dir)
    k2v = k2.select(F.col("doc_id").alias("v"))
    confirmed3 = epairs.join(
        k2v, epairs["va"] == k2v["v"], "left_semi"
    ).join(k2v, epairs["vb"] == k2v["v"], "left_semi")
    # All stage counts stay IN the plan (single-row aggregates cross-joined
    # broadcast — the repo's scalar-total pattern): no driver-side action
    # ever materializes the pipeline, and the returned relation is lazy.
    n = (
        d.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(F.broadcast(k1.agg(F.count(F.lit(1)).alias("n1"))))
        .crossJoin(F.broadcast(removed2.agg(F.count(F.lit(1)).alias("r2"))))
        .crossJoin(
            F.broadcast(
                confirmed3.select("va").distinct().agg(
                    F.count(F.lit(1)).alias("r3")
                )
            )
        )
    )
    def stage(num, method, d_in, d_rm, d_out):
        return n.select(
            F.lit(num).cast("int").alias("stage"),
            F.lit(method).alias("method"),
            d_in.cast("bigint").alias("docs_in"),
            d_rm.cast("bigint").alias("docs_removed"),
            d_out.cast("bigint").alias("docs_out"),
        )
    c = F.col
    return (
        stage(1, "exact", c("n0"), c("n0") - c("n1"), c("n1"))
        .unionAll(stage(2, "minhash_jaccard", c("n1"), c("r2"),
                        c("n1") - c("r2")))
        .unionAll(stage(3, "embedding_cosine", c("n1") - c("r2"), c("r3"),
                        c("n1") - c("r2") - c("r3")))
    )


# ---- incremental near-dup (MinHash-LSH batch-vs-base) --------------------

_MH_SIG_CTES = f"""
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                              i -> concat(a[i], ' ', a[i+1])))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents)
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS ha,
             CAST(('0x' || substr(md5(shingle), 17, 15)) AS BIGINT)
               % {MINHASH_P} AS hb
      FROM sh WHERE shingle <> ''
    ),
    sig AS (
      SELECT doc_id, seed,
             min((ha + (seed + 1) * hb) % {MINHASH_P}) AS mh
      FROM hashed, unnest(range(0, {N_HASHES})) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed / {BAND_ROWS}) AS INTEGER) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, 2
    )"""


@query(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH {_MH_SIG_CTES},
    bk AS (SELECT doc_id, {_INC_BUCKET} AS bk FROM documents),
    baseb AS (SELECT b.* FROM bands b JOIN bk USING (doc_id) WHERE bk < 8),
    incb  AS (SELECT b.* FROM bands b JOIN bk USING (doc_id) WHERE bk >= 8),
    cand AS (
      SELECT DISTINCT i.doc_id, b.doc_id AS base_id
      FROM incb i JOIN baseb b
        ON i.band = b.band AND i.band_sig = b.band_sig
    ),
    agree AS (
      SELECT c.doc_id, c.base_id,
             round(CAST(sum(CASE WHEN si.mh = sb.mh THEN 1 ELSE 0 END)
                        AS DOUBLE) / {N_HASHES} + 1e-9, 6) AS sig_agree
      FROM cand c
      JOIN sig si ON si.doc_id = c.doc_id
      JOIN sig sb ON sb.doc_id = c.base_id AND sb.seed = si.seed
      GROUP BY c.doc_id, c.base_id
    )
    SELECT doc_id, CAST(n_candidates AS BIGINT) AS n_candidates,
           base_id AS best_base_id, sig_agree AS best_sig_agree
    FROM (
      SELECT doc_id, base_id, sig_agree,
             count(*) OVER (PARTITION BY doc_id) AS n_candidates,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sig_agree DESC, base_id) AS rn
      FROM agree
    ) WHERE rn = 1
    """,
)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental NEAR-dup detection — the LSH sibling of
    dedup_incremental_batch (which only catches exact-hash dups): the base
    corpus's band signatures act as the persisted LSH index, today's batch
    (md5-bucket 20%) computes its own bands and probes them, and each
    surviving (batch, base) candidate is scored by SIGNATURE AGREEMENT —
    the fraction of the `N_HASHES` minhashes that coincide, the standard unbiased
    Jaccard estimate, computed from the 2x`N_HASHES` ints alone (the raw shingle
    sets are never touched post-signature, which is the entire economics
    of storing an LSH index). Per batch doc: candidate count, best base
    match by (agreement desc, base_id) and its agreement score. All
    arithmetic on exact 61-bit ints — bit-replayable, so the oracle
    verifies candidates AND scores.

    100 TB: base bands are the stored index (band-keyed layout); the probe
    shuffles only the batch's `N_BANDS` band rows/doc; agreement joins are keyed
    on candidate doc ids (bounded by candidate volume, which LSH keeps
    sub-quadratic); the per-doc best is a window on the doc-keyed
    exchange, never global."""
    d = T(spark, sf_dir, "documents")
    tagged = d.withColumn("bk", _batch_bucket())
    base_docs = tagged.filter(F.col("bk") < 8).drop("bk")
    inc_docs = tagged.filter(F.col("bk") >= 8).drop("bk")
    sig_all = minhash_signatures(d)  # one signature pass, split below
    seeds = F.array(*[F.col(f"h{s}") for s in range(N_HASHES)])
    sig_long = sig_all.select(
        "doc_id", F.posexplode(seeds).alias("seed", "mh")
    )
    bands_base = lsh_bands(
        sig_all.join(base_docs.select("doc_id"), "doc_id", "left_semi")
    )
    bands_inc = lsh_bands(
        sig_all.join(inc_docs.select("doc_id"), "doc_id", "left_semi")
    )
    i, b = bands_inc.alias("i"), bands_base.alias("b")
    cand = (
        i.join(
            b,
            (F.col("i.band") == F.col("b.band"))
            & (F.col("i.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("i.doc_id").alias("doc_id"), F.col("b.doc_id").alias("base_id"))
        .distinct()
    )
    si = sig_long.select(F.col("doc_id"), "seed", F.col("mh").alias("mh_i"))
    sb = sig_long.select(
        F.col("doc_id").alias("base_id"), "seed", F.col("mh").alias("mh_b")
    )
    agree = (
        cand.join(si, "doc_id")
        .join(sb, ["base_id", "seed"])
        .groupBy("doc_id", "base_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("mh_i") == F.col("mh_b"), 1).otherwise(0))
                .cast("double")
                / N_HASHES
                + F.lit(1e-9),
                6,
            ).alias("sig_agree")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    wo = w.orderBy(F.desc("sig_agree"), F.asc("base_id"))
    return (
        agree.withColumn("n_candidates", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("base_id").alias("best_base_id"),
            F.col("sig_agree").alias("best_sig_agree"),
        )
    )


# ---- multi-source BFS from landmark vertices ------------------------------

_BFS_HOPS = 4
_BFS_LANDMARKS = 5


def _bfs_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql
    return f"""
    WITH RECURSIVE {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
             a.embedding AS ea, b.embedding AS eb
      FROM tb a JOIN tb b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND b.vec_id < a.vec_id
    ),
    ed AS (
      SELECT vb AS lo, va AS hi FROM cand
      WHERE round({_cos_sql('ea', 'eb')} + 1e-9, 6) > {_TRI_TH}
    ),
    adj AS (
      SELECT lo AS src, hi AS dst FROM ed
      UNION SELECT hi, lo FROM ed
    ),
    lm AS (
      SELECT src AS lmk FROM adj GROUP BY src ORDER BY src LIMIT {_BFS_LANDMARKS}
    ),
    bfs AS (
      SELECT lmk, lmk AS v, 0 AS d FROM lm
      UNION
      SELECT b.lmk, a.dst, b.d + 1
      FROM bfs b JOIN adj a ON a.src = b.v
      WHERE b.d < {_BFS_HOPS}
    )
    SELECT lmk, v, CAST(min(d) AS BIGINT) AS dist
    FROM bfs GROUP BY lmk, v
    """


@query("graph_bfs_landmarks", oracle=_bfs_oracle())
def graph_bfs_landmarks(spark, sf_dir):
    """Multi-source BFS hop distance (<= `_BFS_HOPS` hops) from
    `_BFS_LANDMARKS` landmark vertices over the confirmed near-dup graph —
    the landmark-distance sketch behind graph dedup triage and approximate
    shortest-path queries (dist(u,v) <= dist(u,lmk) + dist(lmk,v)).
    Landmarks are the `_BFS_LANDMARKS` smallest vertex ids present in the
    edge set (deterministic).

    Spark runs textbook frontier BFS: `_BFS_HOPS` rounds of frontier-joins-adj,
    anti-joined against the visited set so each (landmark, vertex) settles
    at its first (= minimal) hop count, per-round state materialized.
    The oracle replays it as a UNION-mode (distinct) recursive CTE and
    takes min(d) — identical semantics because BFS's first visit IS the
    min hop distance.

    100 TB: per round one shuffle keyed on the frontier vertex; frontier
    and visited state are (landmark x vertex) bounded, never corpus-
    bounded; bounded iteration count with lineage cuts — the same
    discipline as PageRank/LPA/k-core here. Landmark count scales the
    work linearly and independently (each landmark's BFS is an
    embarrassingly parallel key)."""
    pairs = _confirmed_cosine_pairs(spark, sf_dir, th=_TRI_TH)
    ed = pairs.select(F.col("vb").alias("lo"), F.col("va").alias("hi"))
    adj = materialize(
        ed.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .union(ed.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .distinct()
    )
    lm = (
        adj.select("src")
        .distinct()
        .orderBy("src")
        .limit(_BFS_LANDMARKS)
        .select(F.col("src").alias("lmk"))
    )
    dist = materialize(
        lm.select("lmk", F.col("lmk").alias("v"), F.lit(0).cast("int").alias("d"))
    )
    frontier = dist
    for h in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(adj, frontier["v"] == adj["src"])
            .select("lmk", F.col("dst").alias("v"))
            .distinct()
        )
        new = nxt.join(dist.select("lmk", "v"), ["lmk", "v"], "left_anti").select(
            "lmk", "v", F.lit(h).cast("int").alias("d")
        )
        dist = materialize(dist.union(new))
        frontier = new
    return dist.select("lmk", "v", F.col("d").cast("bigint").alias("dist"))


# ---- survivorship: keep the best-quality doc per near-dup cluster ----------


def _survivorship_oracle() -> str:
    from .text_analysis import _STOP_SQL

    quality_sql = f"""
      SELECT doc_id,
             round(0.4 * least(n_tokens / 60.0, 1.0)
                   + 0.3 * least(stop_ratio * 5.0, 1.0)
                   + 0.3 * ttr + 1e-9, 6) AS quality
      FROM (
        SELECT doc_id,
               len(a) AS n_tokens,
               len(list_filter(a, t -> t IN {_STOP_SQL})) * 1.0 / len(a)
                 AS stop_ratio,
               len(list_distinct(a)) * 1.0 / len(a) AS ttr
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
              FROM documents)
      )"""
    return f"""
    WITH pr AS (SELECT * FROM ({_MINHASH_ORACLE})),
    q AS ({quality_sql}),
    e AS (
      SELECT doc_a AS d, doc_b AS p FROM pr
      UNION ALL SELECT doc_b, doc_a FROM pr
    ),
    canon AS (SELECT d, least(min(p), d) AS c FROM e GROUP BY d),
    m AS (
      SELECT c.c AS cluster_id, c.d AS doc_id, q.quality
      FROM canon c JOIN q ON q.doc_id = c.d
    ),
    r AS (
      SELECT cluster_id, doc_id, quality,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY cluster_id) AS n,
             min(quality) OVER (PARTITION BY cluster_id) AS minq
      FROM m
    )
    SELECT cluster_id,
           CAST(n AS BIGINT) AS n_members,
           doc_id AS survivor_doc,
           quality AS survivor_q,
           minq AS min_q,
           round(quality - minq + 1e-9, 6) AS q_spread
    FROM r WHERE rk = 1 AND n >= 2
    """


@query("dedup_survivorship", oracle=_survivorship_oracle())
def dedup_survivorship(spark, sf_dir):
    """Survivorship resolution: within each MinHash-LSH near-dup cluster
    keep the HIGHEST-QUALITY member (text_quality_score; ties to the
    smaller doc_id) instead of the conventional min-id canonical — the
    step that turns dedup from "drop arbitrary copies" into "keep the
    best copy", which is what a training pipeline actually wants (the
    copies differ by boilerplate/truncation, and min-id picks one blind).
    Cluster = one-hop min-neighbor collapse over the band-join pair
    table (the dedup_embedding_cosine convention). Emits per multi-member
    cluster: size, survivor, survivor quality, worst quality, spread —
    the spread column IS the value-of-survivorship audit.

    100 TB: reuses the two existing dataflows unchanged (LSH band pairs:
    banded, never pairwise; quality: one codegen map) plus one
    symmetrize-groupBy for the collapse and one cluster-keyed window over
    members — every shuffle keyed on doc/cluster id.

    Composition note: calls the registered dedup_minhash_lsh and
    text_quality_score query callables directly — operators as reusable
    dataflow builders, not just test endpoints."""
    from .text_analysis import text_quality_score

    pairs = dedup_minhash_lsh(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("d"), F.col("doc_b").alias("p")
    ).union(pairs.select(F.col("doc_b").alias("d"), F.col("doc_a").alias("p")))
    canon = e.groupBy("d").agg(
        F.least(F.min("p"), F.col("d")).alias("c")
    )
    m = canon.join(quality, canon["d"] == quality["doc_id"]).select(
        F.col("c").alias("cluster_id"), F.col("doc_id"), F.col("quality")
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.desc("quality"), "doc_id")
    r = (
        m.withColumn("rk", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .withColumn("minq", F.min("quality").over(wc))
    )
    return r.filter((F.col("rk") == 1) & (F.col("n") >= 2)).select(
        "cluster_id",
        F.col("n").cast("bigint").alias("n_members"),
        F.col("doc_id").alias("survivor_doc"),
        F.col("quality").alias("survivor_q"),
        F.col("minq").alias("min_q"),
        F.round(F.col("quality") - F.col("minq") + F.lit(1e-9), 6).alias(
            "q_spread"
        ),
    )


# ---- exact-substring run detection (Lee et al. 2021) --------------------
#
# "Deduplicating Training Data Makes Language Models Better" removes exact
# substrings of >= 50 tokens shared between documents. The distributed
# form: slide a k-token window with its position over every document, join
# on the window text (never doc x doc), then merge hits that sit on the
# same (pair, pos_a - pos_b) DIAGONAL into maximal runs with one
# gaps-and-islands pass — a k-gram seed-and-extend, the suffix-array
# result without a suffix array.

_ESUB_K = 5  # seed window tokens
_ESUB_MIN_RUN = 8  # report runs of >= this many tokens
_ESUB_MAX_DF = 24  # windows in more docs than this are boilerplate — cut

_ESUB_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(a[i:i+{_ESUB_K - 1}], ' ') AS g
  FROM toks, unnest(range(1, len(a) - {_ESUB_K} + 2)) t(i)
),
keep AS (
  SELECT g FROM grams GROUP BY g
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_ESUB_MAX_DF}
),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE a.g IN (SELECT g FROM keep)
),
islands AS (
  SELECT doc_a, doc_b, pos_a, pos_b,
         pos_a - CAST(row_number() OVER (
             PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
         ) AS INT) AS island
  FROM hits
)
SELECT doc_a, doc_b,
       CAST(min(pos_a) AS INT) AS start_a,
       CAST(min(pos_b) AS INT) AS start_b,
       CAST(max(pos_a) - min(pos_a) + {_ESUB_K} AS INT) AS run_tokens
FROM islands
GROUP BY doc_a, doc_b, pos_a - pos_b, island
HAVING max(pos_a) - min(pos_a) + {_ESUB_K} >= {_ESUB_MIN_RUN}
"""


@query("dedup_exact_substring", oracle=_ESUB_SQL)
def dedup_exact_substring(spark, sf_dir):
    """Maximal cross-document exact-substring runs >= `_ESUB_MIN_RUN` tokens (Lee et
    al. 2021 exact-substring dedup, seed-and-extend form): `_ESUB_K`-token
    sliding windows with positions, document-frequency-bounded (windows in
    >`_ESUB_MAX_DF` docs are boilerplate and would fan the pair join quadratically —
    cut BEFORE pairing, the dedup_ngram_jaccard discipline), equi-joined
    on window text to seed hit coordinates, then consecutive seeds on the
    same (pair, pos_a - pos_b) diagonal merge into maximal runs via ONE
    row_number gaps-and-islands window.

    100 TB: shuffle keys are the window hash (pair seeding) and
    (doc_a, doc_b, diagonal) (run merge) — both fine-grained; no
    all-pairs stage exists, and the suffix-array global sort the paper
    uses is replaced by bounded joins. Window arithmetic is pure INT."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    # Tokenize ONCE into a column (the lambda below would otherwise
    # re-split per window position — O(tokens^2) regex work per doc), and
    # gate on size >= K BEFORE building the sequence: Spark's
    # sequence(1, m) with m <= 0 counts DOWN ([1, 0]) and the slice at 0
    # throws, where the oracle's exclusive-end range() is simply empty.
    grams = (
        d.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks"))
        .filter(F.size("toks") >= _ESUB_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_ESUB_K} + 1),"
                    f" i -> struct(cast(i as int) as pos,"
                    f" concat_ws(' ', slice(toks, i, {_ESUB_K})) as g))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    )
    keep = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _ESUB_MAX_DF))
        .select("g")
    )
    seeded = grams.join(keep, "g")
    a = seeded.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "g"
    )
    b = seeded.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "g"
    )
    hits = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")).orderBy(
        "pos_a"
    )
    islands = hits.select(
        "doc_a", "doc_b", "pos_a", "pos_b", diag
    ).withColumn("island", F.col("pos_a") - F.row_number().over(w).cast("int"))
    runs = (
        islands.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").cast("int").alias("start_a"),
            F.min("pos_b").cast("int").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + _ESUB_K).cast("int").alias(
                "run_tokens"
            ),
        )
        .filter(F.col("run_tokens") >= _ESUB_MIN_RUN)
    )
    return runs.select("doc_a", "doc_b", "start_a", "start_b", "run_tokens")


# ---- community quality: Newman modularity ---------------------------------


def _modularity_oracle() -> str:
    return (
        _lpa_chain_sql()
        + f""",
    final AS MATERIALIZED (SELECT vec_id, label AS community FROM l{_LPA_ITERS}),
    deg AS (SELECT s AS vec_id, count(*) AS degree FROM edges GROUP BY s),
    memb AS (
      SELECT f.vec_id, f.community, coalesce(d.degree, 0) AS degree
      FROM final f LEFT JOIN deg d ON d.vec_id = f.vec_id
    ),
    mm AS (SELECT greatest(count(*) / 2.0, 1.0) AS m FROM edges),
    within AS (
      SELECT la.community, count(*) / 2.0 AS m_c
      FROM edges e
      JOIN final la ON e.s = la.vec_id
      JOIN final lb ON e.d = lb.vec_id AND lb.community = la.community
      GROUP BY la.community
    ),
    comm AS (
      SELECT mb.community,
             CAST(count(*) AS BIGINT)       AS size,
             CAST(sum(mb.degree) AS BIGINT) AS degree_sum,
             coalesce(any_value(w.m_c), 0.0) AS m_c
      FROM memb mb LEFT JOIN within w ON w.community = mb.community
      GROUP BY mb.community
    ),
    q AS (
      SELECT round(sum(m_c / mm.m
                       - (degree_sum / (2.0 * mm.m))
                         * (degree_sum / (2.0 * mm.m))) + 1e-9, 6) AS q
      FROM comm CROSS JOIN mm
    )
    SELECT CAST(c.community AS BIGINT) AS community,
           c.size, c.degree_sum,
           round(c.m_c / mm.m
                 - (c.degree_sum / (2.0 * mm.m))
                   * (c.degree_sum / (2.0 * mm.m)) + 1e-9, 6) + 0.0
               AS contribution,
           (SELECT q FROM q) AS modularity
    FROM comm c CROSS JOIN mm
    WHERE c.size >= 2
    """
    )


@query("graph_community_modularity", oracle=_modularity_oracle())
def graph_community_modularity(spark, sf_dir):
    """Newman modularity of the LPA communities over the confirmed
    near-dup graph: per non-singleton community its size, degree mass,
    within-edge fraction and modularity contribution
    m_c/m - (d_c/2m)^2, plus the global Q — the community-QUALITY
    readout that turns 'LPA produced labels' into 'the partition is
    (or is not) better than random', closing the graph family's loop
    (detect: label propagation; measure: this).

    100 TB shape: after the shared LPA rounds, modularity is two
    edge-keyed joins against the (broadcastable-per-partition) label
    table plus |C|-cell aggregates — O(edges) with no new iteration.
    All inputs to Q are exact integer counts; the only float math is the
    final ratio arithmetic, 6dp-rounded on both engines."""
    labels, edges = _lpa_labels(spark, sf_dir)
    final = labels.select("vec_id", F.col("label").alias("community"))
    deg = edges.groupBy(F.col("s").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    memb = final.join(deg, "vec_id", "left").select(
        "vec_id",
        "community",
        F.coalesce("degree", F.lit(0)).alias("degree"),
    )
    mm = edges.agg(
        F.greatest(F.count(F.lit(1)) / 2.0, F.lit(1.0)).alias("m")
    )
    la = final.select(F.col("vec_id").alias("sa"), F.col("community").alias("ca"))
    lb = final.select(F.col("vec_id").alias("sb"), F.col("community").alias("cb"))
    within = (
        edges.join(la, edges["s"] == la["sa"])
        .join(lb, (edges["d"] == lb["sb"]) & (F.col("cb") == F.col("ca")))
        .groupBy(F.col("ca").alias("community"))
        .agg((F.count(F.lit(1)) / 2.0).alias("m_c"))
    )
    comm = (
        memb.groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("size"),
            F.sum("degree").cast("bigint").alias("degree_sum"),
        )
        .join(within, "community", "left")
        .select(
            "community",
            "size",
            "degree_sum",
            F.coalesce("m_c", F.lit(0.0)).alias("m_c"),
        )
    )
    contrib = F.col("m_c") / F.col("m") - F.pow(
        F.col("degree_sum") / (2.0 * F.col("m")), 2
    )
    cells = comm.crossJoin(F.broadcast(mm))
    q = cells.agg(F.round(F.sum(contrib) + F.lit(1e-9), 6).alias("modularity"))
    return (
        cells.filter(F.col("size") >= 2)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("community").cast("bigint").alias("community"),
            "size",
            "degree_sum",
            # + 0.0 collapses IEEE negative zero (tiny negative
            # contributions round to -0.0 in DuckDB, 0.0 in Spark)
            (F.round(contrib + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "contribution"
            ),
            "modularity",
        )
    )
