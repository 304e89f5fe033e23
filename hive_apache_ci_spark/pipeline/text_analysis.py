"""Text analysis operators over ``documents`` (SURVEY.md §2.11).

All expressions are JVM-side (split / HOF / regexp) — no Python UDFs — so
they pipeline inside whole-stage codegen and scale linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..helpers import T, spread
from ..registry import query

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


def tokens_col(text="text"):
    return F.split(F.lower(F.col(text)), r"\s+")


@query(
    "text_stats",
    oracle="""
    SELECT doc_id, lang, source,
           (length(text) = n_chars)                       AS chars_ok,
           len(string_split_regex(lower(text), '\\s+'))   AS n_tokens,
           len(list_distinct(string_split_regex(lower(text), '\\s+'))) AS n_unique,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split_regex(lower(text), '\\s+')) + 1e-9, 6) AS avg_tok_len,
           round(len(list_distinct(string_split_regex(lower(text), '\\s+'))) * 1.0
                 / len(string_split_regex(lower(text), '\\s+')) + 1e-9, 6) AS ttr
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Per-document token statistics: counts, uniques, average token
    length, type-token ratio; validates the n_chars metadata column."""
    d = T(spark, sf_dir, "documents")
    toks = tokens_col()
    n_tok = F.size(toks)
    n_uni = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        "lang",
        "source",
        (F.length("text") == F.col("n_chars")).alias("chars_ok"),
        n_tok.alias("n_tokens"),
        n_uni.alias("n_unique"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0 / n_tok
            + F.lit(1e-9),
            6,
        ).alias("avg_tok_len"),
        F.round(n_uni * 1.0 / n_tok + F.lit(1e-9), 6).alias("ttr"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * least(n_tokens / 60.0, 1.0)
                 + 0.3 * least(stop_ratio * 5.0, 1.0)
                 + 0.3 * ttr + 1e-9, 6) AS quality
    FROM (
      SELECT doc_id,
             len(a) AS n_tokens,
             len(list_filter(a, t -> t IN {_STOP_SQL})) * 1.0 / len(a) AS stop_ratio,
             len(list_distinct(a)) * 1.0 / len(a) AS ttr
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM documents)
    )
    """,
)
def text_quality_score(spark, sf_dir):
    """Composite quality score (length + stopword-ratio + lexical-diversity
    bands) — the pre-training filter archetype; weights are illustrative."""
    d = T(spark, sf_dir, "documents")
    toks = tokens_col()
    d = d.withColumn("a", toks)
    n = F.size("a")
    stop_ratio = (
        F.size(F.filter("a", lambda t: t.isin(*STOPWORDS))) * 1.0 / n
    )
    ttr = F.size(F.array_distinct("a")) * 1.0 / n
    quality = (
        0.4 * F.least(n / 60.0, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.3 * ttr
    )
    return d.select("doc_id", F.round(quality + F.lit(1e-9), 6).alias("quality"))


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
                                     t -> t IN {_STOP_SQL})) >= 2
                THEN 'en' ELSE 'unknown' END AS pred_lang
    FROM documents
    """,
)
def text_lang_id(spark, sf_dir):
    """Stopword-count language-ID heuristic (n-gram-free variant; the corpus
    vocabulary is English-ish so the detector is en/unknown). Demonstrates
    the deterministic classifier shape — swap the stopword sets per language
    for a real multi-language corpus."""
    d = T(spark, sf_dir, "documents")
    n_stop = F.size(F.filter(tokens_col(), lambda t: t.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        "lang",
        F.when(n_stop >= 2, "en").otherwise("unknown").alias("pred_lang"),
    )


@query(
    "text_token_regex",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(lower(text), '\\s+'))        AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS bpe_ish_tokens,
           len(regexp_extract_all(lower(text), '[0-9]+'))      AS num_tokens
    FROM documents WHERE doc_id < 200
    """,
)
def text_token_regex(spark, sf_dir):
    """Token counting two ways: whitespace split vs a BPE-ish regex
    lexer ([a-z]+ | digits | single punctuation) — the token-budget
    estimator for training-data accounting."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    low = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.split(low, r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.size(F.regexp_extract_all(low, F.lit(r"[0-9]+"), 0)).alias("num_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text)))                          AS fp,
           CAST(('0x' || substr(md5(lower(trim(text))), 1, 8)) AS BIGINT) AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of normalized text + a 32-bit integer
    bucket (the shard key a 100 TB dedup pipeline partitions by)."""
    d = T(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.trim(F.col("text"))))
    return d.select(
        "doc_id",
        norm.alias("fp"),
        F.conv(F.substring(norm, 1, 8), 16, 10).cast("bigint").alias("fp_bucket"),
    )


@query(
    "text_token_entropy",
    oracle="""
    WITH cnt AS (
      SELECT doc_id, t, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY doc_id, t
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-12, 6) AS entropy,
           CASE WHEN count(*) > 1
                THEN round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                           / ln(count(*)) + 1e-12, 6)
                ELSE 0.0 END AS norm_entropy
    FROM cnt GROUP BY doc_id
    """,
)
def text_token_entropy(spark, sf_dir):
    """Per-document Shannon token entropy H = ln n − Σ c·ln c / n (nats)
    plus the entropy normalized by its per-doc maximum ln(n_types) — the
    repetition/diversity quality signal (near-0 ⇒ one token repeated,
    near-1 ⇒ uniform usage). Computed from integer type counts so both
    engines evaluate identical ln() terms; 6-dp rounding absorbs summation
    order. One tokenize explode + one (doc, type) count + one per-doc agg —
    all narrow-keyed shuffles, no global state."""
    d = T(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h = F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(h + F.lit(1e-12), 6).alias("entropy"),
        F.when(
            F.count(F.lit(1)) > 1,
            F.round(h / F.log(F.count(F.lit(1))) + F.lit(1e-12), 6),
        )
        .otherwise(0.0)
        .alias("norm_entropy"),
    )


# ---- winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) -------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # k-grams per winnowing window

_WINNOW_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(concat(a[i], ' ', a[i+1], ' ', a[i+2])),
                              1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, a,
               unnest(range(1, greatest(len(a) - {_WIN_K - 1}, 0) + 1)) AS i
        FROM toks)
),
frames AS (
  SELECT doc_id, pos AS j,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
             AS mn
  FROM grams
  QUALIFY pos >= {_WIN_W}
),
sel AS (
  SELECT DISTINCT f.doc_id, max(g.pos) AS fp_pos, f.mn AS h
  FROM frames f
  JOIN grams g ON g.doc_id = f.doc_id
             AND g.pos BETWEEN f.j - {_WIN_W - 1} AND f.j
             AND g.h = f.mn
  GROUP BY f.doc_id, f.j, f.mn
),
fp AS (
  SELECT doc_id, count(*) AS n_fp,
         md5(string_agg(CAST(h AS VARCHAR), '|' ORDER BY fp_pos)) AS digest
  FROM (SELECT DISTINCT doc_id, fp_pos, h FROM sel)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.a) - {_WIN_K - 1}, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(fp.n_fp, 0) AS BIGINT) AS n_fingerprints,
       round(coalesce(fp.n_fp, 0) * 1.0
             / greatest(len(t.a) - {_WIN_K - 1}, 1) + 1e-9, 6) AS density,
       coalesce(fp.digest, '') AS fp_digest
FROM toks t LEFT JOIN fp ON t.doc_id = fp.doc_id
"""


@query("text_winnow_fingerprints", oracle=_WINNOW_SQL)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    `_WIN_K`-token k-gram, slide a window of `_WIN_W` consecutive k-gram hashes, and
    select each window's minimum (rightmost position on ties) — the
    guaranteed-coverage local sampling scheme for substring-level dup
    detection. Emits per doc the fingerprint count, density (theoretical
    expectation 2/(w+1)), and an order-sensitive digest of the selected
    hashes, so the oracle pins the exact fingerprint SET, not just counts.

    100 TB shape: everything is per-document — one explode to k-grams, a
    `_WIN_W`-row window min on the (doc, pos)-sorted exchange, and a `_WIN_W`-wide
    self-join to find the rightmost argmin (bounded blowup, never
    corpus-pairwise); the final digest is one groupBy(doc_id). Documents
    with fewer than `_WIN_W` k-grams emit zero fingerprints by construction."""
    from pyspark.sql import Window as W

    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("a")
    )
    n_grams = F.greatest(F.size("a") - (_WIN_K - 1), F.lit(0))
    gram = F.concat_ws(
        " ", *[F.element_at("a", F.col("i") + k) for k in range(_WIN_K)]
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n_grams)).alias("i"),
            "a",
        )
        .select(
            "doc_id",
            F.col("i").alias("pos"),
            F.conv(F.substring(F.md5(gram), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    wmin = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), W.currentRow)
    )
    frames = (
        grams.withColumn("mn", F.min("h").over(wmin))
        .filter(F.col("pos") >= _WIN_W)
        .select("doc_id", F.col("pos").alias("j"), "mn")
    )
    g2 = grams.select(
        F.col("doc_id").alias("doc_id"), F.col("pos").alias("gpos"),
        F.col("h").alias("gh"),
    )
    sel = (
        frames.join(
            g2,
            (frames["doc_id"] == g2["doc_id"])
            & (F.col("gpos").between(F.col("j") - (_WIN_W - 1), F.col("j")))
            & (F.col("gh") == F.col("mn")),
        )
        .groupBy(frames["doc_id"].alias("doc_id"), "j", "mn")
        .agg(F.max("gpos").alias("fp_pos"))
        .select("doc_id", "fp_pos", F.col("mn").alias("h"))
        .distinct()
    )
    fp = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("fp_pos", "h"))),
                    lambda s: s.getField("h").cast("string"),
                ),
            )
        ).alias("digest"),
    )
    return (
        toks.select("doc_id", n_grams.cast("bigint").alias("n_grams"))
        .join(fp, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_fp", F.lit(0)).cast("bigint").alias("n_fingerprints"),
            F.round(
                F.coalesce("n_fp", F.lit(0))
                * 1.0
                / F.greatest(F.col("n_grams"), F.lit(1))
                + F.lit(1e-9),
                6,
            ).alias("density"),
            F.coalesce("digest", F.lit("")).alias("fp_digest"),
        )
    )


# ---- round 7: Flesch-Kincaid readability ---------------------------------


@query(
    "text_readability_fk",
    oracle="""
    SELECT doc_id, n_sentences, n_words, n_syllables,
           round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
                 + 1e-9, 6) AS fre,
           round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                 - 15.59 + 1e-9, 6) AS fkgl,
           CASE WHEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                           + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                           - 15.59 + 1e-9, 6) < 6.0  THEN 'easy'
                WHEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                           + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                           - 15.59 + 1e-9, 6) < 10.0 THEN 'standard'
                WHEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                           + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                           - 15.59 + 1e-9, 6) < 14.0 THEN 'difficult'
                ELSE 'academic' END AS band
    FROM (
      SELECT doc_id,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1)
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    """,
)
def text_readability_fk(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade level per document — the
    classic education-level filter a curation pipeline runs next to the
    composite quality score (text_quality_score measures FORM: length/
    stopwords/diversity; this measures READING DIFFICULTY). Syllables use
    the standard vowel-group heuristic (runs of [aeiouy] — exact for the
    scoring's purpose and, unlike dictionary lookups, replayable in any
    engine); sentences = [.!?]+ runs (floor 1); words = whitespace tokens
    (floor 1, same split as the sibling text ops). Both scores are pure
    arithmetic over exact integer counts — division of identical integers
    is bit-identical cross-engine, so 6dp rounding + the band CASE on the
    ROUNDED grade hash-oracle cleanly.

    100 TB: one narrow projection per document, all regexp counting
    inside whole-stage codegen, no shuffle at all — the cheapest possible
    per-doc map, which is the point: readability is a first-pass gate run
    on everything."""
    d = T(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_words = F.greatest(
        F.size(F.split(F.lower("text"), r"\s+")), F.lit(1)
    ).cast("bigint")
    n_syll = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("bigint")
    base = d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    fre = F.round(206.835 - 1.015 * wps - 84.6 * spw + F.lit(1e-9), 6)
    fkgl = F.round(0.39 * wps + 11.8 * spw - 15.59 + F.lit(1e-9), 6)
    return base.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        fre.alias("fre"),
        fkgl.alias("fkgl"),
        F.when(fkgl < 6.0, F.lit("easy"))
        .when(fkgl < 10.0, F.lit("standard"))
        .when(fkgl < 14.0, F.lit("difficult"))
        .otherwise(F.lit("academic"))
        .alias("band"),
    )


_ZIPF_TOPK = 200


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT lang, w, count(*) AS c FROM tok WHERE w <> ''
      GROUP BY lang, w
    ),
    rk AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang
                                ORDER BY c DESC, w) AS r
      FROM cnt
    ),
    xy AS (
      SELECT lang,
             round(ln(r) + 1e-9, 6) AS x,
             round(ln(c) + 1e-9, 6) AS y
      FROM rk WHERE r <= {_ZIPF_TOPK}
    ),
    s AS (
      SELECT lang, count(*) AS n,
             round(sum(x) + 1e-9, 4) AS sx,
             round(sum(y) + 1e-9, 4) AS sy,
             round(sum(x * x) + 1e-9, 4) AS sxx,
             round(sum(y * y) + 1e-9, 4) AS syy,
             round(sum(x * y) + 1e-9, 4) AS sxy
      FROM xy GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 4)
             AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 + 1e-9, 4) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 4)
             AS r2
    FROM s
    """,
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit per language: OLS of ln(frequency) on ln(rank) over
    each language's top-`_ZIPF_TOPK` corpus token frequencies — slope ≈ −1 with
    high r² is the signature of natural language, so a corpus slice
    whose slope collapses toward 0 (flat = synthetic/boilerplate) or
    whose r² craters (bimodal = mixed template+prose) fails the
    naturalness screen. The corpus-statistics cousin of
    text_token_entropy's per-doc score.

    Determinism: counts exact; ln of exact ints is the same libm call on
    identical doubles both engines, re-cut 6dp; the five OLS moment sums
    are order-nondeterministic so each is cut at 4dp BEFORE the
    closed-form slope/intercept/r² arithmetic (which is then
    bit-identical); rank ties break on token text.

    100 TB: tokenization fans out map-side; (lang, token) counts
    collapse by partial agg; the rank window rides a lang-keyed exchange
    over distinct terms (vocabulary-sized, not corpus-sized); the OLS
    reduces `_ZIPF_TOPK` rows per lang to 5 moments. One corpus scan."""
    d = T(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = d.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    cnt = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    rk = cnt.select(
        "lang",
        "c",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.col("c").desc(), "w"))
        .alias("r"),
    ).filter(F.col("r") <= _ZIPF_TOPK)
    xy = rk.select(
        "lang",
        F.round(F.log("r") + F.lit(1e-9), 6).alias("x"),
        F.round(F.log("c") + F.lit(1e-9), 6).alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("x") + F.lit(1e-9), 4).alias("sx"),
        F.round(F.sum("y") + F.lit(1e-9), 4).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")) + F.lit(1e-9), 4).alias("sxx"),
        F.round(F.sum(F.col("y") * F.col("y")) + F.lit(1e-9), 4).alias("syy"),
        F.round(F.sum(F.col("x") * F.col("y")) + F.lit(1e-9), 4).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / dxx
    return s.select(
        "lang",
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope + F.lit(1e-9), 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n") + F.lit(1e-9), 4)
        .alias("intercept"),
        F.round(num * num / (dxx * dyy) + F.lit(1e-9), 4).alias("r2"),
    )


# ---- RAKE keyword extraction ----------------------------------------------

_RAKE_STOP = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_RAKE_K = 50

_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(a)+1),
                                 i -> {{'pos': i-1, 'tok': a[i]}})) AS u
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents)
  )
),
content AS (
  SELECT doc_id, pos, tok FROM toks
  WHERE tok NOT IN {str(_RAKE_STOP)} AND tok <> ''
),
isl AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM content
),
phr AS (
  SELECT doc_id, isl,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         count(*) AS n_words
  FROM isl GROUP BY doc_id, isl
),
ws AS (
  SELECT i.tok,
         round(CAST(sum(p.n_words) AS DOUBLE) / count(*) + 1e-9, 6) AS s
  FROM isl i JOIN phr p ON p.doc_id = i.doc_id AND p.isl = i.isl
  GROUP BY i.tok
),
dp AS (
  SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_occ
  FROM phr GROUP BY phrase
),
pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS tok FROM dp),
ps AS (
  SELECT pw.phrase, round(sum(ws.s) + 1e-9, 4) AS score
  FROM pw JOIN ws USING (tok) GROUP BY pw.phrase
),
top AS (
  SELECT d2.phrase, d2.n_words, d2.n_occ, ps.score,
         row_number() OVER (ORDER BY ps.score DESC, d2.phrase) AS rk
  FROM dp d2 JOIN ps ON ps.phrase = d2.phrase
)
SELECT rk, phrase, n_words, n_occ, score FROM top WHERE rk <= {_RAKE_K}
"""


@query("text_keyword_rake", oracle=_RAKE_SQL)
def text_keyword_rake(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = total length of phrases it appears in — co-occurrence mass);
    a phrase scores the sum of its member word scores; top-`_RAKE_K` phrases.
    The classic cheap unsupervised keyword surface for corpus triage.

    Phrase assembly is gaps-and-islands (pos - row_number within doc over
    content tokens), not regex splitting — byte-identical across engines
    because it never leaves integer/token space; the ordered string_agg /
    sorted-collect_list reassembly is the same trick dedup_repeated_
    segments uses. Word scores 6dp before the phrase sum (few-term, 4dp
    cut); final rank tie-broken by phrase text.

    100 TB: token explode is map-side; island grouping shuffles on
    (doc_id) once; word stats shuffle on token; phrase-score shuffles on
    phrase text; the only global structure is the final top-`_RAKE_K`
    (orderBy().limit() = distributed TakeOrderedAndProject). Nothing is
    ever pairwise."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok")
    )
    content = toks.filter(
        (~F.col("tok").isin(*_RAKE_STOP)) & (F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = content.withColumn("isl", F.col("pos") - F.row_number().over(w))
    phr = isl.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    )
    ws = (
        isl.join(phr.select("doc_id", "isl", "n_words"), ["doc_id", "isl"])
        .groupBy("tok")
        .agg(
            F.round(
                F.sum("n_words").cast("double") / F.count(F.lit(1)) + F.lit(1e-9),
                6,
            ).alias("s")
        )
    )
    dp = phr.groupBy("phrase").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
    )
    pw = dp.select("phrase", F.explode(F.split("phrase", " ")).alias("tok"))
    ps = pw.join(ws, "tok").groupBy("phrase").agg(
        F.round(F.sum("s") + F.lit(1e-9), 4).alias("score")
    )
    scored = dp.join(ps, "phrase")
    top = scored.orderBy(F.desc("score"), "phrase").limit(_RAKE_K)
    wr = Window.orderBy(F.desc("score"), "phrase")
    return top.select(
        F.row_number().over(wr).alias("rk"),
        "phrase", "n_words", "n_occ", "score",
    )


# ---- label-noise audit: lang label vs lang-ID prediction --------------------

_CONF_SQL = f"""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t IN {_STOP_SQL})) >= 2
              THEN 'en' ELSE 'unknown' END AS pred_lang
  FROM documents
),
cells AS (
  SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
),
per_lang AS (SELECT lang, sum(n) AS lang_n FROM cells GROUP BY lang),
tot AS (
  SELECT sum(n) AS total,
         sum(CASE WHEN (lang = 'en') = (pred_lang = 'en') THEN n ELSE 0 END)
           AS agree
  FROM cells
)
SELECT c.lang, c.pred_lang,
       CAST(c.n AS BIGINT) AS n,
       round(c.n * 1.0 / p.lang_n + 1e-9, 6) AS lang_share,
       round((SELECT agree * 1.0 / total FROM tot) + 1e-9, 6)
         AS overall_agreement
FROM cells c JOIN per_lang p ON p.lang = c.lang
"""


@query("quality_label_confusion", oracle=_CONF_SQL)
def quality_label_confusion(spark, sf_dir):
    """Label-noise audit: confusion matrix between the stored ``lang``
    label and the stopword lang-ID prediction (text_lang_id's heuristic),
    with per-label shares and the overall en/non-en agreement rate — the
    'do my labels and my classifier disagree, and where' report that
    precedes trusting either for filtering or mix allocation.

    100 TB: one codegen map + a |labels x predictions| cell aggregate; the
    share join is over the tiny cell table. Scan-bound."""
    d = T(spark, sf_dir, "documents")
    pred = d.select(
        "lang",
        F.when(
            F.size(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda t: t.isin(*STOPWORDS),
                )
            )
            >= 2,
            "en",
        )
        .otherwise("unknown")
        .alias("pred_lang"),
    )
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_lang = cells.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.sum(
            F.when(
                (F.col("lang") == "en") == (F.col("pred_lang") == "en"),
                F.col("n"),
            ).otherwise(0)
        ).alias("agree"),
    )
    return (
        cells.join(per_lang, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "pred_lang",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("lang_n") + F.lit(1e-9), 6).alias(
                "lang_share"
            ),
            F.round(
                F.col("agree") / F.col("total") + F.lit(1e-9), 6
            ).alias("overall_agreement"),
        )
    )


# ---- vocabulary growth: Heaps' law fit --------------------------------------

_N_HEAPS_CHECKPOINTS = 20

_HEAPS_SQL = f"""
WITH nd AS (SELECT count(*) AS n_docs FROM documents),
docs AS (
  SELECT doc_id,
         CAST(floor(doc_id * {_N_HEAPS_CHECKPOINTS}.0 / n_docs) AS INT)
             AS bucket,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens
  FROM documents CROSS JOIN nd
),
toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok,
         CAST(floor(doc_id * {_N_HEAPS_CHECKPOINTS}.0 / n_docs) AS INT)
             AS bucket
  FROM documents CROSS JOIN nd
),
first_seen AS (SELECT tok, min(bucket) AS fb FROM toks GROUP BY tok),
ks AS (SELECT DISTINCT bucket AS k FROM docs),
curve AS (
  SELECT k.k,
         (SELECT sum(n_tokens) FROM docs WHERE bucket <= k.k) AS cum_tokens,
         (SELECT count(*) FROM first_seen WHERE fb <= k.k)    AS cum_vocab
  FROM ks k
),
fit AS (
  SELECT round(regr_slope(ln(cum_vocab), ln(cum_tokens)) + 1e-9, 6)
             AS beta,
         round(regr_intercept(ln(cum_vocab), ln(cum_tokens)) + 1e-9, 6)
             AS ln_k
  FROM curve
)
SELECT CAST(c.k AS INT) AS checkpoint,
       CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
       CAST(c.cum_vocab AS BIGINT)  AS cum_vocab,
       f.beta, f.ln_k
FROM curve c CROSS JOIN fit f
"""


@query("text_heaps_law_fit", oracle=_HEAPS_SQL)
def text_heaps_law_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit: cumulative (corpus tokens, distinct
    vocabulary) at 20 doc-order checkpoints, with the log-log OLS fit
    V = K * n^beta (regr_slope/intercept over the checkpoint cells) —
    the projection a tokenizer/vocab team uses to size vocabulary for a
    corpus 100x larger than the sample (natural text: beta ~ 0.4-0.6;
    this closed-vocabulary synthetic corpus saturates, beta ~ 0, which
    the fit correctly reports).

    100 TB shape: cumulative DISTINCT counting without any per-prefix
    re-scan — each token's FIRST checkpoint is one hash aggregate
    (min bucket per token), and the cumulative vocabulary at k is a
    count over that token table; cumulative token mass is a running sum
    over 20 per-bucket cells. The OLS fit runs on 20 points. Nothing
    is quadratic in prefix count; no distinct-per-window anywhere."""
    n_ck = _N_HEAPS_CHECKPOINTS
    d = T(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    arr = F.split(F.lower("text"), r"\s+")
    docs = d.crossJoin(F.broadcast(nd)).select(
        F.floor(F.col("doc_id") * n_ck / F.col("n_docs"))
        .cast("int")
        .alias("bucket"),
        F.size(arr).alias("n_tokens"),
        arr.alias("a"),
    )
    per_bucket = docs.groupBy("bucket").agg(
        F.sum("n_tokens").alias("b_tokens")
    )
    first_seen = (
        docs.select("bucket", F.explode("a").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("fb"))
    )
    vocab_per = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("b_vocab")
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_bucket.join(vocab_per, "bucket", "left")
        .select(
            "bucket",
            "b_tokens",
            F.coalesce("b_vocab", F.lit(0)).alias("b_vocab"),
        )
        .select(
            "bucket",
            F.sum("b_tokens").over(w).alias("cum_tokens"),
            F.sum("b_vocab").over(w).alias("cum_vocab"),
        )
    )
    fit = curve.agg(
        F.round(
            F.regr_slope(F.log("cum_vocab"), F.log("cum_tokens"))
            + F.lit(1e-9),
            6,
        ).alias("beta"),
        F.round(
            F.regr_intercept(F.log("cum_vocab"), F.log("cum_tokens"))
            + F.lit(1e-9),
            6,
        ).alias("ln_k"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("bucket").cast("int").alias("checkpoint"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        "beta",
        "ln_k",
    )
