"""Language-model-flavored corpus scoring (SURVEY.md §2.11 extension).

Three ops a pretraining pipeline runs between cleaning and tokenization,
complementing pipeline/corpus.py's mechanical filters:

1. ``vocab_coverage_topk`` — corpus vocabulary head: top-K tokens by count
   with document frequency and cumulative coverage share. The report that
   sizes a tokenizer vocab ("how many types cover 95% of tokens?").
2. ``quality_lm_perplexity`` — self-perplexity under an add-1-smoothed
   unigram LM estimated from the corpus itself: the cheap statistical
   stand-in for the KenLM-style quality filter (CCNet / Gopher use a real
   LM; the *pipeline topology* — estimate global stats, broadcast/join,
   score per doc — is identical). High-ppl docs are gibberish/boilerplate
   candidates.
3. ``split_train_valid_test`` — deterministic content-hash split (md5
   bucket → 80/10/10) with per-split token/char mass. No RNG state:
   reproducible across engines, reruns, and data relayouts, and a pure
   map-side classify + tiny agg at any scale.

100 TB shape: tokenization is one JVM-side split per doc (codegen, no
Python); the vocab is a groupBy(token) shuffle; the per-doc score join
shuffles on token (the vocab of a web corpus can exceed broadcast size —
Catalyst/AQE picks broadcast when it does fit, e.g. every test SF). The
only window runs over exactly K=100 rows post-limit. All three are exactly
oracled in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..helpers import T, materialize, md5_int, spread
from ..registry import query

_TOPK = 100

# Tokenizer shared with text_analysis.py's oracles: lowercase, split on
# whitespace, drop empties. Keep both engines' expressions textually aligned.
_TOK_SQL = "string_split_regex(lower(text), '\\s+')"


def _tokens(d):
    return d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).filter(F.col("t") != "")


_VOCAB_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents
),
vocab AS (
  SELECT t, count(*) AS cnt, count(DISTINCT doc_id) AS df
  FROM tok WHERE t <> '' GROUP BY t
),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
topk AS (
  SELECT t, cnt, df FROM vocab ORDER BY cnt DESC, t LIMIT {_TOPK}
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rk,
       t AS token, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df,
       round(cnt / (SELECT total FROM tot) + 1e-12, 9) AS share,
       round(sum(cnt) OVER (ORDER BY cnt DESC, t
                            ROWS UNBOUNDED PRECEDING)
             / (SELECT total FROM tot) + 1e-12, 9) AS cum_share
FROM topk
"""


@query("vocab_coverage_topk", oracle=_VOCAB_SQL)
def vocab_coverage_topk(spark, sf_dir):
    """Vocabulary head report: top-`_TOPK` tokens by corpus count, with
    document frequency, token share, and cumulative coverage share.

    Scale: the vocab groupBy is the only big shuffle; top-K is Spark's
    distributed TakeOrdered (never a global sort of the vocab); the
    cumulative window runs over the K=100 survivors only — a deliberate
    single tiny partition, not a scale risk."""
    d = T(spark, sf_dir, "documents")
    vocab = _tokens(d).groupBy("t").agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("df")
    )
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    topk = vocab.orderBy(F.col("cnt").desc(), "t").limit(_TOPK)
    w = Window.orderBy(F.col("cnt").desc(), "t")
    return (
        topk.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("bigint").alias("rk"),
            F.col("t").alias("token"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("cnt") / F.col("total") + 1e-12, 9).alias("share"),
            F.round(
                F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("total")
                + 1e-12,
                9,
            ).alias("cum_share"),
        )
    )


_PPL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents
),
occ AS (SELECT doc_id, t FROM tok WHERE t <> ''),
vocab AS (SELECT t, count(*) AS cnt FROM occ GROUP BY t),
stats AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
  FROM vocab
)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(exp(-sum(ln((vo.cnt + 1.0)
                         / ((SELECT total FROM stats)
                            + (SELECT v FROM stats))))
                 / count(*)) + 1e-12, 6) AS ppl
FROM occ o JOIN vocab vo ON o.t = vo.t
GROUP BY o.doc_id
"""


@query("quality_lm_perplexity", oracle=_PPL_SQL)
def quality_lm_perplexity(spark, sf_dir):
    """Per-document self-perplexity under an add-1-smoothed unigram LM
    estimated from the corpus: ppl = exp(-mean ln p(t)), p(t) =
    (cnt+1)/(total+|V|). The statistical quality gate — gibberish and
    boilerplate sit far from the corpus distribution.

    Scale/perf shape (measured 4.1s → ~1s at sf0.1):
    - ``spread()`` fans the byte-light documents scan out BEFORE the
      tokenize explode (the minhash lesson — one 1.5 MB split otherwise
      serializes all the regex work on one core);
    - occurrences collapse to per-doc TERM COUNTS first, so the vocab join
      carries distinct (doc, term) pairs (2.3× fewer rows here; at web
      scale the Zipf head collapses far more) and ln() evaluates once per
      pair, weighted by the count — sum(c·ln p)/sum(c) ≡ mean over
      occurrences, identically to the oracle up to summation order (6-dp
      rounding absorbs);
    - global stats collapse to TWO doubles (broadcast scalar row); the
      vocab join shuffles on the token key when a web-scale vocab exceeds
      broadcast (AQE converts whenever it fits)."""
    return _doc_ppl(spark, sf_dir)


def _doc_ppl(spark, sf_dir):
    """Shared per-doc (doc_id, n_tokens, ppl) dataflow — consumed by
    quality_lm_perplexity and the threshold-survival sweep."""
    from pyspark.sql import Window

    from ..helpers import spread

    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    # docterm feeds BOTH the vocab aggregate and the scoring: one barrier
    # (computed fresh per invocation) + a sum-over-(PARTITION BY t) window
    # instead of a join gives one tokenize pass and ONE t-exchange total.
    # cnt is the identical integer sum, so every downstream double is
    # unchanged.
    docterm = materialize(
        _tokens(d)
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = docterm.agg(
        F.sum("c").cast("double").alias("total"),
        F.countDistinct("t").cast("double").alias("v"),
    )
    dtc = docterm.withColumn("cnt", F.sum("c").over(Window.partitionBy("t")))
    logp = F.log((F.col("cnt") + 1.0) / (F.col("total") + F.col("v")))
    return (
        dtc.crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.exp(-F.sum(F.col("c") * logp) / F.sum("c")) + 1e-12, 6
            ).alias("ppl"),
        )
    )


_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000"
)

_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT CASE WHEN {_SPLIT_BUCKET_SQL} < 800 THEN 'train'
              WHEN {_SPLIT_BUCKET_SQL} < 900 THEN 'valid'
              ELSE 'test' END AS split,
         len(list_filter({_TOK_SQL}, x -> x <> '')) AS n_tok,
         n_chars
  FROM documents
)
SELECT split,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tok) AS BIGINT)    AS n_tokens,
       CAST(sum(n_chars) AS BIGINT)  AS sum_chars,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents) + 1e-12, 6)
           AS doc_share
FROM tagged GROUP BY split
"""


@query("split_train_valid_test", oracle=_SPLIT_SQL)
def split_train_valid_test(spark, sf_dir):
    """Deterministic 80/10/10 corpus split by content-hash bucket (the same
    md5-bucket idiom as ``sample_stratified_hash``), reported as per-split
    doc/token/char mass. Hash splitting is how a 100 TB corpus is split:
    no RNG state, stable under reruns/repartition/engine change, and a doc
    never migrates between splits when the corpus grows — pure map-side
    classify plus a 3-group aggregate."""
    d = T(spark, sf_dir, "documents")
    bucket = md5_int(F.col("doc_id").cast("string")) % 1000
    n_tok = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    )
    tagged = d.select(
        F.when(bucket < 800, "train")
        .when(bucket < 900, "valid")
        .otherwise("test")
        .alias("split"),
        n_tok.alias("n_tok"),
        "n_chars",
    )
    total = d.count()
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.round(F.count(F.lit(1)) / F.lit(float(total)) + 1e-12, 6).alias(
            "doc_share"
        ),
    )


_BIGRAM_TOPK = 50

_BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                               i -> concat(a[i], ' ', a[i+1]))) AS bigram
  FROM tok
),
cnt AS (
  SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
  FROM bg WHERE bigram <> '' AND bigram <> ' ' GROUP BY bigram
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rk,
       bigram, CAST(n AS BIGINT) AS n, CAST(df AS BIGINT) AS df
FROM cnt ORDER BY n DESC, bigram LIMIT {_BIGRAM_TOPK}
"""


@query("corpus_bigram_counts", oracle=_BIGRAM_SQL)
def corpus_bigram_counts(spark, sf_dir):
    """Corpus bigram frequency head (top-`_BIGRAM_TOPK` with doc
    frequency) — the n-gram count table LM tokenizer/merge steps consume
    (BPE merge candidates are exactly high-frequency adjacent pairs).
    Non-distinct bigrams per doc (counts weight repetitions), one explode
    + one groupBy(bigram) shuffle, distributed TakeOrdered for the head —
    the same plan discipline as vocab_coverage_topk."""
    from ..functions.hive_compat import ngram_array
    from ..helpers import spread

    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    bg = d.select(
        "doc_id",
        F.explode(
            ngram_array(F.split(F.lower("text"), r"\s+"), 2)
        ).alias("bigram"),
    ).filter((F.col("bigram") != "") & (F.col("bigram") != " "))
    cnt = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df")
    )
    topk = cnt.orderBy(F.col("n").desc(), "bigram").limit(_BIGRAM_TOPK)
    w = Window.orderBy(F.col("n").desc(), "bigram")
    return topk.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        "bigram",
        F.col("n").cast("bigint").alias("n"),
        F.col("df").cast("bigint").alias("df"),
    )


# ---- 5. BPE merge learning (fixed-iteration, fully oracled) -------------

_BPE_MERGES = 6


def _bpe_ctes() -> str:
    """Unrolled BPE as a CTE body (no WITH / final SELECT), one
    (pair-count, argmax, re-segment) CTE triple per merge step.
    Re-segmentation replays the engine-side fold: ``list_reduce`` over the
    symbol array with a string accumulator whose last token is tested via
    ``LIKE '% ' || l`` (symbols never contain spaces or LIKE wildcards —
    lowercase word chars plus '</w>' and their concatenations). Final
    segmentation state is the ``s`` CTE of step `_BPE_MERGES`; shared by the
    learn and encode oracles."""
    parts = [
        f"""
    tok AS (
      SELECT unnest({_TOK_SQL}) AS w FROM documents
    ),
    w AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE w <> '' GROUP BY w
    ),
    s0 AS (
      SELECT word, freq,
             array_to_string(string_split_regex(word, ''), ' ') || ' </w>' AS sym
      FROM w
    )"""
    ]
    for i in range(1, _BPE_MERGES + 1):
        prev = f"s{i-1}"
        parts.append(
            f""",
    p{i} AS (
      SELECT split_part(pr, ' ', 1) AS l, split_part(pr, ' ', 2) AS r,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(a)),
                      j -> a[j] || ' ' || a[j+1])) AS pr, freq
        FROM (SELECT string_split(sym, ' ') AS a, freq FROM {prev})
      ) GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    s{i} AS (
      SELECT word, freq,
             list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE
                 WHEN x = b.r AND (acc = b.l OR acc LIKE '% ' || b.l)
                 THEN CASE WHEN acc = b.l THEN b.l || b.r
                      ELSE substr(acc, 1, length(acc) - length(b.l) - 1)
                           || ' ' || b.l || b.r END
                 ELSE acc || ' ' || x END) AS sym
      FROM {prev}, b{i} b
    )"""
        )
    return "".join(parts)


def _bpe_oracle() -> str:
    union = "\n    UNION ALL\n".join(
        f"    SELECT CAST({i} AS INT) AS step, l AS left_sym, r AS right_sym, cnt"
        f" FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return f"WITH {_bpe_ctes()}\n{union}"


# The left-to-right non-overlapping re-segmentation fold (Sennrich BPE
# convention), expressed once as a SQL expression template over columns
# `sym` (space-joined symbols), `l`, `r` (the merge pair).
_BPE_FOLD = """
aggregate(
  slice(split(sym, ' '), 2, size(split(sym, ' ')) - 1),
  element_at(split(sym, ' '), 1),
  (acc, x) -> CASE
    WHEN x = r AND (acc = l OR endswith(acc, concat(' ', l)))
    THEN CASE WHEN acc = l THEN concat(l, r)
         ELSE concat(substr(acc, 1, length(acc) - length(l) - 1),
                     ' ', l, r) END
    ELSE concat(acc, ' ', x) END)
"""


@query("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark, sf_dir):
    """Distributed BPE tokenizer induction: learn the first `_BPE_MERGES` merge rules
    (Sennrich-style byte-pair encoding over the word-frequency table) and
    emit (step, left_sym, right_sym, pair_count). Each iteration is (1) an
    adjacent-pair count over the current segmentation, (2) a global argmax
    with deterministic (count desc, left, right) tie-break, (3) a
    re-segmentation applying ONLY that pair, as a left-to-right
    non-overlapping fold. The argmax never touches the driver: the 1-row
    best-pair relation is broadcast-joined into the next state, so the
    whole K-step program is one lazy DAG.

    100 TB shape: BPE learns from the *word-frequency table*, not the raw
    corpus — the only corpus-sized shuffle is the initial groupBy(word);
    every subsequent step works on |vocab| rows (tens of millions at web
    scale, trivially partitionable), with per-step cost one groupBy(pair)
    + one broadcast of a single row. This is exactly how production
    tokenizer trainers (HuggingFace tokenizers, SentencePiece on Spark)
    structure the counting phase.

    DuckDB oracle: the same `_BPE_MERGES` iterations unrolled as CTEs (pagerank
    pattern), with the identical fold replayed via list_reduce — exact
    integer counts, so no float tolerance is needed anywhere."""
    _, merges = _bpe_train(spark, sf_dir)
    return merges


def _bpe_train(spark, sf_dir):
    """Shared BPE training dataflow: returns (final (word, freq, sym)
    segmentation state, the (step, left_sym, right_sym, cnt) merge table)
    — consumed by bpe_learn_merges and bpe_encode_corpus."""
    d = T(spark, sf_dir, "documents")
    words = (
        _tokens(d)
        .groupBy(F.col("t").alias("word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    state = words.select(
        "word",
        "freq",
        F.concat(
            F.concat_ws(" ", F.split(F.col("word"), "")), F.lit(" </w>")
        ).alias("sym"),
    )
    bests = []
    for i in range(1, _BPE_MERGES + 1):
        pairs = state.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(sym, ' ')) - 1),"
                    " j -> concat(element_at(split(sym, ' '), j), ' ',"
                    "             element_at(split(sym, ' '), j + 1)))"
                )
            ).alias("pr"),
            "freq",
        )
        pc = pairs.groupBy(
            F.split_part(F.col("pr"), F.lit(" "), F.lit(1)).alias("l"),
            F.split_part(F.col("pr"), F.lit(" "), F.lit(2)).alias("r"),
        ).agg(F.sum("freq").cast("bigint").alias("cnt"))
        best = pc.orderBy(F.desc("cnt"), "l", "r").limit(1)
        bests.append(best.select(F.lit(i).cast("int").alias("step"), "l", "r", "cnt"))
        state = state.crossJoin(F.broadcast(best.select("l", "r"))).select(
            "word", "freq", F.expr(_BPE_FOLD).alias("sym")
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    merges = out.select(
        "step",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        "cnt",
    )
    return state, merges


def _bpe_encode_oracle() -> str:
    return f"""
WITH {_bpe_ctes()},
doctok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS w FROM documents
),
enc AS (
  SELECT word, len(string_split(sym, ' ')) AS n_sub FROM s{_BPE_MERGES}
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.n_sub) AS BIGINT) AS n_subwords,
       round(sum(e.n_sub) * 1.0 / count(*) + 1e-9, 6) AS subwords_per_word
FROM doctok d JOIN enc e ON d.w = e.word
WHERE d.w <> ''
GROUP BY d.doc_id
"""


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def bpe_encode_corpus(spark, sf_dir):
    """BPE ENCODING — the apply side completing bpe_learn_merges: train
    the `_BPE_MERGES`-rule merge table, keep the final per-word segmentation (the
    subword lexicon), and tokenize the corpus against it: per document,
    word count, subword count after the merges, and subwords-per-word (the
    fertility metric tokenizer teams track). Encoding through the WORD
    table is the production topology: merges apply once per vocabulary
    TYPE (|V| rows), and documents join word→segmentation instead of
    re-running the merge fold per token occurrence — at web scale that is
    a Zipf-sized saving (occurrences/type ≫ 1). The join shuffles on the
    word key (AQE broadcasts when the lexicon fits); the per-doc agg is
    the only other shuffle. Fully oracled: the DuckDB side unrolls the
    same `_BPE_MERGES` merges and re-derives the identical lexicon."""
    state, _ = _bpe_train(spark, sf_dir)
    enc = state.select(
        "word", F.size(F.split("sym", " ")).alias("n_sub")
    )
    d = T(spark, sf_dir, "documents")
    doctok = _tokens(d).select("doc_id", F.col("t").alias("word"))
    return (
        doctok.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.round(
                F.sum("n_sub") * 1.0 / F.count(F.lit(1)) + F.lit(1e-9), 6
            ).alias("subwords_per_word"),
        )
    )


# ---- DSIR-style hashed-feature importance weights ------------------------

_DSIR_B = 512  # hashed feature-space size
_DSIR_TGT = "en"  # target-domain proxy: English docs

_DSIR_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {_DSIR_B}"
)

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOK_SQL}) AS t FROM documents
),
occ AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM tok WHERE t <> ''
),
src AS (SELECT b, count(*) AS sc FROM occ GROUP BY b),
tgt AS (SELECT b, count(*) AS tc FROM occ WHERE lang = '{_DSIR_TGT}' GROUP BY b),
tot AS (
  SELECT CAST((SELECT count(*) FROM occ) AS DOUBLE) AS st,
         CAST((SELECT count(*) FROM occ WHERE lang = '{_DSIR_TGT}') AS DOUBLE)
             AS tt
),
ratio AS (
  SELECT s.b,
         ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + {_DSIR_B}))
         - ln((s.sc + 1.0) / (tot.st + {_DSIR_B})) AS lr
  FROM src s LEFT JOIN tgt t ON s.b = t.b CROSS JOIN tot
)
SELECT o.doc_id,
       any_value(o.lang) AS lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(r.lr) / count(*) + 1e-9, 6) + 0.0 AS logw
FROM occ o JOIN ratio r ON o.b = r.b
GROUP BY o.doc_id
"""


@query("dsir_importance_weights", oracle=_DSIR_SQL)
def dsir_importance_weights(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023): per-document importance
    weight = mean over tokens of ln(p_target/p_source) under add-1-smoothed
    hashed-unigram LMs (feature space = `_DSIR_B` md5 buckets; target domain =
    lang = `_DSIR_TGT` docs, source = the whole corpus). Docs whose token
    distribution resembles the target get logw > 0 and would be upsampled
    by an importance resampler (sample_weighted_hash is the mechanism).

    100 TB shape: the feature tables collapse to `_DSIR_B` rows each (broadcast,
    regardless of corpus size) — that collapse is the whole point of
    DSIR's hashing trick; per-doc scoring is one groupBy(doc_id, bucket)
    count plus a broadcast join, so the only corpus-sized shuffle is keyed
    on (doc, bucket). No vocab-sized state anywhere."""
    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    bucket = md5_int("t") % _DSIR_B
    occ = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("t"),
        )
        .filter(F.col("t") != "")
        .select("doc_id", "lang", bucket.alias("b"))
    )
    docb = occ.groupBy("doc_id", "b").agg(
        F.any_value("lang").alias("lang"), F.count(F.lit(1)).alias("c")
    )
    src = docb.groupBy("b").agg(F.sum("c").alias("sc"))
    tgt = (
        docb.filter(F.col("lang") == _DSIR_TGT)
        .groupBy("b")
        .agg(F.sum("c").alias("tc"))
    )
    tot = docb.agg(
        F.sum("c").cast("double").alias("st"),
        F.sum(F.when(F.col("lang") == _DSIR_TGT, F.col("c")).otherwise(0))
        .cast("double")
        .alias("tt"),
    )
    ratio = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.coalesce("tc", F.lit(0)) + 1.0) / (F.col("tt") + _DSIR_B))
                - F.log((F.col("sc") + 1.0) / (F.col("st") + _DSIR_B))
            ).alias("lr"),
        )
    )
    return (
        docb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            # + 0.0 after the round: a mean lr in (-5e-7, 0) —
            # produced by the bijected sf1 corpus — rounds to -0.0 in
            # DuckDB (sign-preserving) but +0.0 in Spark (BigDecimal
            # HALF_UP drops the sign), and the value hash distinguishes
            # them. IEEE -0.0 + 0.0 = +0.0 normalizes BOTH engines; the
            # 1e-9 shift stays for ordinary boundary noise.
            (
                F.round(
                    F.sum(F.col("c") * F.col("lr")) / F.sum("c") + 1e-9, 6
                )
                + F.lit(0.0)
            ).alias("logw"),
        )
    )


# ---- vocabulary-size OOV sweep -------------------------------------------

_VOCAB_SIZES = (8, 16, 32, 48)


@query(
    "vocab_truncation_oov",
    oracle=f"""
    WITH occ AS (
      SELECT t FROM (SELECT unnest({_TOK_SQL}) AS t FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT t, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, t) AS rk
      FROM occ GROUP BY t
    ),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    sizes AS (SELECT unnest([{", ".join(str(v) for v in _VOCAB_SIZES)}])
                     AS vocab_size)
    SELECT s.vocab_size,
           CAST(sum(CASE WHEN v.rk > s.vocab_size THEN v.cnt ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           round(sum(CASE WHEN v.rk > s.vocab_size THEN v.cnt ELSE 0 END)
                 * 1.0 / (SELECT total FROM tot) + 1e-9, 6) AS oov_rate,
           CAST(count(CASE WHEN v.rk > s.vocab_size THEN 1 END) AS BIGINT)
               AS oov_types
    FROM sizes s CROSS JOIN vocab v
    GROUP BY s.vocab_size
    """,
)
def vocab_truncation_oov(spark, sf_dir):
    """Vocabulary-sizing sweep: for each candidate vocab size, the
    out-of-vocabulary token mass if the vocab is truncated to the top-N
    types by frequency (count desc, token tie-break) — the report that
    decides a tokenizer's vocab budget (complement of vocab_coverage_topk,
    which walks coverage from the head). The type table is built once
    (one groupBy(token) shuffle — vocabulary-sized, Zipf-bounded), ranked
    with one window, and swept against the broadcast size ladder; all
    quantities are exact integers except the final rate ratio."""
    occ = _tokens(T(spark, sf_dir, "documents"))
    from pyspark.sql import Window as W

    vocab = (
        occ.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("cnt"), F.col("t")))
        )
    )
    tot = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    sizes = spark.createDataFrame(
        [(v,) for v in _VOCAB_SIZES], ["vocab_size"]
    )
    oov = F.when(F.col("rk") > F.col("vocab_size"), F.col("cnt")).otherwise(0)
    return (
        vocab.crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            F.sum(oov).cast("bigint").alias("oov_tokens"),
            F.sum(oov).alias("_oov"),
            F.count(
                F.when(F.col("rk") > F.col("vocab_size"), F.lit(1))
            )
            .cast("bigint")
            .alias("oov_types"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "oov_tokens",
            F.round(F.col("_oov") / F.col("total") + F.lit(1e-9), 6).alias(
                "oov_rate"
            ),
            "oov_types",
        )
    )


# ---- interpolated Kneser-Ney bigram LM perplexity ------------------------

_KN_D = 0.75  # absolute discount


def _kn_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
pairs AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                                 i -> {{'w1': a[i], 'w2': a[i+1]}})) AS u
    FROM tok
  )
  WHERE u.w1 <> '' AND u.w2 <> ''
),
bc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cb FROM pairs GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cb) AS ct, CAST(count(*) AS DOUBLE) AS nf FROM bc GROUP BY w1),
cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS np FROM bc GROUP BY w2),
tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bc),
p AS (
  SELECT bc.w1, bc.w2,
         (greatest(bc.cb - {_KN_D}, 0.0)
          + {_KN_D} * ctx.nf * (cont.np / tt.t)) / ctx.ct AS pkn
  FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tt
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(exp(-sum(ln(p.pkn)) / count(*)) + 1e-12, 6) AS kn_ppl
FROM pairs d JOIN p ON d.w1 = p.w1 AND d.w2 = p.w2
GROUP BY d.doc_id
"""


@query("quality_kn_bigram_perplexity", oracle=_kn_oracle())
def quality_kn_bigram_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity per document (absolute
    discount D=`_KN_D`) — the stronger LM-based quality signal beyond the
    add-1 unigram ppl (quality_lm_perplexity): P(w2|w1) = (max(c(w1,w2)-D,
    0) + D·N1+(w1·)·P_cont(w2)) / c(w1·), with the continuation
    probability P_cont(w2) = N1+(·w2)/|bigram types| — the smoothing that
    made n-gram LMs competitive and still the classic data-quality scorer
    (low-ppl docs read like the corpus; high-ppl docs are noise/boilerplate
    candidates).

    Determinism: the probability expression is written in the identical
    operation order in both engines (pure count arithmetic — exact
    doubles), so only ln/exp libm tails differ (≤1 ulp each, absorbed by
    the 6-dp round — the quality_lm_perplexity precedent). 100 TB shape:
    three count tables keyed by word/bigram (map-side partial counts), the
    continuation/context tables are vocab-sized, the scoring join shuffles
    on the bigram key, per-doc agg on doc_id — no pairwise anything."""
    from ..helpers import spread

    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    a = F.split(F.lower("text"), r"\s+")
    pairs = (
        d.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(a, 1, F.size(a) - 1).alias("w1"),
                    F.slice(a, 2, F.size(a) - 1).alias("w2"),
                )
            ).alias("u"),
        )
        .select("doc_id", F.col("u.w1").alias("w1"), F.col("u.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # bc is consumed by ctx, cont, tt AND the scoring join — four
    # references, each re-running the bigram explode + (w1,w2) shuffle.
    # One barrier (bigram-type grain, vocab-bounded; recomputed from
    # parquet per invocation) cuts those to one pass.
    bc = materialize(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("cb").alias("ct"), F.count(F.lit(1)).cast("double").alias("nf")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("np"))
    tt = bc.agg(F.count(F.lit(1)).cast("double").alias("t"))
    p = (
        bc.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            (
                (
                    F.greatest(F.col("cb") - _KN_D, F.lit(0.0))
                    + _KN_D * F.col("nf") * (F.col("np") / F.col("t"))
                )
                / F.col("ct")
            ).alias("pkn"),
        )
    )
    return (
        pairs.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.exp(-F.sum(F.log("pkn")) / F.count(F.lit(1))) + F.lit(1e-12),
                6,
            ).alias("kn_ppl"),
        )
    )


# ---- 8. PMI collocation mining ------------------------------------------

_PMI_MIN_CNT = 5   # bigram count floor — kills noise pairs before ranking
_PMI_TOPK = 50

# PMI computed as a FIXED-ORDER sum of log2 terms (never one big product:
# c_xy * N^2 can pass 2^53 on a web corpus and silently lose integer
# exactness; each individual count stays exact as a double input to log2).
# Both engines evaluate the same textual expression left-to-right, so the
# IEEE op sequence is identical; the 6dp round + 1e-9 shift absorbs libm
# last-ulp differences between JVM and C log2.
_PMI_EXPR = (
    "round(log2(CAST(cxy AS DOUBLE)) - log2(btot) - log2(CAST(cx AS DOUBLE))"
    " - log2(CAST(cy AS DOUBLE)) + 2 * log2(ntot) + 1e-9, 6)"
)

_PMI_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
uni AS (
  SELECT t, count(*) AS c
  FROM (SELECT unnest(a) AS t FROM tok) WHERE t <> '' GROUP BY t
),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS ntot FROM uni),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                               i -> concat(a[i], ' ', a[i+1]))) AS bigram
  FROM tok
),
bcnt AS (
  SELECT bigram, count(*) AS cxy FROM bg
  WHERE bigram <> '' AND bigram <> ' ' GROUP BY bigram
  HAVING count(*) >= {_PMI_MIN_CNT}
),
btot AS (
  SELECT CAST(sum(cxy) AS DOUBLE) AS btot FROM
  (SELECT bigram, count(*) AS cxy FROM bg
   WHERE bigram <> '' AND bigram <> ' ' GROUP BY bigram)
),
scored AS (
  SELECT b.bigram, b.cxy, ux.c AS cx, uy.c AS cy,
         {_PMI_EXPR} AS pmi
  FROM bcnt b
  JOIN uni ux ON ux.t = string_split(b.bigram, ' ')[1]
  JOIN uni uy ON uy.t = string_split(b.bigram, ' ')[2]
  CROSS JOIN tot CROSS JOIN btot
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS BIGINT) AS rk,
       bigram, CAST(cxy AS BIGINT) AS cxy,
       CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy, pmi
FROM scored ORDER BY pmi DESC, bigram LIMIT {_PMI_TOPK}
"""


@query("quality_pmi_collocations", oracle=_PMI_SQL)
def quality_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: top-`_PMI_TOPK` bigrams by
    PMI = log2(p(xy) / (p(x)p(y))) with a count floor of `_PMI_MIN_CNT` — the
    association-strength companion to `corpus_bigram_counts`' raw
    frequency head (frequency finds 'of the'; PMI finds the genuinely
    bound pairs a tokenizer should keep whole).

    100 TB shape: unigram and bigram counts are two groupBy shuffles over
    exploded tokens (map-side combine collapses repeats early); the two
    totals are broadcast single-row aggregates; attaching c_x/c_y is a
    pair of joins keyed on token — at web scale the vocab exceeds
    broadcast so these shuffle on the token key, and the count floor has
    already cut the bigram side by orders of magnitude before either
    join. Ranking is a distributed TakeOrdered over the floor survivors,
    never a global sort. PMI is a fixed-order sum of log2 terms, rounded
    BEFORE the rank cut (rounded-value ties break on the bigram string),
    so the top-`_PMI_TOPK` membership itself is engine-stable."""
    from ..functions.hive_compat import ngram_array

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("a")
    )
    uni = (
        toks.select(F.explode("a").alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("ntot"))
    bg = toks.select(
        F.explode(ngram_array(F.col("a"), 2)).alias("bigram")
    ).filter((F.col("bigram") != "") & (F.col("bigram") != " "))
    bcnt_all = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cxy"))
    btot = bcnt_all.agg(F.sum("cxy").cast("double").alias("btot"))
    bcnt = bcnt_all.filter(F.col("cxy") >= _PMI_MIN_CNT).select(
        "bigram",
        "cxy",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    scored = (
        bcnt.join(uni.select(F.col("t").alias("w1"), F.col("c").alias("cx")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("cy")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn("pmi", F.expr(_PMI_EXPR))
    )
    topk = scored.orderBy(F.col("pmi").desc(), "bigram").limit(_PMI_TOPK)
    w = Window.orderBy(F.col("pmi").desc(), "bigram")
    return topk.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        "bigram",
        F.col("cxy").cast("bigint").alias("cxy"),
        F.col("cx").cast("bigint").alias("cx"),
        F.col("cy").cast("bigint").alias("cy"),
        "pmi",
    )


# ---- greedy decoding from the bigram LM -----------------------------------

_GEN_STEPS = 12

_GEN_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
w AS (SELECT unnest(a) AS tok FROM tok),
uni AS (SELECT tok, count(*) AS c FROM w WHERE tok <> '' GROUP BY tok),
seed AS (SELECT tok FROM uni ORDER BY c DESC, tok LIMIT 1),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                               i -> {{'w1': a[i], 'w2': a[i+1]}})) AS u
  FROM tok
),
pc AS (
  SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS cnt
  FROM bg WHERE u.w1 <> '' AND u.w2 <> '' GROUP BY 1, 2
),
nxt AS (
  SELECT w1, w2, cnt FROM (
    SELECT w1, w2, cnt,
           row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rk
    FROM pc
  ) WHERE rk = 1
),
walk AS (
  SELECT 0 AS step, tok AS token, CAST(NULL AS BIGINT) AS cnt FROM seed
  UNION ALL
  SELECT wa.step + 1, n.w2, CAST(n.cnt AS BIGINT)
  FROM walk wa JOIN nxt n ON n.w1 = wa.token
  WHERE wa.step < {_GEN_STEPS}
)
SELECT step, token, cnt FROM walk
"""


@query("lm_greedy_generation", oracle=_GEN_SQL)
def lm_greedy_generation(spark, sf_dir):
    """Greedy (argmax) decoding from the corpus bigram LM: seed with the
    most frequent token, then `_GEN_STEPS` steps of next = argmax_w count(prev, w)
    — the deterministic skeleton of LM inference (beam width 1,
    temperature 0) run entirely as dataflow: no trained weights, the
    count table IS the model. Emits the decoded sequence with each
    transition's supporting bigram count.

    Determinism: pure integer counts; ties broken lexicographically
    (row_number over cnt DESC, w2). Dead-ends just stop the walk on both
    engines.

    100 TB: the count tables are the only corpus-scale work (one explode +
    one groupBy each); the transition table (argmax per w1 = one hash-agg
    -style window over |vocab| rows) is broadcast, and each decode step is
    a 1-row broadcast join — the plan stays distributed end-to-end with
    no collect, and S chained steps cost S tiny stages. The oracle replays
    the walk with a recursive CTE."""
    d = spread(T(spark, sf_dir, "documents"), "doc_id")
    from ..functions.hive_compat import ngram_array

    arr = F.split(F.lower("text"), r"\s+")
    toks = d.select(F.explode(arr).alias("tok")).filter(F.col("tok") != "")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    seed = uni.orderBy(F.desc("c"), "tok").limit(1).select(
        F.lit(0).alias("step"),
        F.col("tok").alias("token"),
        F.lit(None).cast("bigint").alias("cnt"),
    )
    pairs = (
        d.select(F.explode(ngram_array(arr, 2)).alias("bigram"))
        .select(
            F.split("bigram", " ")[0].alias("w1"),
            F.split("bigram", " ")[1].alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bcnt"))
    wk = Window.partitionBy("w1").orderBy(F.desc("bcnt"), "w2")
    nxt = (
        pc.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("w1", "w2", F.col("bcnt").cast("bigint").alias("bcnt"))
    )
    frames = [seed]
    cur = seed
    for i in range(1, _GEN_STEPS + 1):
        cur = cur.join(F.broadcast(nxt), cur["token"] == nxt["w1"]).select(
            F.lit(i).alias("step"),
            F.col("w2").alias("token"),
            F.col("bcnt").alias("cnt"),
        )
        frames.append(cur)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ---- perplexity-filter threshold sweep -------------------------------------

_SWEEP_FACTORS = (0.9, 0.95, 1.0, 1.05, 1.1, 1.25, 1.5)

_SWEEP_SQL = f"""
WITH p AS (SELECT * FROM ({_PPL_SQL})),
med AS (
  SELECT floor((quantile_cont(ppl, 0.5) + 1e-9) * 1000000 + 0.5) / 1000000
           AS m
  FROM p
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_toks
  FROM p
),
th AS (
  SELECT f, round((SELECT m FROM med) * f + 1e-9, 6) AS th
  FROM (VALUES {", ".join(f"(CAST({f} AS DOUBLE))" for f in _SWEEP_FACTORS)})
       t(f)
)
SELECT th.f, th.th,
       CAST(count(p.doc_id) AS BIGINT) AS n_kept,
       round(count(p.doc_id) * 1.0 / (SELECT n_docs FROM tot) + 1e-9, 6)
         AS doc_share,
       CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS tok_kept,
       round(CAST(coalesce(sum(p.n_tokens), 0) AS DOUBLE)
             / (SELECT n_toks FROM tot) + 1e-9, 6) AS tok_share,
       round(avg(p.ppl) + 1e-9, 4) AS mean_ppl_kept
FROM th LEFT JOIN p ON p.ppl <= th.th
GROUP BY th.f, th.th
"""


@query("quality_ppl_filter_sweep", oracle=_SWEEP_SQL)
def quality_ppl_filter_sweep(spark, sf_dir):
    """Perplexity-filter threshold sweep: survival curve of the corpus
    under a keep-if-ppl<=threshold gate, at multiplicative factors of the
    median per-doc perplexity — the tuning report an operator reads
    BEFORE fixing the filter cutoff (dedup_threshold_sweep's counterpart
    on the quality axis). Per threshold: docs kept, doc share, token mass
    kept, token share, and the mean perplexity of the survivors.

    Determinism: per-doc ppl is the shared 6dp dataflow; the median is
    6dp-floor-quantized; thresholds are products of that quantized median
    with identical literals (bit-identical); the membership cut compares
    quantized values only. Survivor mean cut at 4dp.

    100 TB: the per-doc table is computed ONCE (the shared _doc_ppl
    dataflow — one token shuffle); the sweep itself fans |docs| x 7
    threshold rows map-side against a broadcast 7-row ladder and
    re-aggregates — cost is one extra pass over doc-level rows, never
    token-level."""
    ppl = _doc_ppl(spark, sf_dir)
    med = ppl.agg(
        (
            F.floor((F.percentile("ppl", 0.5) + F.lit(1e-9)) * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("m")
    )
    tot = ppl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_toks"),
    )
    fs = spark.createDataFrame(
        [(f,) for f in _SWEEP_FACTORS], "f double"
    )
    th = fs.crossJoin(F.broadcast(med)).select(
        "f", F.round(F.col("m") * F.col("f") + F.lit(1e-9), 6).alias("th")
    )
    kept = (
        ppl.crossJoin(F.broadcast(th))
        .filter(F.col("ppl") <= F.col("th"))
        .groupBy("f", "th")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tok_kept"),
            F.round(F.avg("ppl") + F.lit(1e-9), 4).alias("mean_ppl_kept"),
        )
    )
    # empty-survivor thresholds stay in the curve as zero rows
    kept = th.join(kept, ["f", "th"], "left").select(
        "f",
        "th",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce(F.col("tok_kept"), F.lit(0).cast("bigint")).alias(
            "tok_kept"
        ),
        "mean_ppl_kept",
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        "f",
        "th",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_docs") + F.lit(1e-9), 6).alias(
            "doc_share"
        ),
        "tok_kept",
        F.round(
            F.col("tok_kept").cast("double") / F.col("n_toks") + F.lit(1e-9), 6
        ).alias("tok_share"),
        "mean_ppl_kept",
    )
