"""Corpus-preparation operators for LLM training pipelines (SURVEY.md §2.11).

The ops a 100 TB pretraining-data pipeline runs between raw crawl and
tokenizer, beyond dedup/similarity (pipeline/dedup.py, similarity.py):

1. contamination detection — flag corpus docs sharing any 5-token shingle
   with a benchmark/eval set (the n-gram-overlap decontamination used for
   public eval suites). Shuffle key = shingle hash; the benchmark side is
   tiny → broadcast. Never pairwise on docs.
2. PII redaction — regex scrubbing (emails/phones) with redaction counts;
   pure JVM-side regexp, codegen-resident.
3. sliding-window chunking — split docs into fixed-size overlapping token
   chunks (the context-window prep step). One explode; no shuffle at all.
4. Gopher-style repetition quality — duplicate-token fraction, most-common-
   2-gram fraction, mean token length → keep/drop verdict per doc.
5. stratified hash sampling — deterministic per-language keep rates via an
   md5 bucket in [0,1000); reproducible across engines and runs, no RNG
   state, embarrassingly parallel (the way to downsample a 100 TB crawl).
6. per-stratum cap resampling — rank docs inside each language by content
   hash, keep the first K: bounds any stratum without a global sort.
7. greedy sequence packing — first-fit documents into fixed token budgets
   (training-batch packing). Inherently sequential per bin → partition the
   corpus into hash buckets, pack greedily *within* each bucket via
   applyInPandas (Arrow-batched), so packing parallelizes bucket-wise.
8. corpus mixture weights — token-share report per (lang, source) — the
   sampling-weights table a data-mixing stage consumes.

All but packing are exactly oracled in DuckDB (packing is order-dependent
imperative logic — rows-only + invariant tests in tests/test_corpus.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..functions.hive_compat import ngram_array, shingles
from ..helpers import T, md5_int, spread
from ..registry import query

# ---- shared shingle SQL (DuckDB side) -----------------------------------


def _shingle_sql(n: int, src: str = "documents") -> str:
    """DuckDB CTE body: (doc_id, shingle) with n-token shingles, distinct."""
    parts = ", ' ', ".join(f"a[i+{k}]" for k in range(n))
    return f"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(a) - {n - 1}, 0) + 1),
                              i -> concat({parts})))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
            FROM {src})
    """


def _shingles_spark(df, n: int):
    """(doc_id, shingle) distinct n-token shingles — one explode, JVM-side.
    Spread by doc first so the tokenize+ngram work parallelizes even when
    the corpus arrives as one input split (helpers.spread)."""
    return (
        spread(df, "doc_id")
        .select("doc_id", F.explode(shingles(F.col("text"), n)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


# ---- 1. contamination detection -----------------------------------------

_BENCH_MOD = 97  # doc_id % 97 == 0 stands in for the benchmark/eval set

_CONTAMINATION_SQL = f"""
WITH sh AS ({_shingle_sql(4)}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0)
SELECT c.doc_id,
       count(DISTINCT c.shingle)          AS n_shared_shingles,
       1                                  AS contaminated
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
"""


@query("contamination_ngram", oracle=_CONTAMINATION_SQL)
def contamination_ngram(spark, sf_dir):
    """Benchmark decontamination: corpus documents sharing >=1 distinct
    4-token shingle with the benchmark set (docs with id % 97 == 0), with
    the shared-shingle count (4 chosen so the check is non-vacuous at
    sf0.01 yet still selective — 8/495 docs flagged there, ~15% at sf0.1).
    The benchmark shingle set is small by construction → broadcast to the
    corpus-shingle side; the only shuffle is the per-doc count. At 100 TB
    the eval set stays KBs — a broadcast semi-join per shingle, never
    doc-pairwise."""
    d = T(spark, sf_dir, "documents")
    sh = _shingles_spark(d, 4)
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("shingle").distinct()
    )
    corpus = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.lit(1).alias("contaminated"),
        )
    )


_SPLIT_DECON_SQL = f"""
WITH sh AS ({_shingle_sql(4)}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
contam AS (
  SELECT DISTINCT c.doc_id FROM sh c JOIN bench b ON c.shingle = b.shingle
  WHERE c.doc_id % {_BENCH_MOD} <> 0
),
tagged AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000 < 800 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000 < 900 THEN 'valid'
              ELSE 'test' END AS split,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
),
kept AS (
  SELECT * FROM tagged
  WHERE split <> 'train' OR doc_id NOT IN (SELECT doc_id FROM contam)
),
rem AS (
  SELECT split, count(*) AS n_removed FROM tagged
  WHERE split = 'train' AND doc_id IN (SELECT doc_id FROM contam)
  GROUP BY split
)
SELECT k.split,
       CAST(count(*) AS BIGINT)                    AS n_docs,
       CAST(sum(k.n_tok) AS BIGINT)                AS n_tokens,
       CAST(coalesce(max(r.n_removed), 0) AS BIGINT) AS n_removed
FROM kept k LEFT JOIN rem r ON r.split = k.split
GROUP BY k.split
"""


@query("split_decontaminated", oracle=_SPLIT_DECON_SQL)
def split_decontaminated(spark, sf_dir):
    """Decontaminated pretraining split — `split_train_valid_test` and
    `contamination_ngram` COMPOSED the way a real corpus build runs them:
    documents sharing a 4-token shingle with the benchmark set are removed
    from the TRAIN split only (eval splits are never touched — the leak
    direction is eval content inside training data), reported as per-split
    kept doc/token mass plus the removed-count audit column. One dataflow:
    the md5-bucket split tag is map-side, the benchmark shingle set is a
    broadcast semi-join, and the anti-join prunes train docs before the
    3-group aggregate — at 100 TB nothing here is more than one corpus
    scan plus KB-sized broadcasts."""
    d = T(spark, sf_dir, "documents")
    sh = _shingles_spark(d, 4)
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("shingle").distinct()
    )
    contam = (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "shingle")
        .select("doc_id")
        .distinct()
    )
    bucket = md5_int(F.col("doc_id").cast("string")) % 1000
    n_tok = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    )
    tagged = d.select(
        "doc_id",
        F.when(bucket < 800, "train")
        .when(bucket < 900, "valid")
        .otherwise("test")
        .alias("split"),
        n_tok.alias("n_tok"),
    )
    train = tagged.filter(F.col("split") == "train")
    kept = tagged.filter(F.col("split") != "train").unionByName(
        train.join(contam, "doc_id", "left_anti")
    )
    removed = (
        train.join(contam, "doc_id", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return (
        kept.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .join(F.broadcast(removed), "split", "left")
        .select(
            "split",
            "n_docs",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
    )


# ---- 2. PII redaction ---------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b555-[0-9]{4}\\b"

_PII_SQL = f"""
WITH seeded AS (
  SELECT doc_id,
         concat(text, ' contact user', doc_id, '@example.com or 555-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                      '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
FROM seeded
"""


@query("pii_redaction", oracle=_PII_SQL)
def pii_redaction(spark, sf_dir):
    """PII scrubbing: seed each document with a synthetic email + phone
    (deterministic from doc_id — the corpus itself is clean), then count
    and redact both patterns. Pure regexp_replace/regexp_count — JVM
    codegen, linear scan, no shuffle. The regexes stick to syntax shared
    by Java regex and RE2 so the DuckDB oracle is bit-identical."""
    d = T(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


# ---- 3. sliding-window chunking -----------------------------------------

_CHUNK, _STRIDE = 32, 24

_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
  FROM documents
)
SELECT doc_id,
       CAST((s - 1) / {_STRIDE} AS INT)              AS chunk_idx,
       array_to_string(a[s : s + {_CHUNK - 1}], ' ')  AS chunk_text,
       CAST(len(a[s : s + {_CHUNK - 1}]) AS INT)      AS n_chunk_tokens
FROM toks, unnest(range(1, len(a) + 1, {_STRIDE})) AS t(s)
"""


@query("doc_chunk_sliding", oracle=_CHUNK_SQL)
def doc_chunk_sliding(spark, sf_dir):
    """Context-window prep: overlapping token chunks (size 32, stride 24 —
    8-token overlap). One `explode` of the start-index sequence per doc;
    narrow transform, zero shuffles, scales with tokens not documents.
    DuckDB's 1-based inclusive list slice a[s : s+31] == Spark
    slice(a, s, 32)."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return (
        d.select("doc_id", toks.alias("a"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("a"), F.lit(_STRIDE))
            ).alias("s"),
            "a",
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
            F.array_join(F.slice("a", F.col("s"), _CHUNK), " ").alias("chunk_text"),
            F.size(F.slice("a", F.col("s"), _CHUNK)).alias("n_chunk_tokens"),
        )
    )


# ---- 4. Gopher-style repetition quality ---------------------------------

_GOPHER_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
stats AS (
  SELECT doc_id,
         len(a)                    AS n_tok,
         len(list_distinct(a))     AS n_uni,
         length(array_to_string(a, '')) AS n_chars_nospace
  FROM toks
),
grams AS (
  SELECT doc_id, concat(a[i], ' ', a[i+1]) AS g
  FROM toks, unnest(range(1, greatest(len(a) - 1, 0) + 1)) AS t(i)
),
gram_counts AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
),
top_gram AS (
  SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_grams
  FROM gram_counts GROUP BY doc_id
)
SELECT s.doc_id,
       round(1.0 - s.n_uni * 1.0 / s.n_tok + 1e-9, 6)        AS dup_tok_frac,
       round(t.top_c * 1.0 / t.n_grams + 1e-9, 6)            AS top_2gram_frac,
       round(s.n_chars_nospace * 1.0 / s.n_tok + 1e-9, 6)    AS mean_tok_len,
       CASE WHEN 1.0 - s.n_uni * 1.0 / s.n_tok < 0.8
             AND t.top_c * 1.0 / t.n_grams < 0.2
            THEN 1 ELSE 0 END                                 AS keep
FROM stats s JOIN top_gram t USING (doc_id)
"""


@query("quality_gopher_repetition", oracle=_GOPHER_SQL)
def quality_gopher_repetition(spark, sf_dir):
    """Repetition-based quality filter (the Gopher/MassiveText rules
    adapted to token streams): duplicate-token fraction, most-frequent-
    2-gram mass fraction, mean token length, and a keep/drop verdict.
    Two aggregations, both keyed by doc_id → a single shuffle key reused;
    the 2-gram explode is narrow."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    base = spread(d, "doc_id").select("doc_id", toks.alias("a"))
    stats = base.select(
        "doc_id",
        F.size("a").alias("n_tok"),
        F.size(F.array_distinct("a")).alias("n_uni"),
        F.length(F.array_join("a", "")).alias("n_chars_nospace"),
    )
    grams = base.select(
        "doc_id", F.explode(ngram_array(F.col("a"), 2)).alias("g")
    )
    top = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_grams"))
    )
    dup_frac = 1.0 - F.col("n_uni") * 1.0 / F.col("n_tok")
    top_frac = F.col("top_c") * 1.0 / F.col("n_grams")
    return stats.join(top, "doc_id").select(
        "doc_id",
        F.round(dup_frac + F.lit(1e-9), 6).alias("dup_tok_frac"),
        F.round(top_frac + F.lit(1e-9), 6).alias("top_2gram_frac"),
        F.round(
            F.col("n_chars_nospace") * 1.0 / F.col("n_tok") + F.lit(1e-9), 6
        ).alias("mean_tok_len"),
        F.when((dup_frac < 0.8) & (top_frac < 0.2), 1).otherwise(0).alias("keep"),
    )


# ---- 5. stratified hash sampling ----------------------------------------

_RATES = {"en": 500, "de": 250, "fr": 250, "es": 250, "zh": 250}  # per-mille


def _bucket_sql(col: str = "doc_id") -> str:
    return f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT) % 1000"


_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _RATES.items()
) + " ELSE 0 END"

_STRATIFIED_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE {_bucket_sql()} < {_RATE_CASE}
"""


@query("sample_stratified_hash", oracle=_STRATIFIED_SQL)
def sample_stratified_hash(spark, sf_dir):
    """Language-balancing downsample: keep each document iff its md5
    bucket (0..999) falls under the per-language keep rate (en 50%,
    others 25%). Content-hash gating is the 100 TB sampling tool: no RNG
    state, reproducible on reruns and across engines, pure map-side
    filter — zero shuffles."""
    d = T(spark, sf_dir, "documents")
    bucket = md5_int(F.col("doc_id").cast("string")) % 1000
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATES.items()],
        F.lit(0),
    )
    return d.filter(bucket < rate).select("doc_id", "lang")


# ---- 6. per-stratum cap resampling --------------------------------------

_CAP = 60

_CAP_SQL = f"""
SELECT doc_id, lang, CAST(rk AS INT) AS rk
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= {_CAP}
"""


@query("resample_cap_per_lang", oracle=_CAP_SQL)
def resample_cap_per_lang(spark, sf_dir):
    """Stratum capping: at most K documents per language, chosen by
    content-hash order (deterministic, unbiased w.r.t. document content).
    One shuffle keyed by lang; per-partition top-K — never a global sort.
    With AQE a skewed stratum splits; the window is per-lang so the
    100 TB failure mode (one giant ORDER BY) cannot occur."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _CAP)
    )


# ---- 7. greedy sequence packing (rows-only + invariant tests) -----------

_PACK_BUDGET = 128
# 64 packing buckets (r9; was 8): packing parallelism = bucket count, so
# more buckets is the 100 TB-correct shape — AND it bounds the oracle's
# sequential first-fit replay at max-bucket-size recursion depth (the r8
# sf1 sweep killed the 8-bucket replay at >30 min; depth shrinks 8x).
_N_BUCKETS = 64


@query(
    "pack_sequences_greedy",
    oracle=rf"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\s+')) AS INTEGER)
                 AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_N_BUCKETS} AS bucket
      FROM documents
    ),
    ranked AS (
      SELECT bucket, doc_id, n_tokens,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY n_tokens DESC, doc_id) AS r
      FROM docs
    ),
    steps AS (
      SELECT bucket, CAST(0 AS BIGINT) AS r, CAST([] AS INTEGER[]) AS rems,
             CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS n_tokens,
             CAST(NULL AS INTEGER) AS pack_id
      FROM (SELECT DISTINCT bucket FROM ranked)
      UNION ALL
      SELECT d.bucket, d.r,
             CASE WHEN coalesce(list_position(
                         list_transform(s.rems, x -> x >= d.n_tokens),
                         true), 0) = 0
                  THEN list_append(s.rems, {_PACK_BUDGET} - d.n_tokens)
                  ELSE list_transform(range(1, len(s.rems) + 1),
                         i -> CASE WHEN i = coalesce(list_position(
                                        list_transform(s.rems,
                                          x -> x >= d.n_tokens), true), 0)
                                   THEN s.rems[i] - d.n_tokens
                                   ELSE s.rems[i] END) END,
             d.doc_id, d.n_tokens,
             CAST(CASE WHEN coalesce(list_position(
                              list_transform(s.rems, x -> x >= d.n_tokens),
                              true), 0) = 0
                  THEN len(s.rems)
                  ELSE coalesce(list_position(
                         list_transform(s.rems, x -> x >= d.n_tokens),
                         true), 0) - 1 END AS INTEGER)
      FROM steps s JOIN ranked d ON d.bucket = s.bucket AND d.r = s.r + 1
    )
    SELECT bucket, pack_id, doc_id, n_tokens FROM steps WHERE r > 0
    """,
)
def pack_sequences_greedy(spark, sf_dir):
    """Training-batch packing: greedy first-fit of documents into
    fixed-token-budget packs (budget 128). The scalable shape is
    hash-bucket the corpus (bucket = md5 % 8) and pack WITHIN each bucket
    independently via Arrow-batched applyInPandas — packing parallelism =
    bucket count, and each bucket's packing is fully deterministic (docs
    processed in (n_tokens desc, doc_id) order). FULLY HASH-ORACLED: a
    recursive CTE replays the first-fit loop exactly — per
    step it carries each bucket's open-pack remainders as a list, places
    the next document at the first fitting index (list_position on the
    >=-mask) or appends a new pack, mirroring the imperative Python
    statement for statement. tests/test_corpus.py still asserts the
    invariants (every doc in exactly one pack, no pack over budget,
    deterministic repeat runs)."""
    d = T(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    docs = d.select(
        "doc_id",
        toks.alias("n_tokens"),
        (md5_int(F.col("doc_id").cast("string")) % _N_BUCKETS).alias("bucket"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        packs: list[int] = []  # remaining budget per open pack
        assign = []
        for n in pdf["n_tokens"]:
            for i, rem in enumerate(packs):
                if n <= rem:
                    packs[i] = rem - n
                    assign.append(i)
                    break
            else:
                packs.append(_PACK_BUDGET - n)
                assign.append(len(packs) - 1)
        pdf["pack_id"] = assign
        return pdf[["bucket", "pack_id", "doc_id", "n_tokens"]]

    return docs.groupBy("bucket").applyInPandas(
        pack, "bucket bigint, pack_id int, doc_id bigint, n_tokens int"
    )


# ---- heavy hitters: two-phase exact frequent tokens ---------------------

_HH_DENOM = 32  # support threshold = 1/32 of all tokens (~3.1%)
_HH_K = 64  # Misra-Gries counters per partition (2x slack over 1/s)

_HH_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
hitters AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt,
         round(count(*) * 1.0 / (SELECT n FROM tot) + 1e-9, 6) AS share
  FROM toks GROUP BY token
  HAVING count(*) >= (SELECT CAST(ceil(n * 1.0 / {_HH_DENOM}) AS BIGINT)
                      FROM tot)
)
SELECT token, cnt, share FROM hitters
UNION ALL
SELECT '__total__' AS token, n AS cnt, CAST(1.0 AS DOUBLE) AS share FROM tot
"""


@query("heavy_hitters_twophase", oracle=_HH_SQL)
def heavy_hitters_twophase(spark, sf_dir):
    """Exact heavy hitters (tokens with frequency >= N/32) via the
    two-phase summary pattern: phase 1 runs a merged Misra-Gries sketch
    (64 counters) per partition with ``mapInPandas`` — any token with
    global count > N/65 is guaranteed to survive in at least one
    partition's summary (pigeonhole over the per-partition MG bound), so
    the union of candidates is a superset of every >= N/32 hitter; phase 2
    exactly recounts ONLY the candidates (broadcast semi-join) and filters
    by the true threshold. Final output is exact, so the DuckDB oracle is
    a plain GROUP BY ... HAVING.

    100 TB shape: phase 1 touches every token but emits <= 64 rows per
    partition (no shuffle of the raw token stream for candidate finding);
    phase 2's recount groupBy shuffles only rows matching the ~dozens of
    candidate tokens. This is how you get EXACT top-frequency items
    without shuffling the full 100 TB token multiset twice."""
    d = T(spark, sf_dir, "documents")
    toks = spread(
        d.select("doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")),
        "doc_id",
    ).select("token")

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > _HH_K:
                cut = sorted(counters.values(), reverse=True)[_HH_K]
                counters = {t: c - cut for t, c in counters.items() if c > cut}
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = toks.mapInPandas(mg, "token string").distinct()
    totals = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    recount = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    hitters = (
        recount.join(F.broadcast(totals))
        .where(F.col("cnt") >= F.ceil(F.col("n") * 1.0 / _HH_DENOM).cast("bigint"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("n") + F.lit(1e-9), 6).alias("share"),
        )
    )
    # '__total__' audit row: on a FLAT corpus (the bijected sf1/sf10
    # replication spreads token mass over |vocab| x copies tokens) the
    # CORRECT hitter set is empty — no token reaches N/32. The summary row
    # keeps the differential check non-vacuous at every SF while leaving
    # the heavy-hitter semantics untouched.
    total_row = totals.select(
        F.lit("__total__").alias("token"),
        F.col("n").alias("cnt"),
        F.lit(1.0).alias("share"),
    )
    return hitters.unionByName(total_row)


# ---- 8. corpus mixture weights ------------------------------------------

_MIX_SQL = """
WITH tok AS (
  SELECT lang, source,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n
  FROM documents
),
per AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens
  FROM tok GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens,
       round(n_tokens * 1.0 / sum(n_tokens) OVER () + 1e-9, 6) AS token_share
FROM per
"""


@query("corpus_mix_weights", oracle=_MIX_SQL)
def corpus_mix_weights(spark, sf_dir):
    """Mixture-weights table for data-mixing: documents + tokens per
    (lang, source) and each cell's share of total tokens. The total is an
    unpartitioned window over the *aggregated* table (|langs|x|sources|
    rows — trivially driver-safe at any corpus size)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    per = (
        d.select(
            "lang",
            "source",
            F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n"),
        )
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1.0 / total + F.lit(1e-9), 6).alias(
            "token_share"
        ),
    )


# ---- 9. end-to-end corpus pipeline (composition of the stages) ----------

_E2E_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, text,
         string_split_regex(lower(text), '\\s+') AS a
  FROM documents
),
quality AS (
  SELECT doc_id, lang, text FROM toks
  WHERE 1.0 - len(list_distinct(a)) * 1.0 / len(a) < 0.8
    AND len(a) >= 12
),
dedup AS (
  SELECT min(doc_id) AS doc_id FROM quality
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
),
sampled AS (
  SELECT q.doc_id, q.lang
  FROM quality q JOIN dedup d USING (doc_id)
  WHERE {_bucket_sql('q.doc_id')} < {_RATE_CASE.replace("lang", "q.lang")}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM sampled GROUP BY lang
"""


@query("corpus_end_to_end", oracle=_E2E_SQL)
def corpus_end_to_end(spark, sf_dir):
    """The composed corpus pipeline in ONE dataflow: repetition/length
    quality gate → normalized exact-dedup (keep min doc_id) → stratified
    hash sampling → per-language accounting. Each stage is individually
    oracled elsewhere; this entry hash-checks their COMPOSITION (stage
    ordering, no row leaks between stages). Topology: one narrow quality
    filter, one dedup shuffle on the content hash, one map-side sample —
    exactly the passes a 100 TB corpus build makes, in order."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    quality = d.select("doc_id", "lang", "text", toks.alias("a")).filter(
        (1.0 - F.size(F.array_distinct("a")) * 1.0 / F.size("a") < 0.8)
        & (F.size("a") >= 12)
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keep = (
        quality.select("doc_id", F.md5(norm).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    bucket = md5_int(F.col("doc_id").cast("string")) % 1000
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATES.items()],
        F.lit(0),
    )
    sampled = (
        quality.select("doc_id", "lang")
        .join(keep, "doc_id")
        .filter(bucket < rate)
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "sample_weighted_hash",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS keep_p,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000) / 1000.0 AS u
      FROM documents
    )
    SELECT doc_id, lang, round(keep_p, 6) AS keep_p
    FROM scored WHERE u < keep_p
    """,
)
def sample_weighted_hash(spark, sf_dir):
    """Importance sampling with per-document keep probability ∝ a quality
    proxy (here length, capped at 1.0), decided by the document's md5
    bucket instead of RNG — the deterministic form of weighted corpus
    downsampling (quality-weighted mixes): reproducible across engines,
    reruns, and partitionings, pure map-side filter, zero shuffles."""
    d = T(spark, sf_dir, "documents")
    keep_p = F.least(F.col("n_chars").cast("double") / 400.0, F.lit(1.0))
    u = (md5_int(F.col("doc_id").cast("string")) % 1000) / 1000.0
    return d.filter(u < keep_p).select(
        "doc_id", "lang", F.round(keep_p, 6).alias("keep_p")
    )


# ---- CCNet-style repeated-segment removal --------------------------------

_SEG_LEN = 4  # tokens per non-overlapping segment
_SEG_DUP_MIN = 3  # segments occurring >= this many times corpus-wide are cut

_SEG_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a FROM documents
),
segs AS (
  SELECT doc_id, u AS seg_idx,
         array_to_string(
           list_slice(a, u * {_SEG_LEN} + 1,
                      least((u + 1) * {_SEG_LEN}, len(a))), ' ') AS seg
  FROM (SELECT doc_id, a,
               unnest(range(0, CAST(ceil(len(a) / {_SEG_LEN}.0) AS INT))) AS u
        FROM toks)
),
dup AS (
  SELECT seg FROM segs GROUP BY seg HAVING count(*) >= {_SEG_DUP_MIN}
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg
  FROM segs s ANTI JOIN dup d ON s.seg = d.seg
),
perdoc AS (
  SELECT doc_id,
         count(*) AS n_kept,
         coalesce(string_agg(seg, ' ' ORDER BY seg_idx), '') AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(len(t.a) / {_SEG_LEN}.0) AS INT) AS n_segments,
       CAST(CAST(ceil(len(t.a) / {_SEG_LEN}.0) AS INT)
            - coalesce(p.n_kept, 0) AS INT) AS n_dropped,
       md5(coalesce(p.kept_text, '')) AS kept_hash
FROM toks t LEFT JOIN perdoc p ON t.doc_id = p.doc_id
"""


@query("dedup_repeated_segments", oracle=_SEG_DEDUP_SQL)
def dedup_repeated_segments(spark, sf_dir):
    """CCNet-style repeated-segment removal: cut every non-overlapping
    `_SEG_LEN`-token segment that occurs >= `_SEG_DUP_MIN` times corpus-wide
    (boilerplate, headers, license blurbs), then reassemble each document
    from its surviving segments in order. Per doc: segment count, segments
    dropped, and the md5 of the reassembled text (so the oracle hash-checks
    the actual surviving CONTENT, not just counts).

    100 TB shape: one explode to (doc, seg_idx, segment); the duplicate
    table is `groupBy(segment).count() >= _SEG_DUP_MIN` — shuffle keyed on segment
    text, map-side partial counts do the heavy lifting since duplicate
    segments collapse early; the cut is a shuffle anti-join on the same
    key (exchange reuse), never a broadcast of the (potentially huge)
    segment table; reassembly is one groupBy(doc_id) with an in-group
    sort by seg_idx. No pairwise doc comparison anywhere."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("a")
    )
    n_segs = F.ceil(F.size("a") / float(_SEG_LEN)).cast("int")
    segs = spread(
        toks.select(
            "doc_id",
            n_segs.alias("n_segments"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda u: F.array_join(
                        F.slice("a", u * _SEG_LEN + 1, _SEG_LEN), " "
                    ),
                )
            ).alias("seg_idx", "seg"),
        ),
        "seg",
    )
    dup = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _SEG_DUP_MIN)
        .select("seg")
    )
    kept = segs.join(dup, "seg", "left_anti")
    perdoc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        toks.select("doc_id", n_segs.alias("n_segments"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
            F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_hash"),
        )
    )


# ---- quality-tier mixture table ------------------------------------------

_N_TIERS = 5


@query(
    "corpus_quality_tiers",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
             round(0.4 * least(len(string_split_regex(lower(text), '\\s+')) / 60.0, 1.0)
                   + 0.6 * (len(list_distinct(string_split_regex(lower(text), '\\s+'))) * 1.0
                            / len(string_split_regex(lower(text), '\\s+')))
                   + 1e-9, 6) AS q
      FROM documents
    ),
    bounds AS (
      SELECT {", ".join(
          f"round(quantile_cont(q, {i / _N_TIERS}) + 1e-9, 6) AS b{i}"
          for i in range(1, _N_TIERS)
      )}
      FROM scored
    ),
    tiered AS (
      SELECT s.doc_id, s.n_tokens,
             CASE {" ".join(
                 f"WHEN s.q < b.b{i} THEN {i - 1}" for i in range(1, _N_TIERS)
             )} ELSE {_N_TIERS - 1} END AS tier
      FROM scored s CROSS JOIN bounds b
    ),
    tot AS (SELECT sum(n_tokens) AS all_tokens FROM tiered)
    SELECT tier,
           CAST(count(*) AS BIGINT)       AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)  AS token_mass,
           round(sum(n_tokens) * 1.0 / (SELECT all_tokens FROM tot) + 1e-9, 6)
               AS token_share
    FROM tiered GROUP BY tier
    """,
)
def corpus_quality_tiers(spark, sf_dir):
    """Quality-tier mixture table: score every document (length +
    lexical-diversity composite, 6dp-quantized), split the corpus into
    `_N_TIERS` equal-mass tiers by exact score quantiles, and report each tier's
    document count and token mass/share — the table a data-mixing stage
    consumes to up/down-sample by quality band (the Llama/Gopher-style
    quality-bucket mix).

    Scale shape — the boundary-broadcast discipline (window_ntile_scaled's
    pattern): tier boundaries come from ONE exact-percentile aggregate
    (`_N_TIERS - 1` doubles, broadcast), and tier assignment is a comparison chain —
    no global window, no single-partition sort anywhere; the per-tier agg
    is a `_N_TIERS`-key shuffle with map-side partials. Boundaries and scores are
    rounded to the same 6dp before comparison, so tier membership is
    engine-stable."""
    d = T(spark, sf_dir, "documents")
    a = F.split(F.lower(F.col("text")), r"\s+")
    n_tok = F.size(a)
    q = F.round(
        0.4 * F.least(n_tok / 60.0, F.lit(1.0))
        + 0.6 * (F.size(F.array_distinct(a)) * 1.0 / n_tok)
        + F.lit(1e-9),
        6,
    )
    scored = d.select("doc_id", n_tok.alias("n_tokens"), q.alias("q"))
    bounds = scored.agg(
        *[
            F.round(
                F.percentile("q", F.lit(i / _N_TIERS)) + F.lit(1e-9), 6
            ).alias(f"b{i}")
            for i in range(1, _N_TIERS)
        ]
    )
    tier = F.coalesce(
        *[
            F.when(F.col("q") < F.col(f"b{i}"), F.lit(i - 1))
            for i in range(1, _N_TIERS)
        ],
        F.lit(_N_TIERS - 1),
    )
    tiered = scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id", "n_tokens", tier.alias("tier")
    )
    tot = tiered.agg(F.sum("n_tokens").alias("all_tokens"))
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("token_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tier",
            "n_docs",
            "token_mass",
            F.round(
                F.col("token_mass") * 1.0 / F.col("all_tokens") + F.lit(1e-9), 6
            ).alias("token_share"),
        )
    )


# ---- quality-annealed curriculum schedule --------------------------------

_CURR_DECILES = 10
_CURR_PHASES = ("warmup", "main", "anneal")


def _curriculum_oracle() -> str:
    from .text_analysis import _STOP_SQL

    cuts = [k / _CURR_DECILES for k in range(1, _CURR_DECILES)]
    bsel = ", ".join(
        f"round(quantile_cont(quality, {c}) + 1e-12, 4) AS b{i}"
        for i, c in enumerate(cuts, 1)
    )
    decexpr = " + ".join(
        f"CASE WHEN q.quality > b.b{i} THEN 1 ELSE 0 END"
        for i in range(1, _CURR_DECILES)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
      FROM documents
    ),
    q AS (
      SELECT doc_id, len(a) AS n_tokens,
             round(0.4 * least(len(a) / 60.0, 1.0)
                   + 0.3 * least(len(list_filter(a, t -> t IN {_STOP_SQL}))
                                 * 1.0 / len(a) * 5.0, 1.0)
                   + 0.3 * len(list_distinct(a)) * 1.0 / len(a)
                   + 1e-9, 6) AS quality
      FROM toks
    ),
    bounds AS (SELECT {bsel} FROM q),
    dec AS (
      SELECT q.doc_id, q.n_tokens, CAST({decexpr} AS INTEGER) AS decile
      FROM q CROSS JOIN bounds b
    ),
    per_dec AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT)    AS n_tokens
      FROM dec GROUP BY 1
    ),
    phases (phase) AS (VALUES ('warmup'), ('main'), ('anneal')),
    wt AS (
      SELECT p.phase, d.decile, d.n_docs, d.n_tokens,
             CAST(CASE WHEN p.phase = 'warmup' THEN 1.0
                       WHEN p.phase = 'main'   THEN 1.0 + 0.1 * d.decile
                       WHEN d.decile >= 7      THEN 2.0
                       ELSE 0.5 END AS DOUBLE) AS w
      FROM per_dec d CROSS JOIN phases p
    ),
    tot AS (SELECT phase, sum(w * n_tokens) AS t FROM wt GROUP BY 1)
    SELECT w.phase, w.decile, w.n_docs, w.n_tokens,
           round(w.w, 2)                              AS weight,
           round(w.w * w.n_tokens / t.t + 1e-9, 6)    AS token_share
    FROM wt w JOIN tot t USING (phase)
    """


@query("corpus_curriculum_schedule", oracle=_curriculum_oracle())
def corpus_curriculum_schedule(spark, sf_dir):
    """Quality-annealed curriculum schedule — the mixing table behind the
    standard modern pretraining recipe (uniform warmup → mildly quality-
    tilted main run → strongly quality-upweighted annealing phase): score
    every document with the text_quality_score heuristic, cut the corpus
    into `_CURR_DECILES` EQUAL-COUNT quality deciles (quantile boundaries broadcast
    back — no global sort, the window_ntile_scaled pattern), apply each
    phase's decile→weight schedule, and emit per (phase, decile) the doc/
    token counts, the weight, and the normalized token share the sampler
    should draw. Downstream this composes with corpus_sampling's
    deterministic md5-bucket draw exactly like corpus_mixture_weights.

    Determinism: quality is 6-dp (identical to text_quality_score);
    boundaries 4-dp + epsilon (supplier-p95 interpolation discipline);
    weights are CASE constants; shares are 10-term ratios rounded 6 dp.
    100 TB shape: one corpus scan → 10-row decile aggregate; everything
    after is constant-size arithmetic, so the schedule is free to
    recompute per training run."""
    from .text_analysis import STOPWORDS, tokens_col

    d = T(spark, sf_dir, "documents").withColumn("a", tokens_col())
    n = F.size("a")
    stop_ratio = F.size(F.filter("a", lambda t: t.isin(*STOPWORDS))) * 1.0 / n
    ttr = F.size(F.array_distinct("a")) * 1.0 / n
    quality = F.round(
        0.4 * F.least(n / 60.0, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.3 * ttr
        + F.lit(1e-9),
        6,
    )
    q = d.select("doc_id", n.alias("n_tokens"), quality.alias("quality"))
    cuts = [k / _CURR_DECILES for k in range(1, _CURR_DECILES)]
    bounds = q.agg(
        *[
            F.round(
                F.expr(f"percentile(quality, {c})") + F.lit(1e-12), 4
            ).alias(f"b{i}")
            for i, c in enumerate(cuts, 1)
        ]
    )
    decile = None
    for i in range(1, _CURR_DECILES):
        term = F.when(F.col("quality") > F.col(f"b{i}"), 1).otherwise(0)
        decile = term if decile is None else decile + term
    per_dec = (
        q.crossJoin(F.broadcast(bounds))
        .groupBy(decile.cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    phases = spark.createDataFrame(
        [(p,) for p in _CURR_PHASES], ["phase"]
    )
    w = (
        F.when(F.col("phase") == "warmup", F.lit(1.0))
        .when(F.col("phase") == "main", 1.0 + 0.1 * F.col("decile"))
        .when(F.col("decile") >= 7, F.lit(2.0))
        .otherwise(F.lit(0.5))
    )
    wt = per_dec.crossJoin(F.broadcast(phases)).withColumn("w", w)
    tot = wt.groupBy("phase").agg(F.sum(F.col("w") * F.col("n_tokens")).alias("t"))
    return (
        wt.join(F.broadcast(tot), "phase")
        .select(
            "phase",
            "decile",
            "n_docs",
            "n_tokens",
            F.round("w", 2).alias("weight"),
            F.round(
                F.col("w") * F.col("n_tokens") / F.col("t") + F.lit(1e-9), 6
            ).alias("token_share"),
        )
    )


# ---- integer token-budget apportionment (largest remainder) --------------

_BUDGET_TOKENS = 1_000_000


@query(
    "corpus_token_budget_alloc",
    oracle=f"""
    WITH toks AS (
      SELECT lang, len(string_split_regex(lower(text), '\\s+')) AS n
      FROM documents
    ),
    per_lang AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens FROM toks GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per_lang),
    quota AS (
      SELECT p.lang, p.n_tokens,
             ({_BUDGET_TOKENS} * p.n_tokens) // t.t AS floor_alloc,
             ({_BUDGET_TOKENS} * p.n_tokens) % t.t  AS rem
      FROM per_lang p CROSS JOIN tot t
    ),
    ranked AS (
      SELECT lang, n_tokens, floor_alloc, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk,
             {_BUDGET_TOKENS} - sum(floor_alloc) OVER () AS n_extra
      FROM quota
    )
    SELECT lang, n_tokens,
           CAST(floor_alloc AS BIGINT) AS floor_alloc,
           CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS got_extra,
           CAST(floor_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    """,
)
def corpus_token_budget_alloc(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of an integer token
    budget across language strata — the step that turns fractional
    sampling shares (corpus_mixture_weights / corpus_curriculum_schedule)
    into the EXACT per-stratum token counts a training run draws, with
    sum(alloc) == budget guaranteed (floor the exact quotas, then hand the
    leftover units to the largest remainders, ties by lang): no float
    anywhere — quotas are computed as BIGINT (budget*tokens) div/mod
    total, so the oracle is bit-exact by construction, not by rounding
    discipline. The final window runs over |langs| rows (5), not the
    corpus — the corpus-sized work is one groupBy(lang) count. At 100 TB
    the same apportionment runs over (lang x source x quality-decile)
    cells: still thousands of rows, still driver-trivial."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    n = F.size(F.split(F.lower("text"), r"\s+"))
    per_lang = d.select("lang", n.alias("n")).groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens")
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    B = F.lit(_BUDGET_TOKENS).cast("bigint")
    quota = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.expr(f"({_BUDGET_TOKENS} * n_tokens) div t").alias("floor_alloc"),
        ((B * F.col("n_tokens")) % F.col("t")).alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("lang"))
    wall = Window.partitionBy()
    ranked = quota.select(
        "lang",
        "n_tokens",
        "floor_alloc",
        F.row_number().over(wr).alias("rk"),
        (B - F.sum("floor_alloc").over(wall)).alias("n_extra"),
    )
    got = F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
    return ranked.select(
        "lang",
        "n_tokens",
        F.col("floor_alloc").cast("bigint").alias("floor_alloc"),
        got.alias("got_extra"),
        (F.col("floor_alloc") + got).cast("bigint").alias("alloc"),
    )


# ---- KS two-sample drift monitor -----------------------------------------

# Kolmogorov-Smirnov critical value for alpha=0.05, squared form:
# c(a) = sqrt(-ln(a/2)/2); the verdict compares D^2 * n1*n2/(n1+n2)
# against c^2 so no sqrt ever enters the plan (libm-tail discipline).
_KS_CRIT_SQ = 1.8444397270569682
_KS_BIN_DP = 3  # ECDF support = 3dp-quantized scores (~1e3 points max)


def _ks_drift_oracle() -> str:
    from .text_analysis import _STOP_SQL

    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS a
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             round(round(0.4 * least(len(a) / 60.0, 1.0)
                   + 0.3 * least(len(list_filter(a, t -> t IN {_STOP_SQL}))
                                 * 1.0 / len(a) * 5.0, 1.0)
                   + 0.3 * len(list_distinct(a)) * 1.0 / len(a)
                   + 1e-9, 6) + 1e-9, {_KS_BIN_DP}) AS s,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 AS bk
      FROM toks
    ),
    cnts AS (
      SELECT s,
             sum(CASE WHEN bk < 8 THEN 1 ELSE 0 END)  AS c1,
             sum(CASE WHEN bk >= 8 THEN 1 ELSE 0 END) AS c2
      FROM q GROUP BY s
    ),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM cnts),
    ecdf AS (
      SELECT s,
             sum(c1) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS a1,
             sum(c2) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS a2
      FROM cnts
    ),
    dstat AS (
      SELECT s AS at_score,
             round(abs(CAST(a1 AS DOUBLE) / t.n1
                       - CAST(a2 AS DOUBLE) / t.n2) + 1e-9, 6) AS d,
             t.n1, t.n2
      FROM ecdf CROSS JOIN tot t
    )
    SELECT CAST(n1 AS BIGINT) AS n_base, CAST(n2 AS BIGINT) AS n_batch,
           d AS ks_d, at_score,
           round(d * d * n1 * n2 / (n1 + n2) + 1e-9, 6) AS ks_stat_sq,
           round(d * d * n1 * n2 / (n1 + n2) + 1e-9, 6) > {_KS_CRIT_SQ}
               AS drift_detected
    FROM (SELECT *, row_number() OVER (ORDER BY d DESC, at_score) AS rn
          FROM dstat)
    WHERE rn = 1
    """


@query("quality_ks_drift", oracle=_ks_drift_oracle())
def quality_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift monitor over the quality-score
    distribution — the standard data-drift gate a production corpus
    pipeline runs between yesterday's corpus (md5-bucket 80%) and today's
    batch (20%): D = max |ECDF_base - ECDF_batch|, the score where the
    gap peaks, and the alpha=0.05 verdict in the SQRT-FREE squared form
    (D^2·n1·n2/(n1+n2) vs c^2 = -ln(0.025)/2) so no libm tail enters the
    comparison. A detected drift is the signal to re-run calibration
    (quality_calibration_report) before trusting learned-filter cuts.

    The scale trick: the ECDF support is the `_KS_BIN_DP`dp-QUANTIZED score grid —
    at most ~10^`_KS_BIN_DP` distinct points regardless of corpus size — so the
    one unpartitioned cumulative window runs over a provably tiny
    relation (the same bounded-support argument as vocab_coverage_topk's
    K=100 window; a raw per-doc ECDF would be the single-partition trap).
    Everything upstream is one corpus scan + one (score)-keyed shuffle.
    Exact integer cumulative counts divided by exact totals — identical
    doubles both engines; D cut at 6dp with score tie-break."""
    from pyspark.sql import Window

    from .text_analysis import STOPWORDS, tokens_col

    d = T(spark, sf_dir, "documents").withColumn("a", tokens_col())
    n = F.size("a")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter("a", lambda t: F.array_contains(stop_arr, t))) * 1.0 / n
    ttr = F.size(F.array_distinct("a")) * 1.0 / n
    quality = F.round(
        0.4 * F.least(n / 60.0, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.3 * ttr
        + F.lit(1e-9),
        6,
    )
    bucket = md5_int(F.col("doc_id").cast("string")) % 10
    q = d.select(
        F.round(quality + F.lit(1e-9), _KS_BIN_DP).alias("s"),
        bucket.alias("bk"),
    )
    cnts = q.groupBy("s").agg(
        F.sum(F.when(F.col("bk") < 8, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("bk") >= 8, 1).otherwise(0)).alias("c2"),
    )
    tot = cnts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = cnts.select(
        "s",
        F.sum("c1").over(wcum).alias("a1"),
        F.sum("c2").over(wcum).alias("a2"),
    )
    dstat = ecdf.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("at_score"),
        F.round(
            F.abs(
                F.col("a1").cast("double") / F.col("n1")
                - F.col("a2").cast("double") / F.col("n2")
            )
            + F.lit(1e-9),
            6,
        ).alias("d"),
        "n1",
        "n2",
    )
    wmax = Window.orderBy(F.desc("d"), "at_score")
    stat_sq = F.round(
        F.col("d") * F.col("d") * F.col("n1") * F.col("n2")
        / (F.col("n1") + F.col("n2"))
        + F.lit(1e-9),
        6,
    )
    return (
        dstat.withColumn("rn", F.row_number().over(wmax))
        .filter(F.col("rn") == 1)
        .select(
            F.col("n1").cast("bigint").alias("n_base"),
            F.col("n2").cast("bigint").alias("n_batch"),
            F.col("d").alias("ks_d"),
            "at_score",
            stat_sq.alias("ks_stat_sq"),
            (stat_sq > _KS_CRIT_SQ).alias("drift_detected"),
        )
    )


@query(
    "corpus_temperature_resample",
    oracle="""
    WITH per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM per),
    p AS (
      SELECT lang, n_docs, n_tokens,
             round(n_tokens / t.t + 1e-9, 6) AS p_raw
      FROM per CROSS JOIN tot t
    ),
    s AS (
      SELECT lang, n_docs, n_tokens, p_raw,
             round(sqrt(p_raw) + 1e-9, 6) AS sq
      FROM p
    ),
    z AS (SELECT round(sum(sq) + 1e-9, 6) AS zn FROM s)
    SELECT s.lang, s.n_docs, s.n_tokens, s.p_raw,
           round(s.sq / z.zn + 1e-9, 6) AS w_temp,
           round((s.sq / z.zn) / s.p_raw + 1e-9, 4) AS upsample_factor,
           ((s.sq / z.zn) / s.p_raw > 3.0) AS capped
    FROM s CROSS JOIN z
    """,
)
def corpus_temperature_resample(spark, sf_dir):
    """Temperature-scaled language sampling (the mT5/XLM-R multilingual
    mixing rule, α = 0.5): w_l ∝ p_l^α flattens the language
    distribution so low-resource languages are upsampled without
    drowning the head. Reports raw token share, the temperature weight,
    the implied upsampling factor w_l/p_l, and a `capped` verdict
    flagging languages whose factor exceeds 3× (the repeat-epoch hazard
    a curriculum should clamp). Complements corpus_mix_weights (raw
    shares) and corpus_token_budget_alloc (integer apportionment) —
    together: observe → reweight → allocate.

    α is deliberately 1/2: sqrt is correctly-rounded in IEEE 754 on
    BOTH engines (unlike a general pow(x, α) whose last ulp is libm-
    specific), so after the 6dp input cut every downstream value is
    bit-identical. Shares/factors re-cut 6dp/4dp; the normalizer is a
    |langs|-term sum cut 6dp.

    100 TB: one corpus scan to (lang) token partials; everything after
    runs on |langs| rows (scalar broadcast joins, no window over
    data)."""
    d = T(spark, sf_dir, "documents")
    per = d.select(
        "lang", F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("n")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("t") + F.lit(1e-9), 6).alias("p_raw"),
    )
    s = p.withColumn("sq", F.round(F.sqrt("p_raw") + F.lit(1e-9), 6))
    z = s.agg(F.round(F.sum("sq") + F.lit(1e-9), 6).alias("zn"))
    w = F.col("sq") / F.col("zn")
    return s.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "p_raw",
        F.round(w + F.lit(1e-9), 6).alias("w_temp"),
        F.round(w / F.col("p_raw") + F.lit(1e-9), 4).alias("upsample_factor"),
        (w / F.col("p_raw") > 3.0).alias("capped"),
    )


# ---- multi-epoch upsampling: equalize languages by repetition --------------

_EPOCH_DIGEST_MOD = 10007  # keep the certify digest well inside 32 bits

_EPOCHS_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS ntok
  FROM documents
),
tot AS (
  SELECT lang, CAST(sum(ntok) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM d GROUP BY lang
),
b AS (SELECT max(tot) AS budget FROM tot),
plan AS (
  SELECT t.lang, t.tot, t.n_docs, b.budget,
         b.budget // t.tot AS base_epochs,
         b.budget % t.tot  AS x_extra
  FROM tot t CROSS JOIN b
),
pref AS (
  SELECT d.doc_id, d.lang, d.ntok,
         coalesce(sum(d.ntok) OVER (
           PARTITION BY d.lang ORDER BY d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM d
),
rep AS (
  SELECT p.lang, p.doc_id, p.ntok, pl.base_epochs,
         CASE WHEN p.before < pl.x_extra THEN 1 ELSE 0 END AS extra
  FROM pref p JOIN plan pl ON pl.lang = p.lang
)
SELECT r.lang,
       pl.n_docs, pl.tot AS total_tokens, pl.budget,
       CAST(pl.base_epochs AS BIGINT) AS base_epochs,
       CAST(sum(r.extra) AS BIGINT) AS n_docs_extra,
       CAST(pl.base_epochs * pl.tot + sum(r.ntok * r.extra) AS BIGINT)
         AS tokens_emitted,
       CAST(pl.base_epochs * pl.tot + sum(r.ntok * r.extra) - pl.budget
            AS BIGINT) AS overshoot,
       CAST(sum((r.doc_id % {_EPOCH_DIGEST_MOD})
                * (r.base_epochs + r.extra)) AS BIGINT) AS repeat_digest
FROM rep r JOIN plan pl ON pl.lang = r.lang
GROUP BY r.lang, pl.n_docs, pl.tot, pl.budget, pl.base_epochs
"""


@query("corpus_upsample_epochs", oracle=_EPOCHS_SQL)
def corpus_upsample_epochs(spark, sf_dir):
    """Multi-epoch upsampling plan: equalize every language's token mass to
    the largest language's by document repetition — each doc repeats
    base_epochs = budget DIV lang_total times, and the remainder
    budget MOD lang_total is topped up by giving +1 repeat to docs in
    doc_id order until their exclusive prefix token sum reaches the
    remainder (the boundary doc is included whole, so the overshoot is
    < that doc's length — reported). The epochs/repetition step every
    under-represented-language pretraining mix materializes via
    explode(sequence(1, repeats)); the report certifies the assignment
    with an exact integer digest Σ (doc_id mod `_EPOCH_DIGEST_MOD`) ·
    repeats, so the oracle grades the per-doc repeat vector itself, not
    just the totals.

    Pure BIGINT div/mod/prefix arithmetic — bit-exact by construction.

    100 TB: one token-count scan, a |langs|-row plan table broadcast, one
    per-lang prefix-sum window (shuffles on lang; at real scale the
    partition key is (lang, shard) with per-shard remainders apportioned
    first — same largest-remainder discipline as corpus_token_budget_
    alloc). The materialization itself is map-side explode, never
    shuffled."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("ntok"),
    )
    tot = d.groupBy("lang").agg(
        F.sum("ntok").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    b = tot.agg(F.max("tot").alias("budget"))
    plan = tot.crossJoin(F.broadcast(b)).select(
        "lang", "tot", "n_docs", "budget",
        F.expr("budget DIV tot").alias("base_epochs"),
        (F.col("budget") % F.col("tot")).alias("x_extra"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = d.withColumn(
        "before", F.coalesce(F.sum("ntok").over(w), F.lit(0))
    )
    rep = pref.join(F.broadcast(plan), "lang").select(
        "lang", "doc_id", "ntok", "base_epochs", "n_docs", "tot", "budget",
        F.when(F.col("before") < F.col("x_extra"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("extra"),
    )
    return rep.groupBy("lang", "n_docs", "tot", "budget", "base_epochs").agg(
        F.sum("extra").cast("bigint").alias("n_docs_extra"),
        (
            F.first("base_epochs") * F.first("tot")
            + F.sum(F.col("ntok") * F.col("extra"))
        )
        .cast("bigint")
        .alias("tokens_emitted"),
        (
            F.first("base_epochs") * F.first("tot")
            + F.sum(F.col("ntok") * F.col("extra"))
            - F.first("budget")
        )
        .cast("bigint")
        .alias("overshoot"),
        F.sum(
            (F.col("doc_id") % _EPOCH_DIGEST_MOD)
            * (F.col("base_epochs") + F.col("extra"))
        )
        .cast("bigint")
        .alias("repeat_digest"),
    ).select(
        "lang", "n_docs",
        F.col("tot").alias("total_tokens"),
        "budget",
        F.col("base_epochs").cast("bigint").alias("base_epochs"),
        "n_docs_extra", "tokens_emitted", "overshoot", "repeat_digest",
    )


# ---- embedding-level benchmark contamination ------------------------------

_CEMB_TH = 0.25     # cosine contamination threshold (matches the loose
                    # near-dup graph band; the ngram variant screens exact
                    # overlap, this one paraphrase-level similarity)
_CEMB_MOD = 47      # vec_id % 47 == 0 is the held-out "benchmark" set


def _cemb_oracle() -> str:
    from .similarity import _cos_sql, lsh_tb_cte_sql

    cos = f"round({_cos_sql('x.embedding', 'y.embedding')} + 1e-9, 6)"
    return f"""
    WITH {lsh_tb_cte_sql()},
    cand AS (
      SELECT DISTINCT d.vec_id AS d_id, b.vec_id AS b_id
      FROM tb d JOIN tb b ON b.tbl = d.tbl AND b.bucket = d.bucket
      WHERE b.vec_id % {_CEMB_MOD} = 0 AND d.vec_id % {_CEMB_MOD} <> 0
    ),
    hits AS (
      SELECT c.d_id, c.b_id, {cos} AS sim
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.d_id
      JOIN embeddings y ON y.vec_id = c.b_id
      WHERE {cos} > {_CEMB_TH}
    ),
    r AS (
      SELECT d_id, b_id, sim,
             row_number() OVER (PARTITION BY d_id
                                ORDER BY sim DESC, b_id) AS rk
      FROM hits
    ),
    g AS (
      SELECT d_id, CAST(count(*) AS BIGINT) AS n_hits, max(sim) AS best_sim
      FROM hits GROUP BY d_id
    )
    SELECT g.d_id AS vec_id, g.n_hits AS n_bench_hits, g.best_sim,
           r.b_id AS best_bench_id
    FROM g JOIN r ON r.d_id = g.d_id AND r.rk = 1
    """


@query("contamination_embedding", oracle=_cemb_oracle())
def contamination_embedding(spark, sf_dir):
    """Embedding-level benchmark decontamination: flag corpus vectors whose
    cosine against any held-out benchmark vector (vec_id % `_CEMB_MOD` == 0)
    exceeds `_CEMB_TH` — the paraphrase-level contamination screen that
    complements contamination_ngram's surface-overlap check (SemDeDup-
    style eval-set leakage detection). Per contaminated vector: hit
    count, best similarity, best-matching benchmark id (ties to the
    smaller id).

    100 TB topology: the SHARED multi-table LSH index generates candidates
    as a (table, bucket)-keyed bench x corpus join — the benchmark side is
    tiny so the join is broadcast-shaped in practice, and the exact-cosine
    confirm touches only candidate pairs (never corpus x bench). Norms
    computed once per vector before the pair join (the
    _confirmed_cosine_pairs discipline); 6dp-quantized sim before both the
    threshold cut and the argmax tie-break."""
    from .similarity import dot_fold, lsh_table_buckets

    e = T(spark, sf_dir, "embeddings")
    tb = lsh_table_buckets(e.select("vec_id", "embedding"))
    bench_tb = tb.filter(F.col("vec_id") % _CEMB_MOD == 0).select(
        F.col("vec_id").alias("b_id"), "table", "bucket"
    )
    corp_tb = tb.filter(F.col("vec_id") % _CEMB_MOD != 0).select(
        F.col("vec_id").alias("d_id"), "table", "bucket"
    )
    cand = (
        corp_tb.join(F.broadcast(bench_tb), ["table", "bucket"])
        .select("d_id", "b_id")
        .distinct()
    )
    withnorm = e.withColumn(
        "nrm", F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
    )
    dx = withnorm.select(
        F.col("vec_id").alias("d_id"),
        F.col("embedding").alias("ed"),
        F.col("nrm").alias("nd"),
    )
    bx = withnorm.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(
        dot_fold(F.col("ed"), F.col("eb")) / (F.col("nd") * F.col("nb"))
        + F.lit(1e-9),
        6,
    )
    hits = (
        cand.join(dx, "d_id")
        .join(F.broadcast(bx), "b_id")
        .select("d_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") > _CEMB_TH)
    )
    best = F.max(
        F.struct(
            F.col("sim").alias("s"),
            (-F.col("b_id")).alias("nb"),
            F.col("b_id").alias("bid"),
        )
    )
    return hits.groupBy(F.col("d_id").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_hits"),
        F.max("sim").alias("best_sim"),
        best.getField("bid").alias("best_bench_id"),
    )


# ---- blocklist filtering (C4/RefinedWeb-style word filters) -------------
#
# C4 dropped pages containing any "bad word"; RefinedWeb refined that into
# per-category hit *rates* so a single incidental token doesn't nuke a
# document. Categories here are built from the synthetic vocabulary: a
# rare high-precision marker list (hard drop), a commoner style list
# gated by rate, and a stopword list reported but never gating. All
# arithmetic is integer (hits, per-mille rates), so verdicts are
# bit-identical across engines.

_BL_SPAM = ("dup",)  # rare marker (~5% of docs) — any hit drops
_BL_STYLE = ("slow", "fast")  # rate-gated: review above 8% of tokens
_BL_STOP = ("the", "a")  # reported only
_BL_STYLE_PM = 80  # per-mille style-hit bar


def _bl_in(words: tuple) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


_BLOCKLIST_SQL = f"""
SELECT doc_id, lang, n_tokens, spam_hits, style_hits, stop_hits,
       CASE WHEN spam_hits > 0 THEN 'drop'
            WHEN style_hits * 1000 > {_BL_STYLE_PM} * n_tokens THEN 'review'
            ELSE 'keep' END AS verdict
FROM (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN {_bl_in(_BL_SPAM)})) AS BIGINT)  AS spam_hits,
         CAST(len(list_filter(toks, t -> t IN {_bl_in(_BL_STYLE)})) AS BIGINT) AS style_hits,
         CAST(len(list_filter(toks, t -> t IN {_bl_in(_BL_STOP)})) AS BIGINT)  AS stop_hits
  FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents)
)
"""


@query("corpus_blocklist_filter", oracle=_BLOCKLIST_SQL)
def corpus_blocklist_filter(spark, sf_dir):
    """Blocklist word filtering (C4 'bad word' drop, RefinedWeb rate
    refinement): per document, category hit counts against a broadcast-
    literal blocklist and a keep/review/drop verdict — any rare-marker
    hit drops, style hits above 8 percent of tokens flag for review,
    stopword hits are reported but never gate.

    100 TB: the blocklist is a literal IN-list inside a higher-order
    ``filter`` over the token array — whole-stage-codegen map work, zero
    shuffles, no join against a blocklist table until the list outgrows
    a literal (then: broadcast join per token). Integer per-mille rate
    arithmetic keeps the verdict bit-identical across engines."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    base = d.select(
        "doc_id",
        "lang",
        toks.alias("toks"),
    ).select(
        "doc_id",
        "lang",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(f"cast(size(filter(toks, t -> t IN {_bl_in(_BL_SPAM)})) as bigint)").alias(
            "spam_hits"
        ),
        F.expr(
            f"cast(size(filter(toks, t -> t IN {_bl_in(_BL_STYLE)})) as bigint)"
        ).alias("style_hits"),
        F.expr(f"cast(size(filter(toks, t -> t IN {_bl_in(_BL_STOP)})) as bigint)").alias(
            "stop_hits"
        ),
    )
    verdict = (
        F.when(F.col("spam_hits") > 0, F.lit("drop"))
        .when(
            F.col("style_hits") * 1000 > _BL_STYLE_PM * F.col("n_tokens"),
            F.lit("review"),
        )
        .otherwise(F.lit("keep"))
    )
    return base.withColumn("verdict", verdict)


# ---- deterministic shard shuffle (training-data writing) ----------------

_SHARD_SEED = "r8shuffle"
_N_SHARDS = 16


_SHARDS_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS okey,
         CAST(('0x' || substr(md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_N_SHARDS} AS shard,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS d32
  FROM documents
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS INT) AS rk
  FROM keyed
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       CAST(sum(d32) AS BIGINT) AS id_digest,
       min(okey) AS min_key, max(okey) AS max_key,
       list(doc_id ORDER BY rk) FILTER (WHERE rk <= 3) AS head_docs
FROM ranked
GROUP BY shard
"""


@query("corpus_shuffle_shards", oracle=_SHARDS_SQL)
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle into training shards: every document
    gets a seeded md5 order key; shard = key mod `_N_SHARDS`; within-shard order =
    (key, doc_id). The audit report per shard: row/char mass (balance),
    a commutative 32-bit id digest (content identity — two runs or two
    engines producing the same shards sum to the same digest), the shard's
    key range, and its first three documents in shard order (proves the
    intra-shard ORDER itself is replayable, not just membership).

    This is the last step before tokenized-shard writing: seeded-hash
    sharding needs no global sort and no RNG state — reshuffling for a new
    epoch is changing the seed string. 100 TB: pure map-side keying, ONE
    shuffle to the shard aggregate; the write path is
    ``repartition(shard).sortWithinPartitions(okey)`` with the same keys.
    Balance is statistical (multinomial) — the n_docs spread IS the audit.
    Ref: deterministic data-order reproducibility for LLM training runs
    (public practice, e.g. Pile/RedPajama shard builds)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    okey = F.md5(F.concat(F.lit(f"{_SHARD_SEED}:"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id",
        "n_chars",
        okey.alias("okey"),
        (F.conv(F.substring(okey, 1, 15), 16, 10).cast("bigint") % _N_SHARDS)
        .cast("int")
        .alias("shard"),
        md5_int(F.col("doc_id").cast("string"), 8)
        .alias("d32"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    ranked = keyed.withColumn("rk", F.row_number().over(w).cast("int"))
    return ranked.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        F.sum("d32").cast("bigint").alias("id_digest"),
        F.min("okey").alias("min_key"),
        F.max("okey").alias("max_key"),
        F.expr(
            "transform(array_sort(collect_list(case when rk <= 3 then"
            " struct(rk, doc_id) end)), s -> s.doc_id)"
        ).alias("head_docs"),
    )


# ---- sentence-aware RAG chunking -----------------------------------------

_SENT_BUDGET = 48  # target tokens per chunk


@query(
    "doc_chunk_sentences",
    oracle=rf"""
    WITH sents AS (
      SELECT doc_id, s.i - 1 AS pos, s.sent,
             len(string_split_regex(s.sent, '\s+')) AS toks
      FROM (
        SELECT doc_id,
               string_split(regexp_replace(text, '([.!?]) ', '\1' || chr(1),
                                           'g'), chr(1)) AS arr
        FROM documents
      ),
      LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i,
                      unnest(arr) AS sent) s
      WHERE s.sent <> ''
    ),
    cum AS (
      SELECT doc_id, pos, sent, toks,
             sum(toks) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS running
      FROM sents
    )
    SELECT doc_id,
           CAST(floor((running - toks) / {_SENT_BUDGET}) AS INT) AS chunk_id,
           string_agg(sent, ' ' ORDER BY pos)        AS chunk_text,
           CAST(sum(toks) AS BIGINT)                 AS n_tokens,
           CAST(count(*) AS BIGINT)                  AS n_sentences
    FROM cum
    GROUP BY doc_id, CAST(floor((running - toks) / {_SENT_BUDGET}) AS INT)
    """,
)
def doc_chunk_sentences(spark, sf_dir):
    """Sentence-aware RAG chunking (the retrieval-prep twin of
    doc_chunk_sliding's fixed token windows): sentences never split
    mid-way — the text is split on sentence boundaries ([.!?] + space via
    a backreference rewrite to a \\x01 marker, no lookbehind so the
    same regex family works on RE2-based engines), then sentences pack
    into ~`_SENT_BUDGET`-token chunks by the running-token-count rule chunk =
    floor((cumsum - toks) / budget) — deterministic, order-preserving,
    and expressible on both engines as one window + one group-by. The
    chunk text is rebuilt in sentence order (position-sorted on both
    sides), so the output is the exact chunk a RAG indexer would embed.

    100 TB shape: the only window partitions BY DOCUMENT (narrow
    per-doc cumsum, hash-distributed); the reassembly group-by shuffles
    on (doc, chunk) — both keyed by their natural keys. No driver-side
    loops, no UDFs."""
    d = T(spark, sf_dir, "documents")
    sents = (
        d.select(
            "doc_id",
            F.posexplode(
                F.split(
                    F.regexp_replace("text", r"([.!?]) ", "$1\x01"),
                    "\x01",
                )
            ).alias("pos", "sent"),
        )
        .filter(F.col("sent") != "")
        .withColumn("toks", F.size(F.split(F.col("sent"), r"\s+")))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sents.withColumn("running", F.sum("toks").over(w))
    chunk = F.floor(
        (F.col("running") - F.col("toks")) / _SENT_BUDGET
    ).cast("int")
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sent"))),
            lambda s: s.getField("sent"),
        ),
        " ",
    )
    return (
        cum.withColumn("chunk_id", chunk)
        .groupBy("doc_id", "chunk_id")
        .agg(
            rebuilt.alias("chunk_text"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        )
    )
