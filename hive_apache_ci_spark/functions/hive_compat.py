"""Hive-compat shims: the 20 registry names absent from Spark's builtins.

SURVEY.md §2.8-③ — the verified gap list between Hive 2.3.10's
FunctionRegistry (287 names, dumped from hive-exec-2.3.10-core.jar's
FunctionRegistry — ql/src/java/org/apache/hadoop/hive/ql/exec/
FunctionRegistry.java) and Spark 4.1.2's 533 builtins. Each shim is an
*expression builder* returning a JVM-side Column (no Python UDFs in the hot
path — whole-stage-codegen friendly), mirroring the semantics of the Hive
class noted in its docstring.

Usage: ``from hive_apache_ci_spark.functions import hive_compat as hc``
then ``df.select(hc.field(col, 'O', 'F'))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# field / in_file / logged_in_user / reflect2
# ---------------------------------------------------------------------------


def field(needle: Column, *haystack) -> Column:
    """``field(x, v1, v2, ...)`` → 1-based index of x among v1..vn, else 0.

    Hive: GenericUDFField (ql/udf/generic/GenericUDFField.java).
    Expression form: array_position over an array literal — JVM-side.
    """
    arr = F.array(*[v if isinstance(v, Column) else F.lit(v) for v in haystack])
    return F.array_position(arr, needle).cast("int").alias("field")


def in_file(col: Column, path: str) -> Column:
    """``in_file(str, filename)`` → membership of str in the line-set of a
    driver-local file (Hive: GenericUDFInFile). The file is read once at
    plan time and folded into an ``isin`` literal list — semantically a
    broadcast set membership (scales: the set ships with the plan)."""
    with open(path, encoding="utf-8") as f:
        values = [line.rstrip("\n") for line in f]
    return col.isin(values)


def logged_in_user() -> Column:
    """Hive GenericUDFLoggedInUser → Spark current_user()."""
    return F.current_user()


def reflect2(col: Column, method: str, *args) -> Column:
    """Hive GenericUDFReflect2 → Spark ``java_method`` (reflective call)."""
    return F.java_method(F.lit("java.lang.String"), F.lit(method), col, *args)


# ---------------------------------------------------------------------------
# floor_<unit> family — Hive UDFDateFloor* (floor_day ... floor_year)
# ---------------------------------------------------------------------------

_FLOOR_UNITS = ("second", "minute", "hour", "day", "week", "month", "quarter", "year")


def _floor(unit: str):
    def fn(col: Column) -> Column:
        return F.date_trunc(unit, col)

    fn.__name__ = f"floor_{unit}"
    fn.__doc__ = (
        f"Hive ``floor_{unit}`` (UDFDateFloor family, ql/udf/UDFDateFloor*.java)"
        f" → ``date_trunc('{unit}', ts)``."
    )
    return fn


floor_second = _floor("second")
floor_minute = _floor("minute")
floor_hour = _floor("hour")
floor_day = _floor("day")
floor_week = _floor("week")
floor_month = _floor("month")
floor_quarter = _floor("quarter")
floor_year = _floor("year")


# ---------------------------------------------------------------------------
# mask family — Hive GenericUDFMask* (ql/udf/generic/GenericUDFMask*.java)
# ---------------------------------------------------------------------------


def _mask_expr(col: Column) -> Column:
    """Core masking: upper→X, lower→x, digit→n (Hive default mask chars)."""
    masked = F.regexp_replace(col, "[A-Z]", "X")
    masked = F.regexp_replace(masked, "[a-z]", "x")
    return F.regexp_replace(masked, "[0-9]", "n")


def mask(col: Column) -> Column:
    """``mask(str)`` — full masking with Hive's default X/x/n chars."""
    return _mask_expr(col)


def mask_first_n(col: Column, n: int = 4) -> Column:
    """Mask only the first n characters."""
    return F.concat(
        _mask_expr(F.substring(col, 1, n)),
        col.substr(F.lit(n + 1), F.length(col)),
    )


def mask_last_n(col: Column, n: int = 4) -> Column:
    """Mask only the last n characters."""
    keep = F.greatest(F.length(col) - n, F.lit(0))
    return F.concat(
        col.substr(F.lit(1), keep),
        _mask_expr(col.substr(keep + 1, F.lit(n))),
    )


def mask_show_first_n(col: Column, n: int = 4) -> Column:
    """Show the first n characters, mask the rest."""
    return F.concat(
        F.substring(col, 1, n),
        _mask_expr(col.substr(F.lit(n + 1), F.length(col))),
    )


def mask_show_last_n(col: Column, n: int = 4) -> Column:
    """Show the last n characters, mask the rest."""
    keep = F.greatest(F.length(col) - n, F.lit(0))
    return F.concat(
        _mask_expr(col.substr(F.lit(1), keep)),
        col.substr(keep + 1, F.lit(n)),
    )


def mask_hash(col: Column) -> Column:
    """``mask_hash(str)`` → deterministic hash replacement. Hive 2.3 uses
    md5 hex (GenericUDFMaskHash)."""
    return F.md5(col)


# ---------------------------------------------------------------------------
# parse_url_tuple / replicate_rows / sort_array_by
# ---------------------------------------------------------------------------


def parse_url_tuple(col: Column, *parts: str) -> list[Column]:
    """Hive GenericUDTFParseUrlTuple → one ``parse_url`` per requested part
    (HOST / PATH / QUERY / REF / PROTOCOL / QUERY:<key>)."""
    out = []
    for p in parts:
        if p.upper().startswith("QUERY:"):
            key = p.split(":", 1)[1]
            out.append(F.parse_url(col, F.lit("QUERY"), F.lit(key)).alias(f"query_{key}"))
        else:
            out.append(F.parse_url(col, F.lit(p.upper())).alias(p.lower()))
    return out


def replicate_rows(df: DataFrame, n_col: Column, cols: list[str]) -> DataFrame:
    """Hive UDTF ``replicate_rows(n, ...)`` (used by INTERSECT/EXCEPT ALL
    rewrites) → ``explode(sequence(1, n))`` then drop the index."""
    return (
        df.select(*cols, F.explode(F.sequence(F.lit(1), n_col.cast("bigint"))).alias("_i"))
        .drop("_i")
    )


def sort_array_by(arr: Column, field_name: str, asc: bool = True) -> Column:
    """Hive ``sort_array_by(array<struct>, 'field')`` (GenericUDFSortArrayByField)
    → array_sort with a comparator lambda over the struct field."""
    sign = 1 if asc else -1

    def cmp(left: Column, right: Column) -> Column:
        lf, rf = left.getField(field_name), right.getField(field_name)
        return (
            F.when(lf < rf, F.lit(-sign)).when(lf > rf, F.lit(sign)).otherwise(F.lit(0))
        )

    return F.array_sort(arr, cmp)


# ---------------------------------------------------------------------------
# ngrams / context_ngrams — Hive GenericUDAFnGrams (estimator UDAF) expressed
# as a declarative DataFrame aggregation (scales: explode→partial agg→top-k).
# ---------------------------------------------------------------------------


def ngram_array(tokens: Column, n: int) -> Column:
    """Array of n-grams (space-joined) from a token array — pure HOF expr.

    Built as n-1 chained ``zip_with`` calls over ALIGNED SLICES of the
    token array (gram i = tokens[i] ++ tokens[i+1] ++ ...), NOT as a
    ``transform(sequence(...), i -> slice(tokens, i+1, n))`` index walk:
    the indexed form allocates a fresh sub-array per gram inside an
    interpreted lambda and measured 40-66 s at sf1 on the bigram corpus
    where the slice-zip form runs 5.2 s (r11 canary-ratio audit, 7x).
    zip_with evaluates one flat pass over pre-sliced arrays — the whole
    expression stays inside codegen with two array allocations per ROW
    instead of one per GRAM. Too-short token lists short-circuit to an
    empty array (slice with a non-positive length never evaluates: CASE
    WHEN picks the branch lazily)."""
    if n == 1:
        return tokens
    sz = F.size(tokens)
    m = sz - (n - 1)  # gram count when sz >= n
    acc = F.slice(tokens, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(tokens, j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(sz >= n, acc).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, n: int = 2) -> Column:
    """Distinct n-token shingles of the lowercased, whitespace-split text.
    Oracle mirror: ``list_distinct`` over the same n-gram ``list_transform``."""
    return F.array_distinct(ngram_array(F.split(F.lower(text), r"\s+"), n))


def _spread_text(df: DataFrame, text_col: str) -> DataFrame:
    """Column-prune to the text column, then round-robin repartition to the
    configured shuffle-partition count BEFORE the gram explode. A small
    corpus parquet arrives as 1-2 input splits, which serializes the
    CPU-heavy split + zip_with + explode on 1-2 of 32 cores (measured:
    hive_ngrams_top at the sf1 canary ran 5.8 s on 2 tasks; spread it runs
    on all cores). The exchange moves only the pruned text bytes; the
    explicit count pins the fan-out against AQE coalescing (same lesson as
    pipeline/dedup.minhash_signatures and helpers.spread)."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.select(text_col).repartition(n_parts)


def ngrams(df: DataFrame, text_col: str, n: int, k: int) -> DataFrame:
    """Top-k n-grams by frequency over a text column (Hive ``ngrams``
    UDAF semantics, exact rather than estimated). Returns
    (ngram string, estfrequency double) like Hive's struct output."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    return (
        _spread_text(df, text_col)
        .select(F.explode(ngram_array(toks, n)).alias("ngram"))
        .filter(F.col("ngram") != "")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("double").alias("estfrequency"))
        .orderBy(F.col("estfrequency").desc(), F.col("ngram"))
        .limit(k)
    )


def context_ngrams(df: DataFrame, text_col: str, context: list[str | None], k: int) -> DataFrame:
    """Hive ``context_ngrams``: like ngrams but with a fixed-token context
    pattern; ``None`` marks the wildcard slots. Returns top-k fillers."""
    n = len(context)
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.explode(ngram_array(toks, n)).alias("gram")
    out = _spread_text(df, text_col).select(grams)
    parts = F.split(F.col("gram"), " ")
    cond = F.lit(True)
    wildcard_idx = [i for i, c in enumerate(context) if c is None]
    for i, c in enumerate(context):
        if c is not None:
            cond = cond & (F.element_at(parts, i + 1) == c.lower())
    filler = F.concat_ws(" ", *[F.element_at(parts, i + 1) for i in wildcard_idx])
    return (
        out.filter(cond)
        .select(filler.alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("double").alias("estfrequency"))
        .orderBy(F.col("estfrequency").desc(), F.col("ngram"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# matchpath — Hive PTF (ql/udf/ptf/MatchPath.java): row-sequence regex per
# partition. Fixed-length patterns decompose into lead() comparisons (see
# operators/extensions.matchpath_sessions); this is the general
# variable-length form (e.g. "A.B*.C") as a grouped-map pandas function.
# ---------------------------------------------------------------------------


def matchpath(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    symbol_col: str,
    pattern: str,
    out_schema: str = "part bigint, start_idx int, match_len int",
):
    """Match a regex over the per-partition sequence of symbols.

    ``pattern`` is a regex over single-character symbol codes; callers map
    their symbol column to one char per row (the classic MatchPath encoding).
    Returns one row per (non-overlapping, leftmost) match:
    (partition value, 0-based start index in the ordered sequence, length).

    Scale: ``applyInPandas`` shuffles once on the partition key and streams
    each group through Arrow — a partition's rows must fit in worker memory,
    the same constraint Hive's PTFRowContainer spills under.
    """
    import re

    import pandas as pd  # noqa: F401  (re-exported for workers)

    rx = re.compile(pattern)

    def find(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_cols, kind="mergesort")
        seq = "".join(pdf[symbol_col].astype(str))
        rows = []
        for m in rx.finditer(seq):
            if m.end() > m.start():
                rows.append(
                    (pdf[partition_col].iloc[0], m.start(), m.end() - m.start())
                )
        return pd.DataFrame(rows, columns=["part", "start_idx", "match_len"])

    return df.groupBy(partition_col).applyInPandas(find, schema=out_schema)


def compile_matchpath_pattern(pattern: str, name_to_char: dict[str, str]) -> str:
    """Compile Hive's MatchPath path language to the single-char regex
    ``matchpath`` consumes. Hive patterns (MatchPath.java role, SURVEY
    §2.5) are symbol NAMES joined by ``.`` (concatenation) with ``* + ?``
    quantifiers and ``( ) |`` grouping — e.g. ``LATE.LATE+`` or
    ``FLAT.(UP|DOWN)*.FLAT``."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c.isalpha() or c == "_":
            j = i
            while j < len(pattern) and (pattern[j].isalnum() or pattern[j] == "_"):
                j += 1
            name = pattern[i:j]
            if name not in name_to_char:
                raise ValueError(
                    f"matchpath: undeclared symbol {name!r} in pattern {pattern!r}"
                )
            out.append(name_to_char[name])
            i = j
        elif c == ".":
            i += 1  # Hive's concatenation separator — no regex counterpart
        elif c in "()|*+?":
            out.append(c)
            i += 1
        elif c.isspace():
            i += 1
        else:
            raise ValueError(f"matchpath: bad pattern char {c!r} in {pattern!r}")
    return "".join(out)


def matchpath_hive(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    pattern: str,
    symbols: list[tuple[str, Column]],
    out_schema: str = "part bigint, start_idx int, match_len int",
):
    """Hive's MatchPath ARGUMENT convention (upstream invocation:
    ``matchpath(ON t PARTITION BY p ORDER BY o, 'LATE.LATE+',
    'LATE', arr_delay > 15, ...)`` — a path pattern over NAMED symbols,
    each symbol bound to a boolean row predicate).

    Semantics mirrored from MatchPath.java: rows are labeled with the
    FIRST declared symbol whose predicate holds (declaration order wins
    when predicates overlap; unlabeled rows can never participate in a
    match), and quantified symbols match GREEDILY — ``LATE.LATE+`` takes
    the whole maximal run, not the shortest two-row prefix. The pattern
    is compiled onto a single-char alphabet and delegated to
    ``matchpath`` (same applyInPandas engine, one shuffle on the
    partition key)."""
    if len(symbols) > 26:
        raise ValueError("matchpath: >26 symbols unsupported")
    name_to_char = {
        name: chr(ord("a") + i) for i, (name, _) in enumerate(symbols)
    }
    label = None
    for name, pred in symbols:
        label = (
            F.when(pred, F.lit(name_to_char[name]))
            if label is None
            else label.when(pred, F.lit(name_to_char[name]))
        )
    label = label.otherwise(F.lit("0"))  # '0' never matches a symbol char
    rx = compile_matchpath_pattern(pattern, name_to_char)
    return matchpath(
        df.withColumn("__mp_sym", label),
        partition_col,
        order_cols,
        "__mp_sym",
        rx,
        out_schema,
    )
