"""Distributed model-training loops (SURVEY.md §2.11 extension).

The iterative-ML counterpart to pipeline/similarity.py's k-means: training
runs expressed as fixed-iteration DataFrame dataflows whose per-round state
is quantized (9-dp rounding) so the whole trajectory is bit-reproducible
across engines — which is what lets a gradient-descent training loop carry
a full value-hash DuckDB oracle (same discipline as the PageRank / LPA /
k-means / BPE oracles).

``train_logreg_quality`` — batch-gradient-descent logistic regression that
predicts lang='en' from surface text statistics: the distributed form of
the fastText-style quality/language classifier step in a pretraining data
pipeline. 100 TB shape: the model is a handful of doubles broadcast to the
data every round; each round is ONE full-corpus aggregate (map-side partial
sums → 4 gradient components), so the per-round cost is a single scan with
no corpus-sized shuffle at all — exactly how MLlib's LogisticRegression
aggregates gradients, re-expressed auditably.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..helpers import T, materialize
from ..registry import query
from .similarity import best_label, dot_fold, explode_dims, mean_vectors
from .text_analysis import STOPWORDS, _STOP_SQL

_LR_ITERS = 4
_LR_RATE = 1.0
_FEATS = ["x0", "x1", "x2", "x3"]


def _feat_sql() -> str:
    """DuckDB feature CTE — 6-dp-rounded features, y = (lang='en')."""
    return f"""
    feat AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             round(least(len(a) / 100.0, 2.0), 6) AS x1,
             round(len(list_distinct(a)) * 1.0 / len(a), 6) AS x2,
             round(len(list_filter(a, t -> t IN {_STOP_SQL})) * 1.0
                   / len(a), 6) AS x3
      FROM (SELECT doc_id, lang,
                   string_split_regex(lower(text), '\\s+') AS a
            FROM documents)
    )"""


def _z_sql(w: str) -> str:
    """The margin w·x with a FIXED term order + 9-dp quantization — both
    engines evaluate the identical decimal before the (libm-dependent)
    exp(), so 1-ulp sigmoid noise never compounds across rounds."""
    return (
        f"round({w}.w0 * f.x0 + {w}.w1 * f.x1 + {w}.w2 * f.x2 "
        f"+ {w}.w3 * f.x3, 9)"
    )


def _logreg_chain_sql() -> str:
    """The unrolled training CTE chain (feat, then one ``w`` CTE per round
    through `_LR_ITERS`) — shared by the trainer oracle and the round-6
    calibration-report oracle."""
    parts = [
        f"WITH {_feat_sql()},",
        "    w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)",
    ]
    for i in range(1, _LR_ITERS + 1):
        z = _z_sql("w")
        sig = f"1.0 / (1.0 + exp(-({z})))"
        comps = ", ".join(
            f"round(any_value(w.w{j}) + {_LR_RATE} * avg((f.y - {sig}) * f.x{j})"
            f" + 1e-12, 9) AS w{j}"
            for j in range(4)
        )
        parts.append(
            f",\n    w{i} AS (SELECT {comps} FROM feat f CROSS JOIN w{i-1} w)"
        )
    return "".join(parts)


def _logreg_oracle() -> str:
    parts = [_logreg_chain_sql()]
    zf = _z_sql("w")
    pf = f"1.0 / (1.0 + exp(-({zf})))"
    parts.append(
        f"""
    , metrics AS (
      SELECT round(avg(-(f.y * ln({pf} + 1e-12)
                         + (1.0 - f.y) * ln(1.0 - {pf} + 1e-12)))
                   + 1e-12, 6) AS log_loss,
             round(avg(CASE WHEN (round({pf}, 6) >= 0.5) = (f.y = 1.0)
                            THEN 1.0 ELSE 0.0 END) + 1e-12, 6) AS accuracy
      FROM feat f CROSS JOIN w{_LR_ITERS} w
    )
    SELECT u.feature, u.weight, m.log_loss, m.accuracy
    FROM (
      SELECT 'x0' AS feature, w0 AS weight FROM w{_LR_ITERS}
      UNION ALL SELECT 'x1', w1 FROM w{_LR_ITERS}
      UNION ALL SELECT 'x2', w2 FROM w{_LR_ITERS}
      UNION ALL SELECT 'x3', w3 FROM w{_LR_ITERS}
    ) u CROSS JOIN metrics m
    """
    )
    return "".join(parts)


def _logreg_train(spark, sf_dir):
    """Shared trainer: returns (feat, final weights, margin column) — the
    round-6 calibration report reuses the identical trained model."""
    d = T(spark, sf_dir, "documents")
    a = F.split(F.lower("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feat = materialize(
        d.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            F.lit(1.0).alias("x0"),
            F.round(F.least(F.size(a) / 100.0, F.lit(2.0)), 6).alias("x1"),
            F.round(F.size(F.array_distinct(a)) * 1.0 / F.size(a), 6).alias("x2"),
            F.round(
                F.size(F.filter(a, lambda t: F.array_contains(stop_arr, t)))
                * 1.0
                / F.size(a),
                6,
            ).alias("x3"),
        )
    )

    # The model state is 4 doubles — carry it as PYTHON floats between
    # rounds (the Spark MLlib driver pattern), so no per-round barrier is
    # needed. Each round is exactly one corpus-scan aggregate; the
    # round-trip collects one 4-double row (O(1) driver work, not a data
    # collect). Python float carry is exact IEEE754.
    wv = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_LR_ITERS):
        z_lit = F.round(
            F.lit(wv[0]) * F.col("x0")
            + F.lit(wv[1]) * F.col("x1")
            + F.lit(wv[2]) * F.col("x2")
            + F.lit(wv[3]) * F.col("x3"),
            9,
        )
        sig = 1.0 / (1.0 + F.exp(-z_lit))
        row = feat.agg(
            *[
                F.round(
                    F.lit(wv[j])
                    + _LR_RATE * F.avg((F.col("y") - sig) * F.col(f"x{j}"))
                    + F.lit(1e-12),
                    9,
                ).alias(f"w{j}")
                for j in range(4)
            ]
        ).collect()[0]
        wv = [row[f"w{j}"] for j in range(4)]
    w = spark.createDataFrame([tuple(wv)], ["w0", "w1", "w2", "w3"])
    z = F.round(
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3"),
        9,
    )
    return feat, w, z


@query("train_logreg_quality", oracle=_logreg_oracle())
def train_logreg_quality(spark, sf_dir):
    """Batch-GD logistic regression (lr=`_LR_RATE`, `_LR_ITERS` fixed full-batch rounds,
    w init 0) predicting lang='en' from per-doc surface features (capped
    length, type-token ratio, stopword fraction + bias) — the quality /
    language classifier training step of an LLM data pipeline, expressed
    as a deterministic distributed dataflow.

    Determinism contract (what makes a GD loop hash-oracle-able): features
    rounded to 6dp at construction; the margin w·x evaluated in a fixed
    term order and quantized to 9dp BEFORE the sigmoid (so libm exp()
    differences see identical inputs and contribute ≤1 ulp); per-round
    weights rounded to 9dp after the gradient step. DuckDB unrolls the
    same `_LR_ITERS` rounds.

    100 TB shape: the model state is 4 doubles carried on the driver;
    each round is one corpus scan aggregated into 4 partial-summed
    gradient components (no shuffle wider than the 4-value agg) over the
    materialized feature table. Returns the weight
    vector plus final log-loss/accuracy."""
    feat, w, z = _logreg_train(spark, sf_dir)
    scored = feat.crossJoin(F.broadcast(w))
    p = 1.0 / (1.0 + F.exp(-z))
    metrics = scored.agg(
        F.round(
            F.avg(
                -(
                    F.col("y") * F.log(p + 1e-12)
                    + (1.0 - F.col("y")) * F.log(1.0 - p + 1e-12)
                )
            )
            + F.lit(1e-12),
            6,
        ).alias("log_loss"),
        F.round(
            F.avg(
                F.when(
                    (F.round(p, 6) >= 0.5) == (F.col("y") == 1.0), 1.0
                ).otherwise(0.0)
            )
            + F.lit(1e-12),
            6,
        ).alias("accuracy"),
    )
    weights = None
    for j, name in enumerate(_FEATS):
        row = w.select(
            F.lit(name).alias("feature"), F.col(f"w{j}").alias("weight")
        )
        weights = row if weights is None else weights.unionAll(row)
    return weights.crossJoin(F.broadcast(metrics))


# ---- round 6: classifier calibration (reliability diagram) ---------------

_CAL_BINS = 5


def _calibration_oracle() -> str:
    zf = _z_sql("w")
    pf = f"round(1.0 / (1.0 + exp(-({zf}))), 6)"
    cuts = [k / _CAL_BINS for k in range(1, _CAL_BINS)]
    bsel = ", ".join(
        f"round(quantile_cont(p, {c}) + 1e-12, 4) AS b{i}"
        for i, c in enumerate(cuts, 1)
    )
    binexpr = " + ".join(
        f"CASE WHEN s.p > b.b{i} THEN 1 ELSE 0 END"
        for i in range(1, _CAL_BINS)
    )
    return (
        _logreg_chain_sql()
        + f"""
    , scored AS (
      SELECT f.y, {pf} AS p
      FROM feat f CROSS JOIN w{_LR_ITERS} w
    ),
    bounds AS (SELECT {bsel} FROM scored)
    SELECT CAST({binexpr} AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT)   AS n_docs,
           round(avg(s.p) + 1e-9, 4)  AS mean_predicted,
           round(avg(s.y) + 1e-9, 4)  AS empirical_rate
    FROM scored s CROSS JOIN bounds b
    GROUP BY 1
    """
    )


@query("quality_calibration_report", oracle=_calibration_oracle())
def quality_calibration_report(spark, sf_dir):
    """Reliability diagram for the trained quality/language classifier —
    the post-training audit that decides whether predicted probabilities
    can drive downstream sampling weights (a classifier can be accurate
    yet badly calibrated, which silently skews probability-weighted corpus
    mixing): score every document with the SAME trained model as
    `train_logreg_quality` (shared `_logreg_train`), bucket into `_CAL_BINS`
    EQUAL-COUNT bins by p-quantile boundaries, and report per bin the
    document count, mean predicted probability, and empirical positive
    rate — calibration = the last two agreeing per bin. Equal-count (not
    equal-width) bins because a confident classifier concentrates p into
    a narrow range that would leave fixed-width bins empty.

    Determinism: p is 6-dp-rounded before everything; quantile boundaries
    are 4-dp-rounded + epsilon (the supplier-p95 interpolation-noise
    discipline) and bin assignment is pure comparison against them. Scale:
    NO global sort/window — the boundaries are a 4-value aggregate
    broadcast back (the window_ntile_scaled pattern), so the report is one
    corpus scan + one `_CAL_BINS`-row aggregate at any corpus size."""
    feat, w, z = _logreg_train(spark, sf_dir)
    p = F.round(1.0 / (1.0 + F.exp(-z)), 6)
    scored = feat.crossJoin(F.broadcast(w)).select(
        F.col("y"), p.alias("p")
    )
    cuts = [k / _CAL_BINS for k in range(1, _CAL_BINS)]
    bounds = scored.agg(
        *[
            F.round(F.expr(f"percentile(p, {c})") + F.lit(1e-12), 4).alias(
                f"b{i}"
            )
            for i, c in enumerate(cuts, 1)
        ]
    )
    binc = None
    for i in range(1, _CAL_BINS):
        term = F.when(F.col("p") > F.col(f"b{i}"), 1).otherwise(0)
        binc = term if binc is None else binc + term
    return (
        scored.crossJoin(F.broadcast(bounds))
        .groupBy(binc.cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("p") + F.lit(1e-9), 4).alias("mean_predicted"),
            F.round(F.avg("y") + F.lit(1e-9), 4).alias("empirical_rate"),
        )
    )


# ---- round 7: standardized-coefficient importance report -----------------


def _feat_importance_oracle() -> str:
    unpiv = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, w{j} AS weight, s{j} AS sd, i{j} AS importance"
        f" FROM imp"
        for j, f in enumerate(_FEATS)
    )
    return f"""
    {_logreg_chain_sql()},
    fstats AS (
      SELECT round(stddev_samp(x0) + 1e-12, 6) AS s0,
             round(stddev_samp(x1) + 1e-12, 6) AS s1,
             round(stddev_samp(x2) + 1e-12, 6) AS s2,
             round(stddev_samp(x3) + 1e-12, 6) AS s3
      FROM feat
    ),
    imp AS (
      SELECT w.w0, w.w1, w.w2, w.w3, s.s0, s.s1, s.s2, s.s3,
             round(w.w0 * s.s0 + 1e-12, 6) AS i0,
             round(w.w1 * s.s1 + 1e-12, 6) AS i1,
             round(w.w2 * s.s2 + 1e-12, 6) AS i2,
             round(w.w3 * s.s3 + 1e-12, 6) AS i3
      FROM w{_LR_ITERS} w CROSS JOIN fstats s
    ),
    tot AS (
      SELECT round(abs(i0) + abs(i1) + abs(i2) + abs(i3) + 1e-12, 6) AS t
      FROM imp
    )
    SELECT u.feature, u.weight, u.sd, u.importance,
           CASE WHEN t.t > 0
                THEN round(abs(u.importance) / t.t + 1e-9, 6)
                ELSE 0.0 END AS abs_share,
           CAST(row_number() OVER (ORDER BY abs(u.importance) DESC,
                                   u.feature) AS INTEGER) AS rank
    FROM ({unpiv}) u CROSS JOIN tot t
    """


@query("quality_feature_importance", oracle=_feat_importance_oracle())
def quality_feature_importance(spark, sf_dir):
    """Standardized-coefficient importance of the shared quality logreg —
    the interpretability audit run before trusting a learned filter:
    importance_j = w_j · sd(x_j) (the scale-free effect of a one-sd
    feature move on the margin), each feature's share of total absolute
    importance, and the rank. The intercept x0 standardizes to exactly 0
    (sd of a constant), falling out of the ranking by construction — the
    report shows WHAT the filter actually keys on, pairing with
    quality_calibration_report's IS-IT-HONEST audit over the same trained
    weights.

    Determinism: feature sds are 6dp-cut aggregates over 6dp features;
    importances multiply the 9dp weights by those cut sds; the share
    total is a FIXED textual-order sum of the four rounded values (never
    a row-order aggregate); rank orders on rounded values with a feature
    tie-break. 100 TB: one stddev aggregate over the feature table (the
    training scan already paid), then arithmetic over a 1-row frame."""
    feat, w, _z = _logreg_train(spark, sf_dir)
    fstats = feat.agg(
        *[
            F.round(F.stddev_samp(f) + F.lit(1e-12), 6).alias(f"s{j}")
            for j, f in enumerate(_FEATS)
        ]
    )
    imp = w.crossJoin(F.broadcast(fstats)).select(
        "*",
        *[
            F.round(F.col(f"w{j}") * F.col(f"s{j}") + F.lit(1e-12), 6).alias(
                f"i{j}"
            )
            for j in range(len(_FEATS))
        ],
    )
    tot = F.round(
        F.abs(F.col("i0")) + F.abs(F.col("i1")) + F.abs(F.col("i2"))
        + F.abs(F.col("i3")) + F.lit(1e-12),
        6,
    )
    rows = None
    for j, f in enumerate(_FEATS):
        r = imp.select(
            F.lit(f).alias("feature"),
            F.col(f"w{j}").alias("weight"),
            F.col(f"s{j}").alias("sd"),
            F.col(f"i{j}").alias("importance"),
            tot.alias("t"),
        )
        rows = r if rows is None else rows.unionByName(r)
    from pyspark.sql import Window

    wr = Window.orderBy(F.abs(F.col("importance")).desc(), "feature")
    return rows.select(
        "feature",
        "weight",
        "sd",
        "importance",
        F.when(
            F.col("t") > 0,
            F.round(F.abs(F.col("importance")) / F.col("t") + F.lit(1e-9), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("abs_share"),
        F.row_number().over(wr).cast("int").alias("rank"),
    )


# ---- decision-stump learning (histogram split search) ----------------------

_STUMP_QS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def _stump_oracle() -> str:
    qlist = "[" + ", ".join(str(q) for q in _STUMP_QS) + "]"
    return f"""
    WITH {_feat_sql()},
    long AS (
      SELECT y, 'x1' AS feature, x1 AS x FROM feat
      UNION ALL SELECT y, 'x2', x2 FROM feat
      UNION ALL SELECT y, 'x3', x3 FROM feat
    ),
    cand AS (
      SELECT DISTINCT feature,
             unnest(list_transform(quantile_cont(x, {qlist}),
                    v -> floor((v + 1e-9) * 1000000 + 0.5) / 1000000)) AS th
      FROM long GROUP BY feature
    ),
    cells AS (
      SELECT l.feature, c.th,
             count(*) AS n, sum(l.y) AS s,
             sum(CASE WHEN l.x <= c.th THEN 1 ELSE 0 END) AS nl,
             sum(CASE WHEN l.x <= c.th THEN l.y ELSE 0 END) AS sl
      FROM long l JOIN cand c ON c.feature = l.feature
      GROUP BY l.feature, c.th
    ),
    scored AS (
      SELECT feature, th,
             CAST(nl AS BIGINT) AS n_left,
             CAST(n - nl AS BIGINT) AS n_right,
             round(CASE WHEN nl > 0 THEN sl / nl ELSE 0.0 END + 1e-9, 6)
               AS p_left,
             round(CASE WHEN n - nl > 0 THEN (s - sl) / (n - nl)
                        ELSE 0.0 END + 1e-9, 6) AS p_right,
             round((s / n) * (1.0 - s / n)
                   - (nl * (CASE WHEN nl > 0 THEN (sl / nl)
                                 * (1.0 - sl / nl) ELSE 0.0 END)
                      + (n - nl) * (CASE WHEN n - nl > 0
                                         THEN ((s - sl) / (n - nl))
                                         * (1.0 - (s - sl) / (n - nl))
                                         ELSE 0.0 END)) / n
                   + 1e-9, 6) AS gain
      FROM cells
    )
    SELECT feature, th, n_left, n_right, p_left, p_right, gain,
           row_number() OVER (ORDER BY gain DESC, feature, th) = 1 AS is_best
    FROM scored
    """


@query("train_decision_stump", oracle=_stump_oracle())
def train_decision_stump(spark, sf_dir):
    """Decision-stump learning over the shared quality features (y =
    lang='en'; x1 capped length, x2 type-token ratio, x3 stopword
    fraction): for every (feature, decile-threshold) candidate compute
    the Gini/variance impurity reduction of the split in ONE aggregate
    pass, and flag the argmax — the histogram-based split search at the
    heart of distributed tree learners (XGBoost/LightGBM grow trees by
    exactly this candidate-bin-aggregate-argmax loop; a stump is its
    verifiable single round). Binary y makes variance = p(1-p), so the
    whole criterion derives from four integer-ish sums (n, Σy, n_left,
    Σy_left) per candidate.

    Determinism: features are 6dp at construction; candidate thresholds
    are exact interpolated deciles 6dp-floor-quantized (identical
    interpolation both engines); every ratio is a deterministic double of
    those quantized inputs; gain 6dp-shift-rounded before the argmax,
    ties broken (feature, th).

    100 TB: the long fan is 3x the doc count map-side; ONE shuffle
    aggregates all |features|x|deciles| candidates' sums (each row updates
    9 bins of its feature — the histogram trick: work ∝ data x bins,
    never data x splits x passes); the argmax window runs over 27 rows.
    Growing this into a depth-d tree is d repetitions of the same pass."""
    d = T(spark, sf_dir, "documents")
    a = F.split(F.lower("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feat = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.round(F.least(F.size(a) / 100.0, F.lit(2.0)), 6).alias("x1"),
        F.round(F.size(F.array_distinct(a)) * 1.0 / F.size(a), 6).alias("x2"),
        F.round(
            F.size(F.filter(a, lambda t: F.array_contains(stop_arr, t)))
            * 1.0
            / F.size(a),
            6,
        ).alias("x3"),
    )
    long = feat.select(
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feature"), F.col(f).alias("x")
                    )
                    for f in ("x1", "x2", "x3")
                ]
            )
        ).alias("fx"),
    ).select("y", F.col("fx.feature").alias("feature"), F.col("fx.x").alias("x"))
    qarr = F.array(*[F.lit(q) for q in _STUMP_QS])
    cand = (
        long.groupBy("feature")
        .agg(F.percentile("x", qarr).alias("qs"))
        .select(
            "feature",
            F.explode(
                F.transform(
                    F.col("qs"),
                    lambda v: F.floor((v + F.lit(1e-9)) * 1e6 + F.lit(0.5))
                    / 1e6,
                )
            ).alias("th"),
        )
        .distinct()
    )
    cells = (
        long.join(F.broadcast(cand), "feature")
        .groupBy("feature", "th")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.when(F.col("x") <= F.col("th"), 1).otherwise(0)).alias(
                "nl"
            ),
            F.sum(
                F.when(F.col("x") <= F.col("th"), F.col("y")).otherwise(0.0)
            ).alias("sl"),
        )
    )
    pl = F.when(F.col("nl") > 0, F.col("sl") / F.col("nl")).otherwise(0.0)
    nr = F.col("n") - F.col("nl")
    pr = F.when(nr > 0, (F.col("s") - F.col("sl")) / nr).otherwise(0.0)
    p = F.col("s") / F.col("n")
    gain = F.round(
        p * (1.0 - p)
        - (F.col("nl") * (pl * (1.0 - pl)) + nr * (pr * (1.0 - pr)))
        / F.col("n")
        + F.lit(1e-9),
        6,
    )
    from pyspark.sql import Window

    scored = cells.select(
        "feature",
        "th",
        F.col("nl").cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        F.round(pl + F.lit(1e-9), 6).alias("p_left"),
        F.round(pr + F.lit(1e-9), 6).alias("p_right"),
        gain.alias("gain"),
    )
    w = Window.orderBy(F.desc("gain"), "feature", "th")
    return scored.withColumn("is_best", F.row_number().over(w) == 1)


# ---- held-out nearest-centroid evaluation --------------------------------

def _heldout_centroid_scores(spark, sf_dir):
    """Shared Rocchio dataflow (classify_centroid_eval +
    quality_uncertainty_pick): 6dp-quantized per-label centroids fit on
    the 80% split, every held-out vector scored against the broadcast
    10-row centroid table. Returns (vec_id, label, c_label, score)."""
    e = T(spark, sf_dir, "embeddings")
    tr = e.filter(F.col("vec_id") % 5 != 0)
    te = e.filter(F.col("vec_id") % 5 == 0)
    cvecs = mean_vectors(explode_dims(tr, "label"), "label").select(
        F.col("label").alias("c_label"),
        "cvec",
        F.sqrt(
            F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("cnorm"),
    )
    return te.crossJoin(F.broadcast(cvecs)).select(
        "vec_id",
        "label",
        "c_label",
        (dot_fold("embedding", "cvec") / F.col("cnorm")).alias("score"),
    )


_CENTROID_EVAL_SQL = """
WITH tr AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
te AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
dims AS (
  SELECT label, u.pos AS pos, u.val AS val
  FROM (
    SELECT label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM tr
  )
),
centroids AS (
  SELECT label, pos, round(avg(val) + 1e-12, 6) AS c
  FROM dims GROUP BY label, pos
),
cvecs AS (
  SELECT label AS c_label,
         list(c ORDER BY pos) AS cvec,
         sqrt(list_sum(list_transform(list(c ORDER BY pos), x -> x * x)))
             AS cnorm
  FROM centroids GROUP BY label
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / c.cnorm
             AS score
  FROM te v CROSS JOIN cvecs c
),
pred AS (
  SELECT vec_id, label,
         arg_max(c_label, score - c_label * 1e-12) AS pred_label
  FROM scored GROUP BY vec_id, label
),
cells AS (
  SELECT label, pred_label, count(*) AS n FROM pred GROUP BY label, pred_label
),
rowtot AS (SELECT label, sum(n) AS row_n FROM cells GROUP BY label),
tot AS (
  SELECT sum(n) AS total,
         sum(CASE WHEN label = pred_label THEN n ELSE 0 END) AS hit
  FROM cells
)
SELECT c.label, c.pred_label, CAST(c.n AS BIGINT) AS n,
       round(c.n * 1.0 / r.row_n + 1e-9, 6)               AS recall_share,
       round((SELECT hit * 1.0 / total FROM tot) + 1e-9, 6) AS accuracy
FROM cells c JOIN rowtot r ON r.label = c.label
"""


@query("classify_centroid_eval", oracle=_CENTROID_EVAL_SQL)
def classify_centroid_eval(spark, sf_dir):
    """Held-out nearest-centroid (Rocchio) classifier evaluation: train
    per-label mean vectors on the 80% split (vec_id % 5 <> 0), assign each
    held-out vector to its max-cosine centroid, and emit the confusion
    matrix with per-class recall and overall accuracy. This is the
    label-consistency probe a pretraining pipeline runs before trusting
    stored labels for mix allocation: near-chance accuracy (as here — the
    synthetic labels are deliberately uncorrelated with the vectors) means
    the labels carry no embedding-space signal.

    Leakage discipline is the point vs ivf_assign: centroids see ONLY the
    train split, scoring sees ONLY the eval split. 100 TB shape: centroid
    fit is one (label, dim)-keyed aggregate (|L|x|D| cells regardless of
    corpus size); the model is broadcast to the eval scan (BNLJ against 10
    rows); the confusion matrix is a |L|^2-cell aggregate. Two scans, no
    corpus-sized shuffle. Argmax ties broken by an epsilon-scaled label
    term mirrored in the oracle; centroid values 6dp-quantized before any
    dot product (repo discipline, ADVICE r4)."""
    pred = best_label(_heldout_centroid_scores(spark, sf_dir), "vec_id", "label")
    cells = pred.groupBy("label", "pred_label").agg(F.count("*").alias("n"))
    rowtot = cells.groupBy("label").agg(F.sum("n").alias("row_n"))
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("label") == F.col("pred_label"), F.col("n")).otherwise(0)).alias("hit"),
    ).select((F.col("hit") / F.col("total")).alias("acc_raw"))
    return (
        cells.join(rowtot, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            "pred_label",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("row_n") + F.lit(1e-9), 6).alias(
                "recall_share"
            ),
            F.round(F.col("acc_raw") + F.lit(1e-9), 6).alias("accuracy"),
        )
    )


# ---- k-fold cross-validation via leave-one-fold-out sufficient stats -----

_KFOLD_SQL = """
WITH folded AS (
  SELECT vec_id, embedding, label, vec_id % 5 AS fold FROM embeddings
),
dims AS (
  SELECT fold, label, u.pos AS pos, u.val AS val
  FROM (
    SELECT fold, label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM folded
  )
),
per_flp AS (
  SELECT fold, label, pos, sum(val) AS s, count(*) AS n
  FROM dims GROUP BY fold, label, pos
),
totals AS (
  SELECT label, pos, sum(s) AS st, sum(n) AS nt
  FROM per_flp GROUP BY label, pos
),
cent AS (
  SELECT f.fold, f.label, f.pos,
         round((t.st - f.s) / (t.nt - f.n) + 1e-12, 6) AS c
  FROM per_flp f JOIN totals t ON t.label = f.label AND t.pos = f.pos
),
cvecs AS (
  SELECT fold AS c_fold, label AS c_label,
         list(c ORDER BY pos) AS cvec,
         sqrt(list_sum(list_transform(list(c ORDER BY pos), x -> x * x)))
             AS cnorm
  FROM cent GROUP BY fold, label
),
scored AS (
  SELECT v.vec_id, v.fold, v.label, c.c_label,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / c.cnorm
             AS score
  FROM folded v JOIN cvecs c ON c.c_fold = v.fold
),
pred AS (
  SELECT vec_id, fold, label,
         arg_max(c_label, score - c_label * 1e-12) AS pred_label
  FROM scored GROUP BY vec_id, fold, label
),
perfold AS (
  SELECT fold,
         CAST(count(*) AS BIGINT) AS n_eval,
         round(avg(CASE WHEN pred_label = label THEN 1.0 ELSE 0.0 END)
               + 1e-9, 6) AS fold_acc
  FROM pred GROUP BY fold
),
summary AS (
  SELECT round(avg(fold_acc) + 1e-9, 6)         AS mean_acc,
         round(stddev_samp(fold_acc) + 1e-9, 6) AS std_acc
  FROM perfold
)
SELECT CAST(p.fold AS BIGINT) AS fold, p.n_eval, p.fold_acc,
       s.mean_acc, s.std_acc
FROM perfold p CROSS JOIN summary s
"""


@query("train_kfold_cv", oracle=_KFOLD_SQL)
def train_kfold_cv(spark, sf_dir):
    """5-fold cross-validation of the nearest-centroid classifier WITHOUT
    5 training passes: one scan aggregates per-(fold, label, dim)
    sufficient statistics (sum, count), and fold f's leave-one-fold-out
    centroid is (total - fold_f) / (n_total - n_f) — the algebraic trick
    that makes cross-validation a constant number of scans at 100 TB
    instead of k re-trains. Every vector is then scored against ITS OWN
    fold's held-out model (a 50-row broadcast), giving per-fold accuracy
    and the mean/std readout — the variance estimate that tells you
    whether a quality-classifier gate is stable enough to deploy.

    Scale: scan 1 computes |folds|x|labels|x|dims| cells (map-side
    partials); scan 2 scores against the broadcast centroid table and
    aggregates |folds| accuracy cells. No corpus-sized shuffle, no
    per-fold recomputation. Centroids 6dp-quantized before any dot
    product and argmax ties epsilon-broken (repo discipline)."""
    e = T(spark, sf_dir, "embeddings").withColumn(
        "fold", F.col("vec_id") % 5
    )
    dims = explode_dims(e, "fold", "label")
    per_flp = dims.groupBy("fold", "label", "pos").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    totals = per_flp.groupBy("label", "pos").agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt")
    )
    cent = per_flp.join(totals, ["label", "pos"]).select(
        "fold",
        "label",
        "pos",
        F.round(
            (F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))
            + F.lit(1e-12),
            6,
        ).alias("c"),
    )
    cvec = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "c"))),
        lambda s: s.getField("c"),
    )
    cvecs = (
        cent.groupBy("fold", "label")
        .agg(cvec.alias("cvec"))
        .select(
            F.col("fold").alias("c_fold"),
            F.col("label").alias("c_label"),
            "cvec",
            F.sqrt(
                F.aggregate("cvec", F.lit(0.0), lambda a, x: a + x * x)
            ).alias("cnorm"),
        )
    )
    scored = e.join(
        F.broadcast(cvecs), e.fold == cvecs.c_fold
    ).select(
        "vec_id",
        "fold",
        "label",
        "c_label",
        (dot_fold("embedding", "cvec") / F.col("cnorm")).alias("score"),
    )
    pred = best_label(scored, "vec_id", "fold", "label")
    perfold = pred.groupBy("fold").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.round(
            F.avg(
                F.when(F.col("pred_label") == F.col("label"), 1.0).otherwise(
                    0.0
                )
            )
            + F.lit(1e-9),
            6,
        ).alias("fold_acc"),
    )
    summary = perfold.agg(
        F.round(F.avg("fold_acc") + F.lit(1e-9), 6).alias("mean_acc"),
        F.round(F.stddev_samp("fold_acc") + F.lit(1e-9), 6).alias("std_acc"),
    )
    return perfold.crossJoin(F.broadcast(summary)).select(
        F.col("fold").cast("bigint").alias("fold"),
        "n_eval",
        "fold_acc",
        "mean_acc",
        "std_acc",
    )


# ---- active learning: uncertainty sampling --------------------------------

_UNCERTAINTY_SQL = """
WITH tr AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
te AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
dims AS (
  SELECT label, u.pos AS pos, u.val AS val
  FROM (
    SELECT label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM tr
  )
),
centroids AS (
  SELECT label, pos, round(avg(val) + 1e-12, 6) AS c
  FROM dims GROUP BY label, pos
),
cvecs AS (
  SELECT label AS c_label,
         list(c ORDER BY pos) AS cvec,
         sqrt(list_sum(list_transform(list(c ORDER BY pos), x -> x * x)))
             AS cnorm
  FROM centroids GROUP BY label
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / c.cnorm
             AS score
  FROM te v CROSS JOIN cvecs c
),
ranked AS (
  SELECT vec_id, label, c_label, score,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, c_label) AS rk
  FROM scored
),
margins AS (
  SELECT vec_id, label,
         max(CASE WHEN rk = 1 THEN c_label END) AS pred_label,
         round(max(CASE WHEN rk = 1 THEN score END)
               - max(CASE WHEN rk = 2 THEN score END) + 1e-9, 6) AS margin
  FROM ranked GROUP BY vec_id, label
)
SELECT vec_id, label, pred_label, margin
FROM margins
ORDER BY margin, vec_id
LIMIT 25
"""


@query("quality_uncertainty_pick", oracle=_UNCERTAINTY_SQL)
def quality_uncertainty_pick(spark, sf_dir):
    """Active-learning acquisition: margin-based uncertainty sampling —
    the 25 held-out vectors whose top-1 vs top-2 centroid cosine margin
    is smallest are exactly the ones a labeling budget should buy next
    (Lewis & Gale '94 uncertainty sampling, the default acquisition rule
    in every annotation pipeline). Emits (vec_id, current label,
    model's pick, margin) — the work queue an annotation tool consumes.

    100 TB shape: reuses the broadcast-centroid scoring dataflow (one
    eval-scan, |L|-row model), margins come from a per-vector top-2 over
    the 10 scores (vec_id-keyed window over 10 rows, not a global sort),
    and the final pick is a 6dp-quantized margin ORDER BY ... LIMIT —
    TakeOrderedAndProject, never a full sort. Margin quantization plus
    the vec_id tie-break makes the k-boundary engine-stable."""
    from pyspark.sql import Window

    scored = _heldout_centroid_scores(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("c_label")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    margins = ranked.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("rk") == 1, F.col("c_label"))).alias("pred_label"),
        F.round(
            F.max(F.when(F.col("rk") == 1, F.col("score")))
            - F.max(F.when(F.col("rk") == 2, F.col("score")))
            + F.lit(1e-9),
            6,
        ).alias("margin"),
    )
    return margins.orderBy("margin", "vec_id").limit(25)


# ---- inter-annotator agreement (Cohen's kappa) -----------------------------

_KAPPA_SQL = """
WITH tr AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
te AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
dims AS (
  SELECT label, u.pos AS pos, u.val AS val
  FROM (
    SELECT label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM tr
  )
),
centroids AS (
  SELECT label, pos, round(avg(val) + 1e-12, 6) AS c
  FROM dims GROUP BY label, pos
),
cvecs AS (
  SELECT label AS c_label,
         list(c ORDER BY pos) AS cvec,
         sqrt(list_sum(list_transform(list(c ORDER BY pos), x -> x * x)))
             AS cnorm
  FROM centroids GROUP BY label
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / c.cnorm
             AS score
  FROM te v CROSS JOIN cvecs c
),
pred AS (
  SELECT vec_id, label,
         arg_max(c_label, score - c_label * 1e-12) AS pred_label
  FROM scored GROUP BY vec_id, label
),
tot AS (SELECT count(*) AS n FROM pred),
po AS (
  SELECT sum(CASE WHEN label = pred_label THEN 1.0 ELSE 0.0 END)
         / (SELECT n FROM tot) AS po
  FROM pred
),
marg AS (
  SELECT a.k,
         coalesce(r.rn, 0) * 1.0 / (SELECT n FROM tot) AS p_row,
         coalesce(c.cn, 0) * 1.0 / (SELECT n FROM tot) AS p_col
  FROM (SELECT DISTINCT label AS k FROM pred
        UNION SELECT DISTINCT pred_label FROM pred) a
  LEFT JOIN (SELECT label AS k, count(*) AS rn FROM pred GROUP BY label) r
         ON r.k = a.k
  LEFT JOIN (SELECT pred_label AS k, count(*) AS cn FROM pred
             GROUP BY pred_label) c ON c.k = a.k
),
pe AS (SELECT sum(p_row * p_col) AS pe FROM marg)
SELECT CAST((SELECT n FROM tot) AS BIGINT)        AS n_items,
       round((SELECT po FROM po) + 1e-9, 6)       AS p_observed,
       round((SELECT pe FROM pe) + 1e-9, 6)       AS p_expected,
       round(((SELECT po FROM po) - (SELECT pe FROM pe))
             / (1.0 - (SELECT pe FROM pe)) + 1e-9, 6) AS kappa
"""


@query("quality_cohen_kappa", oracle=_KAPPA_SQL)
def quality_cohen_kappa(spark, sf_dir):
    """Cohen's kappa between the stored labels and the centroid model's
    picks on the held-out split: observed agreement, chance agreement
    from the marginal distributions, and kappa = (po - pe)/(1 - pe) —
    the chance-corrected agreement statistic annotation pipelines report
    instead of raw accuracy (raw agreement flatters imbalanced label
    sets; kappa ~ 0 here correctly exposes the synthetic labels as
    uncorrelated with the vectors where accuracy alone reads ~10%).

    100 TB shape: reuses the broadcast-centroid scoring pass; po/pe are
    |L|-cell marginal aggregates — nothing after the scan scales."""
    pred = best_label(_heldout_centroid_scores(spark, sf_dir), "vec_id", "label")
    tot = pred.agg(
        F.count("*").alias("n"),
        F.avg(
            F.when(F.col("label") == F.col("pred_label"), 1.0).otherwise(0.0)
        ).alias("po"),
    )
    rows = pred.groupBy(F.col("label").alias("k")).agg(
        F.count("*").alias("rn")
    )
    cols = pred.groupBy(F.col("pred_label").alias("k")).agg(
        F.count("*").alias("cn")
    )
    marg = rows.join(cols, "k", "full").crossJoin(F.broadcast(tot)).select(
        (
            F.coalesce(F.col("rn"), F.lit(0))
            * F.coalesce(F.col("cn"), F.lit(0))
            / (F.col("n") * F.col("n"))
        ).alias("pp")
    )
    pe = marg.agg(F.sum("pp").alias("pe"))
    return tot.crossJoin(F.broadcast(pe)).select(
        F.col("n").cast("bigint").alias("n_items"),
        F.round(F.col("po") + F.lit(1e-9), 6).alias("p_observed"),
        F.round(F.col("pe") + F.lit(1e-9), 6).alias("p_expected"),
        F.round(
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")) + F.lit(1e-9), 6
        ).alias("kappa"),
    )
