"""Distributed classical-ML training primitives over the curation tables.

The reference ends at recommendation scoring (TF_IDF.java, TextRank.java);
a training-data platform also needs the *model-fitting* patterns that run
ON the corpus — and on Spark every one of them reduces to the same shape:
**a map-side-combinable aggregate per iteration, with the (tiny) model
state held on the driver and re-broadcast as plan literals**. Nothing
here ever shuffles the data by model state, and nothing collects more
than O(model) bytes:

- **logistic regression (full-batch GD)** — each iteration is ONE
  ``agg(avg(...))`` over the feature table: the gradient of a linear
  model is a sum over rows, so Spark computes partial sums per
  partition (map-side combine) and reduces d+1 doubles. 100 TB of
  rows → K passes, each a single scan + 4-double reduce. The weights
  live on the driver between passes (the same bounded-state pattern as
  ``sim_kmeans_lloyd``'s centroids).
- **multinomial naive Bayes** — "training" IS a groupBy count; scoring
  is a broadcast join of the (lang × token) log-likelihood table. The
  model is data-sized in the token dimension only (vocab), never in the
  row dimension.
- **calibration / Brier decomposition** — model-quality audits as plain
  aggregates, the sort of job that runs after every scoring batch.
- **feature hashing** — the hashing trick for unbounded categorical
  vocabularies: pinned portable hash → fixed-width columns, no
  dictionary state at all (the property that makes it streamable).
- **JL random projection** — sign-matrix dimensionality reduction with
  the matrix baked into the plan as literals; the distortion report
  quantifies what the 4× shrink costs before anyone retrains on it.

Each rule the builders share is written once per engine:

- **the GD trainer** — :func:`_gd_train` fits every ``(lr, mask)``
  config in one aggregate per iteration (ml_logreg_gd, ml_lr_sweep,
  ml_learning_curve); :func:`_gd_chain_sql` is its unrolled CTE twin.
  The logit, sigmoid and logloss are :func:`_logit` / :func:`_sigmoid`
  / :func:`_logloss` and their ``_sql`` twins.
- **the pinned scorer** — :func:`_cal_scored` carries the ``CAL_W``
  probability ``s`` beside both labels (``y`` = en, ``y_the`` =
  contains 'the', ``functions.text.the_label``); ``_CAL_SCORE_SQL``
  and ``_SCORED_THE_CTE`` in SQL.
- **the Gini split scan** — :func:`_gini_split_frame` /
  :func:`_gini_split_sql` (ml_decision_stump, ml_histogram_split).
- **the normal-equation solve** — ``events_props._ols4``,
  ``_gram4``, ``_cramer4_solve`` and ``_fit4`` and their ``_sql``
  twins (ml_ridge_regression, ml_cv_ridge_path,
  ev_harmonic_regression).

Oracle determinism follows the repo conventions: integer-derived
features (exact in both engines), pinned hash constants instead of RNG,
and 6-dp quantization of float outputs (exp/ln are correctly rounded to
~1 ulp in both engines; sums over sf0.01-sized groups drift ≤1e-10,
far below the quantum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bsp
from ..functions.text import space_tokens, space_tokens_sql, the_label, the_label_sql
from ..registry import register
from .quantize import ppm_value
from ..sources import load_raw
from .sampling import (
    HASH_MOD,
    HASH_MULT,
    TRAIN_BUCKETS,
    split_hash,
    split_hash_sql,
)

# --------------------------------------------------------------- shared

#: Gradient-descent hyperparameters (pinned; part of the query contract).
GD_ITERS = 3
GD_LR = 1.0

#: Pinned scoring model for the calibration audits (NOT fitted — a
#: calibration report audits a *given* scorer, so the weights are plan
#: constants shared verbatim by both engines).
CAL_W = (-3.0, 4.0, 1.0)  # bias, w·x1, w·x2
CAL_BINS = 10

#: Feature-hashing geometry.
FH_DIM = 8

#: JL projection geometry: 64-d embeddings → 16-d sign projections.
JL_K = 16
JL_PAIR_OFFSET = 250
JL_N_PAIRS = 50


#: Shared feature CTE: label = (lang = 'en'), two integer-derived
#: features scaled into O(1) range. All values are exact in both
#: engines (integer ÷ double-constant is correctly rounded IEEE).
_FEATS_CTE = f"""feats AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         n_chars / 500.0 AS x1,
         len({space_tokens_sql()}) / 50.0 AS x2,
         n_chars / (len({space_tokens_sql()}) * 10.0) AS x3
  FROM documents
)"""


def _doc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: ``doc_id``, ``lang``, the en label ``y``, the
    contains-'the' label ``y_the`` and the features ``x1``..``x3``."""
    docs = load_raw(spark, sf_dir, "documents")
    ntok = F.size(space_tokens(F.col("text")))
    return docs.select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        the_label(F.col("text")).alias("y_the"),
        (F.col("n_chars") / 500.0).alias("x1"),
        (ntok / 50.0).alias("x2"),
        (F.col("n_chars") / (ntok * 10.0)).alias("x3"),
    )


def _feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GD feature table ``(doc_id, y, x1, x2, x3)``."""
    return _doc_feats(spark, sf_dir).select("doc_id", "y", "x1", "x2", "x3")


def _logit(w, xs=("x1", "x2", "x3")) -> Column:
    """w[0] + w[1]·xs[0] + …: each weight a float (a plan literal) or a
    column, each feature a column name."""
    z = F.lit(w[0])
    for wi, x in zip(w[1:], xs):
        z = z + F.lit(wi) * F.col(x)
    return z


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _logloss(p: Column) -> Column:
    """Per-row logloss of the probability ``p`` against ``y``."""
    return -(
        F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
    )


def _hit(p: Column) -> Column:
    """1.0 when ``p`` thresholded at 0.5 predicts ``y``, else 0.0."""
    return F.when((p >= 0.5) == (F.col("y") == 1.0), 1.0).otherwise(0.0)


def _logit_sql(w, xs=("x1", "x2", "x3")) -> str:
    """SQL twin of :func:`_logit` (weights are literals or SQL text)."""
    return " + ".join([f"{w[0]}"] + [f"{wi} * {x}" for wi, x in zip(w[1:], xs)])


def _sigmoid_sql(z: str) -> str:
    return f"1.0 / (1.0 + EXP(-({z})))"


def _logloss_sql(p: str) -> str:
    return f"-(y * LN({p}) + (1.0 - y) * LN(1.0 - ({p})))"


def _hit_sql(p: str) -> str:
    return f"CASE WHEN ({p} >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END"


# ------------------------------------------- logistic regression (GD)


def _gd_train(feats: DataFrame, configs) -> list[list[float]]:
    """Full-batch logistic GD from w = 0 for every ``(lr, mask)``
    config at once: each of the GD_ITERS iterations is ONE aggregate
    over ``feats`` holding every config's 4 gradient averages (a
    ``mask`` column limits its config to the rows where it holds).
    Returns each config's final ``[wb, w1, w2, w3]``. A config whose
    gradient is NULL (no rows) gets NaN weights, as the oracle's NULL
    AVG propagates; the loop stops when every gradient is NULL, so
    empty input leaves w = 0."""
    ws = [[0.0, 0.0, 0.0, 0.0] for _ in configs]
    for _ in range(GD_ITERS):
        aggs = []
        for ci, ((_, mask), w) in enumerate(zip(configs, ws)):
            resid = _sigmoid(_logit(w)) - F.col("y")
            if mask is not None:
                resid = F.when(mask, resid)
            aggs += [
                F.avg(resid).alias(f"gb_{ci}"),
                F.avg(resid * F.col("x1")).alias(f"g1_{ci}"),
                F.avg(resid * F.col("x2")).alias(f"g2_{ci}"),
                F.avg(resid * F.col("x3")).alias(f"g3_{ci}"),
            ]
        g = feats.agg(*aggs).collect()[0]
        if all(g[f"gb_{ci}"] is None for ci in range(len(configs))):
            break
        for ci, (lr, _) in enumerate(configs):
            if g[f"gb_{ci}"] is None:
                ws[ci] = [float("nan")] * 4
                continue
            ws[ci] = [
                wk - lr * g[f"{k}_{ci}"]
                for wk, k in zip(ws[ci], ("gb", "g1", "g2", "g3"))
            ]
    return ws


def _gd_chain_sql(tag: str, lr: float, src: str) -> tuple[list[str], str]:
    """SQL twin of one :func:`_gd_train` config: the unrolled chain of
    gradient CTEs ``g{tag}{it}`` and weight CTEs ``w{tag}{it}`` over
    ``src`` (each gradient CTE is cross-joined with the 1-row previous
    weights). Returns the CTEs and the final weights CTE's name."""
    parts = []
    prev = None
    for it in range(GD_ITERS):
        if prev is None:
            z, gsrc, w = "0.0", src, ("0.0",) * 4
        else:
            w = tuple(f"{prev}.{c}" for c in ("wb", "w1", "w2", "w3"))
            z, gsrc = _logit_sql(w), f"{src}, {prev}"
        r = f"({_sigmoid_sql(z)} - y)"
        parts.append(
            f"""g{tag}{it} AS (
  SELECT AVG{r} AS gb, AVG({r} * x1) AS g1,
         AVG({r} * x2) AS g2, AVG({r} * x3) AS g3
  FROM {gsrc}
)"""
        )
        wsrc = f"g{tag}{it}" if prev is None else f"g{tag}{it}, {prev}"
        parts.append(
            f"""w{tag}{it} AS (
  SELECT {w[0]} - {lr} * gb AS wb, {w[1]} - {lr} * g1 AS w1,
         {w[2]} - {lr} * g2 AS w2, {w[3]} - {lr} * g3 AS w3
  FROM {wsrc}
)"""
        )
        prev = f"w{tag}{it}"
    return parts, prev


def _logreg_oracle() -> str:
    """Unrolled GD (:func:`_gd_chain_sql`): each iteration is one
    aggregate CTE over ``feats`` cross-joined with the 1-row
    previous-weights CTE — exactly the dataflow the Spark side executes
    (scan → 4-double reduce → driver update), spelled as SQL."""
    chain, w = _gd_chain_sql("", GD_LR, "feats")
    p = _sigmoid_sql(_logit_sql([f"{w}.{c}" for c in ("wb", "w1", "w2", "w3")]))
    return (
        "WITH "
        + ",\n".join([_FEATS_CTE, *chain])
        + f"""
SELECT ROUND(ANY_VALUE({w}.wb), 6) AS w_bias,
       ROUND(ANY_VALUE({w}.w1), 6) AS w_x1,
       ROUND(ANY_VALUE({w}.w2), 6) AS w_x2,
       ROUND(ANY_VALUE({w}.w3), 6) AS w_x3,
       ROUND(AVG({_logloss_sql(p)}), 6) AS logloss,
       ROUND(AVG({_hit_sql(p)}), 6) AS accuracy
FROM feats, {w}"""
    )


@register("ml_logreg_gd", _logreg_oracle())
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch logistic regression, {GD_ITERS} GD steps from w = 0.

    The distributed pattern that matters at 100 TB: the gradient of a
    linear model is an average over rows, so each iteration is ONE
    narrow aggregate — partial sums per partition, a (d+1)-double
    reduce to the driver, and the updated weights re-enter the next
    plan as literals. No shuffle of the data, no state larger than the
    model, K sequential passes (cacheable if iterated further). This
    is the same driver-bounded-state contract as sim_kmeans_lloyd."""
    feats = _feats(spark, sf_dir)
    bsp.persist(feats)
    (w,) = _gd_train(feats, [(GD_LR, None)])
    p = _sigmoid(_logit(w))
    # The scope releases feats before the caller collects: the returned
    # plan holds only literal weights, so it recomputes feats in one pass.
    return feats.agg(
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_x1"),
        F.round(F.lit(w[2]), 6).alias("w_x2"),
        F.round(F.lit(w[3]), 6).alias("w_x3"),
        F.round(F.avg(_logloss(p)), 6).alias("logloss"),
        F.round(F.avg(_hit(p)), 6).alias("accuracy"),
    )


# Interpolate the constant so the docstring tracks GD_ITERS (r7 advice:
# inlined values silently desynchronize when the constant changes).
ml_logreg_gd.__doc__ = ml_logreg_gd.__doc__.replace(
    "{GD_ITERS}", str(GD_ITERS)
)


# ------------------------------------------------- multinomial NB


_NB_ORACLE = f"""WITH toks AS (
  SELECT doc_id, lang,
         {split_hash_sql()} % 10 < {TRAIN_BUCKETS} AS is_train,
         t
  FROM documents, UNNEST({space_tokens_sql()}) AS u(t)
),
train_counts AS (
  SELECT lang, t, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM toks WHERE is_train GROUP BY lang, t
),
lang_stats AS (
  SELECT lang, SUM(cnt) AS total FROM train_counts GROUP BY lang
),
vocab AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v FROM toks WHERE is_train),
priors AS (
  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
  FROM toks WHERE is_train GROUP BY lang
),
n_train AS (SELECT SUM(n_docs) AS n FROM priors),
test_tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE NOT is_train GROUP BY doc_id, t
),
scored AS (
  SELECT tt.doc_id, ls.lang,
         SUM(tt.tf * (LN(COALESCE(tc.cnt, 0) + 1.0) - LN(ls.total + vocab.v)))
           AS loglik
  FROM test_tf tt
  CROSS JOIN lang_stats ls
  CROSS JOIN vocab
  LEFT JOIN train_counts tc ON tc.lang = ls.lang AND tc.t = tt.t
  GROUP BY tt.doc_id, ls.lang
),
pred AS (
  SELECT doc_id, lang AS lang_pred
  FROM (
    SELECT s.doc_id, s.lang,
           ROW_NUMBER() OVER (
             PARTITION BY s.doc_id
             ORDER BY ROUND(s.loglik + LN(p.n_docs / n_train.n), 6) DESC,
                      s.lang ASC) AS rn
    FROM scored s JOIN priors p ON s.lang = p.lang CROSS JOIN n_train
  ) WHERE rn = 1
)
SELECT d.lang AS lang_true, pred.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
FROM pred JOIN documents d ON pred.doc_id = d.doc_id
GROUP BY d.lang, pred.lang_pred
ORDER BY lang_true, lang_pred"""


@register("ml_nb_langid", _NB_ORACLE)
def ml_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language ID with Laplace smoothing:
    train on the pinned 80% hash split, score the 20% test docs,
    report the confusion matrix.

    Scale shape: training is a (lang, token) groupBy — map-side
    combinable, vocab-sized output. Scoring joins test term
    frequencies against the model ON THE TOKEN KEY and the 5-row
    lang-stats table is a broadcast; the only large shuffle is the
    (doc, lang) score aggregation, linear in test tokens × |langs|.
    Argmax uses a 6-dp-quantized score (ln drift ≤1 ulp/term) with
    lang ASC as the tie-break, mirrored in the oracle."""
    docs = load_raw(spark, sf_dir, "documents")
    is_train = split_hash("doc_id") % 10 < TRAIN_BUCKETS
    # NOTE (r12): six aggregates consume the token relation, but an
    # in-query persist of the exploded tokens MEASURED ~1.3x slower
    # (cache write > the cheap re-tokenizes) - reverted; the at-scale
    # fix is the materialized token table (s19). OPTIMIZATION_r12.md.
    toks = docs.select(
        "doc_id", "lang", is_train.alias("is_train"),
        F.explode(space_tokens(F.col("text"))).alias("t"),
    )
    train = toks.filter("is_train")
    test = toks.filter(~F.col("is_train"))

    train_counts = train.groupBy("lang", "t").agg(
        F.count("*").cast("double").alias("cnt")
    )
    lang_stats = train_counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    vocab = train.agg(F.countDistinct("t").cast("double").alias("v"))
    priors = train.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    n_train = priors.agg(F.sum("n_docs").alias("n"))
    test_tf = test.groupBy("doc_id", "t").agg(
        F.count("*").cast("double").alias("tf")
    )

    scored = (
        test_tf.crossJoin(F.broadcast(lang_stats))
        .crossJoin(F.broadcast(vocab))
        .join(train_counts, ["lang", "t"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.col("tf")
                * (
                    F.log(F.coalesce(F.col("cnt"), F.lit(0.0)) + 1.0)
                    - F.log(F.col("total") + F.col("v"))
                )
            ).alias("loglik")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("qscore"), F.asc("lang")
    )
    pred = (
        scored.join(F.broadcast(priors), "lang")
        .crossJoin(F.broadcast(n_train))
        .withColumn(
            "qscore",
            F.round(
                F.col("loglik") + F.log(F.col("n_docs") / F.col("n")), 6
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("lang_pred"))
    )
    return (
        pred.join(docs.select("doc_id", F.col("lang").alias("lang_true")), "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_true", "lang_pred")
    )


# ------------------------------------------------ calibration audits

#: The pinned scorer's probability over ``feats`` columns.
_CAL_SCORE_SQL = _sigmoid_sql(_logit_sql(CAL_W, ("x1", "x2")))

#: The pinned scorer against the contains-'the' label: ``lang``, ``y``
#: and the 6dp-quantized ``s``. GROUP BY s is tie-structure-sensitive
#: to the score's last ulp (same convention + rationale as _ROC_ORACLE).
_SCORED_THE_CTE = f"""scored AS (
  SELECT d.lang, {the_label_sql("d.text")} AS y,
         ROUND({_CAL_SCORE_SQL}, 6) AS s
  FROM feats JOIN documents d USING (doc_id)
)"""

_CAL_BINS_ORACLE = f"""WITH {_FEATS_CTE},
scored AS (
  SELECT y, {_CAL_SCORE_SQL} AS s FROM feats
)
SELECT CAST(LEAST(FLOOR(s * {CAL_BINS}), {CAL_BINS - 1}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(s), 6) AS mean_score,
       ROUND(AVG(y), 6) AS frac_positive
FROM scored
GROUP BY 1 ORDER BY 1"""


def _cal_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_doc_feats` plus the pinned scorer's probability ``s``
    (unquantized: the quantized callers round it themselves)."""
    return _doc_feats(spark, sf_dir).withColumn(
        "s", _sigmoid(_logit(CAL_W, ("x1", "x2")))
    )


@register("ml_calibration_bins", _CAL_BINS_ORACLE)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of a pinned scorer: 10 equal-width score
    bins × (count, mean score, empirical positive rate). One scan,
    one 10-group aggregate — the audit every scoring batch should
    emit for free. The scorer is a plan constant (calibration audits
    a GIVEN model; fitting is ml_logreg_gd's job)."""
    scored = _cal_scored(spark, sf_dir)
    bin_c = F.least(
        F.floor(F.col("s") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("long")
    return (
        scored.groupBy(bin_c.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("s"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("frac_positive"),
        )
        .orderBy("bin")
    )


_BRIER_ORACLE = f"""WITH {_FEATS_CTE},
scored AS (
  SELECT y, {_CAL_SCORE_SQL} AS s,
         LEAST(FLOOR(({_CAL_SCORE_SQL}) * {CAL_BINS}), {CAL_BINS - 1}) AS bin
  FROM feats
),
overall AS (SELECT AVG(y) AS ybar, COUNT(*) AS n FROM scored),
bins AS (
  SELECT bin, COUNT(*) AS nb, AVG(s) AS sbar, AVG(y) AS ybar_b
  FROM scored GROUP BY bin
)
SELECT ROUND((SELECT AVG((s - y) * (s - y)) FROM scored), 6) AS brier,
       ROUND(SUM(nb * (sbar - ybar_b) * (sbar - ybar_b)) / ANY_VALUE(overall.n), 6)
         AS reliability,
       ROUND(SUM(nb * (ybar_b - overall.ybar) * (ybar_b - overall.ybar))
               / ANY_VALUE(overall.n), 6) AS resolution,
       ROUND(ANY_VALUE(overall.ybar) * (1.0 - ANY_VALUE(overall.ybar)), 6)
         AS uncertainty
FROM bins, overall"""


@register("ml_brier_decomposition", _BRIER_ORACLE)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability −
    resolution + uncertainty, binned) for the pinned scorer. Two
    aggregates over one scan: a 10-row bin table and a 1-row overall
    table, combined with a broadcast cross — O(bins) state, any SF."""
    scored = _cal_scored(spark, sf_dir).withColumn(
        "bin",
        F.least(F.floor(F.col("s") * CAL_BINS), F.lit(CAL_BINS - 1)),
    )
    overall = scored.agg(
        F.avg("y").alias("ybar"), F.count("*").alias("n_total")
    )
    brier = scored.agg(
        F.avg((F.col("s") - F.col("y")) * (F.col("s") - F.col("y"))).alias(
            "brier_raw"
        )
    )
    bins = scored.groupBy("bin").agg(
        F.count("*").alias("nb"),
        F.avg("s").alias("sbar"),
        F.avg("y").alias("ybar_b"),
    )
    return (
        bins.crossJoin(F.broadcast(overall))
        .crossJoin(F.broadcast(brier))
        .agg(
            F.round(F.first("brier_raw"), 6).alias("brier"),
            F.round(
                F.sum(
                    F.col("nb")
                    * (F.col("sbar") - F.col("ybar_b"))
                    * (F.col("sbar") - F.col("ybar_b"))
                )
                / F.first("n_total"),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    F.col("nb")
                    * (F.col("ybar_b") - F.col("ybar"))
                    * (F.col("ybar_b") - F.col("ybar"))
                )
                / F.first("n_total"),
                6,
            ).alias("resolution"),
            F.round(
                F.first("ybar") * (F.lit(1.0) - F.first("ybar")), 6
            ).alias("uncertainty"),
        )
    )


# ------------------------------------------------- feature hashing


def _fh_slot(col_sql: str, salt: int) -> str:
    """SQL: pinned hash slot for a categorical value — first char,
    last char and length mixed with the Knuth multiplier (portable
    plain-integer arithmetic, no library hash). The mix operand is
    bounded (< ~2^21: codepoints/length), so the raw multiply cannot
    overflow — no split_hash decomposition needed here."""
    mix = (
        f"(ascii(substr({col_sql}, 1, 1)) * 131"
        f" + ascii(substr({col_sql}, length({col_sql}), 1))"
        f" + length({col_sql}) + {salt})"
    )
    return f"(({mix} * {HASH_MULT}) % {HASH_MOD}) % {FH_DIM}"


_FH_ORACLE = f"""SELECT doc_id,
       {', '.join(
           f'''CAST(
             (CASE WHEN {_fh_slot('lang', 1)} = {j} THEN 1 ELSE 0 END)
           + (CASE WHEN {_fh_slot('source', 2)} = {j} THEN 1 ELSE 0 END)
           AS BIGINT) AS f{j}''' for j in range(FH_DIM))}
FROM documents
ORDER BY doc_id"""


@register("ml_feature_hashing", _FH_ORACLE)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features (lang, source) mapped
    into {FH_DIM} fixed columns by a pinned portable hash — no fitted
    dictionary, no vocabulary state, so the encoder is identical on
    every batch/stream/engine and unbounded category growth cannot
    resize the feature space. Pure projection: no shuffle at all."""
    docs = load_raw(spark, sf_dir, "documents")

    def slot(col: str, salt: int) -> Column:
        mix = (
            F.ascii(F.substring(F.col(col), 1, 1)).cast("long") * 131
            + F.ascii(
                F.col(col).substr(F.length(F.col(col)), F.lit(1))
            ).cast("long")
            + F.length(F.col(col)).cast("long")
            + salt
        )
        return (mix * HASH_MULT) % HASH_MOD % FH_DIM

    cols = [
        (
            F.when(slot("lang", 1) == j, 1).otherwise(0)
            + F.when(slot("source", 2) == j, 1).otherwise(0)
        )
        .cast("long")
        .alias(f"f{j}")
        for j in range(FH_DIM)
    ]
    return docs.select("doc_id", *cols).orderBy("doc_id")


# --------------------------------------- JL projection distortion


def _jl_signs() -> list[list[float]]:
    """Pinned ±1 sign matrix [JL_K][EMB_DIM]: a mid bit of the Knuth
    mix of (input dim, output dim) — deterministic, literal-baked."""
    dim = 64
    return [
        [
            1.0
            if ((i * HASH_MULT + j * 40503) % HASH_MOD) >> 16 & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(JL_K)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    proj = ", ".join(
        f"list_dot_product(e, [{', '.join(repr(x) for x in row)}]) AS p{j}"
        for j, row in enumerate(signs)
    )
    d2p = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(JL_K)
    )
    return f"""WITH pv AS (
  SELECT vec_id, e,
         list_dot_product(e, e) AS n2,
         {proj}
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
  WHERE vec_id < {JL_N_PAIRS} OR
        (vec_id >= {JL_PAIR_OFFSET} AND vec_id < {JL_PAIR_OFFSET + JL_N_PAIRS})
)
SELECT a.vec_id AS pair_id,
       ROUND(a.n2 - 2 * list_dot_product(a.e, b.e) + b.n2, 6) AS d2_orig,
       ROUND(({d2p}) / {JL_K}.0, 6) AS d2_proj,
       ROUND((({d2p}) / {JL_K}.0)
             / (a.n2 - 2 * list_dot_product(a.e, b.e) + b.n2), 6) AS ratio
FROM pv a JOIN pv b ON b.vec_id = a.vec_id + {JL_PAIR_OFFSET}
WHERE a.vec_id < {JL_N_PAIRS}
ORDER BY pair_id"""


@register("sim_jl_distortion", _jl_oracle())
def sim_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign projection 64→{JL_K} dims with the
    matrix baked into the plan as literals, plus the distortion report
    over {JL_N_PAIRS} pinned pairs: squared distance before vs after
    (proj scaled by 1/k, unbiased for ±1 entries) and their ratio.

    Scale shape: the projection is a per-row map (k dot products in
    whole-stage codegen — no UDF, no shuffle), so it composes with any
    downstream ANN index at 1/4 the vector width; the report join is
    {JL_N_PAIRS} broadcast rows. Distances use the dot-product identity
    on BOTH engines so the float op sequence matches (then 6-dp)."""
    from .similarity import _as_double, _dot

    signs = _jl_signs()
    emb = load_raw(spark, sf_dir, "embeddings")
    keep = (F.col("vec_id") < JL_N_PAIRS) | (
        (F.col("vec_id") >= JL_PAIR_OFFSET)
        & (F.col("vec_id") < JL_PAIR_OFFSET + JL_N_PAIRS)
    )
    pv = emb.filter(keep).select(
        "vec_id",
        _as_double("embedding").alias("e"),
    )
    pv = pv.select(
        "vec_id",
        "e",
        _dot(F.col("e"), F.col("e")).alias("n2"),
        *[
            _dot(
                F.col("e"),
                F.array(*[F.lit(x) for x in row]),
            ).alias(f"p{j}")
            for j, row in enumerate(_jl_signs())
        ],
    )
    a = pv.alias("a")
    b = pv.alias("b")
    d2p = None
    for j in range(JL_K):
        term = (F.col(f"a.p{j}") - F.col(f"b.p{j}")) * (
            F.col(f"a.p{j}") - F.col(f"b.p{j}")
        )
        d2p = term if d2p is None else d2p + term
    d2o = (
        F.col("a.n2")
        - 2 * _dot(F.col("a.e"), F.col("b.e"))
        + F.col("b.n2")
    )
    return (
        a.join(
            b,
            F.col("b.vec_id") == F.col("a.vec_id") + JL_PAIR_OFFSET,
        )
        .filter(F.col("a.vec_id") < JL_N_PAIRS)
        .select(
            F.col("a.vec_id").alias("pair_id"),
            F.round(d2o, 6).alias("d2_orig"),
            F.round(d2p / float(JL_K), 6).alias("d2_proj"),
            F.round((d2p / float(JL_K)) / d2o, 6).alias("ratio"),
        )
        .orderBy("pair_id")
    )


# ------------------------------------------------ hyperparameter sweep

#: Learning rates trained simultaneously by ml_lr_sweep.
SWEEP_LRS = (0.5, 1.0, 2.0)


def _sweep_oracle() -> str:
    """Per-LR unrolled GD chains (:func:`_gd_chain_sql`) + one shared
    scoring pass: the CTE mirror of training ALL configs in the same
    scans."""
    parts = [_FEATS_CTE]
    finals = []
    for ci, lr in enumerate(SWEEP_LRS):
        chain, w = _gd_chain_sql(f"{ci}_", lr, "feats")
        parts += chain
        finals.append(
            f"SELECT CAST({lr} AS DOUBLE) AS lr, wb, w1, w2, w3 FROM {w}"
        )
    parts.append("sweep AS (" + " UNION ALL ".join(finals) + ")")
    p = _sigmoid_sql(_logit_sql(("wb", "w1", "w2", "w3")))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT lr,
       ROUND(ANY_VALUE(wb), 6) AS w_bias,
       ROUND(ANY_VALUE(w1), 6) AS w_x1,
       ROUND(ANY_VALUE(w2), 6) AS w_x2,
       ROUND(ANY_VALUE(w3), 6) AS w_x3,
       ROUND(AVG({_logloss_sql(p)}), 6) AS logloss,
       ROUND(AVG({_hit_sql(p)}), 6) AS accuracy
FROM feats CROSS JOIN sweep
GROUP BY lr ORDER BY lr"""
    )


@register("ml_lr_sweep", _sweep_oracle())
def ml_lr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter sweep that AMORTIZES the data scans: all
    {len(SWEEP_LRS)} learning rates train in the same passes. Each GD
    iteration is still ONE aggregate — just 4×|configs| gradient
    columns instead of 4 — because the per-config gradients differ
    only in the literal weights, not in the data they read. At 100 TB
    this is the difference between K and K×|configs| full scans; the
    same trick extends to any config axis that doesn't change the
    input (seeds, regularization, feature subsets via masked columns).
    Scoring is one final pass with the 3-row weight table broadcast."""
    feats = _feats(spark, sf_dir)
    bsp.persist(feats)
    ws = _gd_train(feats, [(lr, None) for lr in SWEEP_LRS])
    sweep = spark.createDataFrame(
        [(float(lr), *w) for lr, w in zip(SWEEP_LRS, ws)],
        "lr double, wb double, w1 double, w2 double, w3 double",
    )
    p = _sigmoid(_logit([F.col(c) for c in ("wb", "w1", "w2", "w3")]))
    return (
        feats.crossJoin(F.broadcast(sweep))
        .groupBy("lr")
        .agg(
            F.round(F.first("wb"), 6).alias("w_bias"),
            F.round(F.first("w1"), 6).alias("w_x1"),
            F.round(F.first("w2"), 6).alias("w_x2"),
            F.round(F.first("w3"), 6).alias("w_x3"),
            F.round(F.avg(_logloss(p)), 6).alias("logloss"),
            F.round(F.avg(_hit(p)), 6).alias("accuracy"),
        )
        .orderBy("lr")
    )


# ------------------------------------------- isotonic calibration

#: Output schema of the per-language isotonic fit (pooled blocks).
_ISO_SCHEMA = (
    "lang string, block int, s_lo double, s_hi double, "
    "n long, fitted double"
)


def _pava_blocks(pdf):
    """Pool-adjacent-violators on one group (runs inside the Arrow
    batch): pre-pool ties in s, then merge adjacent blocks while any
    left mean ≥ right mean. Returns the pooled blocks."""
    import pandas as pd

    by_s = (
        pdf.groupby("s", sort=True)["y"]
        .agg(ysum="sum", n="count")
        .reset_index()
    )
    # blocks as [s_lo, s_hi, ysum, n]
    blocks = [
        [r.s, r.s, float(r.ysum), int(r.n)] for r in by_s.itertuples()
    ]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) > 1 and (
            out[-2][2] * out[-1][3] >= out[-1][2] * out[-2][3]
        ):  # mean(left) >= mean(right), in exact cross-multiplied form
            s_lo, _, ys, n = out.pop(-2)
            out[-1] = [s_lo, out[-1][1], out[-1][2] + ys, out[-1][3] + n]
    lang = pdf["lang"].iloc[0]
    return pd.DataFrame(
        {
            "lang": lang,
            "block": range(len(out)),
            "s_lo": [b[0] for b in out],
            "s_hi": [b[1] for b in out],
            "n": [b[3] for b in out],
            "fitted": [b[2] / b[3] for b in out],
        }
    )


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language **isotonic regression (PAVA)** of the label on the
    pinned calibration score — the nonparametric upgrade of
    ml_calibration_bins (monotone fit instead of fixed-width bins).

    UNREGISTERED pytest diagnostic (round 10): the certified form of
    this operator is :func:`ml_isotonic_calibration_hashable` — the
    same unique isotonic fit derived via the O(n²) minimax closed form
    in SQL, fully oracle-backed. This PAVA form is the production-shaped
    Arrow implementation; pytest pins its KKT invariants and its exact
    agreement with the hashable twin, so registering both bought no
    extra verified surface at the price of a rows-only row.

    Not SQL-expressible (adjacent pooling is inherently sequential), so
    this is the repo's canonical Arrow-grouped pattern:
    ``applyInPandas`` per language — each group sorts and pools inside
    ONE pandas batch, the only shuffle is the groupBy key. That bounds
    the algorithm by the largest single group; for a score with
    billions of rows per group the standard scale-out is pre-pooling
    into per-partition equal-s blocks (the same ``by_s`` aggregate,
    distributed) before a driver-side merge — documented here, not
    needed at fixture group sizes. Certified by pytest KKT invariants
    (strictly increasing block means, mass conservation, exact planted
    solution) rather than a DuckDB oracle."""
    # Label varies WITHIN each lang group (unlike lang='en') and is
    # genuinely monotone-ish in the score: longer docs are more likely
    # to contain the common token.
    scored = _cal_scored(spark, sf_dir).select(
        "lang", F.col("y_the").alias("y"), "s"
    )
    return scored.groupBy("lang").applyInPandas(
        lambda pdf: _pava_blocks(pdf), schema=_ISO_SCHEMA
    )


# ------------------------------------------------ ALS half-step (d=2)

#: ALS ridge term and the factor dimensionality of the oracle-backed
#: half-step (d=2 keeps the per-user normal equations Cramer-expressible
#: in SQL; plans/als.py holds the full iterative rows-only variant).
ALS_LAMBDA = 0.1


from ..sources.tables import NEWS_MOD as _NEWS_MOD


def _als_item_factor_sql(col: str, salt: int) -> str:
    """Pinned pseudo-random item factor in [-0.5, 0.5): Knuth-mixed id
    bits, plain BIGINT arithmetic — identical literal algebra on both
    engines (never RNG: resumable, engine-portable)."""
    return (
        f"{split_hash_sql(f'{col} + {salt}')}"
        f" / CAST({HASH_MOD} AS DOUBLE) - 0.5"
    )


def _als_ratings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Click-count ratings ``(user_id, news_id, rating)`` and the pinned
    item factors ``(news_id, f0, f1)`` of every rated item."""
    from ..sources import events_raw

    r = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id", (F.col("event_id") % _NEWS_MOD).alias("news_id"))
        .agg(F.count("*").cast("double").alias("rating"))
    )
    fac0 = r.select("news_id").distinct().select(
        "news_id",
        F.expr(_als_item_factor_sql("news_id", 1)).alias("f0"),
        F.expr(_als_item_factor_sql("news_id", 2)).alias("f1"),
    )
    return r, fac0


#: SQL twin of :func:`_als_ratings`: the ``r`` and ``fac0`` CTEs.
_ALS_RATINGS_SQL = f"""r AS (
  SELECT user_id, event_id % {_NEWS_MOD} AS news_id,
         CAST(COUNT(*) AS DOUBLE) AS rating
  FROM events WHERE event_type = 'click' GROUP BY user_id, event_id % {_NEWS_MOD}
),
fac0 AS (
  SELECT news_id,
         {_als_item_factor_sql('news_id', 1)} AS f0,
         {_als_item_factor_sql('news_id', 2)} AS f1
  FROM (SELECT DISTINCT news_id FROM r)
)"""


def _als_solve(ratings: DataFrame, fac: DataFrame, ent: str, fac_ent: str,
               fa: str, fb: str) -> DataFrame:
    """Every ``ent``'s ridge solve u = (GᵀG + λI)⁻¹Gᵀr against the fixed
    factors ``fac`` (entity col ``fac_ent``, factor cols ``fa``/``fb``):
    the 2×2 normal equations summed in one groupBy, solved by Cramer's
    rule. Columns ``(ent, u0, u1)``."""
    joined = ratings.join(F.broadcast(fac), fac_ent)
    m = joined.groupBy(ent).agg(
        (F.sum(F.col(fa) * F.col(fa)) + ALS_LAMBDA).alias("sm00"),
        F.sum(F.col(fa) * F.col(fb)).alias("sm01"),
        (F.sum(F.col(fb) * F.col(fb)) + ALS_LAMBDA).alias("sm11"),
        F.sum(F.col(fa) * F.col("rating")).alias("sb0"),
        F.sum(F.col(fb) * F.col("rating")).alias("sb1"),
    )
    det = F.col("sm00") * F.col("sm11") - F.col("sm01") * F.col("sm01")
    return m.select(
        ent,
        ((F.col("sb0") * F.col("sm11") - F.col("sb1") * F.col("sm01")) / det).alias("u0"),
        ((F.col("sm00") * F.col("sb1") - F.col("sm01") * F.col("sb0")) / det).alias("u1"),
    )


def _als_solve_sql(ent: str, src_fac: str, fac_ent: str, fa: str, fb: str) -> str:
    """SQL twin of :func:`_als_solve`: a CTE body over the ``r`` CTE and
    the factor CTE ``src_fac``."""
    return f"""(
  SELECT {ent},
         (sb0 * sm11 - sb1 * sm01) / (sm00 * sm11 - sm01 * sm01) AS u0,
         (sm00 * sb1 - sm01 * sb0) / (sm00 * sm11 - sm01 * sm01) AS u1
  FROM (
    SELECT r.{ent},
           SUM(g.{fa} * g.{fa}) + {ALS_LAMBDA} AS sm00,
           SUM(g.{fa} * g.{fb}) AS sm01,
           SUM(g.{fb} * g.{fb}) + {ALS_LAMBDA} AS sm11,
           SUM(g.{fa} * r.rating) AS sb0,
           SUM(g.{fb} * r.rating) AS sb1
    FROM r JOIN {src_fac} g ON r.{fac_ent} = g.{fac_ent}
    GROUP BY r.{ent}
  )
)"""


_ALS_ORACLE = f"""WITH {_ALS_RATINGS_SQL},
u AS {_als_solve_sql("user_id", "fac0", "news_id", "f0", "f1")}
SELECT u.user_id, CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(ANY_VALUE(u.u0), 6) AS u0,
       ROUND(ANY_VALUE(u.u1), 6) AS u1,
       ROUND(SQRT(SUM((r.rating - (u.u0 * f.f0 + u.u1 * f.f1))
                      * (r.rating - (u.u0 * f.f0 + u.u1 * f.f1)))
                  / COUNT(*)), 6) AS rmse
FROM u JOIN r ON u.user_id = r.user_id JOIN fac0 f ON r.news_id = f.news_id
GROUP BY u.user_id"""


@register("ml_als_half_step", _ALS_ORACLE)
def ml_als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact **ALS half-step**: hold the item factors fixed (pinned
    hash-derived d=2 vectors) and solve every user's ridge regression
    u = (FᵀF + λI)⁻¹Fᵀr in closed form — the per-user 2×2 Cramer solve
    is plain column algebra inside ONE groupBy(user) aggregate, so the
    whole half-step is a broadcast join (item factors are |items|×d)
    plus one shuffle on user_id, with no driver-side linear algebra at
    all. This is exactly how production ALS scales each alternation
    (per-entity independent least squares); the full alternating loop
    lives in plans/als.py as the rows-only iterative twin — this entry
    makes one alternation hash-verifiable against DuckDB. Per-user
    training RMSE comes from a second bounded pass with the solved
    factors joined back."""
    r, f = _als_ratings(spark, sf_dir)
    u = _als_solve(r, f, "user_id", "news_id", "f0", "f1")
    pred = F.col("u0") * F.col("f0") + F.col("u1") * F.col("f1")
    return (
        u.join(r.join(F.broadcast(f), "news_id"), "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.first("u0"), 6).alias("u0"),
            F.round(F.first("u1"), 6).alias("u1"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("rating") - pred) * (F.col("rating") - pred)
                    )
                    / F.count("*")
                ),
                6,
            ).alias("rmse"),
        )
    )


# ------------------------------------------- ALS alternations (d=2)


def _als_sweep_oracle() -> str:
    """Three chained half-steps (U|F0 → F1|U1 → U2|F1), each the same
    per-entity 2×2 ridge solve as ml_als_half_step, plus the global
    regularized objective after each — the whole alternating loop as
    one verifiable SQL expression."""
    def obj(ucte: str, fcte: str) -> str:
        return f"""(
  SELECT SUM((r.rating - (u.u0 * f.f0 + u.u1 * f.f1))
             * (r.rating - (u.u0 * f.f0 + u.u1 * f.f1))) AS sse,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM r JOIN {ucte} u ON r.user_id = u.user_id
         JOIN {fcte} f ON r.news_id = f.news_id
)"""

    return f"""WITH {_ALS_RATINGS_SQL},
u1 AS {_als_solve_sql("user_id", "fac0", "news_id", "f0", "f1")},
fac1raw AS {_als_solve_sql("news_id", "u1", "user_id", "u0", "u1")},
fac1 AS (SELECT news_id, u0 AS f0, u1 AS f1 FROM fac1raw),
u2 AS {_als_solve_sql("user_id", "fac1", "news_id", "f0", "f1")},
nu1 AS (SELECT SUM(u0 * u0 + u1 * u1) AS nrm FROM u1),
nu2 AS (SELECT SUM(u0 * u0 + u1 * u1) AS nrm FROM u2),
nf0 AS (SELECT SUM(f0 * f0 + f1 * f1) AS nrm FROM fac0),
nf1 AS (SELECT SUM(f0 * f0 + f1 * f1) AS nrm FROM fac1),
o1 AS {obj("u1", "fac0")},
o2 AS {obj("u1", "fac1")},
o3 AS {obj("u2", "fac1")}
SELECT 1 AS step, ROUND(SQRT(o1.sse / o1.n), 6) AS rmse,
       ROUND(o1.sse + {ALS_LAMBDA} * (nu1.nrm + nf0.nrm), 6) AS objective
FROM o1, nu1, nf0
UNION ALL
SELECT 2, ROUND(SQRT(o2.sse / o2.n), 6),
       ROUND(o2.sse + {ALS_LAMBDA} * (nu1.nrm + nf1.nrm), 6)
FROM o2, nu1, nf1
UNION ALL
SELECT 3, ROUND(SQRT(o3.sse / o3.n), 6),
       ROUND(o3.sse + {ALS_LAMBDA} * (nu2.nrm + nf1.nrm), 6)
FROM o3, nu2, nf1
ORDER BY step"""


@register("ml_als_two_sweeps", _als_sweep_oracle())
def ml_als_two_sweeps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three ALS half-steps end-to-end (solve U, then items, then U
    again), reporting RMSE and the regularized objective after each —
    the **monotone-descent certificate** for the alternating loop:
    each half-step exactly minimizes the global objective in its own
    block with the other fixed, so the objective column must be
    non-increasing (pinned in pytest; RMSE alone need not be monotone
    under ridge). Every half-step is the ml_als_half_step dataflow —
    a broadcast of the smaller factor side into one groupBy on the
    solved entity — so K alternations cost K shuffles of the ratings,
    no driver linear algebra, no state beyond the factor tables."""
    r, fac0 = _als_ratings(spark, sf_dir)
    # Each factor table feeds 2-3 downstream legs (the next solve and
    # the objective rows); persist them so the executed job reuses one
    # materialization instead of re-deriving the whole chain per leg
    # (Catalyst has no cross-subtree CSE — see scripts/audit_plans.py).
    bsp.persist(r)
    u1 = bsp.persist(_als_solve(r, fac0, "user_id", "news_id", "f0", "f1"))
    fac1 = bsp.persist(
        _als_solve(r, u1, "news_id", "user_id", "u0", "u1").select(
            "news_id", F.col("u0").alias("f0"), F.col("u1").alias("f1")
        )
    )
    u2 = bsp.persist(_als_solve(r, fac1, "user_id", "news_id", "f0", "f1"))

    def norm(df: DataFrame, a: str, b: str) -> DataFrame:
        return df.agg(F.sum(F.col(a) * F.col(a) + F.col(b) * F.col(b)).alias("nrm"))

    def obj(step: int, u: DataFrame, fac: DataFrame, un: DataFrame,
            fn: DataFrame) -> DataFrame:
        pred = F.col("u0") * F.col("f0") + F.col("u1") * F.col("f1")
        sse = (
            r.join(u, "user_id")
            .join(F.broadcast(fac), "news_id")
            .agg(
                F.sum((F.col("rating") - pred) * (F.col("rating") - pred)).alias("sse"),
                F.count("*").alias("n"),
            )
        )
        return (
            sse.crossJoin(F.broadcast(un.select(F.col("nrm").alias("unrm"))))
            .crossJoin(F.broadcast(fn.select(F.col("nrm").alias("fnrm"))))
            .select(
                F.lit(step).alias("step"),
                F.round(F.sqrt(F.col("sse") / F.col("n")), 6).alias("rmse"),
                F.round(
                    F.col("sse") + ALS_LAMBDA * (F.col("unrm") + F.col("fnrm")), 6
                ).alias("objective"),
            )
        )

    out = (
        obj(1, u1, fac0, norm(u1, "u0", "u1"), norm(fac0, "f0", "f1"))
        .unionByName(obj(2, u1, fac1, norm(u1, "u0", "u1"), norm(fac1, "f0", "f1")))
        .unionByName(obj(3, u2, fac1, norm(u2, "u0", "u1"), norm(fac1, "f0", "f1")))
        .orderBy("step")
    )
    # Truncate the 2-sweep lineage before the scope releases the
    # persisted factor tables (same lifecycle as
    # keywords.vote_fixed_rounds) instead of a driver-side collect —
    # keeps the returned plan a distributed scan the plan audit can see.
    return bsp.checkpoint_result(out)


# ----------------------------------------- WOE / information value

#: Laplace-style smoothing added to each bin's positive/negative
#: counts before the WOE log (keeps empty cells finite, standard
#: practice in credit-scoring implementations).
WOE_SMOOTH = 0.5

_WOE_ORACLE = f"""WITH {_FEATS_CTE},
{_SCORED_THE_CTE},
binned AS (
  SELECT LEAST(FLOOR(s * {CAL_BINS}), {CAL_BINS - 1}) AS bin, y FROM scored
),
tot AS (
  SELECT SUM(y) + {CAL_BINS} * {WOE_SMOOTH} AS tp,
         SUM(1.0 - y) + {CAL_BINS} * {WOE_SMOOTH} AS tn
  FROM binned
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((SUM(y) + {WOE_SMOOTH}) / ANY_VALUE(tp), 6) AS pct_pos,
       ROUND((SUM(1.0 - y) + {WOE_SMOOTH}) / ANY_VALUE(tn), 6) AS pct_neg,
       ROUND(LN(((SUM(y) + {WOE_SMOOTH}) / ANY_VALUE(tp))
                / ((SUM(1.0 - y) + {WOE_SMOOTH}) / ANY_VALUE(tn))), 6) AS woe,
       ROUND(((SUM(y) + {WOE_SMOOTH}) / ANY_VALUE(tp)
              - (SUM(1.0 - y) + {WOE_SMOOTH}) / ANY_VALUE(tn))
             * LN(((SUM(y) + {WOE_SMOOTH}) / ANY_VALUE(tp))
                  / ((SUM(1.0 - y) + {WOE_SMOOTH}) / ANY_VALUE(tn))), 6)
         AS iv_contrib
FROM binned CROSS JOIN tot
GROUP BY bin ORDER BY bin"""


@register("ml_woe_iv", _WOE_ORACLE)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Weight-of-evidence / information-value** report of the pinned
    scorer against the contains-'the' label: per score bin, the
    smoothed positive/negative shares, WOE = ln(%pos/%neg), and the IV
    contribution (%pos − %neg)·WOE — the credit-scoring-style
    predictive-power audit (IV > 0.3 ⇒ strong feature). Every IV
    contribution is ≥ 0 by construction, so the audit is also a
    per-bin sanity check. One scan, one 10-group aggregate, a 1-row
    totals broadcast."""
    scored = _cal_scored(spark, sf_dir).select(
        F.col("y_the").alias("y"),
        # 6dp-quantized BEFORE binning, matching the oracle: the FLOOR
        # bin edge is last-ulp sensitive exactly like a rank tie (see
        # ml_roc_auc's rationale)
        F.round("s", 6).alias("s"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("s") * CAL_BINS), F.lit(CAL_BINS - 1)).alias("bin"),
        "y",
    )
    tot = binned.agg(
        (F.sum("y") + CAL_BINS * WOE_SMOOTH).alias("tp"),
        (F.sum(F.lit(1.0) - F.col("y")) + CAL_BINS * WOE_SMOOTH).alias("tn"),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        (F.sum("y") + WOE_SMOOTH).alias("pos"),
        (F.sum(F.lit(1.0) - F.col("y")) + WOE_SMOOTH).alias("neg"),
    )
    pp = F.col("pos") / F.col("tp")
    pn = F.col("neg") / F.col("tn")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            F.round(pp, 6).alias("pct_pos"),
            F.round(pn, 6).alias("pct_neg"),
            F.round(F.log(pp / pn), 6).alias("woe"),
            F.round((pp - pn) * F.log(pp / pn), 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


# ------------------------------------------- LOO target encoding

#: Smoothing pseudo-count toward the global prior.
TE_SMOOTH = 10.0

_TE_ORACLE = f"""WITH lab AS (
  SELECT doc_id, source, {the_label_sql()} AS y
  FROM documents
),
prior AS (SELECT AVG(y) AS mu FROM lab),
grp AS (
  SELECT source, SUM(y) AS ysum, CAST(COUNT(*) AS BIGINT) AS n
  FROM lab GROUP BY source
)
SELECT l.doc_id, l.source,
       ROUND((g.ysum - l.y + {TE_SMOOTH} * prior.mu)
             / (g.n - 1 + {TE_SMOOTH}), 6) AS enc
FROM lab l JOIN grp g ON l.source = g.source CROSS JOIN prior
ORDER BY l.doc_id"""


@register("ml_target_encoding", _TE_ORACLE)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Leave-one-out target encoding** of the high-cardinality
    categorical (source): each row's encoding is the smoothed target
    mean of its OWN group with the row itself excluded —
    (Σy − yᵢ + m·prior) / (n − 1 + m) — the construction that gives
    the model P(y|category) without the self-leakage a plain group
    mean injects. One groupBy on the category plus a broadcast join
    back to rows; the 1-row prior broadcasts. At 100 TB the group
    table is |categories|-sized — the encoder ships as a tiny side
    table, but the LOO correction stays per-row by construction."""
    docs = load_raw(spark, sf_dir, "documents")
    lab = docs.select("doc_id", "source", the_label(F.col("text")).alias("y"))
    prior = lab.agg(F.avg("y").alias("mu"))
    grp = lab.groupBy("source").agg(
        F.sum("y").alias("ysum"), F.count("*").alias("n")
    )
    return (
        lab.join(F.broadcast(grp), "source")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "source",
            F.round(
                (F.col("ysum") - F.col("y") + TE_SMOOTH * F.col("mu"))
                / (F.col("n") - 1 + TE_SMOOTH),
                6,
            ).alias("enc"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ k-fold evaluation

from .sampling import KFOLD_K as _KFOLD_K  # same folds as samp_kfold_assign


def _cv_oracle() -> str:
    p = _CAL_SCORE_SQL
    return f"""WITH {_FEATS_CTE},
scored AS (
  SELECT CAST({split_hash_sql()} % {_KFOLD_K} AS INTEGER)
           AS fold,
         y, {p} AS s
  FROM feats
),
per_fold AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
         AVG({_logloss_sql("s")}) AS logloss,
         AVG({_hit_sql("s")}) AS acc
  FROM scored GROUP BY fold
)
SELECT fold, n, ROUND(logloss, 6) AS logloss, ROUND(acc, 6) AS accuracy,
       ROUND(AVG(logloss) OVER (), 6) AS mean_logloss,
       ROUND(STDDEV_SAMP(logloss) OVER (), 6) AS sd_logloss
FROM per_fold ORDER BY fold"""


@register("ml_kfold_eval", _cv_oracle())
def ml_kfold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**k-fold evaluation** of the pinned scorer: per held-out fold
    (the same pinned Knuth-hash folds as samp_kfold_assign) logloss and
    accuracy, plus the cross-fold mean and sample SD — the
    fold-stability report that tells you whether a metric difference
    is signal or split noise. One scan, one {_KFOLD_K}-group aggregate,
    one {_KFOLD_K}-row window; the scorer is a plan constant, so this
    composes behind any model table at any scale."""
    scored = _cal_scored(spark, sf_dir).select(
        (split_hash("doc_id") % _KFOLD_K).cast("int").alias("fold"), "y", "s"
    )
    per_fold = scored.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.avg(_logloss(F.col("s"))).alias("logloss_raw"),
        F.avg(_hit(F.col("s"))).alias("acc_raw"),
    )
    w = Window.partitionBy()
    return per_fold.select(
        "fold",
        "n",
        F.round("logloss_raw", 6).alias("logloss"),
        F.round("acc_raw", 6).alias("accuracy"),
        F.round(F.avg("logloss_raw").over(w), 6).alias("mean_logloss"),
        F.round(F.stddev_samp("logloss_raw").over(w), 6).alias("sd_logloss"),
    ).orderBy("fold")


# ------------------------------------------------ decision stump

def _gini_split_sql(src: str, key: str) -> str:
    """CTE body: every candidate split AFTER a distinct ``key`` value of
    CTE ``src`` (columns ``key``, ``y``) — the cumulative left-side
    (n, positives) and the totals ``(n, tp)`` from ONE ordered window
    scan of the per-key counts — with its weighted Gini impurity
    ``gini`` (lower = better) and ``gini_parent``. Shared by
    ml_decision_stump and ml_histogram_split."""
    return f"""(
  SELECT {key}, nl, n - nl AS nr, pl, tp - pl AS pr,
         (nl * (2.0 * (pl / nl) * (1.0 - pl / nl))
          + (n - nl) * (2.0 * ((tp - pl) / (n - nl))
                        * (1.0 - (tp - pl) / (n - nl)))) / n
           AS gini,
         2.0 * (tp / n) * (1.0 - tp / n) AS gini_parent
  FROM (
    SELECT {key}, SUM(cnt) OVER w AS nl, SUM(pos) OVER w AS pl,
           SUM(cnt) OVER wall AS n, SUM(pos) OVER wall AS tp
    FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS cnt, SUM(y) AS pos
          FROM {src} GROUP BY {key})
    WINDOW w AS (ORDER BY {key} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wall AS (ORDER BY {key} ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
  ) cand
  WHERE nl < n  -- a split must leave something on the right
)"""


def _gini_split_frame(pts: DataFrame, key: str) -> DataFrame:
    """Spark twin of :func:`_gini_split_sql`: per candidate split
    ``key``, ``nl``/``nr``, ``pl``/``pr``, the weighted Gini ``gini``
    and ``gain`` = parent Gini − ``gini``. One groupBy on the key and
    one window over its distinct values, which gives both the cumulative
    left side and the whole-frame totals ``(tp, n)``, so the input is
    read once."""
    by_key = pts.groupBy(key).agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = by_key.select(
        key,
        F.sum("cnt").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("cnt").over(wall).alias("n"),
        F.sum("pos").over(wall).alias("tp"),
    ).filter(F.col("nl") < F.col("n"))
    pl, nl = F.col("pl"), F.col("nl")
    pr = F.col("tp") - pl
    nr = F.col("n") - nl
    gini = (
        nl * (2.0 * (pl / nl) * (1.0 - pl / nl))
        + nr * (2.0 * (pr / nr) * (1.0 - pr / nr))
    ) / F.col("n")
    gini_parent = (
        2.0 * (F.col("tp") / F.col("n")) * (1.0 - F.col("tp") / F.col("n"))
    )
    return j.select(
        key,
        "nl",
        nr.alias("nr"),
        "pl",
        pr.alias("pr"),
        gini.alias("gini"),
        (gini_parent - gini).alias("gain"),
    )


_STUMP_ORACLE = f"""WITH {_FEATS_CTE},
pts AS (SELECT x1 AS x, y FROM feats),
scored AS {_gini_split_sql("pts", "x")}
SELECT ROUND(x, 6) AS threshold,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       ROUND(pl / nl, 6) AS rate_left,
       ROUND(pr / nr, 6) AS rate_right,
       ROUND(gini, 6) AS gini_split,
       ROUND(gini_parent - gini, 6) AS gain
FROM scored
ORDER BY ROUND(gini_parent - gini, 6) DESC, threshold ASC
LIMIT 1"""


@register("ml_decision_stump", _STUMP_ORACLE)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Exact greedy split finding** — the inner loop of every
    tree/GBDT trainer — as a window query: aggregate per distinct
    feature value, ONE ordered cumulative scan gives the left-side
    (count, positives) at every candidate threshold simultaneously,
    and the best split is an argmin over the Gini of the induced
    partition (:func:`_gini_split_frame`). No per-threshold passes:
    |thresholds| candidates cost one sort. At 100 TB the standard
    scale move is identical shape on quantized bins (the histogram
    trick — XGBoost/LightGBM's 'approx', ml_histogram_split): replace
    the distinct-value grouping with a fixed-bin grouping and the scan
    shrinks to 256 rows per feature."""
    pts = _feats(spark, sf_dir).select(F.col("x1").alias("x"), "y")
    nl, nr = F.col("nl"), F.col("nr")
    scored = _gini_split_frame(pts, "x").select(
        F.round(F.col("x"), 6).alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        F.round(F.col("pl") / nl, 6).alias("rate_left"),
        F.round(F.col("pr") / nr, 6).alias("rate_right"),
        F.round("gini", 6).alias("gini_split"),
        F.round("gain", 6).alias("gain"),
    )
    return scored.orderBy(F.desc("gain"), F.asc("threshold")).limit(1)


# ------------------------------------------------ ROC / exact AUC


def _threshold_spine(spark: SparkSession) -> DataFrame:
    """The 11 score thresholds ``thr`` = 0.0, 0.1, …, 1.0 shared by the
    ROC curve and the confusion sweep."""
    return spark.range(0, 11).select(
        (F.col("id").cast("double") / 10).alias("thr")
    )


_ROC_ORACLE = f"""WITH {_FEATS_CTE},
-- s quantized to 6dp BEFORE ranking: the midrank AUC's tie structure
-- is infinitely sensitive to the score's last ulp (JVM vs DuckDB EXP
-- differ by 1 ulp on some inputs — at sf0.1 that split 2 tie groups
-- and moved the AUC by 4e-7, round-7 pre-flight), so cross-engine
-- determinism requires grouping on a quantized key
scored AS (SELECT y, ROUND({_CAL_SCORE_SQL}, 6) AS s FROM feats),
tot AS (SELECT SUM(y) AS np, SUM(1.0 - y) AS nn FROM scored),
auc AS (
  -- rank-sum (Mann-Whitney) exact AUC with the midrank tie correction
  SELECT (SUM(CASE WHEN y = 1.0 THEN r END) - np * (np + 1) / 2.0)
           / (np * nn) AS auc
  FROM (SELECT y, RANK() OVER (ORDER BY s)
                  + (COUNT(*) OVER (PARTITION BY s) - 1) / 2.0 AS r
        FROM scored) CROSS JOIN tot
  GROUP BY np, nn
),
pts AS (
  SELECT CAST(t AS DOUBLE) / 10 AS thr,
         SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1.0 ELSE 0.0 END)
           / ANY_VALUE(np) AS tpr,
         SUM(CASE WHEN y = 0.0 AND s >= t / 10.0 THEN 1.0 ELSE 0.0 END)
           / ANY_VALUE(nn) AS fpr
  FROM scored CROSS JOIN tot CROSS JOIN generate_series(0, 10) AS g(t)
  GROUP BY t
)
SELECT ROUND(thr, 6) AS threshold, ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr,
       ROUND((SELECT auc FROM auc), 6) AS auc
FROM pts ORDER BY threshold"""


@register("ml_roc_auc", _ROC_ORACLE)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**ROC curve + exact AUC** of the pinned scorer: TPR/FPR at 11
    fixed thresholds (one conditional aggregate per point, all in one
    pass over a broadcast threshold spine) and the exact
    rank-sum/Mann-Whitney AUC with midrank tie correction — AUC
    computed by ONE global sort instead of per-threshold sweeps, the
    trick that makes exact AUC feasible on 10¹¹ scored rows. The
    curve and the scalar ship in the same result so a calibration
    regression can't desynchronize them.

    The score is quantized to 6dp before ranking: the midrank tie
    structure (and hence the exact AUC) flips on the score's last ulp,
    and JVM vs DuckDB ``exp`` differ by 1 ulp on some inputs — the
    round-7 sf0.1 pre-flight caught 2 tie groups splitting and the AUC
    moving 4e-7 across engines. Grouping on the quantized key is the
    repo's standard cross-engine determinism convention."""
    # NOTE (r12): three consumers re-derive the scored relation, but
    # persist+checkpoint MEASURED ~1.4x slower on this sub-second query
    # (fixed overhead > three cheap scoring scans) - reverted.
    scored = _cal_scored(spark, sf_dir).select(
        "y", F.round("s", 6).alias("s")
    )
    tot = scored.agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1.0) - F.col("y")).alias("nn"),
    )
    # Aggregate to distinct scores FIRST: the rank window then runs over
    # |distinct s| pre-aggregated rows, not |rows| (the global-sort form
    # is a single-partition window over the full table — the one plan
    # shape this repo bans). AUC = Σ_s pos_s·(neg_below + neg_s/2)/(np·nn),
    # algebraically the midrank rank-sum.
    by_s = scored.groupBy("s").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1.0) - F.col("y")).alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_s.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0.0)).alias("neg_below"),
    )
    auc = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.col("pos")
                    * (F.col("neg_below") + F.col("neg") / 2.0)
                )
                / (F.first("np") * F.first("nn"))
            ).alias("auc")
        )
    )
    spine = _threshold_spine(spark)
    pts = (
        scored.crossJoin(F.broadcast(spine))
        .crossJoin(F.broadcast(tot))
        .groupBy("thr")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("y") == 1.0) & (F.col("s") >= F.col("thr")), 1.0
                    ).otherwise(0.0)
                )
                / F.first("np")
            ).alias("tpr"),
            (
                F.sum(
                    F.when(
                        (F.col("y") == 0.0) & (F.col("s") >= F.col("thr")), 1.0
                    ).otherwise(0.0)
                )
                / F.first("nn")
            ).alias("fpr"),
        )
    )
    return (
        pts.crossJoin(F.broadcast(auc))
        .select(
            F.round("thr", 6).alias("threshold"),
            F.round("tpr", 6).alias("tpr"),
            F.round("fpr", 6).alias("fpr"),
            F.round("auc", 6).alias("auc"),
        )
        .orderBy("threshold")
    )


# ------------------------------------------ histogram split (binned)

#: Bin count for the histogram split — the XGBoost/LightGBM 'approx'
#: greedy: candidate thresholds are bin edges, not distinct values.
HIST_BINS = 64


def _hist_stump_oracle() -> str:
    return f"""WITH {_FEATS_CTE},
pts AS (
  -- x1 = n_chars/500 lands in [0, ~1.2]; clamp into {HIST_BINS} fixed bins
  SELECT LEAST(FLOOR(x1 / 2.0 * {HIST_BINS}), {HIST_BINS - 1}) AS bin, y
  FROM feats
),
scored AS {_gini_split_sql("pts", "bin")}
SELECT CAST(bin AS BIGINT) AS split_bin,
       ROUND((bin + 1) * 2.0 / {HIST_BINS}, 6) AS threshold,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       ROUND(gini_parent - gini, 6) AS gain
FROM scored
ORDER BY ROUND(gini_parent - gini, 6) DESC, bin ASC
LIMIT 1"""


@register("ml_histogram_split", _hist_stump_oracle())
def ml_histogram_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The **histogram-approx split** — ml_decision_stump's documented
    100 TB form (XGBoost 'approx' / LightGBM): features quantize into
    {HIST_BINS} fixed bins, so the cumulative candidate scan runs over
    ≤{HIST_BINS} rows regardless of data size and the heavy work is
    one map-side-combinable (bin → count, positives) aggregate. The
    exact/approx pair on the same data lets pytest bound the gain the
    quantization gives up."""
    pts = _feats(spark, sf_dir).select(
        F.least(
            F.floor(F.col("x1") / 2.0 * HIST_BINS), F.lit(HIST_BINS - 1)
        ).alias("bin"),
        "y",
    )
    return (
        _gini_split_frame(pts, "bin")
        .select(
            F.col("bin").cast("long").alias("split_bin"),
            F.round((F.col("bin") + 1) * 2.0 / HIST_BINS, 6).alias("threshold"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.round("gain", 6).alias("gain"),
        )
        .orderBy(F.desc("gain"), F.asc("split_bin"))
        .limit(1)
    )


# ------------------------------------------------ boosted stumps

#: Boosting shrinkage (learning rate) for ml_boosted_stumps.
BOOST_NU = 0.5


def _sse_split_sql(src: str, xcol: str, ycol: str) -> str:
    """1-row CTE body: the SSE-optimal split of ``ycol`` on ``xcol``
    over CTE ``src`` — cumulative (n, Σy, Σy²) per distinct value, SSE
    via Σy² − (Σy)²/n on each side, argmin with a pinned tie-break.
    Shared shape with ml_decision_stump (Gini ⇄ SSE swap)."""
    return f"""(
  SELECT threshold, vl, vr FROM (
    SELECT x AS threshold, sl / nl AS vl, (st - sl) / (nt - nl) AS vr,
           (s2l - sl * sl / nl)
             + ((s2t - s2l) - (st - sl) * (st - sl) / (nt - nl)) AS sse
    FROM (
      SELECT x,
             SUM(cnt) OVER w AS nl, SUM(sy) OVER w AS sl,
             SUM(sy2) OVER w AS s2l
      FROM (SELECT {xcol} AS x, CAST(COUNT(*) AS DOUBLE) AS cnt,
                   SUM({ycol}) AS sy, SUM({ycol} * {ycol}) AS sy2
            FROM {src} GROUP BY {xcol})
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS nt, SUM({ycol}) AS st,
                       SUM({ycol} * {ycol}) AS s2t FROM {src})
    WHERE nl < nt
    ORDER BY ROUND(sse, 9) ASC, x ASC LIMIT 1
  )
)"""


def _sse_split_frame(df: DataFrame, xcol: str, ycol: str) -> DataFrame:
    """Spark twin of :func:`_sse_split_sql`: the 1-row SSE-optimal
    stump (threshold, vl, vr) of ``ycol`` on ``xcol``. One groupBy on
    the feature's distinct values, one cumulative window over them
    (candidate-split cardinality, NOT row cardinality — the window
    input is tiny even at 100 TB), a broadcast 1-row total, argmin with
    the same ROUND(sse, 9)/threshold tie-break as the oracle. Shared by
    ml_boosted_stumps and ml_gbdt_k_rounds."""
    by_x = df.groupBy(F.col(xcol).alias("x")).agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum(ycol).alias("sy"),
        F.sum(F.col(ycol) * F.col(ycol)).alias("sy2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_x.select(
        "x",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("sy").over(w).alias("sl"),
        F.sum("sy2").over(w).alias("s2l"),
    )
    tot = df.agg(
        F.count("*").cast("double").alias("nt"),
        F.sum(ycol).alias("st"),
        F.sum(F.col(ycol) * F.col(ycol)).alias("s2t"),
    )
    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("nt"))
    sse = (
        F.col("s2l") - F.col("sl") * F.col("sl") / F.col("nl")
    ) + (
        (F.col("s2t") - F.col("s2l"))
        - (F.col("st") - F.col("sl"))
        * (F.col("st") - F.col("sl"))
        / (F.col("nt") - F.col("nl"))
    )
    return (
        j.select(
            F.col("x").alias("threshold"),
            (F.col("sl") / F.col("nl")).alias("vl"),
            ((F.col("st") - F.col("sl")) / (F.col("nt") - F.col("nl"))).alias("vr"),
            F.round(sse, 9).alias("sse_q"),
        )
        .orderBy(F.asc("sse_q"), F.asc("threshold"))
        .limit(1)
        .drop("sse_q")
    )


def _boost_oracle() -> str:
    return f"""WITH {_FEATS_CTE},
pts AS (SELECT x1, x2, y FROM feats),
s1 AS {_sse_split_sql("pts", "x1", "y")},
r1 AS (
  SELECT pts.*, y - {BOOST_NU} * (CASE WHEN x1 <= s1.threshold
                                       THEN s1.vl ELSE s1.vr END) AS res
  FROM pts CROSS JOIN s1
),
s2 AS {_sse_split_sql("r1", "x2", "res")},
r2 AS (
  SELECT r1.res - {BOOST_NU} * (CASE WHEN x2 <= s2.threshold
                                     THEN s2.vl ELSE s2.vr END) AS res2,
         r1.res
  FROM r1 CROSS JOIN s2
)
SELECT 1 AS stage, 'x1' AS feature,
       ROUND(s1.threshold, 6) AS threshold,
       ROUND({BOOST_NU} * s1.vl, 6) AS left_step,
       ROUND({BOOST_NU} * s1.vr, 6) AS right_step,
       ROUND((SELECT AVG(res * res) FROM r1), 6) AS train_mse
FROM s1
UNION ALL
SELECT 2, 'x2', ROUND(s2.threshold, 6),
       ROUND({BOOST_NU} * s2.vl, 6), ROUND({BOOST_NU} * s2.vr, 6),
       ROUND((SELECT AVG(res2 * res2) FROM r2), 6)
FROM s2
ORDER BY stage"""


@register("ml_boosted_stumps", _boost_oracle())
def ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two rounds of gradient boosting** with stump base learners
    (L2 loss, shrinkage ν={BOOST_NU}): stage 1 fits the SSE-optimal
    stump on x1, residuals feed stage 2's stump on x2 — the exact
    GBDT outer loop, distributively: each round is one cumulative
    window scan for the split (the ml_decision_stump machinery with
    SSE in place of Gini) plus one map-wide residual update with the
    1-row fitted stump broadcast. K rounds = K scans; the residual
    column replaces any driver-held state. Train MSE after each stage
    must fall (pinned in pytest — shrinkage < 1 guarantees strict
    improvement whenever the split has positive gain)."""
    feats = _feats(spark, sf_dir).select("x1", "x2", "y")
    bsp.persist(feats)
    s1 = _sse_split_frame(feats, "x1", "y")
    r1 = feats.crossJoin(F.broadcast(s1)).select(
        "x1",
        "x2",
        (
            F.col("y")
            - BOOST_NU
            * F.when(F.col("x1") <= F.col("threshold"), F.col("vl"))
            .otherwise(F.col("vr"))
        ).alias("res"),
    )
    bsp.persist(r1)
    s2 = _sse_split_frame(r1, "x2", "res")
    r2 = r1.crossJoin(F.broadcast(s2)).select(
        (
            F.col("res")
            - BOOST_NU
            * F.when(F.col("x2") <= F.col("threshold"), F.col("vl"))
            .otherwise(F.col("vr"))
        ).alias("res2")
    )
    row1 = s1.crossJoin(
        F.broadcast(r1.agg(F.avg(F.col("res") * F.col("res")).alias("mse")))
    ).select(
        F.lit(1).alias("stage"),
        F.lit("x1").alias("feature"),
        F.round("threshold", 6).alias("threshold"),
        F.round(F.col("vl") * BOOST_NU, 6).alias("left_step"),
        F.round(F.col("vr") * BOOST_NU, 6).alias("right_step"),
        F.round("mse", 6).alias("train_mse"),
    )
    row2 = s2.crossJoin(
        F.broadcast(r2.agg(F.avg(F.col("res2") * F.col("res2")).alias("mse")))
    ).select(
        F.lit(2).alias("stage"),
        F.lit("x2").alias("feature"),
        F.round("threshold", 6).alias("threshold"),
        F.round(F.col("vl") * BOOST_NU, 6).alias("left_step"),
        F.round(F.col("vr") * BOOST_NU, 6).alias("right_step"),
        F.round("mse", 6).alias("train_mse"),
    )
    return bsp.checkpoint_result(row1.unionByName(row2).orderBy("stage"))


# Docstring tracks the shrinkage constant (r7 advice).
ml_boosted_stumps.__doc__ = ml_boosted_stumps.__doc__.replace(
    "{BOOST_NU}", str(BOOST_NU)
)


# ------------------------------------------- K-round gradient boosting

#: Boosting rounds for ml_gbdt_k_rounds; round k splits on
#: GBDT_FEATURES[(k-1) % len] — the pinned alternating schedule keeps
#: the per-round feature choice off the float-comparison path (a
#: best-of-two argmin over float SSEs is exactly the 1-ulp
#: tie-structure hazard the r7 sf0.1 pre-flight caught in ml_roc_auc).
GBDT_ROUNDS = 4
GBDT_FEATURES = ("x1", "x2")


def _gbdt_oracle() -> str:
    """Unrolled-CTE twin of the K-round loop: r0 = labels, then per
    round k an ``sK`` split CTE + an ``rK`` residual CTE, reusing the
    exact :func:`_sse_split_sql` body ml_boosted_stumps certifies."""
    ctes = [f"r0 AS (SELECT x1, x2, y AS res FROM feats)"]
    selects = []
    for k in range(1, GBDT_ROUNDS + 1):
        xcol = GBDT_FEATURES[(k - 1) % len(GBDT_FEATURES)]
        ctes.append(f"s{k} AS {_sse_split_sql(f'r{k - 1}', xcol, 'res')}")
        ctes.append(
            f"""r{k} AS (
  SELECT x1, x2,
         res - {BOOST_NU} * (CASE WHEN {xcol} <= s{k}.threshold
                                  THEN s{k}.vl ELSE s{k}.vr END) AS res
  FROM r{k - 1} CROSS JOIN s{k}
)"""
        )
        selects.append(
            f"""SELECT {k} AS stage, '{xcol}' AS feature,
       CAST(CAST(FLOOR((s{k}.threshold) * 1000000.0 + 0.5) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS threshold,
       CAST(CAST(FLOOR(({BOOST_NU} * s{k}.vl) * 1000000.0 + 0.5) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS left_step,
       CAST(CAST(FLOOR(({BOOST_NU} * s{k}.vr) * 1000000.0 + 0.5) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS right_step,
       CAST(CAST(FLOOR(((SELECT AVG(res * res) FROM r{k})) * 1000000.0 + 0.5)
            AS BIGINT) AS DOUBLE) / 1000000.0 AS train_mse
FROM s{k}"""
        )
    return (
        f"WITH {_FEATS_CTE},\n"
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY stage"
    )


@register("ml_gbdt_k_rounds", _gbdt_oracle())
def ml_gbdt_k_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**{GBDT_ROUNDS}-round gradient boosting** with stump base
    learners (L2 loss, shrinkage ν={BOOST_NU}) — the
    :func:`ml_boosted_stumps` outer loop generalized from its fixed
    two stages to a K-round schedule cycling over {GBDT_FEATURES}:
    each round fits the SSE-optimal stump on the scheduled feature
    against the CURRENT residuals, then applies the shrunk step
    map-wide with the 1-row fitted stump broadcast. This is the real
    GBDT training recurrence at scale: K rounds = K (scan + split +
    residual-update) passes, driver state bounded by one 3-double
    stump per round, residuals living as a column (persisted per
    round, released by the query scope once checkpoint_result has
    materialized the K-row certificate — the ml_als_two_sweeps lifecycle). The
    first two output rows are definitionally ml_boosted_stumps's two
    rows (pinned in pytest), and train_mse must be non-increasing
    round over round."""
    feats = _feats(spark, sf_dir).select("x1", "x2", "y")
    cur = feats.select("x1", "x2", F.col("y").alias("res"))
    bsp.persist(cur)
    stage_rows = []
    for k in range(1, GBDT_ROUNDS + 1):
        xcol = GBDT_FEATURES[(k - 1) % len(GBDT_FEATURES)]
        s = _sse_split_frame(cur, xcol, "res")
        nxt = cur.crossJoin(F.broadcast(s)).select(
            "x1",
            "x2",
            (
                F.col("res")
                - BOOST_NU
                * F.when(F.col(xcol) <= F.col("threshold"), F.col("vl"))
                .otherwise(F.col("vr"))
            ).alias("res"),
        )
        bsp.persist(nxt)
        stage_rows.append(
            s.crossJoin(
                F.broadcast(
                    nxt.agg(F.avg(F.col("res") * F.col("res")).alias("mse"))
                )
            ).select(
                F.lit(k).alias("stage"),
                F.lit(xcol).alias("feature"),
                ppm_value(F.col("threshold")).alias("threshold"),
                ppm_value(F.lit(BOOST_NU) * F.col("vl")).alias("left_step"),
                ppm_value(F.lit(BOOST_NU) * F.col("vr")).alias("right_step"),
                ppm_value(F.col("mse")).alias("train_mse"),
            )
        )
        cur = nxt
    out = stage_rows[0]
    for r in stage_rows[1:]:
        out = out.unionByName(r)
    return bsp.checkpoint_result(out.orderBy("stage"))


ml_gbdt_k_rounds.__doc__ = (
    ml_gbdt_k_rounds.__doc__
    .replace("{GBDT_ROUNDS}", str(GBDT_ROUNDS))
    .replace("{BOOST_NU}", str(BOOST_NU))
    .replace("{GBDT_FEATURES}", "/".join(GBDT_FEATURES))
)


# ------------------------------------------------ learning curve

#: Nested training subsets (hash-bucket fractions of the corpus).
CURVE_FRACTIONS = (0.1, 0.3, 1.0)


def _curve_oracle() -> str:
    """Per-fraction unrolled GD (:func:`_gd_chain_sql`) over the masked
    subset; every fraction's gradients come from the same feats CTE
    (one scan's worth per iteration when executed by Spark)."""
    parts = [
        _FEATS_CTE.replace(
            "  FROM documents",
            f"""         , {split_hash_sql()} % 10 AS bucket
  FROM documents""",
        )
    ]
    finals = []
    for ci, frac in enumerate(CURVE_FRACTIONS):
        nbuck = int(round(frac * 10))
        chain, w = _gd_chain_sql(
            f"{ci}_", GD_LR, f"(SELECT * FROM feats WHERE bucket < {nbuck})"
        )
        parts += chain
        finals.append(
            f"SELECT {frac} AS fraction, {nbuck} AS n_buckets, wb, w1, w2, w3 FROM {w}"
        )
    parts.append("curve AS (" + " UNION ALL ".join(finals) + ")")
    ll = _logloss_sql(_sigmoid_sql(_logit_sql(("wb", "w1", "w2", "w3"))))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT fraction,
       CAST(SUM(CASE WHEN bucket < n_buckets THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       ROUND(AVG(CASE WHEN bucket < n_buckets THEN {ll} END), 6)
         AS train_logloss,
       ROUND(AVG({ll}), 6) AS full_logloss
FROM feats CROSS JOIN curve
GROUP BY fraction, n_buckets ORDER BY fraction"""
    )


@register("ml_learning_curve", _curve_oracle())
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Learning curve** — the does-more-data-help audit: logistic
    regression trained on nested 10% / 30% / 100% hash-bucket subsets,
    reporting each model's loss on its own subset and on the full
    corpus. AMORTIZED like ml_lr_sweep: every GD iteration is ONE
    aggregate whose per-fraction gradients are masked averages of the
    same scanned rows (`AVG(CASE WHEN bucket < k …)`), so the whole
    curve costs K passes — not K×|fractions| — and the subsets nest by
    construction (bucket < 1 ⊂ bucket < 3 ⊂ all). An empty subset's
    weights are NaN (:func:`_gd_train`), which canonicalizes to the
    oracle's NULL."""
    feats = _feats(spark, sf_dir).withColumn(
        "bucket", split_hash("doc_id") % 10
    )
    bsp.persist(feats)
    nbucks = [int(round(f * 10)) for f in CURVE_FRACTIONS]
    ws = _gd_train(feats, [(GD_LR, F.col("bucket") < nb) for nb in nbucks])
    curve = spark.createDataFrame(
        [
            (float(f), nb, *w)
            for f, nb, w in zip(CURVE_FRACTIONS, nbucks, ws)
        ],
        "fraction double, n_buckets int, wb double, w1 double, "
        "w2 double, w3 double",
    )
    ll = _logloss(
        _sigmoid(_logit([F.col(c) for c in ("wb", "w1", "w2", "w3")]))
    )
    return (
        feats.crossJoin(F.broadcast(curve))
        .groupBy("fraction", "n_buckets")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("n_buckets"), 1).otherwise(0)
            ).alias("n_train"),
            F.round(
                F.avg(
                    F.when(F.col("bucket") < F.col("n_buckets"), ll)
                ),
                6,
            ).alias("train_logloss"),
            F.round(F.avg(ll), 6).alias("full_logloss"),
        )
        .select("fraction", "n_train", "train_logloss", "full_logloss")
        .orderBy("fraction")
    )


# ------------------------------------------------ average precision

_AP_ORACLE = f"""WITH {_FEATS_CTE},
{_SCORED_THE_CTE},
by_s AS (
  SELECT s, SUM(y) AS pos, CAST(COUNT(*) AS DOUBLE) AS cnt FROM scored GROUP BY s
),
cum AS (
  SELECT s, pos,
         SUM(pos) OVER w AS tp,
         SUM(cnt) OVER w AS k
  FROM by_s
  WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
tot AS (SELECT SUM(y) AS np FROM scored)
SELECT CAST(ANY_VALUE(tot.np) AS BIGINT) AS n_positive,
       -- step-interpolated AP: each score group contributes its
       -- positives at the group's trailing precision tp/k
       ROUND(SUM(cum.pos * cum.tp / cum.k) / ANY_VALUE(tot.np), 6)
         AS average_precision,
       ROUND(MAX(CASE WHEN cum.k > 0 THEN cum.tp / cum.k END), 6)
         AS best_precision
FROM cum CROSS JOIN tot"""


@register("ml_average_precision", _AP_ORACLE)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Average precision (PR-AUC)** of the pinned scorer against the
    contains-'the' label — the imbalance-robust companion to
    ml_roc_auc (ROC flatters any scorer when negatives dominate; the
    PR curve does not). Same scale machinery as the AUC: aggregate to
    DISTINCT scores first, one descending cumulative window over
    |distinct s| pre-aggregated rows (never a global per-row rank),
    each score group contributing its positives at the group's
    trailing precision tp/k."""
    scored = _cal_scored(spark, sf_dir).select(
        F.col("y_the").alias("y"),
        # 6dp-quantized before the GROUP BY: see ml_roc_auc's rationale
        F.round("s", 6).alias("s"),
    )
    by_s = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.count("*").cast("double").alias("cnt")
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    cum = by_s.select(
        "pos",
        F.sum("pos").over(w).alias("tp"),
        F.sum("cnt").over(w).alias("k"),
    )
    tot = scored.agg(F.sum("y").alias("np"))
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.first("np").cast("long").alias("n_positive"),
        F.round(
            F.sum(F.col("pos") * F.col("tp") / F.col("k")) / F.first("np"), 6
        ).alias("average_precision"),
        F.round(F.max(F.col("tp") / F.col("k")), 6).alias("best_precision"),
    )


# --------------------------------------------- linear attribution

#: Top-N docs shown in the attribution report.
ATTR_TOP = 25

_ATTR_ORACLE = f"""WITH {_FEATS_CTE},
mu AS (SELECT AVG(x1) AS m1, AVG(x2) AS m2 FROM feats)
SELECT doc_id,
       ROUND({_CAL_SCORE_SQL}, 6) AS score,
       ROUND({CAL_W[1]} * (x1 - mu.m1), 6) AS contrib_x1,
       ROUND({CAL_W[2]} * (x2 - mu.m2), 6) AS contrib_x2,
       CASE WHEN ABS({CAL_W[1]} * (x1 - mu.m1))
                 >= ABS({CAL_W[2]} * (x2 - mu.m2))
            THEN 'x1' ELSE 'x2' END AS top_feature
FROM feats CROSS JOIN mu
ORDER BY ROUND({_CAL_SCORE_SQL}, 6) DESC, doc_id ASC
LIMIT {ATTR_TOP}"""


@register("ml_linear_attribution", _ATTR_ORACLE)
def ml_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-row additive attribution** of the pinned linear scorer:
    for a linear model the exact Shapley decomposition of the logit is
    wⱼ·(xⱼ − x̄ⱼ) per feature — no sampling, no surrogate. Reports the
    top-{ATTR_TOP} scored docs with each feature's signed contribution
    and the dominant feature — the explain-this-score column every
    curation review UI needs. One 1-row means broadcast + a pure
    projection; the top-K is a rank prune."""
    scored = _cal_scored(spark, sf_dir)
    mu = scored.agg(F.avg("x1").alias("m1"), F.avg("x2").alias("m2"))
    c1 = F.lit(CAL_W[1]) * (F.col("x1") - F.col("m1"))
    c2 = F.lit(CAL_W[2]) * (F.col("x2") - F.col("m2"))
    return (
        scored.crossJoin(F.broadcast(mu))
        .select(
            "doc_id",
            F.round("s", 6).alias("score"),
            F.round(c1, 6).alias("contrib_x1"),
            F.round(c2, 6).alias("contrib_x2"),
            F.when(F.abs(c1) >= F.abs(c2), "x1").otherwise("x2").alias(
                "top_feature"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(ATTR_TOP)
    )


# ------------------------------------------- ridge regression (closed form)

#: L2 penalty added to every Gram-matrix diagonal (including the
#: intercept's — pinned spec, documented; classic ridge skips the
#: intercept but the uniform form keeps the shared Cramer algebra
#: unmodified).
RIDGE_LAMBDA = 1.0


def _ridge_oracle() -> str:
    from .events_props import _ols4_sql

    ols, r2 = _ols4_sql("n", ridge=RIDGE_LAMBDA)
    return f"""WITH {_FEATS_CTE},
f AS (SELECT y, 1.0 AS f0, x1 AS f1, x2 AS f2, x3 AS f3 FROM feats),
{ols}
SELECT ANY_VALUE(beta.n) AS n,
       ROUND(ANY_VALUE(c0), 6) AS w_bias,
       ROUND(ANY_VALUE(c1), 6) AS w_x1,
       ROUND(ANY_VALUE(c2), 6) AS w_x2,
       ROUND(ANY_VALUE(c3), 6) AS w_x3,
       ROUND({r2}, 6) AS r2
FROM f CROSS JOIN beta"""


@register("ml_ridge_regression", _ridge_oracle())
def ml_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Closed-form ridge regression** (linear-probability model of
    the en label on the 3 doc features): one pass accumulates the 4×4
    Gram matrix + feature·target moments, λ=1 rides on the diagonal,
    and Cramer's rule solves the normal equations INSIDE the plan —
    the normal-equation solve shared with ev_harmonic_regression
    (``events_props._ols4`` / ``_ols4_sql``, Cramer's rule via
    ``_cramer4``), so Spark and DuckDB execute literally the same
    determinant expressions. Complements ml_logreg_gd: GD is the
    iterative path (K passes), this is the one-pass exact path — at
    100 TB the moments are a map-side-combinable 14-double aggregate
    and the solve is O(1) on the driver-free 1-row relation. A second
    pass scores R² against the broadcast coefficients."""
    from .events_props import _ols4

    f = _feats(spark, sf_dir).select(
        "y",
        F.lit(1.0).alias("f0"),
        F.col("x1").alias("f1"),
        F.col("x2").alias("f2"),
        F.col("x3").alias("f3"),
    )
    fitted, r2 = _ols4(f, "n", ridge=RIDGE_LAMBDA)
    return fitted.agg(
        F.first("n").alias("n"),
        F.round(F.first("c0"), 6).alias("w_bias"),
        F.round(F.first("c1"), 6).alias("w_x1"),
        F.round(F.first("c2"), 6).alias("w_x2"),
        F.round(F.first("c3"), 6).alias("w_x3"),
        F.round(r2, 6).alias("r2"),
    )


# ------------------------------------- confusion sweep (threshold zoo)

_CONFUSION_ORACLE = f"""WITH {_FEATS_CTE},
scored AS (SELECT y, ROUND({_CAL_SCORE_SQL}, 6) AS s FROM feats)
SELECT ROUND(CAST(t AS DOUBLE) / 10, 6) AS threshold,
       CAST(SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN y = 0.0 AND s >= t / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN y = 0.0 AND s < t / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN y = 1.0 AND s < t / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       ROUND(CASE WHEN SUM(CASE WHEN s >= t / 10.0 THEN 1 ELSE 0 END) > 0
                  THEN CAST(SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1 ELSE 0 END) AS DOUBLE)
                       / SUM(CASE WHEN s >= t / 10.0 THEN 1 ELSE 0 END) END, 6) AS precision,
       ROUND(CASE WHEN SUM(y) > 0
                  THEN SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1.0 ELSE 0.0 END) / SUM(y)
             END, 6) AS recall,
       ROUND(CASE WHEN 2 * SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN y = 0.0 AND s >= t / 10.0 THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN y = 1.0 AND s < t / 10.0 THEN 1 ELSE 0 END) > 0
                  THEN 2.0 * SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1 ELSE 0 END)
                       / (2 * SUM(CASE WHEN y = 1.0 AND s >= t / 10.0 THEN 1 ELSE 0 END)
                          + SUM(CASE WHEN y = 0.0 AND s >= t / 10.0 THEN 1 ELSE 0 END)
                          + SUM(CASE WHEN y = 1.0 AND s < t / 10.0 THEN 1 ELSE 0 END))
             END, 6) AS f1
FROM scored CROSS JOIN generate_series(0, 10) AS g(t)
GROUP BY t ORDER BY threshold"""


@register("ml_confusion_threshold_sweep", _CONFUSION_ORACLE)
def ml_confusion_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Confusion-matrix sweep** of the pinned scorer at the 11 fixed
    thresholds: TP/FP/TN/FN counts plus precision, recall and F1 per
    threshold — the operating-point table that complements ml_roc_auc's
    rate curve (counts are what a triage UI shows; rates hide class
    sizes). Same one-pass shape as the ROC points: corpus × broadcast
    11-row spine, one conditional aggregate per cell; integer counts
    are exact cross-engine, ratios of those integers are identical
    doubles (rounded per convention). Scores are 6dp-quantized before
    the threshold comparison (same rationale as ml_roc_auc)."""
    scored = _cal_scored(spark, sf_dir).select(
        "y", F.round("s", 6).alias("s")
    )
    spine = _threshold_spine(spark)
    pred = F.col("s") >= F.col("thr")
    pos = F.col("y") == 1.0
    tp = F.sum(F.when(pos & pred, 1).otherwise(0))
    fp = F.sum(F.when(~pos & pred, 1).otherwise(0))
    tn = F.sum(F.when(~pos & ~pred, 1).otherwise(0))
    fn = F.sum(F.when(pos & ~pred, 1).otherwise(0))
    return (
        scored.crossJoin(F.broadcast(spine))
        .groupBy("thr")
        .agg(
            tp.cast("long").alias("tp"),
            fp.cast("long").alias("fp"),
            tn.cast("long").alias("tn"),
            fn.cast("long").alias("fn"),
        )
        .select(
            F.round("thr", 6).alias("threshold"),
            "tp",
            "fp",
            "tn",
            "fn",
            F.round(
                F.when(
                    F.col("tp") + F.col("fp") > 0,
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
                ),
                6,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("tp") + F.col("fn") > 0,
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(
                    2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                    2.0 * F.col("tp")
                    / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                ),
                6,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


# --------------------------------- isotonic calibration, oracle twin

_ISO_HASHABLE_ORACLE = f"""WITH {_FEATS_CTE},
{_SCORED_THE_CTE}, by_s AS (
  SELECT lang, s, CAST(SUM(y) AS BIGINT) AS ysum,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM scored GROUP BY lang, s
), idx AS (
  SELECT lang, s, ysum, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s) AS i,
         CAST(SUM(ysum) OVER (PARTITION BY lang ORDER BY s) AS BIGINT) AS cs,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY s) AS BIGINT) AS cc
  FROM by_s
), pairs AS (
  -- interval means over exact integer prefix-sum differences
  SELECT a.lang, a.i AS j, b.i AS k,
         (b.cs - a.cs + a.ysum) * 1.0 / (b.cc - a.cc + a.cnt) AS mean_jk
  FROM idx a JOIN idx b ON a.lang = b.lang AND b.i >= a.i
), m1 AS (
  -- min over k >= i of mean(j..k): suffix-min along k for each j
  SELECT lang, j, k AS i,
         MIN(mean_jk) OVER (PARTITION BY lang, j ORDER BY k
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m
  FROM pairs
), fit AS (
  -- max over j <= i (every m1 row already has j <= i)
  SELECT lang, i, MAX(m) AS fitted FROM m1 GROUP BY lang, i
)
SELECT x.lang AS lang, x.s AS s, x.cnt AS n_point,
       ROUND(f.fitted, 6) AS fitted
FROM idx x JOIN fit f ON x.lang = f.lang AND x.i = f.i
ORDER BY x.lang, x.s"""


@register("ml_isotonic_calibration_hashable", _ISO_HASHABLE_ORACLE)
def ml_isotonic_calibration_hashable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Oracle-able projection of the PAVA kernel**: the SAME
    ``applyInPandas`` pool-adjacent-violators as
    :func:`ml_isotonic_calibration`, run on the 6dp-quantized score and
    re-projected to one row per distinct (lang, s) point with its
    fitted value — certified against the **minimax closed form**
    ``fit(i) = max_{{j≤i}} min_{{k≥i}} mean(y_j..y_k)``, which needs no
    sequential pooling and is plain SQL: O(n²) interval means over
    exact integer prefix sums, one suffix-min window, one max
    aggregate. The sequential algorithm and the non-sequential
    characterization must agree point-for-point — a far stronger check
    than the KKT invariants alone (which the rows-only production form
    keeps). Means are exact integer/integer divisions on both engines;
    the minimax relation holds for them up to a final 6dp quantization.

    The oracle's O(n²) pair relation is per-language |distinct s|² —
    an ORACLE cost, not a production one; the production path stays
    the one-pass PAVA."""
    scored = _cal_scored(spark, sf_dir).select(
        "lang", F.col("y_the").alias("y"), F.round("s", 6).alias("s")
    )
    pts = scored.groupBy("lang", "s").agg(
        F.count("*").cast("long").alias("n_point")
    )
    blocks = scored.groupBy("lang").applyInPandas(
        lambda pdf: _pava_blocks(pdf), schema=_ISO_SCHEMA
    ).select(F.col("lang").alias("b_lang"), "s_lo", "s_hi", "fitted")
    return (
        pts.join(
            F.broadcast(blocks),
            (F.col("lang") == F.col("b_lang"))
            & (F.col("s") >= F.col("s_lo"))
            & (F.col("s") <= F.col("s_hi")),
        )
        .select(
            "lang",
            "s",
            "n_point",
            F.round("fitted", 6).alias("fitted"),
        )
        .orderBy("lang", "s")
    )


# ------------------------------------ permutation feature importance

#: Buckets for the pinned in-bucket permutation (scale-correct: the
#: rotation windows run per bucket, never a global sort).
PERM_BUCKETS = 64
#: Second mixing constant for the within-bucket order (must differ
#: from HASH_MULT so the order is independent of the bucket id).
#: Chosen < 2^31 (Fibonacci-hashing constant 2^32/φ rounded to odd) so
#: that even the worst-case reduced operand stays in 63 bits:
#: (2^32 - 1) * PERM_MULT ≈ 7.05e18 < 2^63 - 1 ≈ 9.22e18. Combined
#: with the ``doc_id % HASH_MOD`` pre-reduction, the h2 multiply can
#: never wrap BIGINT — Spark would wrap silently while DuckDB raises,
#: so an overflow is a cross-engine divergence, not just a wrong order.
PERM_MULT = 1640531527


def _perm_oracle() -> str:
    px = []
    for f in ("x1", "x2"):
        px.append(
            f"COALESCE(LEAD({f}) OVER w, FIRST_VALUE({f}) OVER w) AS p{f}"
        )
    def ll(x1: str, x2: str) -> str:
        p = _sigmoid_sql(_logit_sql(CAL_W, (x1, x2)))
        return f"AVG({_logloss_sql(p)})"

    return f"""WITH {_FEATS_CTE},
b AS (
  SELECT doc_id, y, x1, x2,
         ({split_hash_sql()}) % {PERM_BUCKETS} AS bucket,
         ((doc_id % {HASH_MOD}) * {PERM_MULT}) % {HASH_MOD} AS h2
  FROM feats
),
p AS (
  SELECT y, x1, x2, {', '.join(px)}
  FROM b
  WINDOW w AS (PARTITION BY bucket ORDER BY h2, doc_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND({ll('x1', 'x2')}, 6) AS logloss_baseline,
       ROUND({ll('px1', 'x2')}, 6) AS logloss_perm_x1,
       ROUND({ll('x1', 'px2')}, 6) AS logloss_perm_x2,
       ROUND({ll('px1', 'x2')} - {ll('x1', 'x2')}, 6) AS importance_x1,
       ROUND({ll('x1', 'px2')} - {ll('x1', 'x2')}, 6) AS importance_x2
FROM p"""


@register("ml_permutation_importance", _perm_oracle())
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Permutation feature importance** of the pinned scorer: logloss
    with each feature's values PERMUTED across rows (breaking its
    relationship with the label while preserving its marginal
    distribution) minus the baseline logloss — the standard
    model-debugging probe for "which feature is the score actually
    using". The permutation is a pinned, engine-portable derangement:
    rows land in {PERM_BUCKETS} hash buckets, are ordered inside each
    bucket by an independent second mixer, and each row takes its
    neighbor's feature value (LEAD with first-row wraparound) — the
    rotation windows run PER BUCKET, so no global sort exists at any
    scale, and the same (bucket, h2, doc_id) order reproduces the same
    permutation on every engine and every partitioning. All three
    loglosses ride in ONE aggregate pass. (The scorer is PINNED, not
    fitted, so an importance can be negative — permuting a miscalibrated
    feature can help; the replay pytest checks the identity, not the
    sign.)"""
    feats = _feats(spark, sf_dir)
    b = feats.select(
        "doc_id",
        "y",
        "x1",
        "x2",
        (split_hash("doc_id") % PERM_BUCKETS).alias("bucket"),
        (((F.col("doc_id") % HASH_MOD) * PERM_MULT) % HASH_MOD).alias("h2"),
    )
    w = Window.partitionBy("bucket").orderBy("h2", "doc_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p = b.select(
        "y",
        "x1",
        "x2",
        F.coalesce(
            F.lead("x1").over(w), F.first("x1").over(wall)
        ).alias("px1"),
        F.coalesce(
            F.lead("x2").over(w), F.first("x2").over(wall)
        ).alias("px2"),
    )

    def ll(x1: str, x2: str) -> Column:
        return F.avg(_logloss(_sigmoid(_logit(CAL_W, (x1, x2)))))

    base = ll("x1", "x2")
    perm1 = ll("px1", "x2")
    perm2 = ll("x1", "px2")
    return p.agg(
        F.count("*").cast("long").alias("n"),
        F.round(base, 6).alias("logloss_baseline"),
        F.round(perm1, 6).alias("logloss_perm_x1"),
        F.round(perm2, 6).alias("logloss_perm_x2"),
        F.round(perm1 - base, 6).alias("importance_x1"),
        F.round(perm2 - base, 6).alias("importance_x2"),
    )


# Docstring tracks the bucket constant (r7 advice).
ml_permutation_importance.__doc__ = ml_permutation_importance.__doc__.replace(
    "{PERM_BUCKETS}", str(PERM_BUCKETS)
)


# --------------------------------- cross-validated ridge (lambda path)

#: The regularization-path grid for cross-validated ridge (pinned; the
#: exact IEEE doubles are part of the query contract).
RIDGE_CV_LAMBDAS = (0.1, 1.0, 10.0)


def _cv_ridge_oracle() -> str:
    from .events_props import _FIT4_SQL, _cramer4_solve_sql, _gram4_sql
    from .quantize import ppm_floor_sql, ppm_value_sql

    # Round-9 (advisor + sf0.1 repro): each moment term is quantized
    # to BIGINT micro-units with the rule-free FLOOR(x·1e6 + 0.5) —
    # NOT ROUND, whose HALF_UP-vs-binary semantics flip on this
    # query's gridded features (f1·f3 is an exact odd multiple of
    # 1.25e-5 for many token counts, i.e. a true 6-dp half-boundary).
    # Sums/rollup/leave-fold-out subtraction are exact integers;
    # doubles reappear only in the Cramer tree shared verbatim by
    # both engines, and every published float goes through the same
    # FLOOR quantizer.
    raw_moms = _gram4_sql(lambda e: f"SUM({ppm_floor_sql(e)})")
    g_moms = ", ".join(
        f"SUM(m{i}{j}) AS gm{i}{j}" for i in range(4) for j in range(i, 4)
    )
    g_bs = ", ".join(f"SUM(b{i}) AS gb{i}" for i in range(4))
    train_cols = ", ".join(
        f"CAST(gm{i}{j} - m{i}{j} AS DOUBLE) / 1000000.0"
        + (" + lam" if i == j else "")
        + f" AS m{i}{j}"
        for i in range(4)
        for j in range(i, 4)
    )
    train_bs = ", ".join(
        f"CAST(gb{i} - b{i} AS DOUBLE) / 1000000.0 AS b{i}"
        for i in range(4)
    )
    lam_list = ", ".join(repr(float(x)) for x in RIDGE_CV_LAMBDAS)
    return f"""WITH {_FEATS_CTE},
f AS (
  SELECT CAST({split_hash_sql()} % {_KFOLD_K} AS INTEGER)
           AS fold,
         y, 1.0 AS f0, x1 AS f1, x2 AS f2, x3 AS f3
  FROM feats
),
foldmom AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test, {raw_moms}
  FROM f GROUP BY fold
),
gmom AS (SELECT {g_moms}, {g_bs} FROM foldmom),
trainmom AS (
  SELECT fold, n_test, lam, {train_cols}, {train_bs}
  FROM foldmom CROSS JOIN gmom
       CROSS JOIN (SELECT unnest(CAST([{lam_list}] AS DOUBLE[])) AS lam) lams
),
beta AS (
  {_cramer4_solve_sql("fold, n_test, lam", "trainmom")}
)
SELECT ROUND(lam, 6) AS ridge_lambda,
       f.fold AS fold,
       ANY_VALUE(beta.n_test) AS n_test,
       {ppm_value_sql("ANY_VALUE(c0)")} AS w_bias,
       {ppm_value_sql("ANY_VALUE(c1)")} AS w_x1,
       {ppm_value_sql("ANY_VALUE(c2)")} AS w_x2,
       {ppm_value_sql("ANY_VALUE(c3)")} AS w_x3,
       CAST(CAST(FLOOR(
           CAST(SUM({ppm_floor_sql(
               f"(y - {_FIT4_SQL}) * (y - {_FIT4_SQL})"
           )}) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS DOUBLE)
         / 1000000.0 AS test_mse
FROM f JOIN beta ON f.fold = beta.fold
GROUP BY lam, f.fold
ORDER BY ridge_lambda, fold"""


@register("ml_cv_ridge_path", _cv_ridge_oracle())
def ml_cv_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Cross-validated ridge over a regularization path** — the
    training-side counterpart of ml_kfold_eval (which only *evaluates*
    a pinned scorer per fold): for every (fold, lambda) pair the model
    is actually REFIT on the other folds and scored on the held-out
    one, giving the {K}x{L} grid that lambda selection reads. The
    leave-fold-out refit is free at any scale because ridge trains on
    sufficient statistics: ONE grouped pass accumulates each fold's
    Gram/moment sums, the global sums are their 5-row total, and every
    fold's TRAINING moments are just global - fold (+ lambda on the
    diagonal) - no second pass over the data per fold or per lambda,
    which is the whole trick. The {L}-point lambda grid rides the
    (fold-count)-row relation as a cross join, and the normal-equation
    solve shared with ml_ridge_regression (``events_props._gram4`` for
    the quantized moments, ``_cramer4_solve`` and ``_fit4``; the
    identical Cramer expression strings on both engines) solves all
    {KL} systems inside the plan. A second
    scan joins the broadcast {KL}-row coefficient table back on fold
    for held-out MSE.

    At 100 TB: pass 1 is a map-side-combinable 15-double aggregate per
    fold; pass 2 is a scan + broadcast-join + (fold, lambda) aggregate.
    Folds are the pinned Knuth-hash folds of samp_kfold_assign, so the
    grid is reproducible on any engine/partitioning/retry."""
    from .events_props import _cramer4_solve, _fit4, _gram4

    feats = _feats(spark, sf_dir)
    f = feats.select(
        (split_hash("doc_id") % _KFOLD_K).cast("int").alias("fold"),
        "y",
        F.lit(1.0).alias("f0"),
        F.col("x1").alias("f1"),
        F.col("x2").alias("f2"),
        F.col("x3").alias("f3"),
    )
    pairs = [(i, j) for i in range(4) for j in range(i, 4)]
    from .quantize import ppm_sum, ppm_value

    # Rule-free micro-unit quantization of every moment term (see
    # _cv_ridge_oracle): exact, order-free BIGINT accumulation.
    foldmom = f.groupBy("fold").agg(
        F.count("*").alias("n_test"), *_gram4(agg=ppm_sum)
    )
    glob = foldmom.agg(
        *[F.sum(f"m{i}{j}").alias(f"gm{i}{j}") for i, j in pairs],
        *[F.sum(f"b{i}").alias(f"gb{i}") for i in range(4)],
    )
    lams = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(x)) for x in RIDGE_CV_LAMBDAS])
        ).alias("lam")
    )
    def unscale(i: int, j: int):
        # leave-fold-out moment back on the real scale — ONE spelling
        # shared by the diagonal (+lam) and off-diagonal branches
        return (
            F.col(f"gm{i}{j}") - F.col(f"m{i}{j}")
        ).cast("double") / 1000000.0

    trainmom = (
        foldmom.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(lams))
        .select(
            "fold",
            "n_test",
            "lam",
            *[
                (
                    (unscale(i, j) + F.col("lam"))
                    if i == j
                    else unscale(i, j)
                ).alias(f"tm{i}{j}")
                for i, j in pairs
            ],
            *[
                (
                    (F.col(f"gb{i}") - F.col(f"b{i}")).cast("double")
                    / 1000000.0
                ).alias(f"tb{i}")
                for i in range(4)
            ],
        )
    )
    beta = _cramer4_solve(trainmom, ["fold", "n_test", "lam"], m="tm", b="tb")
    pred = _fit4()
    return (
        f.join(F.broadcast(beta), "fold")
        .groupBy("lam", "fold")
        .agg(
            F.first("n_test").alias("n_test"),
            ppm_value(F.first("c0")).alias("w_bias"),
            ppm_value(F.first("c1")).alias("w_x1"),
            ppm_value(F.first("c2")).alias("w_x2"),
            ppm_value(F.first("c3")).alias("w_x3"),
            (
                F.floor(
                    ppm_sum(
                        (F.col("y") - pred) * (F.col("y") - pred)
                    ).cast("double")
                    / F.count("*").cast("double")
                    + 0.5
                )
                .cast("long")
                .cast("double")
                / 1000000.0
            ).alias("test_mse"),
        )
        .select(
            F.round("lam", 6).alias("ridge_lambda"),
            "fold",
            "n_test",
            "w_bias",
            "w_x1",
            "w_x2",
            "w_x3",
            "test_mse",
        )
        .orderBy("ridge_lambda", "fold")
    )


# Docstring interpolates the grid geometry (constants stay the source
# of truth — r7 advice pattern).
ml_cv_ridge_path.__doc__ = (
    ml_cv_ridge_path.__doc__.replace("{K}", str(_KFOLD_K))
    .replace("{L}", str(len(RIDGE_CV_LAMBDAS)))
    .replace("{KL}", str(_KFOLD_K * len(RIDGE_CV_LAMBDAS)))
)
