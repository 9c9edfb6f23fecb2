"""Deterministic sampling / split assignment for training-data curation.

A 100 TB corpus pipeline needs *reproducible* sampling: re-running the
job (or running it engine-by-engine) must pick the same rows, so splits
are a pure function of the stable id — never ``rand()`` (per-task seeds
make resampling nondeterministic under retries/repartitioning) and
never an engine-specific hash (Spark's ``hash()`` is Murmur3, DuckDB's
differs — a portable pipeline pins the function, not the library).

The pinned hash is Knuth's multiplicative hash over the id:
``(id * 2654435761) % 2^32`` — one multiply in plain BIGINT arithmetic
(ids ≪ 2^32, so no overflow), identical in any engine, and decorrelated
from the id's low bits (ids are often assigned sequentially; ``id % 10``
would stripe splits with ingestion order).

- **split assignment** — 80/10/10 train/val/test from the hash bucket.
  A narrow projection, no shuffle: it composes with any scan.
- **stratified sample** — top-N per (lang, source) stratum in hash
  order: a uniform-without-replacement N-per-group sample that is
  deterministic and engine-portable. One shuffle on the stratum key;
  Catalyst turns the rank-filter into WindowGroupLimit, so each
  partition keeps only N rows per group before the final filter — the
  full stratum is never collected anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bsp
from ..functions.text import DOC_TOKENS_SQL, STOPWORDS_SQL, doc_tokens
from ..registry import register
from .quantize import ppm_value
from ..sources import load_raw
from ..sources.tables import NEWS_MOD

#: Knuth multiplicative constant (2^32 / golden ratio, rounded to odd).
HASH_MULT = 2654435761
HASH_MOD = 2**32

#: train/val/test bucket split of ``h % 10``.
TRAIN_BUCKETS = 8
VAL_BUCKETS = 1

#: Stratified sample size per (lang, source) stratum.
STRATUM_N = 5


#: 16-bit split point for the overflow-safe multiply in split_hash.
MIX_LO = 1 << 16


def split_hash(c) -> Column:
    """The pinned portable hash: ``(id * HASH_MULT) % 2^32`` — computed
    OVERFLOW-SAFE. HASH_MULT exceeds 2^31, so the plain product wraps
    BIGINT for ids >= ~3.5e9 (Spark wraps silently, DuckDB raises — a
    cross-engine divergence exactly in the 100 TB id regime; the
    round-7 advice flagged this latent class). The id is pre-reduced
    mod 2^32 and split into 16-bit halves — hi*2^16*M = 2^16*(hi*M mod
    2^16) (mod 2^32) — so every intermediate stays <= ~1.7e14. The
    result is CONGRUENT to the plain product for every non-negative
    id: certified hashes are unchanged. shiftright is exact integer
    division by 2^16 on the non-negative reduced value."""
    c = F.col(c) if isinstance(c, str) else c
    r = c % F.lit(HASH_MOD)
    hi = F.shiftright(r, 16)
    lo = r % F.lit(MIX_LO)
    return (
        ((hi * F.lit(HASH_MULT)) % F.lit(MIX_LO)) * F.lit(MIX_LO)
        + lo * F.lit(HASH_MULT)
    ) % F.lit(HASH_MOD)


def split_hash_sql(expr: str = "doc_id") -> str:
    """SQL twin of :func:`split_hash` — the identical congruent 16-bit
    decomposition, parameterized on the id expression. DIALECT-PORTABLE
    on purpose: several operators evaluate the same string in BOTH
    engines via ``F.expr`` (the shared-string twin pattern), so the
    integer division uses FLOOR(x / 2^16) — exact, since the reduced
    value < 2^32 is exactly representable and division by a power of
    two is exact in binary floating point — instead of DuckDB-only
    ``//``."""
    r = f"(({expr}) % {HASH_MOD})"
    hi = f"(CAST(FLOOR({r} / {MIX_LO}) AS BIGINT))"
    lo = f"({r} % {MIX_LO})"
    return (
        f"(((({hi} * {HASH_MULT}) % {MIX_LO}) * {MIX_LO}"
        f" + {lo} * {HASH_MULT}) % {HASH_MOD})"
    )


_SPLIT_ORACLE = f"""SELECT doc_id,
       {split_hash_sql()} AS h,
       CASE WHEN {split_hash_sql()} % 10 < {TRAIN_BUCKETS} THEN 'train'
            WHEN {split_hash_sql()} % 10 < {TRAIN_BUCKETS + VAL_BUCKETS} THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


@register("samp_split_assign", _SPLIT_ORACLE)
def samp_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment as a pure function of doc_id.
    No shuffle, no state: any engine, any partitioning, any retry
    produces the same split — the property that makes train/test
    contamination auditable after the fact."""
    docs = load_raw(spark, sf_dir, "documents")
    h = split_hash("doc_id")
    bucket = h % 10
    return docs.select(
        "doc_id",
        h.alias("h"),
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < TRAIN_BUCKETS + VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_STRATIFIED_ORACLE = f"""SELECT doc_id, lang, source, pos
FROM (
  SELECT doc_id, lang, source,
         CAST(row_number() OVER (
           PARTITION BY lang, source
           ORDER BY {split_hash_sql()}, doc_id
         ) AS BIGINT) AS pos
  FROM documents
)
WHERE pos <= {STRATUM_N}"""


@register("samp_stratified", _STRATIFIED_ORACLE)
def samp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-per-stratum sample: rank each (lang, source) group in pinned
    hash order and keep the first ``STRATUM_N``. Hash order ≈ uniform
    order, so this is uniform sampling without replacement per stratum,
    but fully deterministic. doc_id breaks (impossible-here) hash ties
    so the sample is unique. The rank-filter compiles to
    WindowGroupLimit: per-partition top-N pruning before the shuffle."""
    docs = load_raw(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        split_hash("doc_id").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "doc_id", "lang", "source",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .filter(F.col("pos") <= STRATUM_N)
    )


# ------------------------------------------------- weighted (priority)

#: Weighted sample size per language group.
WEIGHTED_N = 10


_WEIGHTED_ORACLE = f"""SELECT doc_id, lang, n_chars, priority, pos
FROM (
  SELECT doc_id, lang, n_chars,
         CAST(n_chars AS DOUBLE)
           / (({split_hash_sql()} + 0.5) / {HASH_MOD}) AS priority,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(n_chars AS DOUBLE)
             / (({split_hash_sql()} + 0.5) / {HASH_MOD}) DESC,
             doc_id
         ) AS BIGINT) AS pos
  FROM documents
)
WHERE pos <= {WEIGHTED_N}"""


@register("samp_weighted_priority", _WEIGHTED_ORACLE)
def samp_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Priority sampling** (Duffield–Lund–Thorup): a weighted
    without-replacement sample — doc i gets priority ``w_i / u_i``
    (weight = n_chars, u uniform in (0,1)); the N highest priorities
    per language are the sample. Long docs are proportionally more
    likely to be kept — the usual size-weighted curation draw.

    Unlike ``pow``-keyed Efraimidis–Spirakis, the priority needs only
    one division of one correctly-rounded uniform — IEEE-exact in every
    engine — so with u from the pinned multiplicative hash the sample
    is bit-reproducible and fully oracle-checked. Same WindowGroupLimit
    shape as the stratified sampler: per-partition top-N pruning, never
    a full-group materialization."""
    docs = load_raw(spark, sf_dir, "documents")
    u = (split_hash("doc_id") + F.lit(0.5)) / F.lit(float(HASH_MOD))
    prio = F.col("n_chars").cast("double") / u
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars", prio.alias("priority"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= WEIGHTED_N)
    )


# ------------------------------------------------- BPR triplet sampling

#: Negatives drawn per positive interaction, from this many candidates.
BPR_NEGATIVES = 3
BPR_CANDIDATES = 8


@register(
    "samp_bpr_triplets",
    f"""WITH prefs AS (
  SELECT DISTINCT user_id, event_id % {NEWS_MOD} AS news_id
  FROM events WHERE event_type = 'click'
), cand AS (
  SELECT p.user_id, p.news_id AS pos_news_id,
         CAST((p.user_id * 31 + p.news_id * 17 + j.j * 7919) % {NEWS_MOD} AS BIGINT)
           AS neg_news_id,
         j.j
  FROM prefs p, (SELECT unnest(generate_series(1, {BPR_CANDIDATES})) AS j) j
), valid AS (
  SELECT c.* FROM cand c
  WHERE c.neg_news_id <> c.pos_news_id
    AND NOT EXISTS (SELECT 1 FROM prefs s
                    WHERE s.user_id = c.user_id
                      AND s.news_id = c.neg_news_id)
)
SELECT user_id, pos_news_id, neg_news_id,
       CAST(rnk AS INTEGER) AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, pos_news_id ORDER BY j ASC, neg_news_id ASC) AS rnk
  FROM valid
) WHERE rnk <= {BPR_NEGATIVES}""",
)
def samp_bpr_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**BPR training triplets** (user, positive item, negative item) —
    the training-data generator for pairwise ranking losses (BPR,
    WARP): per observed click, up to ``BPR_NEGATIVES`` items the user
    did NOT interact with. Negatives come from a pinned modular-hash
    candidate stream (engine-portable integer arithmetic — the
    bit-reproducibility every training run wants from its sampler),
    filtered against the user's own history by an anti-join, ranked by
    candidate order.

    Scale: candidates explode ×``BPR_CANDIDATES`` off the (bounded)
    preference table, never off the catalog; the history anti-join
    shuffles on (user, item) like every CF op; rejection loss (a user
    who clicked everything) just yields fewer negatives — no retry
    loop, no RNG state."""
    from ..sources import clicks
    from ..sources.tables import NEWS_MOD

    prefs = clicks(spark, sf_dir).select("user_id", "news_id").distinct()
    cand = prefs.select(
        "user_id",
        F.col("news_id").alias("pos_news_id"),
        F.explode(F.sequence(F.lit(1), F.lit(BPR_CANDIDATES))).alias("j"),
    ).withColumn(
        "neg_news_id",
        (
            F.col("user_id") * 31 + F.col("pos_news_id") * 17 + F.col("j") * 7919
        ).cast("long")
        % NEWS_MOD,
    )
    valid = cand.filter(F.col("neg_news_id") != F.col("pos_news_id")).join(
        prefs.select(
            "user_id", F.col("news_id").alias("neg_news_id")
        ),
        ["user_id", "neg_news_id"],
        "left_anti",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "pos_news_id").orderBy(
        F.asc("j"), F.asc("neg_news_id")
    )
    return (
        valid.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= BPR_NEGATIVES)
        .select("user_id", "pos_news_id", "neg_news_id", "neg_rank")
    )


# -------------------------------------------------- domain mixture

#: Pinned target language mixture for pretraining-corpus resampling
#: ("cap English"): the over-represented language is hash-downsampled
#: until the KEPT corpus matches these shares as closely as possible
#: without upsampling anything.
MIXTURE_TARGET: dict[str, float] = {
    "en": 0.30,
    "zh": 0.175,
    "es": 0.175,
    "de": 0.175,
    "fr": 0.175,
}

#: Hash-threshold resolution (rate quantized to 1e-6).
MIX_RES = 1_000_000


def _mixture_oracle() -> str:
    values = ", ".join(
        f"('{lang}', {share})" for lang, share in MIXTURE_TARGET.items()
    )
    return f"""WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
shares(lang, share) AS (VALUES {values}),
lam AS (
  SELECT MIN(c.n / (s.share * t.nn)) AS l
  FROM counts c JOIN shares s USING (lang), tot t
),
rates AS (
  SELECT c.lang,
         LEAST(1.0, lam.l * s.share * t.nn / c.n) AS rate
  FROM counts c JOIN shares s USING (lang), tot t, lam
)
SELECT d.doc_id, d.lang,
       CAST(CAST(FLOOR((r.rate) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS keep_rate,
       {split_hash_sql('d.doc_id')} % {MIX_RES}
         < CAST(FLOOR(r.rate * {MIX_RES}) AS BIGINT) AS keep
FROM documents d JOIN rates r USING (lang)"""


@register("samp_lang_mixture", _mixture_oracle())
def samp_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Domain-mixture resampling**: downsample over-represented
    languages so the kept corpus matches ``MIXTURE_TARGET`` — the
    standard pretraining mixing step (the fixture corpus is ~44%
    English against a 30% target). The global scale λ = min_s
    n_s/(share_s·N) is the largest factor reachable WITHOUT
    upsampling: the scarcest language keeps everything (rate 1.0) and
    every other language is hash-thinned to sit at its target share
    relative to it. Selection is the pinned portable hash — same doc
    kept on every engine, every rerun, any partitioning.

    Determinism across engines: rates are IEEE doubles computed from
    the same integer counts via the same expression (identical bits),
    the threshold is FLOOR-quantized to 1e-6 explicitly (Spark's
    double→bigint CAST truncates while DuckDB's rounds — never compare
    through that cast), and the hash is integer arithmetic.

    Plan: one count aggregate (5 rows), λ and rates as 1-row/5-row
    broadcasts, then a map-side projection per doc — no shuffle of the
    corpus itself at any scale."""
    docs = load_raw(spark, sf_dir, "documents")
    # the |langs|-row model is re-referenced down the λ/rate chain —
    # one eager checkpoint of the tiny counts truncates the duplicate
    # documents scans (same fix as samp_temperature_mixture)
    counts = (
        docs.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    shares = F.create_map(
        *[F.lit(x) for kv in MIXTURE_TARGET.items() for x in kv]
    )
    with_share = counts.select(
        "lang", "n", F.element_at(shares, F.col("lang")).alias("share")
    ).filter(F.col("share").isNotNull())
    tot = with_share.agg(F.sum("n").cast("long").alias("nn"))
    lam = (
        with_share.crossJoin(tot)
        .agg(F.min(F.col("n") / (F.col("share") * F.col("nn"))).alias("l"))
    )
    rates = (
        with_share.crossJoin(tot)
        .crossJoin(lam)
        .select(
            "lang",
            F.least(
                F.lit(1.0),
                F.col("l") * F.col("share") * F.col("nn") / F.col("n"),
            ).alias("rate"),
        )
    )
    h = split_hash(F.col("doc_id")) % F.lit(MIX_RES)
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            ppm_value(F.col("rate")).alias("keep_rate"),
            (h < F.floor(F.col("rate") * MIX_RES).cast("long")).alias("keep"),
        )
    )


#: Temperature for mixture flattening: share_s ∝ (n_s/N)^τ. τ<1 boosts
#: low-resource domains; τ=1 is proportional; τ→0 is uniform.
MIX_TAU = 0.7


def _temperature_oracle() -> str:
    return f"""WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
w AS (
  SELECT lang, n, POWER(CAST(n AS DOUBLE) / t.nn, {MIX_TAU}) AS wt
  FROM counts, tot t
), sw AS (SELECT SUM(wt) AS s FROM w),
targets AS (
  SELECT lang, n, ROUND(wt / sw.s, 9) AS target FROM w, sw
), tot2 AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
lam AS (
  SELECT MIN(c.n / (c.target * t.nn)) AS l FROM targets c, tot2 t
)
SELECT d.doc_id, d.lang,
       ROUND(c.target, 6) AS target_share,
       ROUND(LEAST(1.0, lam.l * c.target * t.nn / c.n), 6) AS keep_rate,
       {split_hash_sql('d.doc_id')} % {MIX_RES}
         < CAST(FLOOR(ROUND(LEAST(1.0, lam.l * c.target * t.nn / c.n), 6)
                      * {MIX_RES}) AS BIGINT) AS keep
FROM documents d
JOIN targets c USING (lang), tot2 t, lam"""


@register("samp_temperature_mixture", _temperature_oracle())
def samp_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Temperature-scaled mixture resampling** (the multilingual-
    pretraining standard): instead of `samp_lang_mixture`'s hand-pinned
    target shares, the targets DERIVE from the data —
    ``share_s ∝ (n_s/N)^τ`` with ``MIX_TAU`` < 1 flattening the
    distribution toward low-resource languages (τ=1 keeps proportions,
    τ→0 forces uniform). Same no-upsampling λ cap and pinned portable
    hash selection as the fixed-target form.

    Cross-engine note: ``pow`` may differ by 1 ulp between libm and
    the JVM, so the derived target is quantized to 9 dp and the keep
    rate to 6 dp BEFORE the floor-threshold — the comparison then runs
    on identical doubles. Plan shape identical to samp_lang_mixture:
    |langs|-row model broadcast, map-side projection, no corpus
    shuffle."""
    docs = load_raw(spark, sf_dir, "documents")
    # the |langs|-row count model is re-referenced down a 4-stage
    # derivation chain (total, weights, targets, cap) whose doubled
    # references multiplied into 9 documents scans (r12 scan audit);
    # one eager checkpoint of the tiny model truncates all of them
    counts = (
        docs.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("n").cast("long").alias("nn"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        "nn",
        F.pow(F.col("n").cast("double") / F.col("nn"), F.lit(MIX_TAU)).alias(
            "wt"
        ),
    )
    sw = w.agg(F.sum("wt").alias("s"))
    targets = w.crossJoin(F.broadcast(sw)).select(
        "lang", "n", "nn", F.round(F.col("wt") / F.col("s"), 9).alias("target")
    )
    lam = targets.agg(
        F.min(F.col("n") / (F.col("target") * F.col("nn"))).alias("l")
    )
    rates = targets.crossJoin(F.broadcast(lam)).select(
        "lang",
        F.round("target", 6).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                F.col("l") * F.col("target") * F.col("nn") / F.col("n"),
            ),
            6,
        ).alias("keep_rate"),
    )
    h = split_hash(F.col("doc_id")) % F.lit(MIX_RES)
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            "target_share",
            "keep_rate",
            (h < F.floor(F.col("keep_rate") * MIX_RES).cast("long")).alias(
                "keep"
            ),
        )
    )


# ------------------------------------------- DSIR importance weights

#: DSIR target domain: the corpus slice whose distribution we want the
#: resampled data to match (the fixture's largest language).
DSIR_TARGET_LANG = "en"


def _dsir_oracle() -> str:
    return f"""WITH toks AS (
  SELECT d.doc_id, d.lang, unnest({DOC_TOKENS_SQL}) AS term FROM documents d
), raw AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY term
), tgt AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM toks
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY term
), tot AS (
  SELECT (SELECT SUM(cr) FROM raw) AS nr,
         (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt,
         (SELECT COUNT(*) FROM raw) AS v
)
SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(log2(CAST(COALESCE(g.ct, 0) + 1 AS DOUBLE) / (tot.nt + tot.v))
                 - log2(CAST(r.cr + 1 AS DOUBLE) / (tot.nr + tot.v)))
             / COUNT(*), 6) AS mean_log2_ratio
FROM toks t
JOIN raw r ON t.term = r.term
LEFT JOIN tgt g ON t.term = g.term
CROSS JOIN tot
GROUP BY t.doc_id"""


@register("samp_dsir_weights", _dsir_oracle())
def samp_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**DSIR** (Data Selection via Importance Resampling, Xie et al.
    2023, arXiv:2302.03169): score every document by how much more
    likely its tokens are under a *target-domain* unigram LM than under
    the *raw-corpus* LM — ``mean log₂ p_tgt(w)/p_raw(w)`` with add-one
    smoothing over the shared vocabulary. Documents scoring high look
    like the target domain and survive resampling; the fixture target
    is the ``lang = 'en'`` slice, so the score doubles as a
    train-time language-affinity filter (pytest pins that en docs
    outscore non-en docs on average).

    The paper hashes n-grams into a fixed feature space; over the
    fixture's bounded vocabulary the exact unigram form is the same
    estimator without the hash collisions, and keeps the whole chain
    SQL-expressible (the hashed variant changes only the grouping key).

    Scale: each LM is a map-side-combinable count over the exploded
    token stream; the scoring joins shuffle on term exactly like
    TF-IDF A5, and the 1-row totals broadcast. The plan re-scans
    documents once per LM leg — at 100 TB feed it the materialized
    token table (``s19_token_table_reuse``) so the corpus is tokenized
    once. Quantized to 6 dp (libm-vs-JVM log2 ulp)."""
    docs = load_raw(spark, sf_dir, "documents")
    # NOTE (r12): the token stream feeds both LM legs, the totals and
    # the scoring join, but an in-query persist of the exploded token
    # strings was MEASURED ~1.6x slower on this sub-second query (cache
    # write > cheap re-tokenize). The at-scale fix stays the
    # materialized token table (s19_token_table_reuse), as this
    # docstring already documents. See OPTIMIZATION_r12.md.
    toks = docs.select(
        "doc_id", "lang", F.explode(doc_tokens(F.col("text"))).alias("term")
    )
    raw = toks.groupBy("term").agg(F.count("*").alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("term")
        .agg(F.count("*").alias("ct"))
    )
    tot = raw.agg(
        F.sum("cr").alias("nr"), F.count("*").alias("v")
    ).crossJoin(tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    per_token = (
        toks.join(raw, "term")
        .join(tgt, "term", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            (
                F.log2(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + F.col("v"))
                )
                - F.log2(
                    (F.col("cr") + 1).cast("double") / (F.col("nr") + F.col("v"))
                )
            ).alias("w"),
        )
    )
    return per_token.groupBy("doc_id").agg(
        F.any_value(F.col("lang")).alias("lang"),
        F.count("*").alias("n_tokens"),
        F.round(F.sum("w") / F.count("*"), 6).alias("mean_log2_ratio"),
    )


# ----------------------------------------------------- score AUC eval

@register(
    "samp_dsir_auc",
    f"""WITH d AS ({_dsir_oracle()}),
r AS (
  SELECT CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS pos,
         RANK() OVER (ORDER BY mean_log2_ratio ASC) AS mr,
         COUNT(*) OVER (PARTITION BY mean_log2_ratio) AS ties
  FROM d
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
       CAST(CAST(FLOOR(((SUM(CASE WHEN pos = 1 THEN mr + (ties - 1) / 2.0 ELSE 0 END) - SUM(pos) * (SUM(pos) + 1) / 2.0) / (SUM(pos) * SUM(1 - pos))) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS auc
FROM r""",
)
def samp_dsir_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**ROC-AUC of the DSIR score against the target-domain label**,
    computed exactly via the Mann-Whitney rank-sum identity:
    ``AUC = (Σ ranks(positives) − n₊(n₊+1)/2) / (n₊·n₋)`` with
    average ranks for ties — the standard "is this filter score
    actually separating the domains?" acceptance gate a curation
    pipeline runs before trusting a filter (cf. the langid confusion
    matrix for the hard-label analogue). No sampling, no sklearn: one
    global rank window over the quantized scores, a single-row
    aggregate. The DSIR scores are 6-dp-quantized upstream, so the
    rank assignment (including tie groups) is engine-identical and
    the whole metric hash-matches.

    Scale: the global rank is ONE sort of |docs| score rows (not the
    corpus — scores are one row per doc); at 100 TB you'd rank within
    strata or sample, but the exact form is the oracle-able gate."""
    from pyspark.sql import Window

    d = samp_dsir_weights(spark, sf_dir).select(
        F.when(F.col("lang") == DSIR_TARGET_LANG, 1)
        .otherwise(0)
        .alias("pos"),
        F.col("mean_log2_ratio").alias("score"),
    )
    r = d.select(
        "pos",
        F.rank().over(Window.orderBy(F.asc("score"))).alias("mr"),
        F.count("*").over(Window.partitionBy("score")).alias("ties"),
    )
    n_pos = F.sum("pos")
    n_neg = F.sum(1 - F.col("pos"))
    rank_sum = F.sum(
        F.when(F.col("pos") == 1, F.col("mr") + (F.col("ties") - 1) / 2.0)
        .otherwise(0.0)
    )
    return r.agg(
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        ppm_value(
            (rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
        ).alias("auc"),
    )


# ------------------------------------------------------- SRM check

@register(
    "samp_srm_check",
    f"""WITH s AS ({_SPLIT_ORACLE}),
o AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY split
), tot AS (SELECT SUM(n) AS total FROM o),
expect AS (
  SELECT 'train' AS split, {TRAIN_BUCKETS} / 10.0 AS p
  UNION ALL SELECT 'val', {VAL_BUCKETS} / 10.0
  UNION ALL SELECT 'test', {10 - TRAIN_BUCKETS - VAL_BUCKETS} / 10.0
)
SELECT e.split, o.n,
       CAST(ROUND(e.p * tot.total, 6) AS DOUBLE) AS expected,
       ROUND((o.n - e.p * tot.total) * (o.n - e.p * tot.total)
             / (e.p * tot.total), 6) AS chi2_term
FROM expect e JOIN o ON o.split = e.split CROSS JOIN tot""",
)
def samp_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Sample-ratio-mismatch (SRM) check** on the 80/10/10 hash
    split: observed vs expected bucket counts with per-bucket
    chi-square terms — the first thing an experimentation platform
    validates before trusting ANY A/B readout (a biased assignment
    invalidates downstream comparisons no matter how careful the
    metric math is; with a hash split, a failing SRM means the hash
    is correlated with the id structure). Σ chi2_term against the
    2-dof critical value is the reader's verdict. Exact counts; one
    tiny aggregate over the split assignment."""
    splits = samp_split_assign(spark, sf_dir).groupBy("split").agg(
        F.count("*").cast("long").alias("n")
    )
    total = splits.agg(F.sum("n").alias("total"))
    expect = spark.createDataFrame(
        [
            ("train", TRAIN_BUCKETS / 10.0),
            ("val", VAL_BUCKETS / 10.0),
            ("test", (10 - TRAIN_BUCKETS - VAL_BUCKETS) / 10.0),
        ],
        "split string, p double",
    )
    e = F.col("p") * F.col("total")
    return (
        expect.join(splits, "split")
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            "n",
            F.round(e, 6).cast("double").alias("expected"),
            F.round((F.col("n") - e) * (F.col("n") - e) / e, 6).alias(
                "chi2_term"
            ),
        )
    )


# ------------------------------------------------- split leakage report

def _split_case_sql(key: str = "doc_id") -> str:
    """The split CASE expression shared with ``_SPLIT_ORACLE`` —
    parameterized on the hashed key so the group-safe variant can
    bucket by canonical cluster id instead of doc id."""
    return (
        f"CASE WHEN {split_hash_sql(key)} % 10 < {TRAIN_BUCKETS}"
        f" THEN 'train'"
        f" WHEN {split_hash_sql(key)} % 10 <"
        f" {TRAIN_BUCKETS + VAL_BUCKETS} THEN 'val'"
        f" ELSE 'test' END"
    )


def _split_leakage_oracle() -> str:
    from .dedup import _minhash_ctes

    return f"""WITH {_minhash_ctes()},
spl AS (SELECT doc_id, {_split_case_sql()} AS split FROM documents)
SELECT LEAST(sa.split, sb.split) AS split_a,
       GREATEST(sa.split, sb.split) AS split_b,
       (sa.split <> sb.split) AS is_leak,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM mh_pairs p
JOIN spl sa ON p.doc_a = sa.doc_id
JOIN spl sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2, 3"""


@register("samp_split_leakage", _split_leakage_oracle())
def samp_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test **leakage report**: how many verified near-dup
    pairs (the MinHash-LSH relation, operators/dedup.py) STRADDLE a
    split boundary. A near-dup of a test doc sitting in train is
    memorization leakage the eval can't see — the audit every
    hash-split pretraining corpus needs before the split is trusted.

    Composition of two already-verified relations: LSH near-dup pairs
    × the deterministic split assignment (both sides of each pair),
    normalized to an unordered (split_a ≤ split_b) key + an ``is_leak``
    flag, counted. The whole chain — shingles, signatures, banding,
    verify, split hash, counts — is hash-compared against the DuckDB
    oracle. Scale: the pair relation is LSH-bounded (never all-pairs),
    the split lookup is a map-side hash of doc_id (no dim join), and
    the final aggregate has ≤ 6 groups."""
    from .dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    spl = samp_split_assign(spark, sf_dir).select("doc_id", "split")
    joined = (
        pairs.join(
            spl.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            spl.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
    )
    return (
        joined.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.col("sa") != F.col("sb")).alias("is_leak"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# ---------------------------------------------- curriculum ordering

#: Curriculum decile count (1 = highest quality, served first).
CURRICULUM_BUCKETS = 10


def _curriculum_oracle() -> str:
    n_cuts = CURRICULUM_BUCKETS - 1
    cut_cols = ", ".join(
        f"MIN(CASE WHEN h.cum >= t.t{k} THEN h.v END) AS c{k}"
        for k in range(1, n_cuts + 1)
    )
    thresholds = ", ".join(
        f"(n * {k} + {CURRICULUM_BUCKETS - 1}) // {CURRICULUM_BUCKETS} AS t{k}"
        for k in range(1, n_cuts + 1)
    )
    decile = " + ".join(
        f"CAST(q.q6 <= c.c{k} AS INTEGER)" for k in range(1, n_cuts + 1)
    )
    return f"""WITH q AS (
  SELECT doc_id,
         CAST(CAST(FLOOR((CAST(0.4 * LEAST(CAST(len(ts) AS DOUBLE) / 100.0, 1.0)
              + 0.3 * LEAST(CASE WHEN len(ts) > 0 THEN
                    CAST(len(list_filter(ts, t -> t IN ({STOPWORDS_SQL}))) AS DOUBLE) / len(ts)
                  ELSE 0.0 END * 4, 1.0)
              + 0.3 * (CASE WHEN len(ts) > 0 THEN
                    CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
                  ELSE 0.0 END) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS q6
  FROM (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents)
),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
th AS (SELECT {thresholds} FROM agg),
h AS (SELECT q6 AS v, SUM(CAST(COUNT(*) AS BIGINT)) OVER (ORDER BY q6) AS cum
      FROM q GROUP BY q6),
c AS (SELECT {cut_cols} FROM h, th t)
SELECT q.doc_id, q.q6 AS quality,
       CAST(1 + {decile} AS INTEGER) AS decile
FROM q, c"""


@register("samp_curriculum_order", _curriculum_oracle())
def samp_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Curriculum assignment**: every document gets a quality decile
    (1 = highest-quality tenth, served first in training) derived from
    the pinned quality heuristic (operators/textstats.py). The
    curriculum ORDER is then the deterministic sort key
    ``(decile, quality DESC, doc_id)`` — emitted as columns, not as a
    global rank, so no single-reducer window exists anywhere.

    Same scale-safe quantile machinery as ``ev_user_rfm_scalable``:
    type-1 inverse-ECDF decile cuts over the DISTINCT quantized-score
    histogram (quality ∈ [0,1] rounded to 6 dp → ≤ 10⁶+1 distinct
    values REGARDLESS of corpus size — the cumulative window input is
    bounded by the value grid, not the doc count), integer ceil
    thresholds, then a map-side bucket compare against 9 collected
    scalars. Decile 1 holds the TOP scores: d = 1 + Σₖ [q ≤ cut_k]."""
    from pyspark.sql import Window

    from .textstats import ts_quality_score

    n_cuts = CURRICULUM_BUCKETS - 1
    q = bsp.persist(
        ts_quality_score(spark, sf_dir).select(
            "doc_id", ppm_value(F.col("quality")).alias("q6")
        )
    )
    head = q.agg(F.count("*").alias("n")).first()
    n = int(head["n"]) if head else 0
    if n == 0:
        return spark.createDataFrame([], "doc_id long, quality double, decile int")
    ts = [
        (n * k + CURRICULUM_BUCKETS - 1) // CURRICULUM_BUCKETS
        for k in range(1, n_cuts + 1)
    ]
    hist = q.groupBy("q6").agg(F.count("*").cast("long").alias("cnt"))
    cum = hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("q6")))
    cut_row = cum.agg(
        *[
            F.min(F.when(F.col("cum") >= t, F.col("q6"))).alias(f"c{k}")
            for k, t in enumerate(ts, start=1)
        ]
    ).first()
    decile = F.lit(1)
    for k in range(1, n_cuts + 1):
        decile = decile + (F.col("q6") <= F.lit(cut_row[f"c{k}"])).cast("int")
    return bsp.checkpoint_result(
        q.select(
            "doc_id", F.col("q6").alias("quality"), decile.cast("int").alias("decile")
        )
    )


# ----------------------------------------------------- k-fold CV splits

#: Cross-validation fold count.
KFOLD_K = 5


@register(
    "samp_kfold_assign",
    f"""SELECT doc_id,
       CAST({split_hash_sql()} % {KFOLD_K} AS INTEGER) AS fold,
       CAST({split_hash_sql()} % {KFOLD_K} = 0 AS BOOLEAN)
         AS is_holdout_fold0
FROM documents""",
)
def samp_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**k-fold cross-validation assignment** as a pure function of
    doc_id (same pinned Knuth hash as the train/val/test split, modulo
    ``KFOLD_K``): any engine, any partitioning, any retry produces
    identical folds, so fold-out evaluation is reproducible and
    auditable after the fact. The ``is_holdout_fold0`` flag is the
    ready-made mask for the first rotation. Map-side, no shuffle, no
    state."""
    docs = load_raw(spark, sf_dir, "documents")
    fold = (split_hash("doc_id") % KFOLD_K).cast("int")
    return docs.select(
        "doc_id",
        fold.alias("fold"),
        (fold == 0).alias("is_holdout_fold0"),
    )


# ------------------------------------------------- Poisson bootstrap

#: Bootstrap replicate count.
BOOT_B = 8

#: Poisson(1) CDF thresholds, pinned as shared literals (exact doubles
#: of e^-1 partial sums to 16 dp) — the inverse-CDF lookup both engines
#: evaluate on the identical exact-rational uniform draw.
POISSON1_CDF = (
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _boot_u_sql() -> str:
    """The per-(doc, replicate) uniform draw: pinned Knuth hash of the
    interleaved key, mapped to the exact rational (h + 0.5) / 2^32.

    The id is pre-reduced mod 2^32 BEFORE interleaving — congruent mod
    2^32 ((d mod m)·B + b ≡ d·B + b), so certified hashes are
    unchanged, while the interleaved key now tops out at ~3.4e10
    instead of wrapping BIGINT for ids ≥ 2^63/B (round-9 advice: the
    wrap was the one overflow split_hash itself couldn't absorb)."""
    return (
        f"({split_hash_sql(f'(doc_id % {HASH_MOD}) * {BOOT_B} + b')} + 0.5)"
        f" / {HASH_MOD}"
    )


def _boot_w_sql(u: str) -> str:
    case = "CASE "
    for k, t in enumerate(POISSON1_CDF):
        case += f"WHEN {u} < {t!r} THEN {k} "
    return case + f"ELSE {len(POISSON1_CDF)} END"


@register(
    "samp_poisson_bootstrap",
    f"""SELECT b AS replicate,
       CAST(SUM(w) AS BIGINT) AS n_eff,
       CAST(CAST(FLOOR((CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_chars
FROM (
  SELECT b, n_chars, {_boot_w_sql(_boot_u_sql())} AS w
  FROM documents
  CROSS JOIN (SELECT UNNEST(range({BOOT_B})) AS b) reps
)
GROUP BY b
HAVING SUM(w) > 0""",
)
def samp_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Deterministic Poisson bootstrap** — the scale-native bootstrap
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012): instead of resampling n rows WITH
    replacement (a shuffle per replicate), each row independently
    receives a Poisson(1) multiplicity per replicate, so ALL B
    replicates are computed in ONE scan with map-side partial
    aggregation and no data movement beyond the B·9-row final agg.

    The Poisson draw is the inverse CDF evaluated on the pinned Knuth
    hash of ``doc_id·B + b`` mapped to the exact rational
    ``(h + 0.5)/2^32`` — exactly representable in a double, so both
    engines compare the identical values against the identical pinned
    thresholds: reproducible under retries, repartitioning, and engine
    swap. Output: per-replicate effective row count and mean document
    length — the spread across replicates IS the sampling-error
    estimate for the corpus statistic.

    Scale: the replicate explosion is a per-row ``explode(sequence)``
    (B× rows in the map stage only, combined before any shuffle);
    state is O(B · groups), independent of corpus size."""
    docs = load_raw(spark, sf_dir, "documents")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    # Pre-reduce mod 2^32 before interleaving (congruent, overflow-safe
    # for every BIGINT id — see _boot_u_sql).
    h = split_hash((F.col("doc_id") % F.lit(HASH_MOD)) * BOOT_B + F.col("b"))
    u = (h + F.lit(0.5)) / F.lit(HASH_MOD)
    w = None
    for k, t in enumerate(POISSON1_CDF):
        w = F.when(u < t, k) if w is None else w.when(u < t, k)
    w = w.otherwise(len(POISSON1_CDF))
    return (
        reps.select("b", "n_chars", w.alias("w"))
        .groupBy(F.col("b").alias("replicate"))
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            ppm_value(
                F.sum(F.col("w") * F.col("n_chars"))
                / F.sum("w").cast("double")
            ).alias("mean_chars"),
        )
        .filter(F.col("n_eff") > 0)
    )


# ------------------------------------------- group-safe split assignment

def _group_safe_split_oracle() -> str:
    from .dedup import _CANONICAL_ORACLE

    return f"""WITH canon AS (
{_CANONICAL_ORACLE}
)
SELECT doc_id, canonical_id, {_split_case_sql("canonical_id")} AS split
FROM canon"""


@register("samp_split_group_safe", _group_safe_split_oracle())
def samp_split_group_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Group-safe train/val/test split**: every document is bucketed
    by the pinned hash of its near-dup cluster's CANONICAL id, so an
    entire near-dup cluster lands in one split — the constructive fix
    for what ``samp_split_leakage`` detects (a near-dup of a test doc
    sitting in train). By construction, every verified near-dup pair
    has zero split leakage under this assignment, at the cost of
    slightly lumpier split sizes (clusters move atomically); singletons
    (canonical = own id) bucket exactly as ``samp_split_assign`` would.

    Composition: the registered canonical verdict
    (``dedup_neardup_canonical``) + the same pinned multiplicative
    hash, applied to canonical_id. Scale: the canonical relation is
    the already-analyzed dedup path; the split itself is a map-side
    pure function — no extra shuffle at any corpus size."""
    from .dedup import dedup_neardup_canonical

    canon = dedup_neardup_canonical(spark, sf_dir).select(
        "doc_id", "canonical_id"
    )
    bucket = split_hash("canonical_id") % 10
    return canon.select(
        "doc_id",
        "canonical_id",
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < TRAIN_BUCKETS + VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ----------------------------------------------------- per-source cap

#: Max documents retained per source (the per-domain quota used to stop
#: a single crawl domain from dominating the training mixture).
SOURCE_CAP = 30


@register(
    "samp_source_cap_report",
    f"""WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {split_hash_sql()}, doc_id
         ) AS pos
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pos <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN pos > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN pos <= {SOURCE_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_kept
FROM ranked
GROUP BY source""",
)
def samp_source_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-domain document quota** (the anti-domination cap every
    web-scale training mixture applies — no single crawl source may
    contribute more than ``SOURCE_CAP`` documents) plus the audit
    report: per source, how many documents and characters the cap
    keeps vs drops. Selection inside each source is pinned-hash order
    (same portable multiplicative hash as the splits), so the kept set
    is deterministic across engines, retries, and partitionings.

    Plan: one shuffle on ``source`` feeds both the quota window and
    the per-source aggregate; window state is bounded by the largest
    single domain, not the corpus. At 100 TB the same shape holds —
    the cap is a rank predicate, never a collect."""
    docs = load_raw(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        split_hash("doc_id").asc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("pos")
    )
    kept = F.col("pos") <= SOURCE_CAP
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.sum((~kept).cast("int")).cast("long").alias("n_dropped"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )


# --------------------------------------- token-budget waterfilling

#: Budget = this fraction of total corpus tokens (0.8: high enough
#: that the heaviest-weighted sources exhaust their availability and
#: cap, exercising both waterfill branches); weights are pinned
#: per source as ``1 + (source index mod 5)`` so weight shares differ
#: from availability shares and the binding (capped) set is nonempty
#: on the uniform fixture.
WATERFILL_BUDGET_FRAC = 0.8

_WF_TOKENS_SQL = f"CAST(len({DOC_TOKENS_SQL}) AS BIGINT)"


@register(
    "samp_token_budget_waterfill",
    f"""WITH avail AS (
  SELECT source,
         CAST(SUM({_WF_TOKENS_SQL}) AS BIGINT) AS c,
         CAST(1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 5
              AS BIGINT) AS w
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(FLOOR({WATERFILL_BUDGET_FRAC} * SUM(c)) AS BIGINT) AS b,
         SUM(c) AS total_c, SUM(w) AS total_w
  FROM avail
),
srt AS (
  SELECT a.source, a.c, a.w, t.b,
         CAST(a.c AS DOUBLE) / a.w AS r,
         COALESCE(SUM(a.c) OVER (ORDER BY CAST(a.c AS DOUBLE) / a.w, a.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_c,
         COALESCE(SUM(a.w) OVER (ORDER BY CAST(a.c AS DOUBLE) / a.w, a.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_w,
         COALESCE(MAX(CAST(a.c AS DOUBLE) / a.w) OVER (
           ORDER BY CAST(a.c AS DOUBLE) / a.w, a.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r_prev,
         t.total_w
  FROM avail a CROSS JOIN tot t
),
lam AS (
  SELECT MIN((b - cum_c) / (total_w - cum_w)) AS lambda
  FROM srt
  WHERE total_w > cum_w
    AND (b - cum_c) / (total_w - cum_w) >= r_prev
    AND (b - cum_c) / (total_w - cum_w) <= r
)
SELECT s.source, s.c AS available_tokens, s.w AS weight,
       CASE WHEN l.lambda IS NULL THEN CAST('inf' AS DOUBLE)
            ELSE CAST(CAST(FLOOR((l.lambda) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 END AS water_level,
       CAST(CAST(FLOOR((LEAST(CAST(s.c AS DOUBLE), COALESCE(l.lambda * s.w, CAST(s.c AS DOUBLE)))) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS allocated_tokens,
       CAST(s.c <= COALESCE(l.lambda * s.w, CAST(s.c AS DOUBLE) + 1) AS BOOLEAN)
         AS capped
FROM srt s CROSS JOIN lam l""",
)
def samp_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a corpus-level token budget across sources by target
    weights with per-source availability caps — the LLM data-mixing
    primitive ("sample domain d at rate proportional to w_d, but a
    domain can't contribute more tokens than it has"). Waterfilling:
    the unique λ with Σ_d min(c_d, λ·w_d) = B, found in closed form by
    sorting domains by c/w ascending and scanning prefix sums — the
    k-th boundary's candidate λ_k = (B − Σ_{i<k} c_i)/(Σ_{i≥k} w_i) is
    the answer iff r_{k-1} ≤ λ_k ≤ r_k, so exactly one row validates
    (none when B ≥ Σc: every domain is capped, λ = +inf).

    Plan: per-source token counts = one hash aggregate over documents
    (exact BIGINT sums, so the sort ratios are deterministic); the
    waterfill itself runs entirely on the O(|sources|) aggregated
    relation — global windows and the 1-row budget/λ cross joins are
    the allowlisted scalar-broadcast pattern, never data-sized. At
    100 TB only the token-count aggregate touches data; the allocator
    is constant-time per domain regardless of corpus size."""
    docs = load_raw(spark, sf_dir, "documents")
    n_tok = F.size(doc_tokens(F.col("text"))).cast("bigint")
    avail = docs.groupBy("source").agg(
        F.sum(n_tok).cast("bigint").alias("c"),
        F.first(
            (
                F.lit(1)
                + F.regexp_extract(F.col("source"), r"([0-9]+)", 1).cast(
                    "int"
                )
                % 5
            ).cast("bigint")
        ).alias("w"),
    )
    tot = avail.agg(
        F.floor(F.lit(WATERFILL_BUDGET_FRAC) * F.sum("c"))
        .cast("bigint")
        .alias("b"),
        F.sum("c").alias("total_c"),
        F.sum("w").alias("total_w"),
    )
    r = F.col("c").cast("double") / F.col("w")
    w_prev = (
        Window.orderBy(r, "source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    srt = (
        avail.crossJoin(F.broadcast(tot))
        .withColumn("r", r)
        .withColumn("cum_c", F.coalesce(F.sum("c").over(w_prev), F.lit(0)))
        .withColumn("cum_w", F.coalesce(F.sum("w").over(w_prev), F.lit(0)))
        .withColumn(
            "r_prev", F.coalesce(F.max("r").over(w_prev), F.lit(0.0))
        )
    )
    cand = (F.col("b") - F.col("cum_c")) / (
        F.col("total_w") - F.col("cum_w")
    )
    lam = srt.filter(
        (F.col("total_w") > F.col("cum_w"))
        & (cand >= F.col("r_prev"))
        & (cand <= F.col("r"))
    ).agg(F.min(cand).alias("lambda"))
    inf = F.lit(float("inf"))
    return (
        srt.crossJoin(F.broadcast(lam))
        .select(
            "source",
            F.col("c").alias("available_tokens"),
            F.col("w").alias("weight"),
            F.when(F.col("lambda").isNull(), inf)
            .otherwise(ppm_value(F.col("lambda")))
            .alias("water_level"),
            ppm_value(
                F.least(
                    F.col("c").cast("double"),
                    F.coalesce(
                        F.col("lambda") * F.col("w"),
                        F.col("c").cast("double"),
                    ),
                )
            ).alias("allocated_tokens"),
            (
                F.col("c").cast("double")
                <= F.coalesce(
                    F.col("lambda") * F.col("w"),
                    F.col("c").cast("double") + 1,
                )
            ).alias("capped"),
        )
    )


# ------------------------------------------ Neyman optimal allocation

#: Total sample size as a fraction of the corpus (pinned).
NEYMAN_SAMPLE_FRAC = 0.1


@register(
    "samp_neyman_allocation",
    f"""WITH st AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({_WF_TOKENS_SQL}) AS BIGINT) AS s1,
         CAST(SUM({_WF_TOKENS_SQL} * {_WF_TOKENS_SQL}) AS BIGINT) AS s2
  FROM documents GROUP BY source
), sig AS (
  SELECT source, n_docs,
         SQRT(GREATEST(CAST(s2 AS DOUBLE) / n_docs
              - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs),
              0.0)) AS sigma
  FROM st
), tot AS (
  SELECT CAST(FLOOR({NEYMAN_SAMPLE_FRAC} * SUM(n_docs)) AS BIGINT) AS n,
         SUM(n_docs) AS big_n,
         SUM(n_docs * sigma) AS denom
  FROM sig
)
SELECT s.source, s.n_docs, ROUND(s.sigma, 6) AS sigma_tokens,
       ROUND(t.n * s.n_docs * s.sigma / t.denom, 6) AS neyman_n,
       CAST(CAST(FLOOR((CAST(t.n AS DOUBLE) * s.n_docs / t.big_n) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS proportional_n
FROM sig s CROSS JOIN tot t""",
)
def samp_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Neyman optimal allocation** of a fixed sample budget across
    strata (sources): n_h ∝ N_h·σ_h — the variance-minimizing split
    for estimating mean document length, vs the proportional n_h ∝
    N_h baseline column. The audit-sampling companion to
    :func:`samp_token_budget_waterfill` (that op allocates TRAINING
    tokens under caps; this allocates INSPECTION budget under a
    variance objective): high-variance sources earn more QA draws per
    document.

    Determinism: per-stratum moments are exact BIGINT Σx/Σx² (token
    counts are integers), so σ_h is one sqrt of an exactly-agreed
    rational; GREATEST(·,0) guards the classic negative-epsilon
    variance from the two-pass-free formula.

    Scale: one hash aggregate over documents + a 1-row total/denom
    broadcast over the O(|sources|) grid — identical cost envelope to
    the waterfill."""
    docs = load_raw(spark, sf_dir, "documents")
    n_tok = F.size(doc_tokens(F.col("text"))).cast("bigint")
    st = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("s1"),
        F.sum(n_tok * n_tok).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_docs")
    sig = st.select(
        "source",
        "n_docs",
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n_docs") - mean * mean,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    tot = sig.agg(
        F.floor(F.lit(NEYMAN_SAMPLE_FRAC) * F.sum("n_docs"))
        .cast("bigint")
        .alias("n"),
        F.sum("n_docs").alias("big_n"),
        F.sum(F.col("n_docs") * F.col("sigma")).alias("denom"),
    )
    return sig.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round("sigma", 6).alias("sigma_tokens"),
        F.round(
            F.col("n") * F.col("n_docs") * F.col("sigma") / F.col("denom"),
            6,
        ).alias("neyman_n"),
        F.round(
            F.col("n").cast("double") * F.col("n_docs") / F.col("big_n"), 6
        ).alias("proportional_n"),
    )


# ------------------------------- DSIR weight truncation + ESS report

#: Truncation point: the pinned percentile of the per-doc score grid.
DSIR_CLIP_PCT = 90


@register(
    "samp_dsir_ess_truncation",
    f"""WITH dsir AS ({_dsir_oracle()}),
grid AS (
  SELECT mean_log2_ratio AS s, COUNT(*) AS c FROM dsir GROUP BY 1
),
cum AS (
  SELECT s, SUM(c) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(c) OVER () AS n
  FROM grid
),
cut AS (
  SELECT MIN(s) AS cut_s FROM cum WHERE cn * 100 >= n * {DSIR_CLIP_PCT}
),
w AS (
  SELECT POWER(2.0, d.mean_log2_ratio) AS w,
         POWER(2.0, LEAST(d.mean_log2_ratio, c.cut_s)) AS wt,
         CAST(d.mean_log2_ratio > c.cut_s AS INTEGER) AS clipped
  FROM dsir d CROSS JOIN cut c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(MAX(cut.cut_s), 6) AS cut_log2,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       ROUND(SUM(w) * SUM(w) / SUM(w * w) / COUNT(*), 6)
         AS ess_frac_raw,
       ROUND(SUM(wt) * SUM(wt) / SUM(wt * wt) / COUNT(*), 6)
         AS ess_frac_truncated,
       ROUND(SUM(wt) / SUM(w), 6) AS mass_kept_frac
FROM w CROSS JOIN cut""",
)
def samp_dsir_ess_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Importance-weight truncation diagnostic** for DSIR
    resampling: effective sample size (Kong 1992, ESS = (Σw)²/Σw²,
    reported as a fraction of n) of the raw 2^score weights vs the
    same weights clipped at the ``DSIR_CLIP_PCT``-th percentile score
    — the standard variance/bias dial before importance resampling
    (a tiny ESS fraction means a handful of docs would dominate the
    resample; clipping trades a little selection bias for a usable
    ESS). Also reports how many docs hit the clip and the weight
    mass the clip retains.

    Determinism: per-doc scores arrive 6-dp quantized from
    :func:`samp_dsir_weights`, so the percentile cut is exact integer
    logic on the distinct-score grid (same nearest-rank discipline as
    the conversion-lag percentiles); 2^s is one pow per doc whose
    ulp-level engine variance washes out in the 6-dp-rounded
    aggregate ratios.

    Scale: grid window runs over O(distinct scores); everything else
    is one pass of map-side-combinable sums. Inherits DSIR's own
    scaling story for the score stage."""
    from pyspark.sql import Window

    d = samp_dsir_weights(spark, sf_dir).select(
        F.col("mean_log2_ratio").alias("s")
    )
    grid = d.groupBy("s").agg(F.count("*").alias("c"))
    cum = grid.select(
        "s",
        F.sum("c")
        .over(
            Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cn"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    cut = cum.filter(
        F.col("cn") * 100 >= F.col("n") * DSIR_CLIP_PCT
    ).agg(F.min("s").alias("cut_s"))
    w = d.crossJoin(F.broadcast(cut)).select(
        F.pow(F.lit(2.0), F.col("s")).alias("w"),
        F.pow(F.lit(2.0), F.least(F.col("s"), F.col("cut_s"))).alias(
            "wt"
        ),
        (F.col("s") > F.col("cut_s")).cast("int").alias("clipped"),
        "cut_s",
    )
    return w.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.max("cut_s"), 6).alias("cut_log2"),
        F.sum("clipped").cast("bigint").alias("n_clipped"),
        F.round(
            F.sum("w") * F.sum("w") / F.sum(F.col("w") * F.col("w"))
            / F.count("*"),
            6,
        ).alias("ess_frac_raw"),
        F.round(
            F.sum("wt") * F.sum("wt") / F.sum(F.col("wt") * F.col("wt"))
            / F.count("*"),
            6,
        ).alias("ess_frac_truncated"),
        F.round(F.sum("wt") / F.sum("w"), 6).alias("mass_kept_frac"),
    )


# ------------------------------------- PPS systematic sampling

#: Sample size and prefix-sum bucket width (docs per bucket) for the
#: two-phase cumulative sum.
PPS_SAMPLES = 100
PPS_BUCKET = 256


@register(
    "samp_pps_systematic",
    f"""WITH sizes AS (
  SELECT doc_id, {_WF_TOKENS_SQL} AS s FROM documents
), cum AS (
  SELECT doc_id, s,
         SUM(s) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(s) OVER () AS total
  FROM sizes
)
-- Madow systematic PPS with the deterministic midpoint start:
-- sample points p_k = total*(2k+1)/(2m); doc d (covering the
-- half-open cumulative interval (c-s, c]) is hit once per point
-- inside. Scaled by 2m, everything stays exact BIGINT:
-- hits = floor((2m*c - total)/(2*total)) - floor((2m*(c-s) - total)/(2*total))
-- for intervals past the first point, computed via integer FLOOR division
SELECT doc_id, s AS n_tokens,
       CAST(hits AS BIGINT) AS n_hits,
       CAST(CAST(FLOOR((LEAST(1.0, CAST({PPS_SAMPLES} AS DOUBLE) * s / total))
                       * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS inclusion_prob
FROM (
  SELECT doc_id, s, total,
         GREATEST(CAST(FLOOR(CAST(2 * {PPS_SAMPLES} * c - total AS DOUBLE)
                   / (2 * total)) AS BIGINT), -1)
         - GREATEST(CAST(FLOOR(CAST(2 * {PPS_SAMPLES} * (c - s) - total AS DOUBLE)
                   / (2 * total)) AS BIGINT), -1) AS hits
  FROM cum
) WHERE hits > 0""",
)
def samp_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Systematic PPS sampling** (Madow): walk the cumulative
    token-size line and take ``PPS_SAMPLES`` equally spaced points
    (deterministic midpoint start — no RNG state), so each document's
    hit count is proportional to its size with zero variance in the
    total. The inspection-sampling workhorse: long docs (more tokens
    at risk) get proportionally more QA draws, and the arithmetic is
    exact BIGINT after scaling by 2m, identical in both engines.

    Scale — the part worth copying: the cumulative sum is TWO-PHASE,
    never a corpus-wide single-partition window (the exact-RFM NTILE
    trap the round-3 verdict flagged). Bucket docs by
    ``doc_id DIV {PPS_BUCKET}``, (1) aggregate per-bucket totals and
    prefix-sum THAT bounded grid, (2) window only WITHIN buckets,
    (3) add the bucket offset — the classic distributed prefix-sum,
    expressed entirely in DataFrame ops. The DuckDB twin uses the
    naive global cumsum; values are identical."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    n_tok = F.size(doc_tokens(F.col("text"))).cast("bigint")
    sizes = docs.select(
        "doc_id",
        n_tok.alias("s"),
        (F.col("doc_id") / PPS_BUCKET).cast("bigint").alias("bkt"),
    )
    bucket_tot = sizes.groupBy("bkt").agg(
        F.sum("s").cast("bigint").alias("bs")
    )
    w_b = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_tot.select(
        "bkt",
        F.coalesce(F.sum("bs").over(w_b), F.lit(0)).alias("off"),
        F.sum("bs").over(Window.partitionBy()).alias("total"),
    )
    w_in = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        sizes.join(F.broadcast(offsets), "bkt")
        .withColumn("c", F.col("off") + F.sum("s").over(w_in))
    )
    m = PPS_SAMPLES

    def fl(expr):
        return F.greatest(
            F.floor(
                (expr).cast("double") / (2 * F.col("total"))
            ).cast("bigint"),
            F.lit(-1),
        )

    hits = fl(2 * m * F.col("c") - F.col("total")) - fl(
        2 * m * (F.col("c") - F.col("s")) - F.col("total")
    )
    return (
        cum.withColumn("hits", hits)
        .filter(F.col("hits") > 0)
        .select(
            "doc_id",
            F.col("s").alias("n_tokens"),
            F.col("hits").cast("bigint").alias("n_hits"),
            ppm_value(
                F.least(
                    F.lit(1.0),
                    F.lit(float(m)) * F.col("s") / F.col("total"),
                )
            ).alias("inclusion_prob"),
        )
    )


# ------------------------------------------- class rebalancing

_BALANCE_ORACLE = f"""WITH lab AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         {split_hash_sql()} AS h
  FROM documents
),
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM lab GROUP BY label
),
minority AS (SELECT MIN(n) AS n_min FROM sizes),
ranked AS (
  SELECT doc_id, label, h,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY h, doc_id) AS rk
  FROM lab
)
SELECT doc_id, CAST(label AS BIGINT) AS label
FROM ranked CROSS JOIN minority
WHERE rk <= n_min
ORDER BY doc_id"""


@register("samp_balanced_downsample", _BALANCE_ORACLE)
def samp_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Deterministic class rebalancing**: downsample every class to
    the minority-class size by keeping each class's first n_min rows
    in pinned-hash order — uniform-without-replacement per class,
    reproducible across engines/retries (the property the training-set
    manifest needs; never ``rand()``). One pass for class sizes (2-row
    broadcast + 1-row min), one rank-per-class window; Catalyst turns
    the rank filter into WindowGroupLimit so each partition keeps at
    most n_min rows per class before the shuffle."""
    docs = load_raw(spark, sf_dir, "documents")
    lab = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        split_hash("doc_id").alias("h"),
    )
    minority = (
        lab.groupBy("label")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("n_min"))
    )
    w = Window.partitionBy("label").orderBy("h", "doc_id")
    return (
        lab.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(minority))
        .filter(F.col("rk") <= F.col("n_min"))
        .select("doc_id", F.col("label").cast("long").alias("label"))
        .orderBy("doc_id")
    )
