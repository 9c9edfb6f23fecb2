"""End-to-end LLM training-data curation pipeline.

The LLM-ops flagship: compose the curation stages every pre-training
corpus goes through — exact dedup (keep the canonical copy), language
gate, quality gate, split assignment — into one declarative plan:

    documents
      ├─ canonical:  min doc_id per sha2(text)   (exact dedup)
      ├─ language:   marker-token argmax          (ts_lang_id)
      ├─ quality:    [0,1] heuristic              (ts_quality_score)
      └─ split:      pinned-hash train/val/test   (samp_split_assign)
    → keep canonical ∧ lang='en' ∧ quality ≥ MIN, tagged with split

Each stage is the already-oracle-verified operator, and the pipeline
oracle **embeds the component oracle SQL verbatim** (pulled from the
registry at import time), so the composition can never drift from the
parts.

Scale notes (100 TB): the stages join on ``doc_id`` — co-partitioned
after the first shuffle, and each stage is scan-speed (no shuffle)
except dedup's hash groupBy. The joins keep the plan modular; a fused
single-pass form (all stage columns in one projection + one aggregate)
halves the scans and is the documented optimization if the four
documents scans ever dominate — at 100 TB the scans are the cheap part
next to dedup's shuffle, and AQE picks broadcast for the canonical
side when a lang/quality-filtered partition shrinks enough.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import CHUNK_SIZE, CHUNK_STRIDE, DOC_TOKENS_SQL, doc_tokens
from ..operators.sampling import samp_split_assign
from ..operators.textstats import quality_parts, ts_lang_id, ts_quality_score
from ..operators.quantize import ppm_value
from ..registry import _REGISTRY, register
from ..sources import load_raw

#: Minimum quality score a document must reach to survive curation.
QUALITY_MIN = 0.5
#: The language gate (the fixture corpus is majority-English).
KEEP_LANG = "en"

# Component oracles, verbatim from the registry — the composition's
# oracle is definitionally in lockstep with the parts'.
_LANG_SQL = _REGISTRY["ts_lang_id"].oracle
_QUAL_SQL = _REGISTRY["ts_quality_score"].oracle
_SPLIT_SQL = _REGISTRY["samp_split_assign"].oracle

_CURATION_ORACLE = f"""WITH lang AS (
{_LANG_SQL}
), qual AS (
{_QUAL_SQL}
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
), split AS (
{_SPLIT_SQL}
)
SELECT c.doc_id, l.lang_guess, q.quality, s.split
FROM canon c
JOIN lang l ON c.doc_id = l.doc_id
JOIN qual q ON c.doc_id = q.doc_id
JOIN split s ON c.doc_id = s.doc_id
WHERE l.lang_guess = '{KEEP_LANG}' AND q.quality >= {QUALITY_MIN}"""


@register("llm_curation_pipeline", _CURATION_ORACLE)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus view: canonical, English, above the quality bar,
    tagged with its train/val/test split. See module docstring for the
    stage graph and the 100 TB story."""
    docs = load_raw(spark, sf_dir, "documents")
    # Exact dedup on a content hash (never on the raw text column —
    # the shuffle key must be fixed-width; sha2 collisions are ignorable
    # at any corpus size).
    canonical = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    lang = ts_lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    qual = ts_quality_score(spark, sf_dir).select("doc_id", "quality")
    split = samp_split_assign(spark, sf_dir).select("doc_id", "split")
    return (
        canonical.join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter(
            (F.col("lang_guess") == KEEP_LANG) & (F.col("quality") >= QUALITY_MIN)
        )
        .join(split, "doc_id")
        .select("doc_id", "lang_guess", "quality", "split")
    )


@register("llm_curation_fused", _CURATION_ORACLE)
def llm_curation_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same curated-corpus view, **fused into one scan**: the
    modular form above joins four independently-planned stages (7
    documents scans); this form computes every stage column off a single
    token projection —

    - language: the 4-language argmax collapses into
      ``greatest(struct(hits, -pri, lang))`` — an O(langs) expression
      per row instead of a 4-way union + window (valid because the
      language set is a fixed literal, exactly like the IVF centroids);
    - quality: the ts_quality_score formula inline off the same tokens;
    - canonical: one ``min(doc_id) over (partition by sha2)`` window —
      the only shuffle in the plan;
    - split: the pinned-hash pure function.

    Same oracle as :func:`llm_curation_pipeline`, so the fusion is
    hash-verified equivalent; bench carries both (the modular/fused
    contrast, like j3 naive/indexed). The struct-argmax tiebreak is
    (hits DESC, pri ASC): struct comparison is lexicographic, so
    ``greatest`` on (hits, -pri, lang) picks exactly the window form's
    ``ORDER BY hits DESC, lang_pri ASC`` winner."""
    from pyspark.sql import Window

    from ..operators.sampling import (
        TRAIN_BUCKETS,
        VAL_BUCKETS,
        split_hash,
    )
    from ..operators.textstats import LANG_MARKERS

    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_hash"),
        doc_tokens(F.col("text")).alias("ts"),
    )
    ts, n = F.col("ts"), F.size("ts")
    dts = F.array_distinct(ts)
    # language argmax as a greatest-of-structs expression
    lang_structs = [
        F.struct(
            F.size(
                F.array_intersect(dts, F.array(*[F.lit(w) for w in ws]))
            ).alias("hits"),
            F.lit(-pri).alias("neg_pri"),
            F.lit(lang).alias("lang"),
        )
        for pri, (lang, ws) in enumerate(LANG_MARKERS.items())
    ]
    lang_guess = F.greatest(*lang_structs)["lang"]
    # quality formula: THE shared helper (same object ts_quality_score
    # uses — the composition can't drift from the part)
    _, _, _, quality = quality_parts(ts)
    bucket = split_hash("doc_id") % 10
    split = (
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < TRAIN_BUCKETS + VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    staged = base.select(
        "doc_id",
        "content_hash",
        lang_guess.alias("lang_guess"),
        quality.alias("quality"),
        split.alias("split"),
    )
    w = Window.partitionBy("content_hash")
    return (
        staged.withColumn("canonical", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(
            F.col("canonical")
            & (F.col("lang_guess") == KEEP_LANG)
            & (F.col("quality") >= QUALITY_MIN)
        )
        .select("doc_id", "lang_guess", "quality", "split")
    )


#: Fraction of the surviving corpus' tokens the mixed training set may
#: use (the "budget"); each source gets an equal share of it.
MIX_BUDGET_FRAC = 0.5

_MIX_ORACLE = f"""WITH qual AS (
{_QUAL_SQL}
), toks AS (
  SELECT doc_id, source,
         CAST(len({DOC_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
), surv AS (
  SELECT t.source, t.n_tokens
  FROM canon c
  JOIN qual q ON c.doc_id = q.doc_id
  JOIN toks t ON c.doc_id = t.doc_id
  WHERE q.quality >= {QUALITY_MIN}
), per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM surv GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       ROUND(LEAST(CAST(1.0 AS DOUBLE),
                   CAST({MIX_BUDGET_FRAC} AS DOUBLE) * tot_tokens
                   / n_sources / n_tokens), 6) AS weight,
       ROUND(LEAST(CAST(n_tokens AS DOUBLE),
                   CAST({MIX_BUDGET_FRAC} AS DOUBLE) * tot_tokens
                   / n_sources), 6) AS alloc_tokens
FROM per_source CROSS JOIN tot
ORDER BY source"""


@register("llm_curation_mix_fused", _MIX_ORACLE)
def llm_curation_mix_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Fused dedup → quality → mix, one scan** (the second fused
    curation variant, VERDICT r6 item 8): exact-dedup canonical pick
    and the quality gate computed exactly as :func:`llm_curation_fused`
    does (one token projection, one content-hash window — the plan's
    only corpus shuffle), then the surviving docs flow straight into a
    MIX stage: per-source token totals and an equal-share allocation of
    a global token budget (``MIX_BUDGET_FRAC`` of surviving tokens),
    giving each source a sampling weight ``min(1, share/tokens_s)`` —
    the deterministic core of the source-mixing step every pre-training
    corpus plan runs after curation (cf. samp_token_budget_waterfill
    for the redistributive variant; here under-filled shares are
    reported, not redistributed, so the whole mix is one aggregate).

    Scale shape: scan → window on content_hash (one shuffle) →
    per-source aggregate (tiny) → 1-row budget scalar cross join.
    Output is |sources| rows — dashboard-sized at any corpus scale."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("content_hash"),
        doc_tokens(F.col("text")).alias("ts"),
    )
    ts, n = F.col("ts"), F.size("ts")
    # quality formula: the shared helper (see llm_curation_fused)
    _, _, _, quality = quality_parts(ts)
    staged = base.select(
        "doc_id",
        "source",
        "content_hash",
        n.cast("long").alias("n_tokens"),
        quality.alias("quality"),
    )
    w = Window.partitionBy("content_hash")
    survivors = (
        staged.withColumn(
            "canonical", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .filter(F.col("canonical") & (F.col("quality") >= QUALITY_MIN))
    )
    per_source = survivors.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    target = (
        F.lit(MIX_BUDGET_FRAC) * F.col("tot_tokens") / F.col("n_sources")
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.least(F.lit(1.0), target / F.col("n_tokens")), 6
            ).alias("weight"),
            F.round(
                F.least(F.col("n_tokens").cast("double"), target), 6
            ).alias("alloc_tokens"),
        )
        .orderBy("source")
    )


_FUNNEL_ORACLE = f"""WITH lang AS (
{_LANG_SQL}
), qual AS (
{_QUAL_SQL}
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
), flags AS (
  SELECT d.doc_id,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_canon,
         CASE WHEN l.lang_guess = '{KEEP_LANG}' THEN 1 ELSE 0 END AS f_lang,
         CASE WHEN q.quality >= {QUALITY_MIN} THEN 1 ELSE 0 END AS f_qual
  FROM documents d
  LEFT JOIN canon c ON d.doc_id = c.doc_id
  JOIN lang l ON d.doc_id = l.doc_id
  JOIN qual q ON d.doc_id = q.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(SUM(f_canon) AS BIGINT) AS pass_canonical,
       CAST(SUM(f_lang) AS BIGINT) AS pass_language,
       CAST(SUM(f_qual) AS BIGINT) AS pass_quality,
       CAST(SUM(f_canon * f_lang) AS BIGINT) AS surv_canon_lang,
       CAST(SUM(f_canon * f_lang * f_qual) AS BIGINT) AS surv_all,
       CAST(CAST(FLOOR((CAST(SUM(f_canon * f_lang * f_qual) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS survival_rate
FROM flags"""


@register("llm_curation_funnel_report", _FUNNEL_ORACLE)
def llm_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Curation funnel observability**: for the same gates as
    :func:`llm_curation_pipeline`, the per-gate standalone pass counts
    and the cumulative survivor counts in gate order (canonical →
    language → quality), plus the end-to-end survival rate — the
    one-row report a 100 TB curation run ships to its dashboard so a
    mis-tuned gate (survival collapsing at one stage) is visible
    without diffing corpora. Component semantics are verbatim the
    verified stage oracles, so the report can never drift from the
    pipeline it describes.

    Plan: per-doc boolean flags assembled with one canonical left
    join + two doc_id-co-partitioned joins, then a single conditional
    aggregate — integer counts only, exactly one row out."""
    docs = load_raw(spark, sf_dir, "documents")
    canonical = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("f_canon"))
    )
    lang = ts_lang_id(spark, sf_dir).select(
        "doc_id", (F.col("lang_guess") == KEEP_LANG).cast("int").alias("f_lang")
    )
    qual = ts_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality") >= QUALITY_MIN).cast("int").alias("f_qual")
    )
    flags = (
        docs.select("doc_id")
        .join(canonical, "doc_id", "left")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .select(
            F.coalesce("f_canon", F.lit(0)).alias("f_canon"), "f_lang", "f_qual"
        )
    )
    return flags.agg(
        F.count("*").cast("long").alias("total"),
        F.sum("f_canon").cast("long").alias("pass_canonical"),
        F.sum("f_lang").cast("long").alias("pass_language"),
        F.sum("f_qual").cast("long").alias("pass_quality"),
        F.sum(F.col("f_canon") * F.col("f_lang")).cast("long").alias(
            "surv_canon_lang"
        ),
        F.sum(F.col("f_canon") * F.col("f_lang") * F.col("f_qual"))
        .cast("long")
        .alias("surv_all"),
        ppm_value(
            F.sum(F.col("f_canon") * F.col("f_lang") * F.col("f_qual")).cast(
                "double"
            )
            / F.count("*")
        ).alias("survival_rate"),
    )


def _prep_oracle() -> str:
    from ..operators.textstats import PACK_BUDGET

    return f"""WITH curated AS (
{_CURATION_ORACLE}
), t AS (
  SELECT d.doc_id, c.split, {DOC_TOKENS_SQL} AS ts
  FROM documents d JOIN curated c ON d.doc_id = c.doc_id
), ex AS (
  SELECT doc_id, split,
         unnest(list_transform(generate_series(0, len(ts) - 1, {CHUNK_STRIDE}),
                s -> {{'chunk_id': s // {CHUNK_STRIDE},
                       'n': len(ts[s + 1 : s + {CHUNK_SIZE}])}})) AS c
  FROM t WHERE len(ts) > 0
), chunks AS (
  SELECT doc_id, split,
         CAST(c.chunk_id AS INTEGER) AS chunk_id,
         CAST(c.n AS BIGINT) AS n_tokens
  FROM ex
)
SELECT doc_id, chunk_id, split, n_tokens,
       CAST(cum // {PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(cum % {PACK_BUDGET} AS BIGINT) AS bin_offset
FROM (
  SELECT doc_id, chunk_id, split, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY split ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM chunks
)"""


@register("llm_pretrain_prep_pipeline", _prep_oracle())
def llm_pretrain_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**The full pretraining-data prep pipeline in one plan**: curate
    (canonical ∧ language ∧ quality, split-tagged — exactly
    :func:`llm_curation_pipeline`) → chunk every surviving document
    into context-window token pieces (the `ts_chunk_documents`
    machinery) → pack the chunks end-to-end into ``PACK_BUDGET``-token
    training bins per split shard (the `ts_pack_sequences` relaxation,
    ordered by (doc_id, chunk_id) for reproducibility). The output row
    is what a trainer's data loader reads: which chunk of which
    curated document lands in which bin of which split, at what
    offset. The oracle embeds the component oracles verbatim, so the
    composition is definitionally in lockstep with its
    independently-verified parts.

    Scale: curation's dedup shuffle + one doc_id join + a scan-speed
    chunk explode + one window per split shard. The split-partitioned
    window is 3 partitions here (shard further in production — the
    `ts_pack_sequences` note); everything upstream is the same plan
    the components run individually."""
    from pyspark.sql import Window

    from ..operators.textstats import PACK_BUDGET

    curated = llm_curation_pipeline(spark, sf_dir).select("doc_id", "split")
    docs = load_raw(spark, sf_dir, "documents").select(
        "doc_id", doc_tokens(F.col("text")).alias("ts")
    )
    chunks = (
        docs.join(curated, "doc_id")
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - 1, F.lit(CHUNK_STRIDE)),
                    lambda s: F.struct(
                        (s / CHUNK_STRIDE).cast("int").alias("chunk_id"),
                        F.size(F.slice(F.col("ts"), s + 1, CHUNK_SIZE))
                        .cast("long")
                        .alias("n_tokens"),
                    ),
                )
            ).alias("c"),
        )
        .select("doc_id", "split", "c.chunk_id", "c.n_tokens")
    )
    w = (
        Window.partitionBy("split")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return chunks.select(
        "doc_id",
        "chunk_id",
        "split",
        "n_tokens",
        (cum / PACK_BUDGET).cast("long").alias("bin_id"),
        (cum % PACK_BUDGET).cast("long").alias("bin_offset"),
    )


_FUNNEL_BY_SOURCE_ORACLE = f"""WITH lang AS (
{_LANG_SQL}
), qual AS (
{_QUAL_SQL}
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
), flags AS (
  SELECT d.doc_id, d.source,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_canon,
         CASE WHEN l.lang_guess = '{KEEP_LANG}' THEN 1 ELSE 0 END AS f_lang,
         CASE WHEN q.quality >= {QUALITY_MIN} THEN 1 ELSE 0 END AS f_qual
  FROM documents d
  LEFT JOIN canon c ON d.doc_id = c.doc_id
  JOIN lang l ON d.doc_id = l.doc_id
  JOIN qual q ON d.doc_id = q.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total,
       CAST(SUM(f_canon * f_lang * f_qual) AS BIGINT) AS surv_all,
       CAST(CAST(FLOOR((CAST(SUM(f_canon * f_lang * f_qual) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS survival_rate,
       CAST(CAST(FLOOR((1.0 - CAST(SUM(f_canon) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS dup_rate,
       CAST(CAST(FLOOR((1.0 - CAST(SUM(f_qual) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS low_quality_rate
FROM flags
GROUP BY source"""


@register("llm_curation_funnel_by_source", _FUNNEL_BY_SOURCE_ORACLE)
def llm_curation_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`llm_curation_funnel_report` broken down **by source** —
    the actionable form: per feed, the survival rate plus the two
    rates a pipeline owner can act on (duplicate share → fix the
    crawler's revisit policy; low-quality share → cut or re-filter the
    feed). Same verbatim-embedded gate semantics; one extra grouping
    key on the same single conditional aggregate."""
    docs = load_raw(spark, sf_dir, "documents")
    canonical = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("f_canon"))
    )
    lang = ts_lang_id(spark, sf_dir).select(
        "doc_id", (F.col("lang_guess") == KEEP_LANG).cast("int").alias("f_lang")
    )
    qual = ts_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality") >= QUALITY_MIN).cast("int").alias("f_qual")
    )
    flags = (
        docs.select("doc_id", "source")
        .join(canonical, "doc_id", "left")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .select(
            "source",
            F.coalesce("f_canon", F.lit(0)).alias("f_canon"),
            "f_lang",
            "f_qual",
        )
    )
    surv = F.sum(F.col("f_canon") * F.col("f_lang") * F.col("f_qual"))
    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("total"),
        surv.cast("long").alias("surv_all"),
        ppm_value(surv.cast("double") / F.count("*")).alias(
            "survival_rate"
        ),
        ppm_value(
            1.0 - F.sum("f_canon").cast("double") / F.count("*")
        ).alias("dup_rate"),
        ppm_value(
            1.0 - F.sum("f_qual").cast("double") / F.count("*")
        ).alias("low_quality_rate"),
    )


# ---------------------------------------- corpus planning report

def _planning_oracle() -> str:
    lex = _REGISTRY["ts_lexical_diversity"].oracle
    wf = _REGISTRY["samp_token_budget_waterfill"].oracle
    ney = _REGISTRY["samp_neyman_allocation"].oracle
    return f"""WITH lex AS (
{lex}
), wf AS (
{wf}
), ney AS (
{ney}
)
SELECT l.source, ney.n_docs, l.n_tokens, l.n_types,
       l.type_token_ratio, l.hapax_rate,
       wf.weight, wf.allocated_tokens, wf.capped,
       ney.sigma_tokens, ney.neyman_n
FROM lex l
JOIN wf ON l.source = wf.source
JOIN ney ON l.source = ney.source"""


@register("llm_corpus_planning_report", _planning_oracle())
def llm_corpus_planning_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Per-source corpus planning report** — the one-stop table a
    data-mixture owner reads before a training run: lexical health
    (token/type counts, TTR, hapax rate from
    :func:`~..operators.textstats.ts_lexical_diversity`), the
    waterfilled TRAINING-token allocation under the corpus budget
    (:func:`~..operators.sampling.samp_token_budget_waterfill` —
    weight, allocation, capped?), and the Neyman INSPECTION-budget
    split (:func:`~..operators.sampling.samp_neyman_allocation` —
    σ of doc length, QA draws). Pure composition of three
    independently hash-verified components, joined on source; the
    composed oracle nests their three SQL twins verbatim, so the
    whole report is itself hash-compared end to end.

    Scale: each leg is one documents aggregate (they share the scan
    under Catalyst's exchange reuse where eligible); the join runs on
    the O(|sources|) grid."""
    from ..operators.sampling import (
        samp_neyman_allocation,
        samp_token_budget_waterfill,
    )
    from ..operators.textstats import ts_lexical_diversity

    lex = ts_lexical_diversity(spark, sf_dir)
    wf = samp_token_budget_waterfill(spark, sf_dir).select(
        "source", "weight", "allocated_tokens", "capped"
    )
    ney = samp_neyman_allocation(spark, sf_dir).select(
        "source", "n_docs", "sigma_tokens", "neyman_n"
    )
    return (
        lex.join(wf, "source")
        .join(ney, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            "type_token_ratio",
            "hapax_rate",
            "weight",
            "allocated_tokens",
            "capped",
            "sigma_tokens",
            "neyman_n",
        )
    )


# ------------------------------------------------ dataset card (one row)

_CARD_ORACLE = f"""WITH qual AS (
{_QUAL_SQL}
), base AS (
  SELECT d.doc_id, d.lang, d.source,
         CAST(len({DOC_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         md5(d.text) AS h, q.quality
  FROM documents d JOIN qual q ON d.doc_id = q.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
       ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       ROUND(AVG(quality), 6) AS mean_quality,
       ROUND(AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS pct_en
FROM base"""


@register("llm_dataset_card", _CARD_ORACLE)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**One-row dataset card**: the corpus-level summary a training-
    data release ships — doc and unique-text counts (exact dup rate),
    token total, language/source cardinalities, mean quality score and
    English share. Complements :func:`llm_corpus_planning_report`
    (per-source planning grid) with the global header numbers.

    One scan: a single projection computes tokens + quality + a
    content hash per doc, then one aggregate with COUNT(DISTINCT)
    legs — Catalyst expands multi-distinct into one Expand + two-level
    aggregate, still a single pass over the corpus at any scale.
    Quality algebra is verbatim the verified ts_quality_score stage."""
    docs = load_raw(spark, sf_dir, "documents")
    ts = doc_tokens(F.col("text"))
    n = F.size(ts)
    # quality formula: the shared helper (see llm_curation_fused)
    _, _, _, quality = quality_parts(ts)
    base = docs.select(
        "lang",
        "source",
        n.cast("long").alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        quality.alias("quality"),
    )
    return base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        F.round(
            F.lit(1.0) - F.countDistinct("h").cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
        F.round(
            F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)), 6
        ).alias("pct_en"),
    )
