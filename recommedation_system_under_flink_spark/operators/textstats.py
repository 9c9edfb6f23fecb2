"""Text analysis operators for LLM training-data pipelines (SURVEY §7.4c).

Over ``documents(doc_id, text, lang, source, n_chars)``:

- **token stats** — token count, distinct count, char stats per doc.
- **quality score** — heuristic [0,1] from length / stopword ratio /
  repetition, the usual pre-training filter signals.
- **language ID** — stopword-list n-gram heuristic: argmax over
  per-language marker-token hit counts.
- **fingerprint** — positional rolling hash of the token stream, for
  cheap shift-sensitive near-exact matching (complement of the
  order-insensitive shingle methods in operators/dedup.py).

All four are pure Catalyst expressions (split / explode / aggregate) —
no Python boundary, embarrassingly parallel, no shuffle except the
explode-groupBy in lang-ID, which is map-side combinable. At 100 TB
these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    DOC_TOKENS_SQL,
    STOPWORDS,
    STOPWORDS_SQL,
    doc_tokens,
)
from . import bsp
from ..registry import register
from ..sources import load_raw
from .quantize import ppm_value

#: Marker tokens per language for the lang-ID heuristic. English reuses
#: the pinned engine stop list; the others are the everyday closed-class
#: words a character-n-gram-free heuristic keys on.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": STOPWORDS,
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "est", "ne", "pas", "un", "une", "dans"),
    "es": ("el", "la", "los", "las", "es", "no", "un", "una", "que", "con"),
}


def quality_parts(ts: Column) -> tuple[Column, Column, Column, Column]:
    """THE quality heuristic, shared by every consumer (ts_quality_score
    and the curation plans embed this exact float algebra — extracting
    it guarantees a future tweak lands everywhere at once):
    (stop_ratio, rep_ratio, len_score, quality) columns over a token
    array. quality = 0.4·len + 0.3·min(4·stop, 1) + 0.3·(1 − rep)."""
    n = F.size(ts)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_ratio = F.when(
        n > 0,
        F.size(F.filter(ts, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / n,
    ).otherwise(F.lit(0.0))
    rep_ratio = F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(ts)).cast("double") / n
    ).otherwise(F.lit(1.0))
    len_score = F.least(n.cast("double") / 100.0, F.lit(1.0))
    quality = (
        0.4 * len_score
        + 0.3 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.3 * (1.0 - rep_ratio)
    ).cast("double")
    return stop_ratio, rep_ratio, len_score, quality


# ------------------------------------------------------------ token stats

@register(
    "ts_token_stats",
    f"""SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique,
       CAST(length(text) AS BIGINT) AS n_chars,
       CASE WHEN len(ts) > 0
            THEN CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts)
            ELSE 0.0 END AS avg_token_len
FROM (SELECT doc_id, text, {DOC_TOKENS_SQL} AS ts FROM documents)""",
)
def ts_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counting: total, distinct, chars, mean token
    length. Everything computed on the token array in one projection —
    no explode, no shuffle."""
    docs = load_raw(spark, sf_dir, "documents")
    # Project the token array once — each reference to the raw `ts`
    # expression re-runs the regex split per row (see operators/dedup.py
    # shingles() for the measured cost of inlining it).
    base = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        doc_tokens(F.col("text")).alias("ts"),
    )
    ts = F.col("ts")
    total_len = F.aggregate(ts, F.lit(0), lambda acc, t: acc + F.length(t))
    return base.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("long").alias("n_unique"),
        "n_chars",
        F.when(
            F.size(ts) > 0, total_len.cast("double") / F.size(ts)
        )
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
    )


# ---------------------------------------------------------- quality score

@register(
    "ts_quality_score",
    f"""SELECT doc_id,
       stop_ratio, rep_ratio, len_score,
       CAST(0.4 * len_score + 0.3 * LEAST(stop_ratio * 4, 1.0)
            + 0.3 * (1.0 - rep_ratio) AS DOUBLE) AS quality
FROM (
  SELECT doc_id,
         CASE WHEN len(ts) > 0 THEN
           CAST(len(list_filter(ts, t -> t IN ({STOPWORDS_SQL}))) AS DOUBLE) / len(ts)
         ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(ts) > 0 THEN
           1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
         ELSE 1.0 END AS rep_ratio,
         LEAST(CAST(len(ts) AS DOUBLE) / 100.0, 1.0) AS len_score
  FROM (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents)
)""",
)
def ts_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristic in [0,1]:
    ``0.4·len_score + 0.3·min(4·stop_ratio, 1) + 0.3·(1 − rep_ratio)``.

    - len_score: saturating token count (100 tokens = full marks) —
      drops fragments.
    - stop_ratio: natural prose carries ~25% stopwords; ×4 saturation
      rewards reaching that — drops keyword-stuffing/boilerplate.
    - rep_ratio: 1 − distinct/total — drops copy-spam.

    Pinned engine formula (the reference has no analogue; weights are
    the documented spec)."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    stop_ratio, rep_ratio, len_score, quality = quality_parts(F.col("ts"))
    return base.select(
        "doc_id",
        stop_ratio.alias("stop_ratio"),
        rep_ratio.alias("rep_ratio"),
        len_score.alias("len_score"),
        quality.alias("quality"),
    )


# -------------------------------------------------------------- language ID

def _lang_markers_sql() -> str:
    rows = ",\n    ".join(
        f"('{lang}', {i}, [{', '.join(repr(w) for w in ws)}])"
        for i, (lang, ws) in enumerate(LANG_MARKERS.items())
    )
    return f"(VALUES\n    {rows}\n) langs(lang, lang_pri, markers)"


@register(
    "ts_lang_id",
    f"""SELECT doc_id, lang_guess, hits FROM (
  SELECT d.doc_id, langs.lang AS lang_guess,
         CAST(len(list_intersect(d.ts, langs.markers)) AS BIGINT) AS hits,
         ROW_NUMBER() OVER (
           PARTITION BY d.doc_id
           ORDER BY len(list_intersect(d.ts, langs.markers)) DESC, langs.lang_pri ASC
         ) AS rn
  FROM (SELECT doc_id, list_distinct({DOC_TOKENS_SQL}) AS ts FROM documents) d
  CROSS JOIN {_lang_markers_sql()}
) WHERE rn = 1""",
)
def ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID heuristic: argmax over per-language marker-token hit
    counts (distinct-token ∩ marker list). Ties resolve in LANG_MARKERS
    declaration order (English first — the pinned prior). A 4-row
    broadcast cross join; the scan dominates."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.array_distinct(doc_tokens(F.col("text"))).alias("ts"))
    langs = [
        (lang, pri, F.array(*[F.lit(w) for w in ws]))
        for pri, (lang, ws) in enumerate(LANG_MARKERS.items())
    ]
    # Struct-argmax over the fixed language set (r12; was a 4-way
    # union of the tokenize pass + a per-doc window — 4 duplicate
    # scans and a corpus shuffle for an O(langs) per-row decision).
    # array_max on (hits, -pri, lang) structs is lexicographic, so the
    # winner is exactly the window form's ORDER BY hits DESC, pri ASC
    # — the same equivalence the fused curation twin pins. One scan,
    # zero shuffles; the oracle is unchanged and hash-certifies the
    # rewrite.
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.size(F.array_intersect(F.col("ts"), markers))
                    .cast("long")
                    .alias("hits"),
                    F.lit(-pri).alias("negpri"),
                    F.lit(lang).alias("lang_guess"),
                )
                for lang, pri, markers in langs
            ]
        )
    )
    return base.select(
        "doc_id",
        best.getField("lang_guess").alias("lang_guess"),
        best.getField("hits").alias("hits"),
    )


# -------------------------------------------------------------- fingerprint

_FP_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


@register(
    "ts_fingerprint",
    f"""SELECT doc_id,
       CAST(COALESCE(SUM((ascii(t) + length(t)) * (1 + (pos % 97))), 0)
            % {_FP_MOD} AS BIGINT) AS fingerprint
FROM (
  SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos
  FROM (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents)
)
GROUP BY doc_id
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT) AS fingerprint
FROM (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents) WHERE len(ts) = 0""",
)
def ts_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional document fingerprint:
    ``Σ (ascii(token) + len(token)) · (1 + pos % 97)  mod 2³¹−1``.

    Shift-sensitive (position-weighted) but commutative-summable — so it
    computes as a plain map-side-combinable aggregate, unlike a true
    rolling hash whose fold is order-dependent. Exact integer arithmetic
    end to end → oracle-checkable. Pinned engine spec."""
    docs = load_raw(spark, sf_dir, "documents")
    ts = doc_tokens(F.col("text"))
    # posexplode gives 0-based pos; the pinned formula uses 1-based
    exploded = docs.select("doc_id", F.posexplode(ts).alias("pos0", "t")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "t"
    )
    contrib = (F.ascii("t") + F.length("t")) * (1 + F.col("pos") % 97)
    fp = (
        exploded.groupBy("doc_id")
        .agg((F.coalesce(F.sum(contrib), F.lit(0)) % _FP_MOD).cast("long").alias("fingerprint"))
    )
    empties = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") == 0
    ).select("doc_id", F.lit(0).cast("long").alias("fingerprint"))
    return fp.unionByName(empties)


# ----------------------------------------------------- BPE-ish token count

#: GPT-style pre-tokenizer shape: letter runs, digit runs, single
#: punctuation marks. Each run then costs ceil(len/4) subword tokens —
#: the classic "~4 chars per token" estimator, piecewise so punctuation
#: and short words dominate correctly.
_PIECE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\r\\n]"


@register(
    "ts_bpe_token_estimate",
    f"""SELECT doc_id,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(COALESCE(list_sum(list_transform(pieces, p -> CEIL(length(p) / 4.0))), 0)
            AS BIGINT) AS n_tokens_est
FROM (
  SELECT doc_id, regexp_extract_all(lower(text), '{_PIECE_REGEX}') AS pieces
  FROM documents
)""",
)
def ts_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimator: GPT-style pre-tokenization (letter
    runs / digit runs / punctuation) via ``regexp_extract_all``, then
    ``Σ ceil(len(piece)/4)`` subword tokens per piece. A deterministic,
    vocab-free stand-in for a real BPE tokenizer — the per-doc budget
    signal an LLM-data pipeline bins and filters on. Pure Catalyst
    (one regex pass per row, no shuffle); the piece array is projected
    before the fold (see shingles() for why)."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '{_PIECE_REGEX}', 0)").alias(
            "pieces"
        ),
    )
    est = F.aggregate(
        F.col("pieces"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.ceil(F.length(p) / 4.0),
    )
    return base.select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_pieces"),
        est.alias("n_tokens_est"),
    )


# ------------------------------------------------- top terms per language

#: Top-N terms kept per language in the corpus summary.
TOP_TERMS_N = 10


@register(
    "ts_top_terms_per_lang",
    f"""SELECT lang, term, n, pos FROM (
  SELECT lang, term, n,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY n DESC, term ASC
         ) AS BIGINT) AS pos
  FROM (
    SELECT lang, t AS term, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT lang, unnest({DOC_TOKENS_SQL}) AS t FROM documents)
    WHERE t NOT IN ({STOPWORDS_SQL})
    GROUP BY lang, t
  )
) WHERE pos <= {TOP_TERMS_N}""",
)
def ts_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term summary: the ``TOP_TERMS_N`` most frequent
    non-stopword tokens per language — the quick-look vocabulary audit
    a curation run reports per shard. explode → (lang, term) count
    (map-side combinable) → WindowGroupLimit top-N; ties pinned
    (count DESC, term ASC) for cross-engine determinism. Skew note:
    token counts are Zipfian but the aggregate is partial-combined, so
    the hot terms cost one reduced row per map task, not a hot
    partition."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = docs.select(
        "lang", F.explode(doc_tokens(F.col("text"))).alias("term")
    ).filter(~F.array_contains(stop_arr, F.col("term")))
    counts = toks.groupBy("lang", "term").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= TOP_TERMS_N)
    )


# ---------------------------------------------------------- normalization

@register(
    "ts_normalize_text",
    """SELECT doc_id, norm,
       CAST(norm <> text AS BOOLEAN) AS changed,
       CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 \\t\\r\\n]', ' ', 'g'), '[ \\t\\r\\n]+', ' ', 'g')) AS norm
  FROM documents
)""",
)
def ts_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup/tokenization pre-passes: lowercase,
    strip non-alphanumerics to spaces, collapse whitespace runs, trim.
    Pure per-row Catalyst regexps — scan-speed, no shuffle; the regex
    classes are dialect-portable (plain character classes only; DuckDB
    needs the 'g' flag where Java replaces all by default)."""
    docs = load_raw(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 \\t\\r\\n]", " "),
            "[ \\t\\r\\n]+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm"),
        (norm != F.col("text")).alias("changed"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# ------------------------------------------------------------- chunking

#: DuckDB twin of the chunk geometry — shared by the Catalyst chunker
#: and its UDTF twin (same output contract, two execution surfaces).
_CHUNK_ORACLE = f"""WITH t AS (SELECT doc_id, {{tokens}} AS ts FROM documents),
ex AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, len(ts) - 1, {CHUNK_STRIDE}),
                s -> {{{{'chunk_id': s // {CHUNK_STRIDE}, 'start': s,
                        'ck': ts[s + 1 : s + {CHUNK_SIZE}]}}}})) AS c
  FROM t WHERE len(ts) > 0
)
SELECT doc_id,
       CAST(c.chunk_id AS INTEGER) AS chunk_id,
       CAST(c.start AS BIGINT) AS chunk_start,
       CAST(len(c.ck) AS BIGINT) AS n_tokens,
       array_to_string(c.ck, ' ') AS chunk_text
FROM ex""".format(tokens=DOC_TOKENS_SQL)


@register("ts_chunk_documents", _CHUNK_ORACLE)
def ts_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the standard long-document →
    training-sample splitter (context-window-sized pieces, stride <
    size so no boundary sentence is lost). One projection computes the
    token array; ``sequence(0, n-1, stride)`` enumerates chunk starts;
    ``slice`` materializes each window. Pure Catalyst (explode of a
    per-row-bounded list) — no shuffle, scan-speed at 100 TB, and the
    explode fan-out is n_tokens/stride ≈ 1.3× rows, not quadratic.
    Empty docs emit no chunks (no empty training samples)."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") > 0
    )
    chunk = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.size("ts") - 1, F.lit(CHUNK_STRIDE)
                ),
                lambda s: F.struct(
                    (s / CHUNK_STRIDE).cast("int").alias("chunk_id"),
                    s.cast("long").alias("chunk_start"),
                    F.slice(F.col("ts"), s + 1, CHUNK_SIZE).alias("ck"),
                ),
            )
        ).alias("c"),
    )
    return chunk.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_start").alias("chunk_start"),
        F.size("c.ck").cast("long").alias("n_tokens"),
        F.array_join("c.ck", " ").alias("chunk_text"),
    )


# ------------------------------------------------------------- packing

#: Packing budget: tokens per training sequence.
PACK_BUDGET = 256


@register(
    "ts_pack_sequences",
    f"""SELECT doc_id, source, n_tokens,
       CAST(cum // {PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(cum % {PACK_BUDGET} AS BIGINT) AS bin_offset
FROM (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM (SELECT doc_id, source,
               CAST(len({DOC_TOKENS_SQL}) AS BIGINT) AS n_tokens
        FROM documents)
)""",
)
def ts_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — concatenate short docs into fixed token
    budgets (the GPT-style pretraining batch layout: fewer pad tokens,
    denser batches). Semantics: within each ``source`` shard, docs are
    laid end-to-end in doc_id order and the stream is cut every
    ``PACK_BUDGET`` tokens; a doc's bin is where its first token lands
    (``exclusive-cumsum DIV budget``) and ``bin_offset`` its position in
    the bin. One window over (source, doc_id) — exact first-fit packing
    is inherently sequential state; the cumulative-quotient form is the
    standard deterministic relaxation that keeps it one shuffle.

    Scale: the window partitions by ``source`` — global packing order
    would serialize 100 TB through one partition; per-shard packing is
    what production pipelines do anyway (shard = file group), and
    within-shard order is total (doc_id), so output is reproducible."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.size(doc_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        (cum / PACK_BUDGET).cast("long").alias("bin_id"),
        (cum % PACK_BUDGET).cast("long").alias("bin_offset"),
    )


# -------------------------------------- unigram log-prob quality score

@register(
    "ts_unigram_logprob",
    f"""WITH toks AS (
  SELECT doc_id, unnest({DOC_TOKENS_SQL}) AS term FROM documents
), freq AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
), total AS (
  SELECT SUM(c) AS n FROM freq
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(log2(CAST(f.c AS DOUBLE) / (SELECT n FROM total)))
             / COUNT(*), 6) AS mean_log2_prob
FROM toks t JOIN freq f ON t.term = f.term
GROUP BY t.doc_id""",
)
def ts_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score: per-doc mean unigram
    log₂-probability under the corpus's own unigram model — the
    SQL-expressible core of a perplexity filter (docs whose tokens are
    improbable under the corpus distribution are boilerplate/garbage
    candidates; very high scores flag degenerate repetition). Unlike
    the heuristic `ts_quality_score`, this one is *trained on the
    data*: one aggregation pass builds the model, one join applies it.

    Scale: the model is |vocab| rows (map-side-combinable count), the
    scoring join shuffles on term — same inverted-index shape as
    TF-IDF A5. No smoothing needed: every scored token exists in the
    model by construction (it came from the corpus). Quantized to 6
    decimals: log2 may differ by ~1 ulp between libm and the JVM."""
    toks = load_raw(spark, sf_dir, "documents").select(
        "doc_id", F.explode(doc_tokens(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.log2(F.col("c").cast("double") / F.col("n")))
                / F.count("*"),
                6,
            ).alias("mean_log2_prob"),
        )
    )


@register(
    "ts_langid_confusion",
    f"""WITH pred AS (
  SELECT doc_id, lang_guess FROM (
    SELECT d.doc_id, langs.lang AS lang_guess,
           ROW_NUMBER() OVER (
             PARTITION BY d.doc_id
             ORDER BY len(list_intersect(d.ts, langs.markers)) DESC, langs.lang_pri ASC
           ) AS rn
    FROM (SELECT doc_id, list_distinct({DOC_TOKENS_SQL}) AS ts FROM documents) d
    CROSS JOIN {_lang_markers_sql()}
  ) WHERE rn = 1
)
SELECT d.lang AS label, p.lang_guess AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY 1, 2""",
)
def ts_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval surface: the **confusion matrix** of the language-ID
    heuristic against the fixture's gold labels — per (label,
    predicted) document counts, the standard classifier diagnostic
    (per-class precision/recall fall straight out of it). Composes the
    SQL-verified predictor (:func:`ts_lang_id`) with one join + one
    aggregate; at 100 TB the matrix is |langs|² rows regardless of
    corpus size."""
    docs = load_raw(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = ts_lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    return (
        docs.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("label"), F.col("lang_guess").alias("predicted"))
        .agg(F.count("*").alias("n"))
    )


# ------------------------------------------------------- corpus drift

#: Drift split day: docs dated before this fall in the "old" window.
DRIFT_SPLIT_DAY = 15
#: Report size: top movers by absolute log-ratio.
DRIFT_TOP_N = 25


@register(
    "ts_term_drift",
    f"""WITH sides AS (
  SELECT CASE WHEN doc_id % 30 < {DRIFT_SPLIT_DAY} THEN 0 ELSE 1 END AS side,
         unnest({DOC_TOKENS_SQL}) AS term
  FROM documents
), freq AS (
  SELECT term,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_old,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_new
  FROM sides GROUP BY term
), tot AS (
  SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM freq
)
SELECT term,
       CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       drift
FROM (
  SELECT f.term, f.n_old, f.n_new,
         ROUND(log2(((f.n_new + 1.0) / (tot.t_new + 1.0))
                    / ((f.n_old + 1.0) / (tot.t_old + 1.0))), 6) AS drift,
         ROW_NUMBER() OVER (
           ORDER BY ABS(ROUND(log2(((f.n_new + 1.0) / (tot.t_new + 1.0))
                    / ((f.n_old + 1.0) / (tot.t_old + 1.0))), 6)) DESC,
                    f.term ASC) AS rnk
  FROM freq f, tot
) WHERE rnk <= {DRIFT_TOP_N}""",
)
def ts_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Corpus drift report**: smoothed log₂ frequency ratio of every
    term between the older and newer half of the corpus (split by the
    pinned doc-date derivation), top movers first — the
    distribution-shift check a training pipeline runs before mixing
    crawl snapshots (vocabulary drift poisons frequency-calibrated
    filters like `ts_unigram_logprob`). Add-one smoothing keeps terms
    unique to one side finite; quantized for rank stability.

    One explode + one aggregate + a 1-row total broadcast — same cost
    envelope as the TF-IDF DF pass at any scale."""
    from ..sources.tables import DATE_MOD  # doc date = DATE0 + doc_id % 30

    docs = load_raw(spark, sf_dir, "documents")
    side = F.when(
        (F.col("doc_id") % DATE_MOD) < DRIFT_SPLIT_DAY, F.lit(0)
    ).otherwise(F.lit(1))
    toks = docs.select(side.alias("side"), F.explode(doc_tokens(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n_new"),
    )
    tot = freq.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    drift = F.round(
        F.log2(
            ((F.col("n_new") + 1.0) / (F.col("t_new") + 1.0))
            / ((F.col("n_old") + 1.0) / (F.col("t_old") + 1.0))
        ),
        6,
    )
    from pyspark.sql import Window

    scored = freq.crossJoin(F.broadcast(tot)).select(
        "term",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        drift.alias("drift"),
    )
    w = Window.orderBy(F.abs(F.col("drift")).desc(), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= DRIFT_TOP_N)
        .select("term", "n_old", "n_new", "drift")
    )


# ------------------------------------------- repetition score (Gopher-style)

def _ngram_expr(n: int) -> Column:
    """Space-joined n-gram array from the token array column ``ts`` —
    1-based ``element_at`` so the Spark expression and the DuckDB
    ``ts[i]`` twin index identically. Guarded: Spark's ``sequence(1, 0)``
    counts DOWN (yielding [1, 0]), so short docs must short-circuit to
    an empty array rather than rely on an empty sequence."""
    joined = ", ' ', ".join(f"element_at(ts, i + {k})" for k in range(n))
    body = f"transform(sequence(1, size(ts) - {n - 1}), i -> concat({joined}))"
    return F.when(F.size("ts") >= n, F.expr(body)).otherwise(
        F.array().cast("array<string>")
    )


def _ngram_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"ts[i + {k}]" for k in range(n))
    return (
        f"SELECT doc_id, {gram} AS g "
        f"FROM base, LATERAL (SELECT unnest(generate_series(1, len(ts) - {n - 1})) AS i)"
    )


@register(
    "ts_repetition_score",
    f"""WITH base AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
grams AS ({_ngram_sql(2)}),
counts AS (SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY doc_id, g),
per_doc AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total, CAST(MAX(n) AS BIGINT) AS top_n,
         CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_n
  FROM counts GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(p.total, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.top_n, 0) AS BIGINT) AS top_bigram_n,
       CASE WHEN COALESCE(p.total, 0) > 0
            THEN CAST(CAST(FLOOR((CAST(p.top_n AS DOUBLE) / p.total) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 ELSE 0.0 END AS rep_top,
       CASE WHEN COALESCE(p.total, 0) > 0
            THEN CAST(CAST(FLOOR((CAST(p.dup_n AS DOUBLE) / p.total) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 ELSE 0.0 END AS rep_dup
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id""",
)
def ts_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Repetition filter signal** (Gopher/RefinedWeb-style): per doc,
    the share of bigram occurrences absorbed by the single most
    repeated bigram (``rep_top``) and by any within-doc duplicate
    bigram (``rep_dup`` — the "fraction in duplicate n-grams" quality
    gate). Machine-generated and boilerplate-padded text scores high;
    both ratios quantized at 6 for cross-engine rank stability.

    Plan: token-array projection → bigram explode → (doc, gram) hash
    aggregate (map-side combinable) → per-doc reduce → left join back
    to keep zero-bigram docs. One shuffle on (doc, gram), one on doc —
    both keyed by doc_id, so at 100 TB this is two well-distributed
    hash aggregates at scan speed; no window, no Python."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    grams = base.select("doc_id", F.explode(_ngram_expr(2)).alias("g"))
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("total"),
        F.max("n").cast("long").alias("top_n"),
        F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
        .cast("long")
        .alias("dup_n"),
    )
    total = F.coalesce(F.col("total"), F.lit(0))
    # rule-free 6-dp quantize: top_n/total is an exact rational whose
    # denominator is a token count — ROUND's half-boundary rules flip
    # cross-engine exactly there (round-9 oracle audit)
    ratio = lambda c: F.when(  # noqa: E731
        total > 0, ppm_value(c.cast("double") / F.col("total"))
    ).otherwise(F.lit(0.0))
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            total.cast("long").alias("n_bigrams"),
            F.coalesce(F.col("top_n"), F.lit(0)).cast("long").alias("top_bigram_n"),
            ratio(F.col("top_n")).alias("rep_top"),
            ratio(F.col("dup_n")).alias("rep_dup"),
        )
    )


# ------------------------------------- cross-doc boilerplate shingles

#: A 3-gram counts as boilerplate when it appears in at least this many
#: distinct documents.
BOILER_NGRAM = 3
BOILER_MIN_DOCS = 3


@register(
    "ts_boilerplate_shingles",
    f"""WITH base AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
grams AS ({_ngram_sql(BOILER_NGRAM)}),
docfreq AS (SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY g),
per_doc AS (
  SELECT gr.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN df.d >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM grams gr JOIN docfreq df ON gr.g = df.g
  GROUP BY gr.doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
       CASE WHEN COALESCE(p.n_grams, 0) > 0
            THEN CAST(CAST(FLOOR((CAST(p.n_boiler AS DOUBLE) / p.n_grams) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 ELSE 0.0 END
         AS boiler_frac
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id""",
)
def ts_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Boilerplate prevalence** per document: the fraction of a doc's
    3-gram shingles that recur in ≥ ``BOILER_MIN_DOCS`` distinct
    documents — the corpus-wide signal behind header/footer/ToS
    removal in web-scale curation (a shingle shared by many documents
    is template text, not content). Complements operators/dedup.py:
    dedup asks "is this DOC a copy", this asks "how much of this doc
    is TEMPLATE".

    Plan: the 3-gram doc-frequency table is the same IDF-shaped hash
    aggregate as TF-IDF's document frequency (map-side combinable on
    the gram key); joining it back to the exploded grams shuffles on
    the gram key exactly like the TF-IDF term join, then one per-doc
    aggregate. AQE broadcasts the docfreq side when it fits."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    grams = base.select("doc_id", F.explode(_ngram_expr(BOILER_NGRAM)).alias("g"))
    docfreq = grams.groupBy("g").agg(F.count_distinct("doc_id").alias("d"))
    per_doc = (
        grams.join(docfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("d") >= BOILER_MIN_DOCS, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0))
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.cast("long").alias("n_grams"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.when(
                n_grams > 0,
                ppm_value(
                    F.col("n_boiler").cast("double") / F.col("n_grams")
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )


# ----------------------------------------------------- PII scrubbing

#: Common-subset regexes (identical semantics in Java regex and RE2):
#: character classes, +, bounded repetition — no lookaround, no refs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{9,}"


def scrub_pii(text: Column) -> Column:
    """Mask emails then long digit runs (9+ — phone/account/SSN-shaped)
    with typed placeholders. Order matters: the email pattern consumes
    digits inside addresses before the number pass sees them."""
    masked = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(masked, PII_LONGNUM_RE, "<NUM>")


@register(
    "ts_pii_scrub",
    f"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_LONGNUM_RE}')) AS BIGINT) AS n_longnums,
       CAST(length(masked) AS BIGINT) AS masked_len,
       md5(masked) AS masked_md5
FROM (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PII_LONGNUM_RE}', '<NUM>', 'g') AS masked
  FROM documents
)""",
)
def ts_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**PII scrubbing** pass: mask email addresses and long digit
    runs with typed placeholders, report per-doc match counts and an
    md5 of the masked text (the hash — not the text — is the compared
    column, so the oracle verifies byte-identical masking without
    shipping documents through the compare). The regexes stay in the
    Java-regex ∩ RE2 common subset so both engines match identically;
    DuckDB needs the explicit ``'g'`` flag (it replaces first-match by
    default, Spark replaces all).

    Pure per-row projection — no shuffle, scan speed at any scale.
    Semantics on PII-bearing strings are pinned by
    tests/test_llm_ops.py (the fixture corpus itself contains no PII,
    which the zero counts here also verify)."""
    docs = load_raw(spark, sf_dir, "documents")
    masked = scrub_pii(F.col("text"))
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_LONGNUM_RE)).cast("long").alias("n_longnums"),
        F.length(masked).cast("long").alias("masked_len"),
        F.md5(masked).alias("masked_md5"),
    )


# ------------------------- interpolated bigram LM perplexity (CCNet-ish)

#: Jelinek-Mercer interpolation weight on the bigram term; the unigram
#: term carries the rest. 0.9/0.1 is the classic smoothing default.
LM_LAMBDA = 0.9


@register(
    "ts_bigram_lm_perplexity",
    f"""WITH base AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
grams AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i)
),
toks AS (
  SELECT doc_id, unnest(ts) AS term FROM base
),
uni AS (SELECT term, COUNT(*) AS c1 FROM toks GROUP BY term),
tot AS (SELECT COUNT(*) AS n FROM toks),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM grams GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cctx FROM bi GROUP BY w1),
scored AS (
  SELECT g.doc_id,
         log2({LM_LAMBDA} * (CAST(b.c2 AS DOUBLE) / cx.cctx)
              + {1.0 - LM_LAMBDA} * (CAST(u.c1 AS DOUBLE) / t.n)) AS lp
  FROM grams g
  JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
  JOIN ctx cx ON g.w1 = cx.w1
  JOIN uni u ON g.w2 = u.term
  CROSS JOIN tot t
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(SUM(lp) / COUNT(*), 6) AS mean_log2_prob
  FROM scored GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       p.mean_log2_prob,
       ROUND(POWER(2.0, -p.mean_log2_prob), 4) AS perplexity
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id""",
)
def ts_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Perplexity quality filter** (CCNet-style, SQL-expressible
    core): per-doc perplexity under an interpolated bigram LM trained
    on the corpus itself — ``P(w2|w1) = λ·c(w1,w2)/c(w1·) +
    (1-λ)·c(w2)/N``. The standard pretraining-data gate: documents in
    a corpus-typical register score low perplexity; boilerplate,
    gibberish, and wrong-language text score high. The companion of
    :func:`ts_unigram_logprob`, which cannot see word ORDER — a
    shuffled document fools the unigram score but not this one.

    No zero probabilities by construction (the model is trained on the
    scored corpus, and the unigram backoff term is positive anyway), so
    the interpolation is smoothing, not a crutch.

    Scale: the model tables are |bigram-vocab| / |vocab| rows —
    map-side-combinable counts, same inverted-index shape as TF-IDF.
    Scoring re-shuffles the bigram stream on (w1,w2), w1, then w2 —
    three token-keyed hash joins at scan speed, no window, no Python.
    Per-doc reduce shuffles on doc_id. Cross-engine determinism: the
    per-term probability is a few IEEE ops on exact integer counts
    (identical bits both engines), log2 is ~1 ulp, and the 6-dp round
    of the mean absorbs both that and double-sum association order;
    perplexity is derived from the ALREADY-rounded mean so the 4-dp
    round sees identical inputs."""
    docs = load_raw(spark, sf_dir, "documents")
    # NOTE (r12): this plan re-tokenizes the corpus 6x (no cross-
    # subtree CSE; scan audit), but persisting the token/bigram
    # relations was MEASURED 3-4x SLOWER here (0.3s-class query; the
    # cache write of corpus token arrays costs more than the cheap
    # explode+count chains it saves). At 100 TB the documented fix is
    # feeding the materialized token table (s19_token_table_reuse),
    # not an in-query cache - see OPTIMIZATION_r12.md.
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(element_at(ts, i) AS w1,"
                    "             element_at(ts, i + 1) AS w2))"
                ),
            ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    toks = base.select("doc_id", F.explode("ts").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c1"))
    tot = toks.agg(F.count("*").alias("n"))
    bi = grams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ctx = bi.groupBy("w1").agg(F.sum("c2").cast("long").alias("cctx"))
    lam, lam1 = F.lit(LM_LAMBDA), F.lit(1.0 - LM_LAMBDA)
    scored = (
        grams.join(bi, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, grams.w2 == uni.term)
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log2(
                lam * (F.col("c2").cast("double") / F.col("cctx"))
                + lam1 * (F.col("c1").cast("double") / F.col("n"))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("lp") / F.count("*"), 6).alias("mean_log2_prob"),
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("mean_log2_prob"),
            F.round(F.pow(F.lit(2.0), -F.col("mean_log2_prob")), 4).alias(
                "perplexity"
            ),
        )
    )


# ------------------------------------------------- Zipf corpus health

@register(
    "ts_zipf_fit",
    f"""WITH freq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({DOC_TOKENS_SQL}) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT log10(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS DOUBLE)) AS x,
         log10(CAST(n AS DOUBLE)) AS y
  FROM freq
), stats AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT CAST(k AS BIGINT) AS n_terms,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
         AS intercept,
       ROUND(POWER(k * sxy - sx * sy, 2)
             / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
FROM stats""",
)
def ts_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Zipf-law fit** of the corpus rank-frequency curve: OLS slope /
    intercept / R² of log₁₀(freq) against log₁₀(rank). Natural-language
    corpora sit near slope ≈ −1 with high R²; template-generated,
    deduplicate-degenerate, or heavily boilerplated corpora bend the
    curve — a one-row health gate to run after any curation step
    (alongside `llm_curation_funnel_report`).

    Plan: one term-count aggregate, one |vocab|-row ranking window,
    one 6-sum reduce. Determinism: counts are exact integers; log10 is
    ~1 ulp; the closed-form OLS sums agree across engines to ~13
    digits and every output is rounded at 6. Ranking ties break on the
    term itself, so x-values are engine-identical."""
    from pyspark.sql import Window

    toks = load_raw(spark, sf_dir, "documents").select(
        F.explode(doc_tokens(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").cast("long").alias("n"))
    ranked = freq.select(
        F.log10(
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("term")))
            .cast("double")
        ).alias("x"),
        F.log10(F.col("n").cast("double")).alias("y"),
    )
    k, sx, sy = F.count("*"), F.sum("x"), F.sum("y")
    sxx, syy, sxy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
        F.sum(F.col("x") * F.col("y")),
    )
    stats = ranked.agg(
        k.alias("k"),
        sx.alias("sx"),
        sy.alias("sy"),
        sxx.alias("sxx"),
        syy.alias("syy"),
        sxy.alias("sxy"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return stats.select(
        F.col("k").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias(
            "intercept"
        ),
        F.round(
            F.pow(num, 2)
            / (den * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


@register(
    "ts_tokenizer_fertility",
    f"""WITH per_doc AS (
  SELECT lang,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         CAST(COALESCE(list_sum(list_transform(
              regexp_extract_all(lower(text), '{_PIECE_REGEX}'),
              p -> CEIL(length(p) / 4.0))), 0) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens_est,
       CAST(CAST(FLOOR((CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_tokens)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS bytes_per_token
FROM per_doc
WHERE n_tokens > 0
GROUP BY lang""",
)
def ts_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Tokenizer fertility report**: bytes-per-token by language
    under the pinned BPE-ish estimator — the standard diagnostic for
    how (in)efficiently a tokenizer spends context budget across
    languages (low bytes/token = high fertility = that language burns
    more tokens per byte of text; the number that drives
    per-language context-length and mixture decisions). One
    map-side-combinable aggregate over the per-doc estimator; the
    ratio divides two exact integer sums once, rounded at 6."""
    docs = load_raw(spark, sf_dir, "documents")
    est = F.aggregate(
        F.expr(f"regexp_extract_all(lower(text), '{_PIECE_REGEX}', 0)"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.ceil(F.length(p) / 4.0),
    )
    per_doc = docs.select(
        "lang",
        F.octet_length("text").cast("long").alias("n_bytes"),
        est.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("n_tokens").cast("long").alias("total_tokens_est"),
        ppm_value(
            F.sum("n_bytes").cast("double") / F.sum("n_tokens")
        ).alias("bytes_per_token"),
    )


# --------------------------------------------- BPE vocabulary induction

#: Number of BPE merge rounds to learn. Small by design: the point is
#: the distributed induction loop, and the fixture corpus saturates its
#: frequent-pair structure within a few merges.
BPE_MERGES = 8


def _bpe_merge_fold(left: str, right: str) -> Column:
    """Greedy left-to-right merge of the adjacent pair (left, right)
    in a symbol array, as a pure-Catalyst fold: append each symbol,
    but when the running array ends in ``left`` and the next symbol is
    ``right``, replace the tail with the merged token. This is exactly
    the reference BPE apply step (merged tokens never re-match as
    ``left`` within the round unless they literally equal it)."""
    merged = left + right
    return F.aggregate(
        F.col("symbols"),
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _learn_bpe(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, str, int]]:
    """Run the ``BPE_MERGES``-round induction loop (see
    :func:`ts_bpe_learn_merges` for the algorithm and scale notes) and
    return the merge table as driver-side model state."""
    docs = load_raw(spark, sf_dir, "documents")
    words = bsp.persist(
        docs.select(F.explode(doc_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit("</w>"))
            ).alias("symbols"),
            "wc",
        )
    )
    words.count()
    # One action per round (r13): the round's argmax collect is the
    # ONLY consumer of the previous round's folded table, so it fills
    # that persist itself — the extra per-round count() barrier bought
    # nothing (no concurrent-fill race with a single sequential
    # consumer, unlike the HITS/DBSCAN scalar barriers). Unpersists
    # defer to the 4-round checkpoint boundary (the query scope releases
    # the rest); at most 5 vocab-sized
    # tables live at once (BPE's whole premise is that this state is
    # vocab-, not corpus-, sized). The final round's fold has no
    # consumer and is never built.
    merges: list[tuple[int, str, str, str, int]] = []
    cached: list[DataFrame] = [words]
    for rank in range(BPE_MERGES):
        pairs = (
            words.filter(F.size("symbols") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                        F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("pair"),
                "wc",
            )
            .groupBy("pair.left", "pair.right")
            .agg(F.sum("wc").alias("n"))
        )
        top = pairs.orderBy(
            F.desc("n"), F.asc("left"), F.asc("right")
        ).limit(1).collect()
        if not top:
            break
        left, right, n = top[0]["left"], top[0]["right"], top[0]["n"]
        merges.append((rank, left, right, left + right, n))
        if rank + 1 == BPE_MERGES:
            break  # last merge learned; its folded table has no reader
        new_words = bsp.persist(
            words.select(
                _bpe_merge_fold(left, right).alias("symbols"), "wc"
            )
        )
        cached.append(new_words)
        words = new_words
        if (rank + 1) % 4 == 0:  # bound lineage like the BSP loops
            checkpointed = words.localCheckpoint(eager=True)
            for c in cached:
                c.unpersist()
            cached = []
            words = checkpointed
    return merges


def _bpe_sql_ctes() -> list[str]:
    """DuckDB twin of the ENTIRE ``BPE_MERGES``-round induction loop,
    unrolled (round 10 — this is what moved both BPE entries from
    rows-only to oracle-hashed).

    Symbol lists travel as **marked strings**: each symbol ``x`` is
    encoded ``chr(30) x chr(31)`` (both control chars are outside the
    ``[a-z0-9]`` token alphabet and the ``</w>`` end marker). The greedy
    left-to-right merge fold (:func:`_bpe_merge_fold`) is then EXACTLY
    SQL ``REPLACE(s, ␞l␟␞r␟, ␞lr␟)``: both scan left-to-right without
    rescanning replaced output, so e.g. ``aaaa`` under merge (a,a)
    gives ``[aa, aa]`` and ``aaa`` gives ``[aa, a]`` on both paths
    (property-pytested against the pure-Python fold). Each round is
    three CTEs — adjacent-pair counts (unnest + index zip), the 1-row
    argmax with the pinned (n DESC, l, r) tiebreak, and the REPLACE
    apply (LEFT JOIN ON TRUE so an exhausted corpus carries words
    through unchanged, matching the Spark loop's break)."""
    o, c = "chr(30)", "chr(31)"
    sym_pat = f"{o} || '([^' || {c} || ']*)' || {c}"
    ctes = [
        f"""bpe_words_0 AS (
  SELECT word,
         regexp_replace(word, '(.)', {o} || '\\1' || {c}, 'g')
           || {o} || '</w>' || {c} AS s,
         COUNT(*) AS wc
  FROM (SELECT unnest({DOC_TOKENS_SQL}) AS word FROM documents)
  GROUP BY 1, 2
)"""
    ]
    for k in range(BPE_MERGES):
        ctes.append(
            f"""bpe_pairs_{k} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(wc) AS n
  FROM (SELECT regexp_extract_all(s, {sym_pat}, 1) AS syms, wc
        FROM bpe_words_{k}),
       UNNEST(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""bpe_m_{k} AS (
  SELECT CAST({k} AS BIGINT) AS rnk, l, r, l || r AS merged, n
  FROM bpe_pairs_{k} ORDER BY n DESC, l ASC, r ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""bpe_words_{k + 1} AS (
  SELECT w.word,
         CASE WHEN m.l IS NULL THEN w.s
              ELSE REPLACE(w.s, {o} || m.l || {c} || {o} || m.r || {c},
                           {o} || m.merged || {c}) END AS s,
         w.wc
  FROM bpe_words_{k} w LEFT JOIN bpe_m_{k} m ON TRUE
)"""
        )
    return ctes


_BPE_LEARN_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_sql_ctes())
    + f"""
SELECT rnk AS "rank", l AS "left", r AS "right", merged,
       CAST(n AS BIGINT) AS pair_count
FROM ({" UNION ALL ".join(f"SELECT * FROM bpe_m_{k}" for k in range(BPE_MERGES))})"""
)

_BPE_ENCODE_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_sql_ctes())
    + f"""
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(seg.n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(seg.n_sub) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS fertility
FROM (SELECT doc_id, unnest({{toks}}) AS word FROM documents) d
JOIN (SELECT word,
             (length(s) - length(replace(s, chr(31), ''))) AS n_sub
      FROM bpe_words_{BPE_MERGES}) seg
  ON d.word = seg.word
GROUP BY d.doc_id""".format(toks=DOC_TOKENS_SQL)
)


@register("ts_bpe_learn_merges", _BPE_LEARN_ORACLE)
def ts_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Distributed BPE vocabulary induction** (Sennrich et al. 2016):
    learn the first ``BPE_MERGES`` byte-pair merges from the corpus —
    the tokenizer-training step of an LLM data pipeline, run as a
    Spark loop instead of the single-machine reference algorithm.

    State is the **word-frequency table**, not the corpus: one
    tokenize+count pass collapses 100 TB of text into |vocab| rows
    (the classic BPE trick), and every round after that touches only
    that table. Each round is (a) one explode of adjacent symbol
    pairs + weighted count (map-side combinable), (b) ONE collected
    row — the argmax pair, count DESC with lexicographic tiebreak, a
    scalar model parameter like the IVF centroids — and (c) a
    map-side fold applying the merge (:func:`_bpe_merge_fold`, no
    shuffle). K rounds → K small shuffles over |vocab| rows; the
    per-round state is persisted and periodically ``localCheckpoint``-ed
    like the BSP loops (graph.py).

    Deterministic end to end (counts + pinned tiebreaks) — and since
    round 10 ORACLE-HASHED end to end: the K-round loop unrolls into
    one DuckDB query (:func:`_bpe_sql_ctes` — marked-string symbols,
    REPLACE as the greedy merge fold, 1-row argmax CTE per round), so
    the driver hash-compares the full learned merge table, on top of
    the pytest that matches it **exactly** against a pure-Python
    reference implementation (tests/test_llm_ops.py)."""
    merges = _learn_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank long, left string, right string, merged string, pair_count long",
    )


@register("ts_bpe_encode_stats", _BPE_ENCODE_ORACLE)
def ts_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**BPE encode** — apply the merge table learned by
    :func:`ts_bpe_learn_merges` to the corpus and report per-document
    token budgets: word count, subword count after all merges, and
    fertility (subwords per word, the tokenizer-efficiency metric
    ``ts_tokenizer_fertility`` tracks for the regex tokenizer).

    The encoder runs on the **distinct-word table**, not the corpus:
    each distinct word is segmented once by chaining the
    ``BPE_MERGES`` merge folds in learned order (pure Catalyst — the
    merge table is driver-side model state, so the chain is a fixed
    expression tree), then docs join their words to the segmentation
    by key. At 100 TB that is the tokenize-once/serve-many boundary
    the materialized token table (s19) pins: |vocab| fold evaluations
    + one term-keyed join, never per-occurrence re-segmentation.
    Since round 10 the DuckDB twin re-derives the merge table itself
    (the unrolled-loop CTEs) and re-encodes every distinct word via the
    marked-string REPLACE fold, so the driver hash certifies LEARN +
    ENCODE together; pytest additionally checks the per-doc counts
    against a pure-Python encode of the same merges."""
    merges = _learn_bpe(spark, sf_dir)
    docs = load_raw(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(doc_tokens(F.col("text"))).alias("word"))
    )
    vocab = words.select("word").distinct().select(
        "word",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>"))).alias(
            "symbols"
        ),
    )
    for _, left, right, _merged, _n in merges:
        vocab = vocab.select(
            "word", _bpe_merge_fold(left, right).alias("symbols")
        )
    seg = vocab.select("word", F.size("symbols").alias("n_subwords_w"))
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_subwords_w").cast("long").alias("n_subwords"),
            # one exactly-rounded long/long IEEE division — identical
            # across engines with no ROUND rule in play
            (F.sum("n_subwords_w") / F.count("*")).alias("fertility"),
        )
    )


# --------------------------------------------------------- UDTF twin

@register("ts_chunk_documents_udtf", _CHUNK_ORACLE)
def ts_chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker as a **Python UDTF** (Spark 4 user-defined table
    function): one input row → many output rows via a ``LATERAL``
    correlated invocation — the API surface for row-expanding logic
    too irregular for Catalyst expressions (parsers, decoders,
    API-response splitters). This twin intentionally re-implements
    :func:`ts_chunk_documents`'s exact geometry so the SAME DuckDB
    oracle hash-verifies both execution surfaces; the Catalyst form
    stays the production default (whole-stage codegen, no Python
    round-trip — the UDTF pays one Arrow batch hop per row like any
    Python UDF, the documented slow path). Scale shape is identical:
    per-row bounded fan-out, no shuffle."""
    import re

    from pyspark.sql.functions import udtf

    from ..functions.text import TOKEN_SPLIT_REGEX

    split_re = re.compile(TOKEN_SPLIT_REGEX)
    size, stride = CHUNK_SIZE, CHUNK_STRIDE

    @udtf(
        returnType="doc_id bigint, chunk_id int, chunk_start bigint,"
        " n_tokens bigint, chunk_text string"
    )
    class ChunkDocs:
        def eval(self, doc_id: int, text: str):
            toks = [t for t in split_re.split((text or "").lower()) if t]
            for k, s in enumerate(range(0, len(toks), stride)):
                ck = toks[s : s + size]
                yield doc_id, k, s, len(ck), " ".join(ck)

    spark.udtf.register("graft_chunk_docs", ChunkDocs)
    load_raw(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_chunk_docs_in"
    )
    return spark.sql(
        """SELECT c.doc_id, c.chunk_id, c.chunk_start, c.n_tokens, c.chunk_text
           FROM udtf_chunk_docs_in d,
                LATERAL graft_chunk_docs(d.doc_id, d.text) c"""
    )


# ------------------------------------------------------- phrase search

#: The pinned demo phrase (a frequent fixture bigram, so the result is
#: non-trivial at every SF).
PHRASE = ("table", "hash")


@register(
    "ts_phrase_search",
    f"""WITH t AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
p AS (
  SELECT doc_id, unnest(ts) AS term,
         generate_subscripts(ts, 1) AS pos
  FROM t
)
SELECT a.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(a.pos) AS BIGINT) AS first_pos
FROM p a JOIN p b
  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
GROUP BY a.doc_id""",
)
def ts_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Positional phrase search** — the inverted-index query shape a
    search engine runs for ``"{' '.join(PHRASE)}"``: tokenize with
    positions (``posexplode``), keep the two phrase terms' postings,
    and join them on (doc, adjacent positions). Per-doc hit count and
    first occurrence come back for snippeting/ranking.

    Scale: the join touches only the two terms' postings lists (the
    selective term filters push into the exploded relation before the
    shuffle), not the full position table — the plan a real index
    serves from its term-sharded postings. Longer phrases chain one
    positional join per extra term; proximity search loosens
    ``pos + 1`` to a band (cf. ``ef_range_join_banded``)."""
    docs = load_raw(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.posexplode(doc_tokens(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = p.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = p.filter(F.col("term") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos_a") + 1),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.min("pos_a").cast("long").alias("first_pos"),
        )
    )


# ---------------------------------------------------- BM25 retrieval

#: BM25 hyperparameters (the universal defaults) and the pinned demo
#: query — three frequent fixture terms so every SF returns a full list.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("table", "hash", "join")
BM25_TOP_K = 20


@register(
    "ts_bm25_search",
    f"""WITH t AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
toks AS (SELECT doc_id, unnest(ts) AS term FROM t),
dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dlen FROM t WHERE len(ts) > 0),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avg_len FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks WHERE term IN {BM25_QUERY!r}
  GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         SUM(
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
           * tf.f * ({BM25_K1} + 1)
           / (tf.f + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * dl.dlen / stats.avg_len))
         ) AS score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {BM25_TOP_K}""",
)
def ts_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**BM25 ranked retrieval** (Robertson-Sparck Jones) for the
    pinned query ``{' '.join(BM25_QUERY)}`` — the term-saturating,
    length-normalized ranking function every search engine defaults
    to, next to the boolean :func:`ts_phrase_search` and the TF-IDF
    chain (A5-A8; BM25's ``k1`` saturation and ``b`` length prior are
    exactly what raw tf·idf lacks). Top-``BM25_TOP_K`` docs with
    quantized scores and doc_id tiebreaks.

    Scale: term filters prune the postings BEFORE the shuffle (only
    the query's terms move), df and the corpus stats are tiny
    broadcasts, and the final top-k is one WindowGroupLimit — the
    serving plan of a term-sharded index. ``ln`` quantized at 6 dp
    (libm vs JVM ulp)."""
    docs = load_raw(spark, sf_dir, "documents")
    # NOTE (r13): t/dl/tf each feed 2 legs (no cross-subtree CSE) and
    # r12 persisted all three. Re-adjudicated paired in r13: persists
    # MEASURED 1.2x slower (1.26 vs 1.09 s min-of-5; dropping only the
    # wide t persist but keeping dl/tf was worst at 1.56) — all three
    # reverted; the duplicated chains are pruned token scans that cost
    # less than their cache writes. At-scale fix: token-table reuse
    # (s19), not an in-query cache. OPTIMIZATION_r13.md.
    t = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    dl = t.filter(F.size("ts") > 0).select(
        "doc_id", F.size("ts").cast("long").alias("dlen")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dlen").cast("double")).alias("avg_len"),
    )
    toks = t.select("doc_id", F.explode("ts").alias("term"))
    tf = (
        toks.filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("f"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("f") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dlen") / F.col("avg_len")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("f") * (BM25_K1 + 1) / norm).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    out = (
        scored.select(
            "doc_id",
            F.round("score", 6).alias("bm25"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= BM25_TOP_K)
    )
    return out


# ------------------------------------------- threshold calibration

#: Target keep-rates the quality filter is calibrated for.
KEEP_RATES = (0.5, 0.7, 0.9)


def _calibration_oracle() -> str:
    from ..registry import _REGISTRY

    quality_sql = _REGISTRY["ts_quality_score"].oracle
    legs = "\n  UNION ALL ".join(
        f"SELECT {r} AS keep_rate,"
        f" quantile_cont(quality, {round(1 - r, 6)}) AS threshold FROM q"
        for r in KEEP_RATES
    )
    return f"""WITH q AS ({quality_sql}),
thr AS (
  {legs}
)
SELECT t.keep_rate,
       CAST(CAST(FLOOR((t.threshold) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS threshold,
       CAST(CAST(FLOOR((CAST(COUNT(*) FILTER (WHERE q.quality >= t.threshold) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS achieved_rate,
       CAST(COUNT(*) FILTER (WHERE q.quality >= t.threshold) AS BIGINT)
         AS n_kept
FROM thr t CROSS JOIN q
GROUP BY t.keep_rate, t.threshold"""


@register("ts_quality_threshold_calibration", _calibration_oracle())
def ts_quality_threshold_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Filter-threshold calibration**: for each target keep-rate,
    the exact interpolated quality-score quantile that achieves it,
    plus the rate actually achieved at that cutoff (they differ when
    score ties straddle the quantile — exactly what the operator
    exists to reveal before a production filter is frozen). The
    "set the knob" gate that pairs with the AUC "does the knob work"
    gate (``samp_dsir_auc``).

    Plan: one exact multi-quantile aggregate over |docs| score rows
    (type-7 interpolation in both engines, cf.
    ``sk_value_percentiles_exact``), then one broadcast of the 3-row
    threshold table back over the scores for the achieved-rate count.
    At 100 TB swap the exact quantile for ``percentile_approx`` —
    the approximate twin's error bound is pytest-bounded in the
    sketches family."""
    q = ts_quality_score(spark, sf_dir).select("quality")
    # probabilities quantized exactly as in the oracle legs (1 - 0.7 is
    # 0.30000000000000004 in IEEE — both sides must interpolate at the
    # same literal)
    probs = [round(1 - r, 6) for r in KEEP_RATES]
    thr = (
        q.agg(
            F.expr(
                f"percentile(quality, array({', '.join(map(str, probs))}))"
            ).alias("ts")
        )
        .select(F.posexplode("ts").alias("i", "threshold"))
        .select(
            F.element_at(
                F.array(*[F.lit(r) for r in KEEP_RATES]), F.col("i") + 1
            ).alias("keep_rate"),
            "threshold",
        )
    )
    return (
        q.crossJoin(F.broadcast(thr))
        .groupBy("keep_rate", "threshold")
        .agg(
            # quantize rule-free: kept/total is an exact count ratio,
            # and the interpolated threshold can sit exactly between
            # two 6-dp quality grid points (a true half-boundary)
            ppm_value(
                F.count(F.when(F.col("quality") >= F.col("threshold"), 1))
                .cast("double")
                / F.count("*")
            ).alias("achieved_rate"),
            F.count(F.when(F.col("quality") >= F.col("threshold"), 1))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "keep_rate",
            ppm_value(F.col("threshold")).alias("threshold"),
            "achieved_rate",
            "n_kept",
        )
    )


# ------------------------------------------------- PMI collocations

#: Minimum documents a pair must co-occur in, and the list size.
PMI_MIN_SUPPORT = 5
PMI_TOP_K = 50


@register(
    "ts_pmi_top_pairs",
    f"""WITH dt AS (
  SELECT DISTINCT doc_id, unnest({DOC_TOKENS_SQL}) AS term FROM documents
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING COUNT(*) >= {PMI_MIN_SUPPORT}
)
SELECT term_a, term_b, n_ab,
       ROUND(log2(CAST(n_ab AS DOUBLE) * n.n_docs
                  / (da.df * CAST(db.df AS DOUBLE))), 6) AS pmi,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT p.*, n.n_docs, da.df AS dfa, db.df AS dfb,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(log2(CAST(p.n_ab AS DOUBLE) * n.n_docs
                               / (da.df * CAST(db.df AS DOUBLE))), 6) DESC,
                    p.term_a ASC, p.term_b ASC
         ) AS rnk
  FROM pairs p
  JOIN df da ON da.term = p.term_a
  JOIN df db ON db.term = p.term_b
  CROSS JOIN n
) s
JOIN df da ON da.term = s.term_a
JOIN df db ON db.term = s.term_b
CROSS JOIN n
WHERE rnk <= {PMI_TOP_K}""",
)
def ts_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**PMI collocation mining**: the corpus's most-associated term
    pairs by pointwise mutual information over document co-occurrence —
    ``log₂(p(a,b) / (p(a)·p(b)))`` with doc-frequency probabilities, a
    minimum-support floor (PMI is notoriously noisy on rare pairs),
    and a quantized deterministic top-``{PMI_TOP_K}``. The
    distributional-semantics statistic behind collocation extraction
    and phrase-table induction — and the corpus-level counterpart of
    the reference's per-document co-occurrence graphs (F2/F3).

    Scale: the pair relation comes from the inverted index
    (doc-keyed self-join of distinct doc-terms — fan-out bounded by
    per-doc vocab², the same candidate-generation shape as the n-gram
    Jaccard dedup); df and N broadcast back onto the surviving
    pairs."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    # four consumers (doc count, df model, both pair sides), no
    # cross-subtree CSE — persist the tokenize+distinct once, released
    # after the top-K result materializes (r12 scan audit: 5 dup scans)
    dt = bsp.persist(
        docs.select(
            "doc_id", F.explode(doc_tokens(F.col("text"))).alias("term")
        ).distinct()
    )
    n = dt.agg(F.count_distinct("doc_id").alias("n_docs"))
    df = dt.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    a = dt.select("doc_id", F.col("term").alias("term_a"))
    b = dt.select(F.col("doc_id").alias("doc_b"), F.col("term").alias("term_b"))
    pairs = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_SUPPORT)
    )
    scored = (
        pairs.join(
            F.broadcast(df.select(F.col("term").alias("term_a"), F.col("df").alias("dfa"))),
            "term_a",
        )
        .join(
            F.broadcast(df.select(F.col("term").alias("term_b"), F.col("df").alias("dfb"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log2(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("dfa") * F.col("dfb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= PMI_TOP_K)
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------------- vocabulary build

#: Vocabulary cutoffs: minimum term frequency and maximum vocab size.
VOCAB_MIN_COUNT = 2
VOCAB_MAX = 5000


@register(
    "ts_vocab_build",
    f"""SELECT term, n, CAST(rnk - 1 AS BIGINT) AS token_id FROM (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS rnk
  FROM (SELECT unnest({DOC_TOKENS_SQL}) AS term FROM documents)
  GROUP BY term HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
) WHERE rnk <= {VOCAB_MAX}""",
)
def ts_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Tokenizer vocabulary build**: corpus term frequencies →
    min-count cutoff → frequency-ranked token ids (0-based, ties
    broken lexicographically) capped at ``VOCAB_MAX``. The table every
    tokenizer/embedding pipeline pins before training: token_id
    assignment must be deterministic or every downstream artifact
    (id-mapped corpora, embedding rows) silently mismatches across
    reruns.

    Scale: one explode + one count aggregate (map-side combinable);
    the ranking window is global but runs over the PRE-AGGREGATED
    distinct-term relation (O(|vocab|), not O(corpus tokens)) — the
    allowlisted pre-aggregated-window pattern. Frequency ties break
    by term, so the id mapping is stable under any partitioning."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(doc_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= VOCAB_MIN_COUNT)
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("term")))
    return (
        counts.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= VOCAB_MAX)
        .select("term", "n", (F.col("rnk") - 1).cast("long").alias("token_id"))
    )


# -------------------------------------------------- n-gram count table

#: Ranked n-gram table: n-gram order, minimum frequency, size cap.
NGRAM_N = 2
NGRAM_MIN_COUNT = 2
NGRAM_MAX = 2000


@register(
    "ts_ngram_counts",
    f"""SELECT gram, n, CAST(rnk - 1 AS BIGINT) AS gram_id FROM (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, gram ASC) AS rnk
  FROM (
    SELECT unnest(list_transform(
             range(1, len(ts) - {NGRAM_N} + 2),
             i -> array_to_string(ts[i : i + {NGRAM_N} - 1], ' ')
           )) AS gram
    FROM (SELECT {DOC_TOKENS_SQL} AS ts FROM documents)
    WHERE len(ts) >= {NGRAM_N}
  )
  GROUP BY gram HAVING COUNT(*) >= {NGRAM_MIN_COUNT}
) WHERE rnk <= {NGRAM_MAX}""",
)
def ts_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus **n-gram count table** (order ``NGRAM_N``, space-joined),
    min-count-filtered and frequency-ranked with deterministic dense
    ids — the companion of :func:`ts_vocab_build` for n-gram LM
    training, collocation features, and the boilerplate lists n-gram
    dedup consumes.

    The n-gram generation is a per-row ``transform`` over the token
    array (no self-join, no positional explode+join); counting is one
    map-side-combinable aggregate, and the ranking window runs over the
    pre-aggregated O(|distinct n-grams|) relation — bounded by content
    diversity, not corpus size (and by ``NGRAM_MAX`` on output)."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    ts = F.col("ts")
    grams = docs.select(doc_tokens(F.col("text")).alias("ts")).filter(
        F.size(ts) >= NGRAM_N
    ).select(
        F.explode(
            F.transform(
                F.slice(ts, 1, F.size(ts) - (NGRAM_N - 1)),
                lambda _, i: F.concat_ws(
                    " ", *[F.element_at(ts, i + k + 1) for k in range(NGRAM_N)]
                ),
            )
        ).alias("gram")
    )
    counts = (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= NGRAM_MIN_COUNT)
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("gram")))
    return (
        counts.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= NGRAM_MAX)
        .select("gram", "n", (F.col("rnk") - 1).cast("long").alias("gram_id"))
    )


# --------------------------------------------------- readability score

@register(
    "ts_readability",
    f"""SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch
FROM (
  SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_words,
         CAST(GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                       s -> trim(s) <> '')), 1) AS BIGINT)
           AS n_sentences,
         CAST(list_sum(list_transform(ts,
                t -> GREATEST(len(list_filter(
                       string_split_regex(t, '[^aeiouy]+'), g -> g <> '')), 1)))
           AS BIGINT) AS n_syllables
  FROM (SELECT doc_id, text, {DOC_TOKENS_SQL} AS ts FROM documents)
  WHERE len(ts) > 0
)""",
)
def ts_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Flesch reading-ease** per document with a PINNED syllable
    heuristic (vowel-group count per token, floor 1 — the engine spec;
    dictionary syllabification is out of scope) and sentence count
    from ``[.!?]+`` runs (floor 1). Readability is a standard
    pretraining quality dimension: too-low scores flag legalese/
    boilerplate, impossibly high ones flag token soup. Empty docs are
    excluded (no words → undefined ratio).

    One projection over the token array — no explode, no shuffle;
    both engines compute the identical integer counts, so the 6-dp
    quantized score hash-matches."""
    docs = load_raw(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", doc_tokens(F.col("text")).alias("ts")
    ).filter(F.size("ts") > 0)
    ts = F.col("ts")
    syl = lambda t: F.greatest(
        F.size(F.filter(F.split(t, "[^aeiouy]+"), lambda g: g != "")), F.lit(1)
    )
    n_words = F.size(ts).cast("long")
    n_sentences = F.greatest(
        F.size(
            F.filter(F.split(F.col("text"), "[.!?]+"), lambda s: F.trim(s) != "")
        ),
        F.lit(1),
    ).cast("long")
    n_syllables = F.aggregate(ts, F.lit(0), lambda acc, t: acc + syl(t)).cast(
        "long"
    )
    counted = base.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return counted.withColumn("flesch", F.round(flesch, 6))


# ---------------------------------------------- vocab coverage curve

#: Pinned vocabulary-budget operating points for the coverage curve.
VOCAB_SWEEP = (256, 1024, 4096)


def _vocab_coverage_oracle() -> str:
    per_size = []
    selects = []
    for s in VOCAB_SWEEP:
        per_size.append(
            f"""cov_{s} AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS covered,
         CAST(COUNT(*) AS BIGINT) AS n_terms_kept
  FROM ranked WHERE rnk <= {s}
)"""
        )
        selects.append(
            f"""SELECT CAST({s} AS INTEGER) AS vocab_size,
       c.n_terms_kept, c.covered, t.total_tokens, t.n_terms,
       CAST(CAST(FLOOR((CAST(c.covered AS DOUBLE) / NULLIF(t.total_tokens, 0)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS coverage,
       CAST(CAST(FLOOR((CAST(t.total_tokens - c.covered AS DOUBLE) / NULLIF(t.total_tokens, 0)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS oov_rate
FROM cov_{s} c CROSS JOIN tot t"""
        )
    return (
        f"""WITH counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({DOC_TOKENS_SQL}) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rnk
  FROM counts
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM counts
), """
        + ",\n".join(per_size)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


@register("ts_vocab_coverage_curve", _vocab_coverage_oracle())
def ts_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Vocabulary-budget coverage curve**: for each pinned vocab size
    S, the share of corpus token mass the top-S frequency-ranked terms
    cover, and the OOV remainder — the decision table for "how big
    must the tokenizer vocabulary be?" (the Zipf fit, ``ts_zipf_fit``,
    predicts this curve's shape; this measures it). Ranking reuses the
    ``ts_vocab_build`` total order (count DESC, term ASC) so curve and
    shipped vocabulary cannot disagree on which terms are in-budget.

    Plan: one explode + term count (map-side combinable), a global
    window over the PRE-AGGREGATED O(|terms|) relation (the
    allowlisted pattern), then each sweep point is a rank filter +
    1-row aggregate joined against the 1-row totals. Ranked terms
    persist across the sweep and release on exit."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(doc_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = bsp.persist(
        counts.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("term")))
        )
    )
    tot = ranked.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_terms"),
    )
    slices = []
    for s in VOCAB_SWEEP:
        cov = ranked.filter(F.col("rnk") <= s).agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("covered"),
            F.count("*").cast("long").alias("n_terms_kept"),
        )
        slices.append(
            cov.crossJoin(F.broadcast(tot)).select(
                F.lit(s).cast("int").alias("vocab_size"),
                "n_terms_kept",
                "covered",
                "total_tokens",
                "n_terms",
                ppm_value(
                    F.col("covered").cast("double")
                    / F.nullif(F.col("total_tokens"), F.lit(0))
                ).alias("coverage"),
                ppm_value(
                    (F.col("total_tokens") - F.col("covered")).cast("double")
                    / F.nullif(F.col("total_tokens"), F.lit(0))
                ).alias("oov_rate"),
            )
        )
    out = slices[0]
    for sl in slices[1:]:
        out = out.unionByName(sl)
    return bsp.checkpoint_result(out)


# ------------------------------------------------------- RAKE keywords

#: Top-N RAKE phrases kept per document.
RAKE_TOP_N = 3

_RAKE_ORACLE = f"""WITH toks AS (
  SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS pos
  FROM (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents)
), flagged AS (
  SELECT doc_id, pos, tok,
         CASE WHEN tok IN ({STOPWORDS_SQL}) THEN 1 ELSE 0 END AS is_stop
  FROM toks
), grouped AS (
  SELECT doc_id, pos, tok, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
), members AS (
  SELECT doc_id, grp, pos, tok,
         CAST(COUNT(*) OVER (PARTITION BY doc_id, grp) AS BIGINT)
           AS phrase_len
  FROM grouped WHERE is_stop = 0
), word_stats AS (
  SELECT tok,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(phrase_len) AS BIGINT) AS degree
  FROM members GROUP BY tok
), phrases AS (
  SELECT m.doc_id,
         string_agg(m.tok, ' ' ORDER BY m.pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         ROUND(SUM(CAST(w.degree AS DOUBLE) / w.freq), 6) AS score
  FROM members m JOIN word_stats w ON m.tok = w.tok
  GROUP BY m.doc_id, m.grp
), dedup AS (
  SELECT doc_id, phrase,
         CAST(MAX(n_words) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         MAX(score) AS score
  FROM phrases GROUP BY doc_id, phrase
)
SELECT doc_id, phrase, n_words, n_occurrences, score,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase) AS rnk
  FROM dedup
) WHERE rnk <= {RAKE_TOP_N}"""


@register("ts_rake_keywords", _RAKE_ORACLE)
def ts_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**RAKE keyword extraction** (Rose et al. 2010) — the third
    extractor family next to TF-IDF and TextRank: candidate phrases
    are maximal stopword-free token runs, each word scores
    ``degree/frequency`` over the whole corpus of phrases (degree =
    the summed length of every phrase it appears in — co-occurrence
    mass), and a phrase scores the sum of its member word scores.
    Top-3 phrases per document, ties broken lexically.

    Spark-first decomposition — zero UDFs:

    - phrase segmentation is the gaps-and-islands trick: a running
      ``sum(is_stop)`` window per document splits the token stream at
      stopwords (doc-bounded window, shuffles once on doc_id);
    - word degree/frequency is one corpus-wide hash aggregate on the
      token (the only global shuffle, map-side combinable);
    - phrase reassembly sorts each group's (pos, tok) structs inside
      an array — never a cross-row order dependency.

    Scores quantize at 6 dp before the per-doc top-N window, so the
    rank order is the same deterministic (score, phrase) sort on both
    engines."""
    from pyspark.sql import Window

    docs = load_raw(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(doc_tokens(F.col("text"))).alias("pos0", "tok"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    flagged = toks.withColumn(
        "is_stop", F.col("tok").isin(*STOPWORDS).cast("int")
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = flagged.withColumn("grp", F.sum("is_stop").over(wdoc))
    members = (
        grouped.filter(F.col("is_stop") == 0)
        .withColumn(
            "phrase_len",
            F.count("*").over(Window.partitionBy("doc_id", "grp")).cast("long"),
        )
        .select("doc_id", "grp", "pos", "tok", "phrase_len")
    )
    word_stats = members.groupBy("tok").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("phrase_len").cast("long").alias("degree"),
    )
    phrases = (
        members.join(word_stats, "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("long").alias("n_words"),
            F.round(
                F.sum(F.col("degree").cast("double") / F.col("freq")), 6
            ).alias("score"),
        )
    )
    dedup = phrases.groupBy("doc_id", "phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_occurrences"),
        F.max("score").alias("score"),
    )
    wtop = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return (
        dedup.withColumn("rnk", F.row_number().over(wtop).cast("long"))
        .filter(F.col("rnk") <= RAKE_TOP_N)
        .select("doc_id", "phrase", "n_words", "n_occurrences", "score", "rnk")
    )


# ------------------------------- Kneser-Ney bigram LM (absolute discount)

#: Absolute discount mass moved from seen bigrams to the continuation
#: distribution. 0.75 is the classic KN default.
KN_DISCOUNT = 0.75


@register(
    "ts_kneser_ney_logprob",
    f"""WITH base AS (SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents),
grams AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i)
),
bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM grams GROUP BY w1, w2),
ctx AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS cctx,
         CAST(COUNT(*) AS BIGINT) AS n1p_fwd
  FROM bi GROUP BY w1
),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_prev FROM bi GROUP BY w2
),
btypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM bi),
scored AS (
  SELECT g.doc_id,
         log2(GREATEST(b.c2 - {KN_DISCOUNT}, 0) / cx.cctx
              + ({KN_DISCOUNT} * cx.n1p_fwd / cx.cctx)
                * (CAST(co.n1p_prev AS DOUBLE) / t.bt)) AS lp
  FROM grams g
  JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
  JOIN ctx cx ON g.w1 = cx.w1
  JOIN cont co ON g.w2 = co.w2
  CROSS JOIN btypes t
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(SUM(lp) / COUNT(*), 6) AS mean_log2_prob
  FROM scored GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       p.mean_log2_prob,
       ROUND(POWER(2.0, -p.mean_log2_prob), 4) AS perplexity
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id""",
)
def ts_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Interpolated Kneser-Ney bigram scoring** — the
    absolute-discount upgrade of :func:`ts_bigram_lm_perplexity`:
    ``P(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·) + D·N₁₊(w1,·)/c(w1·) ·
    N₁₊(·,w2)/|bigram types|``. Where Jelinek-Mercer backs off to raw
    unigram frequency, KN backs off to the *continuation* probability
    (in how many distinct contexts does w2 appear?) — the reason
    "francisco" scores low outside "san francisco" even though it is
    frequent. The canonical n-gram smoothing for LM-based data
    filters.

    Same plan shape as the JM filter: |vocab|-keyed model aggregates
    (here also the distinct-successor/predecessor counts, which are
    plain COUNT(*) over the bigram-type table), three token-keyed hash
    joins to score, one doc_id reduce. Per-term probability is a few
    IEEE ops on exact integer counts; the 6-dp mean round absorbs log
    ulp and sum order."""
    docs = load_raw(spark, sf_dir, "documents")
    # NOTE (r12): same re-tokenization shape and same measured verdict
    # as ts_bigram_lm_perplexity - an in-query persist was SLOWER than
    # the duplicate cheap chains; the at-scale fix is the materialized
    # token table (s19), not a cache. See OPTIMIZATION_r12.md.
    base = docs.select("doc_id", doc_tokens(F.col("text")).alias("ts"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(element_at(ts, i) AS w1,"
                    "             element_at(ts, i + 1) AS w2))"
                ),
            ).otherwise(
                F.expr("array()").cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    bi = grams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ctx = bi.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("cctx"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    cont = bi.groupBy("w2").agg(
        F.count("*").cast("long").alias("n1p_prev")
    )
    btypes = bi.agg(F.count("*").cast("long").alias("bt"))
    d = F.lit(KN_DISCOUNT)
    scored = (
        grams.join(bi, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "doc_id",
            F.log2(
                F.greatest(F.col("c2") - d, F.lit(0.0)) / F.col("cctx")
                + (d * F.col("n1p_fwd") / F.col("cctx"))
                * (F.col("n1p_prev").cast("double") / F.col("bt"))
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("lp") / F.count("*"), 6).alias("mean_log2_prob"),
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.col("mean_log2_prob"),
            F.round(F.pow(F.lit(2.0), -F.col("mean_log2_prob")), 4).alias(
                "perplexity"
            ),
        )
    )


# ------------------------------------------- lexical diversity profile

@register(
    "ts_lexical_diversity",
    f"""WITH tok AS (
  SELECT source, unnest(ts) AS tok
  FROM (SELECT source, {DOC_TOKENS_SQL} AS ts FROM documents)
), per AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS type_token_ratio,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(CAST(FLOOR((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS hapax_rate,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SQRT(CAST(SUM(c) AS DOUBLE)), 6)
         AS guiraud_r
FROM per GROUP BY source""",
)
def ts_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Lexical diversity profile per source**: type-token ratio,
    hapax-legomenon rate (fraction of types occurring once), and
    Guiraud's R (types/√tokens, the length-robust variant) — the
    curation signals separating template/boilerplate-heavy sources
    (low TTR, low hapax) from natural prose, complementary to the
    perplexity and repetition filters.

    Plan: explode once, ONE (source, token)-keyed count aggregate
    (map-side combinable), then a source-keyed rollup of the counts
    relation — type/hapax/token totals all fall out of the same
    grouped relation, no second scan, no per-doc windows.

    Scale: the (source, token) relation is vocabulary-sized per
    source, not corpus-sized; both aggregates are hash + combine.
    Skewed sources only skew their own partition's vocabulary."""
    docs = load_raw(spark, sf_dir, "documents")
    toks = doc_tokens(F.col("text"))
    per = (
        docs.select("source", F.explode(toks).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        ppm_value(
            F.count("*").cast("double") / F.sum("c")
        ).alias("type_token_ratio"),
        F.sum((F.col("c") == 1).cast("int"))
        .cast("bigint")
        .alias("n_hapax"),
        ppm_value(
            F.sum((F.col("c") == 1).cast("int")).cast("double")
            / F.count("*")
        ).alias("hapax_rate"),
        F.round(
            F.count("*").cast("double")
            / F.sqrt(F.sum("c").cast("double")),
            6,
        ).alias("guiraud_r"),
    )


# ------------------------------------------- length outlier filter

@register(
    "ts_length_outliers",
    f"""WITH lens AS (
  SELECT source, doc_id,
         CAST(len({DOC_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
), med AS (
  SELECT source, n_tokens AS median_tokens FROM (
    SELECT source, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_tokens, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS cnt
    FROM lens
  ) WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT l.source, l.doc_id, l.n_tokens, m.median_tokens,
         ABS(l.n_tokens - m.median_tokens) AS adev
  FROM lens l JOIN med m ON l.source = m.source
), mad AS (
  SELECT source, adev AS mad_tokens FROM (
    SELECT source, adev,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY adev, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS cnt
    FROM dev
  ) WHERE rn = (cnt + 1) // 2
)
SELECT source, doc_id, n_tokens, median_tokens, mad_tokens, robust_z,
       CAST(ABS(robust_z) > 3.5 AS BOOLEAN) AS is_outlier
FROM (
  -- CAST the scale to DOUBLE: as a bare literal DuckDB keeps it
  -- DECIMAL and computes the numerator exactly, landing on .5
  -- half-points that round differently than Spark's all-double chain
  SELECT d.source, d.doc_id, d.n_tokens, d.median_tokens, a.mad_tokens,
         CAST(CAST(FLOOR((CAST(0.6745 AS DOUBLE) * (d.n_tokens - d.median_tokens)
               / NULLIF(CAST(a.mad_tokens AS DOUBLE), 0)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS robust_z,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY CAST(CAST(FLOOR((ABS(CAST(0.6745 AS DOUBLE) * (d.n_tokens - d.median_tokens)
                 / NULLIF(CAST(a.mad_tokens AS DOUBLE), 0))) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 DESC,
             d.doc_id) AS rn
  FROM dev d JOIN mad a ON d.source = a.source
) WHERE rn = 1""",
)
def ts_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-source document-length outliers** by the Iglewicz–Hoaglin
    modified z-score (0.6745·(x−med)/MAD > 3.5) — the robust form of
    the min/max-length curation filter: fixed length cutoffs break
    when one source is tweets and another is articles, while a
    per-source median/MAD adapts and is immune to the very outliers
    it hunts (the doc-level twin of the daily-series
    ``ev_mad_anomaly``, sharing its lower-median convention). Emits
    each source's MOST extreme document with the flag — on the
    well-behaved fixture lengths no source crosses 3.5 (max |z| ≈ 3.0
    at sf0.01), and an empty-only output would be no evidence at all.

    Plan: token counts in one projection; per-source median and MAD
    are each one source-partitioned rank window over the O(docs)
    length relation (doc-id tiebreak → deterministic at 6 dp); flags
    are a broadcast-sized join back. No global windows.

    Scale: windows partition by source — state bounded by the largest
    single source; at extreme per-source cardinality swap the exact
    median for ``percentile_approx`` cuts exactly as the RFM op's
    scalable twin does."""
    docs = load_raw(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = doc_tokens(F.col("text"))
    lens = docs.select(
        "source", "doc_id", F.size(toks).cast("bigint").alias("n_tokens")
    )
    med = (
        lens.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("n_tokens", "doc_id")
            ),
        )
        .withColumn(
            "cnt", F.count("*").over(Window.partitionBy("source"))
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select("source", F.col("n_tokens").alias("median_tokens"))
    )
    dev = lens.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_tokens") - F.col("median_tokens"))
    )
    mad = (
        dev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("adev", "doc_id")
            ),
        )
        .withColumn(
            "cnt", F.count("*").over(Window.partitionBy("source"))
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select("source", F.col("adev").alias("mad_tokens"))
    )
    z = F.lit(0.6745) * (F.col("n_tokens") - F.col("median_tokens")) / F.nullif(
        F.col("mad_tokens").cast("double"), F.lit(0.0)
    )
    scored = dev.join(F.broadcast(mad), "source").withColumn(
        "robust_z", ppm_value(z)
    )
    top = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                ppm_value(F.abs(z)).desc(), F.col("doc_id")
            )
        ),
    ).filter(F.col("rn") == 1)
    return top.select(
        "source",
        "doc_id",
        "n_tokens",
        "median_tokens",
        "mad_tokens",
        "robust_z",
        (F.abs(F.col("robust_z")) > 3.5).alias("is_outlier"),
    )


# ------------------------------------------------ corpus entropy rate

@register(
    "ts_entropy_rate",
    f"""WITH t AS (
  SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents
), uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS tok FROM t) GROUP BY tok
), bi AS (
  SELECT w1 || ' ' || w2 AS bg, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT ts[i] AS w1, ts[i+1] AS w2
    FROM (SELECT ts, generate_subscripts(ts, 1) AS i FROM t)
    WHERE i <= len(ts) - 1
  ) GROUP BY bg
), s AS (
  SELECT (SELECT SUM(c) FROM uni) AS n1,
         (SELECT SUM(c) FROM bi) AS n2,
         (SELECT COUNT(*) FROM uni) AS v1,
         (SELECT COUNT(*) FROM bi) AS v2,
         (SELECT -SUM((CAST(c AS DOUBLE) / (SELECT SUM(c) FROM uni))
                      * log2(CAST(c AS DOUBLE) / (SELECT SUM(c) FROM uni)))
            FROM uni) AS h1,
         (SELECT -SUM((CAST(c AS DOUBLE) / (SELECT SUM(c) FROM bi))
                      * log2(CAST(c AS DOUBLE) / (SELECT SUM(c) FROM bi)))
            FROM bi) AS h2
)
SELECT CAST(n1 AS BIGINT) AS n_tokens, CAST(n2 AS BIGINT) AS n_bigrams,
       CAST(v1 AS BIGINT) AS vocab, CAST(v2 AS BIGINT) AS bigram_types,
       ROUND(h1, 6) AS h_unigram_bits,
       ROUND(h2, 6) AS h_bigram_bits,
       ROUND(h2 - h1, 6) AS entropy_rate_bits
FROM s""",
)
def ts_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Corpus entropy rate**: empirical unigram entropy H(W), bigram
    entropy H(W₁W₂), and the conditional H(W₂|W₁) = H(W₁W₂) − H(W₁) —
    the model-free redundancy dial (natural prose ≈ low rate vs its
    unigram entropy; template/generated text collapses further;
    random token soup pushes the rate toward H(W)). Complements the
    bigram-LM perplexity filter: same statistics, no held-out model,
    one corpus-level number a mixture dashboard can track per slice.

    Plan: one token explode → unigram hash aggregate; one 2-gram
    window per doc (lead() shape) → bigram hash aggregate; the
    entropies are single-pass Σ p·log₂p over each count relation with
    1-row total broadcasts. All counts exact BIGINT; doubles appear
    only inside the quantized entropy sums.

    Scale: both aggregates are map-side combinable; the bigram
    relation is bigram-type-sized. Same shape as the Kneser-Ney model
    build minus its continuation tables."""
    docs = load_raw(spark, sf_dir, "documents")
    toks = doc_tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("ts"))
    uni = (
        t.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    bi = (
        t.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("ts", i),
                        F.element_at("ts", i + 1),
                    ),
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").cast("bigint").alias("c"))
    )

    def _entropy(cnt: DataFrame, label: str) -> DataFrame:
        tot = cnt.agg(F.sum("c").alias("n"))
        p = F.col("c").cast("double") / F.col("n")
        return (
            cnt.crossJoin(F.broadcast(tot))
            .agg(
                F.max("n").cast("bigint").alias(f"n_{label}"),
                F.count("*").cast("bigint").alias(f"v_{label}"),
                (-F.sum(p * F.log2(p))).alias(f"h_{label}"),
            )
        )
    e1 = _entropy(uni, "uni")
    e2 = _entropy(bi, "bi")
    return e1.crossJoin(F.broadcast(e2)).select(
        F.col("n_uni").alias("n_tokens"),
        F.col("n_bi").alias("n_bigrams"),
        F.col("v_uni").alias("vocab"),
        F.col("v_bi").alias("bigram_types"),
        F.round("h_uni", 6).alias("h_unigram_bits"),
        F.round("h_bi", 6).alias("h_bigram_bits"),
        F.round(F.col("h_bi") - F.col("h_uni"), 6).alias(
            "entropy_rate_bits"
        ),
    )


# ------------------------------------------- source JS divergence

@register(
    "ts_source_js_divergence",
    f"""WITH tok AS (
  SELECT source, unnest(ts) AS tok
  FROM (SELECT source, {DOC_TOKENS_SQL} AS ts FROM documents)
), per AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, tok
), src_tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM per GROUP BY source
), corp AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM per GROUP BY tok
), corp_tot AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM corp
), terms AS (
  -- JSD(P,Q) = H(M) - (H(P)+H(Q))/2 with M=(P+Q)/2, expanded as
  -- 0.5*sum p*log2(2p/(p+q)) + 0.5*sum q*log2(2q/(p+q)); the second
  -- sum needs q over the FULL vocab, so fold both sides per token:
  -- tokens absent from the source contribute only the q term.
  SELECT s.source,
         SUM(CASE WHEN p.c IS NOT NULL THEN
               0.5 * (CAST(p.c AS DOUBLE) / s.ns)
               * log2(2.0 * (CAST(p.c AS DOUBLE) / s.ns)
                      / (CAST(p.c AS DOUBLE) / s.ns
                         + CAST(corp.cc AS DOUBLE) / ct.nc))
             ELSE 0.0 END
             + 0.5 * (CAST(corp.cc AS DOUBLE) / ct.nc)
               * log2(2.0 * (CAST(corp.cc AS DOUBLE) / ct.nc)
                      / (COALESCE(CAST(p.c AS DOUBLE) / s.ns, 0.0)
                         + CAST(corp.cc AS DOUBLE) / ct.nc))) AS jsd
  FROM src_tot s
  CROSS JOIN corp_tot ct
  JOIN corp ON TRUE
  LEFT JOIN per p ON p.source = s.source AND p.tok = corp.tok
  GROUP BY s.source
)
SELECT t.source, s.ns AS n_tokens, ROUND(t.jsd, 6) AS jsd_bits
FROM terms t JOIN src_tot s ON t.source = s.source""",
)
def ts_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-source Jensen–Shannon divergence** between the source's
    unigram distribution and the whole-corpus distribution — the
    symmetric, bounded (≤1 bit) "how different is this domain"
    distance that mixture planning reads next to DSIR scores (DSIR
    ranks documents by target affinity; JSD ranks SOURCES by how much
    their inclusion shifts the mixture). JSD = ½Σp·log₂(2p/(p+q)) +
    ½Σq·log₂(2q/(p+q)), with the q-only term folded in for tokens the
    source never uses (the part a naive inner join silently drops).

    Plan: one (source, token) count, one corpus count, and a
    corpus⋈per-source LEFT join keyed on token so absent tokens keep
    their q contribution; exact BIGINT counts, doubles only inside
    the quantized sum.

    Scale: the join fans out to |sources|×|vocab| rows — vocabulary-
    sized per source, not corpus-sized, and map-side reducible; at
    extreme vocabularies cap to the top-K tokens by corpus count and
    fold the tail into an OTHER bucket (the standard JSD-at-scale
    move, unchanged shape)."""
    docs = load_raw(spark, sf_dir, "documents")
    toks = doc_tokens(F.col("text"))
    # per feeds the source totals, the corpus model and the grid's
    # left join; src_tot feeds the grid and the final join (no
    # cross-subtree CSE) — persist both, released after the |sources|-
    # row report materializes (r12 scan audit: 5 duplicate scans)
    per = bsp.persist(
        docs.select("source", F.explode(toks).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    src_tot = bsp.persist(
        per.groupBy("source").agg(
            F.sum("c").cast("bigint").alias("ns")
        )
    )
    corp = per.groupBy("tok").agg(F.sum("c").cast("bigint").alias("cc"))
    corp_tot = corp.agg(F.sum("cc").cast("bigint").alias("nc"))
    grid = (
        src_tot.crossJoin(F.broadcast(corp_tot))
        .join(corp, F.lit(True))
        .join(per, ["source", "tok"], "left")
    )
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("cc").cast("double") / F.col("nc")
    term = (
        F.when(
            F.col("c").isNotNull(),
            0.5 * p * F.log2(2.0 * p / (p + q)),
        ).otherwise(F.lit(0.0))
        + 0.5
        * q
        * F.log2(2.0 * q / (F.coalesce(p, F.lit(0.0)) + q))
    )
    jsd = grid.groupBy("source").agg(F.sum(term).alias("jsd"))
    out = jsd.join(src_tot, "source").select(
        "source",
        F.col("ns").alias("n_tokens"),
        F.round("jsd", 6).alias("jsd_bits"),
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------- Heaps-law vocab growth

#: Corpus-prefix checkpoints (fractions of max doc_id) for the
#: vocabulary growth curve.
HEAPS_CHECKPOINT_FRACS = (0.1, 0.2, 0.4, 0.6, 0.8, 1.0)


def _heaps_oracle() -> str:
    fracs = ", ".join(f"({i}, {f!r})" for i, f in enumerate(HEAPS_CHECKPOINT_FRACS))
    return f"""WITH t AS (
  SELECT doc_id, {DOC_TOKENS_SQL} AS ts FROM documents
), tok AS (
  SELECT doc_id, unnest(ts) AS tok FROM t
), firsts AS (
  SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY tok
), doc_tokens AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS nt FROM t
), mx AS (SELECT MAX(doc_id) AS m FROM documents),
cps(i, frac) AS (VALUES {fracs}),
cuts AS (
  SELECT i, CAST(floor(frac * (mx.m + 1)) AS BIGINT) AS cut
  FROM cps CROSS JOIN mx
), curve AS (
  SELECT c.i, c.cut,
         (SELECT CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM doc_tokens
           WHERE doc_id < c.cut) AS n_tokens,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
           WHERE first_doc < c.cut) AS vocab
  FROM cuts c
), pts AS (
  SELECT log2(CAST(n_tokens AS DOUBLE)) AS x,
         log2(CAST(vocab AS DOUBLE)) AS y
  FROM curve WHERE n_tokens > 0 AND vocab > 0
), fit AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts
)
SELECT cv.i AS checkpoint, cv.cut AS doc_id_cut, cv.n_tokens, cv.vocab,
       ROUND((fit.k * fit.sxy - fit.sx * fit.sy)
             / (fit.k * fit.sxx - fit.sx * fit.sx), 6) AS heaps_beta,
       ROUND(POWER(2.0, (fit.sy - (fit.k * fit.sxy - fit.sx * fit.sy)
             / (fit.k * fit.sxx - fit.sx * fit.sx) * fit.sx) / fit.k), 6)
         AS heaps_k
FROM curve cv CROSS JOIN fit"""


@register("ts_heaps_law_fit", _heaps_oracle())
def ts_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Heaps'-law vocabulary growth fit**: V(n) ≈ K·n^β estimated by
    log-log OLS over corpus-prefix checkpoints — the planning curve
    for "how big must the tokenizer vocabulary be at 10× the corpus"
    (complement of the rank-frequency Zipf fit: Zipf describes the
    head, Heaps the growth of the long tail; β≈0.5 is natural text).
    Output: the growth curve (tokens, vocab per checkpoint) with the
    fitted (K, β) repeated per row.

    Plan trick: V(cut) for every checkpoint from ONE aggregate — a
    token's prefix membership is decided by its FIRST occurrence
    (min doc_id per token), so the curve needs one token-keyed
    aggregate + one bounded checkpoint join, never a rescan per
    checkpoint; n(cut) likewise folds from per-doc token counts.

    Scale: one explode + two hash aggregates + a 6-row checkpoint
    grid. The OLS runs on ≤6 points driver-free, same closed-form
    normal equations as the daily trend."""
    docs = load_raw(spark, sf_dir, "documents")
    toks = doc_tokens(F.col("text"))
    # t feeds both the first-occurrence and per-doc-count aggregates,
    # and the 6-row curve feeds both the OLS points and the output
    # join (no cross-subtree CSE) - persist both, released after the
    # 6-row result materializes (r12 scan audit: 8 scans before)
    t = bsp.persist(docs.select("doc_id", toks.alias("ts")))
    firsts = (
        t.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    )
    doc_nt = t.select(
        "doc_id", F.size("ts").cast("bigint").alias("nt")
    )
    mx = docs.agg(F.max("doc_id").alias("m"))
    cps = spark.createDataFrame(
        list(enumerate(HEAPS_CHECKPOINT_FRACS)), "i int, frac double"
    )
    cuts = cps.crossJoin(F.broadcast(mx)).select(
        "i",
        F.floor(F.col("frac") * (F.col("m") + 1))
        .cast("bigint")
        .alias("cut"),
    )
    n_per_cut = (
        cuts.join(doc_nt, doc_nt.doc_id < cuts.cut, "left")
        .groupBy("i", "cut")
        .agg(F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n_tokens"))
    )
    v_per_cut = (
        cuts.join(firsts, firsts.first_doc < cuts.cut, "left")
        .groupBy("i", "cut")
        .agg(F.count("tok").cast("bigint").alias("vocab"))
    )
    curve = bsp.persist(n_per_cut.join(v_per_cut, ["i", "cut"]))
    pts = curve.filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    ).select(
        F.log2(F.col("n_tokens").cast("double")).alias("x"),
        F.log2(F.col("vocab").cast("double")).alias("y"),
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    beta = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    intercept = (F.col("sy") - beta * F.col("sx")) / F.col("k")
    out = curve.crossJoin(F.broadcast(fit)).select(
        F.col("i").alias("checkpoint"),
        F.col("cut").alias("doc_id_cut"),
        "n_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.pow(F.lit(2.0), intercept), 6).alias("heaps_k"),
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------- lang-ID accuracy eval

def _langid_accuracy_oracle() -> str:
    from ..registry import _REGISTRY

    inner = _REGISTRY["ts_lang_id"].oracle
    return f"""WITH pred AS (
  SELECT * FROM (
{inner}
  ) q
)
SELECT d.lang AS true_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.lang_guess = d.lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(CAST(FLOOR((CAST(SUM(CASE WHEN p.lang_guess = d.lang THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS accuracy
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang"""


@register("ts_langid_accuracy", _langid_accuracy_oracle())
def ts_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Language-ID accuracy report**: score the stop-word-marker
    classifier (:func:`ts_lang_id`) against the fixture's ground-truth
    ``lang`` column, per true language — the eval loop every
    heuristic curation filter needs before its threshold gates real
    data (a filter whose per-language recall you never measured is a
    silent data-mixture bug). Composed oracle nests the classifier's
    SQL twin verbatim, so prediction AND scoring are hash-compared.

    Scale: the classifier is one scan with a bounded marker-table
    cross (its own story); the eval adds a doc_id-keyed join against
    the labels and one |langs|-group aggregate."""
    docs = load_raw(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = ts_lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    return (
        docs.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("lang_guess") == F.col("lang")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
            ppm_value(
                F.sum(
                    (F.col("lang_guess") == F.col("lang")).cast("int")
                ).cast("double")
                / F.count("*")
            ).alias("accuracy"),
        )
    )


# --------------------------------------- benchmark decontamination

#: Word n-gram width for contamination detection (the GPT-3/Llama
#: decontamination convention is 8-13; pinned at 8).
DECON_N = 8


def _decon_oracle() -> str:
    from .sampling import TRAIN_BUCKETS, VAL_BUCKETS, split_hash_sql

    return f"""WITH toks AS (
  SELECT doc_id, {DOC_TOKENS_SQL} AS ts,
         {split_hash_sql()} % 10 AS bucket
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN bucket < {TRAIN_BUCKETS} THEN 'train'
              WHEN bucket < {TRAIN_BUCKETS + VAL_BUCKETS} THEN 'val'
              ELSE 'test' END AS split,
         len(ts) - {DECON_N - 1} AS n_grams,
         md5(array_to_string(ts[i:i+{DECON_N - 1}], ' ')) AS h
  FROM toks, unnest(range(1, len(ts) - {DECON_N - 2})) AS t(i)
  WHERE len(ts) >= {DECON_N}
),
test_g AS (SELECT DISTINCT h FROM grams WHERE split = 'test')
SELECT doc_id,
       CAST(ANY_VALUE(n_grams) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) AS BIGINT) AS n_contaminated,
       ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_grams), 6)
         AS contamination_rate
FROM grams JOIN test_g USING (h)
WHERE split = 'train'
GROUP BY doc_id
ORDER BY doc_id"""


@register("ts_decontamination", _decon_oracle())
def ts_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Benchmark decontamination** (the GPT-3/Llama method): flag
    TRAIN documents sharing any word {DECON_N}-gram with the TEST
    split — the contamination `samp_split_leakage`'s near-dup lens
    can't see (verbatim phrase overlap below the whole-doc similarity
    threshold still leaks eval answers). Reports each contaminated
    train doc with its total/matching n-gram counts and rate.

    Shape: per-doc n-gram fan-out (|tokens| rows per doc, the dedup
    shingle shape), distinct test-side n-grams, and one semi-join-like
    equi-join on md5(n-gram) — a fixed-width 32-hex shuffle key instead
    of arbitrary-length phrases, the same discipline as the exact-dedup
    sha2 key. At 100 TB: test sets are tiny next to train, so Catalyst
    broadcasts the distinct test-gram side and the train fan-out never
    shuffles; output is |contaminated docs|, dashboard-sized. Split
    assignment is the pinned portable hash (samp_split_assign)."""
    from .sampling import TRAIN_BUCKETS, VAL_BUCKETS, split_hash

    docs = load_raw(spark, sf_dir, "documents")
    bucket = split_hash("doc_id") % 10
    split = (
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < TRAIN_BUCKETS + VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    toks = docs.select(
        "doc_id",
        split.alias("split"),
        doc_tokens(F.col("text")).alias("ts"),
    ).filter(F.size("ts") >= DECON_N)
    grams = toks.select(
        "doc_id",
        "split",
        (F.size("ts") - (DECON_N - 1)).cast("long").alias("n_grams"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ts) - {DECON_N - 1}),"
                f" i -> md5(array_join(slice(ts, i, {DECON_N}), ' ')))"
            )
        ).alias("h"),
    )
    test_g = (
        grams.filter(F.col("split") == "test").select("h").distinct()
    )
    return (
        grams.filter(F.col("split") == "train")
        .join(test_g, "h")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_ngrams"),
            F.count("*").alias("n_contaminated"),
            F.round(
                F.count("*").cast("double") / F.first("n_grams"), 6
            ).alias("contamination_rate"),
        )
        .orderBy("doc_id")
    )


# ----------------------------------------- Gopher-style rule battery

#: Pinned rule thresholds (Gopher/MassiveText-inspired filter battery,
#: Rae et al. 2021 §A1.1, adapted to the pinned alnum tokenizer: word
#: count bounds, mean-word-length band, alphabetic-word fraction,
#: minimum distinct stopword hits, symbol-to-word ratio cap).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_SYMBOL_RATIO = 0.1

_GOPHER_ORACLE = f"""WITH toks AS (
  SELECT doc_id, text, {DOC_TOKENS_SQL} AS ts FROM documents
), feats AS (
  SELECT doc_id,
         len(ts) AS n,
         CASE WHEN len(ts) > 0 THEN
           list_sum(list_transform(ts, t -> length(t))) * 1.0 / len(ts)
         ELSE 0.0 END AS mwl,
         CASE WHEN len(ts) > 0 THEN
           len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) * 1.0
             / len(ts)
         ELSE 0.0 END AS alpha_frac,
         len(list_filter(list_distinct(ts),
             t -> t IN ({{stops}}))) AS stop_hits,
         CASE WHEN len(ts) > 0 THEN
           ((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) / 3)
           * 1.0 / len(ts)
         ELSE 0.0 END AS symbol_ratio
  FROM toks
), flags AS (
  SELECT CASE WHEN n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS}
              THEN 1 ELSE 0 END AS f_words,
         CASE WHEN mwl < {GOPHER_MWL_LO} OR mwl > {GOPHER_MWL_HI}
              THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN alpha_frac < {GOPHER_ALPHA_FRAC} THEN 1 ELSE 0 END
           AS f_alpha,
         CASE WHEN stop_hits < {GOPHER_MIN_STOP_HITS} THEN 1 ELSE 0 END
           AS f_stop,
         CASE WHEN symbol_ratio > {GOPHER_SYMBOL_RATIO} THEN 1 ELSE 0 END
           AS f_symbol
  FROM feats
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM flags)
SELECT rule, n_fail,
       ROUND(n_fail * 1.0 / (SELECT n_docs FROM tot), 6) AS fail_rate
FROM (
  SELECT 'word_count' AS rule, CAST(SUM(f_words) AS BIGINT) AS n_fail FROM flags
  UNION ALL
  SELECT 'mean_word_length', CAST(SUM(f_mwl) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'alpha_word_fraction', CAST(SUM(f_alpha) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'stopword_hits', CAST(SUM(f_stop) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'symbol_ratio', CAST(SUM(f_symbol) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'any_rule', CAST(SUM(CASE WHEN f_words + f_mwl + f_alpha
                                        + f_stop + f_symbol > 0
                                   THEN 1 ELSE 0 END) AS BIGINT) FROM flags
) ORDER BY rule"""


def _gopher_oracle() -> str:
    return _GOPHER_ORACLE.replace("{stops}", STOPWORDS_SQL)


@register("ts_gopher_rules", _gopher_oracle())
def ts_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Gopher/MassiveText-style rule battery** (Rae et al. 2021,
    §A1.1, adapted to the pinned tokenizer): per-rule corpus failure
    counts and rates for word-count bounds, mean word length,
    alphabetic-word fraction, minimum distinct-stopword hits, and
    symbol-to-word ratio, plus the any-rule union — the hard-rule
    complement to the soft ts_quality_score heuristic (production
    curation stacks run BOTH: rules gate, score ranks).

    Every per-doc statistic is exact integer arithmetic or a single
    int/int division (bit-identical cross-engine, so the rule
    comparisons cannot straddle); one scan, one aggregate, 6 output
    rows at any corpus size."""
    docs = load_raw(spark, sf_dir, "documents")
    ts = doc_tokens(F.col("text"))
    n = F.size(ts)
    tok_len_sum = F.aggregate(
        F.transform(ts, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl = F.when(n > 0, tok_len_sum * F.lit(1.0) / n).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(ts, lambda t: t.rlike("[a-z]"))) * F.lit(1.0) / n,
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(
        F.filter(
            F.array_distinct(ts), lambda t: F.array_contains(stop_arr, t)
        )
    )
    hash_count = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ell_count = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n > 0, (hash_count + ell_count) * F.lit(1.0) / n
    ).otherwise(F.lit(0.0))
    flags = docs.select(
        F.when(
            (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS), 1
        ).otherwise(0).alias("f_words"),
        F.when(
            (mwl < GOPHER_MWL_LO) | (mwl > GOPHER_MWL_HI), 1
        ).otherwise(0).alias("f_mwl"),
        F.when(alpha_frac < GOPHER_ALPHA_FRAC, 1).otherwise(0).alias("f_alpha"),
        F.when(stop_hits < GOPHER_MIN_STOP_HITS, 1).otherwise(0).alias("f_stop"),
        F.when(symbol_ratio > GOPHER_SYMBOL_RATIO, 1).otherwise(0).alias(
            "f_symbol"
        ),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("f_words").cast("long").alias("word_count"),
        F.sum("f_mwl").cast("long").alias("mean_word_length"),
        F.sum("f_alpha").cast("long").alias("alpha_word_fraction"),
        F.sum("f_stop").cast("long").alias("stopword_hits"),
        F.sum("f_symbol").cast("long").alias("symbol_ratio"),
        F.sum(
            F.when(
                F.col("f_words")
                + F.col("f_mwl")
                + F.col("f_alpha")
                + F.col("f_stop")
                + F.col("f_symbol")
                > 0,
                1,
            ).otherwise(0)
        ).cast("long").alias("any_rule"),
    )
    rules = (
        "alpha_word_fraction",
        "any_rule",
        "mean_word_length",
        "stopword_hits",
        "symbol_ratio",
        "word_count",
    )
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(r).alias("n_fail")
                    )
                    for r in rules
                ]
            )
        ).alias("e"),
        "n_docs",
    ).select(
        F.col("e.rule").alias("rule"),
        F.col("e.n_fail").alias("n_fail"),
        F.round(F.col("e.n_fail") * F.lit(1.0) / F.col("n_docs"), 6).alias(
            "fail_rate"
        ),
    )
    return stacked.orderBy("rule")
