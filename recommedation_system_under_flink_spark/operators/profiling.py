"""Data-quality profiling and constraint validation (Deequ-style).

Before a 100 TB corpus feeds training, the pipeline asserts what it
BELIEVES about the data — null rates, key uniqueness, dimensional
invariants — and profiles what it doesn't know yet. Both shapes here:

- **column profile** — per-column row/null/distinct counts over the
  documents table: the "describe" every ingest job logs. One aggregate
  pass computes every column's stats (a single scan — profiling must
  never be one job per column at scale); the per-column rows are
  unpivoted from that single row afterwards.
- **constraint checks** — declarative expectations evaluated in one
  pass: key non-null, key unique, a cross-column consistency rule
  (``n_chars = length(text)``), and an embedding-dimension invariant.
  Each emits (check, violations, passed) — the job fails the batch on
  any ``passed = false`` row downstream.

Both are plain aggregates: map-side combinable, one shuffle of a
handful of partial rows, engine-portable → fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bsp
from ..registry import register
from .quantize import ppm_sum, ppm_value
from ..sources import load_raw

#: Expected embedding dimensionality (fixture schema contract).
EMB_DIM_EXPECTED = 64

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@register(
    "prof_documents_columns",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM documents"""
        for c in _PROFILE_COLS
    ),
)
def prof_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table: rows / nulls / distincts
    per column, ONE scan for all columns (each column's counts are
    parallel aggregate expressions, not separate jobs), unpivoted to
    one row per column via ``stack`` afterwards."""
    docs = load_raw(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").cast("long").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).cast("long").alias(f"{c}__null"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
        ]
    one = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct" for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) "
            "AS (column_name, n_rows, n_null, n_distinct)"
        )
    )


@register(
    "prof_constraint_checks",
    f"""WITH d AS (
  SELECT doc_id, text, n_chars FROM documents
), e AS (
  SELECT vec_id, len(embedding) AS dim FROM embeddings
)
SELECT 'doc_id_not_null' AS check_name,
       CAST(COUNT(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) AS violations,
       CAST(COUNT(*) FILTER (WHERE doc_id IS NULL) = 0 AS BOOLEAN) AS passed
FROM d
UNION ALL
SELECT 'doc_id_unique',
       CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT),
       CAST(COUNT(*) = COUNT(DISTINCT doc_id) AS BOOLEAN)
FROM d
UNION ALL
SELECT 'n_chars_matches_text',
       CAST(COUNT(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE n_chars <> length(text)) = 0 AS BOOLEAN)
FROM d
UNION ALL
SELECT 'embedding_dim_{EMB_DIM_EXPECTED}',
       CAST(COUNT(*) FILTER (WHERE dim <> {EMB_DIM_EXPECTED}) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE dim <> {EMB_DIM_EXPECTED}) = 0 AS BOOLEAN)
FROM e""",
)
def prof_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation: four declarative expectations, each one
    conditional-aggregate expression — per table ONE scan evaluates
    every check on it (documents' three share a pass; the embedding
    dimension check scans embeddings). Emits (check_name, violations,
    passed); a production pipeline gates the batch on ``min(passed)``."""
    docs = load_raw(spark, sf_dir, "documents")
    emb = load_raw(spark, sf_dir, "embeddings")

    null_v = F.count(F.when(F.col("doc_id").isNull(), 1)).cast("long")
    dup_v = (F.count("*") - F.countDistinct("doc_id")).cast("long")
    chars_v = F.count(
        F.when(F.col("n_chars") != F.length("text"), 1)
    ).cast("long")
    d = docs.agg(
        null_v.alias("null_v"), dup_v.alias("dup_v"), chars_v.alias("chars_v")
    )
    doc_checks = d.select(
        F.expr(
            "stack(3, 'doc_id_not_null', null_v, 'doc_id_unique', dup_v, "
            "'n_chars_matches_text', chars_v) AS (check_name, violations)"
        )
    )
    dim_v = F.count(
        F.when(F.size("embedding") != EMB_DIM_EXPECTED, 1)
    ).cast("long")
    emb_checks = emb.agg(dim_v.alias("violations")).select(
        F.lit(f"embedding_dim_{EMB_DIM_EXPECTED}").alias("check_name"),
        "violations",
    )
    return doc_checks.unionByName(emb_checks).select(
        "check_name", "violations", (F.col("violations") == 0).alias("passed")
    )


@register(
    "prof_embedding_norms",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(len(embedding)) AS BIGINT) AS dim_min,
       CAST(MAX(len(embedding)) AS BIGINT) AS dim_max,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       ROUND(MIN(nrm), 6) AS norm_min,
       ROUND(MAX(nrm), 6) AS norm_max,
       ROUND(AVG(nrm), 6) AS norm_avg
FROM (
  SELECT embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)""",
)
def prof_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-table quality profile: dimension consistency, zero-norm
    count (broken vectors that poison cosine math), and the norm
    distribution (un-normalized corpora break inner-product shortcuts)
    — the pre-flight check before any ANN build, one scan, one row.
    Norm aggregates are quantized; counts exact."""
    emb = load_raw(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(e, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    base = emb.select(F.size("embedding").alias("dim"), nrm.alias("nrm"))
    return base.agg(
        F.count("*").alias("n_vectors"),
        F.min("dim").cast("long").alias("dim_min"),
        F.max("dim").cast("long").alias("dim_max"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
        F.round(F.avg("nrm"), 6).alias("norm_avg"),
    )


@register(
    "prof_null_semantics",
    """WITH k AS (
  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_odd,
         value
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(COUNT(k_odd) AS BIGINT) AS nonnull_k,
       CAST(COUNT(DISTINCT k_odd) AS BIGINT) AS distinct_k,
       CAST(COUNT(*) FILTER (WHERE k_odd IS NULL) AS BIGINT) AS null_rows,
       CAST(SUM(k_odd) AS BIGINT) AS sum_skips_nulls,
       CAST(MIN(CASE WHEN k_odd = -1 THEN k_odd END) AS BIGINT)
         AS min_over_empty,
       CAST(COUNT(*) FILTER (WHERE k_odd IS NOT DISTINCT FROM NULL)
            AS BIGINT) AS nullsafe_null_matches
FROM k""",
)
def prof_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Three-valued-logic determinism probe**: one row pinning the
    NULL behaviors every oracle in this repo silently relies on, as
    hash-compared facts — COUNT(col) skips NULLs while COUNT(*) does
    not, DISTINCT collapses the NULL class, aggregate SUM/MIN ignore
    NULLs, an aggregate over an empty set is NULL (not 0), and
    null-safe equality (``IS NOT DISTINCT FROM`` / ``<=>``) treats
    NULL as a matchable value where ``=`` yields UNKNOWN. The fixture
    has no stored NULLs, so the probe derives them with CASE — the
    engine semantics exercised are identical. If either engine ever
    changed a default (or a reader maps absent to a default instead of
    NULL), this row hash-flips before some subtle downstream oracle
    does."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k").cast("long")
    k_odd = F.when(k % 2 == 1, k)
    base = ev.select(k_odd.alias("k_odd"))
    return base.agg(
        F.count("*").cast("long").alias("total"),
        F.count("k_odd").cast("long").alias("nonnull_k"),
        F.countDistinct("k_odd").cast("long").alias("distinct_k"),
        F.count(F.when(F.col("k_odd").isNull(), 1)).cast("long").alias(
            "null_rows"
        ),
        F.sum("k_odd").cast("long").alias("sum_skips_nulls"),
        F.min(F.when(F.col("k_odd") == -1, F.col("k_odd")))
        .cast("long")
        .alias("min_over_empty"),
        F.count(F.when(F.col("k_odd").eqNullSafe(F.lit(None).cast("long")), 1))
        .cast("long")
        .alias("nullsafe_null_matches"),
    )


#: k-anonymity threshold for the release-readiness report.
K_ANON = 5


@register(
    "prof_k_anonymity",
    f"""WITH rel AS (
  SELECT CAST(ts AS DATE) AS date, event_type,
         CAST(FLOOR(value / 10.0) AS BIGINT) AS value_bucket
  FROM events
), grp AS (
  SELECT date, event_type, value_bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM rel GROUP BY date, event_type, value_bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n) AS BIGINT) AS k_min,
       CAST(COUNT(*) FILTER (WHERE n < {K_ANON}) AS BIGINT)
         AS groups_below_k,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       ROUND(CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS DOUBLE)
             / SUM(n), 6) AS share_below_k
FROM grp""",
)
def prof_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**k-anonymity release report** over the quasi-identifier tuple
    (date, event_type, value-bucket): the minimum group size, how many
    groups sit below ``K_ANON``, and what share of rows they carry —
    the one-row diagnostic read before releasing an event extract
    (rows in small groups are re-identifiable by their
    quasi-identifiers; the fix is coarsening a bucket or suppressing
    the tail, and this report says which knob moves the share).

    Plan: one map-side-combinable group count + one reduce over
    |groups| rows — scan-speed at any scale; the quasi-identifier set
    is a projection choice, not a plan change."""
    from ..sources.tables import events_raw, ts_date

    rel = events_raw(spark, sf_dir).select(
        ts_date("ts").alias("date"),
        "event_type",
        F.floor(F.col("value") / 10.0).cast("long").alias("value_bucket"),
    )
    grp = rel.groupBy("date", "event_type", "value_bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    below = F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0))
    return grp.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("n").cast("long").alias("k_min"),
        F.count(F.when(F.col("n") < K_ANON, 1)).cast("long").alias(
            "groups_below_k"
        ),
        F.sum(below).cast("long").alias("rows_below_k"),
        F.round(F.sum(below).cast("double") / F.sum("n"), 6).alias(
            "share_below_k"
        ),
    )


#: l-diversity / t-closeness thresholds for the release report.
L_DIV = 3
T_CLOSE = 0.5


@register(
    "prof_l_diversity_t_closeness",
    f"""WITH rel AS (
  SELECT CAST(ts AS DATE) AS date,
         CAST(FLOOR(value / 10.0) AS BIGINT) AS value_bucket,
         event_type
  FROM events
), cells AS (
  SELECT date, value_bucket, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM rel GROUP BY date, value_bucket, event_type
), grp AS (
  SELECT date, value_bucket,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS l
  FROM cells GROUP BY date, value_bucket
), gdist AS (
  SELECT event_type, CAST(SUM(n) AS DOUBLE)
           / (SELECT SUM(n) FROM cells) AS p
  FROM cells GROUP BY event_type
), spread AS (
  SELECT g.date, g.value_bucket, g.n_rows, g.l,
         ROUND(0.5 * SUM(ABS(
           COALESCE(CAST(c.n AS DOUBLE) / g.n_rows, 0.0) - gl.p
         )), 6) AS tvd
  FROM grp g
  CROSS JOIN gdist gl
  LEFT JOIN cells c ON c.date = g.date AND c.value_bucket = g.value_bucket
                   AND c.event_type = gl.event_type
  GROUP BY g.date, g.value_bucket, g.n_rows, g.l
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(l) AS BIGINT) AS l_min,
       CAST(COUNT(*) FILTER (WHERE l < {L_DIV}) AS BIGINT) AS groups_below_l,
       ROUND(MAX(tvd), 6) AS max_tvd,
       CAST(COUNT(*) FILTER (WHERE tvd > {T_CLOSE}) AS BIGINT)
         AS groups_above_t,
       ROUND(CAST(SUM(CASE WHEN tvd > {T_CLOSE} THEN n_rows ELSE 0 END)
                  AS DOUBLE) / SUM(n_rows), 6) AS share_rows_above_t
FROM spread""",
)
def prof_l_diversity_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**l-diversity + t-closeness release report** — the two privacy
    gates past k-anonymity (Machanavajjhala 2007; Li 2007): per
    quasi-identifier group (date, value-bucket), (a) how many DISTINCT
    sensitive values (event_type) it contains — a group with one value
    leaks the attribute even at k rows — and (b) how far the group's
    sensitive-value distribution drifts from the global one (total
    variation distance; a skewed group leaks probabilistically even
    when diverse). One row: min l, groups below ``L_DIV``, max TVD,
    and the row share in groups above ``T_CLOSE``.

    Plan: cell counts (QI × sensitive) are one map-side-combinable
    aggregate; the TVD needs every (group, sensitive) pair INCLUDING
    absent ones (p_g = 0 still contributes |0 − p|), so groups
    cross-join the |types|-row global distribution and left-join their
    cells — fan-out |groups| × |types|, bounded by the QI arity, never
    by raw rows. All shares quantized to 6 dp."""
    from ..sources.tables import events_raw, ts_date

    rel = events_raw(spark, sf_dir).select(
        ts_date("ts").alias("date"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_bucket"),
        "event_type",
    )
    # cells feeds three branches of the plan (grp, gdist, the TVD
    # join): persist it and checkpoint the 1-row result before the
    # scope releases it
    cells = bsp.persist(
        rel.groupBy("date", "value_bucket", "event_type").agg(
            F.count("*").cast("long").alias("n")
        )
    )
    grp = cells.groupBy("date", "value_bucket").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("l"),
    )
    total = cells.agg(F.sum("n").alias("tot"))
    glob = (
        cells.groupBy("event_type")
        .agg(F.sum("n").alias("tn"))
        .crossJoin(F.broadcast(total))
        .select(
            "event_type", (F.col("tn").cast("double") / F.col("tot")).alias("p")
        )
    )
    spread = (
        grp.crossJoin(F.broadcast(glob))
        .join(
            cells.select(
                F.col("date").alias("c_date"),
                F.col("value_bucket").alias("c_bucket"),
                F.col("event_type").alias("c_type"),
                "n",
            ),
            (F.col("date") == F.col("c_date"))
            & (F.col("value_bucket") == F.col("c_bucket"))
            & (F.col("event_type") == F.col("c_type")),
            "left",
        )
        .groupBy("date", "value_bucket", "n_rows", "l")
        .agg(
            F.round(
                0.5
                * F.sum(
                    F.abs(
                        F.coalesce(
                            F.col("n").cast("double") / F.col("n_rows"),
                            F.lit(0.0),
                        )
                        - F.col("p")
                    )
                ),
                6,
            ).alias("tvd")
        )
    )
    above = F.when(F.col("tvd") > T_CLOSE, F.col("n_rows")).otherwise(F.lit(0))
    out = spread.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("l_min"),
        F.count(F.when(F.col("l") < L_DIV, 1)).cast("long").alias(
            "groups_below_l"
        ),
        F.round(F.max("tvd"), 6).alias("max_tvd"),
        F.count(F.when(F.col("tvd") > T_CLOSE, 1)).cast("long").alias(
            "groups_above_t"
        ),
        F.round(
            F.sum(above).cast("double") / F.sum("n_rows"), 6
        ).alias("share_rows_above_t"),
    )
    return bsp.checkpoint_result(out)


@register(
    "prof_chi2_lang_source",
    """WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
), margins AS (
  SELECT c.lang, c.source, c.o,
         SUM(c.o) OVER (PARTITION BY c.lang) AS rl,
         SUM(c.o) OVER (PARTITION BY c.source) AS cs,
         SUM(c.o) OVER () AS n
  FROM cells c
), grid AS (
  SELECT l.lang, s.source, l.rl, s.cs, f.n,
         COALESCE(m.o, 0) AS o
  FROM (SELECT DISTINCT lang, rl FROM margins) l
  CROSS JOIN (SELECT DISTINCT source, cs FROM margins) s
  CROSS JOIN (SELECT DISTINCT n FROM margins) f
  LEFT JOIN margins m ON m.lang = l.lang AND m.source = s.source
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
            AS BIGINT) AS dof,
       CAST(CAST(SUM(CAST(FLOOR((
         (o - CAST(rl AS DOUBLE) * cs / n) * (o - CAST(rl AS DOUBLE) * cs / n)
         / (CAST(rl AS DOUBLE) * cs / n)
       ) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0
         AS chi2
FROM grid""",
)
def prof_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Chi-square independence test** on the lang × source
    contingency table — the data-quality gate for "is the language mix
    uniform across ingestion sources, or is some source skewed". The
    statistic is ``Σ (O−E)²/E`` over the FULL grid (absent cells
    contribute with O = 0 — omitting them understates the statistic,
    the same absent-cell trap as the t-closeness TVD), with degrees of
    freedom for the reader's p-value lookup. Expected counts are exact
    integer-margin products divided once in double, so the sum is
    hash-stable at 6 dp.

    Plan: one cell count, margin windows over |cells| rows, and a
    margins-grid cross join bounded by |langs| × |sources| — never raw
    rows."""
    docs = load_raw(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    langs = cells.groupBy("lang").agg(F.sum("o").alias("rl"))
    sources = cells.groupBy("source").agg(F.sum("o").alias("cs"))
    total = cells.agg(F.sum("o").alias("n"))
    grid = (
        langs.crossJoin(F.broadcast(sources))
        .crossJoin(F.broadcast(total))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "rl",
            "cs",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    e = F.col("rl").cast("double") * F.col("cs") / F.col("n")
    return grid.agg(
        F.count("*").cast("long").alias("n_cells"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("long").alias("dof"),
        (
            ppm_sum((F.col("o") - e) * (F.col("o") - e) / e)
            .cast("double")
            / 1000000.0
        ).alias("chi2"),
    )


# ----------------------------------------------- Benford first-digit law

#: Benford expected first-digit probabilities, pinned as literals so
#: BOTH engines compare the identical doubles (no cross-engine log10).
import math as _math

BENFORD_P = {d: round(_math.log10(1.0 + 1.0 / d), 12) for d in range(1, 10)}

_BENFORD_EXP_SQL = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items()
) + " END"


@register(
    "prof_benford_totalprice",
    f"""SELECT first_digit, n, obs_freq, exp_freq,
       ROUND(POWER(obs_freq - exp_freq, 2) / exp_freq, 6) AS chi2_term
FROM (
  SELECT first_digit,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER (), 6) AS obs_freq,
         ROUND({_BENFORD_EXP_SQL}, 6) AS exp_freq
  FROM (
    SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                                 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
             AS first_digit
    FROM orders WHERE o_totalprice > 0
  )
  GROUP BY first_digit
)""",
)
def prof_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Benford's-law first-digit profile** of order totals — the
    classic anomaly screen for monetary/measurement columns: naturally
    occurring multi-scale amounts follow ``P(d) = log10(1 + 1/d)``;
    fabricated, truncated, or unit-mangled data does not. Emits one row
    per leading digit with observed vs expected frequency and the
    chi-square term — a large Σ chi2_term flags the column for review.

    Determinism: the value is first cast to exact DECIMAL(18,4) (the
    repo's money convention) and scaled to integer units, so the
    leading digit comes from exact integer-to-string conversion in both
    engines — no float log10 at power-of-ten boundaries. Expected
    probabilities are pinned 12-dp literals shared by both sides.

    Scale: one scan of one column → 9-group partial-aggregated
    groupBy; the frequency normalization window runs over the 9-row
    aggregated relation (O(1), not data-sized)."""
    orders = load_raw(spark, sf_dir, "orders")
    units = (
        (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")
        .cast("string")
    )
    digit = F.substring(units, 1, 1).cast("int")
    counted = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("first_digit"))
        .groupBy("first_digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    from pyspark.sql import Window

    total = F.sum("n").over(Window.partitionBy())
    exp = F.lit(None).cast("double")
    expr = None
    for d, p in BENFORD_P.items():
        expr = (
            F.when(F.col("first_digit") == d, F.lit(p))
            if expr is None
            else expr.when(F.col("first_digit") == d, F.lit(p))
        )
    freqd = counted.select(
        "first_digit",
        "n",
        F.round(F.col("n") / total, 6).alias("obs_freq"),
        F.round(expr, 6).alias("exp_freq"),
    )
    return freqd.withColumn(
        "chi2_term",
        F.round(
            F.pow(F.col("obs_freq") - F.col("exp_freq"), 2) / F.col("exp_freq"),
            6,
        ),
    )


# -------------------------------------------- referential integrity

#: The star-schema FK graph under audit: (child, fk, parent, pk).
FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "prof_referential_integrity",
    "\nUNION ALL\n".join(
        f"""SELECT '{child}.{fk} -> {parent}.{pk}' AS fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COUNT(*) - COUNT({fk}) AS BIGINT) AS n_null_fk,
       CAST(SUM(CASE WHEN {fk} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       CAST(SUM(CASE WHEN {fk} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS ref_complete
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}"""
        for child, fk, parent, pk in FK_EDGES
    ),
)
def prof_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Referential-integrity audit** over the whole star-schema FK
    graph: per edge, child rows / NULL FKs / orphans (non-NULL FK with
    no parent) / a pass flag — the constraint a lakehouse can't enforce
    at write time and therefore must AUDIT at read time. Orphans mean
    either lost parent partitions (ingest gap) or late-arriving
    children (join them tomorrow); either way every downstream inner
    join silently drops those rows, so this report is the difference
    between "the revenue query is wrong" and "the revenue query is
    wrong BECAUSE 0.3% of lineitems have no order yet".

    Plan: one left join per edge against the parent's key column only
    (column-pruned scan; small dims broadcast), each collapsing to a
    single audit row — at 100 TB each edge is a map-side-combinable
    aggregate over the join, state O(1)."""
    rows = []
    for child, fk, parent, pk in FK_EDGES:
        c = load_raw(spark, sf_dir, child)
        p = load_raw(spark, sf_dir, parent).select(pk)
        joined = c.select(fk).join(
            p, F.col(fk) == F.col(pk), "left"
        )
        orphan = F.when(
            F.col(fk).isNotNull() & F.col(pk).isNull(), 1
        ).otherwise(0)
        rows.append(
            joined.agg(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("fk_edge"),
                F.count("*").cast("long").alias("n_child"),
                (F.count("*") - F.count(fk)).cast("long").alias("n_null_fk"),
                F.sum(orphan).cast("long").alias("n_orphans"),
                (F.sum(orphan) == 0).alias("ref_complete"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------- numeric correlation

#: The lineitem numeric measures profiled pairwise.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    sums = ", ".join(
        [f"CAST(COUNT(*) AS BIGINT) AS n"]
        + [
            f"SUM(CAST({c} AS DECIMAL(18,4))) AS s_{c}"
            for c in CORR_COLS
        ]
        + [
            # 19-wide left operand forces int128 decimal arithmetic in
            # DuckDB (price x price products overflow the int64 path);
            # Spark gets (38,8) for the same product, still exact.
            f"SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(18,4)))"
            f" AS s_{a}_{b}"
            for i, a in enumerate(CORR_COLS)
            for b in CORR_COLS[i:]
        ]
    )
    def corr(a: str, b: str) -> str:
        n = "CAST(n AS DOUBLE)"
        sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
        sab = f"CAST(s_{a}_{b} AS DOUBLE)"
        saa, sbb = f"CAST(s_{a}_{a} AS DOUBLE)", f"CAST(s_{b}_{b} AS DOUBLE)"
        num = f"({n} * {sab} - {sa} * {sb})"
        den = f"sqrt(({n} * {saa} - {sa} * {sa}) * ({n} * {sbb} - {sb} * {sb}))"
        return f"ROUND({num} / NULLIF({den}, 0), 6)"
    selects = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, {corr(a, b)} AS corr"
        f" FROM moments"
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1 :]
    )
    return f"WITH moments AS (SELECT {sums} FROM lineitem)\n{selects}"


@register("prof_numeric_correlation", _corr_oracle())
def prof_numeric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Pairwise Pearson correlation** over the lineitem numeric
    measures — the data-profiling step that flags redundant or derived
    columns (a |corr| ≈ 1 pair is one column pretending to be two)
    before feature selection or compression decisions.

    Determinism: the six moment sums (Σx, Σxy) are computed in exact
    DECIMAL(18,6) — bit-identical in any partitioning and any engine —
    and only the final corr formula drops to DOUBLE on the identical
    exact inputs, then rounds at 6 dp. One scan, one map-side-combinable
    aggregate to a single moments row; the pair fan-out is a 6-row
    driver-free explode. At 100 TB this is the cheapest full-table
    profile shape there is."""
    li = load_raw(spark, sf_dir, "lineitem")
    wide = {c: F.col(c).cast("decimal(19,4)") for c in CORR_COLS}
    dec = {c: F.col(c).cast("decimal(18,4)") for c in CORR_COLS}
    aggs = [F.count("*").cast("long").alias("n")]
    aggs += [F.sum(dec[c]).alias(f"s_{c}") for c in CORR_COLS]
    aggs += [
        F.sum(wide[a] * dec[b]).alias(f"s_{a}_{b}")
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i:]
    ]
    moments = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sab = F.col(f"s_{a}_{b}").cast("double")
        saa = F.col(f"s_{a}_{a}").cast("double")
        sbb = F.col(f"s_{b}_{b}").cast("double")
        num = n * sab - sa * sb
        den = F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        return F.round(num / F.nullif(den, F.lit(0.0)), 6)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr(a, b).alias("corr"),
            )
            for i, a in enumerate(CORR_COLS)
            for b in CORR_COLS[i + 1 :]
        ]
    )
    return moments.select("n", F.explode(pairs).alias("p")).select(
        "p.col_a", "p.col_b", "n", "p.corr"
    )


# ------------------------------------------------ column entropy profile

#: Categorical document columns profiled for entropy.
ENTROPY_COLS = ("lang", "source")


@register(
    "prof_column_entropy",
    f"""WITH unpivoted AS (
  {" UNION ALL ".join(f"SELECT 'documents.{c}' AS col, CAST({c} AS VARCHAR) AS val FROM documents" for c in ENTROPY_COLS)}
  UNION ALL
  SELECT 'events.event_type', CAST(event_type AS VARCHAR) FROM events
), counts AS (
  SELECT col, val, CAST(COUNT(*) AS BIGINT) AS c
  FROM unpivoted GROUP BY col, val
), totals AS (
  SELECT col, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY col
)
SELECT c.col,
       t.n,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(SUM(-(CAST(c.c AS DOUBLE) / t.n)
                 * log2(CAST(c.c AS DOUBLE) / t.n)), 6) AS entropy_bits,
       ROUND(log2(CAST(COUNT(*) AS DOUBLE)), 6) AS max_entropy_bits,
       ROUND(SUM(-(CAST(c.c AS DOUBLE) / t.n)
                 * log2(CAST(c.c AS DOUBLE) / t.n))
             / NULLIF(log2(CAST(COUNT(*) AS DOUBLE)), 0), 6)
         AS normalized_entropy
FROM counts c JOIN totals t ON c.col = t.col
GROUP BY c.col, t.n""",
)
def prof_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Shannon entropy profile** of the categorical columns: observed
    bits, the log₂(distinct) ceiling, and their ratio — the
    concentration signal that tells a pipeline which columns are worth
    dictionary-encoding, which partition keys will skew (normalized
    entropy ≪ 1 = a few heavy values), and which "category" columns
    have degenerated to constants. The multimodal byte-entropy probe
    (``mm_binary_stats``) is the per-payload analogue; this is the
    per-COLUMN one.

    Plan: the unpivot is a union of narrow single-column projections
    (each scan prunes to one column), then one (col, val) count — all
    map-side-combinable — and an O(distinct) per-column reduce. Entropy
    terms are positive, so the cross-engine double sums agree far
    inside the 6-dp quantization. At 100 TB the (col, val) aggregate is
    the only data-sized shuffle; for truly high-cardinality columns
    you'd swap in the Count-Min/HLL sketch path (``sk_*``)."""
    from ..sources import events_raw

    docs = load_raw(spark, sf_dir, "documents")
    parts = [
        docs.select(
            F.lit(f"documents.{c}").alias("col"),
            F.col(c).cast("string").alias("val"),
        )
        for c in ENTROPY_COLS
    ] + [
        events_raw(spark, sf_dir).select(
            F.lit("events.event_type").alias("col"),
            F.col("event_type").cast("string").alias("val"),
        )
    ]
    unpivoted = parts[0]
    for p in parts[1:]:
        unpivoted = unpivoted.unionByName(p)
    counts = unpivoted.groupBy("col", "val").agg(F.count("*").alias("c"))
    # per-(col,val) share needs the col total: a col-partitioned window
    # over the O(distinct)-row counts relation (NOT a self-join, which
    # would re-execute the unpivot scan — Catalyst has no cross-subtree
    # CSE; and not a global window — partitioning is by col)
    from pyspark.sql import Window

    w = Window.partitionBy("col")
    withn = counts.withColumn("n", F.sum("c").over(w).cast("long"))
    p_ = F.col("c").cast("double") / F.col("n")
    ent = withn.groupBy("col").agg(
        F.first("n").alias("n"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(-p_ * F.log2(p_)).alias("h"),
    )
    return ent.select(
        "col",
        "n",
        "n_distinct",
        F.round("h", 6).alias("entropy_bits"),
        F.round(F.log2(F.col("n_distinct").cast("double")), 6).alias(
            "max_entropy_bits"
        ),
        F.round(
            F.col("h")
            / F.nullif(F.log2(F.col("n_distinct").cast("double")), F.lit(0.0)),
            6,
        ).alias("normalized_entropy"),
    )


# ------------------------------------------------ candidate-key audit

#: (table, combo) probes: claimed keys and near-keys worth disproving.
KEY_PROBES = (
    ("orders", ("o_orderkey",)),
    ("orders", ("o_custkey", "o_orderdate")),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("lineitem", ("l_orderkey",)),
    ("customer", ("c_custkey",)),
    ("documents", ("doc_id",)),
    ("documents", ("source", "n_chars")),
    ("events", ("user_id", "ts")),
)


def _key_probe_sql() -> str:
    parts = []
    for table, cols in KEY_PROBES:
        combo = ", ".join(cols)
        label = table + "(" + ",".join(cols) + ")"
        parts.append(
            f"""SELECT '{label}' AS probe,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT ({combo})) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) = COUNT(DISTINCT ({combo})) AS BOOLEAN) AS is_key
FROM {table}"""
        )
    return "\nUNION ALL\n".join(parts)


@register("prof_candidate_keys", _key_probe_sql())
def prof_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Candidate-key discovery audit**: for each pinned (table,
    column-combo) probe, does the combo uniquely identify rows? The
    schema-inference primitive behind upsert-key validation, CDC
    dedup keys, and join-cardinality planning — a combo that silently
    stops being a key is how MERGE fan-out and row-duplicating joins
    sneak into production pipelines (the profiling companion to
    :func:`prof_referential_integrity`, which audits the foreign
    side).

    Plan: one COUNT + COUNT(DISTINCT combo) aggregate per probe —
    Catalyst expands each into the standard two-phase distinct
    aggregate (partial on the combo key, then count), map-side
    combinable, unioned into one result. Probes run on their own
    tables; nothing joins.

    Scale: each probe is one hash aggregate whose state is the
    combo's distinct cardinality — for true keys that equals the
    table, so at 100 TB swap exactness for the HLL twin
    (``sk_*`` family) per probe where a ±0.5% answer suffices; the
    pinned-probe shape is unchanged."""
    out = None
    for table, cols in KEY_PROBES:
        t = load_raw(spark, sf_dir, table)
        label = table + "(" + ",".join(cols) + ")"
        combo = F.struct(*[F.col(c) for c in cols])
        agg = t.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct(combo).cast("bigint").alias("n_distinct"),
        ).select(
            F.lit(label).alias("probe"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


# -------------------------------------------- partition balance audit

@register(
    "prof_partition_balance",
    """WITH parts AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), med AS (
  SELECT n AS median_rows FROM (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n, day) AS rn,
           COUNT(*) OVER () AS c
    FROM parts
  ) WHERE rn = (c + 1) // 2
)
SELECT CAST((SELECT COUNT(*) FROM parts) AS BIGINT) AS n_partitions,
       (SELECT MIN(n) FROM parts) AS min_rows,
       med.median_rows,
       (SELECT MAX(n) FROM parts) AS max_rows,
       CAST(CAST(FLOOR((CAST((SELECT MAX(n) FROM parts) AS DOUBLE) / med.median_rows) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS skew_ratio,
       CAST((SELECT MAX(n) FROM parts) > 2 * med.median_rows AS BOOLEAN)
         AS skewed
FROM med""",
)
def prof_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Date-partition balance audit** for the events table: row
    counts per day partition, the max/median skew ratio, and a flag
    at the 2× threshold — the check run BEFORE committing to
    date-partitioned writes (``s7_partitioned_write_pruned_read``) or
    date-keyed shuffles: one hot day (product launch, bot storm)
    becomes one straggler task at 100 TB, and this is the number AQE's
    skew-join split will be fighting. Lower-median convention shared
    with the MAD ops.

    Scale: one date hash aggregate + windows over the O(|days|)
    partition grid. The audit itself is free next to any real scan."""
    from pyspark.sql import Window

    from ..sources import events_raw
    from ..sources.tables import ts_date

    ev = events_raw(spark, sf_dir)
    parts = ev.groupBy(ts_date().alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    med = (
        parts.withColumn(
            "rn", F.row_number().over(Window.orderBy("n", "day"))
        )
        .withColumn("c", F.count("*").over(Window.partitionBy()))
        .filter(F.col("rn") == F.expr("(c + 1) DIV 2"))
        .select(F.col("n").alias("median_rows"))
    )
    stats = parts.agg(
        F.count("*").cast("bigint").alias("n_partitions"),
        F.min("n").alias("min_rows"),
        F.max("n").alias("max_rows"),
    )
    return stats.crossJoin(F.broadcast(med)).select(
        "n_partitions",
        "min_rows",
        "median_rows",
        "max_rows",
        ppm_value(
            F.col("max_rows").cast("double") / F.col("median_rows")
        ).alias("skew_ratio"),
        (F.col("max_rows") > 2 * F.col("median_rows")).alias("skewed"),
    )


# -------------------------------------------- table fingerprints

#: Fingerprint modulus (Mersenne 2^61-1) and the Knuth mixer.
_FP_P = 2_305_843_009_213_693_951
_FP_MULT = 2654435761


def _fp_sql(*cols: str) -> str:
    """Order-independent relation fingerprint: SUM over rows of a
    Knuth-mixed row hash, mod 2^61-1. Plain BIGINT arithmetic —
    identical in any engine; column order is pinned by the caller."""
    mix = " + ".join(f"({c}) * {31 ** (i + 1)}" for i, c in enumerate(cols))
    # reduce mod 2^31 BEFORE the Knuth multiply: 2^31 * mult < 2^63, so
    # the product never overflows BIGINT in either engine. The SUM
    # accumulates in DECIMAL(38,0): row hashes are < 2^32, so BIGINT
    # accumulation would wrap past ~2^31 rows in Spark while DuckDB
    # silently promotes to HUGEINT — DECIMAL(38,0) is exact to ~10^28
    # rows in BOTH engines, keeping the fingerprint engine-independent
    # at any realistic SF.
    return (
        f"CAST(SUM(CAST(((({mix}) % 2147483648) * {_FP_MULT})"
        f" % 4294967296 AS DECIMAL(38,0)))"
        f" % {_FP_P} AS BIGINT)"
    )


_FP_ORACLE = f"""SELECT relation, n_rows, fingerprint FROM (
  SELECT 'clicks' AS relation, CAST(COUNT(*) AS BIGINT) AS n_rows,
         {_fp_sql('user_id', 'event_id % 500',
                  "epoch_us(ts) // 86400000000")} AS fingerprint
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT 'documents', CAST(COUNT(*) AS BIGINT),
         {_fp_sql('doc_id', 'n_chars',
                  'ascii(substr(lang, 1, 1))',
                  'ascii(substr(source, length(source), 1))')}
  FROM documents
  UNION ALL
  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
         {_fp_sql('o_orderkey', 'o_custkey',
                  'CAST(FLOOR(o_totalprice * 100) AS BIGINT)')}
  FROM orders
) ORDER BY relation"""


@register("prof_table_fingerprint", _FP_ORACLE)
def prof_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Order-independent table fingerprints**: one commutative
    checksum per relation (sum of Knuth-mixed row hashes mod 2⁶¹−1)
    plus the row count. Because the aggregate is commutative and
    associative it is partition-order- and engine-independent — THE
    cheap way to verify that two replicas / two engines / a migration
    hold identical data without sorting or shuffling anything: one
    map-side-combinable pass per table, O(1) output. A single changed,
    dropped, or duplicated row flips the fingerprint (pinned in
    pytest by mutating one row). This very query hash-matching its
    DuckDB twin is the property in action."""
    from ..sources import events_raw

    clicks = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c1"),
            (F.col("event_id") % 500).alias("c2"),
            F.expr("(ts DIV 1000) DIV 86400000000").alias("c3"),
        )
    )
    docs = load_raw(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("c1"),
        F.col("n_chars").alias("c2"),
        F.ascii(F.substring(F.col("lang"), 1, 1)).cast("long").alias("c3"),
        F.ascii(
            F.col("source").substr(F.length("source"), F.lit(1))
        ).cast("long").alias("c4"),
    )
    orders = load_raw(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("c1"),
        F.col("o_custkey").alias("c2"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c3"),
    )

    def fp(df: DataFrame, name: str) -> DataFrame:
        cols = df.columns
        mix = None
        for i, c in enumerate(cols):
            term = F.col(c) * (31 ** (i + 1))
            mix = term if mix is None else mix + term
        row_hash = ((mix % 2_147_483_648) * _FP_MULT) % 4_294_967_296
        # accumulate in DECIMAL(38,0): exact to ~10^28 rows, whereas a
        # BIGINT sum of 2^32-bounded hashes wraps past ~2^31 rows (and
        # DuckDB's SUM promotes to HUGEINT — engine divergence at scale)
        return df.agg(
            F.lit(name).alias("relation"),
            F.count("*").alias("n_rows"),
            (F.sum(row_hash.cast("decimal(38,0)")) % F.lit(_FP_P))
            .cast("long")
            .alias("fingerprint"),
        )

    return (
        fp(clicks, "clicks")
        .unionByName(fp(docs, "documents"))
        .unionByName(fp(orders, "orders"))
        .orderBy("relation")
    )


# ---------------------------------------- differential-privacy release

#: Privacy budget for the released (lang, source) histogram. The cells
#: are disjoint, so PARALLEL composition applies: the whole table
#: consumes epsilon = DP_EPSILON, not n_cells * DP_EPSILON.
DP_EPSILON = 1.0

#: Release tag salting the per-cell noise draw. A re-release under a
#: new tag draws fresh noise (and spends fresh budget); re-running the
#: SAME release must reproduce the same noise, which is why the draw
#: is a pinned hash of (tag, cell) rather than engine RNG state.
DP_RELEASE_TAG = "release1"

_DP_U_SQL = (
    f"(CAST(('0x' || substr(md5('{DP_RELEASE_TAG}|' || COALESCE(lang, '')"
    f" || '|' || COALESCE(source, '')), 1, 8))"
    f" AS BIGINT) + 0.5) / 4294967296.0"
)

_DP_NOISE_SQL = f"""CASE WHEN {_DP_U_SQL} < 0.5
     THEN LN(2.0 * ({_DP_U_SQL})) / {DP_EPSILON}
     ELSE -LN(2.0 - 2.0 * ({_DP_U_SQL})) / {DP_EPSILON} END"""


@register(
    "prof_dp_release",
    f"""SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       ROUND({_DP_NOISE_SQL}, 6) AS noise,
       ROUND(GREATEST(0.0, COUNT(*) + ({_DP_NOISE_SQL})), 6) AS n_released,
       {DP_EPSILON!r} AS epsilon
FROM documents
GROUP BY lang, source
ORDER BY lang, source""",
)
def prof_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Differentially-private histogram release** (the Laplace
    mechanism, Dwork et al. 2006) — the third leg of the privacy
    family: prof_k_anonymity and prof_l_diversity_t_closeness AUDIT a
    release, this one PRODUCES it. Per (lang, source) cell the true
    count gets Laplace(1/epsilon) noise: a count's add/remove-one
    sensitivity is 1, the cells are disjoint so the whole table spends
    epsilon = 1.0 by parallel composition, and negative noisy counts
    clamp to 0 (post-processing is free). The auditor view keeps
    ``n_true`` beside ``n_released`` to measure utility; the public
    projection would drop it.

    The noise draw is the repo's no-engine-RNG convention (the
    samp_poisson_bootstrap pattern): u = (md5-hash(tag|cell) + 0.5) /
    2^32 is an exact rational in (0,1), and the inverse Laplace CDF
    ln-transforms it identically on both engines. BE CLEAR about what
    that buys: because the tag is a public plan constant, this query
    is a deterministic, cross-engine-verifiable SIMULATION of the
    Laplace mechanism — anyone holding the tag can invert the noise,
    so the epsilon guarantee does NOT hold for this test surface. In
    production the same plan gets its guarantee by drawing the tag (or
    the per-cell u directly) from cryptographic randomness kept
    secret, rotated per release; everything downstream of the draw —
    sensitivity, composition, clamping, the plan shape — is unchanged.
    NULL group keys are seeded as '' on both engines (output keys stay
    NULL).

    Plan: one scan, one map-side-combinable (lang, source) count
    aggregate, noise as per-row arithmetic on the O(cells) result —
    nothing downstream of the aggregate ever touches row-level data,
    at any scale."""
    docs = load_raw(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(DP_RELEASE_TAG),
                        F.coalesce(F.col("lang"), F.lit("")),
                        F.coalesce(F.col("source"), F.lit("")),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    noise = (
        F.when(u < 0.5, F.log(2.0 * u) / DP_EPSILON)
        .otherwise(-F.log(2.0 - 2.0 * u) / DP_EPSILON)
    )
    return (
        docs.groupBy("lang", "source")
        .agg(F.count("*").alias("n_true"))
        .select(
            "lang",
            "source",
            "n_true",
            F.round(noise, 6).alias("noise"),
            F.round(
                F.greatest(F.lit(0.0), F.col("n_true") + noise), 6
            ).alias("n_released"),
            F.lit(float(DP_EPSILON)).alias("epsilon"),
        )
        .orderBy("lang", "source")
    )
