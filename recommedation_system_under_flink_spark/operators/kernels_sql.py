"""Registry queries for the kernel SQL twins + small utility operators
(F8, F5 as Catalyst expressions; F11 date helpers; F12 formatters; S6
sink roundtrip — SURVEY §2.7, §2.1).

The kernels' hot-path use is inside J3 (operators/joins.py); these
entries exercise them standalone against a DuckDB oracle so the twins
themselves are hash-verified, not just their composition.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE, TODAY
from ..functions.kernels import (
    boolean_overlap_sql,
    calculate_max_sql,
    calculate_x_sql,
    dot_product_sql,
    fuzzy_overlap_sql,
    positive_correlation_sql,
    rank_weighted_distance_sql,
)
from . import bsp
from ..registry import register
from .quantize import ppm_value
from ..sources import CLICKS_CTE, NEWS_CTE, clicks, events_raw, load_raw, with_ctes
from .tfidf import _NEWS_KW_CTE, _NEWS_TERMS_CTE, _NEWS_TFIDF_CTE, a8_news_keywords_topk

#: Pairwise kernel demos run over this news-id prefix (keeps the pair
#: space small while exercising every code path).
_N_DOCS = 20


def _news_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map<term,weight> keyword column for the first _N_DOCS news docs."""
    kw = a8_news_keywords_topk(spark, sf_dir).filter(F.col("news_id") < _N_DOCS)
    return kw.groupBy("news_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "weight"))).alias("kw")
    )


_KW_PAIR_CTES = (
    NEWS_CTE,
    _NEWS_TERMS_CTE,
    _NEWS_TFIDF_CTE,
    _NEWS_KW_CTE,
    f"kw AS (SELECT news_id, term, weight FROM news_kw WHERE news_id < {_N_DOCS})",
)


@register(
    "f8_dot_product_sql",
    with_ctes(
        """SELECT a.news_id AS news_a, b.news_id AS news_b,
       ROUND(SUM(a.weight * b.weight), 9) AS dot
FROM kw a JOIN kw b ON a.term = b.term AND a.news_id < b.news_id
GROUP BY 1, 2""",
        *_KW_PAIR_CTES,
    ),
)
def f8_dot_product_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (EuclideanDistance.java:29-43) as ``map_zip_with`` +
    ``aggregate`` over map columns — pure whole-stage-codegen, no Python.
    The oracle computes the same sums from flat rows; zero-overlap pairs
    (dot = 0) are excluded on both sides since an inner term-join never
    produces them. The compared dot is rounded to 9 decimals on both
    sides — the two engines sum the products in different orders, so
    the raw doubles differ by an ulp (driver hash is exact)."""
    maps = _news_maps(spark, sf_dir)
    a = maps.select(F.col("news_id").alias("news_a"), F.col("kw").alias("k1"))
    b = maps.select(F.col("news_id").alias("news_b"), F.col("kw").alias("k2"))
    return (
        a.join(F.broadcast(b), F.col("news_a") < F.col("news_b"))
        .select("news_a", "news_b", dot_product_sql("k1", "k2").alias("dot"))
        .filter(F.col("dot") > 0)
        .withColumn("dot", F.round("dot", 9))
    )


@register(
    "f5_calculate_x_sql",
    with_ctes(
        f"""SELECT i.news_a, i.news_b,
       CAST(i.inter AS DOUBLE) / (sa.n * sb.n) AS score
FROM (
  SELECT a.news_id AS news_a, b.news_id AS news_b, COUNT(*) AS inter
  FROM kw a JOIN kw b ON a.term = b.term AND a.news_id < b.news_id
  GROUP BY 1, 2
) i
JOIN (SELECT news_id, COUNT(*) AS n FROM kw GROUP BY news_id) sa ON i.news_a = sa.news_id
JOIN (SELECT news_id, COUNT(*) AS n FROM kw GROUP BY news_id) sb ON i.news_b = sb.news_id""",
        *_KW_PAIR_CTES,
    ),
)
def f5_calculate_x_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ``calculateX`` (CosineSimilarity.java:88-127) as a Catalyst
    expression over map columns (``array_intersect`` of key sets /
    size product), verified against the flat-row oracle."""
    maps = _news_maps(spark, sf_dir)
    a = maps.select(F.col("news_id").alias("news_a"), F.col("kw").alias("k1"))
    b = maps.select(F.col("news_id").alias("news_b"), F.col("kw").alias("k2"))
    return (
        a.join(F.broadcast(b), F.col("news_a") < F.col("news_b"))
        .select("news_a", "news_b", calculate_x_sql("k1", "k2").alias("score"))
        .filter(F.col("score") > 0)
    )


# ----------------------------------------------------- F6/F7/F9/F10
# Defined-but-uncalled in the reference (SimilarityAlgorithm dispatch
# only reaches F5/F8); exposed here as standalone oracle-checked
# queries so the full kernel API is hash-verified, not just unit-tested.

_KWR_CTES = (
    *_KW_PAIR_CTES,
    f"kwr AS (SELECT news_id, term, rank FROM news_kw WHERE news_id < {_N_DOCS})",
    "sizes AS (SELECT news_id, COUNT(*) AS n FROM kwr GROUP BY news_id)",
)


def _news_kw_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-ordered keyword term array per news doc (order pinned by the
    integer ``rank`` column — no float sorting at assembly time)."""
    kw = a8_news_keywords_topk(spark, sf_dir).filter(F.col("news_id") < _N_DOCS)
    return kw.groupBy("news_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "term"))),
            lambda s: s["term"],
        ).alias("terms")
    )


def _term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = _news_kw_arrays(spark, sf_dir)
    a = arrs.select(F.col("news_id").alias("news_a"), F.col("terms").alias("t1"))
    b = arrs.select(F.col("news_id").alias("news_b"), F.col("terms").alias("t2"))
    return a.join(F.broadcast(b), F.col("news_a") < F.col("news_b"))


@register(
    "f6_fuzzy_overlap_sql",
    with_ctes(
        """SELECT i.news_a, i.news_b,
       ROUND(i.inter / (sa.ss + sb.ss - i.inter), 9) AS score
FROM (
  SELECT a.news_id AS news_a, b.news_id AS news_b,
         SUM(LEAST(a.weight, b.weight) * LEAST(a.weight, b.weight)) AS inter
  FROM kw a JOIN kw b ON a.term = b.term AND a.news_id < b.news_id
  GROUP BY 1, 2
) i
JOIN (SELECT news_id, SUM(weight * weight) AS ss FROM kw GROUP BY news_id) sa
  ON i.news_a = sa.news_id
JOIN (SELECT news_id, SUM(weight * weight) AS ss FROM kw GROUP BY news_id) sb
  ON i.news_b = sb.news_id
WHERE i.inter > 0""",
        *_KW_PAIR_CTES,
    ),
)
def f6_fuzzy_overlap_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (CosineSimilarity.java:52-86) as the map-column Catalyst twin.
    The oracle uses the algebraic identity ``Σ_∪ max² = Σ_a v² + Σ_b v²
    − Σ_∩ min²`` so the two sides compute the denominator via different
    routes — a real equivalence check, not a transliteration. Compared
    score rounded to 9 decimals on both sides (different summation
    routes → ulp-level double differences; driver hash is exact)."""
    maps = _news_maps(spark, sf_dir)
    a = maps.select(F.col("news_id").alias("news_a"), F.col("kw").alias("k1"))
    b = maps.select(F.col("news_id").alias("news_b"), F.col("kw").alias("k2"))
    return (
        a.join(F.broadcast(b), F.col("news_a") < F.col("news_b"))
        .select("news_a", "news_b", fuzzy_overlap_sql("k1", "k2").alias("score"))
        .filter(F.col("score") > 0)
        .withColumn("score", F.round("score", 9))
    )


@register(
    "f7_boolean_overlap_sql",
    with_ctes(
        """SELECT i.news_a, i.news_b, CAST(i.inter AS DOUBLE) / (sa.n * sb.n) AS score
FROM (
  SELECT a.news_id AS news_a, b.news_id AS news_b, COUNT(*) AS inter
  FROM kw a JOIN kw b ON a.term = b.term AND a.news_id < b.news_id
  GROUP BY 1, 2
) i
JOIN (SELECT news_id, COUNT(*) AS n FROM kw GROUP BY news_id) sa ON i.news_a = sa.news_id
JOIN (SELECT news_id, COUNT(*) AS n FROM kw GROUP BY news_id) sb ON i.news_b = sb.news_id""",
        *_KW_PAIR_CTES,
    ),
)
def f7_boolean_overlap_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (CosineSimilarity.java:10-49) over string-array columns.
    Numerically identical to F5 on distinct inputs (the kernel contract)
    — what this entry verifies is the array-typed expression path
    (``array_distinct``/``array_intersect``), not new values."""
    pairs = _term_pairs(spark, sf_dir)
    return pairs.select(
        "news_a", "news_b", boolean_overlap_sql("t1", "t2").alias("score")
    ).filter(F.col("score") > 0)


@register(
    "f9_rank_distance_sql",
    with_ctes(
        """SELECT COALESCE(x.news_a, y.news_a) AS news_a,
       COALESCE(x.news_b, y.news_b) AS news_b,
       CAST(SUM(POWER(COALESCE(x.m1, 0) - COALESCE(y.m2, 0), 2)) AS BIGINT)
         AS distance
FROM (
  SELECT ka.news_id AS news_a, sb.news_id AS news_b, ka.term,
         sa.n * sb.n - (ka.rank - 1) * sb.n AS m1
  FROM kwr ka
  JOIN sizes sa ON ka.news_id = sa.news_id
  JOIN sizes sb ON sb.news_id > ka.news_id
) x
FULL OUTER JOIN (
  SELECT sa.news_id AS news_a, kb.news_id AS news_b, kb.term,
         sa.n * sb.n - (kb.rank - 1) * sa.n AS m2
  FROM kwr kb
  JOIN sizes sb ON kb.news_id = sb.news_id
  JOIN sizes sa ON sa.news_id < kb.news_id
) y
  ON x.news_a = y.news_a AND x.news_b = y.news_b AND x.term = y.term
GROUP BY 1, 2""",
        *_KWR_CTES,
    ),
)
def f9_rank_distance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (EuclideanDistance.java:52-83) over rank-ordered term arrays —
    exact long arithmetic, every doc pair (distance 0 only for identical
    rankings). The oracle rebuilds the rank weights relationally from
    the pinned integer ``rank`` column."""
    pairs = _term_pairs(spark, sf_dir)
    return pairs.select(
        "news_a", "news_b", rank_weighted_distance_sql("t1", "t2").alias("distance")
    )


@register(
    "f10_positive_correlation_sql",
    with_ctes(
        """SELECT i.news_a, i.news_b,
       CAST(i.pc AS DOUBLE) /
       (sa.n * sa.n * (sb.n * (sb.n + 1) * (2 * sb.n + 1) / 6.0)
        + sb.n * sb.n * (sa.n * (sa.n + 1) * (2 * sa.n + 1) / 6.0)) AS score
FROM (
  SELECT a.news_id AS news_a, b.news_id AS news_b,
         SUM((sa.n * sb.n - (a.rank - 1) * sb.n)
             * (sa.n * sb.n - (b.rank - 1) * sa.n)) AS pc
  FROM kwr a
  JOIN kwr b ON a.term = b.term AND a.news_id < b.news_id
  JOIN sizes sa ON a.news_id = sa.news_id
  JOIN sizes sb ON b.news_id = sb.news_id
  GROUP BY 1, 2
) i
JOIN sizes sa ON i.news_a = sa.news_id
JOIN sizes sb ON i.news_b = sb.news_id""",
        *_KWR_CTES,
    ),
)
def f10_positive_correlation_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (EuclideanDistance.java:94-112,154-164): rank-weighted
    positive correlation normalized by ``calculateMax`` in closed form
    (``len1²·S(len2) + len2²·S(len1)``, S = square-pyramid sum). Rank
    weights are strictly positive, so score > 0 ⇔ ≥1 shared term —
    matching the oracle's inner term-join."""
    pairs = _term_pairs(spark, sf_dir)
    n1 = F.size("t1").cast("long")
    n2 = F.size("t2").cast("long")
    score = positive_correlation_sql("t1", "t2").cast("double") / calculate_max_sql(
        n1, n2
    )
    return pairs.select("news_a", "news_b", score.alias("score")).filter(
        F.col("score") > 0
    )


# --------------------------------------------------------------- F11

@register(
    "f11_date_sequence",
    f"""SELECT CAST(unnest(generate_series(DATE '{DEFAULT_SCENE.from_date}',
                                 DATE '{TODAY}', INTERVAL 1 DAY)) AS DATE) AS day""",
)
def f11_date_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 ``DateIterator`` (TextRank.java:84-85, 231-232) as data, not
    driver control flow: ``sequence(from, to, interval 1 day)``. This is
    the date dimension the all-days pipeline joins against — the whole
    reason the reference's O(days) job-resubmission loop disappears."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(DEFAULT_SCENE.from_date.isoformat()).cast("date"),
                F.lit(TODAY.isoformat()).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )


# --------------------------------------------------------------- F12

@register(
    "f12_click_format",
    with_ctes(
        """SELECT user_id, news_id,
       user_id || ',' || news_id || ',' || strftime(date, '%Y-%m-%d') || ',' || cnt
         AS line
FROM clicks WHERE date = DATE '2024-01-30'""",
        CLICKS_CTE,
    ),
)
def f12_click_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 row formatters (``toString`` text-sink format,
    TextRank.java:70-72): the CSV-ish line via ``format_string`` /
    ``date_format`` — byte-compatible text sinks are
    ``df.select(line).write.text`` away (SURVEY §2.1 S6 note)."""
    return clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY).select(
        "user_id",
        "news_id",
        F.format_string(
            "%d,%d,%s,%d",
            F.col("user_id"),
            F.col("news_id"),
            F.date_format("date", "yyyy-MM-dd"),
            F.col("cnt"),
        ).alias("line"),
    )


# ---------------------------------------------------------------- S1 (CSV)

#: Scratch dirs created this session — removed at interpreter exit so
#: the per-app-id isolation doesn't leak dataset copies into /tmp
#: (the fixed names used to self-overwrite; suffixed names would
#: otherwise accumulate one generation per session).
_SCRATCH_DIRS: set[str] = set()


def _cleanup_scratch_dirs() -> None:  # pragma: no cover - exit hook
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _scratch_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Session/SF-scoped scratch path for write→read demonstrations.
    Suffixing by md5(sf_dir, Spark app id) isolates concurrent runs
    (parallel bench/pytest sessions, or one session checking two SFs)
    from racing on a shared fixed tempdir (r9 advice, generalized from
    the s28 fix to every write-side query in this module). Every path
    handed out is rmtree'd at interpreter exit."""
    import atexit
    import hashlib

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{tag}")
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch_dirs)
    _SCRATCH_DIRS.add(path)
    return path


@register(
    "s1_csv_roundtrip",
    with_ctes(
        """SELECT news_id, date, title FROM news WHERE news_id < 100""",
        NEWS_CTE,
    ),
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (``NewsModel.loadNewsDataSet(csvPath)``, TF_IDF.java:57,64):
    the reference ingests CSV; the fixtures are parquet, so CSV-source
    capability is proven by a write→read roundtrip with an explicit
    schema (header-less, quoted — the loadNewsDataSet shape). The
    oracle checks the roundtripped rows, so CSV serialization of dates
    and quoted text is hash-verified. Content is excluded: newlines in
    free text are a CSV landmine the reference's absent loader never
    specifies (documented limitation, use parquet for text columns)."""
    from ..sources import news as news_table

    out = _scratch_dir(spark, sf_dir, "s1_csv")
    subset = news_table(spark, sf_dir).filter(F.col("news_id") < 100).select(
        "news_id", "date", "title"
    )
    subset.write.mode("overwrite").option("quoteAll", True).csv(out)
    return spark.read.schema("news_id long, date date, title string").csv(out)


# ------------------------------------------------- S6 (partitioned)

_S7_FROM = TODAY - dt.timedelta(days=DEFAULT_SCENE.num_days - 1)


@register(
    "s7_partitioned_write_pruned_read",
    with_ctes(
        f"""SELECT date, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM clicks
WHERE date BETWEEN DATE '{_S7_FROM}' AND DATE '{TODAY}'
GROUP BY date""",
        CLICKS_CTE,
    ),
)
def s7_partitioned_write_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB layout story end-to-end (SCALE.md §2 deployment
    note): materialize clicks **date-partitioned** via
    ``write_parquet(partition_by=["date"])``, then consume the trailing
    window from the partitioned table. The date predicate now prunes
    whole partition *directories* (plan shows non-empty
    PartitionFilters — asserted in
    tests/test_operators_spark.py::test_partitioned_read_prunes), which
    is strictly stronger than the raw-``ts`` row-group pruning the
    unmaterialized path relies on. The oracle recomputes the same
    window from the raw events table, so the write→prune→aggregate
    composition is hash-verified."""
    from ..sources.io import write_parquet

    out = _scratch_dir(spark, sf_dir, "s7_clicks_by_date")
    write_parquet(clicks(spark, sf_dir), out, partition_by=["date"])
    # explicit schema: an all-empty write leaves no partition dirs to
    # infer the partition column from
    part = spark.read.schema(
        "user_id long, news_id long, cnt int, date date"
    ).parquet(out)
    return (
        part.filter(
            (F.col("date") >= F.lit(_S7_FROM)) & (F.col("date") <= F.lit(TODAY))
        )
        .groupBy("date")
        .agg(F.count("*").cast("long").alias("n_clicks"))
    )


# ---------------------------------------------------------------- S6

@register(
    "s6_parquet_roundtrip",
    with_ctes(
        f"""SELECT DATE '{TODAY}' AS date, news_id, clicks,
       ROW_NUMBER() OVER (ORDER BY clicks DESC, news_id ASC) AS rank
FROM (
  SELECT news_id, CAST(SUM(cnt) AS BIGINT) AS clicks
  FROM clicks
  WHERE date BETWEEN DATE '{TODAY - dt.timedelta(days=DEFAULT_SCENE.num_days - 1)}' AND DATE '{TODAY}'
  GROUP BY news_id
)
QUALIFY rank <= {DEFAULT_SCENE.num_recommendations}""",
        CLICKS_CTE,
    ),
)
def s6_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 sink (``writeAsFormattedText`` → parquet overwrite,
    TextRank.java:68-73): write the HotTopics result through
    sources.io.write_parquet and read it back — the oracle checks the
    roundtripped rows, so schema preservation is hash-verified."""
    from ..plans.pipelines import hot_topics_pipeline
    from ..sources.io import write_parquet

    out = _scratch_dir(spark, sf_dir, "s6_roundtrip")
    write_parquet(hot_topics_pipeline(spark, sf_dir), out)
    return spark.read.parquet(out)


# ------------------------------------------------- S8 (bucketed join)

#: Bucket count for the co-located join demo. At 100 TB this is sized
#: so one bucket's rows fit an executor (e.g. 4096); the mechanism —
#: bucket-pruned shuffle-free joins — is bucket-count-invariant.
S8_BUCKETS = 8


@register(
    "s8_bucketed_join",
    with_ctes(
        """SELECT c.user_id,
       CAST(SUM(c.cnt) AS BIGINT) AS total_clicks,
       CAST(MAX(p.n_news) AS BIGINT) AS n_distinct_news
FROM clicks c
JOIN (SELECT user_id, COUNT(DISTINCT news_id) AS n_news
      FROM clicks GROUP BY user_id) p
  ON c.user_id = p.user_id
GROUP BY c.user_id""",
        CLICKS_CTE,
    ),
)
def s8_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via **bucketing** — the pre-shuffle lever for
    repeated joins on the same key (SCALE.md §2): both sides are
    written ``bucketBy(user_id)`` with matching bucket counts, so the
    join consumes bucket files directly — the physical plan has NO
    Exchange on either scan (asserted in
    tests/test_operators_spark.py::test_bucketed_join_no_exchange).
    At 100 TB this is how a fact table joined daily against the same
    dimension amortizes its shuffle: pay it once at write time, never
    at read time. The oracle recomputes the join from the raw clicks
    table, hash-verifying the write→bucket→join composition.

    ``bucketBy`` requires a catalog table (``saveAsTable``); the data
    lands under an explicit temp ``path`` so nothing touches the
    session's default warehouse location."""
    base = _scratch_dir(spark, sf_dir, "s8_buckets")
    cl = clicks(spark, sf_dir).select("user_id", "news_id", "cnt")
    profile = cl.groupBy("user_id").agg(
        F.countDistinct("news_id").alias("n_news")
    )
    for name, df in (("s8_clicks", cl), ("s8_profile", profile)):
        (
            df.write.mode("overwrite")
            .bucketBy(S8_BUCKETS, "user_id")
            .sortBy("user_id")
            .option("path", os.path.join(base, name))
            .format("parquet")
            .saveAsTable(name)
        )
    joined = spark.table("s8_clicks").join(spark.table("s8_profile"), "user_id")
    return joined.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("total_clicks"),
        F.max("n_news").cast("long").alias("n_distinct_news"),
    )


# ------------------------------------------------------ S9 (upsert merge)

#: Upsert split: events at or after this fraction of the id space play
#: the change batch; earlier ones the base table.
S9_SPLIT_FRACTION = 0.9


@register(
    "s9_upsert_merge",
    f"""WITH bounds AS (
  SELECT CAST(floor((MAX(event_id) + 1) * {S9_SPLIT_FRACTION}) AS BIGINT) AS split
  FROM events
),
base AS (
  SELECT user_id, event_id % 1000 AS entity_id, value, epoch_us(ts) AS tsm
  FROM events, bounds WHERE event_id < split
),
changes AS (
  SELECT user_id, event_id % 1000 AS entity_id, value, epoch_us(ts) AS tsm
  FROM events, bounds WHERE event_id >= split
),
latest_base AS (
  SELECT entity_id, value, tsm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
                                 ORDER BY tsm DESC, value DESC) AS rn
    FROM base) WHERE rn = 1
),
latest_chg AS (
  SELECT entity_id, value, tsm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
                                 ORDER BY tsm DESC, value DESC) AS rn
    FROM changes) WHERE rn = 1
)
SELECT COALESCE(c.entity_id, b.entity_id) AS entity_id,
       COALESCE(c.value, b.value) AS value,
       COALESCE(c.tsm, b.tsm) AS tsm,
       CASE WHEN c.entity_id IS NULL THEN 'unchanged'
            WHEN b.entity_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS action
FROM latest_base b FULL OUTER JOIN latest_chg c ON b.entity_id = c.entity_id""",
)
def s9_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style **upsert merge** (``MERGE INTO`` semantics without a
    table format): a change batch merges into a base table keyed by
    entity; changes win, unmatched base rows carry over, and every
    output row is tagged inserted/updated/unchanged. Both sides reduce
    to latest-per-key first (deterministic ``row_number`` tiebreak —
    the CDC "last writer wins" compaction), then ONE full-outer
    equi-join on the key resolves the merge.

    Scale: latest-per-key is WindowGroupLimit-pruned before its
    shuffle; the merge join shuffles both compacted sides once on the
    key. This is exactly the reconciliation step table formats (Delta/
    Iceberg/Hudi) run inside ``MERGE`` — here materialized as a plain
    DataFrame so the engine works against raw parquet."""
    from pyspark.sql import Window

    ev = events_raw(spark, sf_dir)
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    if max_id is None:
        return spark.createDataFrame(
            [], "entity_id long, value double, tsm long, action string"
        )
    split = int((max_id + 1) * S9_SPLIT_FRACTION)
    keyed = ev.select(
        (F.col("event_id") % 1000).alias("entity_id"),
        "event_id",
        "value",
        F.expr("ts DIV 1000").alias("tsm"),
    )

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("entity_id").orderBy(
            F.desc("tsm"), F.desc("value")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("entity_id", "value", "tsm")
        )

    base = latest(keyed.filter(F.col("event_id") < split))
    chg = latest(keyed.filter(F.col("event_id") >= split))
    b = base.alias("b")
    c = chg.alias("c")
    return b.join(c, F.col("b.entity_id") == F.col("c.entity_id"), "full_outer").select(
        F.coalesce(F.col("c.entity_id"), F.col("b.entity_id")).alias("entity_id"),
        F.coalesce(F.col("c.value"), F.col("b.value")).alias("value"),
        F.coalesce(F.col("c.tsm"), F.col("b.tsm")).alias("tsm"),
        F.when(F.col("c.entity_id").isNull(), F.lit("unchanged"))
        .when(F.col("b.entity_id").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("action"),
    )


# ------------------------------------------------- S10 (SCD2 history)

@register(
    "s10_scd2_history",
    """WITH versions AS (
  SELECT event_id % 1000 AS entity_id, event_id, value, epoch_us(ts) AS tsm
  FROM events
)
SELECT entity_id, event_id AS version_id, value,
       tsm AS valid_from,
       CAST(LEAD(tsm) OVER w - 1 AS DOUBLE) AS valid_to,
       (LEAD(tsm) OVER w IS NULL) AS is_current
FROM versions
WINDOW w AS (PARTITION BY entity_id ORDER BY tsm, event_id)""",
)
def s10_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension **type 2** history build: every change
    event becomes a version row with a half-open validity interval
    (``valid_to = next version's start − 1 µs``; open end = current).
    The warehouse-maintenance twin of the S9 latest-state merge — S9
    answers "what is the value now", this answers "what was the value
    at time T" (join on ``T BETWEEN valid_from AND valid_to``).

    One window over (entity, time) does everything: no self-join, no
    per-entity collect. Deterministic tiebreak (tsm, event_id) pins
    simultaneous updates. Scale: one shuffle on entity_id; interval
    queries against the result use the banded range-join pattern
    (``ef_range_join_banded``) instead of a theta join.

    The compared ``valid_to`` is cast to DOUBLE on both sides: it is
    NULL for current rows, and a NULL-bearing BIGINT column becomes
    float64 through the driver's ``duckdb...df()`` canonicalizer while
    Spark yields ints — µs values ≤ 1.7e15 are exact in a double, so
    the cast is lossless. Internal consumers (s10b lookup) use the
    integer+NULL form."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir).select(
        (F.col("event_id") % 1000).alias("entity_id"),
        F.col("event_id").alias("version_id"),
        "value",
        F.expr("ts DIV 1000").alias("tsm"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("entity_id").orderBy("tsm", "version_id")
    nxt = F.lead("tsm").over(w)
    return ev.select(
        "entity_id",
        "version_id",
        "value",
        F.col("tsm").alias("valid_from"),
        (nxt - 1).cast("double").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------- S11 (z-order layout key)

#: Bits per dimension for the interleaved z-value.
ZORDER_BITS = 16


@register(
    "s11_zorder_key",
    f"""SELECT event_id, user_id, entity_id, zval FROM (
  SELECT event_id, user_id, event_id % 1000 AS entity_id,
         (SELECT CAST(SUM(
            ((CAST(user_id AS BIGINT) % {1 << ZORDER_BITS}) // (1 << b) % 2) * (1 << (2 * b))
            + ((CAST(event_id % 1000 AS BIGINT)) // (1 << b) % 2) * (1 << (2 * b + 1))
          ) AS BIGINT) FROM range({ZORDER_BITS}) t(b)) AS zval
  FROM events
)""",
)
def s11_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key: bit-interleave of (user_id,
    entity_id) — the multi-dimensional clustering key behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``. Writing the table
    range-partitioned and sorted by ``zval`` co-locates rows that are
    close in BOTH dimensions, so min/max row-group stats prune scans
    for predicates on either column — the data-layout half of the
    100 TB pruning story (the predicate half is `events_raw`'s
    pushdown).

    The interleave is pure integer arithmetic (shift/mask folded into
    division/modulo so the DuckDB twin is expressible without bit
    operators), exact in both engines. The companion write path is
    ``write_parquet`` + ``repartitionByRange(zval)`` +
    ``sortWithinPartitions(zval)`` (sources/io.py); this query is the
    key computation, hash-verified."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir).select(
        "event_id", "user_id", (F.col("event_id") % 1000).alias("entity_id")
    )
    z = zorder_key(F.col("user_id"), F.col("entity_id"))
    return ev.select("event_id", "user_id", "entity_id", z.alias("zval"))


def zorder_key(u: Column, e: Column) -> Column:
    """Morton interleave of two long columns (``u`` in even bit
    positions, ``e`` in odd), ``ZORDER_BITS`` bits per dimension.
    Division/modulo only — exact on both engines, no bit operators."""
    u = u.cast("long") % (1 << ZORDER_BITS)
    e = e.cast("long")
    z = F.lit(0).cast("long")
    for b in range(ZORDER_BITS):
        z = z + (
            ((u / (1 << b)).cast("long") % 2) * (1 << (2 * b))
            + ((e / (1 << b)).cast("long") % 2) * (1 << (2 * b + 1))
        )
    return z


# -------------------------------------------- S12/S13 (more formats)

@register(
    "s12_jsonl_roundtrip",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def s12_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink: write documents metadata as JSONL, read
    back with an EXPLICIT schema (no inference pass — at 100 TB schema
    inference is a full extra scan), hash-verify the roundtrip. Text
    content excluded for the same reason as CSV (free-text escaping is
    format-lottery; parquet is the text carrier)."""
    from ..sources import load_raw

    out = _scratch_dir(spark, sf_dir, "s12_jsonl")
    subset = load_raw(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    subset.write.mode("overwrite").json(out)
    return spark.read.schema(
        "doc_id long, lang string, source string, n_chars long"
    ).json(out)


@register(
    "s13_orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def s13_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink: full documents table (text included — ORC is a
    typed columnar format, no escaping lottery) written and re-read;
    the oracle compares against the original parquet rows, so the
    roundtrip must be lossless. Proves the engine is columnar-format
    plural: parquet, CSV, JSONL, ORC all first-class."""
    from ..sources import load_raw

    out = _scratch_dir(spark, sf_dir, "s13_orc")
    load_raw(spark, sf_dir, "documents").write.mode("overwrite").orc(out)
    return spark.read.orc(out)


# ---------------------------------------------- S14 (user erasure)

#: Pinned erasure list: every 37th user (deterministic stand-in for a
#: deletion-request table).
ERASE_MOD = 37


@register(
    "s14_user_erasure",
    f"""SELECT event_id, user_id, event_type
FROM events
WHERE user_id % {ERASE_MOD} <> 0""",
)
def s14_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten **delete propagation**: drop every event of
    the users on a deletion list (here a pinned predicate standing in
    for the request table; with a real table the same plan is a
    broadcast ``left_anti`` join). Returns the retained log.

    Scale: an anti-join against a broadcast deletion list is map-side —
    one full scan, zero shuffle. The production shape rewrites affected
    partitions only (deletion-vector-style): prune with the erasure
    keys' partition values first, rewrite those files, leave the rest
    untouched — the date-partitioned layout (`s7`) is what makes the
    prune possible."""
    from ..sources import events_raw

    ev = events_raw(spark, sf_dir)
    erase = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % ERASE_MOD == 0)
    )
    return ev.join(F.broadcast(erase), "user_id", "left_anti").select(
        "event_id", "user_id", "event_type"
    )


# ------------------------------------------ S15 (schema evolution)

@register(
    "s15_schema_evolution_read",
    """SELECT doc_id, lang, NULL AS quality FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS quality
FROM documents WHERE doc_id % 2 = 1""",
)
def s15_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Schema evolution** across file generations: generation 1 is
    written without the ``quality`` column, generation 2 adds it;
    ``mergeSchema`` reconciles the footers at read time and the old
    generation surfaces NULLs — the append-only table lifecycle every
    long-lived dataset goes through (at 100 TB you evolve readers, you
    do not rewrite history).

    The split is pinned (even/odd doc_id) so the DuckDB twin
    reproduces the exact unified relation."""
    from ..sources import load_raw

    docs = load_raw(spark, sf_dir, "documents")
    out = _scratch_dir(spark, sf_dir, "s15_evo")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("quality")
    )
    gen1.write.mode("overwrite").parquet(os.path.join(out, "g=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(out, "g=2"))
    return (
        spark.read.option("mergeSchema", True)
        .parquet(os.path.join(out, "g=1"), os.path.join(out, "g=2"))
        .select("doc_id", "lang", "quality")
    )


#: Pinned point-in-time lookup instant: mid-window (Jan 16) in epoch µs.
SCD2_LOOKUP_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC


@register(
    "s10b_scd2_asof_lookup",
    f"""WITH versions AS (
  SELECT event_id % 1000 AS entity_id, event_id, value, epoch_us(ts) AS tsm
  FROM events
), hist AS (
  SELECT entity_id, event_id AS version_id, value,
         tsm AS valid_from,
         LEAD(tsm) OVER w - 1 AS valid_to
  FROM versions
  WINDOW w AS (PARTITION BY entity_id ORDER BY tsm, event_id)
)
SELECT entity_id, version_id, value
FROM hist
WHERE valid_from <= {SCD2_LOOKUP_US}
  AND (valid_to IS NULL OR {SCD2_LOOKUP_US} <= valid_to)""",
)
def s10b_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 history
    (:func:`s10_scd2_history`): "what was each entity's value at
    instant T" — the query the type-2 table exists to answer (audit,
    reproducible feature backfills, time-travel without a table
    format). A half-open interval containment per entity; at most one
    version matches by construction (the intervals partition time).

    Scale: for one pinned T the predicate is a filter over the history
    scan (row-group pruning on valid_from). For a *stream* of lookup
    timestamps, this becomes the banded range join
    (``ef_range_join_banded``) or the as-of join (``ef_asof``) — same
    family, already covered."""
    hist = s10_scd2_history(spark, sf_dir)
    t = F.lit(SCD2_LOOKUP_US)
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (t <= F.col("valid_to")))
    ).select("entity_id", "version_id", "value")


# ----------------------------------- S16 (incremental aggregate merge)

@register(
    "s16_incremental_agg_merge",
    with_ctes(
        """SELECT news_id,
       CAST(SUM(cnt) AS BIGINT) AS clicks,
       MAX(date) AS last_date
FROM clicks GROUP BY news_id""",
        CLICKS_CTE,
    ),
)
def s16_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Incremental aggregate maintenance**: yesterday's stored
    per-news totals (materialized to parquet — a real storage
    boundary, not a cached plan) merged with TODAY's delta, and the
    merge hash-verified against a full recompute over all days. SUM
    and MAX are commutative monoids, so ``merge(old_agg, agg(delta)) ==
    agg(all)`` — the algebra that lets a daily 100 TB pipeline scan
    O(delta) per day instead of O(history): the reference's daily loop
    re-read its whole input every day (TF_IDF.java:161-232); this is
    the amortization applied to STATE, not just scheduling.

    Plan: the history aggregate happens once (here, to build the
    fixture state), the daily increment is one delta scan + a
    merge-aggregate keyed on news_id over |keys| + |delta-keys| rows."""
    hist_dir = _scratch_dir(spark, sf_dir, "s16_history")
    history = (
        clicks(spark, sf_dir, date_to=TODAY - dt.timedelta(days=1))
        .groupBy("news_id")
        .agg(
            F.sum("cnt").cast("long").alias("clicks"),
            F.max("date").alias("last_date"),
        )
    )
    history.write.mode("overwrite").parquet(hist_dir)
    delta = (
        clicks(spark, sf_dir, date_from=TODAY, date_to=TODAY)
        .groupBy("news_id")
        .agg(
            F.sum("cnt").cast("long").alias("clicks"),
            F.max("date").alias("last_date"),
        )
    )
    merged = (
        spark.read.parquet(hist_dir)
        .unionByName(delta)
        .groupBy("news_id")
        .agg(
            F.sum("clicks").cast("long").alias("clicks"),
            F.max("last_date").alias("last_date"),
        )
    )
    return merged


# ------------------------------------- S17 (small-file compaction)

#: Deliberate fragmentation and the compaction target.
S17_FRAGMENTS = 64
S17_COMPACTED = 4


@register(
    "s17_small_file_compaction",
    with_ctes("SELECT user_id, news_id, cnt, date FROM clicks", CLICKS_CTE),
)
def s17_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Small-file compaction** — the table-maintenance pass every
    long-lived ingest pipeline needs: a deliberately fragmented write
    (``S17_FRAGMENTS`` files; streaming micro-batches and per-day
    appends do this to real tables) is rewritten into
    ``S17_COMPACTED`` right-sized files, and the compacted table is
    hash-verified against the source relation — compaction must be a
    pure layout change. At 100 TB the fragment count is what kills
    scan planning (footer reads, task-per-file scheduling, no
    row-group locality); the fix is this exact rewrite with the
    partition count chosen as bytes/target-file-size.

    File-count assertions live in tests/test_operators_spark.py (the
    oracle can only see the data, not the layout)."""
    base = _scratch_dir(spark, sf_dir, "s17")
    frag_dir = os.path.join(base, "fragmented")
    compact_dir = os.path.join(base, "compacted")
    cl = clicks(spark, sf_dir).select("user_id", "news_id", "cnt", "date")
    cl.repartition(S17_FRAGMENTS).write.mode("overwrite").parquet(frag_dir)
    # On a real table: n_out = ceil(input_bytes / target_file_bytes).
    # The fixture is tiny, so the count is pinned instead; the rewrite
    # mechanics (read fragmented -> repartition -> overwrite) are what
    # scale.
    fragmented = spark.read.parquet(frag_dir)
    fragmented.repartition(S17_COMPACTED).write.mode("overwrite").parquet(
        compact_dir
    )
    return spark.read.parquet(compact_dir)


# --------------------------------------------- S18 (snapshot diff)

@register(
    "s18_snapshot_diff",
    f"""WITH versions AS (
  SELECT event_id % 1000 AS entity_id, event_id, value, epoch_us(ts) AS tsm
  FROM events
), old_state AS (
  SELECT entity_id, value FROM (
    SELECT entity_id, value,
           ROW_NUMBER() OVER (PARTITION BY entity_id
                              ORDER BY tsm DESC, event_id DESC) AS rn
    FROM versions WHERE tsm < {SCD2_LOOKUP_US}
  ) WHERE rn = 1
), new_state AS (
  SELECT entity_id, value FROM (
    SELECT entity_id, value,
           ROW_NUMBER() OVER (PARTITION BY entity_id
                              ORDER BY tsm DESC, event_id DESC) AS rn
    FROM versions
  ) WHERE rn = 1
)
SELECT COALESCE(o.entity_id, n.entity_id) AS entity_id,
       o.value AS old_value,
       n.value AS new_value,
       CASE WHEN o.entity_id IS NULL THEN 'added'
            WHEN n.entity_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM old_state o FULL OUTER JOIN new_state n ON o.entity_id = n.entity_id
WHERE o.entity_id IS NULL OR n.entity_id IS NULL OR o.value <> n.value""",
)
def s18_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Snapshot diff / reconciliation** — the CDC-shaped question
    "what changed between the table as of T and the table now":
    per-entity latest state at the pinned cut vs latest state overall,
    full-outer-joined on the key and classified added / removed /
    changed (unchanged rows drop out). The audit primitive behind
    replication checks, backfill validation, and incremental-downstream
    triggering; complements :func:`s10_scd2_history` (which stores ALL
    versions — the diff needs only two states).

    Deterministic latest-per-entity via (tsm, event_id) tiebreak —
    identical in both engines. Scale: two window passes partitioned on
    the entity key and one key-keyed full outer join; at 100 TB the
    two states usually come pre-materialized and the diff is just the
    join, shuffling each side once on the key."""
    from pyspark.sql import Window

    ev = events_raw(spark, sf_dir).select(
        (F.col("event_id") % 1000).alias("entity_id"),
        "event_id",
        "value",
        F.expr("ts DIV 1000").alias("tsm"),
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("tsm"), F.desc("event_id")
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("entity_id", "value")
        )

    old_state = latest(ev.filter(F.col("tsm") < SCD2_LOOKUP_US)).select(
        F.col("entity_id").alias("o_id"), F.col("value").alias("old_value")
    )
    new_state = latest(ev).select(
        F.col("entity_id").alias("n_id"), F.col("value").alias("new_value")
    )
    joined = old_state.join(
        new_state, old_state.o_id == new_state.n_id, "full_outer"
    )
    change = (
        F.when(F.col("o_id").isNull(), F.lit("added"))
        .when(F.col("n_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.filter(
            F.col("o_id").isNull()
            | F.col("n_id").isNull()
            | (F.col("old_value") != F.col("new_value"))
        )
        .select(
            F.coalesce("o_id", "n_id").alias("entity_id"),
            "old_value",
            "new_value",
            change.alias("change"),
        )
    )




def _s19_oracle() -> str:
    from ..functions.text import DOC_TOKENS_SQL

    return (
        "SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,\n"
        "       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs\n"
        f"FROM (SELECT doc_id, unnest({DOC_TOKENS_SQL}) AS term FROM documents)\n"
        "GROUP BY term"
    )


_S19_ORACLE = _s19_oracle()


@register(
    "s19_token_table_reuse",
    _S19_ORACLE,
)
def s19_token_table_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Materialized token table** — the tokenize-once/serve-many
    storage pattern SCALE.md prescribes for the text-analysis family
    at 100 TB: the (doc_id, term) stream is written to parquet ONCE
    (a real storage boundary, like s16's state), and downstream
    consumers read the stored relation instead of re-running
    tokenization per query (the registered textstats queries
    re-tokenize per reference for plan purity at fixture scale; five
    of them re-derive the same explode). The query computes corpus
    term frequencies FROM THE STORED TABLE; the oracle computes them
    inline from ``documents`` — hash equality proves the materialized
    path is semantically invisible.

    Scale: the token table is written partitioned-by-nothing here
    (one fixture file); in production it lands bucketed by term (the
    join key of every consumer — TF-IDF, LM scoring, drift), making
    the downstream token-keyed joins shuffle-free (s8's bucketing
    pattern applied to text)."""
    from ..functions.text import doc_tokens

    tok_dir = _scratch_dir(spark, sf_dir, "s19_tokens")
    docs = load_raw(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(doc_tokens(F.col("text"))).alias("term")
    )
    tokens.write.mode("overwrite").parquet(tok_dir)
    stored = spark.read.parquet(tok_dir)
    return (
        stored.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------- S20

@register(
    "s20_dynamic_partition_overwrite",
    with_ctes(
        f"""SELECT date, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM clicks WHERE date <> DATE '{TODAY}'
GROUP BY date
UNION ALL
SELECT date, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM clicks WHERE date = DATE '{TODAY}' AND user_id % 2 = 0
GROUP BY date""",
        CLICKS_CTE,
    ),
)
def s20_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Dynamic partition overwrite** — the partition-level correction
    job: the full date-partitioned click table is materialized once,
    then a "late-data fix" recomputes ONLY today's slice (here: the
    corrected feed drops odd user_ids) and overwrites it with
    ``partitionOverwriteMode=dynamic``, which replaces exactly the
    partitions present in the incoming frame and leaves every other
    date directory untouched (static overwrite mode would truncate the
    whole table — the classic production data-loss footgun this option
    exists to prevent). The read-back per-date counts are hash-verified
    against an oracle that recomputes history ∪ corrected-today from
    the raw events, so both the overwrite's isolation (other dates
    intact) and its effect (today replaced) are checked. At 100 TB
    this is the idempotent daily-backfill shape: rewrite one day's
    directory, never touch the other ~thousands."""
    cl = clicks(spark, sf_dir)
    out = _scratch_dir(spark, sf_dir, "s20_dpo")
    cl.write.mode("overwrite").partitionBy("date").parquet(out)
    corrected = cl.filter(
        (F.col("date") == F.lit(TODAY)) & (F.col("user_id") % 2 == 0)
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(out)
    )
    part = spark.read.schema(
        "user_id long, news_id long, cnt int, date date"
    ).parquet(out)
    return part.groupBy("date").agg(F.count("*").cast("long").alias("n_clicks"))


# ---------------------------------------------------------------- S22

@register(
    "s22_output_manifest",
    with_ctes(
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MIN(date) AS DATE) AS min_date,
       CAST(MAX(date) AS DATE) AS max_date,
       CAST(SUM(CAST(('0x' || substr(md5(
              CAST(user_id AS VARCHAR) || '|' || CAST(news_id AS VARCHAR)
              || '|' || CAST(cnt AS VARCHAR) || '|' || CAST(date AS VARCHAR)
            ), 1, 8)) AS BIGINT)) AS BIGINT) AS content_hash
FROM clicks""",
        CLICKS_CTE,
    ),
)
def s22_output_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Output manifest / content checksum** — the data-versioning
    seal a pipeline writes next to every dataset it publishes: row
    count, key cardinality, date bounds, and an ORDER-INDEPENDENT
    content hash (sum of per-row 32-bit md5 prefixes — commutative, so
    any partitioning/ordering of the same rows yields the same seal,
    and any dropped/duplicated/mutated row changes it). Computed here
    over the written-and-read-back click table, so the oracle's
    recompute from raw events certifies the whole write→read→seal
    chain; two manifests matching ⇒ datasets identical without a row
    diff. md5 hex is identical across engines (the same portability
    argument as the MinHash/SimHash signatures)."""
    cl = clicks(spark, sf_dir)
    out = _scratch_dir(spark, sf_dir, "s22_manifest")
    cl.write.mode("overwrite").parquet(out)
    back = spark.read.schema(
        "user_id long, news_id long, cnt int, date date"
    ).parquet(out)
    row_str = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.col("news_id").cast("string"),
        F.col("cnt").cast("string"),
        F.col("date").cast("string"),
    )
    h32 = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("long")
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.sum(h32).cast("long").alias("content_hash"),
    )


# ---------------------------------------------------------------- S23

@register(
    "s23_xml_roundtrip",
    """SELECT doc_id, lang, md5(text) AS text_md5,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents""",
)
def s23_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip (Spark 4's built-in XML format, the
    spark-xml package merged into core): write the documents table as
    XML rows and read it back, emitting per-doc md5 of the
    roundtripped text — the oracle recomputes the digests from the
    RAW parquet, so any entity-escaping or whitespace mangling in the
    XML encode/decode path would flip the hash. Completes the
    format-coverage set (CSV / JSONL / ORC / parquet / partitioned /
    bucketed / custom Python source / XML)."""
    docs = load_raw(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    out = _scratch_dir(spark, sf_dir, "s23_xml")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, text string, n_chars long")
        .load(out)
    )
    return back.select(
        "doc_id",
        "lang",
        F.md5("text").alias("text_md5"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


# ----------------------------------- S24: malformed-record CSV ingest

#: Every doc whose pinned hash lands in this bucket gets its numeric
#: field replaced by a non-numeric token in the written CSV.
_S24_CORRUPT_BUCKET = 0


def _s24_corrupt_pred_sql() -> str:
    from .sampling import split_hash_sql

    return f"{split_hash_sql()} % 10 = {_S24_CORRUPT_BUCKET}"


@register(
    "s24_malformed_csv_ingest",
    f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN {_s24_corrupt_pred_sql()} THEN 0 ELSE 1 END)
            AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN {_s24_corrupt_pred_sql()} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN {_s24_corrupt_pred_sql()} THEN 0 ELSE 1 END)
            AS BIGINT) AS n_after_drop,
       CAST(SUM(CASE WHEN {_s24_corrupt_pred_sql()} THEN 0 ELSE n_chars END)
            AS BIGINT) AS sum_good_chars,
       CAST(CAST(FLOOR((CAST(SUM(CASE WHEN {_s24_corrupt_pred_sql()}
                                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))
                       * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
         AS corrupt_rate
FROM documents""",
)
def s24_malformed_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Malformed-record CSV ingest audit**: a deterministic 10% of
    document rows are written with a non-numeric token in the BIGINT
    column, then the file is read back under both CSV failure modes —
    PERMISSIVE (row kept, fields nulled, raw line captured in
    ``_corrupt_record``) and DROPMALFORMED (row silently gone) — and
    the counts are reconciled in one audit row. This is the ingest
    contract every external feed needs pinned down: how many rows
    arrived, how many parsed, what the quarantine rate is, and that
    the two modes agree (good = total − corrupt = after-drop). The
    corruption rule is a pure function of doc_id (the pinned split
    hash), so the DuckDB oracle predicts every count from the clean
    fixture without reading any CSV.

    Plan: one narrow projection serializes the CSV lines (corruption
    injected engine-side via the hash predicate — no Python row loop),
    two schema'd reads, each collapsing to O(1) audit state. PERMISSIVE
    aggregates are computed off a cached read: Spark disallows queries
    whose only materialized CSV column is the internal corrupt-record
    column, and caching is the documented contract for corrupt-record
    inspection. At 100 TB this is the standard quarantine pattern:
    badRecordsPath / corrupt-column capture, with the audit row as the
    feed's health metric."""
    from .sampling import split_hash

    docs = load_raw(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    corrupt = (split_hash("doc_id") % 10) == F.lit(_S24_CORRUPT_BUCKET)
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(corrupt, F.lit("CORRUPT")).otherwise(
                F.col("n_chars").cast("string")
            ),
            F.col("lang"),
        ).alias("value")
    )
    out = _scratch_dir(spark, sf_dir, "s24_csv")
    lines.write.mode("overwrite").text(out)

    schema = "doc_id long, n_chars long, lang string, _corrupt_record string"
    permissive = bsp.persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    perm_stats = permissive.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("sum_good_chars"),
    )
    # COUNT the parsed numeric column, not COUNT(*): under column
    # pruning a COUNT(*) reads no fields, so the malformed value is
    # never parsed and DROPMALFORMED drops nothing — the audit must
    # force the column that carries the corruption through the parser.
    dropped = (
        spark.read.schema("doc_id long, n_chars long, lang string")
        .option("mode", "DROPMALFORMED")
        .csv(out)
        .agg(F.count("n_chars").cast("long").alias("n_after_drop"))
    )
    # the PERMISSIVE aggregates need the cache at action time, so the
    # 1-row audit materializes before the scope releases it
    return bsp.checkpoint_result(
        perm_stats.crossJoin(F.broadcast(dropped)).select(
            "n_total",
            "n_good",
            "n_corrupt",
            "n_after_drop",
            "sum_good_chars",
            ppm_value(
                F.col("n_corrupt").cast("double")
                / F.nullif(F.col("n_total"), F.lit(0))
            ).alias("corrupt_rate"),
        )
    )


# -------------------------------- S23: schema-evolution roundtrip

#: Id boundary between the v1-schema and v2-schema file batches.
SCHEMA_EVO_FRAC = 0.5


@register(
    "s23_schema_evolution_roundtrip",
    f"""WITH spl AS (
  SELECT CAST(floor((MAX(doc_id) + 1) * {SCHEMA_EVO_FRAC}) AS BIGINT) AS s
  FROM documents
)
SELECT d.doc_id, md5(d.text) AS text_hash,
       CASE WHEN d.doc_id >= spl.s THEN CAST(d.n_chars AS BIGINT) END
         AS extra_score
FROM documents d CROSS JOIN spl""",
)
def s23_schema_evolution_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Parquet schema-evolution roundtrip**: write an old-schema
    batch (doc_id, text_hash), append a new-schema batch that adds
    ``extra_score``, then read the mixed directory back with
    ``mergeSchema`` — the v1 rows surface the evolved column as NULL.
    The table-evolution surface every long-lived lake hits (adding a
    column must not rewrite history), verified by value: the oracle
    recomputes the merged relation straight from ``documents``, so
    the physical write→merge→read path is hash-compared end to end.

    Scale: mergeSchema pays one footer read per file at planning —
    fine per partition directory, the reason real deployments pin the
    merged schema in a catalog once evolution settles (and why the
    read here would carry ``ReadSchema`` with the superset, pruned as
    usual)."""
    docs = load_raw(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:
        return spark.createDataFrame(
            [], "doc_id long, text_hash string, extra_score long"
        )
    split = int((max_id + 1) * SCHEMA_EVO_FRAC)
    out = _scratch_dir(spark, sf_dir, "s23_schema_evo")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    v1 = docs.filter(F.col("doc_id") < split).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    v2 = docs.filter(F.col("doc_id") >= split).select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.col("n_chars").cast("bigint").alias("extra_score"),
    )
    v1.write.mode("append").parquet(out)
    v2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("doc_id", "text_hash", "extra_score")
    )


# ------------------------------------ S25: corrupt-file-skip read

@register(
    "s25_corrupt_file_skip",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total
FROM documents""",
)
def s25_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**File-level fault tolerance**: write the documents projection
    to a directory, drop a garbage (non-parquet) file beside the real
    ones, and read the directory back with ``ignoreCorruptFiles`` —
    the scan must return exactly the clean rows, hash-verified against
    the logical relation (the file-level complement of the row-level
    malformed-CSV audit ``s24``). The surface that keeps a 100 TB
    backfill alive when one writer died mid-file: one bad object must
    cost its own rows at most, never the job.

    Scale note: ``ignoreCorruptFiles`` makes the skip silent —
    production pairs it with a file-count/row-count reconciliation
    (``prof_referential_integrity`` family) so silent loss is bounded
    and observed."""
    docs = load_raw(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    out = _scratch_dir(spark, sf_dir, "s25_corrupt_skip")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    docs.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"NOT A PARQUET FILE - simulated dead writer output")
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(out)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct(F.col("doc_id"))
            .cast("bigint")
            .alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint"))
            .cast("bigint")
            .alias("chars_total"),
        )
    )


# ---------------------------------------------------- CDC apply (s26)

#: Every 50th change in the synthetic CDC stream is a DELETE tombstone.
S26_DELETE_MOD = 50

_S26_ORACLE = f"""WITH changes AS (
  SELECT o_custkey AS entity_id, o_orderkey AS seq,
         CASE WHEN o_orderkey % {S26_DELETE_MOD} = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS new_balance
  FROM orders
),
latest AS (
  SELECT entity_id, seq, op, new_balance FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id ORDER BY seq DESC) AS rn
    FROM changes) WHERE rn = 1
)
SELECT c.c_custkey AS entity_id,
       CASE WHEN l.op = 'U' THEN l.new_balance ELSE c.c_acctbal END AS balance,
       COALESCE(l.seq, 0) AS last_seq,
       CASE WHEN l.op = 'U' THEN 'updated' ELSE 'kept' END AS action
FROM customer c LEFT JOIN latest l ON c.c_custkey = l.entity_id
WHERE l.op IS NULL OR l.op <> 'D'"""


@register("s26_cdc_apply", _S26_ORACLE)
def s26_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CDC apply with tombstones**: materialize a change stream
    (op ∈ {{U, D}}, strictly-ordered sequence numbers — here derived
    deterministically from orders) onto a base snapshot. Last change
    per key wins; a trailing DELETE removes the row; untouched base
    rows survive. This is the missing half of s9_upsert_merge (which
    has no deletes) and the core of any log-compacted ingest
    (Debezium/binlog → warehouse).

    Scale shape: the change stream reduces FIRST (row_number over
    (key, seq) — map-side partial via WindowGroupLimit at top-1), so
    the join against the base is |keys|-sized, not |changes|-sized;
    both sides then meet in ONE hash join on the entity key. Out-of-
    order delivery is handled by ordering on seq, not arrival —
    re-running on a late-arriving batch converges to the same
    snapshot (the idempotence that matters for streaming backfill)."""
    cust = load_raw(spark, sf_dir, "customer")
    changes = load_raw(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % S26_DELETE_MOD == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.col("o_totalprice").alias("new_balance"),
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("seq"))
    latest = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        cust.join(latest, cust.c_custkey == latest.entity_id, "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.col("c_custkey").alias("entity_id"),
            F.when(F.col("op") == "U", F.col("new_balance"))
            .otherwise(F.col("c_acctbal"))
            .alias("balance"),
            F.coalesce(F.col("seq"), F.lit(0)).alias("last_seq"),
            F.when(F.col("op") == "U", "updated")
            .otherwise("kept")
            .alias("action"),
        )
    )


# ------------------------------------- data-skipping layout report (s27)

#: Rows per modeled file, and the pinned audit predicate (one mid-month
#: day of the 30-day fixture window).
S27_FILE_ROWS = 500
S27_DAY = "2024-01-15"

_S27_ORACLE = f"""WITH e AS (
  SELECT event_id, epoch_us(ts) AS tsm,
         CAST(ts AS DATE) = DATE '{S27_DAY}' AS hit
  FROM events
),
n AS (SELECT CAST(CEIL(COUNT(*) / {S27_FILE_ROWS}.0) AS BIGINT) AS n_files FROM e),
layouts AS (
  SELECT 'ingestion_order' AS layout, event_id // {S27_FILE_ROWS} AS file_id,
         tsm, hit FROM e
  UNION ALL
  SELECT 'hash_scatter', event_id % (SELECT n_files FROM n), tsm, hit FROM e
),
files AS (
  SELECT layout, file_id, COUNT(*) AS rows_in_file,
         CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         MIN(tsm) AS mn, MAX(tsm) AS mx
  FROM layouts GROUP BY layout, file_id
),
day AS (
  SELECT epoch_us(TIMESTAMP '{S27_DAY} 00:00:00') AS lo,
         epoch_us(TIMESTAMP '{S27_DAY} 00:00:00') + 86400000000 AS hi
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned,
       CAST(CAST(FLOOR((1.0 - SUM(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS skip_ratio,
       CAST(SUM(CASE WHEN mx >= lo AND mn < hi THEN rows_in_file ELSE 0 END)
         AS BIGINT) AS rows_scanned,
       CAST(SUM(hits) AS BIGINT) AS rows_matching,
       CAST(CAST(FLOOR((SUM(CASE WHEN mx >= lo AND mn < hi THEN rows_in_file ELSE 0 END) / CAST(SUM(hits) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS scan_amplification
FROM files CROSS JOIN day
GROUP BY layout ORDER BY layout"""


@register("s27_skipping_stats_report", _S27_ORACLE)
def s27_skipping_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Data-skipping audit**: model per-file min/max zone maps under
    two physical layouts — ingestion order (event_id-contiguous files;
    ids are time-correlated, so zone maps are tight) vs hash scatter
    (every file spans the whole time range) — and report, for a pinned
    one-day predicate, how many files a min/max-pruning reader would
    skip and the scan amplification (rows read per matching row).

    This is the measurement that justifies the repo's layout choices
    (partitioned writes s7/s20, z-order s11, compaction s17): the SAME
    table and predicate go from skipping ~29/30 of files to skipping
    none when the layout destroys locality. One scan per layout arm, a
    |files|-row aggregate, broadcast day bounds — report cost is
    O(|files|), any SF."""
    ev = events_raw(spark, sf_dir).select(
        "event_id", F.expr("ts DIV 1000").alias("tsm")
    )
    day_lo = int(dt.datetime(2024, 1, 15, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    day_hi = day_lo + 86_400_000_000
    e = ev.select(
        "event_id",
        "tsm",
        ((F.col("tsm") >= day_lo) & (F.col("tsm") < day_hi)).alias("hit"),
    )
    n_files = e.agg(
        F.ceil(F.count("*") / float(S27_FILE_ROWS)).cast("long").alias("n_files")
    )
    ing = e.select(
        F.lit("ingestion_order").alias("layout"),
        (F.col("event_id") / S27_FILE_ROWS).cast("long").alias("file_id"),
        "tsm",
        "hit",
    )
    hsh = e.crossJoin(F.broadcast(n_files)).select(
        F.lit("hash_scatter").alias("layout"),
        (F.col("event_id") % F.col("n_files")).alias("file_id"),
        "tsm",
        "hit",
    )
    files = (
        ing.unionByName(hsh)
        .groupBy("layout", "file_id")
        .agg(
            F.count("*").alias("rows_in_file"),
            F.sum(F.col("hit").cast("long")).alias("hits"),
            F.min("tsm").alias("mn"),
            F.max("tsm").alias("mx"),
        )
    )
    scanned = (F.col("mx") >= day_lo) & (F.col("mn") < day_hi)
    return (
        files.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(scanned.cast("long")).alias("files_scanned"),
            ppm_value(
                1.0 - F.sum(scanned.cast("long")) / F.count("*").cast("double")
            ).alias("skip_ratio"),
            F.sum(
                F.when(scanned, F.col("rows_in_file")).otherwise(0)
            ).alias("rows_scanned"),
            F.sum("hits").alias("rows_matching"),
            ppm_value(
                F.sum(F.when(scanned, F.col("rows_in_file")).otherwise(0))
                / F.sum("hits").cast("double")
            ).alias("scan_amplification"),
        )
        .orderBy("layout")
    )


# --------------------------------- S28: bucketed co-located join

#: Bucket count for the co-located join demo. On a real cluster this
#: is sized to target-file-size × executor count; what matters for the
#: demo is that BOTH tables use the same count on the same key.
S28_BUCKETS = 8

_S28_ORACLE = with_ctes(
    """SELECT c.user_id,
       c.n_clicks,
       p.purchase_cents
FROM (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM clicks GROUP BY user_id
) c
JOIN (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS purchase_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
) p ON c.user_id = p.user_id""",
    CLICKS_CTE,
)


@register("s28_bucketed_join_colocated", _S28_ORACLE)
def s28_bucketed_join_colocated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Bucketed tables + shuffle-free co-located join** — the one
    physical-layout lever the s-series still lacked (z-order orders
    WITHIN files for skipping; bucketing pre-partitions ACROSS files
    so the shuffle happens once, at write time). Raw clicks and
    per-user purchase totals are written as two tables bucketed AND
    sorted by ``user_id`` with the same bucket count; the read-side
    aggregate on the bucket key and the user_id equi-join then need
    NO Exchange at all — the executed plan is scan → partial agg →
    sort-merge join with ZERO shuffles (the two remaining sorts are
    bucket-LOCAL: the aggregate leg's output is unordered by nature,
    and they move no data). That is the entire economics of nightly
    fact-to-fact joins at 100 TB: pay the partitioning once at write
    time, amortize it over every downstream join/agg on that key.
    Values are hash-verified against the plain recomputation
    (bucketing must be a pure layout change); the zero-Exchange,
    both-scans-bucketed plan shape is pinned in
    tests/test_plan_budgets.py and tests/test_round9_ops.py.

    Money stays on the exact cent grid (BIGINT), counts exact — no
    float anywhere.

    Concurrency (r9 advice): the warehouse path and catalog names are
    suffixed by a hash of (sf_dir, Spark app id), so concurrent
    sessions — parallel bench/pytest runs, or one session checking two
    SFs — never race on the same directory or mutate each other's
    catalog entries."""
    base = _scratch_dir(spark, sf_dir, "s28")
    tag = os.path.basename(base).rsplit("_", 1)[-1]
    t_clicks = f"s28_clicks_bucketed_{tag}"
    t_purch = f"s28_purchases_bucketed_{tag}"
    cl = clicks(spark, sf_dir).select("user_id", "news_id")
    cents = F.round(F.col("value").cast("decimal(18,6)") * 100, 0).cast(
        "bigint"
    )
    pu = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").cast("bigint").alias("purchase_cents"))
    )
    # one task per bucket -> ONE FILE per bucket, which is the
    # precondition for Spark to trust the written sortBy order and
    # drop the read-side sorts as well as the shuffles
    (
        cl.repartition(S28_BUCKETS, F.col("user_id"))
        .write.mode("overwrite")
        .bucketBy(S28_BUCKETS, "user_id")
        .sortBy("user_id")
        .option("path", os.path.join(base, "clicks_b"))
        .saveAsTable(t_clicks)
    )
    (
        pu.repartition(S28_BUCKETS, F.col("user_id"))
        .write.mode("overwrite")
        .bucketBy(S28_BUCKETS, "user_id")
        .sortBy("user_id")
        .option("path", os.path.join(base, "purchases_b"))
        .saveAsTable(t_purch)
    )
    cb = spark.table(t_clicks)
    pb = spark.table(t_purch)
    per_user = cb.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_clicks")
    )
    # MERGE hint: at fixture scale AQE would broadcast the tiny side
    # (hiding the point of the demo); two production fact tables are
    # both over the broadcast threshold, and the sort-merge path is
    # where bucketing pays — zero Exchange AND zero Sort, both sides
    # pre-partitioned and pre-ordered at write time.
    return per_user.join(pb.hint("merge"), "user_id").select(
        "user_id", "n_clicks", "purchase_cents"
    )


# --------------------------- S29: dynamic partition pruning (runtime)

#: How many hot days the dimension side selects.
S29_HOT_DAYS = 3

_S29_ORACLE = with_ctes(
    f"""SELECT c.date,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(MAX(h.cents) AS BIGINT) AS day_revenue_cents
FROM clicks c
JOIN (
  SELECT day, cents FROM (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 100, 0)
                    AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
  ) ORDER BY cents DESC, day ASC LIMIT {S29_HOT_DAYS}
) h ON c.date = h.day
GROUP BY c.date""",
    CLICKS_CTE,
)


@register("s29_dpp_partitioned_join", _S29_ORACLE)
def s29_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Runtime dynamic partition pruning** — the piece of the
    scan-pruning ledger that static predicates can't give you
    (SCALE.md §2): ``s7`` proves a LITERAL date range prunes partition
    directories at plan time; here the day set is only known at RUN
    time (the ``S29_HOT_DAYS`` highest-revenue days, computed from the
    purchase stream), yet the partitioned click scan must still read
    only those directories. Clicks are materialized date-partitioned
    (the s7 layout), the hot-day dimension is a
    ``TakeOrderedAndProject`` top-N (no global rank window) that
    broadcasts, and Catalyst turns the broadcast build side into a
    ``dynamicpruningexpression`` partition filter on the fact scan —
    the executed plan reads |hot days| directories out of the month,
    which is DPP doing at runtime what s7's static filter did at plan
    time. At 100 TB this is the fact-to-dim pattern ("scan only the
    days the campaign table names") that keeps a partitioned warehouse
    usable without hand-written date literals. Plan shape (the
    dynamic-pruning subquery on the scan + the partition count
    actually read) is pinned in tests/test_round10_ops.py; values are
    hash-verified against the layout-free recomputation."""
    from ..sources.io import write_parquet
    from ..sources.tables import ts_date

    out = _scratch_dir(spark, sf_dir, "s29_clicks_by_date")
    write_parquet(clicks(spark, sf_dir), out, partition_by=["date"])
    fact = spark.read.schema(
        "user_id long, news_id long, cnt int, date date"
    ).parquet(out)

    cents = F.round(F.col("value").cast("decimal(18,6)") * 100, 0).cast(
        "bigint"
    )
    rev = (
        events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(ts_date("ts").alias("day"), cents.alias("cents"))
        .groupBy("day")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    hot = rev.orderBy(F.desc("cents"), F.asc("day")).limit(S29_HOT_DAYS)
    return (
        fact.join(F.broadcast(hot), fact.date == hot.day)
        .groupBy("date")
        .agg(
            F.count("*").cast("long").alias("n_clicks"),
            F.max("cents").cast("long").alias("day_revenue_cents"),
        )
    )


# ------------------------ S30: runtime Bloom-filter join pruning

#: Creation-side purchase-value cut — selects ~8% of users at every SF
#: (a "likely selective" range predicate, which is what Spark's
#: InjectRuntimeFilter rule requires on the creation side).
S30_MIN_PURCHASE_VALUE = 250.0

_S30_ORACLE = f"""SELECT c.user_id AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_click_events
FROM events c
WHERE c.event_type = 'click'
  AND c.user_id IN (SELECT user_id FROM events
                    WHERE event_type = 'purchase'
                      AND value >= {S30_MIN_PURCHASE_VALUE})
GROUP BY c.user_id"""

#: Session confs that open Spark's runtime-filter thresholds to fixture
#: scale. Production defaults (10 GB creation side / 10 GB application
#: side) are sized for real clusters; the point of the entry is the
#: PLAN SHAPE, which is identical at 100 TB with the defaults left
#: alone. ``autoBroadcastJoinThreshold=-1`` forces the shuffle join the
#: rule targets (a broadcast join already prunes via its build side).
S30_RUNTIME_FILTER_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register("s30_bloom_join_runtime", _S30_ORACLE)
def s30_bloom_join_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Runtime Bloom-filter join pruning** — the ROW-level companion
    of s29's PARTITION-level DPP, completing the runtime-pruning pair
    (SCALE.md §2): with the runtime-filter thresholds opened to fixture
    scale, Spark's ``InjectRuntimeFilter`` builds a Bloom filter from
    the selective creation side of the shuffle semi-join (purchasers
    with ``value >= S30_MIN_PURCHASE_VALUE``) and pushes
    ``might_contain`` onto the click-side scan, dropping rows that
    cannot match BEFORE they are shuffled. At 100 TB this is the
    difference between shuffling the whole click log and shuffling the
    ~8% that can survive the join. The physical plan is frozen INSIDE
    this builder while the confs are active (QueryExecution phases are
    cached), then the session confs are restored — the driver's later
    collect reuses the cached Bloom-bearing plan and the session is
    left untouched. Plan shape (``might_contain`` on the application
    side, plus the documented decline case: an Aggregate on the
    creation side hides the selective predicate from the rule) is
    pinned in tests/test_round10_ops.py; values are hash-verified
    against the layout-free IN-subquery oracle."""
    saved: dict[str, str | None] = {}
    try:
        # set loop INSIDE the try: a failure setting the 2nd-4th conf
        # must still restore the ones already applied (round-11 advice)
        for k, v in S30_RUNTIME_FILTER_CONFS.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        ev = events_raw(spark, sf_dir)
        fact = ev.filter(F.col("event_type") == "click").select("user_id")
        dim = (
            ev.filter(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= S30_MIN_PURCHASE_VALUE)
            ).select("user_id")
        )
        out = (
            fact.join(dim, "user_id", "left_semi")
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_click_events"))
        )
        # Freeze the physical plan NOW, under the opened thresholds —
        # QueryExecution's phases are lazy-cached, so the restored
        # session confs below cannot re-plan the Bloom filter away.
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
