"""ALS collaborative-filtering recommender (SURVEY §7.4b).

A fourth recommender behind the same ``recommend()`` output shape as
TF_IDF/TextRank/HotTopics (SURVEY §1.2 RecommendationModel): MLlib ALS
on the implicit (user, news, click-count) matrix. The reference has no
analogue — this is the extension BASELINE.json's north star names.

Implicit-feedback mode (Hu/Koren/Volinsky 2008): click counts are
confidence, not ratings. Seeded, so runs are reproducible; MLlib's
blocked iterative training is engine-internal → rows-only driver check,
invariants in tests/test_streaming.py. The alternating-least-squares
induction seam itself IS oracle-certified by ``als_rank1_topk`` below
(rank-1, exact integers, DuckDB CTE twin).

Scale notes (100 TB): ALS is the one genuinely iterative-distributed
operator in the engine — MLlib blocks the factor matrices
(numUserBlocks/numItemBlocks) so each iteration is a pair of
block-joined least-squares sweeps, shuffle O(nnz) per iteration. Rank
and block counts are the scale knobs; the input aggregate (user, news,
cnt) is map-side combinable as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_SCENE, TODAY
from ..operators import bsp
from ..registry import register
from ..sources import clicks

K = DEFAULT_SCENE.num_recommendations


@register("als_recommendations")  # iterative training → rows-only check
def als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train implicit ALS on aggregated clicks, emit the standard
    recommendations shape ``(user_id, date, news array<long>)``."""
    from pyspark.ml.recommendation import ALS

    ratings = (
        clicks(spark, sf_dir)
        .groupBy("user_id", "news_id")
        .agg(F.sum("cnt").cast("float").alias("cnt"))
    )
    if ratings.isEmpty():  # MLlib ALS refuses an empty ratings RDD
        return spark.createDataFrame(
            [], "user_id long, date date, news array<long>"
        )
    als = ALS(
        rank=8,
        maxIter=5,
        regParam=0.1,
        implicitPrefs=True,
        alpha=10.0,
        seed=42,
        userCol="user_id",
        itemCol="news_id",
        ratingCol="cnt",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(K)
    return recs.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.lit(TODAY).cast("date").alias("date"),
        F.transform("recommendations", lambda r: r["news_id"].cast("long")).alias(
            "news"
        ),
    )


# ---------------------------------------------- rank-1 exact ALS twin

#: Factor grid: 1e-6 units ("ppm"), matching the engine-wide quantizer.
ALS1_PPM = 1_000_000
#: λ = 0.1 expressed on the 1e-12 grid the denominators live on.
ALS1_LAMBDA_P12 = 100_000_000_000
_P12 = 1_000_000_000_000
#: Full alternating sweeps (v → u → v per sweep after the all-ones init).
ALS1_SWEEPS = 2


def _als1_half_sweep(r: DataFrame, f: DataFrame, key: str, other: str) -> DataFrame:
    """One exact-integer ridge update: given the fixed side's factors
    ``f(other, f)`` on the 1e-6 grid, solve the per-``key`` scalar ridge
    regression  argmin Σ (c − x·f)² + λx²  ⇒  x = Σc·f / (λ + Σf²),
    carried out entirely in integers:

        x_ppm = (Σ c·f_ppm) · 1e12  div  (λ·1e12 + Σ f_ppm²)

    Sums accumulate as DECIMAL(38,0) (loud NULL on overflow — the
    HUGEINT mirror, see quantize.ppm_sum) and the one division is
    integral ``div`` (truncation toward zero, identical in Spark and
    DuckDB; every operand here is non-negative anyway). No float enters
    at any point, so the factors are bit-identical across engines AND
    partition orders."""
    return (
        r.join(f, on=other)
        .groupBy(key)
        .agg(
            F.sum((F.col("c").cast("decimal(38,0)") * F.col("f")).cast("decimal(38,0)")).alias("num"),
            F.sum((F.col("f").cast("decimal(38,0)") * F.col("f")).cast("decimal(38,0)")).alias("den"),
        )
        .select(
            key,
            F.expr(
                f"CAST(num * CAST({_P12} AS DECIMAL(38,0)) AS DECIMAL(38,0))"
                f" div (CAST({ALS1_LAMBDA_P12} AS DECIMAL(38,0)) + den)"
            ).alias("f"),
        )
    )


def _als1_oracle() -> str:
    """Unrolled DuckDB mirror of the ``ALS1_SWEEPS`` alternating-ridge
    recursion — the BPE-style induction-loop-as-CTE-chain playbook
    applied to matrix factorization. HUGEINT arithmetic mirrors the
    Spark side's DECIMAL(38,0); ``//`` and ``div`` agree (truncation
    toward zero) and all operands are non-negative."""
    from ..sources import CLICKS_CTE, with_ctes

    ctes = [
        "r AS (SELECT user_id, news_id, CAST(SUM(cnt) AS BIGINT) AS c"
        " FROM clicks GROUP BY user_id, news_id)",
        f"v0 AS (SELECT DISTINCT news_id, CAST({ALS1_PPM} AS HUGEINT) AS f FROM r)",
    ]
    prev = "v0"
    for t in range(1, ALS1_SWEEPS + 1):
        ctes.append(
            f"u{t} AS (SELECT r.user_id,"
            f" (SUM(CAST(r.c AS HUGEINT) * v.f) * {_P12})"
            f" // ({ALS1_LAMBDA_P12} + SUM(v.f * v.f)) AS f"
            f" FROM r JOIN {prev} v ON r.news_id = v.news_id GROUP BY r.user_id)"
        )
        ctes.append(
            f"v{t} AS (SELECT r.news_id,"
            f" (SUM(CAST(r.c AS HUGEINT) * u.f) * {_P12})"
            f" // ({ALS1_LAMBDA_P12} + SUM(u.f * u.f)) AS f"
            f" FROM r JOIN u{t} u ON r.user_id = u.user_id GROUP BY r.news_id)"
        )
        prev = f"v{t}"
    body = f"""SELECT user_id, rnk, news_id, score_p12,
       CAST(score_p12 AS DOUBLE) / 1e12 AS score
FROM (
  SELECT u.user_id, v.news_id,
         CAST(u.f * v.f AS BIGINT) AS score_p12,
         CAST(ROW_NUMBER() OVER (PARTITION BY u.user_id
                                 ORDER BY u.f * v.f DESC, v.news_id ASC)
              AS BIGINT) AS rnk
  FROM u{ALS1_SWEEPS} u CROSS JOIN {prev} v
  WHERE NOT EXISTS (SELECT 1 FROM r
                    WHERE r.user_id = u.user_id AND r.news_id = v.news_id)
) WHERE rnk <= {K}"""
    return with_ctes(body, CLICKS_CTE, *ctes)


@register("als_rank1_topk", _als1_oracle())
def als_rank1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Rank-1 ALS, exact-integer form** — the oracle-able twin of
    :func:`als_recommendations` (same playbook as TextRank's K-round
    distributed twin: unroll the bounded iteration, quantize the state,
    and the whole training loop becomes hash-comparable cross-engine).

    Explicit-feedback alternating ridge regression at rank 1 on the
    aggregated click matrix: item factors start at 1.0 (1e6 on the ppm
    grid), then ``ALS1_SWEEPS`` alternating sweeps of the scalar ridge
    update (see :func:`_als1_half_sweep`), every step exact integer
    arithmetic — DECIMAL(38,0) sums, one integral division per update —
    so factors and scores are reproducible to the bit across engines
    and partitionings. Top-``K`` unseen items per user by ``u·v``
    (ties → lower news_id), already-clicked items anti-joined out.

    Known rank-1 degeneracy, documented not hidden: all positive-factor
    users share one item ranking (scores differ by the per-user scalar),
    so the output is a personalized-magnitude popularity ranking; the
    MLlib rank-8 model (`als_recommendations`) remains the production
    recommender. THIS entry's value is certifying the alternating-
    least-squares induction seam itself against an independent engine.

    Scale (100 TB): each half-sweep is one shuffle of the (user, item,
    count) relation keyed by the side being solved — O(nnz) per sweep,
    the same cost envelope MLlib's blocked ALS pays per iteration. The
    item-factor table is items-bounded → broadcast at scoring time; the
    candidate generation is users × items with the seen-set anti-join,
    the standard serving fan-out (a production build would cut it with
    the ANN index, `sim_*`)."""
    # r feeds every half-sweep plus the init and the anti-join, and the
    # unrolled sweep tree references each factor table from the NEXT
    # sweep and the scorer - with no cross-subtree CSE the executed
    # plan held 10 parquet scans (r12 scan audit), re-deriving earlier
    # sweeps per reference. Persist the ratings once and each (tiny,
    # entity-bounded) factor table as it lands; the query scope releases
    # them after the top-K result materializes (operators/bsp.py).
    r = bsp.persist(
        clicks(spark, sf_dir)
        .groupBy("user_id", "news_id")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )
    v = (
        r.select("news_id")
        .distinct()
        .select("news_id", F.lit(ALS1_PPM).cast("decimal(38,0)").alias("f"))
    )
    u = None
    for _ in range(ALS1_SWEEPS):
        u = bsp.persist(_als1_half_sweep(r, v, key="user_id", other="news_id"))
        v = bsp.persist(_als1_half_sweep(r, u, key="news_id", other="user_id"))

    from pyspark.sql import Window

    # Rank on the EXACT decimal product (matches the oracle's HUGEINT
    # sort), and make BIGINT overflow LOUD rather than a silent NULL:
    # non-ANSI Spark turns an overflowing decimal→long cast into NULL,
    # which the window would happily rank, while the DuckDB oracle
    # errors on CAST AS BIGINT — raise_error restores the symmetry
    # (round-10 advice, plans/als.py:219).
    w = Window.partitionBy("user_id").orderBy(
        F.col("_prod").desc(), F.col("news_id").asc()
    )
    # signed bounds, not abs(): -2**63 is a representable BIGINT that
    # DuckDB's CAST accepts — abs() would raise on it while the oracle
    # succeeds (round-11 advice)
    _i64max = F.lit(2**63 - 1).cast("decimal(38,0)")
    _i64min = F.lit(-(2**63)).cast("decimal(38,0)")
    scored = (
        u.withColumnRenamed("f", "uf")
        .crossJoin(F.broadcast(v.withColumnRenamed("f", "vf")))
        .join(r.select("user_id", "news_id"), on=["user_id", "news_id"], how="left_anti")
        .select(
            "user_id",
            "news_id",
            (F.col("uf").cast("decimal(38,0)") * F.col("vf")).alias("_prod"),
        )
        .withColumn(
            "score_p12",
            F.when(
                (F.col("_prod") >= _i64min) & (F.col("_prod") <= _i64max),
                F.col("_prod").cast("long"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("als_rank1_topk: factor product overflows BIGINT: "),
                        F.col("_prod").cast("string"),
                    )
                ).cast("long")
            ),
        )
    )
    out = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .drop("_prod")
        .filter(F.col("rnk") <= K)
        .select(
            "user_id",
            "rnk",
            "news_id",
            "score_p12",
            (F.col("score_p12").cast("double") / F.lit(1e12)).alias("score"),
        )
    )
    return bsp.checkpoint_result(out)
