"""Round-12 optimization invariants.

Every rewrite this round is oracle-hash-verified end to end; these
tests additionally pin the EQUIVALENCES the rewrites rely on, so a
future refactor can't silently break one:

- the Arrow/BLAS LSH bucketing (`_bucket_udf`) produces exactly the
  buckets of the Catalyst sign-bit fold it replaced;
- both blocked scorers (`_score_candidates_blocked`,
  `_exact_pairs_blocked`) agree with the Catalyst cosine expression to
  float tolerance (and exactly at the 6-dp quantization every ranking
  uses);
- the TF-IDF window-df equals the old count-distinct df row for row;
- the ts_lang_id struct-argmax plan really is single-scan/no-shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommedation_system_under_flink_spark.operators import similarity as S
from recommedation_system_under_flink_spark.sources import load_raw

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_raw(spark, SF_DIR, "embeddings")


def test_bucket_udf_matches_catalyst_fold(spark, emb):
    """The BLAS bucketing must reproduce the sign-bit fold's buckets
    exactly (a flip would need |projection| under the dgemm-vs-
    sequential rounding gap)."""
    planes = S._hyperplanes(S.DBSCAN_LSH_TABLES, S.DBSCAN_LSH_BITS)
    new = {
        (r["vec_id"], r["table"], r["bucket"])
        for r in S._bucketed(emb, S.DBSCAN_LSH_TABLES, S.DBSCAN_LSH_BITS)
        .select("vec_id", "table", "bucket")
        .collect()
    }
    # the replaced form: per-plane zip_with/aggregate sign-bit fold
    base = emb.select("vec_id", S._as_double("embedding").alias("e"))
    old = set()
    for t, table in enumerate(planes):
        bucket = F.lit(0)
        for b, plane in enumerate(table):
            proj = F.aggregate(
                F.zip_with(
                    F.col("e"),
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for r in base.select("vec_id", bucket.alias("bucket")).collect():
            old.add((r["vec_id"], t, r["bucket"]))
    assert new == old


def test_blocked_scorer_matches_catalyst_cosine(spark, emb):
    """Both blocked kernels over the shared ``_vec_blocks`` layout —
    row-wise einsum over candidates and the all-pairs GEMM — vs the
    Catalyst dot/(|a|·|b|) fold: equal at the 6-dp ranking quantization
    and within 1e-9 raw. A candidate whose id is missing from the
    layout is dropped (inner-join semantics)."""
    ids = emb.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("u"))
        .crossJoin(ids.select(F.col("vec_id").alias("v")))
        .filter((F.col("u") < F.col("v")) & (F.col("v") < 40))
    )
    proj = emb.filter(F.col("vec_id") < 40).select(
        "vec_id", S._as_double("embedding").alias("e")
    ).withColumn("nrm", S._norm(F.col("e")))
    pa = proj.select(F.col("vec_id").alias("u"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    pb = proj.select(F.col("vec_id").alias("v"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    want = {
        (r["u"], r["v"]): r["cosine"]
        for r in cand.join(pa, "u").join(pb, "v").select(
            "u",
            "v",
            (S._dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        ).collect()
    }
    blocks = S._vec_blocks(emb)
    candidates = {
        (r["u"], r["v"]): r["cosine"]
        for r in S._score_candidates_blocked(blocks, cand).collect()
    }
    all_pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in S._exact_pairs_blocked(blocks, -1.0)
        .filter(F.col("vec_b") < 40)
        .collect()
    }
    missing = 7
    masked = {
        (r["u"], r["v"]): r["cosine"]
        for r in S._score_candidates_blocked(
            S._vec_blocks(emb.filter(F.col("vec_id") != missing)), cand
        ).collect()
    }
    assert want and set(candidates) == set(all_pairs) == set(want)
    assert set(masked) == {k for k in want if missing not in k}
    for got in (candidates, all_pairs, masked):
        for k, cos in got.items():
            assert abs(cos - want[k]) < 1e-9, k
            assert round(cos, 6) == round(want[k], 6), k


def test_tfidf_window_df_equals_count_distinct(spark):
    """tfidf()'s window df must equal COUNT(DISTINCT doc) per term —
    true because the terms relation has one row per (doc, term)."""
    from recommedation_system_under_flink_spark.operators.tfidf import (
        news_terms,
        tfidf,
    )
    from recommedation_system_under_flink_spark.sources import news

    terms = news_terms(spark, SF_DIR)
    got = tfidf(terms, "news_id", news(spark, SF_DIR))
    # reference: the old two-pass form
    n_docs = news(spark, SF_DIR).agg(
        F.count_distinct("news_id").alias("n_docs")
    )
    df_per_term = terms.groupBy("term").agg(
        F.count_distinct("news_id").alias("df")
    )
    want = (
        terms.join(F.broadcast(df_per_term), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "news_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).alias("weight"),
        )
    )
    key = lambda r: (r["news_id"], r["term"])  # noqa: E731
    a = sorted(got.collect(), key=key)
    b = sorted(want.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a


def test_lang_id_plan_is_single_scan_no_shuffle(spark):
    """The struct-argmax rewrite removed the 4-way union AND the
    per-doc window: one parquet scan, zero exchanges."""
    from recommedation_system_under_flink_spark.operators.textstats import (
        ts_lang_id,
    )

    plan = ts_lang_id(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
