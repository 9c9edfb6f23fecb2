"""Invariants for the dedup family (operators/dedup.py) that the DuckDB
oracle can't express: recall of the approximate LSH paths against their
exact twins, verdict and containment semantics, band-tuning nesting and
n-gram novelty conservation, on the sf0.001 fixtures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommedation_system_under_flink_spark import registry
from recommedation_system_under_flink_spark.operators.dedup import (
    BAND_SWEEP,
    CONTAIN_THRESHOLD,
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    dedup_minhash_lsh,
    shingles,
    simhash_udf,
)
from recommedation_system_under_flink_spark.sources.tables import load_raw

from conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


# ------------------------------------------------------ exact / SimHash

def test_exact_dedup_flags_planted_duplicates(queries, spark):
    df = queries["dedup_exact"](spark, SF_DIR)
    # canonical count == distinct hash count; every hash has exactly one canonical
    agg = df.groupBy("text_hash").agg(
        F.sum(F.col("canonical").cast("int")).alias("n_canon")
    )
    assert agg.filter(F.col("n_canon") != 1).count() == 0


def test_simhash_identical_text_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "spark shuffles data"), (3, "other words")],
        "doc_id long, text string",
    )
    rows = df.select("doc_id", simhash_udf()(F.col("text")).alias("sig")).collect()
    sigs = {r.doc_id: r.sig for r in rows}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


# ------------------------------------------------------- MinHash / LSH

def test_minhash_lsh_subset_of_exact_with_high_recall(queries, spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_ngram_jaccard"](spark, SF_DIR).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    assert lsh <= exact  # verified candidates can never add pairs
    if exact:
        assert len(lsh) / len(exact) >= 0.8  # 2-row bands at j>=0.5


def test_neardup_canonical_verdict(queries, spark):
    """Canonical verdict invariants: one row per doc; canonical_id ≤
    doc_id never violated for keepers... precisely: keep iff doc is its
    cluster's min; near-dup pairs always share a canonical."""
    rows = queries["dedup_neardup_canonical"](spark, SF_DIR).collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in rows}
    keeps = {r["doc_id"] for r in rows if r["keep"]}
    assert len(rows) == len(canon)  # one verdict per doc
    # keep iff doc IS its canonical
    for r in rows:
        assert r["keep"] == (r["doc_id"] == r["canonical_id"])
        assert r["canonical_id"] <= r["doc_id"]
        assert canon[r["canonical_id"]] == r["canonical_id"]  # canonical is kept
    assert keeps == set(canon.values())
    # every verified near-dup pair collapses to one canonical
    for p in queries["dedup_minhash_lsh"](spark, SF_DIR).collect():
        assert canon[p["doc_a"]] == canon[p["doc_b"]]


def test_band_tuning_nested_candidates_and_prod_consistency(queries, spark):
    """Band boundaries nest (a 4-row band collision implies its two
    2-row band collisions, which imply four 1-row collisions), so both
    candidate and verified counts must be monotone non-increasing as
    rows-per-band grows; the production (16, 2) point's verified count
    must equal the registered LSH pair relation; the pinned S-curve
    capture values must be monotone the same way."""
    rows = {
        (r.bands, r.rows_per_band): r
        for r in queries["dedup_band_tuning_curve"](spark, SF_DIR).collect()
    }
    assert set(rows) == set(BAND_SWEEP)
    ordered = [rows[cfg] for cfg in sorted(BAND_SWEEP, key=lambda c: c[1])]
    for a, b in zip(ordered, ordered[1:]):
        assert a.n_candidates >= b.n_candidates
        assert a.n_verified >= b.n_verified
        assert a.capture_at_threshold >= b.capture_at_threshold
    n_true = {r.n_true for r in rows.values()}
    assert len(n_true) == 1
    for r in rows.values():
        assert 0 <= r.n_verified <= min(r.n_candidates, r.n_true)
        if r.n_true:
            assert abs(r.recall - r.n_verified / r.n_true) < 1e-6

    prod = rows[(MINHASH_BANDS, 32 // MINHASH_BANDS)]
    assert prod.n_verified == dedup_minhash_lsh(spark, SF_DIR).count()


# ------------------------------------------------- shingle-set queries

def test_containment_dominates_jaccard_and_direction(queries, spark):
    """containment ≥ jaccard always; contained_doc is the smaller
    shingle set; every symmetric near-dup pair (jaccard ≥ threshold)
    must also appear in the containment output."""
    out = queries["dedup_containment"](spark, SF_DIR).collect()
    assert out
    # containment ≥ jaccard, so any pair at jaccard ≥ CONTAIN_THRESHOLD
    # is guaranteed to appear in the containment output
    jpairs = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_ngram_jaccard"](spark, SF_DIR).collect()
        if r.jaccard >= CONTAIN_THRESHOLD
    }
    cpairs = {(r.doc_a, r.doc_b) for r in out}
    assert jpairs and jpairs <= cpairs, jpairs - cpairs
    for r in out:
        assert r.containment >= r.jaccard - 1e-9
        assert r.contained_doc in (r.doc_a, r.doc_b)
        assert r.jaccard_missed == (r.jaccard < JACCARD_THRESHOLD)


def test_ngram_novelty_conservation_and_first_doc(queries, spark):
    """Novel shingles partition the corpus vocabulary: Σ n_novel =
    |distinct shingles|; the smallest doc with any shingles has
    novelty exactly 1; every ratio matches its counts."""
    rows = queries["dedup_ngram_novelty"](spark, SF_DIR).collect()
    assert rows
    sh = shingles(load_raw(spark, SF_DIR, "documents"))
    vocab = sh.select("shingle").distinct().count()
    assert sum(r.n_novel for r in rows) == vocab
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_novel == first.n_shingles and first.novelty == 1.0
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert abs(r.novelty - r.n_novel / r.n_shingles) < 1e-6


def test_method_agreement_consistent_with_components(queries, spark):
    """The agreement row's counts must equal the component pair
    queries' row counts, with n_both <= min of the two and the method
    Jaccard in [0, 1]."""
    r = queries["dedup_method_agreement"](spark, SF_DIR).collect()[0]
    n_text = queries["dedup_ngram_jaccard"](spark, SF_DIR).count()
    n_emb = queries["sim_neardup_pairs_exact"](spark, SF_DIR).count()
    assert r["n_text"] == n_text
    assert r["n_embedding"] == n_emb
    assert r["n_both"] <= min(n_text, n_emb)
    if r["method_jaccard"] is not None:
        assert 0.0 <= r["method_jaccard"] <= 1.0
