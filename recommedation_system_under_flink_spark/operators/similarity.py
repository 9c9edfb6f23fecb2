"""Embedding similarity search for LLM data pipelines (SURVEY §7.4c).

Over ``embeddings(vec_id, embedding float[64], label)``:

- **brute-force cosine top-k** — the correctness baseline: a small
  query set broadcast against the corpus scan, cosine as a pure
  Catalyst expression (``zip_with`` + ``aggregate`` — no Python
  boundary), top-k per query via ``row_number`` (WindowGroupLimit).
- **LSH-bucketed top-k** — the scale path: random-hyperplane signatures
  (sign bits of fixed pseudo-random projections) bucket the corpus;
  only same-bucket candidates get exact cosine. Multiple independent
  hash tables recover recall lost to bucket boundaries.
- **embedding near-dup pairs** — all-pairs cosine ≥ threshold, via the
  same LSH bucketing (never a raw cross join).

Scale notes (100 TB): brute-force is O(|corpus|·|queries|) — fine when
queries broadcast (the corpus is scanned once, no shuffle); the per-row
cost stays JVM-side. LSH replaces the corpus×corpus pair space with
per-bucket pair spaces; bucket keys are hash-uniform, and the
hyperplane matrix is a plan literal (no driver lookup at execution).

Scoring-and-ranking core, written once per engine (the DuckDB twins
share no code with the Spark side):

- **rank**: :func:`_top_k` / :func:`_top_k_sql` — ``row_number`` per
  query by score rounded to 6 dp descending, then item id ascending,
  kept while ``<= k``;
- **query set**: :func:`_query_rows` (the ``vec_id < N_QUERIES`` rows
  as ``query_id``) over :func:`_emb_base`, the up-cast corpus with
  norms;
- **cosine**: :func:`_cosine` (dot over precomputed norms) /
  :func:`_cos_sql`, and ``_SCORED_CTE``, the exact cosine of a
  ``cand(query_id, corpus_id)`` CTE;
- **LSH probe top-k**: :func:`_lsh_probe_topk` /
  :func:`_lsh_probe_topk_sql` (bucket equi-join → self-exclusion →
  distinct → exact cosine → rank), fed the probe rows;
- **SQ8 sizing**: :func:`_sq8_sized` / ``_SQ8_SIZED_CTE``;
- **covariance**: :func:`_cov_relation` over the ``quantize.ppm_floor``
  grid (:func:`_ppm_grid` / ``_PPM_GRID_CTE``, moments
  ``_COV_MOMENT_CTES``), :func:`_cov_matrix` and :func:`_cov_eigh` on
  the driver, and :func:`_centered_projection` back onto the corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bsp
from .quantize import ppm_floor, ppm_floor_sql, ppm_value, ppm_value_sql
from ..registry import register
from ..sources import load_raw

#: Query set: first N vec_ids play the role of incoming queries.
N_QUERIES = 10
TOP_K = 5
#: Near-duplicate cosine threshold (fixture max inter-pair cosine ≈ .51).
COSINE_THRESHOLD = 0.45
#: Blocked-GEMM tile: vectors per id block in the exact pair scorer.
NEARDUP_BLOCK = 512
#: Random-hyperplane LSH: bits per table × number of tables. Short
#: signatures + many tables because the fixture embeddings are weakly
#: correlated (best neighbors sit near 60°, where per-bit collision
#: p ≈ 2/3): 4 bits ⇒ p_table ≈ 0.2, 8 tables ⇒ recall ≈ 0.83. With
#: genuinely clustered production embeddings, raise LSH_BITS to shrink
#: candidate sets — recall comes from the cluster tightness instead.
LSH_BITS = 4
LSH_TABLES = 8
EMB_DIM = 64


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two double arrays as a Catalyst expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _as_double(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


_EMB_CAST = "CAST(embedding AS DOUBLE[])"


# ------------------------------------------- scoring-and-ranking core


def _cosine(
    a: Column | str, b: Column | str, an: Column | str, bn: Column | str
) -> Column:
    """Cosine of double vectors ``a``, ``b`` from their precomputed
    norms ``an``, ``bn`` (columns or column names). Embeddings are
    float32 on disk, and both engines up-cast to double before
    multiplying, or the 9-digit comparison fails. Norms are per row, so
    callers compute them BEFORE a pair join instead of once per pair."""
    a, b, an, bn = (F.col(c) if isinstance(c, str) else c for c in (a, b, an, bn))
    return _dot(a, b) / (an * bn)


def _top_k(
    scored: DataFrame,
    k: int = TOP_K,
    score: str = "cosine",
    by: str = "query_id",
    item: str = "corpus_id",
    rank: str = "rank",
) -> DataFrame:
    """The pinned ranking of every sim_* top-k: ``rank`` = row_number
    per ``by`` over ``score`` rounded to 6 dp descending, then ``item``
    ascending, kept while ``<= k``. The quantized key keeps float ulp
    noise from flipping near-ties between engines (see
    operators/tfidf.py); rounding an already-rounded score again
    returns the same double."""
    w = Window.partitionBy(by).orderBy(F.desc(F.round(score, 6)), F.asc(item))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _query_rows(frame: DataFrame, *cols: Column | str) -> DataFrame:
    """The query set: ``frame``'s rows with ``vec_id < N_QUERIES``, as
    ``query_id`` plus ``cols``."""
    return frame.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def _emb_base(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """``(vec_id, *cols, emb, nrm)``: the corpus up-cast to double, with
    norms."""
    emb = load_raw(spark, sf_dir, "embeddings")
    return emb.select("vec_id", *cols, _as_double("embedding").alias("emb")).withColumn(
        "nrm", _norm(F.col("emb"))
    )


def _cos_sql(x: str, y: str) -> str:
    """DuckDB cosine of two DOUBLE[] vector expressions (callers up-cast,
    as :func:`_cosine` says)."""
    return f"""list_dot_product({x}, {y})
         / (sqrt(list_dot_product({x}, {x}))
            * sqrt(list_dot_product({y}, {y})))"""


def _top_k_sql(
    src: str,
    k: int = TOP_K,
    score: str = "cosine",
    by: str = "query_id",
    item: str = "corpus_id",
    rank: str = "rank",
) -> str:
    """DuckDB twin of :func:`_top_k`: every column of ``src`` (a CTE
    name or a parenthesized query) plus the INTEGER ``rank``, kept
    while ``<= k``."""
    return f"""SELECT * FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY {by} ORDER BY ROUND({score}, 6) DESC, {item} ASC
  ) AS INTEGER) AS {rank}
  FROM {src}
) WHERE {rank} <= {k}"""


#: The up-cast corpus projection every twin starts from.
_PROJ_CTE = f"""proj AS (
  SELECT vec_id, {_EMB_CAST} AS e FROM embeddings
)"""

#: Exact cosine of every candidate of a ``cand(query_id, corpus_id,
#: ...)`` CTE over ``proj``; the candidate's columns are kept.
_SCORED_CTE = f"""scored AS (
  SELECT c.*, {_cos_sql("pq.e", "pc.e")} AS cosine
  FROM cand c
  JOIN proj pq ON pq.vec_id = c.query_id
  JOIN proj pc ON pc.vec_id = c.corpus_id
)"""

#: Cosine of the raw embeddings of rows ``a`` and ``b``.
_PAIR_COS_SQL = _cos_sql(
    "CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])"
)


@register(
    "sim_bruteforce_topk",
    f"""WITH {_PROJ_CTE}, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         {_cos_sql("q.e", "c.e")} AS cosine
  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
{_top_k_sql("scored")}""",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries (first N_QUERIES ids) broadcast
    against the corpus; one corpus scan, no shuffle until the top-k
    window (:func:`_top_k`)."""
    base = _emb_base(spark, sf_dir)
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    queries = _query_rows(
        base, F.col("emb").alias("q_emb"), F.col("nrm").alias("q_norm")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            _cosine("q_emb", "c_emb", "q_norm", "c_norm").alias("cosine"),
        )
    )
    return _top_k(scored)


# ----------------------------------------------------------------- LSH

#: Near-dup bucketing: shorter signatures × more tables. At the pinned
#: cosine threshold (0.45 ⇒ angle ≈ 63°) an 8-bit bucket matches with
#: p ≈ (1-θ/π)⁸ ≈ 4% per table — useless recall; 4 bits × 8 tables
#: gives 1-(1-0.2)⁸ ≈ 83%. Top-k search keeps the longer signature
#: (its targets are the nearest neighbors, much closer than 63°).
NEARDUP_BITS = 4
NEARDUP_TABLES = 8


def _hyperplanes(tables: int = LSH_TABLES, bits: int = LSH_BITS, dim: int = EMB_DIM):
    """Deterministic pseudo-random hyperplanes, generated from a pinned
    seed and baked into the plan as literals (no runtime randomness —
    scripts and resumes see identical buckets)."""
    import numpy as np

    rng = np.random.default_rng(20240113)
    return rng.standard_normal((tables, bits, dim))


def _bucket_udf(planes):
    """Arrow-batched LSH bucketing (r12; replaces the per-plane
    Catalyst ``zip_with``/``aggregate`` sign-bit folds): one BLAS
    matmul per batch computes every (table, bit) hyperplane projection,
    and the per-table bucket id is the packed sign-bit integer. The
    tables×bits×EMB_DIM plane matrix ships in the UDF closure — model
    parameters, not data — exactly the :func:`_probe_udf` pattern.

    Why not Catalyst: the fold form is CodegenFallback (interpreted
    per element — measured 6-8 s for 2,000 rows × 12·5 planes at
    sf0.1, the dominant map-side leg of every LSH query), and the
    unrolled form blows Janino's 64 KB / HotSpot's huge-method JIT
    limits (measured 4.5× slower still). Bucket ids from the BLAS
    projections match the fold's: a sign flip would need |projection|
    below the dgemm-vs-sequential rounding gap (~1e-13 of the term
    magnitudes) — hash-verified against the sequential-SQL oracle at
    all three SFs for every consumer."""
    t, b, d = planes.shape
    plane_mat = planes.reshape(t * b, d).T.copy()  # D × (T·B)
    shifts = 1 << np.arange(b, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def buckets(embs: pd.Series) -> pd.Series:
        x = np.array(embs.tolist(), dtype=np.float64)
        if len(x) == 0:
            return pd.Series([], dtype=object)
        bits = (x @ plane_mat) > 0
        vals = (
            (bits.reshape(len(x), t, b) * shifts[None, None, :])
            .sum(axis=2)
            .astype("int32")
        )
        return pd.Series(list(vals))

    return buckets


def _bucketed(emb: DataFrame, tables: int = LSH_TABLES, bits: int = LSH_BITS) -> DataFrame:
    planes = _hyperplanes(tables, bits)
    return (
        emb.select("vec_id", _as_double("embedding").alias("emb"))
        .select(
            "vec_id",
            "emb",
            _norm(F.col("emb")).alias("nrm"),
            F.posexplode(_bucket_udf(planes)(F.col("emb"))).alias(
                "table", "bucket"
            ),
        )
        .select("vec_id", "emb", "nrm", "table", "bucket")
    )


def _lsh_pairs(emb: DataFrame, tables: int, bits: int) -> DataFrame:
    """Distinct LSH candidate id pairs ``(u, v)``, ``u < v``: every
    pair sharing a (table, bucket) cell — the one bucket self-join of
    the package. Candidates are deduped on ids only; a distinct over
    rows carrying two 64-dim arrays shuffles the payload once per table
    (measured 2.3× a whole sim_dbscan_lsh query). The bucketed frame is
    persisted because the self-join references it twice and Catalyst
    has no cross-subtree CSE: un-persisted, the signature projection
    (the map-side cost of every LSH query) evaluates twice."""
    bucketed = bsp.persist(
        _bucketed(emb, tables, bits).select("vec_id", "table", "bucket")
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
        .distinct()
    )


def _lsh_sig_ctes(tables: int, bits: int) -> str:
    """Shared proj/sig/tb CTE block for the hyperplane-LSH oracles."""
    planes = _hyperplanes(tables, bits)
    sig_cols = ",\n         ".join(
        " + ".join(
            f"CASE WHEN list_dot_product(e, [{', '.join(repr(float(x)) for x in planes[t][b])}]) > 0 THEN {1 << b} ELSE 0 END"
            for b in range(bits)
        )
        + f" AS s{t}"
        for t in range(tables)
    )
    tb_union = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS tbl, s{t} AS bucket FROM sig" for t in range(tables)
    )
    return f"""proj AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), sig AS (
  SELECT vec_id,
         {sig_cols}
  FROM proj
), tb AS (
    {tb_union}
)"""


def _lsh_probe_topk_sql(tables: int, probes: str) -> str:
    """DuckDB twin of :func:`_lsh_probe_topk`: the pinned hyperplane
    buckets of ``tables`` tables, the ``probes(vec_id, tbl, bucket)``
    CTE body, then the same chain to the quantized-rank top-k."""
    return f"""WITH {_lsh_sig_ctes(tables, LSH_BITS)},
probes AS (
{probes}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM probes q JOIN tb c
    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
), {_SCORED_CTE}
{_top_k_sql("scored")}"""


def _lsh_probe_topk(bucketed: DataFrame, probes: DataFrame) -> DataFrame:
    """The LSH bucket-probe top-k over :func:`_bucketed` rows: every
    corpus vector sharing a (table, bucket) cell with a probe row
    ``(query_id, q_emb, q_nrm, table, bucket)`` (broadcast equi-join),
    the query itself excluded, distinct per (query, corpus) pair, exact
    cosine, :func:`_top_k`. The distinct runs over rows that carry the
    vectors, so the pairs it leaves are unique and the cosine needs no
    second distinct."""
    cands = (
        bucketed.join(F.broadcast(probes), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "q_emb", "q_nrm", F.col("vec_id").alias("corpus_id"), "emb", "nrm"
        )
        .distinct()
    )
    return _top_k(
        cands.select(
            "query_id",
            "corpus_id",
            _cosine("q_emb", "emb", "q_nrm", "nrm").alias("cosine"),
        )
    )


@register(
    "sim_lsh_topk",
    _lsh_probe_topk_sql(
        LSH_TABLES, f"  SELECT vec_id, tbl, bucket FROM tb WHERE vec_id < {N_QUERIES}"
    ),
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share a (table,
    bucket) cell with the query; exact cosine + top-k only over
    candidates. Recall vs brute force is pytest-checked
    (tests/test_llm_ops.py); the pinned hyperplanes also make the whole
    chain hash-comparable against the DuckDB twin
    (:func:`_lsh_probe_topk_sql`)."""
    bucketed = _bucketed(load_raw(spark, sf_dir, "embeddings"))
    probes = _query_rows(
        bucketed,
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "table",
        "bucket",
    )
    return _lsh_probe_topk(bucketed, probes)


@register(
    "sim_neardup_pairs_exact",
    f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_PAIR_COS_SQL} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_PAIR_COS_SQL} >= {COSINE_THRESHOLD}""",
)
def sim_neardup_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact baseline: all pairs with
    cosine ≥ threshold, via **blocked GEMM**: vectors are grouped into
    ``NEARDUP_BLOCK``-sized id blocks, block *pairs* are joined (upper
    triangle only — blocks are id-contiguous, so ``abid < bbid`` already
    implies ``vec_a < vec_b``), and each block pair is scored with one
    numpy matmul inside ``mapInPandas``, emitting only the pairs over
    threshold.

    This replaces a per-pair Catalyst join whose ``zip_with``/
    ``aggregate`` dot products evaluate interpreted per element —
    measured 25s for 2M pairs at sf0.1 vs ~2s blocked. Scale: the
    block-pair relation is the unit of parallelism (N²/B² tasks, each a
    B×B×D BLAS call, the standard exact-scoring layout); at 100 TB the
    LSH form replaces this exhaustive baseline, mirroring J3-naive vs
    J3. Output cosines are double-precision BLAS sums — they agree with
    the oracle's sequential sums to ~15 significant digits, far inside
    the 9-digit compare window."""
    return _exact_pairs_blocked(
        _vec_blocks(load_raw(spark, sf_dir, "embeddings")), COSINE_THRESHOLD
    )


def _vec_blocks(emb: DataFrame) -> DataFrame:
    """``(bid, ids array<long>, x array<double>)`` id-block layout of
    the embedding corpus — the one unit every blocked scorer ships to
    its tasks. ``ids`` ascend; ``x`` is the block's vectors flattened
    row-major in ``ids`` order. Flat list columns, not a
    ``collect_list(struct)``, because Arrow hands flat lists to the
    kernel as numpy arrays, so a block reads as
    ``np.asarray(x).reshape(len(ids), -1)`` with no per-row Python
    loop. Scorer callers may ``bsp.persist`` the layout: each scorer
    reads it on both pair sides and Catalyst has no cross-subtree
    CSE."""
    rows = F.array_sort(F.collect_list(F.struct("vec_id", "e")))
    return (
        emb.select("vec_id", _as_double("embedding").alias("e"))
        .groupBy(F.expr(f"vec_id DIV {NEARDUP_BLOCK}").alias("bid"))
        .agg(rows.alias("rows"))
        .select("bid", F.col("rows.vec_id").alias("ids"), F.flatten("rows.e").alias("x"))
    )


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Zero-guarded L2 row normalize: a zero row stays zero instead of
    turning into NaNs."""
    n = np.linalg.norm(x, axis=1)
    n[n == 0.0] = 1.0
    return x / n[:, None]


def _unit_block(ids, x) -> tuple[np.ndarray, np.ndarray]:
    """One :func:`_vec_blocks` row as (ids, unit-normalized rows)."""
    ids = np.asarray(ids, dtype=np.int64)
    return ids, _unit_rows(np.asarray(x, dtype=np.float64).reshape(len(ids), -1))


def _exact_pairs_blocked(blocks: DataFrame, thr: float) -> DataFrame:
    """Blocked-GEMM exact pair scorer over a :func:`_vec_blocks` layout
    (see sim_neardup_pairs_exact for the plan rationale), threshold-
    parameterized so the tuning sweep can score at a lower bar without
    duplicating the kernel."""
    a = blocks.select(
        F.col("bid").alias("abid"), F.col("ids").alias("aids"), F.col("x").alias("ax")
    )
    b = blocks.select(
        F.col("bid").alias("bbid"), F.col("ids").alias("bids"), F.col("x").alias("bx")
    )
    # Repartition by the pair key: the nested-loop join's output keeps
    # the LEFT side's partitioning, so without this the GEMM stage has
    # only #blocks-many tasks, each scoring a whole row of the
    # block-pair matrix sequentially — parallelism must be #block-pairs.
    # Column-keyed repartition is an AQE-coalescible shuffle, so small
    # inputs collapse to few tasks instead of spawning idle workers.
    block_pairs = a.join(b, F.col("abid") <= F.col("bbid")).repartition(
        "abid", "bbid"
    )

    def score(batches):
        for pdf in batches:
            out = []
            for aids, ax, bids, bx, same in zip(
                pdf["aids"], pdf["ax"], pdf["bids"], pdf["bx"], pdf["abid"] == pdf["bbid"]
            ):
                ida, ua = _unit_block(aids, ax)
                idb, ub = _unit_block(bids, bx)
                sims = ua @ ub.T
                keep = sims >= thr
                if same:
                    keep &= ida[:, None] < idb[None, :]
                ai, bi = np.nonzero(keep)
                if len(ai):
                    out.append(
                        pd.DataFrame(
                            {"vec_a": ida[ai], "vec_b": idb[bi], "cosine": sims[ai, bi]}
                        )
                    )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
            )

    return block_pairs.mapInPandas(score, "vec_a long, vec_b long, cosine double")


def _score_candidates_blocked(
    blocks: DataFrame, cand: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """Exact cosine for an id-pair CANDIDATE relation ``cand(u, v)``
    over a :func:`_vec_blocks` layout via per-block numpy batches —
    :func:`_exact_pairs_blocked`'s kernel economics applied to a sparse
    pair list instead of the full block-pair grid (guide §4.2/§8: ship
    the heavy vectors per block once, decide per candidate with one
    vectorized einsum). Pairs whose ids are absent from the layout are
    dropped (inner-join semantics).

    Why not the per-pair Catalyst join + ``_dot`` fold: higher-order
    folds are CodegenFallback (interpreted per element — the measured
    25s-vs-2s gap documented on sim_dbscan), and unrolling the fold into
    a 64-term expression chain both breaks Janino's 64 KB method limit
    in fat stages and lands past HotSpot's huge-method JIT cutoff
    (measured 4.5× SLOWER than the fold on a 660k-candidate verify).
    The numpy row-wise path (normalize, then Σ xᵢyᵢ per pair) is the
    SAME float recipe as the oracle-green `_exact_pairs_blocked` GEMM.

    Scale: compute is candidate-linear (|cand|·D flops, vectorized);
    vector movement is block-linear (each block ships to the cells that
    reference it); parallelism = occupied (u-block, v-block) cells,
    shuffled by the cell key. No all-pairs anything.
    """
    cells = (
        cand.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .groupBy(
            F.expr(f"u DIV {NEARDUP_BLOCK}").alias("ba"),
            F.expr(f"v DIV {NEARDUP_BLOCK}").alias("bb"),
        )
        .agg(F.collect_list(F.struct("u", "v")).alias("prs"))
        .select("ba", "bb", F.col("prs.u").alias("pu"), F.col("prs.v").alias("pv"))
    )
    joined = (
        cells.join(
            blocks.select(
                F.col("bid").alias("ba"), F.col("ids").alias("aids"), F.col("x").alias("ax")
            ),
            "ba",
        )
        .join(
            blocks.select(
                F.col("bid").alias("bb"), F.col("ids").alias("bids"), F.col("x").alias("bx")
            ),
            "bb",
        )
        # parallelism = occupied cells, AQE-coalescible (same rationale
        # as _exact_pairs_blocked's repartition)
        .repartition("ba", "bb")
    )

    def score(batches):
        for pdf in batches:
            out = []
            for aids, ax, bids, bx, pu, pv in zip(
                pdf["aids"], pdf["ax"], pdf["bids"], pdf["bx"], pdf["pu"], pdf["pv"]
            ):
                ida, ua = _unit_block(aids, ax)
                idb, ub = _unit_block(bids, bx)
                pu = np.asarray(pu, dtype=np.int64)
                pv = np.asarray(pv, dtype=np.int64)
                # inner-join semantics: drop pairs whose id is absent
                # from the layout (searchsorted would otherwise map them
                # to the nearest row or run past the block end)
                iu = np.searchsorted(ida, pu).clip(max=len(ida) - 1)
                iv = np.searchsorted(idb, pv).clip(max=len(idb) - 1)
                ok = (ida[iu] == pu) & (idb[iv] == pv)
                pu, pv, iu, iv = pu[ok], pv[ok], iu[ok], iv[ok]
                sims = np.einsum("ij,ij->i", ua[iu], ub[iv])
                out.append(pd.DataFrame({"u": pu, "v": pv, "cosine": sims}))
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"u": [], "v": [], "cosine": []})
            )

    return joined.mapInPandas(score, "u long, v long, cosine double")


# ----------------------------------------------------------------- IVF

#: IVF-flat parameters: K centroid cells, NPROBE cells searched per
#: query.
IVF_K = 16
IVF_NPROBE = 4

def _probe_udf(cents: list[list[float]], nprobe: int):
    """Arrow-batched probe: the ``nprobe`` nearest centroid ids by
    cosine, as an int array. The K×D centroid matrix ships in the UDF
    closure (model parameters, not data — no centroid-table join), and
    each batch is one BLAS matmul. A Catalyst form (K literal arrays ×
    ``zip_with`` dots) was 5-10× slower end-to-end here: the K·D
    literal tree blows past whole-stage-codegen limits and recompiles
    every Lloyd round because the literals change."""
    # D×K; query-side norm can't flip ranks
    cu = _unit_rows(np.asarray(cents, dtype=np.float64)).T

    @F.pandas_udf("array<int>")
    def probe(embs: pd.Series) -> pd.Series:
        x = np.array(embs.tolist(), dtype=np.float64)
        sims = x @ cu
        # stable argsort of -sims: ties break toward the lower cid,
        # matching the struct-sort (neg cosine, cid) ordering
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return probe


# ------------------------------------------------ pinned-IVF index core
#
# The one index core of the IVF family: flat, SQ8, PQ, SemDeDup,
# silhouette, cell balance and the nprobe curve all read their
# centroids, cells and probes from these helpers, and their DuckDB
# twins read ``proj``/``cents``/``ranked_cells`` from
# ``_PINNED_CELLS_CTES``. The PQ build is ``_pq_topk`` / ``_PQ_CTES``.
# "Pinned" centroids are the first ``IVF_K`` corpus vectors by vec_id:
# data-independent given the id order, so the whole index is
# reproducible in SQL.

#: DuckDB form of the index core: ``ranked_cells`` ranks every
#: (vector, centroid) pair by raw cosine ``c_cos`` with ties to the
#: lower cid (``cell_rank`` 1 = nearest), and ``cells`` keeps each
#: vector's nearest cell.
_PINNED_CELLS_CTES = f"""{_PROJ_CTE}, cents AS (
  SELECT vec_id AS cid, e FROM proj WHERE vec_id < {IVF_K}
), ranked_cells AS (
  SELECT v.vec_id, c.cid, {_cos_sql("v.e", "c.e")} AS c_cos,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id ORDER BY {_cos_sql("v.e", "c.e")} DESC, c.cid ASC
         ) AS cell_rank
  FROM proj v CROSS JOIN cents c
), cells AS (
  SELECT vec_id, cid, c_cos FROM ranked_cells WHERE cell_rank = 1
)"""


def _ivf_cand_ctes(nprobe: int) -> str:
    """``probes``/``cand`` CTEs over ``_PINNED_CELLS_CTES``: each
    query's ``nprobe`` nearest cells, and every other vector in them as
    ``(query_id, corpus_id, cell_rank)``. A vector sits in one cell and
    a query's probes are distinct cells, so no pair repeats."""
    return f"""probes AS (
  SELECT vec_id AS query_id, cid, cell_rank FROM ranked_cells
  WHERE vec_id < {N_QUERIES} AND cell_rank <= {nprobe}
), cand AS (
  SELECT p.query_id, c.vec_id AS corpus_id, p.cell_rank
  FROM probes p JOIN cells c ON p.cid = c.cid
  WHERE c.vec_id <> p.query_id
)"""


def _pinned_centroids(base: DataFrame) -> list[list[float]]:
    """The pinned centroids, in cid order, from the UNFILTERED corpus
    projection (as every twin takes them). Empty only when no vector
    has ``vec_id < IVF_K``; each caller then returns its empty result,
    as its twin does."""
    pinned = base.filter(F.col("vec_id") < IVF_K).orderBy("vec_id")
    return [list(r["emb"]) for r in pinned.select("emb").collect()]


def _centroid_table(spark: SparkSession, cents: list[list[float]]) -> DataFrame:
    """The centroids as a broadcastable ``(cid long, cemb, cnrm)`` frame."""
    return spark.createDataFrame(
        list(enumerate(cents)), "cid long, cemb array<double>"
    ).withColumn("cnrm", _norm(F.col("cemb")))


def _with_cell(base: DataFrame, cents: list[list[float]]) -> DataFrame:
    """``base`` plus ``cid int``: each vector's nearest centroid."""
    nearest = _probe_udf(cents, 1)(F.col("emb"))
    return base.withColumn("cid", F.element_at(nearest, 1))


def _ivf_candidates(
    base: DataFrame, cents: list[list[float]], nprobe: int, *query_cols: Column
) -> DataFrame:
    """IVF candidate pairs: every vector of ``base`` in one of a query's
    ``nprobe`` nearest cells, the query itself excluded. Rows carry the
    corpus vector's ``base`` columns, ``query_id``, ``cell_rank`` (1 =
    the query's nearest cell) and ``query_cols`` read from the query's
    row. No pair repeats (see ``_ivf_cand_ctes``), so no distinct."""
    probes = _query_rows(
        base,
        *query_cols,
        F.posexplode(_probe_udf(cents, nprobe)(F.col("emb"))).alias("pos", "cid"),
    )
    return (
        _with_cell(base, cents)
        .join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cell_rank", F.col("pos") + 1)
    )


def _ivf_flat_scored(
    base: DataFrame, cents: list[list[float]], nprobe: int
) -> DataFrame:
    """``(query_id, corpus_id, cell_rank, cosine)``: exact cosine over
    the IVF candidates of ``_emb_base`` rows (IVF-flat)."""
    return _ivf_candidates(
        base, cents, nprobe, F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    ).select(
        "query_id",
        F.col("vec_id").alias("corpus_id"),
        "cell_rank",
        _cosine("q_emb", "emb", "q_nrm", "nrm").alias("cosine"),
    )


def _lsh_oracle(tables: int, bits: int, threshold: float) -> str:
    """DuckDB twin of the hyperplane-LSH near-dup chain. The planes are
    pinned-seed doubles baked into BOTH plans as exact literals
    (``repr(float)`` round-trips), so the bucket signatures are
    engine-reproducible; a sign could only diverge if a projection were
    within float-sum error (~1e-15) of zero — measure-zero for
    continuous data. Candidates = same (table, bucket) cell; verify =
    exact cosine ≥ threshold, as in the exact twin."""
    cos = _cos_sql("pa.e", "pb.e")
    return f"""WITH {_lsh_sig_ctes(tables, bits)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM tb a JOIN tb b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {cos} AS cosine
FROM cand c
JOIN proj pa ON pa.vec_id = c.vec_a
JOIN proj pb ON pb.vec_id = c.vec_b
WHERE {cos} >= {threshold}"""


@register(
    "sim_neardup_pairs_lsh",
    _lsh_oracle(NEARDUP_TABLES, NEARDUP_BITS, COSINE_THRESHOLD),
)
def sim_neardup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via LSH buckets: only same-cell pairs get exact
    cosine — the O(pairs-per-bucket) scale path. The pinned hyperplanes
    make the bucket chain engine-reproducible, so the full chain is
    hash-compared against the DuckDB twin (:func:`_lsh_oracle`);
    subset-of-exact and recall stay pytest-checked. Candidates are
    verified by the blocked numpy scorer, the same float recipe as
    :func:`sim_neardup_pairs_exact`; the result is checkpointed because
    its plan reads :func:`_lsh_pairs`' persisted buckets."""
    emb = load_raw(spark, sf_dir, "embeddings")
    cands = _lsh_pairs(emb, NEARDUP_TABLES, NEARDUP_BITS)
    out = (
        _score_candidates_blocked(_vec_blocks(emb), cands)
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select(F.col("u").alias("vec_a"), F.col("v").alias("vec_b"), "cosine")
    )
    return bsp.checkpoint_result(out)


# --------------------------------------------- near-dup components

#: Hash-min propagation rounds cap. Convergence needs O(component
#: diameter) rounds; near-dup components are shallow (they're built
#: from a similarity threshold), so a small cap plus the early-exit
#: check is plenty — the cap only guards against a pathological chain.
COMPONENT_MAX_ITERS = 10

_COMPONENTS_ORACLE = f"""WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_PAIR_COS_SQL} >= {COSINE_THRESHOLD}
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs
), reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM embeddings
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS vec_id, MIN(dst) AS component FROM reach GROUP BY src"""


@register("sim_neardup_components", _COMPONENTS_ORACLE)
def sim_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph — the clustering
    step that turns pairwise near-dups into dedup groups (keep one
    canonical doc per component). Hash-min label propagation: every
    vertex starts labeled with its own id; each round it takes the min
    of its label and its neighbors' labels; fixpoint = components keyed
    by their smallest member. Singletons keep their own id, so the
    output is one row per corpus vector.

    Scale: this is the standard BSP connected-components loop — each
    round is one edge⋈label join + min-aggregation, both shuffling on
    vertex id, and rounds ≤ component diameter (near-dup components are
    shallow by construction). The loop runs over **edge-endpoint
    vertices only**: singletons (the overwhelming majority of a real
    corpus — here 1,736 of 2,000 at sf0.1) can never change label, so
    they are attached by one final left join instead of being shuffled
    every round. The per-round working set is O(near-dup vertices), not
    O(corpus) — the property that keeps the loop viable at 100 TB.
    Labels persist per round and unpersist after the next round
    materializes; the early exit compares the label-sum, which is
    strictly decreasing until the fixpoint. The oracle is an
    independent construction: DuckDB's recursive-CTE transitive
    closure, min over the reachable set."""
    emb = load_raw(spark, sf_dir, "embeddings")
    pairs = sim_neardup_pairs_exact(spark, sf_dir).select("vec_a", "vec_b")
    labels = hash_min_components(pairs, "vec_a", "vec_b")
    # Singletons re-attach with their own id. No broadcast hint: the
    # label set's size is data-dependent (small here, maybe not at
    # 100 TB) — AQE picks broadcast when it fits.
    return (
        emb.select("vec_id")
        .join(labels, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id", F.coalesce("comp", F.col("vec_id")).alias("component")
        )
    )


def hash_min_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Hash-min label propagation over the undirected pair graph —
    returns ``(node, comp)`` for every **edge-endpoint** vertex (the
    caller left-joins singletons back, which can never change label).

    Shared core of ``sim_neardup_components`` (embedding near-dups) and
    ``dedup_neardup_canonical`` (MinHash text near-dups). Each round is
    one edges⋈labels join + min-aggregation, shuffling on vertex id;
    rounds ≤ component diameter with an early exit on the strictly
    decreasing label sum. Edges symmetrize in ONE pass (explode, not a
    union of two scans that would each re-run the upstream pair job)
    and persist — every round joins against them; the per-round working
    set is O(near-dup vertices), not O(corpus), which is what keeps the
    loop viable at 100 TB (measured: see sim_neardup_components)."""
    raw_edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # PHASE 1 (r13): per-partition union-find contraction before the
    # BSP loop — the classic two-phase connected-components local step.
    # Each task unions ITS partition's edges (state bounded by the
    # partition, never the graph) and emits the star (node ↔ local
    # component min) both ways. Connectivity is exactly preserved — an
    # edge (s, d) in partition p implies rep_p(s) = rep_p(d), so the
    # union of partition stars connects precisely the original
    # components — and the fixpoint min is unchanged, but local CHAINS
    # collapse to depth-1 stars, so the loop converges in rounds ~
    # log(inter-partition diameter) instead of log(node diameter):
    # measured 7 rounds → 3 on the sf0.1 DBSCAN eps-graph, each round
    # a fixed ~0.45 s of stage latency at this SF. The star graph is
    # also no larger than the input (≤ one edge pair per (partition,
    # node)), so the per-round joins shrink too.
    import pandas as pd

    key_t = pairs.schema[a].dataType

    def _contract(batches):
        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.extend(pdf["src"].tolist())
            dsts.extend(pdf["dst"].tolist())
        if not srcs:
            return
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d in zip(srcs, dsts):
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        min_of: dict = {}
        for n in parent:
            r = find(n)
            if r not in min_of or n < min_of[r]:
                min_of[r] = n
        out_s: list = []
        out_d: list = []
        for n in parent:
            rep = min_of[find(n)]
            if rep != n:
                out_s.append(n)
                out_d.append(rep)
                out_s.append(rep)
                out_d.append(n)
        yield pd.DataFrame({"src": out_s, "dst": out_d})

    edges = bsp.persist(
        raw_edges.mapInPandas(
            _contract,
            T.StructType(
                [
                    T.StructField("src", key_t, False),
                    T.StructField("dst", key_t, False),
                ]
            ),
        )
    )
    labels = bsp.persist(
        edges.groupBy(F.col("src").alias("node"))
        # Seed with min(self, neighbors) — a free first propagation
        # round folded into the vertex-set build.
        .agg(F.least(F.first("src"), F.min("dst")).alias("comp"))
    )
    # Materialize seed (and, transitively, edges) BEFORE the loop: the
    # round-0 plan references both twice, and evaluating them uncached
    # would re-run the pair job per reference (measured 32s → 13s at
    # sf0.1). Doubles as the early-exit baseline.
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for rnd in range(COMPONENT_MAX_ITERS):
        msgs = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_min"))
        )
        prop = labels.join(msgs, labels.node == msgs.dst, "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
            ).alias("comp"),
        )
        # POINTER JUMP (round-4): comp ← min(comp, comp-of-comp),
        # resolved through the CACHED previous-round mapping (a
        # self-join on the uncached propagation output would replay
        # its whole lineage twice per round). Labels are always vertex
        # ids present in the table, so the extra hop is one tiny join;
        # hash-min is monotone, so the extra propagation never
        # overshoots the component minimum and the fixpoint is
        # unchanged — but convergence needs ~log(diameter) rounds
        # instead of diameter. Round latency, not data volume,
        # dominates this loop; fewer rounds beat cheaper rounds.
        hop = prop.join(
            labels.select(
                F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
            ),
            F.col("comp") == F.col("c_node"),
            "left",
        )
        # Truncate lineage EVERY round: with propagation + jump the
        # round plan references `labels` three times, so an uncut
        # lineage grows ~3^R and round 4+ drowns in driver-side plan
        # analysis (measured 9s → 56s per round at sf0.1 before this).
        # The eager localCheckpoint is one tiny job over O(near-dup
        # vertices) rows — the standard per-round truncation for
        # multi-reference BSP updates.
        new_labels = hop.select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("c_comp"), F.col("comp"))
            ).alias("comp"),
        ).localCheckpoint(eager=True)
        new_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def _ivf_pinned_oracle() -> str:
    """DuckDB twin of :func:`sim_ivf_topk_pinned`: the pinned cells and
    probes of ``_PINNED_CELLS_CTES``, exact cosine over the candidates,
    and the quantized-rank top-k."""
    return f"""WITH {_PINNED_CELLS_CTES}, {_ivf_cand_ctes(IVF_NPROBE)}, {_SCORED_CTE}
SELECT query_id, corpus_id, cosine, rank FROM (
{_top_k_sql("scored")}
)"""


@register("sim_ivf_topk_pinned", _ivf_pinned_oracle())
def sim_ivf_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat top-k with **pinned** centroids (the first ``IVF_K``
    corpus vectors, no Lloyd refinement): corpus vectors live in their
    nearest centroid cell; each query searches its ``IVF_NPROBE``
    nearest cells with exact cosine, then the quantized top-k. The
    centroid-count/probe trade is the classic IVF dial: candidates ≈
    nprobe/K of the corpus per query. With the model parameters
    data-independent, the whole chain (cell assignment, nprobe probing,
    candidate generation, ranking) is DuckDB-reproducible and
    hash-verified; a Lloyd-fitted deployment swaps only the centroid
    source (the fit itself is oracle-verified as ``sim_kmeans_lloyd``)."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:  # empty corpus → nothing to index or search
        return spark.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank int"
        )
    return _top_k(_ivf_flat_scored(base, cents, IVF_NPROBE).drop("cell_rank"))


# ------------------------------------------- scalar-quantized (int8) ANN

#: Scalar-quantization range: symmetric int8 (±127).
SQ8_LEVELS = 127


def _sq8_quantize(e: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i·127/maxabs
    + 0.5). ``floor(x + 0.5)`` (round-half-toward-+inf) is pinned
    because both engines implement ``floor`` identically, while their
    ``round`` tie conventions differ. Zero vectors quantize to zeros."""
    m = F.array_max(F.transform(e, lambda x: F.abs(x)))
    return F.when(
        m == 0.0, F.transform(e, lambda x: F.lit(0.0))
    ).otherwise(
        F.transform(e, lambda x: F.floor(x * SQ8_LEVELS / m + F.lit(0.5)))
    )


def _sq8_sized(base: DataFrame) -> DataFrame:
    """``_emb_base`` rows plus the int8-quantized vector ``qv`` and its
    norm ``qn``; vectors that quantize to zero are dropped (neither
    queries nor candidates)."""
    return (
        base.withColumn("qv", _sq8_quantize(F.col("emb")))
        .withColumn("qn", _norm(F.col("qv")))
        .filter(F.col("qn") > 0)
    )


_SQ8_Q_SQL = f"""CASE WHEN list_max(list_transform({_EMB_CAST}, x -> abs(x))) = 0
  THEN list_transform({_EMB_CAST}, x -> 0.0)
  ELSE list_transform({_EMB_CAST},
    x -> floor(x * {SQ8_LEVELS} / list_max(list_transform({_EMB_CAST}, y -> abs(y))) + 0.5))
END"""

#: DuckDB twin of :func:`_sq8_sized`: ``s8(vec_id, qv, qn)``.
_SQ8_SIZED_CTE = f"""s8 AS (
  SELECT * FROM (
    SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qn
    FROM (SELECT vec_id, {_SQ8_Q_SQL} AS qv FROM embeddings)
  ) WHERE qn > 0
)"""

#: Quantized cosine of s8 rows ``a`` and ``b``.
_SQ8_COS_SQL = "ROUND(list_dot_product(a.qv, b.qv) / (a.qn * b.qn), 6)"


@register(
    "sim_sq8_topk",
    f"""WITH {_SQ8_SIZED_CTE}, scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, {_SQ8_COS_SQL} AS cosine_q
  FROM s8 a JOIN s8 b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
)
{_top_k_sql("scored", score="cosine_q")}""",
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over **scalar-quantized int8 embeddings** — the
    4×-memory-compression path real vector stores serve from (float32 →
    int8 + one scale per vector). The per-vector scales cancel in
    cosine, so scoring runs entirely on the small-int vectors; accuracy
    loss is bounded by the quantization step (recall vs the float
    brute force is pytest-asserted). Quantization is pinned integer
    arithmetic (``floor(x·127/maxabs + 0.5)``), so the ENTIRE
    compressed index — quantized vectors, norms, scores, ranks — is
    hash-verified against the DuckDB twin.

    Scale: the int8 corpus is ~dim bytes/vector — 4× more vectors per
    executor-GB than float32, which is the difference between an
    in-memory and a spilling ANN serve at 10⁹ vectors; compose with the
    IVF cell layout (``sim_ivfsq8_topk_pinned``) for the full IVF-SQ8
    index."""
    sized = _sq8_sized(_emb_base(spark, sf_dir))
    corpus = sized.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("qv").alias("c_qv"),
        F.col("qn").alias("c_qn"),
    )
    queries = _query_rows(sized, F.col("qv").alias("q_qv"), F.col("qn").alias("q_qn"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            F.round(_cosine("q_qv", "c_qv", "q_qn", "c_qn"), 6).alias("cosine_q"),
        )
    )
    return _top_k(scored, score="cosine_q")


# --------------------------------------------- IVF-SQ8 composed index

def _ivfsq8_oracle() -> str:
    """DuckDB twin of :func:`sim_ivfsq8_topk_pinned`: the pinned cells
    and probes of ``_PINNED_CELLS_CTES`` composed with the int8
    quantized scoring chain (cf. ``sim_sq8_topk``)."""
    return f"""WITH {_PINNED_CELLS_CTES}, {_ivf_cand_ctes(IVF_NPROBE)},
{_SQ8_SIZED_CTE}, scored AS (
  SELECT c.query_id, c.corpus_id, {_SQ8_COS_SQL} AS cosine_q
  FROM cand c
  JOIN s8 a ON a.vec_id = c.query_id
  JOIN s8 b ON b.vec_id = c.corpus_id
)
{_top_k_sql("scored", score="cosine_q")}"""


@register("sim_ivfsq8_topk_pinned", _ivfsq8_oracle())
def sim_ivfsq8_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**IVF-SQ8**: the production ANN index layout — IVF cells bound
    the candidate set (touch nprobe cells, not the corpus), int8
    scalar quantization shrinks what each cell stores 4× — the
    pinned-IVF core's candidates (:func:`_ivf_candidates`) scored by
    the :func:`sim_sq8_topk` quantization.
    Pinned centroids + pinned quantization arithmetic keep the ENTIRE
    composed index hash-verified in SQL. Zero vectors (after
    quantization) are neither queries nor candidates, but the
    centroids come from the unfiltered corpus, like every pinned index.

    Scale: memory per cell = dim bytes/vector + one scale; probing
    cost = nprobe/K of the corpus per query. The Lloyd-fitted,
    unpinned deployment form swaps only the centroid source —
    machinery identical."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, corpus_id long, cosine_q double, rank int"
        )
    cands = _ivf_candidates(
        _sq8_sized(base),
        cents,
        IVF_NPROBE,
        F.col("qv").alias("q_qv"),
        F.col("qn").alias("q_qn"),
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("corpus_id"),
        F.round(_cosine("q_qv", "qv", "q_qn", "qn"), 6).alias("cosine_q"),
    )
    return _top_k(scored, score="cosine_q")


# ------------------------------------ label-centroid outlier scoring

@register(
    "sim_label_outliers",
    """WITH proj AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), flat AS (
  SELECT vec_id, label, i, e[i] AS v
  FROM proj, LATERAL (SELECT unnest(generate_series(1, len(e))) AS i)
), cent AS (
  SELECT label, i, AVG(v) AS c FROM flat GROUP BY label, i
), scored AS (
  SELECT f.vec_id, f.label,
         SUM(f.v * c.c) AS dot,
         SUM(f.v * f.v) AS nv,
         SUM(c.c * c.c) AS nc
  FROM flat f JOIN cent c ON f.label = c.label AND f.i = c.i
  GROUP BY f.vec_id, f.label
)
SELECT vec_id, label,
       ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cos_centroid
FROM scored WHERE nv > 0 AND nc > 0""",
)
def sim_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Label-consistency outlier scoring**: cosine of every embedding
    to its OWN label's centroid — the mislabeled-sample / noisy-label
    detector a training pipeline runs over (embedding, label) pairs
    before fine-tuning (low ``cos_centroid`` = the vector sits far from
    its class's mass). Quantized at 6: the centroid AVG sums doubles in
    engine-specific order, so raw values differ by ulps.

    Plan: posexplode to (vec, dim, value) rows, one (label, dim) hash
    aggregate for the centroids (map-side combinable; output is
    |labels|·dim rows — tiny), broadcast-join the centroid back, one
    per-vector reduce for the three inner products. At 100 TB the
    explode is the only big relation and it shuffles ONCE on (label,
    dim) — the standard distributed-centroid shape (same as a k-means
    assignment pass, operators/similarity.py IVF fit)."""
    emb = load_raw(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"),
    )
    cent = flat.groupBy("label", "i").agg(F.avg("v").alias("c"))
    scored = (
        flat.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nv"),
            F.sum(F.col("c") * F.col("c")).alias("nc"),
        )
    )
    return (
        scored.filter((F.col("nv") > 0) & (F.col("nc") > 0))
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("dot") / (F.sqrt("nv") * F.sqrt("nc")), 6
            ).alias("cos_centroid"),
        )
    )


# ---------------------------------------- product quantization (PQ/ADC)

#: PQ geometry: EMB_DIM=64 → PQ_M subspaces of PQ_SUB dims, PQ_K
#: codewords per subspace ⇒ a vector compresses to PQ_M code bytes
#: (16× vs float32, 4× vs SQ8). Codebooks are PINNED to the first
#: PQ_K corpus vectors' subvectors (same convention as
#: sim_ivf_topk_pinned) so the whole index is DuckDB-reproducible.
PQ_M = 4
PQ_SUB = 16  # EMB_DIM // PQ_M
PQ_K = 16


#: DuckDB form of the PQ index over ``proj``. Subspace s of vector e is
#: the 1-based slice [s*PQ_SUB+1 .. (s+1)*PQ_SUB]; encoding is argmax of
#: ``2·<x,c> − <c,c>`` (equivalent to argmin L2, constant ||x||²
#: dropped) with ties to the lower codeword id — every term is a
#: sequential 16-element dot product, bit-identical across engines.
_PQ_CTES = f"""subs AS (
  SELECT vec_id, s, e[s * {PQ_SUB} + 1 : (s + 1) * {PQ_SUB}] AS sv
  FROM proj, LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s)
), codebook AS (
  SELECT vec_id AS cw, s, sv AS cv, list_dot_product(sv, sv) AS cc
  FROM subs WHERE vec_id < {PQ_K}
), encoded AS (
  SELECT vec_id, s, cw, cc FROM (
    SELECT x.vec_id, x.s, c.cw, c.cc,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id, x.s
             ORDER BY 2 * list_dot_product(x.sv, c.cv) - c.cc DESC, c.cw ASC
           ) AS rn
    FROM subs x JOIN codebook c ON x.s = c.s
  ) WHERE rn = 1
), rec_norm AS (
  SELECT vec_id, sqrt(SUM(cc)) AS rn FROM encoded GROUP BY vec_id
), lut AS (
  SELECT q.vec_id AS query_id, c.s, c.cw,
         list_dot_product(q.sv, c.cv) AS pdot
  FROM subs q JOIN codebook c ON q.s = c.s
  WHERE q.vec_id < {N_QUERIES}
), qn AS (
  SELECT vec_id, sqrt(list_dot_product(e, e)) AS qn FROM proj
  WHERE vec_id < {N_QUERIES}
)"""


def _pq_topk_sql(ctes: str, adot: str) -> str:
    """DuckDB twin of :func:`_pq_topk`: ``_PQ_CTES`` after ``ctes``
    (which define ``proj``), then the ranking of ``adot``'s ``(query_id,
    corpus_id, ad)`` ADC sums by approximate cosine."""
    return f"""WITH {ctes}, {_PQ_CTES}, adot AS (
{adot}
), scored AS (
  SELECT a.query_id, a.corpus_id, ROUND(a.ad / (q.qn * r.rn), 6) AS cosine_pq
  FROM adot a
  JOIN qn q ON a.query_id = q.vec_id
  JOIN rec_norm r ON a.corpus_id = r.vec_id
  WHERE q.qn > 0 AND r.rn > 0
)
{_top_k_sql("scored", score="cosine_pq")}"""


def _pq_topk(base: DataFrame, adc) -> DataFrame:
    """The one PQ index build (subvectors, pinned codebook, codes,
    code-reconstructed norms, the query set's lookup table) and the
    approximate-cosine top-k over ``_emb_base`` rows. ``adc(encoded,
    lut)`` returns the ``(query_id, corpus_id, ad)`` ADC sums over the
    caller's candidates: every corpus vector for PQ, the probed cells'
    members for IVF-PQ."""
    subs = base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("emb", s * PQ_SUB + 1, PQ_SUB).alias("sv"),
                    )
                    for s in range(PQ_M)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sv")
    # Not persisted: subs and encoded each feed 2-3 subtrees (7 duplicate
    # scans in sim_pq_topk_pinned), but persisting them measured ~1.5×
    # slower there — caching four subvector rows per corpus vector costs
    # more than the narrow re-scans (OPTIMIZATION_r12.md).
    codebook = subs.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cw"),
        "s",
        F.col("sv").alias("cv"),
        _dot(F.col("sv"), F.col("sv")).alias("cc"),
    )
    enc_w = Window.partitionBy("vec_id", "s").orderBy(
        F.desc(2 * _dot(F.col("sv"), F.col("cv")) - F.col("cc")), F.asc("cw")
    )
    encoded = (
        subs.join(F.broadcast(codebook), "s")
        .withColumn("rn", F.row_number().over(enc_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "cw", "cc")
    )
    rec_norm = encoded.groupBy("vec_id").agg(F.sqrt(F.sum("cc")).alias("rnm"))
    lut = (
        _query_rows(subs, "s", "sv")
        .join(F.broadcast(codebook), "s")
        .select("query_id", "s", "cw", _dot(F.col("sv"), F.col("cv")).alias("pdot"))
    )
    qn = _query_rows(base, F.col("nrm").alias("qn"))
    scored = (
        adc(encoded, lut)
        .join(F.broadcast(qn), "query_id")
        .join(rec_norm, F.col("corpus_id") == rec_norm.vec_id)
        .filter((F.col("qn") > 0) & (F.col("rnm") > 0))
        .select(
            "query_id",
            "corpus_id",
            F.round(F.col("ad") / (F.col("qn") * F.col("rnm")), 6).alias("cosine_pq"),
        )
    )
    return _top_k(scored, score="cosine_pq")


def _pq_pinned_oracle() -> str:
    """DuckDB twin of :func:`sim_pq_topk_pinned`: every corpus vector's
    ADC sum against each query."""
    return _pq_topk_sql(
        _PROJ_CTE,
        """  SELECT l.query_id, x.vec_id AS corpus_id, SUM(l.pdot) AS ad
  FROM encoded x JOIN lut l ON x.s = l.s AND x.cw = l.cw
  WHERE x.vec_id <> l.query_id
  GROUP BY l.query_id, x.vec_id""",
    )


@register("sim_pq_topk_pinned", _pq_pinned_oracle())
def sim_pq_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Product quantization** top-k with pinned codebooks and
    asymmetric distance computation (ADC) — the third compression
    point of the ANN family: float32 (brute force) → int8 (SQ8, 4×) →
    PQ codes (PQ_M bytes/vector, 16×). Each vector is encoded as
    ``PQ_M`` codeword ids (argmin L2 per subspace, via the
    ``2·<x,c> − <c,c>`` identity so no ||x||² is materialized); a
    query never decompresses the corpus — it builds a
    ``PQ_M × PQ_K`` dot-product lookup table and the approximate
    score is one SUM over code-addressed table entries. Approximate
    cosine divides by the code-reconstructed norm ``√Σ_s ||c_s||²``.

    Scale: the serving relation is (vec_id, s, code) — PQ_M small
    ints per vector; the broadcast LUT is N_QUERIES·PQ_M·PQ_K doubles
    regardless of corpus size. ADC scores every corpus vector (PQ
    compresses, it does not prune) — compose with the IVF cell layout
    for candidate pruning exactly as SQ8 composes in
    ``sim_ivfsq8_topk_pinned``. Codebooks are pinned to the first
    ``PQ_K`` corpus vectors (Lloyd-fitting them is the rows-only
    variant's job); encoding, LUT, scores, and ranks are hash-verified
    against DuckDB. Recall vs float brute force is pytest-bounded."""

    def adc(encoded: DataFrame, lut: DataFrame) -> DataFrame:
        return (
            encoded.join(F.broadcast(lut), ["s", "cw"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", F.col("vec_id").alias("corpus_id"))
            .agg(F.sum("pdot").alias("ad"))
        )

    return _pq_topk(_emb_base(spark, sf_dir), adc)


# ---------------------------- prefix-dimension two-stage (Matryoshka)

#: Stage-1 geometry: score on the first MRL_PREFIX of EMB_DIM dims
#: (MRL-style truncation), shortlist MRL_SHORTLIST candidates per
#: query, exact full-dim rerank on the shortlist only.
MRL_PREFIX = 16
MRL_SHORTLIST = 50


def _mrl_oracle() -> str:
    """DuckDB twin of :func:`sim_mrl_prefix_rerank`: stage-1 ranks by
    prefix-dim cosine (round-6 + id tiebreak, the engine-stable order),
    stage-2 reranks the shortlist by full-dim cosine the same way."""
    shortlist = _top_k_sql("pref", k=MRL_SHORTLIST, score="pref_cos", rank="prank")
    return f"""WITH proj AS (
  SELECT vec_id, {_EMB_CAST} AS e,
         ({_EMB_CAST})[1 : {MRL_PREFIX}] AS p
  FROM embeddings
), pref AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         {_cos_sql("q.p", "c.p")} AS pref_cos
  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
    AND list_dot_product(q.p, q.p) > 0 AND list_dot_product(c.p, c.p) > 0
), shortlist AS (
  SELECT query_id, corpus_id FROM (
{shortlist}
  )
), scored AS (
  SELECT s.query_id, s.corpus_id, ROUND({_cos_sql("q.e", "c.e")}, 6) AS cosine
  FROM shortlist s
  JOIN proj q ON s.query_id = q.vec_id
  JOIN proj c ON s.corpus_id = c.vec_id
)
{_top_k_sql("scored")}"""


@register("sim_mrl_prefix_rerank", _mrl_oracle())
def sim_mrl_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Two-stage prefix-dimension search** (Matryoshka-embedding
    serving pattern): stage 1 scores every corpus vector on only the
    first ``MRL_PREFIX``/``EMB_DIM`` dimensions (¼ of the bandwidth)
    and shortlists ``MRL_SHORTLIST`` candidates per query; stage 2
    recomputes EXACT full-dimension cosine on the shortlist only and
    emits the top-k. With MRL-trained embeddings the prefix carries
    most of the signal, so recall vs full brute force stays high while
    the full vectors are touched for ``shortlist/|corpus|`` of the
    data — the standard cheap-filter + exact-rerank funnel.

    Scale: stage 1 is the bruteforce shape on a 4×-narrower column
    (store the prefix as its own parquet column and the scan reads ¼
    the bytes; column pruning does the rest); stage 2's shortlist join
    is ``N_QUERIES·MRL_SHORTLIST`` rows against the full-width table —
    a broadcast semi-join, negligible at any corpus size. Both stages
    are deterministic (round-6 + id tiebreaks at BOTH ranking points,
    so the shortlist SET itself is engine-identical), making the whole
    funnel hash-verifiable; recall vs single-stage brute force is
    pytest-bounded (on the near-random fixture the prefix is a genuine
    lossy projection — the test pins the funnel's behavior, an
    MRL-trained checkpoint is what makes prefix≈full in production)."""
    base = _emb_base(spark, sf_dir).withColumn("p", F.slice("emb", 1, MRL_PREFIX))
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"), F.col("p").alias("c_p")
    ).withColumn("c_pn", _norm(F.col("c_p")))
    queries = _query_rows(base, F.col("p").alias("q_p")).withColumn(
        "q_pn", _norm(F.col("q_p"))
    )
    pref = (
        corpus.filter(F.col("c_pn") > 0)
        .crossJoin(F.broadcast(queries.filter(F.col("q_pn") > 0)))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            _cosine("q_p", "c_p", "q_pn", "c_pn").alias("pref_cos"),
        )
    )
    shortlist = _top_k(pref, k=MRL_SHORTLIST, score="pref_cos", rank="prank").select(
        "query_id", "corpus_id"
    )
    q_full = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_e"),
        F.col("nrm").alias("q_n"),
    )
    c_full = base.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("emb").alias("c_e"),
        F.col("nrm").alias("c_n"),
    )
    scored = (
        shortlist.join(F.broadcast(q_full), "query_id")
        .join(c_full, "corpus_id")
        .select(
            "query_id",
            "corpus_id",
            F.round(_cosine("q_e", "c_e", "q_n", "c_n"), 6).alias("cosine"),
        )
    )
    return _top_k(scored)


# -------------------------------------- dedup threshold tuning sweep

#: Sweep floor: well below any sensible merge threshold, so the report
#: shows the full decision range. Bin width 0.05 (20 bins per unit).
SWEEP_BASE = 0.30


def _sweep_oracle() -> str:
    return f"""WITH pairs AS (
  SELECT ROUND({_PAIR_COS_SQL}, 6) AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_PAIR_COS_SQL} >= {SWEEP_BASE}
), bins AS (
  SELECT CAST(FLOOR(c * 20) AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1
)
SELECT CAST(bin AS DOUBLE) / 20 AS bin_lo, n AS n_pairs,
       CAST(SUM(n) OVER (ORDER BY bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS pairs_at_or_above
FROM bins"""


@register("sim_threshold_sweep_report", _sweep_oracle())
def sim_threshold_sweep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Dedup threshold tuning report**: the histogram of pair cosines
    (0.05-wide bins from ``SWEEP_BASE`` up) with, per bin, the
    cumulative number of pairs a merge at that threshold would create —
    the artifact you read BEFORE picking ``COSINE_THRESHOLD`` on a new
    corpus. One blocked-GEMM pass at the sweep floor feeds every
    candidate threshold at once; re-running the dedup per candidate
    (the naive approach) costs one corpus-pair scan per threshold.

    Determinism: cosines are rounded to 6 dp BEFORE binning (BLAS vs
    sequential sums agree to ~13 digits, so the rounded value is
    engine-identical), and both engines then apply the identical
    IEEE ``floor(c*20)`` to the same doubles. Cumulative counts ride a
    1-column window over ≤14 bin rows."""
    emb = load_raw(spark, sf_dir, "embeddings")
    pairs = _exact_pairs_blocked(_vec_blocks(emb), SWEEP_BASE).select(
        F.round("cosine", 6).alias("c")
    )
    bins = pairs.groupBy(
        F.floor(F.col("c") * 20).cast("long").alias("bin")
    ).agg(F.count("*").cast("long").alias("n_pairs"))
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bins.select(
        (F.col("bin").cast("double") / 20).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
    )


# ------------------------------------------------ hard-negative mining

@register(
    "sim_hard_negatives",
    f"""WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
         q.label AS query_label, c.label AS negative_label,
         ROUND({_cos_sql(
           "CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])"
         )}, 6) AS cosine
  FROM embeddings q JOIN embeddings c
    ON c.vec_id <> q.vec_id AND c.label <> q.label
  WHERE q.vec_id < {N_QUERIES}
)
{_top_k_sql("scored", item="negative_id")}""",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Hard-negative mining** for retriever/contrastive training:
    per query vector, the top-k most-similar corpus vectors with a
    DIFFERENT label — the near-miss negatives that make contrastive
    losses learn boundaries (random negatives are too easy; same-label
    "negatives" are false negatives). The label inequality rides the
    join condition, so the exclusion happens before scoring output.

    Plan: the brute-force shape (broadcast query set vs one corpus
    scan, no shuffle until the top-k window); at scale, swap the scan
    side for any of the verified ANN paths (IVF cells / PQ codes /
    prefix rerank) and keep the label filter on the candidates —
    mining tolerates approximation, the loss just needs HARD
    negatives, not exact ranks."""
    base = _emb_base(spark, sf_dir, "label")
    corpus = base.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    queries = _query_rows(
        base,
        F.col("label").alias("query_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(
            (F.col("negative_id") != F.col("query_id"))
            & (F.col("negative_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "negative_id",
            "query_label",
            "negative_label",
            F.round(_cosine("q_emb", "c_emb", "q_norm", "c_norm"), 6).alias("cosine"),
        )
    )
    return _top_k(scored, item="negative_id")


# -------------------------------------------------- IVF-PQ composition

def _ivfpq_oracle() -> str:
    """DuckDB twin of :func:`sim_ivfpq_topk_pinned`: the pinned cells
    and probes of ``_PINNED_CELLS_CTES`` composed with the PQ
    encode/LUT/ADC chain of ``_PQ_CTES``."""
    return _pq_topk_sql(
        f"{_PINNED_CELLS_CTES}, {_ivf_cand_ctes(IVF_NPROBE)}",
        """  SELECT cd.query_id, cd.corpus_id, SUM(l.pdot) AS ad
  FROM cand cd
  JOIN encoded x ON x.vec_id = cd.corpus_id
  JOIN lut l ON l.query_id = cd.query_id AND l.s = x.s AND l.cw = x.cw
  GROUP BY cd.query_id, cd.corpus_id""",
    )


@register("sim_ivfpq_topk_pinned", _ivfpq_oracle())
def sim_ivfpq_topk_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**IVF-PQ**: the other canonical ANN index layout (FAISS
    ``IVFx,PQy``) — IVF cells bound the candidate set, PQ codes shrink
    what each cell stores to ``PQ_M`` bytes/vector (16×), and scoring
    is the LUT-addressed asymmetric sum over candidates only: the
    pinned-IVF core's candidates (:func:`_ivf_candidates`) scored by
    the PQ build of :func:`sim_pq_topk_pinned` (:func:`_pq_topk`);
    pinned centroids and codebooks keep the whole composed index
    hash-verified in SQL at all three scale factors.

    Scale: memory per cell = M bytes/vector + the shared M×K codebook;
    probe cost = (nprobe/K of the corpus) × M LUT lookups — the layout
    serving billion-vector indexes from RAM. IVF-SQ8 keeps 4× at
    higher fidelity; IVF-PQ trades fidelity for another 4× — the
    recall step-down is pytest-pinned against brute force."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, corpus_id long, cosine_pq double, rank int"
        )
    cand = _ivf_candidates(base, cents, IVF_NPROBE).select(
        "query_id", F.col("vec_id").alias("corpus_id")
    )

    def adc(encoded: DataFrame, lut: DataFrame) -> DataFrame:
        return (
            cand.join(encoded, cand.corpus_id == encoded.vec_id)
            .join(F.broadcast(lut), ["query_id", "s", "cw"])
            .groupBy("query_id", "corpus_id")
            .agg(F.sum("pdot").alias("ad"))
        )

    return _pq_topk(base, adc)


# --------------------------------------------------------- SemDeDup

#: Semantic-dup edge threshold: same pinned cosine bar as the exact
#: near-dup scorer, so the two surfaces agree on what "duplicate" means.
SEMDEDUP_THRESHOLD = COSINE_THRESHOLD


def _semdedup_oracle() -> str:
    """DuckDB twin of :func:`sim_semdedup`: the pinned cells of
    ``_PINNED_CELLS_CTES``, then the keep rule evaluated as a
    relational EXISTS over intra-cluster pairs."""
    return f"""WITH {_PINNED_CELLS_CTES}, mem AS (
  SELECT vec_id, cid, ROUND(c_cos, 6) AS c_cos FROM cells
), dropped AS (
  SELECT DISTINCT m.vec_id
  FROM mem m
  JOIN mem e ON e.cid = m.cid
    AND (e.c_cos < m.c_cos OR (e.c_cos = m.c_cos AND e.vec_id < m.vec_id))
  JOIN proj pm ON pm.vec_id = m.vec_id
  JOIN proj pe ON pe.vec_id = e.vec_id
  WHERE {_cos_sql("pm.e", "pe.e")} >= {SEMDEDUP_THRESHOLD}
)
SELECT m.vec_id, m.cid, m.c_cos AS centroid_cos,
       d.vec_id IS NULL AS kept
FROM mem m LEFT JOIN dropped d ON m.vec_id = d.vec_id"""


@register("sim_semdedup", _semdedup_oracle())
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**SemDeDup** (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and removing near-identical
    members within each cluster — the published recipe for pruning
    web-scale pretraining corpora beyond exact/lexical dedup. Three
    stages, all Catalyst-side:

    1. **cluster**: assign every vector to its nearest pinned centroid
       (first ``IVF_K`` corpus vectors, argmax cosine, lower-cid
       tiebreak — the pinned-IVF core's :func:`_with_cell`, as in
       :func:`sim_ivf_topk_pinned`);
    2. **pair within cluster**: intra-cluster cosine ≥
       ``SEMDEDUP_THRESHOLD`` marks a semantic-dup edge — pairs are
       generated per cell, never across the corpus (the whole point:
       O(Σ|cell|²) ≪ O(n²), and at 100 TB the cell size is capped by
       raising K, exactly like IVF);
    3. **keep rule**: following the paper, within a dup neighborhood
       the example KEPT is the one with the *lowest* cosine to its
       centroid (preserves cluster-edge diversity; typical members are
       redundant). Relationally: drop a member iff some same-cell
       neighbor above the dup threshold precedes it in
       (centroid-cos ASC, vec_id ASC) order — quantized to 6 dp so the
       order never flips between engines.

    Output: every vector with its cell, centroid cosine, and the
    kept/dropped verdict — the verdict form downstream curation joins
    on (cf. ``dedup_neardup_canonical`` for the lexical analogue).
    Scale: one centroid probe (Arrow-batched matmul) + one
    cell-keyed self-join; no global shuffle beyond the cell key."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "vec_id long, cid long, centroid_cos double, kept boolean"
        )
    mem = (
        _with_cell(base, cents)
        .withColumn("cid", F.col("cid").cast("long"))
        .join(F.broadcast(_centroid_table(spark, cents)), "cid")
        .select(
            "vec_id",
            "cid",
            F.round(_cosine("emb", "cemb", "nrm", "cnrm"), 6).alias("c_cos"),
            "emb",
            "nrm",
        )
    )
    m = mem.alias("m")
    e = mem.alias("e")
    precedes = (F.col("e.c_cos") < F.col("m.c_cos")) | (
        (F.col("e.c_cos") == F.col("m.c_cos"))
        & (F.col("e.vec_id") < F.col("m.vec_id"))
    )
    dup_edge = _cosine("m.emb", "e.emb", "m.nrm", "e.nrm") >= SEMDEDUP_THRESHOLD
    dropped = (
        m.join(e, (F.col("m.cid") == F.col("e.cid")) & precedes & dup_edge, "left_semi")
        .select(F.col("m.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        mem.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.col("c_cos").alias("centroid_cos"),
            F.col("is_dropped").isNull().alias("kept"),
        )
    )


# ---------------------------------------------------------------- MMR

#: MMR re-ranking: relevance/diversity trade-off λ, final list size,
#: and the relevance-candidate pool fed into the re-ranker.
MMR_LAMBDA = 0.7
MMR_K = 5
MMR_POOL = 20


def _mmr_oracle() -> str:
    """DuckDB twin of :func:`sim_mmr_rerank`: the greedy loop unrolled
    into ``MMR_K`` CTE blocks (the same trick as PageRank's
    unrolled-CTE oracle). ``pool`` is the top-``MMR_POOL`` relevance
    candidates per query; each block picks the argmax MMR score over
    the not-yet-selected pool, with every comparison quantized to 6 dp
    and tie-broken by corpus_id so both engines pick identical items."""
    cos = _cos_sql("a.e", "b.e")
    blocks = [
        f"""sel1 AS (
  SELECT query_id, corpus_id, rel, 1 AS pick FROM (
{_top_k_sql("pool", k=1, score="rel", rank="rn")}
  )
)"""
    ]
    for k in range(2, MMR_K + 1):
        blocks.append(
            f"""sel{k} AS (
  SELECT query_id, corpus_id, rel, {k} AS pick FROM (
    SELECT p.query_id, p.corpus_id, p.rel,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY ROUND({MMR_LAMBDA} * p.rel
                            - {1 - MMR_LAMBDA} * MAX(s.sim), 6) DESC,
                      p.corpus_id ASC
           ) AS rn
    FROM pool p
    JOIN (SELECT * FROM {" UNION ALL SELECT * FROM ".join(f"sel{i}" for i in range(1, k))}) sl
      ON sl.query_id = p.query_id
    JOIN sims s ON s.query_id = p.query_id
      AND s.id_a = p.corpus_id AND s.id_b = sl.corpus_id
    WHERE p.corpus_id NOT IN (
      SELECT corpus_id FROM (SELECT * FROM {" UNION ALL SELECT * FROM ".join(f"sel{i}" for i in range(1, k))}) x
      WHERE x.query_id = p.query_id
    )
    GROUP BY p.query_id, p.corpus_id, p.rel
  ) WHERE rn = 1
)"""
        )
    union_all = " UNION ALL SELECT * FROM ".join(
        f"sel{i}" for i in range(1, MMR_K + 1)
    )
    return f"""WITH {_PROJ_CTE}, rels AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, ROUND({cos}, 6) AS rel
  FROM proj a JOIN proj b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
), pool AS (
  SELECT query_id, corpus_id, rel FROM (
{_top_k_sql("rels", k=MMR_POOL, score="rel", rank="rn")}
  )
), sims AS (
  SELECT p.query_id, a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 6) AS sim
  FROM pool p
  JOIN pool q ON q.query_id = p.query_id AND q.corpus_id <> p.corpus_id
  JOIN proj a ON a.vec_id = p.corpus_id
  JOIN proj b ON b.vec_id = q.corpus_id
), {", ".join(blocks)}
SELECT query_id, corpus_id, rel, pick FROM (SELECT * FROM {union_all})"""


@register("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**MMR diversified re-ranking** (Carbonell & Goldstein 1998):
    re-rank each query's top-``MMR_POOL`` relevance candidates into a
    ``MMR_K``-item list that trades relevance against redundancy —
    greedy argmax of ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``.
    The serving-side diversity stage of a recommender / RAG retriever,
    downstream of any of the ANN indexes in this module.

    The pool is generated Catalyst-side (broadcast queries × corpus,
    quantized relevance top-``MMR_POOL``); the greedy loop itself runs
    in ONE ``applyInPandas`` stage — each group is a single query's
    ≤ pool candidates (bounded state by construction, the documented
    legitimate grouped-UDF use), so the whole re-rank is one shuffle
    on query_id no matter the corpus size. An unrolled pure-Catalyst
    twin (:func:`mmr_rerank_unrolled`) traces the identical greedy
    trajectory in K SQL rounds — pytest pins the two equal, and the
    DuckDB oracle hash-verifies the trajectory end-to-end (every
    comparison quantized to 6 dp half-away-from-zero with corpus_id
    tiebreaks, so a *sequential* algorithm becomes hash-verifiable).

    Scale: generating the pool is the ANN index's job; the re-rank
    touches N_queries × pool rows once — embarrassingly parallel over
    queries."""
    import pandas as pd

    pool = _mmr_pool(spark, sf_dir)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        def q6(x):
            return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        pdf = pdf.sort_values("corpus_id").reset_index(drop=True)
        x = np.array(pdf["emb"].tolist(), dtype=np.float64)
        nrm = np.sqrt((x * x).sum(axis=1))
        sims = q6((x @ x.T) / np.outer(nrm, nrm))
        rel = pdf["rel"].to_numpy()
        ids = pdf["corpus_id"].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        out = []
        for pick in range(1, min(MMR_K, n) + 1):
            if not chosen:
                score = rel.copy()
            else:
                score = q6(
                    MMR_LAMBDA * rel
                    - (1 - MMR_LAMBDA) * sims[:, chosen].max(axis=1)
                )
            score[chosen] = -np.inf
            # argmax with lower-corpus_id tiebreak: ids are ascending,
            # np.argmax returns the first (lowest-id) maximum
            best = int(np.argmax(score))
            chosen.append(best)
            out.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    int(ids[best]),
                    float(rel[best]),
                    pick,
                )
            )
        return pd.DataFrame(
            out, columns=["query_id", "corpus_id", "rel", "pick"]
        )

    return pool.groupBy("query_id").applyInPandas(
        greedy, "query_id long, corpus_id long, rel double, pick int"
    )


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``MMR_POOL`` relevance candidates per query with their
    embeddings, quantized ranking — the shared front end of both MMR
    forms."""
    base = _emb_base(spark, sf_dir)
    queries = _query_rows(
        base, F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    rel = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            F.round(_cosine("q_emb", "emb", "q_nrm", "nrm"), 6).alias("rel"),
            "emb",
            "nrm",
        )
    )
    return _top_k(rel, k=MMR_POOL, score="rel", rank="rn").drop("rn")


def mmr_rerank_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst MMR: the greedy loop as ``MMR_K`` unrolled rounds
    of join + max-aggregate + row_number (zero UDFs) — the form that
    proves the trajectory is relational. Slower than the grouped-UDF
    form by constant stage overhead (≈5 stages per round), identical
    output: not registered, the fast form is, and
    ``test_mmr_udf_equals_unrolled_catalyst`` uses this form as the
    exact reference for :func:`sim_mmr_rerank`."""
    pool = bsp.persist(_mmr_pool(spark, sf_dir))
    a = pool.select("query_id", F.col("corpus_id").alias("id_a"), "emb", "nrm")
    b = pool.select(
        "query_id",
        F.col("corpus_id").alias("id_b"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sims = bsp.persist(
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            F.round(_cosine("emb", "b_emb", "nrm", "b_nrm"), 6).alias("sim"),
        )
    )
    cand = pool.select("query_id", "corpus_id", "rel")
    selected = _top_k(cand, k=1, score="rel", rank="rn").select(
        "query_id", "corpus_id", "rel", F.lit(1).alias("pick")
    )
    for k in range(2, MMR_K + 1):
        sel_ids = selected.select(
            "query_id", F.col("corpus_id").alias("sel_id")
        )
        remaining = cand.join(
            sel_ids.withColumnRenamed("sel_id", "corpus_id"),
            ["query_id", "corpus_id"],
            "left_anti",
        )
        mmr = (
            remaining.join(sel_ids, "query_id")
            .join(
                sims,
                (F.col("id_a") == F.col("corpus_id"))
                & (F.col("id_b") == F.col("sel_id"))
                & (sims["query_id"] == remaining["query_id"]),
            )
            .groupBy(remaining["query_id"].alias("query_id"), "corpus_id", "rel")
            .agg(
                F.round(
                    MMR_LAMBDA * F.first("rel")
                    - (1 - MMR_LAMBDA) * F.max("sim"),
                    6,
                ).alias("mmr")
            )
        )
        next_pick = _top_k(mmr, k=1, score="mmr", rank="rn").select(
            "query_id", "corpus_id", "rel", F.lit(k).alias("pick")
        )
        selected = selected.unionByName(next_pick)
    return bsp.checkpoint_result(selected)


# ------------------------------------------------- k-center coreset

#: Number of k-center representatives to select (pinned seed: vec 0).
KCENTER_K = 8


def _kcenter_oracle() -> str:
    """DuckDB twin of :func:`sim_kcenter_coreset`: the farthest-point
    traversal unrolled into ``KCENTER_K`` CTE blocks. Each block joins
    the running min-distance relation against the previous 1-row pick,
    takes the quantized LEAST, and selects the next farthest point
    with the vec_id tiebreak — the same trajectory the Spark loop
    walks."""
    cos = _cos_sql("p.e", "c.e")
    parts = [
        _PROJ_CTE,
        "c1 AS (\n  SELECT e FROM proj WHERE vec_id = 0\n)",
        f"d1 AS (\n  SELECT p.vec_id, ROUND(1 - ({cos}), 6) AS dmin\n"
        "  FROM proj p CROSS JOIN c1 c\n)",
    ]
    selects = ["SELECT 1 AS pick, 0 AS center_id, CAST(NULL AS DOUBLE) AS radius"]
    for k in range(2, KCENTER_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(2, k)
        )
        prev_clause = (
            f" AND vec_id NOT IN (SELECT vec_id FROM ({prev_sel}))"
            if prev_sel
            else ""
        )
        parts.append(
            f"s{k} AS MATERIALIZED (\n  SELECT vec_id, dmin FROM d{k-1}\n"
            f"  WHERE vec_id <> 0{prev_clause}\n"
            f"  ORDER BY dmin DESC, vec_id ASC LIMIT 1\n)"
        )
        parts.append(
            f"c{k} AS (\n  SELECT e FROM proj JOIN s{k} USING (vec_id)\n)"
        )
        if k < KCENTER_K:
            parts.append(
                f"d{k} AS (\n  SELECT d.vec_id,"
                f" LEAST(d.dmin, ROUND(1 - ({cos}), 6)) AS dmin\n"
                f"  FROM d{k-1} d JOIN proj p ON p.vec_id = d.vec_id"
                f" CROSS JOIN c{k} c\n)"
            )
        selects.append(
            f"SELECT {k} AS pick, vec_id AS center_id, dmin AS radius FROM s{k}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("sim_kcenter_coreset", _kcenter_oracle())
def sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**k-center greedy coreset selection** (Sener & Savarese 2018,
    arXiv:1708.00489): pick ``KCENTER_K`` maximally-spread
    representatives by farthest-point traversal — seed with the pinned
    vector 0, then repeatedly add the point farthest (cosine distance)
    from everything selected so far. The data-pruning / diverse-subset
    primitive (each pick's ``radius`` is the covering radius achieved
    before it joined — the curve a pruning job thresholds on).

    Spark shape: the per-point running min-distance column is updated
    each round by ONE narrow projection against the newest center
    (shipped as a 64-literal array — bounded model state, like the BPE
    argmax pair), and the next center is a 1-row ``orderBy…limit(1)``
    collect. K rounds → K tiny reduce jobs, zero shuffles of the
    corpus itself; at 100 TB each round is a map + top-1 reduce, the
    textbook distributed farthest-point sweep. Distances quantized to
    6 dp with vec_id tiebreaks → the whole trajectory hash-matches the
    unrolled-CTE DuckDB oracle."""
    base = _emb_base(spark, sf_dir)
    seed = base.filter(F.col("vec_id") == 0).select("emb").collect()
    if not seed:
        return spark.createDataFrame(
            [], "pick int, center_id long, radius double"
        )

    def dist_to(vec: list[float]) -> Column:
        lit_vec = F.array(*[F.lit(float(x)) for x in vec])
        vnrm = F.lit(math.sqrt(sum(x * x for x in vec)))
        return F.round(1 - _cosine("emb", lit_vec, "nrm", vnrm), 6)

    state = bsp.persist(
        base.select(
            "vec_id", "emb", "nrm", dist_to(list(seed[0]["emb"])).alias("dmin")
        )
    )
    state.count()
    chosen = [0]
    picks: list[tuple[int, int, float | None]] = [(1, 0, None)]
    for k in range(2, KCENTER_K + 1):
        top = (
            state.filter(~F.col("vec_id").isin(chosen))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "dmin", "emb")
            .collect()
        )
        if not top:
            break
        picks.append((k, top[0]["vec_id"], float(top[0]["dmin"])))
        chosen.append(top[0]["vec_id"])
        if k < KCENTER_K:
            new_state = bsp.persist(
                state.select(
                    "vec_id",
                    "emb",
                    "nrm",
                    F.least(
                        F.col("dmin"), dist_to(list(top[0]["emb"]))
                    ).alias("dmin"),
                )
            )
            new_state.count()
            state.unpersist()
            state = new_state
    return spark.createDataFrame(
        picks, "pick int, center_id long, radius double"
    )


# ------------------------------------------- simplified silhouette

@register(
    "sim_silhouette_simplified",
    f"""WITH {_PINNED_CELLS_CTES}, dists AS (
  SELECT vec_id, cid, ROUND(1 - c_cos, 6) AS d,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY ROUND(1 - c_cos, 6) ASC, cid ASC
         ) AS rk
  FROM ranked_cells
), ab AS (
  SELECT o.vec_id, o.cid, o.d AS a, n.d AS b
  FROM (SELECT * FROM dists WHERE rk = 1) o
  JOIN (SELECT * FROM dists WHERE rk = 2) n ON n.vec_id = o.vec_id
)
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(AVG((b - a) / GREATEST(a, b)), 6) AS mean_silhouette
FROM ab
WHERE GREATEST(a, b) > 0
GROUP BY cid""",
)
def sim_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Simplified silhouette** per cluster over the pinned-centroid
    cells: for each vector, ``a`` = cosine distance to its own
    (nearest) centroid, ``b`` = distance to the second-nearest, score
    ``(b − a)/max(a, b)`` — the O(n·K) centroid-based variant of the
    silhouette coefficient (the O(n²) pairwise form is exactly what it
    exists to avoid at scale), the standard "is K right / which cells
    are mush" clustering diagnostic for the IVF/SemDeDup index
    family. Per-cell member counts and mean silhouette; cells near 0
    are boundaries, negative means misassignment pressure.

    All distances quantized to 6 dp with cid tiebreaks (centroids from
    the pinned-IVF core, :func:`_pinned_centroids`); one
    corpus × K broadcast distance computation, one row per vector, a
    K-row result."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "cid long, n_members long, mean_silhouette double"
        )
    dists = base.crossJoin(F.broadcast(_centroid_table(spark, cents))).select(
        "vec_id",
        "cid",
        F.round(1 - _cosine("emb", "cemb", "nrm", "cnrm"), 6).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    ranked = dists.withColumn("rk", F.row_number().over(w))
    own = ranked.filter(F.col("rk") == 1).select(
        "vec_id", "cid", F.col("d").alias("a")
    )
    nxt = ranked.filter(F.col("rk") == 2).select(
        F.col("vec_id").alias("v2"), F.col("d").alias("b")
    )
    ab = own.join(nxt, F.col("vec_id") == F.col("v2"))
    return (
        ab.filter(F.greatest("a", "b") > 0)
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(
                F.avg(
                    (F.col("b") - F.col("a")) / F.greatest("a", "b")
                ),
                6,
            ).alias("mean_silhouette"),
        )
    )


# --------------------------------------------------------- DBSCAN

#: DBSCAN parameters: the eps-neighborhood is cosine ≥ EPS_COS (looser
#: than the near-dup bar so real density structure exists at every
#: fixture SF), and a point is CORE with ≥ MIN_NEIGHBORS eps-neighbors.
DBSCAN_EPS_COS = 0.35
DBSCAN_MIN_NEIGHBORS = 2

def _dbscan_oracle_from_pairs(pairs_ctes: str) -> str:
    """DuckDB DBSCAN chain (degrees → core → closure over core edges →
    border attach) over any ``pairs(va, vb)`` CTE block — shared by the
    exact and the LSH-candidate variants so their cluster semantics
    cannot drift."""
    return f"""WITH RECURSIVE {pairs_ctes}, edges AS (
  SELECT va AS s, vb AS d FROM pairs UNION ALL SELECT vb, va FROM pairs
), deg AS (
  SELECT s AS v, COUNT(*) AS n FROM edges GROUP BY s
), core AS (
  SELECT v FROM deg WHERE n >= {DBSCAN_MIN_NEIGHBORS}
), core_edges AS (
  SELECT e.s, e.d FROM edges e
  JOIN core c1 ON c1.v = e.s JOIN core c2 ON c2.v = e.d
), reach AS (
  SELECT v AS src, v AS dst FROM core
  UNION
  SELECT r.src, e.d FROM reach r JOIN core_edges e ON r.dst = e.s
), core_label AS (
  SELECT src AS v, MIN(dst) AS cluster FROM reach GROUP BY src
), border_label AS (
  SELECT e.s AS v, MIN(cl.cluster) AS cluster
  FROM edges e JOIN core_label cl ON cl.v = e.d
  WHERE e.s NOT IN (SELECT v FROM core)
  GROUP BY e.s
)
SELECT emb.vec_id,
       CASE WHEN cl.v IS NOT NULL THEN 'core'
            WHEN bl.v IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(cl.cluster, bl.cluster) AS cluster
FROM embeddings emb
LEFT JOIN core_label cl ON cl.v = emb.vec_id
LEFT JOIN border_label bl ON bl.v = emb.vec_id"""


_DBSCAN_ORACLE = _dbscan_oracle_from_pairs(
    f"""pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_PAIR_COS_SQL} >= {DBSCAN_EPS_COS}
)"""
)


@register("sim_dbscan", _DBSCAN_ORACLE)
def sim_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**DBSCAN density clustering** (Ester et al. 1996) over the
    embedding corpus, composed entirely from verified primitives:
    the eps-graph is the exact blocked-GEMM pair scorer at
    ``DBSCAN_EPS_COS``; CORE points have ≥ ``DBSCAN_MIN_NEIGHBORS``
    eps-neighbors; clusters are hash-min **connected components over
    core-core edges only** (exactly DBSCAN's density-reachability:
    borders never bridge clusters); border points attach to the MIN
    cluster label among their core neighbors (a deterministic stand-in
    for DBSCAN's order-dependent first-claim — pinned, so both engines
    agree); everything else is noise. One row per vector with
    (role, cluster).

    Scale: pair generation is the documented blocked/LSH path, the
    component loop runs over core vertices only (the BSP story of
    ``sim_neardup_components``), and the border/noise assignment is
    two hash joins. The oracle rebuilds the whole chain independently
    with a recursive-CTE closure over core edges."""
    emb = load_raw(spark, sf_dir, "embeddings")
    # eps-graph through the blocked-GEMM scorer (Catalyst zip_with
    # folds evaluate interpreted per element — measured 25s for 2M
    # pairs vs ~2s blocked; see sim_neardup_pairs_exact). The pair
    # relation is localCheckpointed EAGERLY: every downstream branch
    # (degrees, core semi-joins, the BSP loop's per-round lineage, the
    # final eager checkpoint) would otherwise re-derive through the
    # 64-task mapInPandas scorer — measured 5× the whole query's cost
    # in replayed stages.
    pairs = (
        _exact_pairs_blocked(_vec_blocks(emb), DBSCAN_EPS_COS)
        .select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
        .localCheckpoint(eager=True)
    )
    return _dbscan_from_pairs(emb, pairs)


def _dbscan_from_pairs(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """DBSCAN chain over a materialized ``pairs(va, vb)`` eps-edge
    relation — the Spark twin of :func:`_dbscan_oracle_from_pairs`,
    shared by the exact and LSH-candidate variants."""
    edges = pairs.select(
        F.col("va").alias("s"), F.col("vb").alias("d")
    ).unionAll(pairs.select(F.col("vb").alias("s"), F.col("va").alias("d")))
    edges = bsp.persist(edges)
    deg = edges.groupBy("s").agg(F.count("*").alias("n"))
    core = bsp.persist(
        deg.filter(F.col("n") >= DBSCAN_MIN_NEIGHBORS).select(
            F.col("s").alias("v")
        )
    )
    core.count()
    core_edges = (
        edges.join(core.withColumnRenamed("v", "s"), "s", "left_semi")
        .join(core.withColumnRenamed("v", "d"), "d", "left_semi")
        .filter(F.col("s") < F.col("d"))
        .select("s", "d")
    )
    labels = hash_min_components(core_edges, "s", "d")
    core_label = bsp.persist(
        core.join(labels, core["v"] == labels["node"], "left")
        .select("v", F.coalesce("comp", F.col("v")).alias("cluster"))
    )
    core_label.count()
    nb = core_label.select(
        F.col("v").alias("nbr"), F.col("cluster").alias("ncluster")
    )
    border_label = (
        edges.select(F.col("s").alias("bv"), F.col("d").alias("nbr"))
        .join(nb, "nbr")
        .join(core.select(F.col("v").alias("bv")), "bv", "left_anti")
        .groupBy("bv")
        .agg(F.min("ncluster").alias("bcluster"))
    )
    out = (
        emb.select("vec_id")
        .join(core_label, F.col("vec_id") == core_label["v"], "left")
        .join(border_label, F.col("vec_id") == border_label["bv"], "left")
        .select(
            "vec_id",
            F.when(core_label["v"].isNotNull(), "core")
            .when(border_label["bv"].isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("cluster", "bcluster").alias("cluster"),
        )
    )
    return bsp.checkpoint_result(out)


# ------------------------------------------- LSH-candidate DBSCAN

#: Candidate geometry for the approximate DBSCAN. eps at cos 0.35 is a
#: LOOSE neighborhood, so the hyperplane collision probability per
#: pair is (1 − θ/π)^bits with θ ≈ 69.5°: 5 bits × 12 tables ≈ 67%
#: edge recall at the threshold itself, rising steeply for tighter
#: pairs (≈ 96% at cos 0.7) — the edges that actually carry cluster
#: cores. Fewer bits would raise recall but grow buckets toward
#: all-pairs; this is the documented knob, not a hidden constant.
DBSCAN_LSH_TABLES = 12
DBSCAN_LSH_BITS = 5


def _dbscan_lsh_pairs_ctes() -> str:
    return f"""{_lsh_sig_ctes(DBSCAN_LSH_TABLES, DBSCAN_LSH_BITS)},
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM tb a JOIN tb b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), pairs AS (
  SELECT c.va, c.vb
  FROM cand c
  JOIN proj pa ON pa.vec_id = c.va
  JOIN proj pb ON pb.vec_id = c.vb
  WHERE list_dot_product(pa.e, pb.e)
          / (sqrt(list_dot_product(pa.e, pa.e))
             * sqrt(list_dot_product(pb.e, pb.e)))
        >= {DBSCAN_EPS_COS}
)"""


@register("sim_dbscan_lsh", _dbscan_oracle_from_pairs(_dbscan_lsh_pairs_ctes()))
def sim_dbscan_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**LSH-candidate approximate DBSCAN** — the 100 TB path for the
    one family member whose exact form is inherently O(N²) compute
    (:func:`sim_dbscan`'s blocked-GEMM eps-graph): candidate pairs come
    from pinned-hyperplane LSH buckets (``DBSCAN_LSH_TABLES`` ×
    ``DBSCAN_LSH_BITS``), only same-cell pairs get the exact cosine
    verify, and the identical shared DBSCAN chain
    (:func:`_dbscan_from_pairs` / :func:`_dbscan_oracle_from_pairs`)
    runs on the surviving eps-edges. LSH edges are a SUBSET of the
    exact eps-graph, so approximate cores ⊆ exact cores and every
    approximate cluster refines an exact cluster (pytest-pinned
    against the exact twin on the fixture); the loss mode is only
    missed edges — extra noise/splits, never merged clusters.

    Scale: candidates are bucket-equi-joins (never all-pairs); the
    verify touches candidates only; recall per edge rises with pair
    similarity, so the dense cluster-core structure survives at far
    below quadratic cost. The pinned planes make the whole chain
    hash-certified against the DuckDB twin."""
    emb = load_raw(spark, sf_dir, "embeddings")
    cand = _lsh_pairs(emb, DBSCAN_LSH_TABLES, DBSCAN_LSH_BITS)
    # verify via the blocked numpy scorer (r12): the per-pair Catalyst
    # `_dot` fold evaluated interpreted per element — the verify leg
    # measured ~2s blocked vs ~9-25s folded at sf0.1. The layout is
    # persisted because the scorer joins it on both pair sides.
    blocks = bsp.persist(_vec_blocks(emb))
    pairs = (
        _score_candidates_blocked(blocks, cand)
        .filter(F.col("cosine") >= DBSCAN_EPS_COS)
        .select(F.col("u").alias("va"), F.col("v").alias("vb"))
        .localCheckpoint(eager=True)
    )
    return _dbscan_from_pairs(emb, pairs)


# ------------------------------------- embedding covariance / PCA

#: Principal components kept by the PCA projection.
PCA_K = 8


def _ppm_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, e array<long>)``: every embedding on the 1e-6 integer
    grid (``quantize.ppm_floor`` per element, ``FLOOR(x·1e6 + 0.5)``),
    so every downstream moment SUM is exact integer arithmetic —
    order-independent across partitions AND engines. |x| < 1 and
    dim = 64 bound the products at ~3.6e11 and the sums at n·3.6e11,
    safely inside BIGINT up to ~2.5e7 vectors; beyond that a production
    build would widen to DECIMAL(38,0)."""
    return load_raw(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(_as_double("embedding"), ppm_floor).alias("e")
    )


#: DuckDB twin of :func:`_ppm_grid`: ``x(vec_id, e)``.
_PPM_GRID_CTE = f"""x AS MATERIALIZED (
  SELECT vec_id, list_transform({_EMB_CAST}, v -> {ppm_floor_sql("v")}) AS e
  FROM embeddings
)"""

#: ``xs(vec_id, i, xi)``: one row per vector and 0-based dimension of ``x``.
_PPM_CELLS_CTE = """xs AS MATERIALIZED (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i, e[i] AS xi
  FROM (SELECT vec_id, e, generate_subscripts(e, 1) AS i FROM x)
)"""


def _cov_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle (i ≤ j) covariance of the embedding dimensions,
    population (÷n) convention, from ONE pass of per-(i, j) running
    sums: cov = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n — no mean join, no second scan.

    Hash-robustness (round-9 driver-red fix): raw double SUMs
    accumulate in partition order, and a value landing within an ulp of
    a 6-dp half-boundary then ROUNDs differently across engines /
    environments (the r8 driver flip). The inputs are therefore
    quantized to the :func:`_ppm_grid` BIGINTs first, the three moment
    sums are exact integers, and the covariance is one deterministic
    IEEE-double expression tree evaluated identically by Spark and
    DuckDB, finished with FLOOR(x·1e6 + 0.5) (no rounding-rule
    ambiguity) — so the hash path carries no order- or rule-dependent
    float anywhere. Quantization perturbs each covariance by O(1e-7),
    below the published 6-dp resolution.

    Scale: the outer-product relation is generated per ROW (posexplode
    of the vector × posexplode of its tail slice — compute, not
    shuffle) and partial-aggregates map-side into exactly
    EMB_DIM·(EMB_DIM+1)/2 groups, so the only shuffled relation is
    O(dim² · partitions) regardless of corpus size. A production
    pipeline at 10⁹+ vectors would swap the explode for a per-partition
    numpy GEMM (X_pᵀX_p partials via mapInPandas) — same algebra,
    same bounded shuffle; the Catalyst form is kept because it is
    fully oracle-comparable."""
    ex = _ppm_grid(spark, sf_dir).select("e", F.posexplode("e").alias("i", "xi"))
    pr = ex.select(
        F.col("i").cast("int").alias("i"),
        "xi",
        F.posexplode(F.slice(F.col("e"), F.col("i") + 1, F.lit(EMB_DIM))).alias(
            "k", "xj"
        ),
    )
    g = pr.groupBy(
        "i", (F.col("i") + F.col("k")).cast("int").alias("j")
    ).agg(
        F.count("*").cast("double").alias("n"),
        # DECIMAL(38,0) accumulation = DuckDB's HUGEINT SUM: identical
        # doubles in range, loud NULL (not a silent wrap) past it
        F.sum(F.col("xi").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("xj").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("xi") * F.col("xj")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
    )
    # raw = cov·SCALE², so cov·1e6 = raw/1e6 — ONE division, mirrored
    # textually in the oracle so both engines walk the same IEEE tree.
    raw = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n")
    ppm = F.floor(raw / 1e6 + 0.5).cast("long")
    return g.select("i", "j", (ppm.cast("double") / 1e6).alias("cov"))


#: The SQL form of :func:`_cov_relation`'s exact-integer moment sums:
#: ``g(i, j, n, sx, sy, sxy)`` for i ≤ j over ``_PPM_GRID_CTE``.
_COV_MOMENT_CTES = f"""{_PPM_GRID_CTE},
ex AS MATERIALIZED (
  SELECT e, i, e[i] AS xi
  FROM (SELECT e, generate_subscripts(e, 1) AS i FROM x)
),
pr AS MATERIALIZED (
  SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
         xi, e[j] AS xj
  FROM (SELECT e, i, xi, generate_subscripts(e, 1) AS j FROM ex)
  WHERE j >= i
),
g AS MATERIALIZED (
  SELECT i, j,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(xi) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(SUM(xj) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(xi * xj) AS BIGINT) AS DOUBLE) AS sxy
  FROM pr GROUP BY i, j
)"""

_COV_ORACLE = f"""WITH {_COV_MOMENT_CTES}
SELECT i, j,
       CAST(CAST(FLOOR((sxy - sx * sy / n) / n / 1e6 + 0.5)
                 AS BIGINT) AS DOUBLE) / 1e6 AS cov
FROM g"""


@register("sim_embedding_covariance", _COV_ORACLE)
def sim_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension **covariance matrix** (upper triangle,
    EMB_DIM·(EMB_DIM+1)/2 = 2080 rows) — the statistic behind
    whitening, PCA compression, and the anisotropy audits embedding
    pipelines run before ANN indexing (a collapsed spectrum ruins
    recall). Hash path is exact-integer moment sums + one deterministic
    double expression finished with FLOOR — see :func:`_cov_relation`
    (r8 driver-red fix: no order-dependent float SUM, no ROUND)."""
    return _cov_relation(spark, sf_dir)


@register("sim_pca_project")  # eigendecomposition → rows-only by nature
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**PCA projection** of every embedding onto the top ``PCA_K``
    principal components — the dimensionality-reduction step before
    cheap ANN / clustering / visualization. Output is flat
    (vec_id, pc, value): PCA_K rows per vector.

    Distributed shape: the covariance comes from the bounded
    :func:`_cov_relation` aggregate; the 64×64 eigendecomposition runs
    driver-side on that BOUNDED model state (same pattern as the IVF
    centroid fit — dim², never corpus-sized); the eigenvector matrix
    re-enters the plan as literals, so the projection itself is one
    map-side ``aggregate`` per row (no shuffle, no Python). Sign is
    pinned per component (largest-|loading| entry made positive), and
    components are ordered by descending eigenvalue.

    No SQL oracle for the top-K form — the full eigh loadings are not
    SQL-derivable; the check is rows-only. The DOMINANT component is
    oracle-certified end-to-end by :func:`sim_pca_pc1_project` (exact-
    integer covariance → C^1024 squaring → projection), which pins the
    seam this query's driver-side eigh crosses.
    pytest (tests/test_llm_ops.py) asserts the projections
    against an independent numpy PCA: matching per-component variance
    spectrum, orthonormal loadings, near-zero cross-component
    covariance, and value agreement under the pinned sign convention."""
    eig = _cov_eigh(spark, sf_dir)
    if eig is None:
        return spark.createDataFrame([], "vec_id long, pc int, value double")
    evals, evecs = eig  # ascending
    comps = []
    for idx in np.argsort(evals)[::-1][:PCA_K]:
        v = evecs[:, idx]
        comps.append(-v if v[int(np.argmax(np.abs(v)))] < 0 else v)
    return _centered_projection(spark, sf_dir, comps, "pc")


def _cov_matrix(spark: SparkSession, sf_dir: str) -> np.ndarray | None:
    """The symmetric EMB_DIM × EMB_DIM matrix of :func:`_cov_relation`,
    collected to the driver (bounded model state: dim², never
    corpus-sized); None for an empty corpus."""
    rows = _cov_relation(spark, sf_dir).collect()
    if not rows:
        return None
    C = np.zeros((EMB_DIM, EMB_DIM))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    return C


def _cov_eigh(spark: SparkSession, sf_dir: str):
    """The symmetric eigendecomposition of :func:`_cov_matrix` (eigenvalues ascending,
    eigenvectors as columns); None for an empty corpus."""
    C = _cov_matrix(spark, sf_dir)
    return None if C is None else np.linalg.eigh(C)


def _centered_projection(
    spark: SparkSession, sf_dir: str, rows, col: str
) -> DataFrame:
    """Every embedding centered on the per-dimension means and dotted
    with each vector of ``rows``: flat ``(vec_id, col int, value)``,
    one row per vector and entry of ``rows``, value rounded to 6 dp.
    The means are one collect of a dim-row aggregate, and the vectors
    re-enter the plan as literals, so the projection is one
    shuffle-free map per row."""
    x = load_raw(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("e")
    )
    mean = (
        x.select(F.posexplode("e").alias("i", "xi"))
        .groupBy("i")
        .agg(F.avg("xi").alias("m"))
        .collect()
    )
    mu = [0.0] * EMB_DIM
    for r in mean:
        mu[r["i"]] = float(r["m"])
    centered = F.zip_with(
        F.col("e"), F.array(*[F.lit(v) for v in mu]), lambda a, b: a - b
    )
    out = F.array(
        *[_dot(centered, F.array(*[F.lit(float(w)) for w in row])) for row in rows]
    )
    return x.select("vec_id", F.posexplode(out).alias(col, "value")).select(
        "vec_id", F.col(col).cast("int").alias(col), F.round("value", 6).alias("value")
    )


# ----------------------------------------- IVF cell-balance report

_CELL_BALANCE_ORACLE = f"""WITH {_PINNED_CELLS_CTES},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM cells)
SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS share,
       ROUND(CAST(COUNT(*) AS DOUBLE) * {IVF_K} / t.total, 6) AS skew
FROM cells a, tot t GROUP BY a.cid, t.total"""


@register("sim_ivf_cell_balance", _CELL_BALANCE_ORACLE)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**IVF index balance report**: per-cell member count, corpus
    share, and skew factor (n · K / total — 1.0 = perfectly uniform).
    The audit every IVF deployment runs before trusting its nprobe
    latency budget: one hot cell means one straggler partition per
    query batch, and the fix (re-fit, split, or salt the hot cell) has
    to be driven by exactly this relation. Uses the PINNED centroid
    assignment (first IVF_K corpus vectors), so the whole report is
    hash-verified against the DuckDB oracle; the Lloyd-fitted index's
    balance is the same query over its rows-only assignment.

    Scale: assignment is the broadcast-centroid map-side argmax (no
    shuffle); the report aggregates into exactly IVF_K groups."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "cid int, n long, share double, skew double"
        )
    counts = (
        _with_cell(base, cents).groupBy("cid").agg(F.count("*").cast("long").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") * F.lit(IVF_K) / F.col("total"), 6).alias("skew"),
        )
    )


# ------------------------------------------------- ZCA whitening

#: Eigenvalue floor for the whitening inverse square root.
WHITEN_EPS = 1e-6


@register("sim_whiten_project")  # eigendecomposition → rows-only by nature
def sim_whiten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**ZCA whitening** of the embedding corpus: x̂ = W(x − μ) with
    W = V Λ^{-1/2} Vᵀ from the covariance eigendecomposition — the
    decorrelation step that fixes anisotropic embedding spaces before
    cosine-based retrieval (whitening famously repairs sentence-
    embedding similarity) and before SQ8/PQ quantization (uniform
    per-dim variance = uniform quantizer load).

    Same bounded-model-state shape as :func:`sim_pca_project`: dim²
    covariance aggregate → driver-side eigh → W re-enters as plan
    literals → one shuffle-free map per row. Eigenvalues are floored
    at ``WHITEN_EPS`` before the inverse square root so near-null
    directions don't explode. Output is flat (vec_id, dim, value),
    rows-only by nature; pytest asserts the whitened sample covariance
    is ≈ identity on the non-degenerate spectrum."""
    eig = _cov_eigh(spark, sf_dir)
    if eig is None:
        return spark.createDataFrame([], "vec_id long, dim int, value double")
    evals, evecs = eig
    scale = 1.0 / np.sqrt(np.maximum(evals, WHITEN_EPS))
    W = (evecs * scale) @ evecs.T  # ZCA: V Λ^-1/2 Vᵀ
    return _centered_projection(spark, sf_dir, W, "dim")


# --------------------------- diagonal whitening, fully oracle-backed

#: The published z-score of :func:`sim_whiten_diag_project`, over
#: ``xs`` joined to the per-dimension moments ``mom``.
_WHITEN_Z_SQL = """(CAST(xi AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        / SQRT((CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(n AS DOUBLE) + 1000000.0)"""

_WHITEN_DIAG_ORACLE = f"""WITH {_PPM_GRID_CTE},
{_PPM_CELLS_CTE},
mom AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xi) AS HUGEINT) AS sx,
         CAST(SUM(xi * xi) AS HUGEINT) AS sxx
  FROM xs GROUP BY i
)
SELECT xs.vec_id, xs.i AS dim, {ppm_value_sql(_WHITEN_Z_SQL)} AS value
FROM xs JOIN mom ON xs.i = mom.i"""


@register("sim_whiten_diag_project", _WHITEN_DIAG_ORACLE)
def sim_whiten_diag_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Diagonal (variance-only) whitening, fully oracle-backed** —
    the hash-certified twin of the rows-only :func:`sim_whiten_project`
    (whose full ZCA rotation needs the driver-side eigh): standardize
    every dimension, x̂ᵢ = (xᵢ − μᵢ)/√(varᵢ + ε), the per-feature
    z-score that IS the whitening matrix restricted to its diagonal.
    The embedding-pipeline use is the same (uniform per-dim scale
    before SQ8/PQ quantization and distance mixing); what it forgoes
    is only the cross-dim decorrelation, which stays with the ZCA form
    and its identity-covariance pytest.

    Hash safety without any driver state: inputs land on the 1e-6
    integer grid, the per-dim moments are EXACT integer sums
    (HUGEINT / DECIMAL(38,0)), and the published value is one mirrored
    IEEE tree — two divisions, one subtraction, one correctly-rounded
    SQRT (IEEE-754 guarantees sqrt to the bit, unlike ln/exp) — FLOOR-
    quantized to the 6-dp grid. Both engines therefore compute the
    same bits end to end; ε = WHITEN_EPS·1e12 raw units keeps
    degenerate dims finite exactly as in the ZCA form.

    Scale (100 TB): one map-side-combinable moment aggregate into
    exactly dim groups, then a broadcast join of the 64-row moment
    table back onto the exploded stream — shuffle bounded by dim ×
    partitions, projection at scan speed; no collect anywhere."""
    ex = _ppm_grid(spark, sf_dir).select("vec_id", F.posexplode("e").alias("i", "xi"))
    mom = ex.groupBy("i").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(38,0)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    z = (F.col("xi").cast("double") - sxd / nd) / F.sqrt(
        (sxxd - sxd * sxd / nd) / nd + F.lit(1000000.0)
    )
    return (
        ex.join(F.broadcast(mom), "i")
        .select(
            "vec_id",
            F.col("i").cast("int").alias("dim"),
            ppm_value(z).alias("value"),
        )
    )


# --------------------------------- PC1 projection, fully oracle-backed

#: Matrix-squaring rounds for the dominant-eigenvector read-out:
#: C^(2^PC1_SQUARINGS). Squaring squares the λ1/λ2 ratio each round, so
#: even the near-isotropic synthetic spectrum (λ1/λ2 ≈ 1.013 at sf0.01)
#: separates by round 10: ratio^1024 ≈ 4e5 ≫ the 1e-6 quantization
#: noise floor; the prototype measured |cos(w, numpy PC1)| = 1.0 there.
PC1_SQUARINGS = 10


def _pc1_idiv(a: int, b: int) -> int:
    """Integral division, truncation toward zero — the semantics BOTH
    Spark ``div`` and DuckDB ``//`` use (verified: -7 div 2 = -3 in
    each). Python's ``//`` floors instead, hence this mirror."""
    q = abs(a) // b
    return -q if a < 0 else q


def _pc1_weights(cov_ppm: dict[tuple[int, int], int]) -> list[int]:
    """Exact-integer dominant eigenvector of the ppm covariance matrix,
    by PC1_SQUARINGS rounds of normalize-then-square — every operation
    integer, so Spark's driver-side run and the DuckDB CTE chain
    produce bit-identical vectors.

    Per round: T = S·S (int64-safe: |S| ≤ 1e6 ⇒ |T| ≤ 64·1e12), then
    S ← (T·1e6) idiv max|T| elementwise. Read-out: the column of the
    largest diagonal entry (diag(vvᵀ) peaks at the largest |v_i| —
    robust where "·ones" would cancel on sign-balanced eigenvectors),
    renormalized to the ppm grid and sign-pinned (largest-|w| entry
    positive, ties → lowest index — the sim_pca_project convention)."""
    import numpy as np

    S = np.zeros((EMB_DIM, EMB_DIM), dtype=np.int64)
    for (i, j), c in cov_ppm.items():
        S[i, j] = c
    # pre-normalize so |S| ≤ 1e6 holds for ANY input scale
    m0 = int(np.abs(S).max())
    if m0 > 0:
        S = np.array(
            [[_pc1_idiv(int(v) * 1_000_000, m0) for v in row] for row in S],
            dtype=np.int64,
        )
    for _ in range(PC1_SQUARINGS):
        T = S @ S  # exact: bounded well inside int64
        m = int(np.abs(T).max())
        if m == 0:
            S = T
            break
        S = np.array(
            [[_pc1_idiv(int(v) * 1_000_000, m) for v in row] for row in T],
            dtype=np.int64,
        )
    diag = [int(S[j, j]) for j in range(EMB_DIM)]
    jstar = max(range(EMB_DIM), key=lambda j: (diag[j], -j))
    w = [int(S[i, jstar]) for i in range(EMB_DIM)]
    mw = max(abs(v) for v in w)
    if mw > 0:
        w = [_pc1_idiv(v * 1_000_000, mw) for v in w]
    istar = max(range(EMB_DIM), key=lambda i: (abs(w[i]), -i))
    if w[istar] < 0:
        w = [-v for v in w]
    return w


def _pc1_oracle() -> str:
    """Unrolled DuckDB mirror: quantized covariance → PC1_SQUARINGS
    normalize-and-square rounds on the (i, j, c) matrix relation →
    max-diagonal column read-out → sign pin → exact-integer centered
    projection. HUGEINT throughout; ``//`` matches Spark ``div``."""
    head = f"""WITH {_COV_MOMENT_CTES},
covu AS MATERIALIZED (
  SELECT i, j,
         CAST(CAST(FLOOR((sxy - sx * sy / n) / n / 1e6 + 0.5) AS BIGINT)
              AS HUGEINT) AS c
  FROM g
),
covf AS MATERIALIZED (
  SELECT i, j, c FROM covu
  UNION ALL
  SELECT j AS i, i AS j, c FROM covu WHERE i <> j
),
m0 AS MATERIALIZED (SELECT MAX(ABS(c)) AS m FROM covf),
s0 AS MATERIALIZED (
  SELECT i, j,
         CASE WHEN m.m = 0 THEN c ELSE (c * 1000000) // m.m END AS c
  FROM covf, m0 m
)"""
    rounds = []
    for k in range(1, PC1_SQUARINGS + 1):
        rounds.append(f""",
t{k} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j, CAST(SUM(a.c * b.c) AS HUGEINT) AS c
  FROM s{k - 1} a JOIN s{k - 1} b ON a.j = b.i GROUP BY a.i, b.j
),
m{k} AS MATERIALIZED (SELECT MAX(ABS(c)) AS m FROM t{k}),
s{k} AS MATERIALIZED (
  SELECT i, j,
         CASE WHEN m.m = 0 THEN c ELSE (c * 1000000) // m.m END AS c
  FROM t{k}, m{k} m
)""")
    S = f"s{PC1_SQUARINGS}"
    tail = f""",
jstar AS MATERIALIZED (SELECT i AS j FROM {S} WHERE i = j ORDER BY c DESC, i ASC LIMIT 1),
wraw AS MATERIALIZED (SELECT s.i, s.c AS w FROM {S} s, jstar WHERE s.j = jstar.j),
mw AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM wraw),
wn AS MATERIALIZED (
  SELECT i, CASE WHEN m.m = 0 THEN w ELSE (w * 1000000) // m.m END AS w
  FROM wraw, mw m
),
pin AS MATERIALIZED (
  SELECT CASE WHEN (SELECT w FROM wn ORDER BY ABS(w) DESC, i ASC LIMIT 1) < 0
              THEN -1 ELSE 1 END AS sg
),
wf AS MATERIALIZED (SELECT i, w * sg AS w FROM wn, pin),
{_PPM_CELLS_CTE},
ncte AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
colsum AS MATERIALIZED (SELECT i, CAST(SUM(xi) AS HUGEINT) AS sx FROM xs GROUP BY i),
swc AS MATERIALIZED (SELECT CAST(SUM(c.sx * w.w) AS HUGEINT) AS sw
        FROM colsum c JOIN wf w ON c.i = w.i),
srow AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(CAST(xi AS HUGEINT) * w.w) AS HUGEINT) AS s
  FROM xs JOIN wf w ON xs.i = w.i GROUP BY vec_id
)
SELECT vec_id,
       CAST((s.s * n.n - c.sw) // (n.n * 1000000) AS BIGINT) AS pc1_ppm,
       CAST(CAST((s.s * n.n - c.sw) // (n.n * 1000000) AS BIGINT) AS DOUBLE)
         / 1e6 AS value
FROM srow s, ncte n, swc c"""
    return head + "".join(rounds) + tail


@register("sim_pca_pc1_project", _pc1_oracle())
def sim_pca_pc1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Dominant-component PCA projection, fully oracle-backed** — the
    hash-certified twin of the rows-only :func:`sim_pca_project`
    (whose top-K loadings come from a driver-side ``eigh`` no SQL
    engine re-derives). Here the eigenvector itself is re-derived by
    BOTH engines: the exact-integer covariance (same moments as
    `sim_embedding_covariance`) is squared ``PC1_SQUARINGS`` times with
    a ppm renormalization between rounds — C^(2^k), the
    `ef_markov_attribution` power-by-squaring playbook — and read out
    via the max-diagonal column, so the spectral-gap wall that stalls
    plain power iteration on near-isotropic spectra squares away
    (ratio^(2^10) ≫ quantization noise by round 10).

    Every step is integer arithmetic (DECIMAL(38,0)/HUGEINT sums, one
    truncating integral division per normalization), so Spark's
    bounded-state driver run and the DuckDB CTE chain produce
    bit-identical eigenvectors AND projections — no float touches the
    hash path. The projection is centered via the exact identity
    proj·1e6 = (s·n − Σᵢsxᵢwᵢ) / (n·1e6) with s = Σᵢ xᵢ_ppm·wᵢ per row,
    one integral division per row.

    Scale (100 TB): identical envelope to `sim_pca_project` — the only
    corpus-sized pass is the covariance moment aggregate (dim²-bounded
    shuffle) and the final shuffle-free map projection; the squaring
    loop runs on a dim² relation, costing 64³ multiplies per round
    wherever it runs. Bound contract: |x| < 2^53/(n·1e12) per the
    DECIMAL(38,0) sums; int64 holds the driver-side T = S·S because
    |S| ≤ 1e6 by construction."""
    C = _cov_matrix(spark, sf_dir)
    if C is None:
        return spark.createDataFrame([], "vec_id long, pc1_ppm long, value double")
    w = _pc1_weights(
        {  # exact: cov IS ppm/1e6
            (i, j): int(round(float(C[i, j]) * 1_000_000))
            for i in range(EMB_DIM)
            for j in range(EMB_DIM)
        }
    )

    x = _ppm_grid(spark, sf_dir)
    # one fused pass: per-dim exact sums AND n (every dim group holds
    # exactly one entry per vector, so any group's count IS n) — no
    # separate x.count() job
    sums = (
        x.select(F.posexplode("e").alias("i", "xi"))
        .groupBy("i")
        .agg(
            F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    n = int(sums[0]["n"]) if sums else 0
    sx = [0] * EMB_DIM
    for r in sums:
        sx[r["i"]] = int(r["sx"])
    sw = sum(sx[i] * w[i] for i in range(EMB_DIM))

    w_lit = F.array(*[F.lit(int(v)).cast("long") for v in w])
    s = F.aggregate(
        F.zip_with(F.col("e"), w_lit, lambda a, b: a * b),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )
    return (
        x.withColumn("s", s)
        .select(
            "vec_id",
            F.expr(
                f"CAST((s * {n} - CAST('{sw}' AS DECIMAL(38,0))) AS DECIMAL(38,0))"
                f" div CAST('{n * 1_000_000}' AS DECIMAL(38,0))"
            ).alias("pc1_ppm"),
        )
        .select(
            "vec_id",
            "pc1_ppm",
            (F.col("pc1_ppm").cast("double") / F.lit(1e6)).alias("value"),
        )
    )


# ---------------------------------------------- ANN recall@K audit

def _ann_recall_oracle() -> str:
    from ..registry import _REGISTRY

    bf = _REGISTRY["sim_bruteforce_topk"].oracle
    ivf = _REGISTRY["sim_ivf_topk_pinned"].oracle
    return f"""WITH bf AS (
{bf}
), ivf AS (
{ivf}
), spine AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_eff FROM bf GROUP BY query_id
), hits AS (
  SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM bf b JOIN ivf i
    ON i.query_id = b.query_id AND i.corpus_id = b.corpus_id
  GROUP BY b.query_id
)
SELECT s.query_id, s.k_eff,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / s.k_eff, 6) AS recall
FROM spine s LEFT JOIN hits h ON h.query_id = s.query_id"""


@register("sim_ann_recall_report", _ann_recall_oracle())
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**ANN recall@K audit**: per-query recall of the pinned IVF index
    against the exact brute-force top-K, computed in ONE query — the
    production health metric for any approximate index ("is nprobe
    high enough for THIS corpus?") as a registered, oracle-checked
    relation rather than a notebook one-off. Both component oracles
    are embedded verbatim, so the audit cannot drift from the
    operators it measures (same pattern as ``dedup_method_agreement``).

    Plan: both rankings are the already-verified candidate-generation
    plans; the audit adds one equi-join on (query, candidate) and a
    per-query count — grouped on the N_QUERIES-bounded key, never
    corpus-sized. At 100 TB you run this on a sampled query set the
    same way: recall audits are O(queries·K), independent of corpus
    size."""
    bf = sim_bruteforce_topk(spark, sf_dir).select("query_id", "corpus_id")
    ivf = sim_ivf_topk_pinned(spark, sf_dir).select("query_id", "corpus_id")
    spine = bf.groupBy("query_id").agg(F.count("*").cast("long").alias("k_eff"))
    hits = (
        bf.join(ivf, ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        spine.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_eff",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_eff").cast("double"),
                6,
            ).alias("recall"),
        )
    )


# ------------------------------------------- nprobe→recall tuning curve

#: The nprobe operating points swept by the recall curve (max must not
#: exceed IVF_K; IVF_NPROBE is the production point, included).
NPROBE_SWEEP = (1, 2, IVF_NPROBE)


def _nprobe_curve_oracle() -> str:
    from ..registry import _REGISTRY

    bf = _REGISTRY["sim_bruteforce_topk"].oracle
    per_n = []
    for n in NPROBE_SWEEP:
        probed = f"(SELECT * FROM scored WHERE cell_rank <= {n})"
        per_n.append(
            f"""topk_{n} AS (
  SELECT query_id, corpus_id FROM (
{_top_k_sql(probed, rank="r")}
  )
), hits_{n} AS (
  SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS h
  FROM bf b JOIN topk_{n} t
    ON t.query_id = b.query_id AND t.corpus_id = b.corpus_id
  GROUP BY b.query_id
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({n} AS INTEGER) AS nprobe, s.query_id, s.k_eff,
       CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE) / s.k_eff, 6) AS recall
FROM spine s LEFT JOIN hits_{n} h ON h.query_id = s.query_id"""
        for n in NPROBE_SWEEP
    )
    return f"""WITH bf AS (
{bf}
), {_PINNED_CELLS_CTES}, {_ivf_cand_ctes(max(NPROBE_SWEEP))}, {_SCORED_CTE}, spine AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_eff FROM bf GROUP BY query_id
), {", ".join(per_n)}
{selects}"""


@register("sim_nprobe_recall_curve", _nprobe_curve_oracle())
def sim_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**nprobe→recall tuning curve**: per-query recall@K of the pinned
    IVF index at each operating point in ``NPROBE_SWEEP``, against the
    exact brute-force top-K — the curve that answers "what nprobe do I
    need for recall ≥ X?" empirically, as one registered relation. The
    point audit (``sim_ann_recall_report``) is this curve evaluated at
    ``IVF_NPROBE`` only; here candidates are generated ONCE at the
    sweep maximum with their probe rank attached, and each operating
    point is a filter + re-rank over that shared relation — a corpus
    item sits in exactly one cell, so ``cell_rank ≤ n`` reproduces the
    n-probe candidate set exactly.

    Plan: one probe-UDF pass at max(nprobe) + one broadcast cell join
    builds the shared scored-candidate relation (persisted across the
    sweep, released on exit); each sweep point adds only a
    query-partitioned top-K window over O(queries · corpus/IVF_K ·
    nprobe) rows and a count join against the O(queries·K) exact set.
    At 100 TB the sweep cost is candidate generation, paid once."""
    base = _emb_base(spark, sf_dir)
    cents = _pinned_centroids(base)
    if not cents:
        return spark.createDataFrame(
            [], "nprobe int, query_id long, k_eff long, n_hits long, recall double"
        )
    cands = bsp.persist(_ivf_flat_scored(base, cents, max(NPROBE_SWEEP)))
    bf = bsp.persist(
        sim_bruteforce_topk(spark, sf_dir)
        .select("query_id", "corpus_id")
    )
    spine = bf.groupBy("query_id").agg(F.count("*").cast("long").alias("k_eff"))
    slices = []
    for n in NPROBE_SWEEP:
        topk = _top_k(cands.filter(F.col("cell_rank") <= n), rank="r").select(
            "query_id", "corpus_id"
        )
        hits = (
            bf.join(topk, ["query_id", "corpus_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias("h"))
        )
        slices.append(
            spine.join(hits, "query_id", "left").select(
                F.lit(n).cast("int").alias("nprobe"),
                "query_id",
                "k_eff",
                F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
                F.round(
                    F.coalesce(F.col("h"), F.lit(0)) / F.col("k_eff").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return bsp.checkpoint_result(out)


# ------------------------------------------- Lloyd k-means, verified

#: Lloyd rounds / cluster count for the oracle-verified fit: the rounds
#: run as distributed dataflow and every round is hash-verified
#: against an unrolled-CTE DuckDB twin — the fit itself is the query.
#: The pinned indexes above take this module's only other centroids,
#: the first ``IVF_K`` vectors, without a fit.
KM_K = 8
KM_ROUNDS = 2

_KM_D2 = (
    "ROUND(list_sum(list_transform(range(1, {dim1}), "
    "i -> (b.e[i] - c.ce[i]) * (b.e[i] - c.ce[i]))), 6)"
).format(dim1=EMB_DIM + 1)

_KM_ASSIGN = """{name} AS (
  SELECT vec_id, e, cid, d2q FROM (
    SELECT vec_id, e, cid, d2q,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2q, cid) AS rn
    FROM (
      SELECT b.vec_id, b.e, c.cid, {d2} AS d2q
      FROM base b CROSS JOIN {cents} c
    )
  ) WHERE rn = 1
)"""

_KM_UPDATE = """{name} AS (
  SELECT cid, list(m ORDER BY dim) AS ce FROM (
    SELECT cid, dim, ROUND(AVG(x), 6) AS m FROM (
      SELECT cid, unnest(e) AS x, generate_subscripts(e, 1) AS dim
      FROM {assign}
    ) GROUP BY cid, dim
  ) GROUP BY cid
)"""

_KM_ORACLE = f"""WITH base AS (
  SELECT vec_id, {_EMB_CAST} AS e FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, e AS ce FROM base WHERE vec_id < {KM_K}
), {_KM_ASSIGN.format(name="a1", cents="c0", d2=_KM_D2)},
{_KM_UPDATE.format(name="c1", assign="a1")},
{_KM_ASSIGN.format(name="a2", cents="c1", d2=_KM_D2)}
SELECT a2.cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(SUM(CAST(d2q AS DECIMAL(28,6))) AS DOUBLE), 6) AS inertia,
       ROUND(MAX(list_sum(list_transform(c1.ce, x -> x * x))), 6)
         AS centroid_sqnorm
FROM a2 JOIN c1 ON a2.cid = c1.cid
GROUP BY a2.cid"""


def _km_assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd assignment pass: nearest (6-dp-quantized squared L2,
    lowest-cid tiebreak) of a broadcast centroid set."""
    d2 = F.round(
        F.aggregate(
            F.zip_with("e", "ce", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy("d2q", "cid")
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("d2q", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "cid", "d2q")
    )


def _km_update(assign: DataFrame) -> DataFrame:
    """One Lloyd update pass: per-dimension means, 6-dp-quantized so the
    next round's assignments compare identical centroids on both
    engines."""
    return (
        assign.select("cid", F.posexplode("e").alias("dim0", "x"))
        .groupBy("cid", "dim0")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "m"))),
                lambda s: s["m"],
            ).alias("ce")
        )
    )


@register("sim_kmeans_lloyd", _KM_ORACLE)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Distributed Lloyd k-means — the fit itself oracle-verified.**
    K=8 clusters, 2 unrolled rounds from a pinned init (the first K
    vectors by id): assign = broadcast-centroid nearest-neighbor pass
    (squared L2 quantized at 6 dp, lowest-cid tiebreak), update =
    per-(cluster, dimension) mean re-quantized at 6 dp. Output: final
    cluster sizes, inertia (per-member quantized distances accumulated
    in DECIMAL — no order-dependent float summation), and centroid
    norms.

    The quantize-each-round discipline is what makes a *fit* (not just
    an application of pinned parameters) hash-comparable across
    engines: both sides always compare/average identical 6-dp numbers,
    so assignment boundaries can't drift on float associativity.

    Scale: each round is one broadcast join (K×D doubles) + one
    hash aggregate of K·D cells — the classic Spark k-means shape; no
    driver loop, no collect, rounds unroll into a single DAG."""
    emb = load_raw(spark, sf_dir, "embeddings")
    # base feeds every round's assign pass, and each round's K-row
    # centroid table feeds BOTH the next assign and (for the last
    # round) the final stats join — with no cross-subtree CSE the
    # uncut chain re-ran earlier rounds per reference (r12 scan audit:
    # 5 duplicate scans). Persist base; eagerly checkpoint each K×D
    # centroid table (tiny) to truncate the per-round lineage.
    base = bsp.persist(emb.select("vec_id", _as_double("embedding").alias("e")))
    c0 = base.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    # unroll: assign(c0) -> update -> assign(c1) -> ... ; the final
    # stats join the last assignment with the centroids it was
    # assigned against (c1 in the 2-round twin)
    prev_cents = c0
    assign = _km_assign(base, prev_cents)
    for _ in range(KM_ROUNDS - 1):
        prev_cents = _km_update(assign).localCheckpoint(eager=True)
        assign = _km_assign(base, prev_cents)
    sqnorm = F.aggregate(
        F.col("ce"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    out = (
        assign.join(prev_cents, "cid")
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("d2q").cast("decimal(28,6)")).cast("double"), 6
            ).alias("inertia"),
            F.round(F.max(sqnorm), 6).alias("centroid_sqnorm"),
        )
    )
    return bsp.checkpoint_result(out)


# ----------------------------------------------- embedding drift audit

@register(
    "sim_embedding_drift",
    """WITH halves AS (
  SELECT vec_id % 2 AS half, i - 1 AS dim, e AS v
  FROM (
    SELECT vec_id, unnest(embedding) AS e,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
), mom AS (
  SELECT dim,
         AVG(CASE WHEN half = 0 THEN CAST(v AS DOUBLE) END) AS mu_ref,
         AVG(CASE WHEN half = 1 THEN CAST(v AS DOUBLE) END) AS mu_new,
         STDDEV_POP(CASE WHEN half = 0 THEN CAST(v AS DOUBLE) END)
           AS sd_ref,
         STDDEV_POP(CASE WHEN half = 1 THEN CAST(v AS DOUBLE) END)
           AS sd_new
  FROM halves GROUP BY dim
)
SELECT CAST(dim AS INTEGER) AS dim,
       ROUND(mu_ref, 6) AS mu_ref,
       ROUND(mu_new, 6) AS mu_new,
       ROUND(ABS(mu_new - mu_ref), 6) AS abs_mean_shift,
       ROUND(sd_new / sd_ref, 6) AS sd_ratio
FROM mom""",
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Per-dimension embedding drift audit** between a reference and
    a candidate corpus half (pinned ``vec_id % 2`` split — in
    production, yesterday's embeddings vs today's, or model v1 vs
    v2): mean shift and spread ratio per dimension. The regression
    alarm BEFORE re-indexing 100 TB of vectors — a handful of
    dimensions with large |Δμ| or sd ratio far from 1 means the
    embedding model changed under you and every pinned IVF/PQ index
    (:func:`sim_ivf_topk_pinned`) is scoring stale geometry.

    Plan: one posexplode to (half, dim, value) rows, ONE (dim)-keyed
    aggregate computing both halves' moments via conditional
    aggregation — no join between halves, no per-vector work beyond
    the explode. Output is D rows regardless of corpus size.

    Scale: the exploded relation is rows×D but reduces map-side into
    D groups; conditional AVG/STDDEV are single-pass combinable. The
    same shape as the covariance op minus its dim² pair fan-out."""
    emb = load_raw(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    ref = F.when(F.col("half") == 0, F.col("v"))
    new = F.when(F.col("half") == 1, F.col("v"))
    return (
        ex.groupBy("dim")
        .agg(
            F.avg(ref).alias("mu_ref"),
            F.avg(new).alias("mu_new"),
            F.stddev_pop(ref).alias("sd_ref"),
            F.stddev_pop(new).alias("sd_new"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round("mu_ref", 6).alias("mu_ref"),
            F.round("mu_new", 6).alias("mu_new"),
            F.round(F.abs(F.col("mu_new") - F.col("mu_ref")), 6).alias(
                "abs_mean_shift"
            ),
            F.round(F.col("sd_new") / F.col("sd_ref"), 6).alias(
                "sd_ratio"
            ),
        )
    )


# ---------------------------------------------- dup-family report

def _family_report_oracle() -> str:
    return f"""WITH comp AS (
  SELECT * FROM (
{_COMPONENTS_ORACLE}
  ) q
), sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
  FROM comp GROUP BY component
)
SELECT CAST(LENGTH(bin(sz)) - 1 AS INTEGER) AS bucket,
       CAST(POWER(2, LENGTH(bin(sz)) - 1) AS BIGINT) AS lo,
       CAST(POWER(2, LENGTH(bin(sz))) - 1 AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_families,
       CAST(SUM(sz) AS BIGINT) AS n_vectors
FROM sizes GROUP BY 1, 2, 3"""


@register("sim_dup_family_report", _family_report_oracle())
def sim_dup_family_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Near-dup family size distribution** (log₂-binned): how many
    dedup components of size 1, 2–3, 4–7, … exist and how many
    vectors they hold — the dedup-ROI summary read off
    :func:`sim_neardup_components` (bucket 0 = singletons = untouched
    by dedup; everything else loses size−1 copies per family; one
    giant bucket = a template family worth inspecting before
    deleting). Size buckets share the degree histogram's binary-length
    convention — no float log2 at exact powers of two.

    Scale: the components loop is the only data-sized work (already
    bounded, see its docstring); the report is a component-keyed
    count, a bounded-bucket aggregate, both map-side combinable."""
    comp = sim_neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    blen = F.length(F.bin(F.col("sz")))
    return (
        sizes.groupBy(
            (blen - 1).cast("int").alias("bucket"),
            F.pow(F.lit(2), blen - 1).cast("bigint").alias("lo"),
            (F.pow(F.lit(2), blen) - 1).cast("bigint").alias("hi"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_families"),
            F.sum("sz").cast("bigint").alias("n_vectors"),
        )
    )


# ---------------------------------------------- kNN label agreement

#: Leave-one-out kNN probe: every 5th vector queries, K neighbors.
KNN_PROBE_MOD = 5
KNN_K = 5


@register(
    "sim_knn_label_agreement",
    f"""WITH vecs AS (
  SELECT vec_id, label, {_EMB_CAST} AS e FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS corpus_id, c.label AS c_label,
         ROUND({_cos_sql("q.e", "c.e")}, 6) AS cos_q
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {KNN_PROBE_MOD} = 0
), topk AS (
  SELECT query_id, true_label, c_label FROM (
{_top_k_sql("pairs", k=KNN_K, score="cos_q", rank="rn")}
  )
), votes AS (
  SELECT query_id, true_label, c_label, COUNT(*) AS v
  FROM topk GROUP BY query_id, true_label, c_label
), pred AS (
  SELECT query_id, true_label, c_label AS pred_label FROM (
    SELECT query_id, true_label, c_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY v DESC, c_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT CAST(true_label AS INTEGER) AS true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM pred GROUP BY true_label""",
)
def sim_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Leave-one-out kNN label agreement**: every ``KNN_PROBE_MOD``-th
    vector queries the rest, its ``KNN_K`` nearest cosine neighbors
    vote (majority, ties to the smallest label), and per true label we
    report how often the vote recovers it — the standard
    embedding-quality probe ("do same-label points cluster?") that
    catches a bad embedding model or corrupted labels before anything
    downstream trains on them. Companion to
    :func:`sim_label_outliers` (that scores individual points; this
    scores the space).

    Determinism: cosine quantized to 6 dp BEFORE the neighbor rank
    (corpus_id tiebreak), votes tie to the smallest label — both
    rankings hash-stable.

    Scale: the probe subset broadcasts against the corpus exactly like
    :func:`sim_bruteforce_topk` (one corpus scan, window per query);
    at 100 TB swap the exact scorer for the pinned IVF index probes —
    the vote/report stages are unchanged."""
    base = _emb_base(spark, sf_dir, "label")
    corpus = base.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("label").alias("c_label"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    probes = base.filter(F.col("vec_id") % KNN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    pairs = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "corpus_id",
            "c_label",
            F.round(_cosine("q_emb", "c_emb", "q_norm", "c_norm"), 6).alias("cos_q"),
        )
    )
    topk = _top_k(pairs, k=KNN_K, score="cos_q", rank="rn")
    votes = topk.groupBy("query_id", "true_label", "c_label").agg(
        F.count("*").alias("v")
    )
    pred = votes.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("v").desc(), F.col("c_label")
            )
        ),
    ).filter(F.col("rn") == 1)
    return pred.groupBy(
        F.col("true_label").cast("int").alias("true_label")
    ).agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.sum((F.col("c_label") == F.col("true_label")).cast("int"))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(
                (F.col("c_label") == F.col("true_label")).cast("int")
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


# ------------------------------------------------- NN-descent round

def _nnd_topk_sql(src: str, name: str) -> str:
    """Top-K neighbor selection CTE over a (u, v) candidate relation
    ``src`` — the pinned :func:`_top_k_sql` ranking per ``u``.
    MATERIALIZED: DuckDB inlines CTEs by default, and g0 feeds undir
    (twice), cand1, and the final recall join — without materialization
    the million-row cosine window re-executes per reference (measured
    6× at sf0.1, 52 s → 4 s). The Spark side localCheckpoints g0 for
    the same reason."""
    scored = f"""(
    SELECT s.u, s.v, {_cos_sql("pu.e", "pv.e")} AS cosine
    FROM {src} s
    JOIN proj pu ON pu.vec_id = s.u
    JOIN proj pv ON pv.vec_id = s.v
  )"""
    return f"""{name} AS MATERIALIZED (
  SELECT u, v FROM (
{_top_k_sql(scored, by="u", item="v", rank="r")}
  )
)"""


def _nndescent_oracle() -> str:
    exact = f"""(
    SELECT pu.vec_id AS u, pv.vec_id AS v
    FROM proj pu JOIN proj pv ON pv.vec_id <> pu.vec_id
    WHERE pu.vec_id < {N_QUERIES}
  )"""
    return f"""WITH {_lsh_sig_ctes(LSH_TABLES, LSH_BITS)},
cand0 AS (
  SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
  FROM tb a JOIN tb b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
{_nnd_topk_sql("cand0", "g0")},
undir AS (SELECT u, v FROM g0 UNION SELECT v AS u, u AS v FROM g0),
cand1 AS (
  SELECT DISTINCT x.u AS u, y.v AS v
  FROM undir x JOIN undir y ON x.v = y.u AND x.u <> y.v
  UNION
  SELECT u, v FROM g0
),
{_nnd_topk_sql("cand1", "g1")},
{_nnd_topk_sql(exact, "exact")}
SELECT e.u AS query_id,
       ROUND(SUM(CASE WHEN g0.v IS NOT NULL THEN 1.0 ELSE 0.0 END)
             / {TOP_K}, 6) AS recall_init,
       ROUND(SUM(CASE WHEN g1.v IS NOT NULL THEN 1.0 ELSE 0.0 END)
             / {TOP_K}, 6) AS recall_refined
FROM exact e
LEFT JOIN g0 ON g0.u = e.u AND g0.v = e.v
LEFT JOIN g1 ON g1.u = e.u AND g1.v = e.v
GROUP BY e.u"""


@register("sim_nndescent_round", _nndescent_oracle())
def sim_nndescent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**One NN-descent refinement round over the LSH-initialized kNN
    graph** (Dong et al. 2011 — the graph-based ANN family behind
    HNSW/NSG, in its embarrassingly-parallel batch form): build the
    initial top-{TOP_K} neighbor graph for EVERY node from LSH-bucket
    candidates (the :func:`sim_lsh_topk` machinery, all nodes as
    queries), then exploit "a neighbor of my neighbor is likely my
    neighbor": candidates = two-hop pairs over the UNDIRECTED graph
    (forward + reverse edges — reverse neighbors matter, a node with
    high in-degree routes many improvements) unioned with the current
    edges, re-scored exactly, re-ranked top-{TOP_K}. Emits per
    evaluation query (vec_id < {N_QUERIES}) the recall against the
    exact brute-force top-{TOP_K} BEFORE and AFTER the round. Because
    the refined candidate set contains every current edge, recall is
    provably non-decreasing (pinned in pytest).

    Scale: the expensive leg is the all-nodes LSH bucket join — the
    same candidate economics as :func:`sim_neardup_pairs_lsh` (bucket
    cells, never all-pairs). The NND round itself is two keyed
    self-joins over an O(N·K) edge relation: candidate count is
    bounded by Σ_v deg(v)² with deg ≈ 2K — independent of corpus
    width. Per round state is the edge list, O(N·K) ids; at 100 TB
    this is the standard iterated kNN-graph build (each extra round =
    one more self-join, no new scan of the embeddings).
    """
    emb = load_raw(spark, sf_dir, "embeddings")
    # shared by all three scoring legs (init, refined, exact) — persist
    # once, released by the query scope after checkpoint_result below
    blocks = bsp.persist(_vec_blocks(emb))

    def score(cand: DataFrame) -> DataFrame:
        """Exact cosine over a (u, v) id relation via the blocked numpy
        scorer over the shared layout, not the Catalyst ``_dot`` fold,
        which evaluates interpreted per element and would dominate the
        per-task cost of both scoring legs."""
        return _score_candidates_blocked(blocks, cand)

    def rank_topk(scored: DataFrame) -> DataFrame:
        return _top_k(scored, by="u", item="v", rank="r").select("u", "v")

    def topk(cand: DataFrame) -> DataFrame:
        return rank_topk(score(cand))

    # Score each unordered bucket pair ONCE (u < v halves the cosine
    # work of the dominant leg) and mirror: the scorer's per-pair sum is
    # element-ordered, so cos(u,v) and cos(v,u) are bit-identical.
    cand0_lt = _lsh_pairs(emb, LSH_TABLES, LSH_BITS)
    # Each stage below is read more than once downstream (sc_lt by both
    # mirror halves, g0 by undir, cand1 and the recall join, undir by
    # its self-join, g1 by the recall join), and each is built from the
    # one before, so each truncates with an eager localCheckpoint (the
    # loop rule in operators/bsp.py). Persisting them instead nests
    # every earlier stage in each later one's plan: at sf0.001 the
    # final execution's plan description was 2,685 KB.
    sc_lt = score(cand0_lt).localCheckpoint(eager=True)
    g0 = rank_topk(
        sc_lt.unionByName(
            sc_lt.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "cosine"
            )
        )
    ).localCheckpoint(eager=True)
    undir = (
        g0.unionByName(g0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand1 = (
        undir.alias("x")
        .join(undir.alias("y"), F.col("x.v") == F.col("y.u"))
        .filter(F.col("x.u") != F.col("y.v"))
        .select(F.col("x.u").alias("u"), F.col("y.v").alias("v"))
        .unionByName(g0)
        .distinct()
    )
    g1 = topk(cand1).localCheckpoint(eager=True)

    ids = emb.select("vec_id")
    exact = topk(
        _query_rows(ids)
        .select(F.col("query_id").alias("u"))
        .crossJoin(ids.select(F.col("vec_id").alias("v")))
        .filter(F.col("u") != F.col("v"))
    )
    out = (
        exact.alias("e")
        .join(
            g0.withColumn("hit0", F.lit(1)).alias("g0"),
            (F.col("e.u") == F.col("g0.u")) & (F.col("e.v") == F.col("g0.v")),
            "left",
        )
        .join(
            g1.withColumn("hit1", F.lit(1)).alias("g1"),
            (F.col("e.u") == F.col("g1.u")) & (F.col("e.v") == F.col("g1.v")),
            "left",
        )
        .groupBy(F.col("e.u").alias("query_id"))
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit0"), F.lit(0))).cast("double") / TOP_K, 6
            ).alias("recall_init"),
            F.round(
                F.sum(F.coalesce(F.col("hit1"), F.lit(0))).cast("double") / TOP_K, 6
            ).alias("recall_refined"),
        )
    )
    return bsp.checkpoint_result(out)


sim_nndescent_round.__doc__ = (
    sim_nndescent_round.__doc__
    .replace("{TOP_K}", str(TOP_K))
    .replace("{N_QUERIES}", str(N_QUERIES))
)


# ------------------------------------------------- multi-probe LSH

#: Multi-probe table count: the POINT of multi-probe (Lv et al. 2007,
#: VLDB) is recovering recall with far fewer tables — each query
#: probes its home bucket plus every 1-bit-flip neighbor, so 2 tables
#: x (1 + LSH_BITS) probes approach the 8-table single-probe recall at
#: a quarter of the index size. Index size is THE cost at 100 TB: each
#: table is a full copy of the (bucket, vec_id) relation.
MP_TABLES = 2


def _multiprobe_oracle() -> str:
    return _lsh_probe_topk_sql(
        MP_TABLES,
        f"""  SELECT DISTINCT vec_id, tbl,
         CASE WHEN d = 0 THEN bucket
              ELSE xor(bucket, 1 << (d - 1)) END AS bucket
  FROM tb CROSS JOIN generate_series(0, {LSH_BITS}) g(d)
  WHERE vec_id < {N_QUERIES}""",
    )


@register("sim_multiprobe_lsh_topk", _multiprobe_oracle())
def sim_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Multi-probe LSH top-k** (Lv et al. 2007): instead of paying
    for more hash tables, each query ALSO probes the buckets whose
    signature differs from its own by one bit — the cells a true
    neighbor most likely fell into when it landed just across a
    hyperplane. Here {MP} tables x (1 home + {BITS} flip) probes
    replace sim_lsh_topk's {SINGLE} single-probe tables: the corpus
    index shrinks 4x (each table is a full (bucket, vec_id) copy — the
    dominant ANN index cost at 100 TB) while the candidate union stays
    comparable. Candidates are probe-bucket equi-join hits only (never
    all-pairs), re-scored exactly; the multi-probe candidate set is a
    strict superset of the same-table single-probe set, so recall can
    only improve (pinned in pytest against a numpy replay).

    Plan shape: corpus bucketed once per table, the probe relation is
    queries x (1 + {BITS}) rows broadcast into the bucket equi-join,
    then exact cosine + quantized-rank top-k over candidates — the
    sim_lsh_topk plan with a fatter (still tiny) broadcast side."""
    bucketed = _bucketed(load_raw(spark, sf_dir, "embeddings"), MP_TABLES, LSH_BITS)
    probe_ids = F.array(*[F.lit(d) for d in range(LSH_BITS + 1)])
    probes = (
        _query_rows(
            bucketed,
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "table",
            "bucket",
            F.explode(probe_ids).alias("d"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "table",
            F.when(F.col("d") == 0, F.col("bucket"))
            .otherwise(F.expr("bucket ^ (1 << (d - 1))"))
            .alias("bucket"),
        )
        .distinct()
    )
    return _lsh_probe_topk(bucketed, probes)


sim_multiprobe_lsh_topk.__doc__ = (
    sim_multiprobe_lsh_topk.__doc__
    .replace("{MP}", str(MP_TABLES))
    .replace("{BITS}", str(LSH_BITS))
    .replace("{SINGLE}", str(LSH_TABLES))
)
