"""F5-F10: similarity kernels (SURVEY §2.7), exact reference semantics.

The two kernels actually dispatched by the pipelines
(SimilarityAlgorithm.java:6-9; TF_IDF.java:195-200,
TextRank.java:267-274) are ``calculate_x`` (F5) and ``dot_product``
(F8); the rest are defined-but-uncalled in the reference and kept for
API parity.

Reference quirks preserved (they define output semantics, SURVEY §7.3):

- F5 is **not** true cosine: the denominator is ``|k1|·|k2|``
  (a product of membership counts, not √(|k1|·|k2|)) —
  CosineSimilarity.java:118-126.
- F8 is a **dot product** over shared words despite the class name
  ``EuclideanDistance`` — EuclideanDistance.java:29-43.

Engine divergence (documented): the reference returns NaN for empty
inputs (Java ``0d/0`` at CosineSimilarity.java:48,126); here empty
inputs yield ``0.0`` so downstream ``score > 0`` filters
(TextRank.java:275) behave identically without NaN propagation.

Each kernel exists two ways: pure Python (unit tests and ground
truth) and — where the algebra allows — a pure-SQL twin that stays
inside whole-stage codegen (F8 via ``map_zip_with``). J3's scale path
uses neither: F5 and F8 are algebraically eliminable into one
inverted-index equi-join (``scored_pairs`` in operators/joins.py); the
SQL twins back its naive cross-join twin.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


# --------------------------------------------------------------- pure python

def calculate_x(k1: Mapping[str, float] | None, k2: Mapping[str, float] | None) -> float:
    """F5 ``CosineSimilarity.calculateX`` (CosineSimilarity.java:88-127).

    ``|k1 ∩ k2| / (|k1| · |k2|)`` over keyword *words* (values ignored).
    """
    if not k1 or not k2:
        return 0.0
    s1, s2 = set(k1), set(k2)
    return len(s1 & s2) / (len(s1) * len(s2))


def fuzzy_overlap(k1: Mapping[str, float] | None, k2: Mapping[str, float] | None) -> float:
    """F6 ``CosineSimilarity.compute`` (CosineSimilarity.java:52-86):
    ``Σ_{w∈∩} min(v1,v2)² / Σ_{w∈∪} max(v1,v2)²`` (defined, not called
    by any driver)."""
    if not k1 and not k2:
        return 0.0
    union: dict[str, float] = dict(k1 or {})
    num = 0.0
    for w, v2 in (k2 or {}).items():
        if w in union:
            v1 = union[w]
            lo, hi = (v1, v2) if v1 <= v2 else (v2, v1)
            num += lo * lo
            union[w] = hi
        else:
            union[w] = v2
    den = sum(v * v for v in union.values())
    return num / den if den else 0.0


def boolean_overlap(k1: list[str] | None, k2: list[str] | None) -> float:
    """F7 ``CosineSimilarity.computeBoolean`` (CosineSimilarity.java:10-49):
    string-list F5 with null/empty guards.

    Documented divergence: the reference double-counts duplicate words
    within ``keywords1`` when building the union, inflating the
    denominators; here inputs are deduped via sets. In-pipeline inputs
    are keyword lists from ``vote()``/top-K, which are distinct by
    construction, so the paths agree on real data."""
    s1 = {w for w in (k1 or []) if w}
    s2 = {w for w in (k2 or []) if w}
    if not s1 or not s2:
        return 0.0
    return len(s1 & s2) / (len(s1) * len(s2))


def dot_product(k1: Mapping[str, float] | None, k2: Mapping[str, float] | None) -> float:
    """F8 ``EuclideanDistance.compute`` (EuclideanDistance.java:29-43):
    ``Σ_{w∈k1∩k2} v1(w)·v2(w)``."""
    if not k1 or not k2:
        return 0.0
    if len(k2) < len(k1):
        k1, k2 = k2, k1
    return sum(v * k2[w] for w, v in k1.items() if w in k2)


def rank_weighted_distance(k1: list[str], k2: list[str]) -> int:
    """F9 ``EuclideanDistance.calculate(String[], String[])``
    (EuclideanDistance.java:52-83): position-rank-weighted squared
    distance (defined, not called). Each side's word at rank i carries
    weight ``len1·len2 - i·lenOther``; shared words cancel."""
    len1, len2 = len(k1), len(k2)
    map2: dict[str, int] = {}
    multiple = len1 * len2
    for s2 in k2:
        map2[s2] = multiple
        multiple -= len1
    distance = 0
    multiple = len1 * len2
    for s1 in k1:
        if s1 in map2:
            temp = multiple - map2[s1]
            map2[s1] = 0
        else:
            temp = multiple
        distance += temp * temp
        multiple -= len2
    for temp in map2.values():
        distance += temp * temp
    return distance


def positive_correlation(k1: list[str], k2: list[str], len1: int, len2: int) -> int:
    """F10 ``EuclideanDistance.calculate(…, length1, length2)``
    (EuclideanDistance.java:94-112): positive-match variant (defined,
    not called)."""
    distance = 0
    multiple1 = len1 * len2
    for key1 in k1:
        if key1 is not None:
            multiple2 = len1 * len2
            for key2 in k2:
                if key1 == key2:
                    distance += multiple1 * multiple2
                multiple2 -= len1
        multiple1 -= len2
    return distance


def calculate_max(len1: int, len2: int) -> int:
    """F10 ``EuclideanDistance.calculateMax`` (EuclideanDistance.java:154-164):
    normalization bound for F9."""
    value = 0
    multiple = len1 * len2
    while multiple > 0:
        value += multiple * multiple
        multiple -= len1
    multiple = len1 * len2
    while multiple > 0:
        value += multiple * multiple
        multiple -= len2
    return value


# ------------------------------------------------------------- SQL twins

def dot_product_sql(k1: str | Column, k2: str | Column) -> Column:
    """F8 as a pure Catalyst expression (no Python boundary):
    ``map_zip_with`` pairs shared keys, ``aggregate`` sums the products.
    Stays inside whole-stage codegen — the preferred form in hot paths.
    """
    c1 = F.col(k1) if isinstance(k1, str) else k1
    c2 = F.col(k2) if isinstance(k2, str) else k2
    zipped = F.map_zip_with(c1, c2, lambda _, v1, v2: v1 * v2)
    total = F.aggregate(
        F.filter(F.map_values(zipped), lambda v: v.isNotNull()),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # map_zip_with propagates NULL maps; the kernel contract (and the
    # pandas-UDF twin) scores missing/empty inputs 0.0 so a downstream
    # `score > 0` filter treats them identically.
    return F.coalesce(total, F.lit(0.0))


def calculate_x_sql(k1: str | Column, k2: str | Column) -> Column:
    """F5 as a pure Catalyst expression over two map columns."""
    c1 = F.col(k1) if isinstance(k1, str) else k1
    c2 = F.col(k2) if isinstance(k2, str) else k2
    inter = F.size(F.array_intersect(F.map_keys(c1), F.map_keys(c2)))
    denom = F.size(F.map_keys(c1)) * F.size(F.map_keys(c2))
    return F.when(denom > 0, inter.cast("double") / denom).otherwise(F.lit(0.0))


def _sum_values(m: Column) -> Column:
    return F.aggregate(
        F.filter(F.map_values(m), lambda v: v.isNotNull()),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def fuzzy_overlap_sql(k1: str | Column, k2: str | Column) -> Column:
    """F6 as a pure Catalyst expression over two map columns:
    ``Σ_∩ min(v1,v2)² / Σ_∪ max(v1,v2)²``. ``map_zip_with`` yields the
    key union with NULL for the absent side; Spark's ``least``/
    ``greatest`` skip NULLs, which is exactly the union-merge the
    denominator needs (the numerator guards on both present)."""
    c1 = F.col(k1) if isinstance(k1, str) else k1
    c2 = F.col(k2) if isinstance(k2, str) else k2
    num_m = F.map_zip_with(
        c1,
        c2,
        lambda _, v1, v2: F.when(
            v1.isNotNull() & v2.isNotNull(), F.least(v1, v2) * F.least(v1, v2)
        ).otherwise(F.lit(0.0)),
    )
    den_m = F.map_zip_with(
        c1, c2, lambda _, v1, v2: F.greatest(v1, v2) * F.greatest(v1, v2)
    )
    num, den = _sum_values(num_m), _sum_values(den_m)
    return F.coalesce(
        F.when(den > 0, num / den).otherwise(F.lit(0.0)), F.lit(0.0)
    )


def boolean_overlap_sql(a1: str | Column, a2: str | Column) -> Column:
    """F7 as a Catalyst expression over two string-array columns
    (deduped, as the pure kernel documents)."""
    c1 = F.array_distinct(F.col(a1) if isinstance(a1, str) else a1)
    c2 = F.array_distinct(F.col(a2) if isinstance(a2, str) else a2)
    inter = F.size(F.array_intersect(c1, c2))
    denom = F.size(c1) * F.size(c2)
    return F.when(denom > 0, inter.cast("double") / denom).otherwise(F.lit(0.0))


def _rank_weight_map(terms: Column, prod: Column, step: Column) -> Column:
    """Map term → its F9/F10 rank weight ``len1·len2 − rank·step``
    (rank 0-based, ``step`` = the *other* side's length)."""
    return F.map_from_arrays(
        terms, F.transform(terms, lambda _, i: prod - i.cast("long") * step)
    )


def rank_weighted_distance_sql(t1: str | Column, t2: str | Column) -> Column:
    """F9 as a Catalyst expression over two rank-ordered string arrays.

    For distinct inputs the reference's two-pass accumulation
    (EuclideanDistance.java:52-83) reduces to
    ``Σ_{w ∈ union} (m1(w) − m2(w))²`` with absent sides reading 0 —
    shared words partially cancel, one-sided words contribute their
    full squared weight. Exact long arithmetic end to end."""
    c1 = F.col(t1) if isinstance(t1, str) else t1
    c2 = F.col(t2) if isinstance(t2, str) else t2
    n1, n2 = F.size(c1).cast("long"), F.size(c2).cast("long")
    prod = n1 * n2
    m1 = _rank_weight_map(c1, prod, n2)
    m2 = _rank_weight_map(c2, prod, n1)
    d = F.map_zip_with(
        m1,
        m2,
        lambda _, v1, v2: F.coalesce(v1, F.lit(0).cast("long"))
        - F.coalesce(v2, F.lit(0).cast("long")),
    )
    return F.aggregate(
        F.map_values(d), F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )


def positive_correlation_sql(t1: str | Column, t2: str | Column) -> Column:
    """F10 ``calculate`` (EuclideanDistance.java:94-112) over two
    rank-ordered string arrays: ``Σ_{w ∈ ∩} m1(w)·m2(w)``."""
    c1 = F.col(t1) if isinstance(t1, str) else t1
    c2 = F.col(t2) if isinstance(t2, str) else t2
    n1, n2 = F.size(c1).cast("long"), F.size(c2).cast("long")
    prod = n1 * n2
    zipped = F.map_zip_with(
        _rank_weight_map(c1, prod, n2),
        _rank_weight_map(c2, prod, n1),
        lambda _, v1, v2: v1 * v2,  # NULL unless the term is shared
    )
    return F.aggregate(
        F.filter(F.map_values(zipped), lambda v: v.isNotNull()),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def calculate_max_sql(n1: Column, n2: Column) -> Column:
    """F10 ``calculateMax`` (EuclideanDistance.java:154-164) in closed
    form: the loop sums are ``len1²·S(len2) + len2²·S(len1)`` with
    ``S(n) = n(n+1)(2n+1)/6`` (square-pyramid sum)."""

    def s(n: Column) -> Column:
        return (n * (n + 1) * (2 * n + 1)).cast("double") / 6.0

    return n1.cast("double") * n1.cast("double") * s(n2) + n2.cast(
        "double"
    ) * n2.cast("double") * s(n1)
