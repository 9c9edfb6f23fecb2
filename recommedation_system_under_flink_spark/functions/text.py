"""F1-F4: tokenizer, co-occurrence graphs, TextRank vote (SURVEY §2.7).

Pure Python on purpose: the graphs are per-document and tiny
(TextRank.java:144-192 builds a local ``Map<String,Set<String>>``, never
a distributed dataset), so the whole keyword-extraction surface runs
inside an Arrow-batched pandas UDF — no GraphFrames, no distributed
iteration (SURVEY §4.2 "Iteration" row).

Pinned specs replacing reference code that is absent from the snapshot
(SURVEY §7.0):

- **Tokenizer (F1)** — ``utils.Tokenizer`` is imported
  (TextRank.java:9) but absent. Pin: lowercase → split on
  ``[^a-z0-9]+`` → drop empties → drop STOPWORDS. The same regex +
  stop list is used verbatim by the SQL twins (operators/*.py oracles),
  so UDF and relational paths tokenize identically. The stop-word form
  is :func:`content_tokens` (array) / :func:`is_content_token` (row
  filter) in Spark and :func:`content_tokens_sql` in DuckDB; the
  document form (stop words kept) is :func:`doc_tokens` and
  ``DOC_TOKENS_SQL`` — the one copy every relational builder and
  oracle reads. The ML features split the raw text on single spaces
  instead: :func:`space_tokens` / :func:`space_tokens_sql`, with the
  contains-'the' label :func:`the_label` / :func:`the_label_sql`.
- **F2 window clamp** — the reference has an off-by-one: when the
  right window edge passes the end of the token list it is reset to
  ``0`` instead of ``size-1`` (TextRank.java:183-184), silently
  dropping right-neighbors for tail tokens. Default here is the
  *intended* clamp; ``replicate_reference_bug=True`` reproduces the
  reference bit-for-bit (documented divergence, SURVEY §7.3).
"""

from __future__ import annotations

import heapq
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column

#: Pinned stop list (F1). Kept deliberately small and explicit — it is
#: part of the engine spec, mirrored into every SQL oracle.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "the", "to", "with",
)

#: Pinned token-split regex (F1) — Java and RE2 compatible so Spark
#: ``split`` and DuckDB ``string_split_regex`` agree with :func:`tokenize`.
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"

_STOPSET = frozenset(STOPWORDS)

#: The stop list as a SQL ``IN (...)`` list body.
STOPWORDS_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

#: Chunk geometry: CHUNK_SIZE-token windows every CHUNK_STRIDE tokens
#: (CHUNK_SIZE - CHUNK_STRIDE tokens of overlap between neighbors).
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def _split_sql(col: str) -> str:
    return f"string_split_regex(lower({col}), '{TOKEN_SPLIT_REGEX}')"


#: DuckDB twin of :func:`doc_tokens` over a ``text`` column.
DOC_TOKENS_SQL = f"list_filter({_split_sql('text')}, t -> t <> '')"


def content_tokens_sql(col: str) -> str:
    """DuckDB twin of :func:`content_tokens` over the SQL column ``col``."""
    return f"list_filter({_split_sql(col)}, t -> t <> '' AND t NOT IN ({STOPWORDS_SQL}))"


def space_tokens_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`space_tokens` over the SQL column ``col``."""
    return f"list_filter(string_split({col}, ' '), t -> t <> '')"


def the_label_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`the_label` over the SQL column ``col``."""
    return (
        f"CASE WHEN list_contains({space_tokens_sql(col)}, 'the')"
        " THEN 1.0 ELSE 0.0 END"
    )


# The Spark forms import pyspark inside the function: the keyword UDF
# workers import this module and need none of the DataFrame API.

def split_tokens(text: Column) -> Column:
    """Lowercase → split on ``TOKEN_SPLIT_REGEX`` (empties kept)."""
    from pyspark.sql import functions as F

    return F.split(F.lower(text), TOKEN_SPLIT_REGEX)


def is_content_token(t: Column) -> Column:
    """The stop-word predicate of :func:`tokenize`: non-empty and not in
    STOPWORDS. Row paths filter exploded tokens with it; in Spark 4.1
    the higher-order ``filter`` is interpreted (CodegenFallback), so
    per-token work stays out of it unless positions are needed."""
    return (t != "") & ~t.isin(*STOPWORDS)


def content_tokens(text: Column) -> Column:
    """:func:`tokenize` as a Spark array column (positions preserved)."""
    from pyspark.sql import functions as F

    return F.filter(split_tokens(text), is_content_token)


def doc_tokens(text: Column) -> Column:
    """Document tokens as a Spark array column: lowercase → split on
    ``TOKEN_SPLIT_REGEX`` → drop empties. Stop words are kept (dedup
    and corpus statistics want the surface text)."""
    from pyspark.sql import functions as F

    return F.filter(split_tokens(text), lambda t: t != "")


def space_tokens(text: Column) -> Column:
    """Raw text split on single spaces, empties dropped: no lowercasing
    and no regex. The ML features' token count and the contains-'the'
    label read this form, not :func:`doc_tokens`."""
    from pyspark.sql import functions as F

    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def the_label(text: Column) -> Column:
    """1.0 when :func:`space_tokens` holds the token ``the``, else 0.0:
    a binary label that varies within every language."""
    from pyspark.sql import functions as F

    return F.when(F.array_contains(space_tokens(text), "the"), 1.0).otherwise(0.0)


def tokenize(text: str | None) -> list[str]:
    """F1 ``Tokenizer.getTokenList`` (used at TextRank.java:145,165)."""
    if not text:
        return []
    import re

    tokens = re.split(TOKEN_SPLIT_REGEX, text.lower())
    return [t for t in tokens if t and t not in _STOPSET]


def token_counts(text: str | None) -> dict[str, int]:
    """F1 ``Tokenizer.getTokenMap`` (TextRank.java:146)."""
    counts: dict[str, int] = {}
    for t in tokenize(text):
        counts[t] = counts.get(t, 0) + 1
    return counts


def cooccurrence_windowed(
    tokens: list[str],
    window_size: int,
    replicate_reference_bug: bool = False,
) -> dict[str, set[str]]:
    """F2 ``text2wordsSet(text, windowSize)`` (TextRank.java:164-192).

    Two modes (SURVEY §7.3 documented divergence):

    - **intended** (default): classic TextRank adjacency — symmetric
      ±window_size neighbors, no self-edges.
    - **replicate_reference_bug**: bit-faithful to the reference, which
      deviates from the paper twice: the neighbor loop stops at
      ``cursor != index`` (TextRank.java:186), so each token collects
      its *left* window only; and when the right edge passes the end it
      is reset to ``0`` instead of ``size-1`` (TextRank.java:183-184),
      so tail tokens (``index+window_size >= n``) collect at most
      ``tokens[0]``. Self-edges from repeated words are kept (the
      reference dedups them only inside ``vote``, TextRank.java:208).
    """
    adj: dict[str, set[str]] = {}
    n = len(tokens)
    if replicate_reference_bug:
        for i in range(n):
            neighbors = adj.setdefault(tokens[i], set())
            left = max(0, i - window_size)
            right = i + window_size
            if right >= n:
                right = 0
            cursor = left
            while cursor <= right and cursor != i:
                neighbors.add(tokens[cursor])
                cursor += 1
        return adj
    for i, w in enumerate(tokens):
        left = max(0, i - window_size)
        right = min(n - 1, i + window_size)
        neighbors = adj.setdefault(w, set())
        for j in range(left, right + 1):
            if j != i and tokens[j] != w:
                neighbors.add(tokens[j])
    return adj


def cooccurrence_clique(
    tokens: list[str], adj: dict[str, set[str]] | None = None
) -> dict[str, set[str]]:
    """F3 ``text2wordsSet(text, words)`` (TextRank.java:144-162).

    Every token pair within one text is an edge; ``adj`` accumulates
    across texts (the reference threads one map through all of a user's
    tweets, TextRank.java:120-125).
    """
    if adj is None:
        adj = {}
    uniq = list(dict.fromkeys(tokens))
    for w in uniq:
        neighbors = adj.setdefault(w, set())
        for v in uniq:
            if v != w:
                neighbors.add(v)
    return adj


def textrank_vote(
    adj: dict[str, set[str]],
    num_keywords: int,
    friction: float = 0.85,
    max_iterates: int = 100,
    min_difference: float = 1e-4,
) -> dict[str, float]:
    """F4 ``vote(words, numKeywords)`` (TextRank.java:194-218).

    PageRank over the co-occurrence graph:
    ``score(w) ← (1-d) + d · Σ_{n∈adj(w)} score(n)/|adj(n)|`` with
    damping ``d=friction`` (TextRank.java:195), up to ``max_iterates``
    rounds (:198), early exit when the max per-word delta is ≤
    ``min_difference`` (:214). Missing scores read as 0
    (:209 ``getOrDefault``) — the first round therefore yields
    ``1-d`` everywhere, matching the reference's empty initial map.

    Returns the top ``num_keywords`` by score; ties broken by word
    (ascending) — the reference's tie order is Flink iteration order,
    i.e. nondeterministic (SURVEY §2.5 note), so the engine pins one.
    """
    scores: dict[str, float] = {}
    words = sorted(adj)  # deterministic sweep order
    # Sorted neighbor lists: float summation order must not depend on
    # set insertion history (i.e. on input row order), or near-tie
    # top-K picks flip at the ulp level between executions.
    adj_sorted = {w: sorted(adj[w]) for w in words}
    for _ in range(max_iterates):
        new_scores: dict[str, float] = {}
        max_diff = 0.0
        for w in words:
            s = 0.0
            for n in adj_sorted[w]:
                if n == w:  # self-edge skip, TextRank.java:208
                    continue
                deg = len(adj.get(n, ()))
                if deg:
                    s += scores.get(n, 0.0) / deg
            val = (1.0 - friction) + friction * s
            new_scores[w] = val
            diff = abs(val - scores.get(w, 0.0))
            if diff > max_diff:
                max_diff = diff
        scores = new_scores
        if max_diff <= min_difference:
            break
    top = heapq.nsmallest(num_keywords, scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return dict(top)


def extract_keywords_windowed(
    text: str | None,
    num_keywords: int,
    window_size: int,
    friction: float = 0.85,
    max_iterates: int = 100,
    min_difference: float = 1e-4,
) -> dict[str, float]:
    """P1 composition (TextRank.java:59-67): tokenize → windowed
    co-occurrence → vote. The per-news keyword UDF body."""
    adj = cooccurrence_windowed(tokenize(text), window_size)
    return textrank_vote(adj, num_keywords, friction, max_iterates, min_difference)


def extract_keywords_clique(
    texts: list[str],
    num_keywords: int,
    friction: float = 0.85,
    max_iterates: int = 100,
    min_difference: float = 1e-4,
) -> dict[str, float]:
    """A3 composition (TextRank.java:111-128): accumulate a full-clique
    graph over all of a user's tweets, then vote. The per-user grouped
    UDF body."""
    adj: dict[str, set[str]] = {}
    for text in texts:
        cooccurrence_clique(tokenize(text), adj)
    return textrank_vote(adj, num_keywords, friction, max_iterates, min_difference)
