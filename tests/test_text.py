"""Unit fixtures for F1-F4 (tokenizer, co-occurrence, TextRank vote).

Hand-computed ground truth; the F2 reference-bug mode is traced
step-by-step from TextRank.java:164-192 in the comments.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from recommedation_system_under_flink_spark.functions.text import (
    DOC_TOKENS_SQL,
    TOKEN_SPLIT_REGEX,
    cooccurrence_clique,
    content_tokens,
    content_tokens_sql,
    cooccurrence_windowed,
    doc_tokens,
    extract_keywords_clique,
    extract_keywords_windowed,
    space_tokens,
    space_tokens_sql,
    textrank_vote,
    token_counts,
    tokenize,
)


# ------------------------------------------------------------------- F1

@pytest.mark.parametrize(
    "text,expected",
    [
        ("Hello, World!", ["hello", "world"]),
        ("The quick brown fox", ["quick", "brown", "fox"]),  # 'the' stopped
        ("a an and the", []),  # all stopwords
        ("", []),
        (None, []),
        ("rank42 x-ray 3.14", ["rank42", "x", "ray", "3", "14"]),
        ("  leading   spaces  ", ["leading", "spaces"]),
    ],
)
def test_tokenize(text, expected):
    assert tokenize(text) == expected


@pytest.mark.parametrize(
    "text",
    [
        "",
        " \t\n  ",
        "!!! ... ,;-- ??",
        "MiXeD Case42 snake_case_Name 7UP",
        "--leading and trailing--",
        "Café ÜBER straße naïve",
    ],
)
def test_doc_tokens_parity(spark, text):
    """The tokenizer forms are one spec in three engines: Spark
    ``doc_tokens`` / ``content_tokens`` / ``space_tokens``, DuckDB
    ``DOC_TOKENS_SQL`` / ``content_tokens_sql`` / ``space_tokens_sql``
    and the Python regex split (document form), :func:`tokenize`
    (stop-word form) or the single-space split (ML feature form) every
    oracle is reasoned against."""
    expected = [t for t in re.split(TOKEN_SPLIT_REGEX, text.lower()) if t]
    expected_space = [t for t in text.split(" ") if t]
    got_spark, got_content, got_space = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            doc_tokens(F.col("text")),
            content_tokens(F.col("text")),
            space_tokens(F.col("text")),
        )
        .collect()[0]
    )
    got_duck, got_duck_content, got_duck_space = duckdb.execute(
        f"SELECT {DOC_TOKENS_SQL}, {content_tokens_sql('text')},"
        f" {space_tokens_sql('text')}"
        " FROM (SELECT CAST(? AS VARCHAR) AS text)",
        [text],
    ).fetchone()
    assert got_spark == expected
    assert got_duck == expected
    assert got_content == tokenize(text)
    assert got_duck_content == tokenize(text)
    assert got_space == expected_space
    assert got_duck_space == expected_space


def test_token_counts():
    assert token_counts("dog cat dog Dog!") == {"dog": 3, "cat": 1}


# ------------------------------------------------------------------- F2

def test_windowed_intended():
    # tokens a b c d e, window 2: symmetric neighbors, no self edges
    adj = cooccurrence_windowed(list("abcde"), 2)
    assert adj == {
        "a": {"b", "c"},
        "b": {"a", "c", "d"},
        "c": {"a", "b", "d", "e"},
        "d": {"b", "c", "e"},
        "e": {"c", "d"},
    }


def test_windowed_reference_bug_mode():
    # Traced from TextRank.java:164-192 with tokens a b c d e, window 2:
    # i=0: cursor starts at 0 == i -> loop never runs        -> a: {}
    # i=1: cursor 0 adds 'a', cursor 1 == i stops            -> b: {a}
    # i=2: adds 'a','b', stops at i                          -> c: {a,b}
    # i=3: right=5 >= n -> right := 0; cursor 1 > 0 -> none  -> d: {}
    # i=4: right := 0; cursor 2 > 0 -> none                  -> e: {}
    adj = cooccurrence_windowed(list("abcde"), 2, replicate_reference_bug=True)
    assert adj == {"a": set(), "b": {"a"}, "c": {"a", "b"}, "d": set(), "e": set()}


def test_windowed_dedup_repeated_word():
    # intended mode drops same-word edges (tokens[j] != w)
    adj = cooccurrence_windowed(["x", "y", "x"], 1)
    assert adj["x"] == {"y"}
    assert adj["y"] == {"x"}


# ------------------------------------------------------------------- F3

def test_clique_single_text():
    adj = cooccurrence_clique(["p", "q", "r"])
    assert adj == {"p": {"q", "r"}, "q": {"p", "r"}, "r": {"p", "q"}}


def test_clique_accumulates_across_texts():
    # TextRank.java:120-125 threads one map through all tweets of a user
    adj = cooccurrence_clique(["p", "q"])
    adj = cooccurrence_clique(["q", "r"], adj)
    assert adj == {"p": {"q"}, "q": {"p", "r"}, "r": {"q"}}


# ------------------------------------------------------------------- F4

def test_vote_two_node_analytic():
    # a-b: fixed point s = (1-d) + d*s  =>  s = 1 for both
    scores = textrank_vote({"a": {"b"}, "b": {"a"}}, 2, min_difference=1e-9)
    assert scores["a"] == pytest.approx(1.0, abs=1e-6)
    assert scores["b"] == pytest.approx(1.0, abs=1e-6)


def test_vote_three_node_line_analytic():
    # a-b-c line, d=0.85: s_a=s_c=(0.15+0.425*s_b), s_b=0.15+1.7*s_a
    # => s_a = 0.21375/0.2775 = 0.770270..., s_b = 1.459459...
    adj = {"a": {"b"}, "b": {"a", "c"}, "c": {"b"}}
    scores = textrank_vote(adj, 3, min_difference=1e-12, max_iterates=10_000)
    assert scores["a"] == pytest.approx(0.21375 / 0.2775, abs=1e-6)
    assert scores["b"] == pytest.approx(0.15 + 1.7 * (0.21375 / 0.2775), abs=1e-6)


def test_vote_topk_and_tiebreak():
    # star: hub h linked to x,y,z -> h scores highest; x,y,z tie and the
    # pinned tiebreak is word-ascending
    adj = {"h": {"x", "y", "z"}, "x": {"h"}, "y": {"h"}, "z": {"h"}}
    top2 = textrank_vote(adj, 2)
    assert list(top2) == ["h", "x"]


def test_vote_empty_graph():
    assert textrank_vote({}, 5) == {}


# --------------------------------------------------------- compositions

def test_extract_windowed_returns_at_most_k():
    kws = extract_keywords_windowed("spark shuffles data across the cluster nodes", 3, 2)
    assert 0 < len(kws) <= 3
    assert all(isinstance(v, float) and math.isfinite(v) for v in kws.values())


def test_extract_clique_merges_texts():
    kws = extract_keywords_clique(["alpha beta", "beta gamma"], 10)
    assert set(kws) == {"alpha", "beta", "gamma"}
    # beta bridges both texts -> strictly highest score
    assert kws["beta"] > kws["alpha"]
    assert kws["alpha"] == pytest.approx(kws["gamma"])
