"""Seeded input generator in the fixture schemas.

Writes ``events``, ``documents`` and ``embeddings`` parquet tables with
the column names and arrow types ``scripts/schema_probe.py`` expects,
inside the id and date ranges ``sources/tables.py`` pins:

- events span the 30 days from ``DATE0`` (2024-01-01) to ``config.TODAY``
  (2024-01-30), so every day-window query sees data on every day;
- ``event_id`` is the row index, so ``news_id = event_id % NEWS_MOD``
  covers every news id and every click maps to a real news row;
- ``doc_id`` runs ``0..n_docs-1`` with ``n_docs >= NEWS_MOD``.

Unlike the uniform fixtures, clicks are Zipf-skewed twice: a click
lands on a news id with probability falling as a power of that news id's
popularity rank, and user ids are drawn with Zipf weights. Both rank
orders are seed-permuted, so the hot keys move with the seed. The
exponent is the one measured for web page requests (Breslau et al.,
"Web Caching and Zipf-like Distributions: Evidence and Implications",
INFOCOM 1999: alpha between 0.64 and 0.83 across their proxy traces).
Embeddings follow the fixtures: unit-length Gaussian vectors with
uniformly drawn labels.

One process, one ``numpy`` generator, arrow tables built without pandas
metadata: the same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATE0 = dt.datetime(2024, 1, 1)
DAYS = 30
NEWS_MOD = 500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
TABLES = ("events", "documents", "embeddings")
CLICK_SHARE = 0.2  # expected share of events that are clicks
NEWS_ZIPF = 0.8  # Zipf exponent of news popularity (Breslau et al. 1999)
USER_ZIPF = 0.8  # Zipf exponent of user activity: no measured figure, same as news
DIM = 64  # embedding width
LABELS = 10  # embedding labels


@dataclass(frozen=True)
class Size:
    """Row counts of one generated dataset: those of the sf0.01 fixtures,
    so that runs fit the benchmark's time budget (README.md, *Input
    shape*)."""

    events: int = 10_000
    users: int = 150
    docs: int = 500
    vectors: int = 500


def _zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) probabilities over ``n`` keys, hottest key seed-chosen."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def _click_prob(rng: np.random.Generator) -> np.ndarray:
    """Per-news click probability with Zipf popularity, scaled so the
    expected click share matches ``CLICK_SHARE`` (capped at 1)."""
    w = _zipf_weights(NEWS_MOD, NEWS_ZIPF, rng) * NEWS_MOD
    lo, hi = 0.0, 1.0 / w.min()
    for _ in range(60):  # bisect the scale that hits the target share
        mid = (lo + hi) / 2
        if np.minimum(1.0, mid * w).mean() < CLICK_SHARE:
            lo = mid
        else:
            hi = mid
    return np.minimum(1.0, lo * w)


def _events(size: Size, rng: np.random.Generator) -> pa.Table:
    n = size.events
    span_us = DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n, dtype=np.int64))
    ts = ts + int((DATE0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    event_id = np.arange(n, dtype=np.int64)
    users = rng.choice(size.users, n, p=_zipf_weights(size.users, USER_ZIPF, rng))
    is_click = rng.random(n) < _click_prob(rng)[event_id % NEWS_MOD]
    other = rng.integers(1, len(EVENT_TYPES), n)
    etype = np.where(is_click, 0, other)
    value = np.round(rng.exponential(50.0, n), 2)
    props = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in props], pa.string()),
        }
    )


def _documents(size: Size, rng: np.random.Generator) -> pa.Table:
    """Uniform-vocabulary texts of 10-99 tokens; ~5% are near-duplicates
    (an earlier text plus a ``dup`` token) and ~1% exact copies, so the
    dedup and streaming-dedup queries have pairs to find."""
    n = size.docs
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _embeddings(size: Size, rng: np.random.Generator) -> pa.Table:
    """Unit-length Gaussian vectors with uniform labels, as in the
    fixtures."""
    v = _unit(rng.standard_normal((size.vectors, DIM))).astype(np.float32)
    labels = rng.integers(0, LABELS, size.vectors)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(size.vectors, dtype=np.int64), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate(out_dir: str, seed: int, size: Size = Size()) -> None:
    """Write the three tables for ``seed`` into ``out_dir``."""
    if size.docs < NEWS_MOD:
        raise ValueError(f"docs must be >= {NEWS_MOD} so every news id exists")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, build in (
        ("events", _events),
        ("documents", _documents),
        ("embeddings", _embeddings),
    ):
        pq.write_table(
            build(size, rng),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )
