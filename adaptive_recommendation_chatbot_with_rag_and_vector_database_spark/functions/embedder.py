"""Deterministic text embedder (SURVEY §2.8 F8).

The reference embeds chunk text with a remote embedding API
(/root/reference/AI.py:58,96 — OpenAI, 1536-d, consumed under a cosine
metric at AI.py:52). A network embedder is non-deterministic and
unavailable here, so the engine's default embedder is a **deterministic
local stand-in with the same contract**: text → fixed-dimension
L2-normalized float vector, similar texts → nearby vectors under cosine.

Implementation: signed feature hashing ("hashing trick", Weinberger et
al. 2009; same idea as Spark MLlib's HashingTF) over lowercase word
unigrams, bigrams, and char trigrams. Each feature's md5 picks a bucket
and a sign (md5, not Python ``hash``, so results are stable across
processes and PYTHONHASHSEED). The vector is L2-normalized, so cosine
similarity is a plain dot product.

Dimension is data-driven (default 64 to match the fixture ``embeddings``
table — FIXTURES.md notes the engine must not assume the reference's
1536; pass ``dim=1536`` for reference-shaped vectors).

The Spark surface is an Arrow-vectorized pandas UDF (SURVEY §2.10 D1);
numpy does the accumulation per batch. ``embed_or_reuse_udf`` is its
memoized form for index appends: it passes a stored vector through and
embeds only the rows that have none.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMBED_DIM = 64

_TOKEN_CACHE_LIMIT = 1 << 20


def _feature_slot(feature: str, dim: int) -> tuple[int, float]:
    digest = hashlib.md5(feature.encode("utf-8")).digest()
    bucket = int.from_bytes(digest[:8], "little") % dim
    sign = 1.0 if digest[8] & 1 else -1.0
    return bucket, sign


def _features(text: str) -> list[str]:
    tokens = text.lower().split()
    feats = ["w:" + t for t in tokens]
    feats += ["b:" + a + "_" + b for a, b in zip(tokens, tokens[1:])]
    compact = "".join(tokens)
    feats += ["c:" + compact[i : i + 3] for i in range(max(len(compact) - 2, 0))]
    return feats


def embed_text(text: str, dim: int = EMBED_DIM, _slot_cache: dict | None = None) -> np.ndarray:
    """Embed one text; returns an L2-normalized float32 vector (all-zero
    input text maps to the zero vector, which scores 0 under cosine)."""
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        cache = _slot_cache if _slot_cache is not None else {}
        for feat in _features(text):
            slot = cache.get(feat)
            if slot is None:
                slot = _feature_slot(feat, dim)
                if len(cache) < _TOKEN_CACHE_LIMIT:
                    cache[feat] = slot
            vec[slot[0]] += slot[1]
        norm = float(np.linalg.norm(vec))
        if norm > 0.0:
            vec /= norm
    return vec.astype(np.float32)


def embed_texts(texts: list[str], dim: int = EMBED_DIM) -> list[np.ndarray]:
    cache: dict = {}
    return [embed_text(t if isinstance(t, str) else "", dim, cache) for t in texts]


@lru_cache(maxsize=8)
def embedding_udf(dim: int = EMBED_DIM):
    """Arrow-vectorized embedding UDF: STRING → ARRAY<FLOAT> (dim)."""

    @F.pandas_udf(T.ArrayType(T.FloatType(), containsNull=False))
    def embed(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(
            lambda t: embed_text(t if isinstance(t, str) else "", dim, cache)
        )

    return embed


@lru_cache(maxsize=8)
def embed_or_reuse_udf(dim: int = EMBED_DIM):
    """Arrow-vectorized (STRING, ARRAY<FLOAT>) → ARRAY<FLOAT>: the stored
    vector unchanged when one is given, ``embed_text`` only when it is
    null — an index append's reuse and embedding in one Python stage."""

    @F.pandas_udf(T.ArrayType(T.FloatType(), containsNull=False))
    def embed_or_reuse(texts: pd.Series, known: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series(
            [
                k if k is not None else embed_text(t if isinstance(t, str) else "", dim, cache)
                for t, k in zip(texts, known)
            ],
            dtype=object,
        )

    return embed_or_reuse
