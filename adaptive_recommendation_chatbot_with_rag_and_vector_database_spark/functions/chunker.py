"""Recursive character text chunker (SURVEY §2.8 F5).

Re-implements, from its publicly documented behavior, the recursive
character splitting the reference delegates to LangChain's
``RecursiveCharacterTextSplitter`` (reference call sites:
/root/reference/AI.py:84-85 with ``chunk_size`` bound at AI.py:209,
``chunk_overlap=0``): split on a separator hierarchy
``["\\n\\n", "\\n", " ", ""]``, recursing to finer separators for pieces
still over ``chunk_size``, then greedily re-merging adjacent pieces up
to ``chunk_size`` with separators preserved in the text; emitted chunks
are whitespace-stripped and empty chunks dropped.

Invariants (property-tested in tests/test_chunker.py):
- every chunk is non-empty and, whenever the text is separable at all,
  ``len(chunk) <= chunk_size`` (an unbroken run longer than chunk_size
  is only possible via the "" separator, which splits per-character,
  so the bound in fact always holds for chunk_size >= 1);
- chunks appear in source order and concatenating them recovers the
  source text up to whitespace at chunk boundaries;
- deterministic: pure function of (text, chunk_size).

The Spark surface is ``chunk_documents`` — an Arrow-vectorized pandas
UDF returning ``ARRAY<STRING>`` followed by ``posexplode_outer`` and a
null filter (one text row in, n ordered chunk rows out, none for a
document with no chunks; SURVEY §2.10 D2). The Python loop runs
only inside the UDF batch; everything around it stays in Catalyst.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SEPARATORS: tuple[str, ...] = ("\n\n", "\n", " ", "")
DEFAULT_CHUNK_SIZE = 1000  # reference: /root/reference/AI.py:209


def _split_keep_separator(text: str, separator: str) -> list[str]:
    """Split ``text`` on ``separator``, attaching each separator to the
    start of the following piece (so re-concatenation is lossless)."""
    if separator == "":
        return list(text)
    parts = re.split(f"({re.escape(separator)})", text)
    # parts = [lead, sep, piece, sep, piece, ...]
    out = [parts[0]]
    for i in range(1, len(parts) - 1, 2):
        out.append(parts[i] + parts[i + 1])
    if len(parts) % 2 == 0:  # trailing separator with nothing after it
        out.append(parts[-1])
    return [p for p in out if p]


def _merge_pieces(pieces: list[str], chunk_size: int) -> list[str]:
    """Greedily merge adjacent pieces (separators already embedded) into
    chunks of at most ``chunk_size`` chars; strip each emitted chunk."""
    chunks: list[str] = []
    cur: list[str] = []
    total = 0
    for piece in pieces:
        if cur and total + len(piece) > chunk_size:
            joined = "".join(cur).strip()
            if joined:
                chunks.append(joined)
            cur, total = [], 0
        cur.append(piece)
        total += len(piece)
    if cur:
        joined = "".join(cur).strip()
        if joined:
            chunks.append(joined)
    return chunks


def split_text_recursive(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    separators: tuple[str, ...] = DEFAULT_SEPARATORS,
) -> list[str]:
    """Pure recursive splitter; see module docstring for semantics."""
    if not text:
        return []
    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1")

    # Pick the coarsest separator that actually occurs in the text; ""
    # (per-character) is the terminal fallback.
    separator = separators[-1]
    remaining: tuple[str, ...] = ()
    for i, sep in enumerate(separators):
        if sep == "":
            separator = sep
            break
        if sep in text:
            separator = sep
            remaining = separators[i + 1 :]
            break

    pieces = _split_keep_separator(text, separator)

    final: list[str] = []
    mergeable: list[str] = []
    for piece in pieces:
        if len(piece) <= chunk_size:
            mergeable.append(piece)
        else:
            if mergeable:
                final.extend(_merge_pieces(mergeable, chunk_size))
                mergeable = []
            if remaining:
                final.extend(split_text_recursive(piece, chunk_size, remaining))
            else:
                stripped = piece.strip()
                if stripped:
                    final.append(stripped)
    if mergeable:
        final.extend(_merge_pieces(mergeable, chunk_size))
    return final


@lru_cache(maxsize=8)
def _chunker_udf(chunk_size: int):
    @F.pandas_udf(T.ArrayType(T.StringType(), containsNull=False))
    def chunk(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: split_text_recursive(t, chunk_size) if isinstance(t, str) else []
        )

    return chunk


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) → chunks(doc_id, chunk_id, text).

    ``chunk_id`` is the 0-based position within the parent document
    (source order), mirroring the ordered chunk list the reference gets
    from ``split_documents`` (/root/reference/AI.py:85).
    """
    chunk = _chunker_udf(chunk_size)
    return (
        docs.select(F.col(id_col), chunk(F.col(text_col)).alias("chunks"))
        # _outer: no inferred size(chunks) > 0 filter re-runs the UDF below an exchange
        .select(
            F.col(id_col),
            F.posexplode_outer("chunks").alias("chunk_id", "text"),
        )
        .filter(F.col("text").isNotNull())
    )
