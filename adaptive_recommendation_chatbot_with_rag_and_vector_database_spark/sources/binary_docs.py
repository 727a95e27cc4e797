"""Binary document source (SURVEY §2.1 S2/S3): files → text documents.

The reference opens PDFs and concatenates page text, returning "" on
any extraction error — a silent-null source (/root/reference/AI.py:61-71)
— and fans file extraction out over a thread pool (AI.py:74-81). The
Spark restatement gets both for free from a distributed ``binaryFile``
scan: one task per file split, extraction inside an Arrow-batched
``mapInPandas``.

Extractors are pluggable ``bytes -> str`` callables:

- ``utf8_extractor`` (default): decode bytes as UTF-8 text (.txt/.md
  corpora). Real and tested.
- ``pdf_extractor``: PDF page-concatenation, matching the reference's
  ``page.get_text()`` loop. Uses PyMuPDF when importable; otherwise a
  pure-Python fallback parser (stdlib zlib + regex over content-stream
  text operators) handles simple-font PDFs, so the S2 path runs with
  zero optional dependencies. The Spark-side plumbing (scan →
  mapInPandas → schema) is identical to the tested UTF-8 path.

Both honor the reference's error contract: any per-file failure yields
``text=""`` rather than failing the job.

``doc_id`` is a deterministic 63-bit hash of the file path — stable
across runs and executors, no driver-side sequencing (at 100 TB a
monotonic id would serialize the scan; a content-addressed id does
not).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)


def utf8_extractor(content: bytes) -> str:
    """Decode bytes as UTF-8; silent-empty on failure (AI.py:68-71)."""
    try:
        return content.decode("utf-8")
    except Exception:
        return ""


# PDF content-stream text operators (simple fonts): literal strings
# `(..) Tj`, `(..) '`, and arrays `[ (..) n (..) ] TJ`. Escapes per the
# PDF spec: \( \) \\ \n \r \t \b \f, octal \ddd, and the
# backslash-newline continuation.
_PDF_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_PDF_TEXTBLOCK_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
_PDF_SHOWTEXT_RE = re.compile(
    rb"\(((?:\\.|[^\\()])*)\)\s*(Tj|')"  # literal string + show op
    rb"|\[((?:\\.|[^\]\\])*)\]\s*TJ",  # TJ array of strings/kerns
    re.DOTALL,
)
_PDF_LITERAL_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)", re.DOTALL)
_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_unescape(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in _PDF_ESCAPES:
            out += _PDF_ESCAPES[nxt]
            i += 2
        elif nxt.isdigit():  # octal \ddd (1-3 digits)
            j = i + 1
            while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                j += 1
            out.append(int(raw[i + 1 : j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
        else:
            out += nxt
            i += 2
    return out.decode("latin-1")


def pdf_fallback_extract(content: bytes) -> str:
    """Pure-Python PDF text extraction — zero dependencies beyond the
    stdlib. Decompresses FlateDecode streams with ``zlib`` (raw streams
    pass through), then concatenates the text shown by ``Tj``/``'``/
    ``TJ`` operators inside ``BT..ET`` blocks. Handles simple-font
    (byte-encoded) PDFs — the page-text shape the reference's loop
    produces (AI.py:63-67); CID/Type0 composite encodings and nested
    unescaped parens are out of scope for the fallback (use PyMuPDF).
    Silent-empty on malformed input, per the reference contract."""
    try:
        if not content.lstrip()[:5].startswith(b"%PDF-"):
            return ""
        parts: list[str] = []
        for m in _PDF_STREAM_RE.finditer(content):
            data = m.group(1).strip(b"\r\n")
            try:
                data = zlib.decompress(data)
            except Exception:
                pass  # not Flate-compressed; use as-is
            for block in _PDF_TEXTBLOCK_RE.finditer(data):
                for sm in _PDF_SHOWTEXT_RE.finditer(block.group(1)):
                    if sm.group(3) is not None:  # TJ array
                        for lit in _PDF_LITERAL_RE.finditer(sm.group(3)):
                            parts.append(_pdf_unescape(lit.group(1)))
                    else:
                        if sm.group(2) == b"'":  # ' = next-line + show
                            parts.append("\n")
                        parts.append(_pdf_unescape(sm.group(1)))
        return "".join(parts)
    except Exception:
        return ""  # reference: silent-empty on extraction error


def pdf_extractor(content: bytes) -> str:
    """Page-concatenated PDF text (reference loop at AI.py:63-67).

    PyMuPDF when available; otherwise the pure-Python fallback above —
    the S2 source path never requires an optional dependency."""
    try:
        import fitz  # PyMuPDF — optional; import-gated
    except ImportError:
        return pdf_fallback_extract(content)
    try:
        with fitz.open(stream=content, filetype="pdf") as doc:
            return "".join(page.get_text() for page in doc)
    except Exception:
        return ""  # reference: silent-empty on extraction error


def path_doc_id(path: str) -> int:
    """Deterministic 63-bit doc id from the file path."""
    return int.from_bytes(hashlib.sha256(path.encode()).digest()[:8], "big") >> 1


def read_binary_documents(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Distributed file scan → (path, length, content BINARY)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select("path", "length", "content")


def extract_documents(
    bin_df: DataFrame,
    extractor: Callable[[bytes], str] = utf8_extractor,
) -> DataFrame:
    """binaryFile rows → documents(doc_id, path, byte_len, text).

    Arrow-batched ``mapInPandas``; per-file extraction errors yield
    ``text=""`` (the reference's silent-null contract), never a task
    failure."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for content in pdf["content"]:
                try:
                    texts.append(extractor(bytes(content)))
                except NotImplementedError:
                    raise  # stubbed codec: surface loudly, do not mask
                except Exception:
                    texts.append("")
            yield pd.DataFrame(
                {
                    "doc_id": [path_doc_id(p) for p in pdf["path"]],
                    "path": pdf["path"],
                    "byte_len": pdf["length"].astype("int64"),
                    "text": texts,
                }
            )

    return bin_df.mapInPandas(extract, DOC_SCHEMA)


def load_binary_documents(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    extractor: Callable[[bytes], str] = utf8_extractor,
) -> DataFrame:
    """One-call S2+S3: scan → extract → documents frame."""
    return extract_documents(read_binary_documents(spark, path, glob), extractor)
