"""Vector math as Catalyst expressions (SURVEY §2.8 F7).

The reference's similarity metric is cosine (Pinecone index
``metric="cosine"``, /root/reference/AI.py:52). Here dot product, norm,
and cosine are built from Spark's higher-order array functions
(``zip_with`` + ``aggregate``), so scoring stays in the JVM with no
Python in the hot path. Both are ``CodegenFallback``: the executed plan
shows the scoring ``Project`` outside whole-stage codegen (no ``*(n)``).

All arithmetic is DOUBLE regardless of the stored FLOAT vectors, to
match the DuckDB oracle's double-precision list arithmetic.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either side has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0.0, dot(a, b) / denom).otherwise(F.lit(0.0))


QUERY_VEC, QUERY_NORM = "__query_vec", "__query_norm"


@functools.lru_cache(maxsize=16)
def cosine_to_query(vec_col: str, app_id: str) -> Column:
    """:func:`cosine_sim` of ``vec_col`` against ONE query vector (J1/O1),
    built once per ``(vec_col, application)`` (a Column from a stopped
    JVM is never reused). The question is the columns ``QUERY_VEC`` and
    ``QUERY_NORM`` (``query_literals``), which ``CollapseProject``
    inlines as literals. Catalyst does not constant-fold the
    ``aggregate`` HOF, so the norm is folded on the driver, in the same
    float order as :func:`l2_norm` (linear ``acc + x*x`` then sqrt) and
    as the same right-hand multiplicand: scores are bit-identical to the
    generic form."""
    denom = l2_norm(vec_col) * F.col(QUERY_NORM)
    return F.when(denom > 0.0, dot(vec_col, QUERY_VEC) / denom).otherwise(F.lit(0.0))


def query_literals(vec) -> tuple[Column, Column]:
    """``vec`` as ONE array literal and its driver-folded norm, aliased
    ``QUERY_VEC`` and ``QUERY_NORM``."""
    q = np.asarray(vec, dtype=np.float64)
    return F.lit(q).alias(QUERY_VEC), F.lit(query_norm(q)).alias(QUERY_NORM)


# The driver-side twins below reproduce the Column forms' float order
# exactly: a left fold over the dimensions starting at 0.0, as
# ``aggregate(zip_with)`` runs it. BLAS (``mat @ q``) and
# ``np.linalg.norm`` pick their own summation order (on a row-major
# matrix they reorder it, and the last bits differ); the explicit fold
# fixes the order whatever the memory layout or BLAS build.


def folded_norms(mat: np.ndarray) -> np.ndarray:
    """Row norms of a float64 ``(rows × dim)`` array in :func:`l2_norm`'s
    order: ``acc + x*x`` per dimension, then sqrt (IEEE correctly
    rounded in numpy, as the JVM's Math.sqrt behind ``F.sqrt``)."""
    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def query_norm(vec) -> float:
    """The norm :func:`query_literals` binds as ``QUERY_NORM``."""
    return float(folded_norms(np.asarray(vec, dtype=np.float64)[None, :])[0])


def cosine_scores(mat: np.ndarray, norms: np.ndarray, vec) -> np.ndarray:
    """:func:`cosine_to_query` over the rows of ``mat`` on the driver,
    bit-identical to the Column form: ``norms`` is ``folded_norms(mat)``,
    the dot is :func:`dot`'s fold, and a row whose ``norm × query norm``
    is not positive scores 0.0."""
    q = np.asarray(vec, dtype=np.float64)
    dots = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        dots = dots + mat[:, j] * q[j]
    denom = norms * query_norm(q)
    return np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0.0)
