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
import math

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
    acc = functools.reduce(lambda s, x: s + x * x, q.tolist(), 0.0)
    # math.sqrt is IEEE correctly-rounded, same as the JVM's Math.sqrt
    # behind F.sqrt, NOT acc**0.5, whose pow() rounding is unspecified
    return F.lit(q).alias(QUERY_VEC), F.lit(math.sqrt(acc)).alias(QUERY_NORM)
