"""Tie-class ranks: the one rank primitive behind every exact quantile
and rank test in the catalog.

A value column collapses to tie classes, one row per distinct value
with its row count ``cnt``. ``cum`` is the count of rows strictly below
the class, so the class owns order statistics ``[cum+1, cum+cnt]`` and
its average rank is ``cum + (cnt+1)/2`` (``rank() = cum + 1``). ``cum``
is built without a global sort: values floor-bucket by
``bucket_width``, a window over the per-bucket totals (~|range/width|
rows) gives each bucket's offset, the offsets broadcast back, and a
within-bucket exclusive Σcnt window partitioned by the bucket adds the
rest. No task ever sorts more than one bucket's classes.

Every function takes ``by``, the grouping columns the ranks restart
in. ``by=()`` is the global form: ``Window.partitionBy()`` and
``groupBy()`` are already the unpartitioned forms, so the global and
per-group ranks are the same code.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def class_cum(
    vc: DataFrame,
    v: str,
    cnt: str = "cnt",
    by: Sequence[str] = (),
    bucket_width: float = 1000.0,
) -> DataFrame:
    """Add ``cum`` to an already aggregated class frame: the sum of
    ``cnt`` over the group's classes whose ``v`` is smaller. Every other
    column passes through. ``v`` must be unique per group. Neither
    filters NULLs nor checkpoints — the caller owns both."""
    b = vc.withColumn("bkt", F.floor(F.col(v) / bucket_width).cast("long"))
    w_off = (
        Window.partitionBy(*by)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = (
        b.groupBy(*by, "bkt")
        .agg(F.sum(cnt).cast("long").alias("bn"))
        .select(
            *by,
            "bkt",
            F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("long").alias("off"),
        )
    )
    w_in = (
        Window.partitionBy(*by, "bkt")
        .orderBy(v)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return b.join(F.broadcast(boff), [*by, "bkt"]).select(
        *vc.columns,
        (F.col("off") + F.coalesce(F.sum(cnt).over(w_in), F.lit(0))).alias("cum"),
    )


def tie_classes(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    bucket_width: float = 1000.0,
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """``df``'s non-NULL ``col`` values → eagerly checkpointed
    (*by, v, cnt, *extra, cum) tie classes. ``extra_aggs`` are aliased
    aggregates evaluated in the same (by, v) rollup and carried
    through; the rank ignores them. The checkpoint is there because
    every consumer family (n, quantile lookups, histogram stats) would
    otherwise re-run the scan and rank lineage — measured 3x the wall."""
    # quantile_cont/percentile IGNORE NULLs; without this filter the
    # NULL class floor-buckets to NULL (sorts first in the offset
    # window, inflating every real class's cum) yet drops out of the
    # non-null-safe bkt equi-join — shifting every order statistic
    vc = (
        df.where(F.col(col).isNotNull())
        .groupBy(*by, F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), *extra_aggs)
    )
    return class_cum(vc, "v", by=by, bucket_width=bucket_width).localCheckpoint(
        eager=True
    )


def quantiles(
    ranked: DataFrame, fracs: Sequence[float], by: Sequence[str] = ()
) -> DataFrame:
    """Exact interpolated quantiles (quantile_cont / percentile
    semantics) from a ``tie_classes`` table → (*by, frac, quantile).
    Each fraction q resolves to ``pos = 1 + (n-1)*q``; the two covering
    classes are found by one lookup of 2·|fracs| broadcast target rows
    per group against the class table (a nested-loop theta-join when
    ``by=()``, a group-keyed hash join with the range as a residual
    otherwise) and combine as ``v_lo + (pos - floor(pos))*(v_hi - v_lo)``.
    """
    # n derives from the checkpointed classes (max covered index) — no
    # separate pass over the raw column
    n = ranked.groupBy(*by).agg(F.max(F.col("cum") + F.col("cnt")).alias("n"))
    pos = F.lit(1.0) + (F.col("n") - 1) * F.col("frac")
    targets = (
        n.select(
            *by,
            F.explode(F.array(*[F.lit(float(q)) for q in fracs])).alias("frac"),
            "n",
        )
        .select(*by, "frac", pos.alias("pos"))
        .select(
            *by,
            "frac",
            "pos",
            # both covering order statistics in one lookup frame
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("side"),
                        F.floor("pos").cast("long").alias("idx"),
                    ),
                    F.struct(
                        F.lit("hi").alias("side"),
                        F.least(
                            F.ceil("pos").cast("long"),
                            F.floor("pos").cast("long") + 1,
                        ).alias("idx"),
                    ),
                )
            ).alias("t"),
        )
        .select(
            *by, "frac", "pos", F.col("t.side").alias("side"), F.col("t.idx").alias("idx")
        )
    )
    # each order-statistic index lives in the unique class of its group
    # with cum < idx <= cum + cnt; the class table is scanned once
    hits = F.broadcast(targets).join(
        ranked.withColumnsRenamed({g: f"_{g}" for g in by}),
        [
            *[F.col(g) == F.col(f"_{g}") for g in by],
            F.col("idx") > F.col("cum"),
            F.col("idx") <= F.col("cum") + F.col("cnt"),
        ],
    )
    wide = hits.groupBy(*by, "frac", "pos").agg(
        F.max(F.when(F.col("side") == "lo", F.col("v"))).alias("v_lo"),
        F.max(F.when(F.col("side") == "hi", F.col("v"))).alias("v_hi"),
    )
    return wide.select(
        *by,
        "frac",
        (
            F.col("v_lo")
            + (F.col("pos") - F.floor("pos")) * (F.col("v_hi") - F.col("v_lo"))
        ).alias("quantile"),
    )
