"""Statistics & audience waves 30-31 (SURVEY §2.34): the inferential
and audience-analysis operators a BI platform layers over the warehouse
— one-way ANOVA, Spearman rank correlation computed WITHOUT a global
sort, audience set overlap, new-vs-returning decomposition, IQR outlier
fences, BPE-style merge-pair mining, an embedding covariance audit,
per-type inter-arrival cadence, a Laspeyres price index, and (wave 31)
contingency-table information measures (MI / chi-square / Cramér's V),
the quantity-weighted median, a daily cross-correlation function,
HHI/CR4 market concentration, the Wilcoxon signed-rank paired test, and
a Flesch readability audit.

The reference (AI.py) has no analytics surface; these are the measures
its operators would run over the chatbot's own logs and the corpus
behind it. Every query has an exact DuckDB oracle. Determinism notes:
all rank arithmetic is exact int64 (tie-class ranks, never engine sort
order); float aggregates are rounded on both sides at the stated
precision; inter-arrival ordering ties break on event_id; the price
index's base year comes from the data via the same min() on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.ranks import class_cum, quantiles, tie_classes
from .registry import query
from .sources.loaders import load_table, substrate


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


#: session-cached (o_orderstatus, v, cnt) value-count classes of
#: o_totalprice per order status: q_kruskal_wallis, q_brown_forsythe
#: and q_l_moments each re-built this same fact rollup (scan + hash
#: aggregate + per-query checkpoint) on every call. Counts are exact
#: int64, so every consumer's re-aggregation — by value (kruskal's
#: pivoted per-status subcounts), used directly (brown_forsythe), or
#: summed over statuses (l_moments) — is value-identical to its
#: standalone build; no oracle changes. |status × distinct value| rows.
@substrate("order_value_classes")
def _order_value_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return order_value_classes_frame(spark, sf_dir).localCheckpoint()


def order_value_classes_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed :func:`_order_value_classes` build plan —
    exposed so plan tests can assert the scan-side properties (single
    FileScan, pruned ReadSchema, partial aggregation) the checkpoint
    otherwise hides behind ``Scan ExistingRDD``."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


#: session-cached per-VALUE pivot of the value-class substrate —
#: (v, cnt, cf, co, cp): total count per distinct o_totalprice plus
#: the per-status subcounts as columns.
#: q_kruskal_wallis re-built and re-checkpointed exactly this table on
#: EVERY call (the r11 "not yet optimized" list / VERDICT r11 #2 — the
#: per-call eager checkpoint was the query's dominant cost, 1.3-1.9 s).
#: Derivation is an exact int64 re-aggregation of the checkpointed
#: (status, v, cnt) substrate — value-identical to the per-call build,
#: no oracle change. |distinct values| rows. Single registered
#: consumer (declared: the one rank-pivot query); it lives here rather
#: than per-call because the pivot is a static derivation of the
#: same-session value-class substrate, not per-query state.
@substrate("order_value_pivot")
def _order_value_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return order_value_pivot_frame(spark, sf_dir).localCheckpoint()


def order_value_pivot_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed :func:`_order_value_pivot` build plan — one
    hash re-aggregation of the (status, v, cnt) substrate (reads
    ``Scan ExistingRDD``, never the fact parquet; asserted in
    tests/test_plans.py)."""
    ovc = _order_value_classes(spark, sf_dir)
    return ovc.groupBy("v").agg(
        F.expr("CAST(sum(cnt) AS LONG) AS cnt"),
        F.expr(
            "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN cnt ELSE 0 END)"
            " AS LONG) AS cf"
        ),
        F.expr(
            "CAST(sum(CASE WHEN o_orderstatus = 'O' THEN cnt ELSE 0 END)"
            " AS LONG) AS co"
        ),
        F.expr(
            "CAST(sum(CASE WHEN o_orderstatus = 'P' THEN cnt ELSE 0 END)"
            " AS LONG) AS cp"
        ),
    )


# --- ST1: one-way ANOVA F-test ----------------------------------------------


@query(
    "q_anova_f",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             sum(o_totalprice) AS s1,
             sum(o_totalprice * o_totalprice) AS s2
      FROM orders GROUP BY o_orderpriority),
    s AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS k,
             (SELECT CAST(sum(n) AS BIGINT) FROM g) AS big_n,
             (SELECT sum(s1) FROM g) / (SELECT sum(n) FROM g) AS gm),
    parts AS (
      SELECT s.k, s.big_n,
             sum(g.n * (g.s1 / g.n - s.gm) * (g.s1 / g.n - s.gm)) AS ssb,
             sum(g.s2 - g.s1 * g.s1 / g.n) AS ssw
      FROM g, s GROUP BY s.k, s.big_n)
    SELECT k AS k_groups,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(big_n - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (big_n - k)), 4) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_sq
    FROM parts
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test (ST1): does mean order value differ across
    order priorities? Completes the repo's hypothesis-test battery
    (z-test M1, Mann-Whitney, chi-square, KS) with the k-group
    parametric test. 100 TB shape: ONE hash aggregate collapses the
    fact table to k rows of (n, Σx, Σx²) sufficient statistics —
    map-side partials do almost all the work — and the F statistic is
    closed-form arithmetic over those k rows (between/within sum of
    squares from the moment sums, never a second pass). η² (effect
    size) rides along for free. Both engines compute SSB/SSW from the
    identical moment formulas, so round-4/round-6 parity is exact."""
    g = _t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_totalprice").alias("s1"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("s2"),
    )
    w = Window.partitionBy()
    parts = g.select(
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("n").over(w).alias("big_n"),
        (F.sum("s1").over(w) / F.sum("n").over(w)).alias("gm"),
        "n",
        "s1",
        "s2",
    ).select(
        "k",
        "big_n",
        (
            F.col("n")
            * (F.col("s1") / F.col("n") - F.col("gm"))
            * (F.col("s1") / F.col("n") - F.col("gm"))
        ).alias("sb"),
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("sw"),
    )
    agg = parts.groupBy("k", "big_n").agg(
        F.sum("sb").alias("ssb"), F.sum("sw").alias("ssw")
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("big_n") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("big_n") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_sq"
        ),
    )


# --- ST2: Spearman rank correlation without a global sort --------------------


@query(
    "q_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT (rank() OVER (ORDER BY l_quantity)
              + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0) AS ra,
             (rank() OVER (ORDER BY l_extendedprice)
              + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0)
               AS rb
      FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(ra, rb), 6) AS spearman
    FROM r
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (ST2) between quantity and extended
    price — the monotonic-association twin of q_stats_corr's Pearson.
    The textbook form ranks each column with a GLOBAL sort window (one
    task holds the whole column — the order-statistic wall). Here each
    column's average-with-ties rank comes from the same tie-class
    machinery as the exact quantiles (operators.ranks.tie_classes:
    hash-aggregate to (v, cnt, cum) classes, floor-bucket prefix sums):
    avg_rank(v) = cum + (cnt+1)/2, exact int64-derived arithmetic with
    no engine sort order anywhere. Rows join their two rank columns
    back by VALUE (keyed equi-joins — the quantity side is ~50 classes
    and broadcasts; the price side shuffles on value), then one
    Pearson corr over the rank pairs. DuckDB's oracle uses the
    classic rank windows; average ranks agree exactly because
    rank() = cum + 1."""
    from .queries_scale import price_classes

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    ra = tie_classes(li, "l_quantity").select(
        F.col("v").alias("l_quantity"),
        (F.col("cum") + (F.col("cnt") + 1) / 2.0).alias("ra"),
    )
    # price ranks ride the shared price-class session substrate — one
    # fewer fact scan; the quantity side (~50 classes) stays local
    rb = price_classes(spark, sf_dir).select(
        F.col("v").alias("l_extendedprice"),
        (F.col("cum") + (F.col("cnt") + 1) / 2.0).alias("rb"),
    )
    paired = (
        li.join(F.broadcast(ra), "l_quantity")
        .join(rb, "l_extendedprice")
        .select("ra", "rb")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("ra", "rb"), 6).alias("spearman"),
    )


# --- ST3: audience overlap (Jaccard between event-type user sets) ------------


@query(
    "q_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM ut GROUP BY event_type),
    i AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, inter,
           round(inter / (sa.n + sb.n - inter), 6) AS jaccard
    FROM i JOIN s sa ON type_a = sa.event_type
           JOIN s sb ON type_b = sb.event_type
    ORDER BY type_a, type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix (ST3): Jaccard similarity between the
    user sets of every event-type pair — "how much of the click
    audience also purchases", the segmentation overlap every campaign
    planner asks for. Scale shape: the event volume collapses FIRST to
    distinct (type, user) pairs (hash aggregate), the pair join is
    keyed on user_id and fans out at most |types|²/2 rows per user
    (type cardinality is a small constant — this is the co-occurrence
    join, never a cross join), and set sizes broadcast back onto the
    |types|² result. Inclusion-exclusion gives the union size without
    a second pass."""
    ut = (
        _t(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        # lazy checkpoint: the distinct (type, user) pairs feed the
        # set sizes AND both pair-join sides — as plain plan subtrees
        # the events scan+distinct ran 3× per call (r11 scan-dupe
        # sweep); the shared RDD node computes once inside one job.
        .localCheckpoint(eager=False)
    )
    s = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(s.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(s.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "inter",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# --- ST4: new vs returning daily decomposition -------------------------------


@query(
    "q_new_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first_seen AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id),
    daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS active
      FROM ud GROUP BY day),
    news AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY first_day)
    SELECT d.day, d.active,
           coalesce(n.new_users, 0) AS new_users,
           d.active - coalesce(n.new_users, 0) AS returning_users,
           CAST(sum(coalesce(n.new_users, 0)) OVER (
             ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily d LEFT JOIN news n ON d.day = n.day
    ORDER BY d.day
    """,
)
def q_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning decomposition (ST4): for each day, how
    many active users saw their FIRST event that day vs came back —
    plus the cumulative acquired-user curve. The growth-accounting
    counterpart of q_cohort_retention's matrix (this is the time-series
    view, that is the cohort view). Scale shape: the raw volume
    collapses to distinct (user, day) once; first-seen is a user-keyed
    min; both daily rollups are tiny (|days| rows), and the only
    window is a running sum over |days| — never over users."""
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active")
    )
    news = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(news, "day", "left")
        .select(
            "day",
            "active",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            (F.col("active") - F.coalesce("new_users", F.lit(0))).alias(
                "returning_users"
            ),
        )
        .withColumn(
            "cum_users", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("day")
    )


# --- ST5: IQR outlier fences -------------------------------------------------


@query(
    "q_iqr_outliers",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
      FROM lineitem GROUP BY l_returnflag),
    f AS (
      SELECT l_returnflag, q1, q3,
             round(q1 - 1.5 * (q3 - q1), 5) AS lo_fence,
             round(q3 + 1.5 * (q3 - q1), 5) AS hi_fence
      FROM q)
    SELECT f.l_returnflag, f.q1, f.q3, f.lo_fence, f.hi_fence,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE l.l_extendedprice < f.lo_fence
                  OR l.l_extendedprice > f.hi_fence) AS BIGINT)
             AS n_outliers,
           round(count(*) FILTER (WHERE l.l_extendedprice < f.lo_fence
                   OR l.l_extendedprice > f.hi_fence)
                 / CAST(count(*) AS DOUBLE), 6) AS outlier_share
    FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
    GROUP BY 1, 2, 3, 4, 5 ORDER BY f.l_returnflag
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per group (ST5): the boxplot rule
    (±1.5·IQR beyond the quartiles) as a data-quality screen — which
    return-flag segments carry heavy price tails, and how heavy. The
    quartiles round to 4 decimals first (the module-wide rule), and the
    fences round to FIVE: 1.5×(a 4-decimal number) has at most 5
    decimal digits, so the 5-decimal round is exact representation on
    both engines — a 4-decimal round would sit on a .00005 midpoint
    half the time and split engines by one ulp (observed at sf0.001).
    Scale note: the quartiles come from the per-group tie-class
    machinery (``operators.ranks``) — the built-in grouped
    ``percentile`` collects one whole GROUP's values into a single
    aggregation buffer (2 M values per buffer at the 100× tier); the
    largest single-task state here is one (group, floor-bucket)'s tie
    classes — the property that decides survival at 100 TB, where a
    33 B-value group buffer simply does not fit. The fence pass reuses
    the SAME checkpointed class table (a whole tie class falls on one
    side of a fence, so n = Σcnt and n_outliers = Σcnt·[outside]) —
    the fact table is scanned exactly once per run, the move that took
    q_equi_depth_histogram 3.2→1.9 s (r7) and this query 10.2→~4 s at
    the 100× tier."""
    from .queries_scale import price_classes_grouped

    # the per-group class table is the shared price-class session
    # substrate (one tie_classes call per session)
    ranked = price_classes_grouped(spark, sf_dir)
    qq = quantiles(ranked, [0.25, 0.75], by=("l_returnflag",))
    q = (
        qq.groupBy("l_returnflag")
        .pivot("frac", [0.25, 0.75])
        .agg(F.round(F.first("quantile"), 4))
        .select(
            "l_returnflag",
            F.col("`0.25`").alias("q1"),
            F.col("`0.75`").alias("q3"),
        )
    )
    f = q.select(
        "l_returnflag",
        "q1",
        "q3",
        F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 5).alias(
            "lo_fence"
        ),
        F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 5).alias(
            "hi_fence"
        ),
    )
    out = (F.col("v") < F.col("lo_fence")) | (F.col("v") > F.col("hi_fence"))
    return (
        ranked.join(F.broadcast(f), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.when(out, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_outliers"),
            F.round(
                F.sum(F.when(out, F.col("cnt")).otherwise(F.lit(0)))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("outlier_share"),
        )
        .orderBy("l_returnflag")
    )


# --- ST6: BPE-style merge-pair mining ----------------------------------------


@query(
    "q_bpe_pairs",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    pairs AS (
      SELECT substring(w, CAST(unnest(generate_series(1, length(w) - 1))
                            AS INT), 2) AS pair
      FROM words WHERE length(w) >= 2)
    SELECT pair, CAST(count(*) AS BIGINT) AS freq
    FROM pairs GROUP BY pair ORDER BY freq DESC, pair LIMIT 30
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair mining (ST6): the first iteration of byte-pair
    encoding — count every adjacent character pair inside every
    whitespace token and rank the merge candidates. This is the
    tokenizer-training primitive (the q_vocab_coverage / fertility
    battery audits a FIXED vocab; this is where the vocab comes from).
    Tokenization follows the engine-wide whitespace contract
    (q_word_topk's split). Scale shape: pair generation is a row-local
    ``transform(sequence(...))`` over codegen (no UDF), the explode
    multiplies rows by ~word length but each output row is 2 chars,
    and the count is a plain hash aggregate with map-side partials —
    hot pairs ('th', 'er') are exactly the partial-agg-friendly case.
    Top-30 is a TakeOrdered, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(30)
    )


# --- ST7: embedding covariance audit -----------------------------------------

_COV_DIMS = 8


def _cov_oracle() -> str:
    cols = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}"
        for i in range(1, _COV_DIMS + 1)
    )
    parts = []
    for i in range(1, _COV_DIMS + 1):
        for j in range(i, _COV_DIMS + 1):
            parts.append(
                f"SELECT {i} AS i, {j} AS j, "
                f"round(covar_samp(x{i}, x{j}), 8) AS cov FROM d"
            )
    return (
        f"WITH d AS (SELECT {cols} FROM embeddings) "
        + " UNION ALL ".join(parts)
        + " ORDER BY i, j"
    )


@query("q_embedding_cov", oracle=_cov_oracle())
def q_embedding_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance audit (ST7): the upper-triangular sample
    covariance of the first 8 embedding dimensions — the matrix a
    drift monitor or PCA whitening step starts from (q_embedding_
    dims_audit reads the diagonal; this adds the cross terms that
    reveal correlated/collapsed dimensions). Scale shape: ALL 36
    covariances come out of ONE hash-aggregate pass over the vectors
    (Spark's covar_samp is a mergeable co-moment accumulator —
    map-side partials, constant state per pair), element access is
    codegen ``element_at``, and the result is 36 rows regardless of
    corpus size. The d×d generalization is the same single pass with
    d(d+1)/2 accumulators (d=64 → 2080 doubles of state — still
    constant)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        *[
            F.element_at("embedding", i).cast("double").alias(f"x{i}")
            for i in range(1, _COV_DIMS + 1)
        ]
    )
    aggs = []
    for i in range(1, _COV_DIMS + 1):
        for j in range(i, _COV_DIMS + 1):
            aggs.append(
                F.round(F.covar_samp(f"x{i}", f"x{j}"), 8).alias(
                    f"c_{i}_{j}"
                )
            )
    wide = d.agg(*aggs)
    stack = ", ".join(
        f"{i}, {j}, c_{i}_{j}"
        for i in range(1, _COV_DIMS + 1)
        for j in range(i, _COV_DIMS + 1)
    )
    n_pairs = _COV_DIMS * (_COV_DIMS + 1) // 2
    return wide.select(
        F.expr(f"stack({n_pairs}, {stack}) AS (i, j, cov)")
    ).orderBy("i", "j")


# --- ST8: inter-arrival cadence per event type -------------------------------


@query(
    "q_interarrival",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))) AS BIGINT) AS gap_s
      FROM events)
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.50), 1) AS p50_s,
           round(quantile_cont(gap_s, 0.90), 1) AS p90_s,
           round(avg(gap_s), 1) AS mean_s
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival cadence (ST8): the distribution of time
    between a user's consecutive events OF THE SAME TYPE — how often
    users come back to view vs purchase (q_funnel_timing measures
    cross-step latency; this measures within-type rhythm, the input to
    churn and session-timeout models). Scale shape: one (user, type)-
    keyed sort window produces the lag gaps (epoch-second int64
    arithmetic, ties broken on event_id so the order is total on both
    engines), then a |types|-group percentile/mean rollup — the same
    group-bounded exact-percentile posture as W19."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    g = ev.select(
        "event_type",
        (
            F.col("ts").cast("long")
            - F.lag(F.col("ts")).over(w).cast("long")
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    pct = F.percentile("gap_s", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        g.groupBy("event_type")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            pct.alias("_p"),
            F.round(F.avg("gap_s"), 1).alias("mean_s"),
        )
        .select(
            "event_type",
            "n_gaps",
            F.round(F.col("_p")[0], 1).alias("p50_s"),
            F.round(F.col("_p")[1], 1).alias("p90_s"),
            "mean_s",
        )
        .orderBy("event_type")
    )


# --- ST9: Laspeyres price index ----------------------------------------------


@query(
    "q_price_index",
    oracle="""
    WITH py AS (
      SELECT year(l_shipdate) AS yr, l_partkey,
             sum(l_extendedprice) / sum(l_quantity) AS p,
             sum(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2),
    base AS (
      SELECT l_partkey, p AS p0, q AS q0 FROM py
      WHERE yr = (SELECT min(yr) FROM py)),
    joined AS (
      SELECT py.yr, CAST(count(*) AS BIGINT) AS n_parts,
             sum(py.p * base.q0) AS cur_basket,
             sum(base.p0 * base.q0) AS base_basket
      FROM py JOIN base USING (l_partkey)
      GROUP BY py.yr)
    SELECT yr, n_parts,
           round(cur_basket / base_basket, 6) AS laspeyres
    FROM joined ORDER BY yr
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index (ST9): yearly price level relative to the
    first shipping year, weighting each part's unit price by its
    BASE-year quantity basket — the fixed-basket inflation measure
    (what a CPI is), restricted per standard practice to parts present
    in both years. Scale shape: the fact table collapses to (year,
    part) unit-price/quantity cells in one hash aggregate; the base
    year is a data-derived min over |years| rows (broadcast scalar);
    the basket join is keyed on part (broadcast-able dimension side at
    fixture scale, plain keyed shuffle at 100 TB) and each year's
    basket sums are map-side-partial friendly."""
    li = _t(spark, sf_dir, "lineitem")
    # lazy checkpoint: the (year, part) cells feed the base-year
    # scalar, the base-basket slice AND the index join — as plain plan
    # subtrees the fact aggregate ran 3× per call (r11 scan-dupe
    # sweep; same shape as q_pvm_bridge's fix).
    py = (
        li.groupBy(F.year("l_shipdate").alias("yr"), "l_partkey")
        .agg(
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
            F.sum("l_quantity").alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    min_yr = py.agg(F.min("yr").alias("yr0"))
    base = (
        py.join(F.broadcast(min_yr), py.yr == F.col("yr0"))
        .select("l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0"))
    )
    return (
        py.join(base, "l_partkey")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(F.col("p") * F.col("q0")).alias("cur_basket"),
            F.sum(F.col("p0") * F.col("q0")).alias("base_basket"),
        )
        .select(
            "yr",
            "n_parts",
            F.round(F.col("cur_basket") / F.col("base_basket"), 6).alias(
                "laspeyres"
            ),
        )
        .orderBy("yr")
    )


# =============================== wave 31 =====================================
# Contingency-table information measures, weighted robust stats, lagged
# series association, market concentration, the paired-rank test, and a
# readability audit.


# --- ST10: contingency-table stats (MI, chi-square, Cramér's V) --------------


@query(
    "q_contingency_stats",
    oracle="""
    WITH cells AS (
      SELECT event_type AS a, dayofweek(ts) AS b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM events GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS BIGINT) AS r,
                   CAST(count(DISTINCT b) AS BIGINT) AS c
            FROM cells),
    marg AS (
      SELECT cells.a, cells.b, cells.n_ab,
             sum(n_ab) OVER (PARTITION BY a) AS n_a,
             sum(n_ab) OVER (PARTITION BY b) AS n_b
      FROM cells),
    parts AS (
      SELECT sum((n_ab::DOUBLE / t.n)
                 * ln((n_ab::DOUBLE * t.n) / (n_a::DOUBLE * n_b))) AS mi,
             sum(pow(n_ab - (n_a::DOUBLE * n_b / t.n), 2)
                 / (n_a::DOUBLE * n_b / t.n)) AS chi2,
             max(t.n) AS n, max(t.r) AS r, max(t.c) AS c
      FROM marg, tot t)
    SELECT n, r AS n_rows_dim, c AS n_cols_dim,
           round(chi2, 4) AS chi2,
           round(mi, 6) AS mutual_info,
           round(sqrt(chi2 / (n * (CASE WHEN r < c THEN r ELSE c END - 1))),
                 6) AS cramers_v
    FROM parts
    """,
)
def q_contingency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table association battery (ST10): mutual
    information, chi-square, and Cramér's V between event type and
    weekday — the feature-selection measures (is behavior
    day-of-week dependent, and HOW dependent) beside the pure
    significance test q_chi_square runs. Scale shape: the event volume
    collapses to an r×c cell table in one hash aggregate; marginals are
    windows over the ≤35-cell table; all three statistics come from one
    pass over those cells. Engines sum ≤35 small terms in different
    orders — absorbed by round-4/6."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("a"),
        F.dayofweek("ts").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    marg = cells.select(
        "a",
        "b",
        "n_ab",
        F.sum("n_ab").over(wa).alias("n_a"),
        F.sum("n_ab").over(wb).alias("n_b"),
        F.sum("n_ab").over(wall).cast("long").alias("n"),
        F.size(F.collect_set("a").over(wall)).cast("long").alias("r"),
        F.size(F.collect_set("b").over(wall)).cast("long").alias("c"),
    )
    e = F.col("n_a").cast("double") * F.col("n_b") / F.col("n")
    parts = marg.groupBy("n", "r", "c").agg(
        F.sum(
            (F.col("n_ab").cast("double") / F.col("n"))
            * F.log(
                (F.col("n_ab").cast("double") * F.col("n"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            )
        ).alias("mi"),
        F.sum(F.pow(F.col("n_ab") - e, F.lit(2.0)) / e).alias("chi2"),
    )
    return parts.select(
        "n",
        F.col("r").alias("n_rows_dim"),
        F.col("c").alias("n_cols_dim"),
        F.round("chi2", 4).alias("chi2"),
        F.round("mi", 6).alias("mutual_info"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * (F.least("r", "c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --- ST11: weighted median ----------------------------------------------------


@query(
    "q_weighted_median",
    oracle="""
    WITH vc AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             sum(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT flag, v, w,
             sum(w) OVER (PARTITION BY flag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM vc)
    SELECT flag AS l_returnflag,
           round(min(tw), 2) AS total_weight,
           round(min(CASE WHEN cw >= tw / 2 THEN v END), 2)
             AS weighted_median
    FROM cum GROUP BY flag ORDER BY flag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (ST11): the
    robust "typical unit price" where every row votes with its
    quantity — the lower weighted median (smallest value whose
    cumulative weight reaches half the total; an exact, tie-free
    definition on both engines because weights are integral-valued
    doubles summed exactly and W/2 is an exact binary halving). Scale
    shape: rows collapse to (flag, value) weight classes FIRST (hash
    aggregate), the cumulative window sorts only each flag's ~|distinct
    values| classes within its own partition — no global sort, no
    single-task percentile buffer. r11: the class rollup reads the
    shared price-class checkpoint's quantity-weight column (the
    substrate grain is this query's own (flag, price) grain — zero
    fact scans in the per-query plan)."""
    from .queries_scale import price_classes_grouped

    vc = price_classes_grouped(spark, sf_dir).select(
        F.col("l_returnflag").alias("flag"), "v", "w"
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("flag")
    cum = vc.select(
        "flag",
        "v",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return (
        cum.groupBy("flag")
        .agg(
            F.round(F.min("tw"), 2).alias("total_weight"),
            F.round(
                F.min(F.when(F.col("cw") >= F.col("tw") / 2, F.col("v"))), 2
            ).alias("weighted_median"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "total_weight",
            "weighted_median",
        )
        .orderBy("l_returnflag")
    )


# --- ST12: cross-correlation of two daily series -------------------------------

_CCF_MAX_LAG = 7


@query(
    "q_ccf",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS v,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS p
      FROM events GROUP BY 1),
    lags AS (SELECT unnest(generate_series(0, {_CCF_MAX_LAG})) AS lag)
    SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.v, b.p), 6) AS ccf
    FROM lags CROSS JOIN daily a JOIN daily b ON b.day = a.day + CAST(lag AS INT)
    GROUP BY lag ORDER BY lag
    """,
)
def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function (ST12): corr(views_t, purchases_{{t+lag}})
    for lags 0..7 — "does view volume LEAD purchase volume, and by how
    many days", the lead-lag diagnostic beside q_acf's
    autocorrelation. Scale shape: the event volume collapses to one
    |days|-row daily frame (two filtered counts in one pass); each lag
    is a self-join of that tiny frame shifted by date arithmetic, and
    the |lags| correlations aggregate |days|-sized inputs — everything
    after the first aggregate is dimension-table-sized."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("v"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("p"),
    )
    lags = spark.range(0, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select("day", "v")
    b = daily.select(F.col("day").alias("day_b"), "p")
    joined = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("day_b") == F.date_add(F.col("day"), F.col("lag")))
    )
    return (
        joined.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr("v", "p"), 6).alias("ccf"),
        )
        .orderBy("lag")
    )


# --- ST13: market concentration (HHI + CR4) ------------------------------------


@query(
    "q_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, s.s_suppkey,
             sum(l.l_extendedprice) AS r
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    shares AS (
      SELECT nation, s_suppkey, r,
             r / sum(r) OVER (PARTITION BY nation) AS share,
             row_number() OVER (PARTITION BY nation
                                ORDER BY r DESC, s_suppkey) AS rn
      FROM rev)
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(share * share) * 10000, 2) AS hhi,
           round(sum(CASE WHEN rn <= 4 THEN share ELSE 0 END), 6) AS cr4
    FROM shares GROUP BY nation ORDER BY nation
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per nation (ST13):
    HHI (sum of squared supplier revenue shares × 10000, the antitrust
    scale) and CR4 (top-4 share) — "is this supplier market
    concentrated", the market-structure view where W21's Pareto curve
    is the customer view. Scale shape: the fact table collapses to
    (nation, supplier) revenue in one keyed aggregate (supplier and
    nation dims broadcast); shares and the top-4 rank are windows over
    each nation's ~|suppliers| rows — partition-keyed, never global."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum("l_extendedprice").alias("r"))
    )
    wn = Window.partitionBy("nation")
    wr = Window.partitionBy("nation").orderBy(F.desc("r"), "s_suppkey")
    shares = rev.select(
        "nation",
        (F.col("r") / F.sum("r").over(wn)).alias("share"),
        F.row_number().over(wr).alias("rn"),
    )
    return (
        shares.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")) * 10000, 2).alias(
                "hhi"
            ),
            F.round(
                F.sum(F.when(F.col("rn") <= 4, F.col("share")).otherwise(0.0)),
                6,
            ).alias("cr4"),
        )
        .orderBy("nation")
    )


# --- ST14: Wilcoxon signed-rank (paired year-over-year prices) ------------------


@query(
    "q_wilcoxon_signed_rank",
    oracle="""
    WITH py AS (
      SELECT year(l_shipdate) AS yr, l_partkey,
             sum(l_extendedprice) / sum(l_quantity) AS p
      FROM lineitem GROUP BY 1, 2),
    yrs AS (SELECT min(yr) AS y1 FROM py),
    pairs AS (
      SELECT a.l_partkey,
             round(b.p - a.p, 4) AS d
      FROM py a JOIN py b USING (l_partkey), yrs
      WHERE a.yr = yrs.y1 AND b.yr = yrs.y1 + 1),
    nz AS (SELECT l_partkey, d, abs(d) AS ad FROM pairs WHERE d <> 0),
    ranked AS (
      SELECT d,
             rank() OVER (ORDER BY ad)
               + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS rk
      FROM nz),
    stat AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS w_plus
      FROM ranked)
    SELECT n, round(w_plus, 1) AS w_plus,
           round((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0), 4) AS z
    FROM stat
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (ST14): did per-part unit prices SHIFT
    between the first two shipping years — the PAIRED nonparametric
    test beside q_mann_whitney's unpaired U (same part measured twice,
    differences ranked by magnitude). Determinism: differences are
    rounded to 4 decimals BEFORE ranking (a 1-ulp split in a float
    difference must not reorder ranks between engines), zeros drop per
    the standard procedure, and tied magnitudes take average ranks via
    the tie-class identity avg_rank = cum + (cnt+1)/2 (NO global sort
    window; the oracle's rank()+ties formula agrees exactly because
    rank() = cum + 1). The normal approximation z uses the classic
    moments.
    Scale shape (r8 rewrite — was 7.3 s vs oracle 3.2 s at the 100×
    tier): the first year resolves in one bounded driver round-trip so
    the two-year window becomes a PUSHABLE date-range predicate on the
    fact scan; both years' unit prices pivot out of ONE l_partkey hash
    aggregate (the (yr,partkey)+self-join form recomputed the grouped
    fact THREE times — the y1/a/b legs share no lineage without a
    checkpoint); and the sign counts ride the tie classes through the
    floor-bucket prefix sum (w_plus = Σ rk·pos per class — exact, ranks
    are half-integers), so nothing ever joins back to the pair rows.
    One fact scan, one wide shuffle, class-sized state after."""
    li = _t(spark, sf_dir, "lineitem")
    y1 = int(
        li.agg(F.year(F.min("l_shipdate")).alias("y1")).collect()[0].y1
    )
    yr = F.year("l_shipdate")
    two = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{y1}-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit(f"{y1 + 2}-01-01").cast("date"))
    )
    py = two.groupBy("l_partkey").agg(
        (
            F.sum(F.when(yr == y1, F.col("l_extendedprice")))
            / F.sum(F.when(yr == y1, F.col("l_quantity")))
        ).alias("pa"),
        (
            F.sum(F.when(yr == y1 + 1, F.col("l_extendedprice")))
            / F.sum(F.when(yr == y1 + 1, F.col("l_quantity")))
        ).alias("pb"),
    )
    pairs = py.filter(
        F.col("pa").isNotNull() & F.col("pb").isNotNull()
    ).select(F.round(F.col("pb") - F.col("pa"), 4).alias("d"))
    # signed rows collapse straight to |d| tie classes carrying their
    # positive count — the class_cum rank with pos along. Eagerly
    # checkpointed (class-sized): both the bucket-offset branch and the
    # final prefix sum consume it, and without the checkpoint the
    # offset branch re-runs the whole fact scan + pivot aggregate
    adc = (
        pairs.filter(F.col("d") != 0)
        .groupBy(F.abs("d").alias("ad"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum((F.col("d") > 0).cast("long")).cast("long").alias("pos"),
        )
        .localCheckpoint(eager=True)
    )
    stat = class_cum(adc, "ad").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            (F.col("cum") + (F.col("cnt") + 1) / 2.0) * F.col("pos")
        ).alias("w_plus"),
    )
    return stat.select(
        "n",
        F.round("w_plus", 1).alias("w_plus"),
        F.round(
            (F.col("w_plus") - F.col("n") * (F.col("n") + 1) / 4.0)
            / F.sqrt(
                F.col("n")
                * (F.col("n") + 1.0)
                * (2 * F.col("n") + 1)
                / 24.0
            ),
            4,
        ).alias("z"),
    )


# --- ST15: Flesch readability audit --------------------------------------------


@query(
    "q_readability",
    oracle="""
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1)
               AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syllables
      FROM documents),
    f AS (
      SELECT source,
             206.835 - 1.015 * (words::DOUBLE / sentences)
               - 84.6 * (syllables::DOUBLE / words) AS flesch
      FROM d WHERE words > 0)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(flesch), 4) AS mean_flesch,
           round(min(flesch), 4) AS min_flesch,
           round(max(flesch), 4) AS max_flesch
    FROM f GROUP BY source ORDER BY source
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease audit per source (ST15): the classic
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) formula
    with a deterministic engine-portable syllable proxy (count of
    [aeiouy]+ vowel groups — explicit character classes, no \\s/\\w
    shorthand whose RE2/Java semantics diverge) — the readability
    dimension the quality-score battery (X3) doesn't measure. Scale
    shape: all three counts are row-local regexp/array expressions in
    codegen; the per-source rollup is a |sources|-group aggregate with
    map-side partials. Counts are exact integers; only the final
    averages carry float noise, absorbed by round-4."""
    docs = _t(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")),
        F.lit(1),
    )
    d = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") > 0)
    f = d.select(
        "source",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6)
            * (F.col("syllables").cast("double") / F.col("words"))
        ).alias("flesch"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("flesch"), 4).alias("mean_flesch"),
            F.round(F.min("flesch"), 4).alias("min_flesch"),
            F.round(F.max("flesch"), 4).alias("max_flesch"),
        )
        .orderBy("source")
    )


# --- ST16: MAD robust z-score outlier screen ---------------------------------


@query(
    "q_mad_outliers",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.5) AS med
      FROM orders GROUP BY 1),
    md AS (
      SELECT o.o_orderpriority,
             quantile_disc(abs(o.o_totalprice - m.med), 0.5) AS mad
      FROM orders o JOIN m USING (o_orderpriority)
      GROUP BY 1),
    z AS (
      SELECT o.o_orderpriority, m.med, md.mad,
             round(0.6745 * (o.o_totalprice - m.med) / md.mad, 6) AS rz
      FROM orders o JOIN m USING (o_orderpriority)
                    JOIN md USING (o_orderpriority))
    SELECT o_orderpriority, round(med, 4) AS med, round(mad, 4) AS mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE abs(rz) > 3.5) AS BIGINT) AS n_outliers,
           round(max(abs(rz)), 4) AS max_abs_z
    FROM z GROUP BY 1, 2, 3 ORDER BY o_orderpriority
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust outlier screen (ST16, wave 35):
    the heavy-tail-safe sibling of ST5's IQR fences and Y10's z-score —
    robust z = 0.6745·(x − median)/MAD, flagged above the standard 3.5
    cut (Iglewicz-Hoaglin). Unlike the mean/σ z-score, one corrupt
    billion-dollar row cannot drag the screen's own center.

    Both medians are the DISC (lower) median — an actual data value,
    min v with cum ≥ ⌈n/2⌉ — so the z arithmetic consumes exact doubles
    identical on both engines with no interpolation rounding anywhere
    (the LG3 robust-center convention).

    Scale shape (r12, VERDICT r11 #1 — the r11 one-job window form
    partitioned every ordered window by the 5-value group key, so max
    parallelism was |groups| and ONE task sorted a priority's whole
    distinct-value grid; the driver measured it 0.82× vs the form it
    replaced): the grouped tie-class bucket idiom (ST11 /
    operators.ranks.class_cum, guide §2.2). The (group, value)
    class grid lazy-localCheckpoints once (shared by all three phases
    inside the same set of jobs — no re-aggregation, no eager barrier),
    and each cumulative attaches via the bucketed TWO-PHASE prefix sum:
    per-(group, floor(v/1000)) bucket subtotals roll up to a tiny
    (group, bucket) frame whose offset window is bounded by
    ~|range/width| rows, offsets broadcast back, and the within-bucket
    cumulative windows partition by (group, bucket) — no task ever owns
    more than one bucket's slice of one group's grid, at any scale.
    med = min(v | off + within-bucket cum ≥ ⌈n/2⌉) is a plain grouped
    aggregate (carrying n via the same broadcast), dv = |v − med|
    attaches by a 5-row broadcast, and mad repeats the same bucketed
    prefix over the dv grid with a RANGE frame (dv ties merge
    tie-inclusively inside their bucket; equal dv always lands in the
    same bucket since the bucket is a function of dv). Floats appear
    only in the final rz projection — identical expression text to the
    r11 form, so the declared result is bit-unchanged."""
    # (expressions are SQL strings, not Column chains: the plan is
    # built in ~25 py4j calls instead of ~90 — measured 0.53 → 0.2 s of
    # per-call DataFrame-construction wall, which the bench pays on
    # every invocation)
    o = _t(spark, sf_dir, "orders")
    cls = (
        o.selectExpr("o_orderpriority AS pri", "o_totalprice AS v")
        .groupBy("pri", "v")
        .agg(F.expr("CAST(count(1) AS LONG) AS cnt"))
    )
    b = cls.selectExpr(
        "*", "CAST(floor(v / 1000.0) AS LONG) AS bkt"
    ).localCheckpoint(eager=False)
    # phase 1: bucketed two-phase prefix sum over the value grid → DISC
    # median (off + tw share ONE ordered window spec = one WindowExec)
    boff = (
        b.groupBy("pri", "bkt")
        .agg(F.expr("CAST(sum(cnt) AS LONG) AS bn"))
        .selectExpr(
            "pri",
            "bkt",
            "CAST(coalesce(sum(bn) OVER (PARTITION BY pri ORDER BY bkt"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " AS LONG) AS off",
            "CAST(sum(bn) OVER (PARTITION BY pri ORDER BY bkt"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            " AS LONG) AS tw",
        )
    )
    g = b.join(F.broadcast(boff), ["pri", "bkt"]).selectExpr(
        "pri",
        "v",
        "tw",
        "off + sum(cnt) OVER (PARTITION BY pri, bkt ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw",
    )
    med_t = g.groupBy("pri").agg(
        F.expr(
            "min(CASE WHEN cw >= CAST((tw + 1) / 2 AS LONG) THEN v END)"
            " AS med"
        ),
        F.expr("CAST(max(tw) AS LONG) AS tw"),
    )
    # phase 2: same bucketed prefix over the |v − med| grid → MAD
    # (RANGE frame: dv ties merge tie-inclusively inside their bucket)
    dd = b.join(F.broadcast(med_t), "pri").selectExpr(
        "pri",
        "cnt",
        "tw",
        "abs(v - med) AS dv",
        "CAST(floor(abs(v - med) / 1000.0) AS LONG) AS bktd",
    )
    boffd = (
        dd.groupBy("pri", "bktd")
        .agg(F.expr("CAST(sum(cnt) AS LONG) AS bnd"))
        .selectExpr(
            "pri",
            "bktd",
            "CAST(coalesce(sum(bnd) OVER (PARTITION BY pri ORDER BY bktd"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            " AS LONG) AS offd",
        )
    )
    cumd = dd.join(F.broadcast(boffd), ["pri", "bktd"]).selectExpr(
        "pri",
        "dv",
        "tw",
        "offd + sum(cnt) OVER (PARTITION BY pri, bktd ORDER BY dv"
        " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cwd",
    )
    mad_t = cumd.groupBy("pri").agg(
        F.expr(
            "min(CASE WHEN cwd >= CAST((tw + 1) / 2 AS LONG) THEN dv END)"
            " AS mad"
        )
    )
    # phase 3: per-class robust z over the shared grid + both medians
    full = b.join(F.broadcast(med_t), "pri").join(F.broadcast(mad_t), "pri")
    return (
        full.groupBy(
            F.expr("pri AS o_orderpriority"),
            F.expr("round(med, 4) AS med"),
            F.expr("round(mad, 4) AS mad"),
        )
        .agg(
            F.expr("CAST(sum(cnt) AS LONG) AS n"),
            F.expr(
                "CAST(sum(CASE WHEN abs(round(0.6745 * (v - med) / mad, 6))"
                " > 3.5 THEN cnt ELSE 0 END) AS LONG) AS n_outliers"
            ),
            F.expr(
                "round(max(abs(round(0.6745 * (v - med) / mad, 6))), 4)"
                " AS max_abs_z"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --- ST17: Jarque-Bera normality screen ---------------------------------------


@query(
    "q_jarque_bera",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, avg(o_totalprice) AS mu
      FROM orders GROUP BY 1),
    cm AS (
      SELECT o.o_orderstatus, m.n,
             sum((o.o_totalprice - m.mu) * (o.o_totalprice - m.mu)) / m.n AS m2,
             sum((o.o_totalprice - m.mu) * (o.o_totalprice - m.mu)
                 * (o.o_totalprice - m.mu)) / m.n AS m3,
             sum((o.o_totalprice - m.mu) * (o.o_totalprice - m.mu)
                 * (o.o_totalprice - m.mu) * (o.o_totalprice - m.mu)) / m.n AS m4
      FROM orders o JOIN m USING (o_orderstatus)
      GROUP BY 1, 2),
    stat AS (
      SELECT o_orderstatus, n,
             m3 / pow(m2, 1.5) AS skew,
             m4 / (m2 * m2) - 3.0 AS kurt
      FROM cm)
    SELECT o_orderstatus, n,
           round(skew, 4) AS skewness,
           round(kurt, 4) AS kurtosis_excess,
           round(n / 6.0 * (skew * skew + kurt * kurt / 4.0), 4) AS jb,
           round(exp(-(n / 6.0 * (skew * skew + kurt * kurt / 4.0)) / 2.0), 6)
             AS p_value,
           CASE WHEN n / 6.0 * (skew * skew + kurt * kurt / 4.0) > 5.991
                THEN 0 ELSE 1 END AS normal_at_5pct
    FROM stat ORDER BY o_orderstatus
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen (ST17, wave 37): per order-status,
    the moment-based normality test JB = n/6·(S² + K²/4) with its
    exact χ²₂ p-value (survival of a 2-dof chi-square is the closed
    form e^(−x/2) — no approximation needed). The gate before any
    analysis that assumes Gaussian tails: M1's z-test and Y10's
    z-score silently mislead on the skewed heavy-tailed distributions
    this flags.

    Two-pass central moments (mean broadcast back onto the scan, then
    one aggregate of centered power sums): the one-pass raw-moment
    identity cancels catastrophically at Σx⁴ ≈ 1e27 where doubles
    carry ~1e11 of absolute granularity — centered terms keep every
    partial ≤1e20 with relative error ~1e-15, far inside the 4-decimal
    rounding. Exchange budget: one 3-row mean side + one aggregate of
    three moment partials per stratum."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderstatus", "o_totalprice"
    )
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("o_totalprice").alias("mu"),
    )
    d = F.col("o_totalprice") - F.col("mu")
    cm = (
        o.join(F.broadcast(m), "o_orderstatus")
        .groupBy("o_orderstatus", "n")
        .agg(
            (F.sum(d * d) / F.col("n")).alias("m2"),
            (F.sum(d * d * d) / F.col("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.col("n")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow("m2", F.lit(1.5))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0
    jb = F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return cm.select(
        "o_orderstatus",
        "n",
        F.round(skew, 4).alias("skewness"),
        F.round(kurt, 4).alias("kurtosis_excess"),
        F.round(jb, 4).alias("jb"),
        F.round(F.exp(-jb / 2.0), 6).alias("p_value"),
        F.when(jb > 5.991, 0).otherwise(1).alias("normal_at_5pct"),
    ).orderBy("o_orderstatus")


# --- ST18: Kruskal-Wallis H test ----------------------------------------------


@query(
    "q_kruskal_wallis",
    oracle="""
    WITH vc AS (
      SELECT o_totalprice AS v,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cf,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS co,
             CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cp
      FROM orders GROUP BY 1),
    r AS (
      SELECT cnt, cf, co, cp,
             2 * COALESCE(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS r2
      FROM vc),
    agg AS (
      SELECT CAST(sum(cf) AS BIGINT) AS nf,
             CAST(sum(co) AS BIGINT) AS no,
             CAST(sum(cp) AS BIGINT) AS np,
             CAST(sum(cf * r2) AS BIGINT) AS sf,
             CAST(sum(co * r2) AS BIGINT) AS so,
             CAST(sum(cp * r2) AS BIGINT) AS sp,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM r),
    tot AS (
      SELECT nf + no + np AS big_n,
             tie3,
             (sf / 2.0) * (sf / 2.0) / nf
               + (so / 2.0) * (so / 2.0) / no
               + (sp / 2.0) * (sp / 2.0) / np AS sq
      FROM agg)
    SELECT CAST(3 AS BIGINT) AS k_groups,
           big_n AS n,
           CAST(2 AS BIGINT) AS df,
           round(12.0 / (big_n * (big_n + 1.0)) * sq
                 - 3.0 * (big_n + 1.0), 4) AS h_stat,
           round((12.0 / (big_n * (big_n + 1.0)) * sq
                  - 3.0 * (big_n + 1.0))
                 / (1.0 - tie3 / (CAST(big_n AS DOUBLE) * big_n * big_n
                                  - big_n)), 4) AS h_corrected,
           CASE WHEN (12.0 / (big_n * (big_n + 1.0)) * sq
                      - 3.0 * (big_n + 1.0))
                     / (1.0 - tie3 / (CAST(big_n AS DOUBLE) * big_n * big_n
                                      - big_n)) > 5.991
                THEN 1 ELSE 0 END AS significant_5pct
    FROM tot
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (ST18, wave 38): does order value differ
    across the three order statuses, nonparametrically — the k-group
    extension of Mann-Whitney (M9) and the rank twin of the ANOVA F
    (ST1). H = 12/(N(N+1))·Σ R̄ₘ²·nₘ... computed tie-corrected.

    Rank arithmetic is the M9 discipline: never rank rows — collapse
    to per-value tie classes (one hash aggregate carrying per-group
    subcounts), build each class's DOUBLED average rank 2·cum+cnt+1
    with the bucketed two-phase prefix sum, and take per-group rank
    sums as exact-int64 Σ cnt_g·r2 (doubled ranks are .5-exact, and
    the doubled products stay < 2^63 through the 1000x tier). Floats
    appear only in the final one-row H projection, association written
    identically in the oracle. Tie correction 1 − Σ(t³−t)/(N³−N)."""
    # per-status subcounts pivot out of the session (status, v, cnt)
    # substrate via the SESSION-CACHED pivot (r12, VERDICT r11 #2: the
    # pivot was re-built and re-eager-checkpointed on every call — the
    # query's dominant cost; it is a static exact-int64 derivation of
    # the same-session substrate, so it now materializes once per
    # (session, sf_dir) and the per-call plan reads ExistingRDD)
    r = class_cum(_order_value_pivot(spark, sf_dir), "v", bucket_width=50000.0)
    r2 = 2 * F.col("cum") + F.col("cnt") + 1
    agg = r.agg(
        F.sum("cf").cast("long").alias("nf"),
        F.sum("co").cast("long").alias("no"),
        F.sum("cp").cast("long").alias("np"),
        F.sum(F.col("cf") * r2).cast("long").alias("sf"),
        F.sum(F.col("co") * r2).cast("long").alias("so"),
        F.sum(F.col("cp") * r2).cast("long").alias("sp"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie3"),
    )
    big_n = F.col("nf") + F.col("no") + F.col("np")
    sq = (
        (F.col("sf") / 2.0) * (F.col("sf") / 2.0) / F.col("nf")
        + (F.col("so") / 2.0) * (F.col("so") / 2.0) / F.col("no")
        + (F.col("sp") / 2.0) * (F.col("sp") / 2.0) / F.col("np")
    )
    h = 12.0 / (big_n * (big_n + 1.0)) * sq - 3.0 * (big_n + 1.0)
    hc = h / (
        1.0
        - F.col("tie3")
        / (big_n.cast("double") * big_n * big_n - big_n)
    )
    return agg.select(
        F.lit(3).cast("long").alias("k_groups"),
        big_n.alias("n"),
        F.lit(2).cast("long").alias("df"),
        F.round(h, 4).alias("h_stat"),
        F.round(hc, 4).alias("h_corrected"),
        F.when(hc > 5.991, 1).otherwise(0).alias("significant_5pct"),
    )


# --- ST19: Brown-Forsythe (median-centered Levene) variance-homogeneity test --


@query(
    "q_brown_forsythe",
    oracle="""
    WITH med AS (
      SELECT o_orderstatus, quantile_disc(o_totalprice, 0.5) AS med
      FROM orders GROUP BY 1),
    z AS (
      SELECT o.o_orderstatus, abs(o.o_totalprice - m.med) AS z
      FROM orders o JOIN med m USING (o_orderstatus)),
    g AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             sum(z) AS s1, sum(z * z) AS s2
      FROM z GROUP BY 1),
    s AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS k,
             (SELECT CAST(sum(n) AS BIGINT) FROM g) AS big_n,
             (SELECT sum(s1) FROM g) / (SELECT sum(n) FROM g) AS gm),
    parts AS (
      SELECT s.k, s.big_n,
             sum(g.n * (g.s1 / g.n - s.gm) * (g.s1 / g.n - s.gm)) AS ssb,
             sum(g.s2 - g.s1 * g.s1 / g.n) AS ssw
      FROM g, s GROUP BY s.k, s.big_n)
    SELECT k AS k_groups,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(big_n - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (big_n - k)), 4) AS f_stat,
           CASE WHEN (ssb / (k - 1)) / (ssw / (big_n - k)) > 2.9957
                THEN 0 ELSE 1 END AS variances_equal_5pct
    FROM parts
    """,
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (ST19, wave 38): are order-value variances
    homogeneous across order statuses? Levene's test with the
    median-centered absolute deviations (the robust variant) — the
    assumption gate in front of the ANOVA F (ST1), completing the
    parametric-test battery. z = |x − med_g| with med_g the exact DISC
    median (a real data value, the LG3 convention — no interpolated
    float for engines to disagree on), then the one-way ANOVA moment
    form over z (ST1's sufficient-statistics shape).

    100 TB shape: per-group disc medians come from the grouped
    tie-class substrate (hash agg + per-group running cut, k rows
    out), broadcast back onto one fact pass that accumulates (n, Σz,
    Σz²) map-side; the F statistic is closed-form over k rows. The
    5%% critical value for (2, large) df is 2.9957."""

    # ONE fact pass: the (status, value) tie classes carry everything —
    # the grouped disc medians come from per-group running cuts over the
    # classes, and the deviation moments are cnt-weighted class sums
    # (identical values to a second |x−med| fact pass, one scan fewer;
    # measured 11.4 s → ~4 s at the 150 M-row tier). r11: the class
    # table is the session substrate shared with q_kruskal_wallis /
    # q_l_moments — same grain, same values, zero extra build.
    gv = _order_value_classes(spark, sf_dir)
    w_cum = (
        Window.partitionBy("o_orderstatus")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("o_orderstatus")
    med = (
        gv.select(
            "o_orderstatus",
            "v",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_tot).alias("ng"),
        )
        .filter(F.col("cum") >= F.ceil(F.col("ng") / 2.0))
        .groupBy("o_orderstatus")
        .agg(F.min("v").alias("med"))
    )
    zc = F.abs(F.col("v") - F.col("med"))
    g = (
        gv.join(F.broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("cnt") * zc).alias("s1"),
            F.sum(F.col("cnt") * zc * zc).alias("s2"),
        )
    )
    w = Window.partitionBy()
    parts = g.select(
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("n").over(w).alias("big_n"),
        (F.sum("s1").over(w) / F.sum("n").over(w)).alias("gm"),
        "n",
        "s1",
        "s2",
    ).select(
        "k",
        "big_n",
        (
            F.col("n")
            * (F.col("s1") / F.col("n") - F.col("gm"))
            * (F.col("s1") / F.col("n") - F.col("gm"))
        ).alias("sb"),
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("sw"),
    )
    agg = parts.groupBy("k", "big_n").agg(
        F.sum("sb").alias("ssb"), F.sum("sw").alias("ssw")
    )
    f_stat = (F.col("ssb") / (F.col("k") - 1)) / (
        F.col("ssw") / (F.col("big_n") - F.col("k"))
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("big_n") - F.col("k")).cast("long").alias("df_within"),
        F.round(f_stat, 4).alias("f_stat"),
        F.when(f_stat > 2.9957, 0).otherwise(1).alias("variances_equal_5pct"),
    )


# --- ST20: L-moments from tie classes -------------------------------------------


@query(
    "q_l_moments",
    oracle="""
    WITH vc AS (
      SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    r AS (
      SELECT v, cnt,
             COALESCE(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum,
             sum(cnt) OVER () AS n
      FROM vc),
    b AS (
      SELECT max(n) AS n,
             sum(v * cnt) AS sb0,
             sum(v * ((cnt * CAST(cum AS DOUBLE)
                       + cnt * (cnt - 1) / 2.0)
                      / (n - 1.0))) AS sb1,
             sum(v * (((cum + cnt) / 1.0 * (cum + cnt - 1) * (cum + cnt - 2)
                        / 3.0
                       - cum / 1.0 * (cum - 1) * (cum - 2) / 3.0)
                      / ((n - 1.0) * (n - 2.0)))) AS sb2,
             sum(v * (((cum + cnt) / 1.0 * (cum + cnt - 1) * (cum + cnt - 2)
                        * (cum + cnt - 3) / 4.0
                       - cum / 1.0 * (cum - 1) * (cum - 2) * (cum - 3)
                         / 4.0)
                      / ((n - 1.0) * (n - 2.0) * (n - 3.0)))) AS sb3
      FROM r),
    lm AS (
      SELECT n,
             sb0 / n AS b0, sb1 / n AS b1, sb2 / n AS b2, sb3 / n AS b3
      FROM b)
    SELECT CAST(n AS BIGINT) AS n,
           round(b0, 4) AS l1,
           round(2 * b1 - b0, 4) AS l2,
           round((2 * b1 - b0) / b0, 6) AS l_cv,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skew,
           round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)
             AS l_kurt
    FROM lm
    """,
)
def q_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moments of the order-value distribution (ST20, wave 39): λ₁,
    λ₂ and the L-ratios L-CV / L-skewness / L-kurtosis — the
    order-statistics moments hydrology and risk teams use where
    classical moments (ST17's skew/kurtosis) are unbounded and
    outlier-fragile (L-ratios are bounded in [−1, 1] and exist for any
    distribution with a mean). Computed from probability-weighted
    moments b_r = (1/n)·Σ x₍ᵢ₎·C(i−1, r)/C(n−1, r).

    Never sorts rows: the tie classes own order-statistic ranks
    [cum+1, cum+cnt], and Σᵢ (i−1)(i−2)…(i−r) over a class is the
    closed-form telescoping difference of T_r(m) = m(m−1)…(m−r)/(r+1)
    — evaluated in DOUBLE (T₃ overflows int64 past ~55 k rows) with
    the weight normalized to ≤1 BEFORE multiplying the value, the
    association written identically on both sides. One fact aggregate
    + the bucketless class prefix sum (value-ordered window over the
    class table); everything after is one-row arithmetic."""
    # value classes summed out of the session (status, v, cnt)
    # substrate — exact int64, identical to the direct fact rollup
    vc = (
        _order_value_classes(spark, sf_dir)
        .groupBy("v")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    r = vc.select(
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    n = F.col("n")
    cnt, cum, v = F.col("cnt"), F.col("cum"), F.col("v")
    t2 = lambda m: m / 1.0 * (m - 1) * (m - 2) / 3.0  # noqa: E731
    t3 = lambda m: m / 1.0 * (m - 1) * (m - 2) * (m - 3) / 4.0  # noqa: E731
    b = r.select(
        "n",
        (v * cnt).alias("c0"),
        (v * ((cnt * cum.cast("double") + cnt * (cnt - 1) / 2.0) / (n - 1.0))).alias("c1"),
        (v * ((t2(cum + cnt) - t2(cum)) / ((n - 1.0) * (n - 2.0)))).alias("c2"),
        (
            v
            * (
                (t3(cum + cnt) - t3(cum))
                / ((n - 1.0) * (n - 2.0) * (n - 3.0))
            )
        ).alias("c3"),
    ).groupBy("n").agg(
        F.sum("c0").alias("sb0"),
        F.sum("c1").alias("sb1"),
        F.sum("c2").alias("sb2"),
        F.sum("c3").alias("sb3"),
    )
    b0 = F.col("sb0") / n
    b1 = F.col("sb1") / n
    b2 = F.col("sb2") / n
    b3 = F.col("sb3") / n
    l2 = 2 * b1 - b0
    return b.select(
        n.cast("long").alias("n"),
        F.round(b0, 4).alias("l1"),
        F.round(l2, 4).alias("l2"),
        F.round(l2 / b0, 6).alias("l_cv"),
        F.round((6 * b2 - 6 * b1 + b0) / l2, 6).alias("l_skew"),
        F.round((20 * b3 - 30 * b2 + 12 * b1 - b0) / l2, 6).alias("l_kurt"),
    )


# --- ST21: Cochran's Q test over matched binary treatments ----------------------

#: the five canonical event types, pinned so k (and the chi² critical
#: value at df = k-1) is tier-independent
_COCHRAN_TYPES = ("click", "error", "purchase", "signup", "view")
_CHI2_95_DF4 = 9.487729  # chi²(0.95, df=4)


@query(
    "q_cochran_q",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             {", ".join(
                 f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                 f" AS BIGINT) AS c_{t}"
                 for t in _COCHRAN_TYPES)},
             CAST(count(*) AS BIGINT) AS tot
      FROM events
      WHERE event_type IN {_COCHRAN_TYPES!r}
      GROUP BY user_id),
    f AS (
      SELECT {", ".join(
                 f"CASE WHEN 5 * c_{t} > tot THEN 1 ELSE 0 END AS x_{t}"
                 for t in _COCHRAN_TYPES)}
      FROM c),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             {", ".join(
                 f"CAST(sum(x_{t}) AS BIGINT) AS g_{t}"
                 for t in _COCHRAN_TYPES)},
             CAST(sum(x_click + x_error + x_purchase + x_signup + x_view)
                  AS BIGINT) AS t,
             CAST(sum((x_click + x_error + x_purchase + x_signup + x_view)
                      * (x_click + x_error + x_purchase + x_signup + x_view))
                  AS BIGINT) AS sum_l2
      FROM f),
    q AS (
      SELECT *,
             round(coalesce(
               4.0 * (5.0 * (g_click * g_click + g_error * g_error
                             + g_purchase * g_purchase
                             + g_signup * g_signup + g_view * g_view)
                      - CAST(t AS DOUBLE) * t)
               / nullif(5.0 * t - sum_l2, 0.0), 0.0), 6) AS q_stat
      FROM s)
    SELECT n_users, g_click, g_error, g_purchase, g_signup, g_view,
           t AS grand_total, sum_l2, q_stat,
           CAST(4 AS BIGINT) AS df,
           CASE WHEN q_stat > {_CHI2_95_DF4} THEN 1 ELSE 0 END
             AS reject_5pct
    FROM q
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (ST21, wave 41): do the k=5 event types differ
    in how often they are OVER-REPRESENTED in a user's activity mix?
    Each user is a matched block, each event type a treatment, and
    X_ij = 1 iff type j exceeds a uniform 1/k share of user i's events
    (5·c_ij > total_i — integer-exact and scale-invariant, so the
    design cannot saturate to all-ones at denser tiers the way an
    "ever fired" indicator does; at most 4 of 5 shares can strictly
    exceed 1/5). The within-subjects omnibus complement to M10's
    chi-square and M27's Friedman (ranks → binary here). Q is
    asymptotically chi²(k−1).

    Exactness: Q = (k−1)·(k·ΣG_j² − T²) / (k·T − ΣL_i²) in closed form
    from int64 sufficient statistics (column totals G_j, row totals
    L_i ≤ 4, grand total T); both engines divide the SAME exact
    integers, 6-dp rounding and the pinned chi² literal make the
    verdict deterministic; a NULLIF guard maps the no-variation
    degenerate case to Q = 0. Bounds: G_j ≤ |users| ≈ 1.5e7 at the
    1000× tier → ΣG_j² ≈ 1e15 ≪ 2^63 (documented). The type list is
    PINNED so k — and the df=4 critical value — cannot drift.

    Shape: ONE user-keyed conditional aggregate (map-side combined —
    five counters + a total per user, no pivot shuffle, no distinct
    pass), flags and L_i computed in-row, then a single scalar
    aggregate; ΣG_j² is a fixed-order in-row expression over the five
    columns. Two exchanges total at any corpus size."""
    ev = load_table(spark, "events", sf_dir)
    c = (
        ev.filter(F.col("event_type").isin(*_COCHRAN_TYPES))
        .groupBy("user_id")
        .agg(
            *[
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"c_{t}")
                for t in _COCHRAN_TYPES
            ],
            F.count(F.lit(1)).cast("long").alias("tot"),
        )
    )
    f = c.select(
        *[
            F.when(5 * F.col(f"c_{t}") > F.col("tot"), 1)
            .otherwise(0)
            .alias(f"x_{t}")
            for t in _COCHRAN_TYPES
        ]
    ).withColumn(
        "li",
        F.col("x_click")
        + F.col("x_error")
        + F.col("x_purchase")
        + F.col("x_signup")
        + F.col("x_view"),
    )
    s = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[
            F.sum(f"x_{t}").cast("long").alias(f"g_{t}")
            for t in _COCHRAN_TYPES
        ],
        F.sum("li").cast("long").alias("t"),
        F.sum(F.col("li") * F.col("li")).cast("long").alias("sum_l2"),
    )
    sum_g2 = (
        F.col("g_click") * F.col("g_click")
        + F.col("g_error") * F.col("g_error")
        + F.col("g_purchase") * F.col("g_purchase")
        + F.col("g_signup") * F.col("g_signup")
        + F.col("g_view") * F.col("g_view")
    )
    q_stat = F.round(
        F.coalesce(
            4.0
            * (5.0 * sum_g2 - F.col("t").cast("double") * F.col("t"))
            / F.nullif(5.0 * F.col("t") - F.col("sum_l2"), F.lit(0.0)),
            F.lit(0.0),
        ),
        6,
    )
    return s.withColumn("q_stat", q_stat).select(
        "n_users",
        "g_click",
        "g_error",
        "g_purchase",
        "g_signup",
        "g_view",
        F.col("t").alias("grand_total"),
        "sum_l2",
        "q_stat",
        F.lit(4).cast("long").alias("df"),
        F.when(F.col("q_stat") > _CHI2_95_DF4, 1)
        .otherwise(0)
        .alias("reject_5pct"),
    )


# --- ST22: Page's L trend test over monthly weekday-revenue ranks ---------------


@query(
    "q_page_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1),
    md AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS m,
             dayofweek(d) AS dow,
             round(sum(rev), 4) AS rev
      FROM daily GROUP BY 1, 2),
    months AS (SELECT DISTINCT m FROM md),
    grid AS (
      SELECT months.m, g.dow, coalesce(md.rev, 0.0) AS rev
      FROM months
      CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dow) g
      LEFT JOIN md ON md.m = months.m AND md.dow = g.dow),
    ranked AS (
      SELECT m, dow,
             CAST(row_number() OVER (PARTITION BY m ORDER BY rev, dow)
                  AS BIGINT) AS rnk
      FROM grid),
    rj AS (
      SELECT CAST(count(DISTINCT m) AS BIGINT) AS b,
             {rsums}
      FROM ranked),
    l AS (
      SELECT *,
             1 * r_dow0 + 2 * r_dow1 + 3 * r_dow2 + 4 * r_dow3
             + 5 * r_dow4 + 6 * r_dow5 + 7 * r_dow6 AS l_stat
      FROM rj)
    SELECT b AS n_months, r_dow0, r_dow1, r_dow2, r_dow3, r_dow4, r_dow5,
           r_dow6, CAST(l_stat AS BIGINT) AS l_stat,
           round((l_stat - 112.0 * b)
                 / sqrt(b * 49.0 * 8.0 * 48.0 / 144.0), 6) AS z,
           CASE WHEN abs(round((l_stat - 112.0 * b)
                 / sqrt(b * 49.0 * 8.0 * 48.0 / 144.0), 6)) > 1.96
                THEN 1 ELSE 0 END AS trend_5pct
    FROM l
    """.format(
        rsums=", ".join(
            f"CAST(sum(CASE WHEN dow = {j} THEN rnk ELSE 0 END) AS BIGINT)"
            f" AS r_dow{j}"
            for j in range(7)
        )
    ),
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test (ST22, wave 42): is revenue MONOTONICALLY
    ordered across the weekday sequence (Sun → Sat), consistently
    month after month? Blocks are calendar months, treatments are the
    7 weekday slots in fixed hypothesized order, the blocked value is
    the month's total revenue falling on that weekday (a slot with no
    active days contributes 0 — the dense month×dow grid makes every
    block complete at every tier, including the sparse sf0.001
    calendar), and within each month the 7 slots are ranked 1..7.
    Page's L = Σ_j j·R_j is the ordered-alternatives sharpening of
    M27's Friedman (which only detects SOME difference); TM8/TM16
    measure weekday seasonality strength, this tests a DIRECTIONAL
    hypothesis with a calibrated z.

    Exactness: day revenues are the 4-dp values the daily_orders
    substrate pins, and the (month, dow) re-aggregation is rounded to
    4 dp again so mathematically-equal sums land on identical doubles
    on both engines (the part_revenue two-stage-rounding argument:
    float error ~1e-9 never reaches the 5e-5 boundary); ranks are
    row_number over (rev, dow) — deterministic; R_j, L, and b are
    exact int64; E[L] = b·k(k+1)²/4 = 112b and
    Var[L] = b·k²(k+1)(k²−1)/144 enter as closed-form literals (k = 7
    pinned) and z is rounded 6-dp. Weekday is DuckDB's 0=Sunday
    convention (the K4 rule). Int64 bound (r10 #6 audit): b counts
    calendar months, which N× replication does NOT grow (copies land
    on the same dates), so L = Σ j·R_j ≤ 28·7·b ≈ 2e4 at every tier —
    margin to 2^63 is ~14 orders of magnitude.

    Shape: rides the shared daily_orders session checkpoint — the
    (month, dow) rollup, dense grid, ranking window, and rank-sum
    rollup all run on |days|-order rows (zero fact scans in the
    per-query plan); the final statistic is one fixed-order in-row
    expression over seven columns."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select(
        F.trunc("d", "month").alias("m"),
        (F.dayofweek("d") - 1).alias("dow"),
        "rev",
    )
    md = daily.groupBy("m", "dow").agg(
        F.round(F.sum("rev"), 4).alias("rev")
    )
    months = md.select("m").distinct()
    dows = spark.range(7).select(F.col("id").cast("int").alias("dow"))
    grid = (
        months.crossJoin(F.broadcast(dows))
        .join(md, ["m", "dow"], "left")
        .select("m", "dow", F.coalesce("rev", F.lit(0.0)).alias("rev"))
    )
    ranked = grid.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("m").orderBy("rev", "dow")
        ),
    )
    rj = ranked.agg(
        F.countDistinct("m").cast("long").alias("b"),
        *[
            F.sum(F.when(F.col("dow") == j, F.col("rnk")).otherwise(0))
            .cast("long")
            .alias(f"r_dow{j}")
            for j in range(7)
        ],
    )
    l_stat = sum(
        [(j + 1) * F.col(f"r_dow{j}") for j in range(7)], F.lit(0)
    )
    z = F.round(
        (F.col("l_stat") - 112.0 * F.col("b"))
        / F.sqrt(F.col("b") * 49.0 * 8.0 * 48.0 / 144.0),
        6,
    )
    return (
        rj.withColumn("l_stat", l_stat.cast("long"))
        .withColumn("z", z)
        .select(
            F.col("b").alias("n_months"),
            *[f"r_dow{j}" for j in range(7)],
            "l_stat",
            "z",
            F.when(F.abs(F.col("z")) > 1.96, 1)
            .otherwise(0)
            .alias("trend_5pct"),
        )
    )
