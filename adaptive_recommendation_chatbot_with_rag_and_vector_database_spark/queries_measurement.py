"""Measurement & statistics wave 16 (SURVEY §2.27): the experiment-
and-privacy toolkit a data platform runs beside its warehouse — a
two-proportion A/B z-test with deterministic hash bucketing, per-group
winsorized/trimmed robust statistics, behavioral diversity indices
(Shannon/Simpson), an ε-differentially-private histogram with seeded
Laplace noise, and a grid-blocked spatial radius join (the blocking
pattern that keeps geo joins off the cross product).

The reference (AI.py) has no experiment surface; these are the
operators its operators-of-operators would need: the chatbot's own
engagement logs A/B-tested, its usage histograms published with DP
noise, its user base profiled for behavioral diversity.

Every query has an exact DuckDB oracle. Determinism notes: variant
assignment and noise seeds are LCG integer arithmetic on int64 keys
(identical on both engines — no engine RNG anywhere); percentile
cutoffs are rounded to 4 decimals BEFORE being used in comparisons so
a 1-ulp interpolation difference can't flip a row's in/out status;
haversine distances compare on values rounded to 6 decimals for the
same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.ranks import class_cum
from .registry import query
from .sources.loaders import load_table, local_frame

# LCG constants (glibc's rand): public-domain mixing for seeded,
# engine-portable pseudo-randomness. int64-safe for every fixture key.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 1048576  # 2^20: exact in a double, so residue/M is exact too

# --- W16e: two-proportion A/B z-test ---------------------------------------

_AB_SPEND = 3500.0


@query(
    "q_ab_test",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2}
                  THEN 0 ELSE 1 END AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                THEN value ELSE 0 END) > {_AB_SPEND}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT count(*) FILTER (variant = 0) AS n_a,
             CAST(sum(converted) FILTER (variant = 0) AS BIGINT) AS conv_a,
             count(*) FILTER (variant = 1) AS n_b,
             CAST(sum(converted) FILTER (variant = 1) AS BIGINT) AS conv_b
      FROM per_user),
    stats AS (
      SELECT n_a, conv_a, n_b, conv_b,
             conv_a / CAST(n_a AS DOUBLE) AS rate_a,
             conv_b / CAST(n_b AS DOUBLE) AS rate_b,
             (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pooled
      FROM arms)
    SELECT n_a, conv_a, round(rate_a, 5) AS rate_a,
           n_b, conv_b, round(rate_b, 5) AS rate_b,
           round(rate_b - rate_a, 5) AS lift,
           round((rate_b - rate_a) /
                 nullif(sqrt(pooled * (1 - pooled) *
                             (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z_score,
           CASE WHEN abs((rate_b - rate_a) /
                         nullif(sqrt(pooled * (1 - pooled) *
                                     (1.0 / n_a + 1.0 / n_b)), 0)) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM stats
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test (W16e): assign every user to an arm by
    a seeded LCG hash of user_id (deterministic, replayable, identical
    on any engine — the property `rand()` bucketing lacks), define
    conversion as purchase spend above a threshold, and test the rate
    difference with the pooled two-proportion z statistic.

    Plan shape: one user-keyed exchange for the per-user spend rollup
    (partial sums map-side), then a single global aggregate whose
    exchange carries one 4-counter partial row per mapper. The z math
    is a scalar projection on a 1-row frame. At 100 TB nothing but the
    user rollup grows; the test itself is constant-size."""
    per_user = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(F.lit(0.0))
                )
                > _AB_SPEND,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
            "converted",
        )
    )
    arms = per_user.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias("conv_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z = (rate_b - rate_a) / F.nullif(se, F.lit(0.0))
    return arms.select(
        "n_a",
        "conv_a",
        F.round(rate_a, 5).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round(rate_b, 5).alias("rate_b"),
        F.round(rate_b - rate_a, 5).alias("lift"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --- W16f: winsorized / trimmed robust statistics --------------------------


@query(
    "q_winsorize",
    oracle="""
    WITH cuts AS (
      SELECT c_mktsegment,
             round(quantile_cont(c_acctbal, 0.05), 4) AS p05,
             round(quantile_cont(c_acctbal, 0.95), 4) AS p95
      FROM customer GROUP BY c_mktsegment)
    SELECT c.c_mktsegment, count(*) AS n,
           round(avg(c.c_acctbal), 4) AS raw_mean,
           round(avg(least(greatest(c.c_acctbal, cuts.p05), cuts.p95)), 4)
             AS winsorized_mean,
           round(avg(c.c_acctbal) FILTER (
             c.c_acctbal >= cuts.p05 AND c.c_acctbal <= cuts.p95), 4)
             AS trimmed_mean,
           count(*) FILTER (c.c_acctbal < cuts.p05 OR c.c_acctbal > cuts.p95)
             AS n_clipped
    FROM customer c JOIN cuts ON c.c_mktsegment = cuts.c_mktsegment
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorized and trimmed means (W16f): compute exact
    p05/p95 per market segment, clip (winsorize) or drop (trim) the
    tails, and report robust means beside the raw mean with the
    clipped-row count — the outlier-hardened summary a metrics layer
    publishes when a single whale account shouldn't move the average.

    The cutoffs are rounded to 4 decimals BEFORE the comparison on both
    engines, so a 1-ulp difference in percentile interpolation cannot
    flip a boundary row between clipped and kept.

    Plan shape: two segment-keyed aggregates — the exact-percentile
    pass (array-buffered per group; the documented approx_percentile
    t-digest swap applies for wide groups at cluster scale, SURVEY §8
    Y4) and the robust-mean pass with the 5-row cutoff table riding a
    broadcast back onto the fact side. No fact-sized join shuffle."""
    customer = load_table(spark, "customer", sf_dir)
    cuts = customer.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.05)), 4).alias("p05"),
        F.round(F.percentile("c_acctbal", F.lit(0.95)), 4).alias("p95"),
    )
    joined = customer.join(F.broadcast(cuts), "c_mktsegment")
    clipped = F.least(F.greatest(F.col("c_acctbal"), F.col("p05")), F.col("p95"))
    in_band = (F.col("c_acctbal") >= F.col("p05")) & (
        F.col("c_acctbal") <= F.col("p95")
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.round(F.avg(F.when(in_band, F.col("c_acctbal"))), 4).alias(
                "trimmed_mean"
            ),
            F.count(F.when(~in_band, 1)).alias("n_clipped"),
        )
        .orderBy("c_mktsegment")
    )


# --- W16g: behavioral diversity indices ------------------------------------


@query(
    "q_diversity_index",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt FROM events
      GROUP BY user_id, event_type),
    rollup AS (
      SELECT user_id, CAST(sum(cnt) AS BIGINT) AS t, count(*) AS n_types,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2,
             max(cnt) AS cmax,
             sum(cnt * ln(cnt)) AS sl
      FROM counts GROUP BY user_id)
    SELECT user_id, t AS n_events, n_types,
           round(ln(t) - sl / t, 5) AS shannon,
           round(CAST(s2 AS DOUBLE) / CAST(t * t AS DOUBLE), 5) AS simpson,
           round(CAST(cmax AS DOUBLE) / CAST(t AS DOUBLE), 5) AS top_share
    FROM rollup ORDER BY user_id
    """,
)
def q_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user (W16g): Shannon entropy, Simpson
    concentration, and top-type share over each user's event-type
    distribution — the engagement-breadth score that separates
    single-feature users from explorers (and, over token or source
    distributions, the corpus-balance diagnostic).

    Determinism: Simpson and top-share are EXACT integer ratios with
    one final double division (Σcnt², max cnt, (Σcnt)² are int64), so
    summation order can't move them across a rounding boundary — the
    p²-as-doubles form flipped a .xxxx5 case between engines. Shannon
    uses the equivalent ln(T) − Σ(cnt·ln cnt)/T, whose irrational
    terms make boundary landings measure-zero.

    Plan shape: the (user, type) count keys exchange 1 with map-side
    partials; the per-user rollup re-keys on user_id (exchange 2
    carries ≤|types| rows per user). Entropy is a sum of ≤|types|
    scan-side terms — no explode of the raw stream ever shuffles. At
    100 TB exchange 2's volume is users×types, independent of event
    count."""
    counts = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rollup = counts.groupBy("user_id").agg(
        F.sum("cnt").alias("t"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
        F.max("cnt").alias("cmax"),
        F.sum(F.col("cnt") * F.log("cnt")).alias("sl"),
    )
    return rollup.select(
        "user_id",
        F.col("t").alias("n_events"),
        "n_types",
        F.round(F.log("t") - F.col("sl") / F.col("t"), 5).alias("shannon"),
        F.round(
            F.col("s2").cast("double") / (F.col("t") * F.col("t")).cast("double"),
            5,
        ).alias("simpson"),
        F.round(F.col("cmax").cast("double") / F.col("t").cast("double"), 5).alias(
            "top_share"
        ),
    ).orderBy("user_id")


# --- W16h: ε-differentially-private histogram ------------------------------

_DP_B = 2.0  # Laplace scale b = sensitivity/ε = 1/0.5


@query(
    "q_dp_noise",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2),
    seeded AS (
      SELECT event_type, d, n,
             ((date_diff('day', DATE '1970-01-01', d) * 256
               + ascii(substr(event_type, 1, 1))) * {_LCG_A} + {_LCG_C})
               % {_LCG_M} AS residue
      FROM daily),
    noised AS (
      SELECT event_type, d, n,
             -{_DP_B} * sign((residue + 0.5) / {_LCG_M} - 0.5)
               * ln(1 - 2 * abs((residue + 0.5) / {_LCG_M} - 0.5)) AS lap
      FROM seeded)
    SELECT event_type, d, n, round(n + lap, 4) AS noisy_n,
           round(abs(lap), 4) AS abs_noise
    FROM noised ORDER BY event_type, d
    """,
)
def q_dp_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private daily histogram (W16h): per-(type, day)
    counts with Laplace(b=2) noise from a SEEDED inverse-CDF draw — the
    uniform comes from an LCG over the cell key, so the release is
    replayable and engine-portable (a governance requirement real DP
    pipelines meet with committed seeds; engine RNG would make the
    released numbers unverifiable). Inverse CDF: u∈(−½,½),
    lap = −b·sign(u)·ln(1−2|u|); the +0.5 residue offset keeps u off
    the ±½ singularities exactly.

    Plan shape: one keyed exchange of ≤|types|×|days| partial counts;
    the seed, uniform, and noise are scan-side codegen projections on
    the aggregate's tiny output. Per-cell noise is embarrassingly
    parallel at any scale."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    key = (
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("long")
        * 256
        + F.ascii(F.substring("event_type", 1, 1))
    )
    residue = (key * _LCG_A + _LCG_C) % _LCG_M
    u = (residue + 0.5) / _LCG_M - 0.5
    lap = -_DP_B * F.signum(u) * F.log(1 - 2 * F.abs(u))
    return daily.select(
        "event_type",
        "d",
        "n",
        F.round(F.col("n") + lap, 4).alias("noisy_n"),
        F.round(F.abs(lap), 4).alias("abs_noise"),
    ).orderBy("event_type", "d")


# --- W16i: grid-blocked spatial radius join --------------------------------

_GEO_RADIUS_KM = 100.0
_GEO_CELL_DEG = 2.0  # 2° ≈ 157 km of longitude at lat 50° — covers R
_EARTH_KM = 6371.0


def _haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km; plain Column math so it stays in
    WholeStageCodegen (identical formula text in the DuckDB oracle)."""
    dphi = F.radians(lat2 - lat1) / 2
    dlmb = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlmb)
        * F.sin(dlmb)
    )
    return 2 * _EARTH_KM * F.asin(F.sqrt(a))


@query(
    "q_spatial_knn",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             ((c_custkey * 2654435761) % 120000) / 12000.0 + 40 AS lat,
             ((c_custkey * 40503 + 7919) % 240000) / 12000.0 AS lon
      FROM customer),
    supp AS (
      SELECT s_suppkey,
             ((s_suppkey * 2654435761 + 999331) % 120000) / 12000.0 + 40
               AS lat,
             ((s_suppkey * 40503 + 104729) % 240000) / 12000.0 AS lon
      FROM supplier),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             round(2 * {_EARTH_KM} * asin(sqrt(
               sin(radians(s.lat - c.lat) / 2) ^ 2
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * sin(radians(s.lon - c.lon) / 2) ^ 2)), 6) AS d_km
      FROM cust c CROSS JOIN supp s),
    hits AS (
      SELECT c_custkey, s_suppkey, d_km,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY d_km, s_suppkey) AS rn,
             count(*) OVER (PARTITION BY c_custkey) AS n_within
      FROM pairs WHERE d_km <= {_GEO_RADIUS_KM})
    SELECT c_custkey, n_within, s_suppkey AS nearest_suppkey,
           round(d_km, 3) AS nearest_km
    FROM hits WHERE rn = 1 ORDER BY c_custkey
    """,
)
def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial radius join (W16i): place customers and
    suppliers on a deterministic 10°×20° mid-latitude patch (seeded
    integer arithmetic from their keys — the fixtures carry no geo
    columns), then find each customer's suppliers within 100 km and the
    nearest one. The Spark side joins on 2° grid cells with the SMALL
    side exploded to its 3×3 cell neighborhood — at lat 40-50° a 2°
    cell exceeds the radius in both axes, so adjacent-cell coverage is
    exhaustive and the blocked join provably equals the oracle's brute
    force. Distances compare on values rounded to 6 decimals so a
    1-ulp libm difference can't flip the radius boundary.

    Plan shape: the supplier side (9 rows per supplier after the
    neighborhood explode) broadcasts; the customer side never shuffles
    — the exact haversine filter runs scan-side behind the cell-key
    equi-join. At planetary scale the same shape shuffles both sides
    keyed on the cell instead of broadcasting, pairs bounded per cell
    by geometry rather than |C|×|S| (the pair-discipline rule every
    dedup operator here follows)."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (((F.col("c_custkey") * 2654435761) % 120000) / 12000.0 + 40).alias(
            "c_lat"
        ),
        (((F.col("c_custkey") * 40503 + 7919) % 240000) / 12000.0).alias(
            "c_lon"
        ),
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        (
            ((F.col("s_suppkey") * 2654435761 + 999331) % 120000) / 12000.0
            + 40
        ).alias("s_lat"),
        (((F.col("s_suppkey") * 40503 + 104729) % 240000) / 12000.0).alias(
            "s_lon"
        ),
    )
    supp_cells = (
        supp.withColumn("dlat", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dlon", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            (F.floor(F.col("s_lat") / _GEO_CELL_DEG) + F.col("dlat")).alias(
                "cell_lat"
            ),
            (F.floor(F.col("s_lon") / _GEO_CELL_DEG) + F.col("dlon")).alias(
                "cell_lon"
            ),
        )
    )
    cust_cells = cust.select(
        "c_custkey",
        "c_lat",
        "c_lon",
        F.floor(F.col("c_lat") / _GEO_CELL_DEG).alias("cell_lat"),
        F.floor(F.col("c_lon") / _GEO_CELL_DEG).alias("cell_lon"),
    )
    pairs = cust_cells.join(
        F.broadcast(supp_cells), ["cell_lat", "cell_lon"]
    ).select(
        "c_custkey",
        "s_suppkey",
        F.round(
            _haversine_km(
                F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon")
            ),
            6,
        ).alias("d_km"),
    )
    hits = pairs.filter(F.col("d_km") <= _GEO_RADIUS_KM)
    nearest = hits.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min(F.struct("d_km", "s_suppkey")).alias("best"),
    )
    return nearest.select(
        "c_custkey",
        "n_within",
        F.col("best.s_suppkey").alias("nearest_suppkey"),
        F.round(F.col("best.d_km"), 3).alias("nearest_km"),
    ).orderBy("c_custkey")


# --- W19/M6: Poisson bootstrap confidence interval --------------------------

#: Replicate count and the Poisson(1) inverse-CDF thresholds. The
#: thresholds are Python-formatted literals injected into BOTH engines'
#: expressions, so the weight a row gets for replicate b is decided by
#: an identical double comparison everywhere.
_BOOT_B = 64
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
)


def _pois_case(u_expr: str) -> str:
    """CASE chain mapping a uniform u in [0,1) to Poisson(1) inverse
    CDF — identical SQL text for Spark and DuckDB."""
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {arms} ELSE {len(_POIS_CDF)} END"


@query(
    "q_poisson_bootstrap",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(cents) AS BIGINT) / (count(*) * 100.0), 4)
               AS point_mean
      FROM base),
    weighted AS (
      SELECT reps.b,
             {_pois_case("(((((base.event_id % 1048576) * 1103515245 + 12345)"
                         " % 1048576 + reps.b) * 1103515245 + 12345)"
                         " % 1048576) / 1048576.0")} AS w,
             base.cents
      FROM base CROSS JOIN generate_series(0, {_BOOT_B - 1}) AS reps(b)),
    reps AS (
      SELECT b, CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * cents) AS BIGINT) AS swc
      FROM weighted GROUP BY b HAVING sum(w) > 0),
    means AS (SELECT round(swc / (sw * 100.0), 4) AS m FROM reps)
    SELECT pt.n_rows, pt.point_mean,
           (SELECT percentile_disc(0.05) WITHIN GROUP (ORDER BY m)
            FROM means) AS ci_lo,
           (SELECT percentile_disc(0.95) WITHIN GROUP (ORDER BY m)
            FROM means) AS ci_hi,
           (SELECT CAST(count(*) AS BIGINT) FROM means) AS n_replicates
    FROM pt
    """,
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI (W19/M6): a 90% confidence interval for the
    mean purchase value via {_BOOT_B} Poisson(1)-weighted replicates —
    the bootstrap that DISTRIBUTES: instead of materializing B resampled
    datasets (or collecting rows to a driver RNG), each row draws its
    own per-replicate multiplicity from a seeded LCG, so one pass over
    the facts yields every replicate's weighted sum as ordinary
    map-side-combined aggregation. This is how CIs are put on metrics
    at warehouse scale — engine RNG would be neither replayable nor
    engine-portable (the M1/M4 discipline).

    Determinism: the LCG mixes ``event_id % 2^20`` then adds the
    replicate id and mixes again (mod-first keeps every product inside
    int64 at any tier); weights are small ints, so each replicate's
    Σw and Σw·cents are exact BIGINTs, and replicate means are rounded
    to 4 decimals BEFORE percentile_disc picks actual values — no
    interpolation, no summation-order exposure anywhere.

    Plan shape: explode ×{_BOOT_B} feeding a {_BOOT_B}-group aggregate
    whose map-side partials reduce each task's output to {_BOOT_B}
    rows; the percentile runs over {_BOOT_B} rounded means. At 100 TB
    the explode is the only amplified stage and it never shuffles
    amplified rows — the combine happens before the exchange."""
    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    pt = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum("cents").cast("long") / (F.count(F.lit(1)) * 100.0), 4
        ).alias("point_mean"),
    )
    weighted = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
        "cents",
    ).select(
        "b",
        F.expr(
            _pois_case(
                "(((((event_id % 1048576) * 1103515245 + 12345) % 1048576"
                " + b) * 1103515245 + 12345) % 1048576) / 1048576.0"
            )
        ).alias("w"),
        "cents",
    )
    reps = (
        weighted.groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("swc"),
        )
        .filter(F.col("sw") > 0)
    )
    means = reps.select(
        F.round(F.col("swc") / (F.col("sw") * 100.0), 4).alias("m")
    )
    ci = means.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY m)").alias("ci_lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY m)").alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_rows", "point_mean", "ci_lo", "ci_hi", "n_replicates"
    )


# --- W20/M7: Theil-Sen robust trend estimator --------------------------------


@query(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             round((b.n - a.n)
                   / CAST(datediff('day', a.d, b.d) AS DOUBLE), 6) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
             AS slope_per_day,
           CASE WHEN percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) > 0
                THEN 'up'
                WHEN percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) < 0
                THEN 'down' ELSE 'flat' END AS direction
    FROM pairs GROUP BY event_type ORDER BY event_type
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (W20/M7): the median of all pairwise
    slopes of each event type's daily series — the trend estimator that
    shrugs off the outlier days that wreck least squares (up to 29%
    contamination), paired with Y31's per-group OLS the way M2's
    winsorized mean pairs with the plain mean.

    The pairwise blowup is CALENDAR-bounded, not data-bounded: the
    facts collapse to ≤ |types|×|days| daily rows first, so the pair
    join is at most |days|²/2 rows per type regardless of corpus size
    — the same rollup-before-quadratic discipline as TM4/TM5. Slopes
    are integer-count differences over integer day gaps, rounded to 6
    BEFORE the median; percentile_disc then picks an actual slope
    value, so no interpolation and no summation anywhere.

    Plan shape at 100 TB: one (type, day) aggregate with map-side
    partials is the only data-sized exchange; the self-join and median
    run over KB-sized series."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a = daily.select(
        "event_type", F.col("d").alias("da"), F.col("n").alias("na")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("d").alias("db"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("da") < F.col("db"))
    ).select(
        "event_type",
        F.round(
            (F.col("nb") - F.col("na"))
            / F.datediff("db", "da").cast("double"),
            6,
        ).alias("slope"),
    )
    med = F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            med.alias("slope_per_day"),
        )
        .select(
            "event_type",
            "n_pairs",
            "slope_per_day",
            F.when(F.col("slope_per_day") > 0, "up")
            .when(F.col("slope_per_day") < 0, "down")
            .otherwise("flat")
            .alias("direction"),
        )
        .orderBy("event_type")
    )


# --- W21/M8: grid-density spatial clustering (DBSCAN-lite) -------------------

_DB_CELL_DEG = 1.0
#: density quantile: a cell is dense when its count reaches the p90 of
#: all cell counts — minPts as a data-driven quantile, so the density
#: test self-calibrates to any corpus size (a fixed minPts is either
#: vacuous or total depending on SF)
_DB_DENSE_Q = 0.90


@query(
    "q_grid_dbscan",
    oracle=f"""
    WITH RECURSIVE cust AS (
      SELECT c_custkey,
             ((c_custkey * 2654435761) % 120000) / 12000.0 + 40 AS lat,
             ((c_custkey * 40503 + 7919) % 240000) / 12000.0 AS lon
      FROM customer),
    cells AS (
      SELECT CAST(floor(lat / {_DB_CELL_DEG}) AS BIGINT) AS cy,
             CAST(floor(lon / {_DB_CELL_DEG}) AS BIGINT) AS cx,
             CAST(count(*) AS BIGINT) AS n_pts
      FROM cust GROUP BY 1, 2),
    thr AS (
      SELECT percentile_disc({_DB_DENSE_Q}) WITHIN GROUP (ORDER BY n_pts)
        AS min_pts FROM cells),
    dense AS (
      SELECT cy * 100 + cx AS cell, cx, cy, n_pts
      FROM cells, thr WHERE n_pts >= thr.min_pts),
    edges AS (
      SELECT a.cell AS s, b.cell AS t
      FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cell <> b.cell),
    reach AS (
      SELECT cell AS a, cell AS b FROM dense
      UNION
      SELECT r.a, e.t
      FROM reach r JOIN edges e ON r.b = e.s),
    comp AS (SELECT a AS cell, min(b) AS component FROM reach GROUP BY a)
    SELECT comp.component AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(dense.n_pts) AS BIGINT) AS n_points
    FROM dense JOIN comp ON dense.cell = comp.cell
    GROUP BY comp.component ORDER BY cluster_id
    """,
)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering (W21/M8, DBSCAN-lite): histogram
    the deterministic customer geography (W16i's seeded coordinates)
    into {_DB_CELL_DEG}° cells, keep cells whose count reaches the p90
    of all cell counts (minPts as a data-driven quantile — a fixed
    threshold is either vacuous or total depending on corpus size),
    and merge 8-adjacent dense cells into clusters
    via connected components — the grid formulation that turns DBSCAN's
    pairwise ε-neighborhood scan into ONE aggregate plus a components
    pass over the (tiny, bounded-by-geography) dense-cell graph. This
    is how density clustering actually runs at fleet scale: the points
    are touched once; everything pairwise happens between CELLS.

    Reuses operators/dedup.connected_components (min-label
    propagation); the oracle's recursive CTE computes the identical
    min-reachable-id labeling, so cluster ids are engine-portable by
    construction. All arithmetic is integer.

    Plan shape: one (cy, cx) aggregate with map-side partials over the
    point scan; everything after operates on the dense-cell table,
    which is bounded by the mapped area / cell² (≤ 10°×20° / 1°² = 200
    cells here, at ANY scale factor — by the coordinate generator, not
    the data), so the component labeling runs as a driver-side
    union-find over the collected cell list (the bounded-panel rule:
    same class as the 64-probe ANN panel). The previous distributed
    min-label propagation spent ~50 local jobs converging over a
    ≤200-vertex graph (profiled r10); at 100 TB the cell aggregate is
    the only data-sized stage either way."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (((F.col("c_custkey") * 2654435761) % 120000) / 12000.0 + 40).alias(
            "lat"
        ),
        (((F.col("c_custkey") * 40503 + 7919) % 240000) / 12000.0).alias("lon"),
    )
    cells = (
        cust.select(
            F.floor(F.col("lat") / _DB_CELL_DEG).cast("long").alias("cy"),
            F.floor(F.col("lon") / _DB_CELL_DEG).cast("long").alias("cx"),
        )
        .groupBy("cy", "cx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pts"))
    )
    thr = cells.agg(
        F.expr(
            f"percentile_disc({_DB_DENSE_Q}) WITHIN GROUP (ORDER BY n_pts)"
        ).alias("min_pts")
    )
    dense = (
        cells.crossJoin(F.broadcast(thr))
        .filter(F.col("n_pts") >= F.col("min_pts"))
        .select(
            (F.col("cy") * 100 + F.col("cx")).alias("cell"),
            "cx",
            "cy",
            "n_pts",
        )
    )
    # bounded collect (≤200 rows by construction); 8-adjacency +
    # min-label union-find driver-side — identical labels to the
    # min-reachable-id propagation the oracle's recursive CTE computes
    rows = dense.select("cell", "cx", "cy", "n_pts").collect()
    parent = {r.cell: r.cell for r in rows}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            # min-label: the smaller cell id becomes the root, so every
            # component root IS its min member (the oracle's labeling)
            lo, hi = min(rx, ry), max(rx, ry)
            parent[hi] = lo

    by_pos = {(r.cy, r.cx): r.cell for r in rows}
    for r in rows:
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                nb = by_pos.get((r.cy + dy, r.cx + dx))
                if nb is not None and nb != r.cell:
                    union(r.cell, nb)
    agg: dict = {}
    for r in rows:
        comp = find(r.cell)
        n_cells, n_points = agg.get(comp, (0, 0))
        agg[comp] = (n_cells + 1, n_points + r.n_pts)
    out = [
        (comp, n_cells, n_points)
        for comp, (n_cells, n_points) in sorted(agg.items())
    ]
    return local_frame(spark, out, "cluster_id long, n_cells long, n_points long")


# --- M9: Mann-Whitney U rank-sum test ---------------------------------------


@query(
    "q_mann_whitney",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             value
      FROM events WHERE event_type = 'purchase'),
    pv AS (
      SELECT value,
             CAST(count(*) FILTER (variant = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (variant = 1) AS BIGINT) AS cb,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s GROUP BY value),
    r AS (
      SELECT *,
             CAST(coalesce(sum(cnt) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS cum
      FROM pv),
    agg AS (
      SELECT CAST(sum(ca * (2 * cum + cnt + 1)) AS BIGINT) AS r1x2,
             CAST(sum(ca) AS BIGINT) AS n1,
             CAST(sum(cb) AS BIGINT) AS n2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
      FROM r),
    st AS (
      SELECT n1, n2,
             r1x2 / 2.0 - n1 * (n1 + 1) / 2.0 AS u_a,
             (r1x2 / 2.0 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
               / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                      * ((n1 + n2 + 1)
                         - tie / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
               AS z
      FROM agg)
    SELECT n1 AS n_a, n2 AS n_b, round(u_a, 1) AS u_a,
           round(z, 4) AS z_score,
           CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS significant
    FROM st
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (M9): the nonparametric twin of
    q_ab_test — does purchase ``value`` stochastically dominate in one
    LCG arm? Tie-corrected normal approximation.

    The rank sum is computed WITHOUT ranking rows: group by distinct
    value (the tie classes the statistic is defined on), then each
    class's average rank is its preceding-count plus (cnt+1)/2 — a
    cumulative count over the distinct-value axis, built with the
    bucketed two-phase prefix sum (q_decile_lift's idiom: floor-bucket
    offsets broadcast, within-bucket windows carry the parallelism), so
    no stage sorts more than one bucket on one task and the fact table
    itself is touched only by the per-value hash aggregate. Doubled
    rank sums (2·cum + cnt + 1) keep every intermediate an exact int64;
    floats appear only in the final one-row z projection."""
    s = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
            "value",
        )
    )
    pv = s.groupBy("value").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    agg = class_cum(pv, "value", bucket_width=1.0).agg(
        F.sum(F.col("ca") * (2 * F.col("cum") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum("ca").cast("long").alias("n1"),
        F.sum("cb").cast("long").alias("n2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie"),
    )
    u_a = F.col("r1x2") / 2.0 - F.col("n1") * (F.col("n1") + 1) / 2.0
    n1d = F.col("n1").cast("double")
    nn = F.col("n1") + F.col("n2")
    var = (n1d * F.col("n2") / 12.0) * (
        (nn + 1) - F.col("tie") / (nn.cast("double") * (nn - 1))
    )
    z = (u_a - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(var)
    return agg.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round(u_a, 1).alias("u_a"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --- M10: chi-square independence test --------------------------------------


@query(
    "q_chi_square",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   count(DISTINCT event_type) AS nr,
                   count(DISTINCT variant) AS nc
            FROM cells),
    x AS (
      SELECT sum((o - CAST(r AS DOUBLE) * c / n)
                 * (o - CAST(r AS DOUBLE) * c / n)
                 / (CAST(r AS DOUBLE) * c / n)) AS chi2,
             max(n) AS n, max(nr) AS nr, max(nc) AS nc
      FROM cells JOIN rt USING (event_type) JOIN ct USING (variant), tot)
    SELECT round(chi2, 4) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 5) AS cramers_v
    FROM x
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (M10): is event mix independent of
    the LCG experiment arm? The contingency table materializes as ONE
    hash aggregate over the facts (event_type × variant cells, partial
    counts map-side); margins and the grand total derive from the
    cell table itself — driver-scale — and broadcast back, so the
    statistic costs one fact-table exchange regardless of corpus size.
    Cramér's V normalizes effect size for the table shape."""
    cells = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
        )
        .groupBy("event_type", "variant")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # lazy checkpoint: the contingency cells feed both margins,
        # the total AND the statistic join — as plain plan subtrees
        # the events scan+agg ran 4× per call (r11 scan-dupe sweep);
        # the shared RDD node computes once inside the same job.
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("variant").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("variant").alias("nc"),
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    x = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "variant")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
            F.max("n").alias("n"),
            F.max("nr").alias("nr"),
            F.max("nc").alias("nc"),
        )
    )
    return x.select(
        F.round(F.col("chi2"), 4).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            5,
        ).alias("cramers_v"),
    )


# --- M11: Benjamini-Hochberg FDR over a test family -------------------------

# Abramowitz & Stegun 7.1.26 erfc coefficients: the two-sided normal
# p-value is erfc(|z|/sqrt(2)); the rational approximation is plain
# arithmetic + exp, so both engines evaluate the same formula (max
# abs error 1.5e-7 — far inside the 1e-6 output rounding).
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _sql_p_two(z: str) -> str:
    a1, a2, a3, a4, a5 = _AS_A
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    return (
        f"(({a1} * {t} + {a2} * {t} * {t} + {a3} * {t} * {t} * {t} "
        f"+ {a4} * {t} * {t} * {t} * {t} "
        f"+ {a5} * {t} * {t} * {t} * {t} * {t}) * exp(-({x} * {x})))"
    )


def _col_p_two(z):
    a1, a2, a3, a4, a5 = _AS_A
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + _AS_P * x)
    poly = (
        a1 * t
        + a2 * t * t
        + a3 * t * t * t
        + a4 * t * t * t * t
        + a5 * t * t * t * t * t
    )
    return poly * F.exp(-(x * x))


_BH_Q = 0.10


@query(
    "q_bh_fdr",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             value
      FROM events),
    arms AS (
      SELECT event_type,
             CAST(count(*) FILTER (variant = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (variant = 1) AS BIGINT) AS n_b,
             avg(value) FILTER (variant = 0) AS m_a,
             avg(value) FILTER (variant = 1) AS m_b,
             var_samp(value) FILTER (variant = 0) AS v_a,
             var_samp(value) FILTER (variant = 1) AS v_b
      FROM s GROUP BY 1),
    zs AS (
      SELECT event_type, n_a, n_b,
             (m_b - m_a) / sqrt(v_a / n_a + v_b / n_b) AS z
      FROM arms),
    ps AS (
      SELECT event_type, n_a, n_b, z, {_sql_p_two('z')} AS p FROM zs),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY p, event_type) AS rnk,
             count(*) OVER () AS m
      FROM ps),
    adj AS (
      SELECT *,
             least(1.0, min(p * m / rnk) OVER (ORDER BY rnk DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS adj_p
      FROM rk)
    SELECT event_type, n_a, n_b, round(z, 4) AS z_score,
           round(p, 6) AS p_value, CAST(rnk AS BIGINT) AS p_rank,
           round(adj_p, 6) AS adj_p,
           CASE WHEN adj_p <= {_BH_Q} THEN 1 ELSE 0 END AS discovery
    FROM adj ORDER BY p_rank
    """,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (M11) over a family of Welch
    z-tests — one per event_type, comparing mean ``value`` between the
    LCG arms. Running many A/B readouts without multiplicity control
    is the classic experimentation footgun; BH is the standard fix.

    The family's per-test moments are ONE fact-table hash aggregate
    (count/avg/var_samp partials combine map-side); everything after —
    the z's, the A&S-7.1.26 two-sided p-values, the p-ranking, and the
    step-up running minimum that defines adjusted p — runs on a
    |tests|-row frame, so the single-partition windows are bounded by
    the test-family size (5 here; thousands at worst in production),
    never by the data. The normal-CDF rational approximation is shared
    with the oracle term-for-term, so parity holds bit-for-bit after
    1e-6 rounding."""

    s = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.when(
            (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
        )
        .otherwise(1)
        .alias("variant"),
        "value",
    )
    arms = s.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long").alias("n_b"),
        F.avg(F.when(F.col("variant") == 0, F.col("value"))).alias("m_a"),
        F.avg(F.when(F.col("variant") == 1, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(F.col("variant") == 0, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(F.col("variant") == 1, F.col("value"))).alias("v_b"),
    )
    z = (F.col("m_b") - F.col("m_a")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    ps = arms.select(
        "event_type", "n_a", "n_b", z.alias("z"), _col_p_two(z).alias("p")
    )
    w_rank = Window.orderBy("p", "event_type")
    rk = ps.select(
        "*",
        F.row_number().over(w_rank).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    w_adj = Window.orderBy(F.desc("rnk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = rk.select(
        "*",
        F.least(
            F.lit(1.0),
            F.min(F.col("p") * F.col("m") / F.col("rnk")).over(w_adj),
        ).alias("adj_p"),
    )
    return adj.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("z", 4).alias("z_score"),
        F.round("p", 6).alias("p_value"),
        F.col("rnk").cast("long").alias("p_rank"),
        F.round("adj_p", 6).alias("adj_p"),
        F.when(F.col("adj_p") <= _BH_Q, 1).otherwise(0).alias("discovery"),
    ).orderBy("p_rank")


# --- M12: CUPED variance reduction ------------------------------------------

_CUPED_SPLIT = "2024-01-15"


@query(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             coalesce(sum(value) FILTER (ts <  TIMESTAMP '{_CUPED_SPLIT}'), 0)
               AS pre,
             coalesce(sum(value) FILTER (ts >= TIMESTAMP '{_CUPED_SPLIT}'), 0)
               AS post
      FROM events GROUP BY user_id),
    st AS (
      SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
             avg(pre) AS mu_pre
      FROM per_user),
    adj AS (
      SELECT variant, post,
             post - st.theta * (pre - st.mu_pre) AS cuped
      FROM per_user, st),
    arms AS (
      SELECT CAST(count(*) FILTER (variant = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (variant = 1) AS BIGINT) AS n_b,
             avg(post)  FILTER (variant = 1)
               - avg(post)  FILTER (variant = 0) AS lift_raw,
             avg(cuped) FILTER (variant = 1)
               - avg(cuped) FILTER (variant = 0) AS lift_cuped,
             var_samp(post) AS v_raw, var_samp(cuped) AS v_cuped
      FROM adj)
    SELECT n_a, n_b,
           round((SELECT theta FROM st), 6) AS theta,
           round(lift_raw, 5) AS lift_raw,
           round(lift_cuped, 5) AS lift_cuped,
           round((1 - v_cuped / v_raw) * 100, 2) AS var_reduction_pct
    FROM arms
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (M12): regress each user's experiment-
    period metric on their PRE-period metric (θ = cov/var, the standard
    pooled estimator), subtract the predicted component, and read the
    lift off the adjusted metric — the industry-standard trick that
    shrinks A/B confidence intervals without more traffic. Pre/post
    split on a fixed date; arms by the module's LCG hash.

    Shape: one user-keyed aggregate builds (pre, post) per user
    (conditional sums, map-side partials); θ and the pre-mean are a
    1-row global aggregate broadcast back; the adjusted metric is a
    row-local expression and the arm readout one more 1-row aggregate.
    Nothing but the user rollup scales with the data."""
    per_user = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") < F.lit(_CUPED_SPLIT).cast("timestamp"),
                        F.col("value"),
                    )
                ),
                F.lit(0.0),
            ).alias("pre"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= F.lit(_CUPED_SPLIT).cast("timestamp"),
                        F.col("value"),
                    )
                ),
                F.lit(0.0),
            ).alias("post"),
        )
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
            "pre",
            "post",
        )
    )
    st = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("mu_pre"),
    )
    adj = per_user.crossJoin(F.broadcast(st)).select(
        "variant",
        "post",
        "theta",
        (
            F.col("post") - F.col("theta") * (F.col("pre") - F.col("mu_pre"))
        ).alias("cuped"),
    )
    arms = adj.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long").alias("n_b"),
        (
            F.avg(F.when(F.col("variant") == 1, F.col("post")))
            - F.avg(F.when(F.col("variant") == 0, F.col("post")))
        ).alias("lift_raw"),
        (
            F.avg(F.when(F.col("variant") == 1, F.col("cuped")))
            - F.avg(F.when(F.col("variant") == 0, F.col("cuped")))
        ).alias("lift_cuped"),
        F.var_samp("post").alias("v_raw"),
        F.var_samp("cuped").alias("v_cuped"),
        F.max("theta").alias("theta"),
    )
    return arms.select(
        "n_a",
        "n_b",
        F.round("theta", 6).alias("theta"),
        F.round("lift_raw", 5).alias("lift_raw"),
        F.round("lift_cuped", 5).alias("lift_cuped"),
        F.round((1 - F.col("v_cuped") / F.col("v_raw")) * 100, 2).alias(
            "var_reduction_pct"
        ),
    )


# --- M13: delta-method ratio-metric test -------------------------------------


@query(
    "q_delta_method_ratio",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             CAST(count(*) FILTER (event_type = 'click') AS DOUBLE) AS x,
             CAST(count(*) FILTER (event_type = 'view') AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    arms AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             avg(x) AS mx, avg(y) AS my,
             var_samp(x) AS vx, var_samp(y) AS vy,
             covar_samp(x, y) AS cxy
      FROM per_user WHERE y > 0 GROUP BY variant),
    d AS (
      SELECT variant, n, mx / my AS r,
             (vx + (mx / my) * (mx / my) * vy
              - 2 * (mx / my) * cxy) / (my * my * n) AS vr
      FROM arms),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 0 THEN r END) AS r_a,
             max(CASE WHEN variant = 1 THEN r END) AS r_b,
             max(CASE WHEN variant = 0 THEN vr END) AS vr_a,
             max(CASE WHEN variant = 1 THEN vr END) AS vr_b
      FROM d)
    SELECT n_a, n_b, round(r_a, 6) AS r_a, round(r_b, 6) AS r_b,
           round(r_b - r_a, 6) AS lift,
           round((r_b - r_a) / sqrt(vr_a + vr_b), 4) AS z_score,
           CASE WHEN abs((r_b - r_a) / sqrt(vr_a + vr_b)) > 1.96
                THEN 1 ELSE 0 END AS significant
    FROM wide
    """,
)
def q_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric test (M13): clicks-per-view is a RATIO
    of two user-level sums, so its variance is NOT the binomial one —
    user-level clustering inflates it, and naive per-event z-tests
    over-reject (the most common A/B false-positive source). The
    delta-method linearization var(x̄/ȳ) ≈ (vx + r²·vy − 2r·cxy)/(ȳ²n)
    is the standard fix. Everything is user-keyed moments: one fact
    aggregate, one |arms|-row readout."""
    per_user = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("double")
            .alias("x"),
            F.count(F.when(F.col("event_type") == "view", 1))
            .cast("double")
            .alias("y"),
        )
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
            "x",
            "y",
        )
        .filter(F.col("y") > 0)
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    r = F.col("mx") / F.col("my")
    vr = (
        F.col("vx") + r * r * F.col("vy") - 2 * r * F.col("cxy")
    ) / (F.col("my") * F.col("my") * F.col("n"))
    d = arms.select("variant", "n", r.alias("r"), vr.alias("vr"))
    wide = d.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 0, F.col("r"))).alias("r_a"),
        F.max(F.when(F.col("variant") == 1, F.col("r"))).alias("r_b"),
        F.max(F.when(F.col("variant") == 0, F.col("vr"))).alias("vr_a"),
        F.max(F.when(F.col("variant") == 1, F.col("vr"))).alias("vr_b"),
    )
    z = (F.col("r_b") - F.col("r_a")) / F.sqrt(F.col("vr_a") + F.col("vr_b"))
    return wide.select(
        "n_a",
        "n_b",
        F.round("r_a", 6).alias("r_a"),
        F.round("r_b", 6).alias("r_b"),
        F.round(F.col("r_b") - F.col("r_a"), 6).alias("lift"),
        F.round(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --- M14: sample-ratio-mismatch check ----------------------------------------


@query(
    "q_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant
      FROM events),
    c AS (
      SELECT CAST(count(*) FILTER (variant = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (variant = 1) AS BIGINT) AS n_b
      FROM u)
    SELECT n_a, n_b,
           round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0)
                 + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0), 4) AS chi2,
           CASE WHEN (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                       / ((n_a + n_b) / 2.0)
                     + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                       / ((n_a + n_b) / 2.0) > 3.841 THEN 1 ELSE 0 END AS srm
    FROM c
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (M14): the experiment health gate
    every platform runs BEFORE reading any metric — a goodness-of-fit
    chi-square of the realized arm sizes against the designed 50/50
    allocation. An SRM means the bucketing itself is broken (bot
    filtering, redirect loss, logging skew) and every downstream
    readout is invalid; platforms block the scorecard on it. One
    distinct-user rollup, then scalar arithmetic on two counts."""
    u = (
        load_table(spark, "events", sf_dir)
        .select("user_id")
        .distinct()
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant")
        )
    )
    c = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long").alias("n_b"),
    )
    e = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (F.col("n_a") - e) * (F.col("n_a") - e) / e + (
        F.col("n_b") - e
    ) * (F.col("n_b") - e) / e
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("srm"),
    )


# --- M15: A/B power analysis / MDE -------------------------------------------

# two-sided alpha=0.05 and power=0.80 critical values (fixed constants,
# shared verbatim with the oracle). The conversion threshold is LOWER
# than q_ab_test's: power math needs a nonzero base rate at every
# fixture tier (at 3500 nobody converts at sf<=0.01 and the required-n
# closed form divides by the zero effect size).
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621
_TARGET_REL_LIFT = 0.05
_POWER_SPEND = 800.0


@query(
    "q_power_analysis",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN (user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2} THEN 0 ELSE 1 END AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                THEN value ELSE 0 END) > {_POWER_SPEND}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT CAST(count(*) FILTER (variant = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (variant = 1) AS BIGINT) AS n_b,
             (sum(converted) FILTER (variant = 0)
              + sum(converted) FILTER (variant = 1))
               / CAST(count(*) AS DOUBLE) AS pooled
      FROM per_user)
    SELECT n_a, n_b, round(pooled, 5) AS base_rate,
           round(({_Z_ALPHA} + {_Z_BETA})
                 * sqrt(pooled * (1 - pooled) * (1.0/n_a + 1.0/n_b)), 5)
             AS mde_abs,
           CAST(ceil(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                 * 2 * pooled * (1 - pooled)
                 / ((pooled * {_TARGET_REL_LIFT})
                    * (pooled * {_TARGET_REL_LIFT}))) AS BIGINT)
             AS n_per_arm_for_5pct
    FROM arms
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis (M15): given the experiment's realized arm
    sizes and pooled conversion rate, the minimum detectable absolute
    effect at α=0.05/power=0.80, and the per-arm sample size a 5%
    RELATIVE lift would require — the two numbers that decide whether
    an experiment is worth launching (q_ab_test reads a result; this
    sizes the next one). One user rollup, then scalar closed forms."""
    per_user = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(F.lit(0.0))
                )
                > _POWER_SPEND,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2, 0
            )
            .otherwise(1)
            .alias("variant"),
            "converted",
        )
    )
    arms = per_user.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long").alias("n_b"),
        (F.sum("converted") / F.count(F.lit(1))).alias("pooled"),
    )
    zsum = _Z_ALPHA + _Z_BETA
    p = F.col("pooled")
    mde = zsum * F.sqrt(
        p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    delta = p * _TARGET_REL_LIFT
    n_req = F.ceil(zsum * zsum * 2 * p * (1 - p) / (delta * delta)).cast(
        "long"
    )
    return arms.select(
        "n_a",
        "n_b",
        F.round(p, 5).alias("base_rate"),
        F.round(mde, 5).alias("mde_abs"),
        n_req.alias("n_per_arm_for_5pct"),
    )


# --- M16: difference-in-differences -----------------------------------------


@query(
    "q_diff_in_diff",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    spend AS (
      SELECT user_id,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       <= (SELECT t0 + (t1 - t0) // 2 FROM bounds)
                  THEN 0 ELSE 1 END AS period,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS y
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT u.user_id, p.period,
             CASE WHEN (u.user_id * {_LCG_A} + {_LCG_C}) % {_LCG_M}
                       < {_LCG_M // 2}
                  THEN 0 ELSE 1 END AS treated,
             coalesce(s.y, 0.0) AS y
      FROM users u
      CROSS JOIN (SELECT 0 AS period UNION ALL SELECT 1) p
      LEFT JOIN spend s
        ON s.user_id = u.user_id AND s.period = p.period),
    cells AS (
      SELECT treated, period, CAST(count(*) AS BIGINT) AS n,
             sum(y) AS s1, sum(y * y) AS s2
      FROM grid GROUP BY 1, 2),
    m AS (
      SELECT treated, period, n, s1 / n AS mean,
             (s2 - s1 * s1 / n) / (n - 1) AS v
      FROM cells),
    wide AS (
      SELECT
        max(CASE WHEN treated = 0 AND period = 0 THEN n END) AS n_c,
        max(CASE WHEN treated = 1 AND period = 0 THEN n END) AS n_t,
        max(CASE WHEN treated = 0 AND period = 0 THEN mean END) AS m_c0,
        max(CASE WHEN treated = 0 AND period = 1 THEN mean END) AS m_c1,
        max(CASE WHEN treated = 1 AND period = 0 THEN mean END) AS m_t0,
        max(CASE WHEN treated = 1 AND period = 1 THEN mean END) AS m_t1,
        sum(v / n) AS var_sum
      FROM m)
    SELECT n_c, n_t,
           round(m_c0, 4) AS mean_control_pre,
           round(m_c1, 4) AS mean_control_post,
           round(m_t0, 4) AS mean_treated_pre,
           round(m_t1, 4) AS mean_treated_post,
           round((m_t1 - m_t0) - (m_c1 - m_c0), 4) AS did,
           round(sqrt(var_sum), 4) AS se,
           round(((m_t1 - m_t0) - (m_c1 - m_c0)) / sqrt(var_sum), 4) AS z
    FROM wide
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (M16): the quasi-experimental
    estimator — treated-vs-control spend change across a pre/post cut
    — for when assignment wasn't randomized but a parallel-trends
    control exists. Deterministic by construction: the treated bucket
    is the same LCG hash as q_ab_test, the period cut is integer
    epoch arithmetic on the data's own midpoint, and every user
    appears in BOTH periods (zero-filled grid — dropping silent-period
    users biases the estimator). Scale shape: one user×period keyed
    aggregate, a |users|×2 grid via a 2-row broadcast cross join, four
    (treated, period) moment cells, closed-form DiD + its linearized
    SE over those 4 rows."""
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.min(F.col("ts").cast("long")).alias("t0"),
        F.max(F.col("ts").cast("long")).alias("t1"),
    ).select((F.col("t0") + F.floor((F.col("t1") - F.col("t0")) / 2)).cast("long").alias("cut"))
    spend = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(F.col("ts").cast("long") <= F.col("cut"), 0)
            .otherwise(1)
            .alias("period"),
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
            .alias("v"),
        )
        .groupBy("user_id", "period")
        .agg(F.sum("v").alias("y"))
    )
    # (r12 note: lazy-checkpointing `spend` and deriving the user set
    # from its keys measured wall-NEGATIVE in interleaved A/B at sf0.1
    # — checkpoint conversion cost > the saved pruned events scan —
    # and was reverted, the d63a41f discipline)
    users = ev.select("user_id").distinct()
    periods = local_frame(spark, [(0,), (1,)], "period int")
    grid = (
        users.crossJoin(F.broadcast(periods))
        .join(spend, ["user_id", "period"], "left")
        .select(
            F.when(
                (F.col("user_id") * _LCG_A + _LCG_C) % _LCG_M < _LCG_M // 2,
                0,
            )
            .otherwise(1)
            .alias("treated"),
            "period",
            F.coalesce("y", F.lit(0.0)).alias("y"),
        )
    )
    cells = grid.groupBy("treated", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    m = cells.select(
        "treated",
        "period",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("v"),
    )

    def cell(t: int, p: int, col: str):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("period") == p), F.col(col))
        )

    wide = m.groupBy().agg(
        cell(0, 0, "n").alias("n_c"),
        cell(1, 0, "n").alias("n_t"),
        cell(0, 0, "mean").alias("m_c0"),
        cell(0, 1, "mean").alias("m_c1"),
        cell(1, 0, "mean").alias("m_t0"),
        cell(1, 1, "mean").alias("m_t1"),
        F.sum(F.col("v") / F.col("n")).alias("var_sum"),
    )
    did = (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
    return wide.select(
        "n_c",
        "n_t",
        F.round("m_c0", 4).alias("mean_control_pre"),
        F.round("m_c1", 4).alias("mean_control_post"),
        F.round("m_t0", 4).alias("mean_treated_pre"),
        F.round("m_t1", 4).alias("mean_treated_post"),
        F.round(did, 4).alias("did"),
        F.round(F.sqrt("var_sum"), 4).alias("se"),
        F.round(did / F.sqrt("var_sum"), 4).alias("z"),
    )


# --- M17: Poisson goodness-of-fit on order basket sizes -------------------------


@query(
    "q_poisson_gof",
    oracle="""
    WITH k AS (
      SELECT o.o_orderkey,
             least(coalesce(c.k, 0), 13) AS kb,
             coalesce(c.k, 0) AS k
      FROM orders o LEFT JOIN (
        SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY 1) c
        ON o.o_orderkey = c.l_orderkey),
    lam AS (
      SELECT count(*)::DOUBLE AS n, sum(k)::DOUBLE / count(*) AS l FROM k),
    obs AS (SELECT kb, count(*)::DOUBLE AS o FROM k GROUP BY kb),
    bins AS (
      SELECT b.kb, coalesce(obs.o, 0.0) AS o,
             CASE WHEN b.kb < 13
                  THEN n * exp(-l) * power(l, b.kb) / factorial(b.kb::INT)
             END AS e_raw
      FROM (SELECT unnest(generate_series(0, 13)) AS kb) b
      LEFT JOIN obs ON b.kb = obs.kb, lam),
    e AS (
      SELECT kb, o,
             coalesce(e_raw,
                      (SELECT n FROM lam) - sum(e_raw) OVER ()) AS e
      FROM bins)
    SELECT CAST((SELECT n FROM lam) AS BIGINT) AS n_orders,
           round((SELECT l FROM lam), 6) AS lambda_hat,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(sum((o - e) * (o - e) / e), 4) AS chi2
    FROM e
    """,
)
def q_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit on order basket sizes (M17, wave 33):
    does lines-per-order look Poisson(λ̂)? — the distributional sanity
    check behind queueing/demand models, complementing q_chi_square's
    independence test with the one-sample GOF form. Bins k = 0..12 plus
    a ≥13 tail whose expected mass is n − Σ expected (so the bins sum
    exactly to n and the tail needs no incomplete-gamma). λ̂ is an
    exact integer-sum ratio, pmf uses factorial (exact int64 for
    k ≤ 12) — both engines evaluate the identical expression tree and
    chi² rounds to 4. Scale shape: one orderkey-keyed count aggregate,
    a 14-row bin frame (broadcast), every window over 14 rows."""
    od = load_table(spark, "orders", sf_dir).select("o_orderkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    k = od.join(c, od.o_orderkey == c.l_orderkey, "left").select(
        F.coalesce("k", F.lit(0)).alias("k")
    )
    # collapse to the exact k-histogram FIRST: λ̂, n, and the binned
    # observed counts all derive from this ≤|max k|-row table, so the
    # fact tables are scanned exactly once (a separate λ aggregate
    # re-ran the whole join lineage — caught by the plan pin)
    kh = (
        k.groupBy("k")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .localCheckpoint(eager=True)  # two consumers (λ̂ + bins)
    )
    lam = kh.agg(
        F.sum("cnt").alias("n"),
        (F.sum(F.col("k") * F.col("cnt")) / F.sum("cnt")).alias("l"),
    )
    obs = kh.groupBy(
        F.least(F.col("k"), F.lit(13)).cast("long").alias("kb")
    ).agg(F.sum("cnt").alias("o"))
    bins = spark.range(0, 14).select(F.col("id").cast("long").alias("kb"))
    joined = (
        bins.join(obs, "kb", "left")
        .crossJoin(F.broadcast(lam))
        .select(
            "kb",
            F.coalesce("o", F.lit(0.0)).alias("o"),
            F.when(
                F.col("kb") < 13,
                F.col("n")
                * F.exp(-F.col("l"))
                * F.pow("l", F.col("kb"))
                / F.factorial(F.col("kb").cast("int")),
            ).alias("e_raw"),
            "n",
            "l",
        )
    )
    w = Window.partitionBy()
    e = joined.select(
        "n",
        "l",
        "o",
        F.coalesce(
            "e_raw", F.col("n") - F.sum("e_raw").over(w)
        ).alias("e"),
    )
    return e.groupBy("n", "l").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            4,
        ).alias("chi2"),
    ).select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("l", 6).alias("lambda_hat"),
        "n_bins",
        "chi2",
    )


# --- M18: seeded randomization (permutation) test --------------------------------


_PERM_N = 64  # deterministic label reassignments
_PERM_STEP = 7919  # prime offset decorrelating permutations


@query(
    "q_permutation_test",
    oracle=f"""
    WITH spend AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS y
      FROM events GROUP BY user_id),
    perms AS (
      SELECT p, user_id, y,
             CASE WHEN ((user_id + p * {_PERM_STEP}) * {_LCG_A}
                        + {_LCG_C}) % {_LCG_M} < {_LCG_M // 2}
                  THEN 0 ELSE 1 END AS grp
      FROM spend, (SELECT unnest(generate_series(0, {_PERM_N})) AS p)),
    stats AS (
      SELECT p,
             round(abs(sum(CASE WHEN grp = 1 THEN y END)
                         / count(CASE WHEN grp = 1 THEN 1 END)
                       - sum(CASE WHEN grp = 0 THEN y END)
                         / count(CASE WHEN grp = 0 THEN 1 END)), 4) AS d
      FROM perms GROUP BY p),
    obs AS (SELECT d AS d_obs FROM stats WHERE p = 0)
    SELECT CAST((SELECT count(*) FROM spend) AS BIGINT) AS n_users,
           CAST({_PERM_N} AS BIGINT) AS n_perms,
           d_obs,
           round((1.0 + count(*) FILTER (WHERE s.p > 0 AND s.d >= o.d_obs))
                 / (1.0 + {_PERM_N}), 4) AS p_value
    FROM stats s, obs o GROUP BY d_obs
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded randomization test (M18, wave 33): the
    distribution-free significance check for the A/B spend difference —
    re-assign users to arms {_PERM_N} times with a DETERMINISTIC LCG
    (permutation p offsets the seed by p·{_PERM_STEP}; p = 0 IS the
    q_ab_test assignment, so the observed stat is the real experiment)
    and count reassignments whose |mean gap| reaches the observed one.
    Per-permutation stats round to 4 decimals BEFORE the ≥ comparison
    (a 1-ulp sum split must not flip a count). Scale shape: one
    user-keyed spend aggregate, then a {_PERM_N + 1}-way explode of the
    |users|-row rollup (never the event rows) into (p, grp) partial
    sums — the event table is scanned once."""
    ev = load_table(spark, "events", sf_dir)
    # eagerly checkpointed: the |users|-row rollup feeds the perm
    # explode AND the n_users count — without it each consumer re-runs
    # the event scan (plan pin: exactly one FileScan)
    spend = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ).alias("y")
        )
        .localCheckpoint(eager=True)
    )
    perms = spend.select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_N))).alias("p"),
    ).select(
        "p",
        "y",
        F.when(
            ((F.col("user_id") + F.col("p") * _PERM_STEP) * _LCG_A + _LCG_C)
            % _LCG_M
            < _LCG_M // 2,
            0,
        )
        .otherwise(1)
        .alias("grp"),
    )
    stats = perms.groupBy("p").agg(
        F.round(
            F.abs(
                F.sum(F.when(F.col("grp") == 1, F.col("y")))
                / F.count(F.when(F.col("grp") == 1, F.lit(1)))
                - F.sum(F.when(F.col("grp") == 0, F.col("y")))
                / F.count(F.when(F.col("grp") == 0, F.lit(1)))
            ),
            4,
        ).alias("d")
    )
    # d_obs folds in via a window over the 65-row stats table — a
    # separate filter branch would re-run the whole perm lineage
    n_users = spend.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return (
        stats.withColumn(
            "d_obs",
            F.max(F.when(F.col("p") == 0, F.col("d"))).over(
                Window.partitionBy()
            ),
        )
        .agg(
            F.first("d_obs").alias("d_obs"),
            F.round(
                (
                    1.0
                    + F.sum(
                        (
                            (F.col("p") > 0) & (F.col("d") >= F.col("d_obs"))
                        ).cast("long")
                    )
                )
                / (1.0 + _PERM_N),
                4,
            ).alias("p_value"),
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "n_users",
            F.lit(_PERM_N).cast("long").alias("n_perms"),
            "d_obs",
            "p_value",
        )
    )


# --- M19: Cochran-Armitage trend test across discount bands ----------------------


@query(
    "q_trend_test",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS band,
             count(*)::DOUBLE AS n,
             count(*) FILTER (WHERE l_returnflag = 'R')::DOUBLE AS r
      FROM lineitem GROUP BY 1),
    m AS (
      SELECT sum(n) AS nn, sum(r) / sum(n) AS pbar,
             sum(band * n * band) AS sxx,
             sum(band * n) AS sx,
             sum(band * r) AS sxr
      FROM b)
    SELECT CAST(nn AS BIGINT) AS n_lines,
           round(pbar, 6) AS p_bar,
           round((sxr - pbar * sx)
                 / sqrt(pbar * (1 - pbar) * (sxx - sx * sx / nn)), 4)
             AS z_trend
    FROM m
    """,
)
def q_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (M19, wave 34): does the return
    rate TREND monotonically with the discount band — the ordered-
    categories complement to q_chi_square's unordered independence
    test (chi-square spends its power on arbitrary deviations; CA
    concentrates it on the linear trend an analyst actually suspects).
    Scores are the integer band values; T = Σ xᵢ(rᵢ − nᵢ·p̄),
    Var = p̄(1−p̄)(Σnᵢxᵢ² − (Σnᵢxᵢ)²/N) — every moment an exact
    integer-weighted sum off the ≤11-row band table. One fact
    aggregate; everything after is band-count sized."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_discount", "l_returnflag"
    )
    b = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("long").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("double")
        .alias("r"),
    )
    m = b.agg(
        F.sum("n").alias("nn"),
        (F.sum("r") / F.sum("n")).alias("pbar"),
        F.sum(F.col("band") * F.col("n") * F.col("band")).alias("sxx"),
        F.sum(F.col("band") * F.col("n")).alias("sx"),
        F.sum(F.col("band") * F.col("r")).alias("sxr"),
    )
    # T = Σ x·r − p̄·Σ x·n, algebraically identical to Σ x(r − n·p̄)
    t = F.col("sxr") - F.col("pbar") * F.col("sx")
    return m.select(
        F.col("nn").cast("long").alias("n_lines"),
        F.round("pbar", 6).alias("p_bar"),
        F.round(
            t
            / F.sqrt(
                F.col("pbar")
                * (1 - F.col("pbar"))
                * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nn"))
            ),
            4,
        ).alias("z_trend"),
    )


# --- M21: Cohen's kappa inter-rater agreement --------------------------------


@query(
    "q_cohens_kappa",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS ra,
             CASE WHEN l_extendedprice >= 53000.0 THEN 1 ELSE 0 END AS rb
      FROM lineitem),
    cnt AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             CAST(sum(ra) AS BIGINT) AS a1,
             CAST(sum(rb) AS BIGINT) AS b1
      FROM r GROUP BY 1)
    SELECT l_returnflag, n, agree,
           round(agree / CAST(n AS DOUBLE), 6) AS po,
           round((a1 * b1 + (n - a1) * (n - b1)) / (CAST(n AS DOUBLE) * n), 6) AS pe,
           round((agree / CAST(n AS DOUBLE)
                  - (a1 * b1 + (n - a1) * (n - b1)) / (CAST(n AS DOUBLE) * n))
                 / (1.0 - (a1 * b1 + (n - a1) * (n - b1)) / (CAST(n AS DOUBLE) * n)),
                 6) AS kappa
    FROM cnt ORDER BY l_returnflag
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement (M21, wave 35): do two
    independent row-classification rules — a discount-based flag and a
    price-based flag — agree beyond chance, per return-flag stratum?
    κ = (p_o − p_e)/(1 − p_e), the standard screen before trusting two
    labeling heuristics (or two model versions) as interchangeable
    annotators in a training-data pipeline.

    One fact scan, one keyed aggregate: both raters are scan-side
    codegen CASE expressions, the per-stratum contingency reduces to
    four exact int64 counters (n, agree, a1, b1), and every κ term is
    closed-form integer arithmetic with the final divisions the only
    float ops — bit-portable across engines. At 100 TB the exchange
    carries 3 strata × 4 counters."""
    li = load_table(spark, "lineitem", sf_dir)
    r = li.select(
        "l_returnflag",
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("ra"),
        F.when(F.col("l_extendedprice") >= 53000.0, 1).otherwise(0).alias("rb"),
    )
    cnt = r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum("ra").cast("long").alias("a1"),
        F.sum("rb").cast("long").alias("b1"),
    )
    nd = F.col("n").cast("double")
    pe = (
        F.col("a1") * F.col("b1")
        + (F.col("n") - F.col("a1")) * (F.col("n") - F.col("b1"))
    ) / (nd * F.col("n"))
    po = F.col("agree") / nd
    return cnt.select(
        "l_returnflag",
        "n",
        "agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    ).orderBy("l_returnflag")


# --- M22: Gumbel extreme-value return levels ---------------------------------

_EULER_GAMMA = 0.5772156649015329
_GUMBEL_HORIZONS = (30, 90, 365)


@query(
    "q_evt_gumbel",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(max(o_totalprice), 4) AS mx
      FROM orders GROUP BY 1),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             avg(mx) AS m1,
             stddev_samp(mx) AS s
      FROM daily),
    fit AS (
      SELECT n_days,
             round(s * sqrt(6) / pi(), 4) AS sigma,
             round(m1 - {_EULER_GAMMA} * s * sqrt(6) / pi(), 4) AS mu
      FROM mom)
    SELECT n_days, mu, sigma,
           round(mu - sigma * ln(-ln(1.0 - 1.0 / 30)), 4) AS rl_30,
           round(mu - sigma * ln(-ln(1.0 - 1.0 / 90)), 4) AS rl_90,
           round(mu - sigma * ln(-ln(1.0 - 1.0 / 365)), 4) AS rl_365
    FROM fit
    """,
)
def q_evt_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value return levels (M22, wave 36): fit the
    distribution of DAILY MAXIMUM order values by method of moments
    (σ̂ = s·√6/π, μ̂ = x̄ − γσ̂) and report the 30/90/365-day return
    levels x_T = μ − σ·ln(−ln(1−1/T)) — the "how big an order should we
    expect once a quarter" capacity question, and the EVT complement to
    Y10's z-score (which models the bulk, not the tail of maxima).

    One fact aggregate to the |days|-row maxima series, closed-form
    moments, zero iterations: scale cost is the day rollup's single
    keyed exchange. Daily maxima round to 4 decimals before the
    moments; μ/σ round before the return-level arithmetic so both
    engines feed identical inputs to ln."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select("d", "mx")
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("mx").alias("m1"),
        F.stddev_samp("mx").alias("s"),
    )
    import math

    fit = mom.select(
        "n_days",
        F.round(F.col("m1") - _EULER_GAMMA * F.col("s") * math.sqrt(6) / math.pi, 4).alias("mu"),
        F.round(F.col("s") * math.sqrt(6) / math.pi, 4).alias("sigma"),
    )
    cols = [
        F.round(
            F.col("mu") - F.col("sigma") * math.log(-math.log(1.0 - 1.0 / t)), 4
        ).alias(f"rl_{t}")
        for t in _GUMBEL_HORIZONS
    ]
    return fit.select("n_days", "mu", "sigma", *cols)


# --- M23: Wald-Wolfowitz runs test -------------------------------------------


@query(
    "q_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1),
    med AS (SELECT quantile_disc(rev, 0.5) AS m FROM daily),
    signed AS (
      SELECT d, CASE WHEN rev > med.m THEN 1 ELSE 0 END AS s
      FROM daily, med WHERE rev <> med.m),
    runs AS (
      SELECT s,
             CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
                  OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS new_run
      FROM signed),
    agg AS (
      SELECT CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2,
             CAST(sum(new_run) AS BIGINT) AS r
      FROM runs),
    stat AS (
      SELECT n1, n2, r,
             1.0 + 2.0 * n1 * n2 / (n1 + n2) AS er,
             (2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
               / ((n1 + n2) * (n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)) AS vr
      FROM agg)
    SELECT n1, n2, r AS runs, round(er, 4) AS expected_runs,
           round((r - er) / sqrt(vr), 4) AS z,
           round({_sql_p_two("((r - er) / sqrt(vr))")}, 6) AS p_value
    FROM stat
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (M23, wave 37): is the daily-revenue
    series random around its median, or does it cluster into
    above/below streaks (momentum, regime shifts, weekly structure)?
    Counts sign runs against the exact null moments E[R] =
    1 + 2n₁n₂/n and Var[R], normal-approximated z with the shared
    A&S-7.1.26 two-sided p — the randomness gate a forecasting team
    runs BEFORE trusting TM4/TM15's backtests (a non-random residual
    series invalidates their error bars).

    One fact aggregate to the |days| series; the median is the DISC
    median of days (a data value, tie rows dropped per the classic
    test), run boundaries come from one lag window over days, and
    every moment is exact integer arithmetic until the final z. Scale
    cost is the day rollup's single keyed exchange."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select("d", "rev")
    wcum = Window.orderBy("rev").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        daily.select(
            "rev",
            F.sum(F.lit(1)).over(wcum).alias("cw"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("tw"),
        )
        .groupBy()
        .agg(
            F.min(
                F.when(
                    F.col("cw") >= ((F.col("tw") + 1) / 2).cast("long"),
                    F.col("rev"),
                )
            ).alias("m")
        )
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select("d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    lag = F.lag("s").over(Window.orderBy("d"))
    runs = signed.select(
        "s",
        F.when(lag.isNull() | (lag != F.col("s")), 1).otherwise(0).alias("new_run"),
    )
    agg = runs.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        F.sum("new_run").cast("long").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        (2.0 * n1 * n2)
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1).cast("double"))
    )
    z = (r - er) / F.sqrt(vr)
    return agg.select(
        "n1",
        "n2",
        F.col("r").alias("runs"),
        F.round(er, 4).alias("expected_runs"),
        F.round(z, 4).alias("z"),
        F.round(_col_p_two(z), 6).alias("p_value"),
    )


# --- M24: McNemar paired-disagreement test -----------------------------------


@query(
    "q_mcnemar_flips",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS ra,
             CASE WHEN l_extendedprice >= 53000.0 THEN 1 ELSE 0 END AS rb
      FROM lineitem),
    cnt AS (
      SELECT l_returnflag,
             CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM r GROUP BY 1),
    stat AS (
      SELECT l_returnflag, b, c,
             (b - c) * (b - c) / CAST(b + c AS DOUBLE) AS chi2
      FROM cnt)
    SELECT l_returnflag, b AS flips_ab, c AS flips_ba,
           round(chi2, 4) AS chi2,
           round({_sql_p_two("sqrt((b - c) * (b - c) / CAST(b + c AS DOUBLE))")}, 6)
             AS p_value,
           CASE WHEN chi2 > 3.841 THEN 1 ELSE 0 END AS biased_at_5pct
    FROM stat ORDER BY l_returnflag
    """,
)
def q_mcnemar_flips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-flip test (M24, wave 37): M21's kappa says how
    much two classifiers agree; this tests whether their DISAGREEMENTS
    are directionally biased — χ² = (b−c)²/(b+c) over the discordant
    cells, the champion/challenger flip audit run before swapping a
    scoring rule (symmetric flips = noise, one-sided flips = the new
    rule systematically relabels a class). χ²₁'s p-value is the
    two-sided normal p of √χ² (shared A&S erfc — exact same term
    sequence on both engines).

    One fact scan, one keyed aggregate of two int64 discordant
    counters per stratum — the kappa scale shape with a different
    closed form on top."""
    li = load_table(spark, "lineitem", sf_dir)
    r = li.select(
        "l_returnflag",
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("ra"),
        F.when(F.col("l_extendedprice") >= 53000.0, 1).otherwise(0).alias("rb"),
    )
    cnt = r.groupBy("l_returnflag").agg(
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    chi2 = (F.col("b") - F.col("c")) * (F.col("b") - F.col("c")) / (
        F.col("b") + F.col("c")
    ).cast("double")
    return cnt.select(
        "l_returnflag",
        F.col("b").alias("flips_ab"),
        F.col("c").alias("flips_ba"),
        F.round(chi2, 4).alias("chi2"),
        F.round(_col_p_two(F.sqrt(chi2)), 6).alias("p_value"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("biased_at_5pct"),
    ).orderBy("l_returnflag")


# --- M25: G-test of independence (log-likelihood ratio) -----------------------


@query(
    "q_g_test",
    oracle="""
    WITH o AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(count(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY 1, 2),
    m AS (
      SELECT rf, ls, obs,
             CAST(sum(obs) OVER (PARTITION BY rf) AS BIGINT) AS row_tot,
             CAST(sum(obs) OVER (PARTITION BY ls) AS BIGINT) AS col_tot,
             CAST(sum(obs) OVER () AS BIGINT) AS n
      FROM o),
    s AS (
      SELECT max(n) AS n,
             CAST((count(DISTINCT rf) - 1) * (count(DISTINCT ls) - 1)
                  AS BIGINT) AS df,
             2.0 * sum(obs * ln(obs
                 / (row_tot * CAST(col_tot AS DOUBLE) / n))) AS g
      FROM m)
    SELECT n, df, round(g, 4) AS g_stat,
           CASE WHEN g > (CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                          WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                          ELSE 11.070 END)
                THEN 1 ELSE 0 END AS dependent_5pct
    FROM s
    """,
)
def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence (M25, wave 38): the log-likelihood-ratio
    twin of the chi-square test (M10) over the returnflag × linestatus
    contingency table — G = 2·Σ O·ln(O/E) is additive across
    partitions of the table (chi-square is not), which is why corpus
    pipelines prefer it (Dunning's LLR for collocations, Z8's PMI
    sibling). Zero cells contribute zero by the O·ln(O/E) → 0 limit
    (no cell here is zero; the groupBy emits only observed cells,
    matching the oracle).

    100 TB shape: ONE hash aggregate to the r×c observed cells;
    marginals and the statistic are windows/arithmetic over those ≤6
    rows. ln association written identically on both sides; critical
    value picked by df from the observed table."""
    li = load_table(spark, "lineitem", sf_dir)
    o = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    m = o.select(
        "rf",
        "ls",
        "obs",
        F.sum("obs").over(Window.partitionBy("rf")).cast("long").alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("ls")).cast("long").alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).cast("long").alias("n"),
    )
    s = m.agg(
        F.max("n").alias("n"),
        (
            (F.countDistinct("rf") - 1) * (F.countDistinct("ls") - 1)
        ).cast("long").alias("df"),
        (
            2.0
            * F.sum(
                F.col("obs")
                * F.log(
                    F.col("obs")
                    / (
                        F.col("row_tot")
                        * F.col("col_tot").cast("double")
                        / F.col("n")
                    )
                )
            )
        ).alias("g"),
    )
    crit = (
        F.when(F.col("df") == 1, 3.841)
        .when(F.col("df") == 2, 5.991)
        .when(F.col("df") == 3, 7.815)
        .when(F.col("df") == 4, 9.488)
        .otherwise(11.070)
    )
    return s.select(
        "n",
        "df",
        F.round("g", 4).alias("g_stat"),
        F.when(F.col("g") > crit, 1).otherwise(0).alias("dependent_5pct"),
    )


# --- M26: sequential probability ratio test (SPRT) ---------------------------

_SPRT_T = 300_000.0  # "high-value order" threshold
_SPRT_P0 = 0.38
_SPRT_P1 = 0.42
_SPRT_LN19 = 2.9444389791664403  # ln(19): alpha = beta = 0.05


@query(
    "q_sprt_boundary",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_totalprice > {_SPRT_T} THEN 1 ELSE 0 END)
                  AS BIGINT) AS hi
      FROM orders GROUP BY 1),
    cum AS (
      SELECT d,
             sum(hi * ln({_SPRT_P1} / {_SPRT_P0})
                 + (n - hi) * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0})))
               OVER (ORDER BY d) AS llr
      FROM daily),
    hit AS (
      SELECT min(d) FILTER (WHERE llr >= {_SPRT_LN19}) AS d_h1,
             min(d) FILTER (WHERE llr <= -{_SPRT_LN19}) AS d_h0,
             CAST(count(*) AS BIGINT) AS n_days,
             round(max_by(llr, d), 4) AS final_llr
      FROM cum)
    SELECT n_days,
           CASE WHEN d_h1 IS NOT NULL AND (d_h0 IS NULL OR d_h1 <= d_h0)
                  THEN 'accept_h1'
                WHEN d_h0 IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CASE WHEN d_h1 IS NOT NULL AND (d_h0 IS NULL OR d_h1 <= d_h0)
                  THEN d_h1
                WHEN d_h0 IS NOT NULL THEN d_h0 END AS decision_day,
           final_llr
    FROM hit
    """,
)
def q_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT (M26, wave 38): sequential test of the high-value-
    order rate — H0: p = 0.38 vs H1: p = 0.42, α = β = 0.05 — walked
    day by day over the order stream; report the decision, the first
    boundary-crossing day, and the final cumulative log-likelihood
    ratio. The always-valid sequential monitor an experimentation
    platform runs BEFORE the fixed-horizon tests (M1/M15): it may stop
    months earlier on a strong effect.

    100 TB shape: one fact aggregate to (day, n, hi); the cumulative
    LLR is a window over the |days|-row series in date order (both
    engines accumulate in the identical order, so the float trajectory
    is pinned), and the decision is a one-row min/filter over it."""
    o = load_table(spark, "orders", sf_dir)
    import math

    la = math.log(_SPRT_P1 / _SPRT_P0)
    lb = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_totalprice") > _SPRT_T, 1).otherwise(0))
        .cast("long")
        .alias("hi"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum(
            F.col("hi") * F.lit(la) + (F.col("n") - F.col("hi")) * F.lit(lb)
        )
        .over(w)
        .alias("llr"),
    )
    hit = cum.agg(
        F.min(F.when(F.col("llr") >= _SPRT_LN19, F.col("d"))).alias("d_h1"),
        F.min(F.when(F.col("llr") <= -_SPRT_LN19, F.col("d"))).alias("d_h0"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max_by("llr", "d"), 4).alias("final_llr"),
    )
    h1_wins = F.col("d_h1").isNotNull() & (
        F.col("d_h0").isNull() | (F.col("d_h1") <= F.col("d_h0"))
    )
    return hit.select(
        "n_days",
        F.when(h1_wins, "accept_h1")
        .when(F.col("d_h0").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
        F.when(h1_wins, F.col("d_h1"))
        .when(F.col("d_h0").isNotNull(), F.col("d_h0"))
        .alias("decision_day"),
        "final_llr",
    )


# --- M27: Friedman test (blocked rank ANOVA) ----------------------------------


@query(
    "q_friedman_test",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    full_blocks AS (
      SELECT week FROM wk GROUP BY week
      HAVING count(*) = (SELECT count(DISTINCT event_type) FROM events)),
    r AS (
      SELECT w.week, w.event_type,
             2 * rank() OVER (PARTITION BY w.week ORDER BY w.cnt)
               + CAST(count(*) OVER (PARTITION BY w.week, w.cnt) AS BIGINT)
               - 1 AS r2
      FROM wk w JOIN full_blocks USING (week)),
    pergrp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(r2) AS BIGINT) AS sr2
      FROM r GROUP BY 1),
    s0 AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(max(n_blocks) AS BIGINT) AS n
      FROM pergrp),
    s AS (
      SELECT s0.k, s0.n,
             sum((p.sr2 / 2.0 - s0.n * (s0.k + 1) / 2.0)
                 * (p.sr2 / 2.0 - s0.n * (s0.k + 1) / 2.0)) AS ssq
      FROM pergrp p, s0 GROUP BY s0.k, s0.n),
    denom AS (
      SELECT sum((r2 / 2.0) * (r2 / 2.0)) AS sumr2,
             CAST(count(*) AS BIGINT) AS total_cells
      FROM r)
    SELECT s.k, s.n AS n_blocks,
           CAST(s.k - 1 AS BIGINT) AS df,
           round((s.k - 1) * s.ssq
                 / (d.sumr2 - s.n * s.k * (s.k + 1.0) * (s.k + 1.0) / 4.0),
                 4) AS fr_stat,
           CASE WHEN (s.k - 1) * s.ssq
                     / (d.sumr2 - s.n * s.k * (s.k + 1.0) * (s.k + 1.0)
                        / 4.0)
                     > (CASE s.k - 1 WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                        WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                        ELSE 11.070 END)
                THEN 1 ELSE 0 END AS significant_5pct
    FROM s, denom d
    """,
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (M27, wave 38): do event types rank consistently
    across weekly blocks? The repeated-measures rank ANOVA — blocks =
    ISO weeks, treatments = event types, observations = weekly event
    counts (exact integers, so within-block average ranks are .5-exact
    and the whole rank pipeline is deterministic). Only weeks where
    every treatment appears form blocks (balanced design). The
    tie-adjusted statistic Fr = (k−1)·Σⱼ(R̄ⱼ − n(k+1)/2)² /
    (Σᵢⱼ r̄ᵢⱼ² − nk(k+1)²/4), χ²_{k−1} under H0.

    100 TB shape: one fact aggregate to (week, type) cells; ranks are
    per-block windows over ≤k rows each (block-keyed exchange, never a
    global sort); the statistic reduces k rows. DOUBLED ranks
    (2·rank + ties − 1) keep every sum exact int64 until the one-row
    float projection."""
    ev = load_table(spark, "events", sf_dir)
    # lazy checkpoint: the (week, type) cells feed the balanced-block
    # filter AND the rank frame (which itself feeds the statistic and
    # the tie denominator) — as plain plan subtrees the events
    # scan+agg re-ran per reference (r11 scan-dupe sweep).
    wk = (
        ev.groupBy(
            F.to_date(F.date_trunc("week", "ts")).alias("week"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    k_types = ev.select("event_type").distinct().count()
    full_blocks = (
        wk.groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .filter(F.col("n_types") == k_types)
        .select("week")
    )
    w_rank = Window.partitionBy("week").orderBy("cnt")
    w_tie = Window.partitionBy("week", "cnt")
    r = wk.join(F.broadcast(full_blocks), "week").select(
        "week",
        "event_type",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie).cast("long")
            - 1
        ).alias("r2"),
    )
    pergrp = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("r2").cast("long").alias("sr2"),
    )
    w_all = Window.partitionBy()
    s = pergrp.select(
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.max("n_blocks").over(w_all).alias("n"),
        "sr2",
    ).select(
        "k",
        "n",
        (
            (F.col("sr2") / 2.0 - F.col("n") * (F.col("k") + 1) / 2.0)
            * (F.col("sr2") / 2.0 - F.col("n") * (F.col("k") + 1) / 2.0)
        ).alias("dev2"),
    ).groupBy("k", "n").agg(F.sum("dev2").alias("ssq"))
    denom = r.agg(
        F.sum((F.col("r2") / 2.0) * (F.col("r2") / 2.0)).alias("sumr2")
    )
    joined = s.crossJoin(denom)
    fr = (
        (F.col("k") - 1)
        * F.col("ssq")
        / (
            F.col("sumr2")
            - F.col("n")
            * F.col("k")
            * (F.col("k") + 1.0)
            * (F.col("k") + 1.0)
            / 4.0
        )
    )
    crit = (
        F.when(F.col("k") - 1 == 1, 3.841)
        .when(F.col("k") - 1 == 2, 5.991)
        .when(F.col("k") - 1 == 3, 7.815)
        .when(F.col("k") - 1 == 4, 9.488)
        .otherwise(11.070)
    )
    return joined.select(
        "k",
        F.col("n").alias("n_blocks"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.round(fr, 4).alias("fr_stat"),
        F.when(fr > crit, 1).otherwise(0).alias("significant_5pct"),
    )


# --- M28: stratified odds ratio with Woolf CI ----------------------------------


@query(
    "q_odds_ratio",
    oracle="""
    WITH cells AS (
      SELECT l_linestatus AS stratum,
             CAST(sum(CASE WHEN l_discount >= 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN l_discount >= 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN l_discount < 0.05
                            AND l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN l_discount < 0.05
                            AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM lineitem GROUP BY 1)
    SELECT stratum, a, b, c, d,
           round((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)), 6)
             AS odds_ratio,
           round(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                     - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS ci_lo,
           round(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                     + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS ci_hi,
           CASE WHEN exp(ln((a * CAST(d AS DOUBLE))
                            / (b * CAST(c AS DOUBLE)))
                        - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) > 1.0
                  OR exp(ln((a * CAST(d AS DOUBLE))
                            / (b * CAST(c AS DOUBLE)))
                         + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) < 1.0
                THEN 1 ELSE 0 END AS significant_5pct
    FROM cells ORDER BY stratum
    """,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified odds ratio with the Woolf log-CI (M28, wave 39): is
    a discounted line item more likely to be RETURNED, per line
    status? The 2×2-table effect measure epidemiology and churn
    analysis report where M1's z-test reports a rate difference —
    multiplicative, and well-defined in retrospective designs. CI =
    exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)); significance = CI excludes
    1.

    100 TB shape: ONE hash aggregate to four int64 counters per
    stratum (map-side combine does everything); the OR arithmetic is
    per-row closed form over ≤2 rows. ln/exp association written
    identically on both sides."""
    li = load_table(spark, "lineitem", sf_dir)
    exp_ = F.col("l_discount") >= 0.05
    out = F.col("l_returnflag") == "R"
    cells = li.groupBy(F.col("l_linestatus").alias("stratum")).agg(
        F.sum(F.when(exp_ & out, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exp_ & ~out, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exp_ & out, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exp_ & ~out, 1).otherwise(0)).cast("long").alias("d"),
    )
    orr = (F.col("a") * F.col("d").cast("double")) / (
        F.col("b") * F.col("c").cast("double")
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    lo = F.exp(F.log(orr) - 1.96 * se)
    hi = F.exp(F.log(orr) + 1.96 * se)
    return cells.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(hi, 6).alias("ci_hi"),
        F.when((lo > 1.0) | (hi < 1.0), 1).otherwise(0).alias(
            "significant_5pct"
        ),
    ).orderBy("stratum")


# --- M29: TOST equivalence test -------------------------------------------------

_TOST_MARGIN = 0.05  # +/-5% equivalence margin on the mean


@query(
    "q_tost_equivalence",
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 'weekend' ELSE 'weekday' END AS grp,
             o_totalprice AS x
      FROM orders),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n, sum(x) AS s1,
             sum(x * x) AS s2
      FROM lab GROUP BY 1),
    w AS (
      SELECT
        max(CASE WHEN grp = 'weekend' THEN n END) AS n1,
        max(CASE WHEN grp = 'weekend' THEN s1 END) AS s11,
        max(CASE WHEN grp = 'weekend' THEN s2 END) AS s21,
        max(CASE WHEN grp = 'weekday' THEN n END) AS n2,
        max(CASE WHEN grp = 'weekday' THEN s1 END) AS s12,
        max(CASE WHEN grp = 'weekday' THEN s2 END) AS s22
      FROM g),
    t AS (
      SELECT n1, n2,
             s11 / n1 - s12 / n2 AS diff,
             (s12 / n2) * {_TOST_MARGIN} AS margin,
             sqrt((s21 / n1 - (s11 / n1) * (s11 / n1)) / n1
                  + (s22 / n2 - (s12 / n2) * (s12 / n2)) / n2) AS se
      FROM w)
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(diff, 4) AS mean_diff,
           round(margin, 4) AS margin,
           round((diff + margin) / se, 4) AS t_lower,
           round((diff - margin) / se, 4) AS t_upper,
           CASE WHEN (diff + margin) / se > 1.6449
                 AND (diff - margin) / se < -1.6449
                THEN 1 ELSE 0 END AS equivalent_5pct
    FROM t
    """,
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (M29, wave 39): are weekend and weekday
    mean order values EQUIVALENT within ±5 % of the weekday mean? Two
    one-sided z-tests — reject "diff ≤ −δ" AND reject "diff ≥ +δ" at
    α = 0.05 (critical 1.6449) ⇒ equivalence. The test TM12's uplift
    t-test cannot run: failing to find a difference is not evidence
    of equivalence; TOST is how an experimentation platform certifies
    a no-regression launch.

    100 TB shape: ONE fact aggregate to two rows of (n, Σx, Σx²)
    sufficient statistics; everything after is one-row arithmetic.
    Spark dayofweek (Sun=1) is mapped to match the oracle's DuckDB
    dayofweek (Sun=0) weekend test explicitly."""
    o = load_table(spark, "orders", sf_dir)
    # DuckDB dayofweek: Sun=0..Sat=6 -> weekend IN (0,6);
    # Spark dayofweek: Sun=1..Sat=7 -> weekend IN (1,7)
    lab = o.select(
        F.when(
            F.dayofweek(F.to_date("o_orderdate")).isin(1, 7), "weekend"
        )
        .otherwise("weekday")
        .alias("grp"),
        F.col("o_totalprice").alias("x"),
    )
    g = lab.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "weekend", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "weekend", F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("grp") == "weekend", F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("grp") == "weekday", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "weekday", F.col("s1"))).alias("s12"),
        F.max(F.when(F.col("grp") == "weekday", F.col("s2"))).alias("s22"),
    )
    diff = F.col("s11") / F.col("n1") - F.col("s12") / F.col("n2")
    margin = (F.col("s12") / F.col("n2")) * _TOST_MARGIN
    se = F.sqrt(
        (
            F.col("s21") / F.col("n1")
            - (F.col("s11") / F.col("n1")) * (F.col("s11") / F.col("n1"))
        )
        / F.col("n1")
        + (
            F.col("s22") / F.col("n2")
            - (F.col("s12") / F.col("n2")) * (F.col("s12") / F.col("n2"))
        )
        / F.col("n2")
    )
    t_lo = (diff + margin) / se
    t_hi = (diff - margin) / se
    return w.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(diff, 4).alias("mean_diff"),
        F.round(margin, 4).alias("margin"),
        F.round(t_lo, 4).alias("t_lower"),
        F.round(t_hi, 4).alias("t_upper"),
        F.when((t_lo > 1.6449) & (t_hi < -1.6449), 1)
        .otherwise(0)
        .alias("equivalent_5pct"),
    )


# --- M30: Bland-Altman agreement analysis ---------------------------------------


@query(
    "q_bland_altman",
    oracle="""
    WITH lr AS (
      SELECT l_orderkey AS k,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) - line_cents AS d
      FROM orders JOIN lr ON o_orderkey = lr.k),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(d) AS HUGEINT) AS DOUBLE) AS s1,
             CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS s2
      FROM d),
    st AS (
      SELECT n, s1 / n AS mean_d,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
      FROM s)
    SELECT st.n AS n_pairs,
           round(st.mean_d, 6) AS mean_diff_cents,
           round(st.sd, 6) AS sd_cents,
           round(st.mean_d - 1.96 * st.sd, 6) AS lo_limit,
           round(st.mean_d + 1.96 * st.sd, 6) AS hi_limit,
           CAST(sum(CASE WHEN d.d < st.mean_d - 1.96 * st.sd
                           OR d.d > st.mean_d + 1.96 * st.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outside,
           round(sum(CASE WHEN d.d < st.mean_d - 1.96 * st.sd
                            OR d.d > st.mean_d + 1.96 * st.sd
                          THEN 1 ELSE 0 END)
                 / CAST(st.n AS DOUBLE), 6) AS outside_share
    FROM d CROSS JOIN st
    GROUP BY st.n, st.mean_d, st.sd
    """,
)
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis (M30, wave 41): do two
    measurements of the same quantity agree? Here the order header's
    total price vs the sum of its line extended prices — the classic
    method-comparison screen (mean difference = systematic bias, the
    ±1.96·sd limits of agreement, and the share of pairs outside the
    limits, which a well-calibrated pair holds near 5%). The same
    shape audits any dual-pipeline reconciliation: two ingest paths,
    two currency-conversion services, a vendor feed vs an internal
    recompute.

    Exactness: both measurements enter as integer CENTS
    (``round(x*100)`` then cast — rounding BEFORE the cast makes
    truncation-vs-rounding cast semantics moot), so the per-order diff
    is an exact int64. Sufficient statistics: Σd fits int64 at every
    tier (|d| ≤ ~5e7 cents × 1.5e9 orders ≈ 7.5e16 < 2^63); Σd² is
    summed as decimal(38,0) Spark-side / HUGEINT oracle-side (d² ≤
    2.5e15 × 1.5e9 ≈ 3.8e24 ≪ 1e38, documented bound). mean/sd/limits
    derive from identical exact integers through identical IEEE ops,
    so both engines compare each integer diff against bit-identical
    double limits — no boundary ambiguity.

    Shape: ONE orderkey-keyed rollup of lineitem, one co-keyed join
    to orders, a scalar sufficient-stats aggregate broadcast back,
    and one counting pass — the diff frame checkpoints lazily because
    the limits pass re-reads it. No sort, no window, no pair space;
    every exchange is keyed on the join key."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731
    lr = (
        li.select(F.col("l_orderkey").alias("k"), cents("l_extendedprice").alias("lc"))
        .groupBy("k")
        .agg(F.sum("lc").cast("long").alias("line_cents"))
    )
    d = (
        o.select(F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("hc"))
        .join(lr, "k")
        .select((F.col("hc") - F.col("line_cents")).alias("d"))
        .localCheckpoint(eager=False)
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("double").alias("s1"),
        F.sum(F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)"))
        .cast("double")
        .alias("s2"),
    )
    st = s.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mean_d"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    outside = (
        F.col("d") < F.col("mean_d") - 1.96 * F.col("sd")
    ) | (F.col("d") > F.col("mean_d") + 1.96 * F.col("sd"))
    return (
        d.crossJoin(F.broadcast(st))
        .groupBy("n", "mean_d", "sd")
        .agg(
            F.sum(F.when(outside, 1).otherwise(0)).cast("long").alias("n_outside"),
        )
        .select(
            F.col("n").alias("n_pairs"),
            F.round("mean_d", 6).alias("mean_diff_cents"),
            F.round("sd", 6).alias("sd_cents"),
            F.round(F.col("mean_d") - 1.96 * F.col("sd"), 6).alias("lo_limit"),
            F.round(F.col("mean_d") + 1.96 * F.col("sd"), 6).alias("hi_limit"),
            "n_outside",
            F.round(F.col("n_outside") / F.col("n").cast("double"), 6).alias(
                "outside_share"
            ),
        )
    )


# --- M31: Kendall's W coefficient of concordance --------------------------------

_KW_TYPES = ("click", "error", "purchase", "signup", "view")


def _kw_rank_sql(t: str) -> str:
    others = [o for o in _KW_TYPES if o != t]
    terms = " + ".join(
        f"CASE WHEN c_{o} > c_{t}"
        f" OR (c_{o} = c_{t} AND '{o}' < '{t}') THEN 1 ELSE 0 END"
        for o in others
    )
    return f"1 + {terms}"


@query(
    "q_kendall_w",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             {", ".join(
                 f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                 f" AS BIGINT) AS c_{t}"
                 for t in _KW_TYPES)}
      FROM events
      WHERE event_type IN {_KW_TYPES!r}
      GROUP BY user_id),
    rk AS (
      SELECT {", ".join(
                 f"CAST({_kw_rank_sql(t)} AS BIGINT) AS rk_{t}"
                 for t in _KW_TYPES)}
      FROM c),
    rj AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             {", ".join(
                 f"CAST(sum(rk_{t}) AS BIGINT) AS r_{t}"
                 for t in _KW_TYPES)}
      FROM rk),
    s AS (
      SELECT *,
             (r_click - 3 * m) * (r_click - 3 * m)
             + (r_error - 3 * m) * (r_error - 3 * m)
             + (r_purchase - 3 * m) * (r_purchase - 3 * m)
             + (r_signup - 3 * m) * (r_signup - 3 * m)
             + (r_view - 3 * m) * (r_view - 3 * m) AS ss
      FROM rj)
    SELECT m AS n_users, r_click, r_error, r_purchase, r_signup, r_view,
           CAST(ss AS BIGINT) AS s_stat,
           round(ss / (10.0 * m * m), 6) AS w,
           round(4.0 * ss / (10.0 * m), 6) AS chi2,
           CASE WHEN round(4.0 * ss / (10.0 * m), 6) > 9.487729
                THEN 1 ELSE 0 END AS reject_5pct
    FROM s
    """,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W coefficient of concordance (M31, wave 42): do users
    AGREE on the ordering of the k=5 event types? Every user ranks the
    types by personal usage count (rank 1 = most used; ties broken by
    type name so every ranking is a strict permutation); W ∈ [0,1]
    measures agreement across the m judges, and m(k−1)W is the
    Friedman chi² — this is the effect-size dual of M27 (Friedman asks
    "do treatments differ?", W asks "how concordant are the judges?").

    Exactness: per-user ranks come from a FIXED-ORDER in-row
    comparison battery over the five count columns (no window, no
    sort, tie-break '<' on the type literal), so rank sums R_j and
    S = Σ(R_j − 3m)² are exact int64 — with k=5 the rank-sum mean
    m(k+1)/2 = 3m is integer, so S never floats; W = S/(10m²) and
    chi² = 4S/(10m) divide identical integers, rounded 6-dp, and the
    df=4 critical value is a pinned literal. Bound: R_j ≤ 5m ≈ 7.5e7
    at the 1000× tier → S ≈ 1e16 < 2^63 (documented).

    Shape: ONE user-keyed conditional aggregate over events (map-side
    combined, no pivot), ranks and S in whole-stage codegen, one
    scalar aggregate. Two exchanges at any scale — the same
    two-exchange shape as ST21, measuring agreement where Cochran
    measures marginal differences."""
    ev = load_table(spark, "events", sf_dir)
    c = (
        ev.filter(F.col("event_type").isin(*_KW_TYPES))
        .groupBy("user_id")
        .agg(
            *[
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"c_{t}")
                for t in _KW_TYPES
            ]
        )
    )

    def rank_of(t: str):
        others = [o for o in _KW_TYPES if o != t]
        expr = F.lit(1)
        for o in others:
            expr = expr + F.when(
                (F.col(f"c_{o}") > F.col(f"c_{t}"))
                | ((F.col(f"c_{o}") == F.col(f"c_{t}")) & F.lit(o < t)),
                1,
            ).otherwise(0)
        return expr.cast("long")

    rk = c.select(*[rank_of(t).alias(f"rk_{t}") for t in _KW_TYPES])
    rj = rk.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        *[
            F.sum(f"rk_{t}").cast("long").alias(f"r_{t}")
            for t in _KW_TYPES
        ],
    )
    ss = sum(
        [
            (F.col(f"r_{t}") - 3 * F.col("m"))
            * (F.col(f"r_{t}") - 3 * F.col("m"))
            for t in _KW_TYPES
        ],
        F.lit(0),
    )
    return (
        rj.withColumn("ss", ss.cast("long"))
        .select(
            F.col("m").alias("n_users"),
            *[F.col(f"r_{t}") for t in _KW_TYPES],
            F.col("ss").alias("s_stat"),
            F.round(F.col("ss") / (10.0 * F.col("m") * F.col("m")), 6).alias(
                "w"
            ),
            F.round(4.0 * F.col("ss") / (10.0 * F.col("m")), 6).alias(
                "chi2"
            ),
        )
        .withColumn(
            "reject_5pct",
            F.when(F.col("chi2") > 9.487729, 1).otherwise(0),
        )
    )
