"""Temporal-analytics wave 16 (SURVEY §2.26): the interval and
calendar operators an event-log warehouse runs daily — overlapping-
interval merge (the coverage primitive behind SLA/uptime accounting),
gaps-and-islands activity streaks (retention's "consecutive days"
metric), cumulative-distinct user growth (the first-seen trick that
makes a running COUNT(DISTINCT) linear), and a seasonal-naive forecast
backtest (the baseline every demand forecast must beat).

The reference keeps per-session message history and timestamps only
(AI.py:155-161); these are the temporal analytics a production log of
those sessions would need at fleet scale.

Every query has an exact DuckDB oracle. Portability notes: timestamps
compare as ``unix_micros`` ↔ ``epoch_us`` (integer microseconds, no
timezone surface); day bucketing is ``to_date`` ↔ ``CAST(ts AS
DATE)`` under the UTC-pinned session; interval endpoints and island
ids are int64 arithmetic, identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query
from .sources.loaders import load_table, local_frame

# --- W16a: overlapping-interval merge --------------------------------------


@query(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e
      FROM events),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s
                  THEN 0 ELSE 1 END AS new_island,
             event_id
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    merged AS (
      SELECT user_id, island, count(*) AS n, min(s) AS ms, max(e) AS me
      FROM islands GROUP BY user_id, island)
    SELECT user_id, CAST(sum(n) AS BIGINT) AS n_raw, count(*) AS n_merged,
           CAST(sum(me - ms) AS BIGINT) AS covered_us,
           max(me - ms) AS max_merged_us
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals per user (W16a): each event opens an
    interval of ``value`` minutes; overlapping-or-touching intervals
    collapse into islands, reported per user as raw/merged counts and
    covered time — the primitive behind uptime accounting, on-call
    coverage, and de-overlapped billable time.

    Plan shape: ONE data-sized exchange. The max-end prefix window, the
    running island-id sum, the (user, island) merge, and the final
    per-user rollup all cluster on user_id, so Catalyst reuses the one
    hash partitioning for every downstream aggregate (hash on a subset
    of the grouping keys satisfies the clustered distribution). Island
    detection is O(1) state per row — no pair join, no self-join — so
    the shape is history-depth-independent, the property that made the
    as-of join scale (see BASELINE.md round-4 sweep). At 100 TB the
    sort within each user partition is the only superlinear term and
    rides the shuffle's spill machinery."""
    iv = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 60000000).cast("long")
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_e >= F.col("s"), F.lit(0)).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_raw"),
            F.count(F.lit(1)).alias("n_merged"),
            F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
            F.max(F.col("me") - F.col("ms")).alias("max_merged_us"),
        )
        .orderBy("user_id")
    )


# --- W16b: gaps-and-islands activity streaks -------------------------------


@query(
    "q_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    numbered AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp,
             date_diff('day',
                       lag(d) OVER (PARTITION BY user_id ORDER BY d),
                       d) - 1 AS gap
      FROM days),
    streaks AS (
      SELECT user_id, grp, count(*) AS len, max(gap) AS g
      FROM numbered GROUP BY user_id, grp)
    SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
           count(*) AS n_streaks, max(len) AS max_streak_days,
           coalesce(max(g), 0) AS max_gap_days
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks per user (W16b): collapse each
    user's active days into maximal runs of consecutive dates via the
    classic ``date - row_number`` island key, reporting active days,
    streak count, longest streak, and widest gap — the retention
    metric behind "7-day streak" product features.

    Plan shape: two keyed exchanges. The DISTINCT (user, day) dedup
    partial-aggregates map-side, so exchange 1 carries at most
    |users|×|days| rows; exchange 2 re-keys on user_id for the
    row_number window, and the streak + per-user rollups reuse that
    partitioning (subset-clustering, as in q_interval_merge). Nothing
    here scales with raw event count past the map-side dedup, so at
    100 TB the shape is bounded by users × calendar days."""
    days = (
        load_table(spark, "events", sf_dir)
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
        (F.datediff(F.col("d"), F.lag("d").over(w)) - 1)
        .cast("long")
        .alias("gap"),
    )
    streaks = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.max("gap").alias("g")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("max_streak_days"),
            F.coalesce(F.max("g"), F.lit(0).cast("long")).alias(
                "max_gap_days"
            ),
        )
        .orderBy("user_id")
    )


# --- W16c: cumulative-distinct user growth ---------------------------------


@query(
    "q_running_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events
      GROUP BY user_id),
    new_by_day AS (
      SELECT fd AS d, count(*) AS new_users FROM first_seen GROUP BY fd),
    daily AS (
      SELECT CAST(ts AS DATE) AS d,
             count(DISTINCT user_id) AS active_users FROM events
      GROUP BY 1)
    SELECT daily.d, daily.active_users,
           coalesce(new_by_day.new_users, 0) AS new_users,
           daily.active_users - coalesce(new_by_day.new_users, 0)
             AS returning_users,
           CAST(sum(coalesce(new_by_day.new_users, 0)) OVER (
             ORDER BY daily.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily LEFT JOIN new_by_day ON daily.d = new_by_day.d
    ORDER BY daily.d
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct user growth by day (W16c): a running
    COUNT(DISTINCT user) over an ever-growing prefix is quadratic if
    evaluated per day; the first-seen trick (min event date per user,
    then a running sum of per-day first-timers) makes it one linear
    pass — the standard growth-curve query.

    Plan shape: the first-seen aggregate keys one exchange on user_id
    (partial min map-side); the per-day rollups carry ≤|days| groups;
    the final running sum is a single-partition window over the
    |days|-row daily series — a deliberate driver-scale artifact
    (30 rows here, ~37k rows for a century of days), never data-sized.
    At 100 TB only the user-keyed exchange grows, and it carries one
    (user, date) pair per user after the map-side combine."""
    events = load_table(spark, "events", sf_dir)
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd")
    )
    new_by_day = first_seen.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_distinct("user_id").alias("active_users")
    )
    joined = daily.join(new_by_day, "d", "left").select(
        "d",
        "active_users",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "d",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("d")


# --- W16d: seasonal-naive forecast backtest --------------------------------


@query(
    "q_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, d, n,
             lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS f7,
             lag(n, 1) OVER (PARTITION BY event_type ORDER BY d) AS f1,
             max(d) OVER (PARTITION BY event_type) AS md
      FROM daily)
    SELECT event_type, count(*) AS n_days_eval,
           round(avg(abs(n - f7) / n), 5) AS mape_seasonal,
           round(avg(abs(n - f1) / n), 5) AS mape_naive,
           round(avg(2.0 * abs(n - f7) / (n + f7)), 5) AS smape_seasonal
    FROM lagged
    WHERE date_diff('day', d, md) < 14 AND f7 IS NOT NULL AND f1 IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (W16d): forecast each event
    type's daily volume as last week's same-weekday value (lag-7 on the
    observed daily series), score MAPE/sMAPE over the trailing 14 days,
    and report the lag-1 naive baseline beside it — the sanity floor
    every real demand forecast is graded against.

    The lags are observation lags on the daily series (the series is
    dense at fixture scale; both engines see the identical daily table,
    so semantics match by construction either way). The eval horizon is
    data-driven (max date per type) rather than a calendar constant, so
    replicated tiers need no query change.

    Plan shape: one exchange keys the (type, day) daily rollup with
    map-side partials; the lag window repartitions to |types| groups of
    |days| rows each — KB-sized forever — and the final aggregate is
    5 rows. At 100 TB only the first exchange grows and it carries
    ≤ |types|×|days| partial counts per mapper."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "n",
        F.lag("n", 7).over(w).alias("f7"),
        F.lag("n", 1).over(w).alias("f1"),
        F.max("d").over(Window.partitionBy("event_type")).alias("md"),
    )
    evald = lagged.filter(
        (F.datediff("md", "d") < 14)
        & F.col("f7").isNotNull()
        & F.col("f1").isNotNull()
    )
    return (
        evald.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days_eval"),
            F.round(F.avg(F.abs(F.col("n") - F.col("f7")) / F.col("n")), 5).alias(
                "mape_seasonal"
            ),
            F.round(F.avg(F.abs(F.col("n") - F.col("f1")) / F.col("n")), 5).alias(
                "mape_naive"
            ),
            F.round(
                F.avg(
                    2.0
                    * F.abs(F.col("n") - F.col("f7"))
                    / (F.col("n") + F.col("f7"))
                ),
                5,
            ).alias("smape_seasonal"),
        )
        .orderBy("event_type")
    )


# --- W19/TM5: autocorrelation function of the daily series ------------------

_ACF_MAX_LAG = 7


@query(
    "q_acf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
             lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
             lag(n, 7) OVER w AS l7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    pairs AS (
      SELECT event_type, 1 AS lag, n AS x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, n, l2 FROM lagged WHERE l2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3, n, l3 FROM lagged WHERE l3 IS NOT NULL
      UNION ALL
      SELECT event_type, 4, n, l4 FROM lagged WHERE l4 IS NOT NULL
      UNION ALL
      SELECT event_type, 5, n, l5 FROM lagged WHERE l5 IS NOT NULL
      UNION ALL
      SELECT event_type, 6, n, l6 FROM lagged WHERE l6 IS NOT NULL
      UNION ALL
      SELECT event_type, 7, n, l7 FROM lagged WHERE l7 IS NOT NULL),
    sums AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, lag, np AS n_pairs,
           round(CASE WHEN (np * sxx - sx * sx) = 0
                        OR (np * syy - sy * sy) = 0 THEN NULL
                 ELSE CAST(np * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(np * syy - sy * sy AS DOUBLE)))
                 END, 5) AS acf
    FROM sums ORDER BY event_type, lag
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (W19/TM5): Pearson r between each
    event type's daily count series and its own observation-lagged copy
    at lags 1..{_ACF_MAX_LAG} — the seasonality fingerprint read before
    choosing TM4's seasonal-naive lag (a weekly cycle shows as an ACF
    peak at lag 7). Lags are observation lags on the ordered daily
    series, matching TM4's convention.

    Determinism: the daily counts are integers, so every Pearson
    component (n, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT; only the
    final r casts to double, with each variance term cast BEFORE its
    sqrt so both engines run the identical float expression (the
    term-product form would overflow int64 at the 100× tier).

    Plan shape: one (type, day) keyed aggregate with map-side partials
    is the only data-sized exchange; the seven lag columns share one
    |types|-group window sort over KB-sized series; the unpivot
    multiplies only the daily table by 7. Nothing past the first
    combine scales with row count."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "n",
        *[F.lag("n", i).over(w).alias(f"l{i}") for i in range(1, _ACF_MAX_LAG + 1)],
    )
    stack_args = ", ".join(f"{i}, l{i}" for i in range(1, _ACF_MAX_LAG + 1))
    pairs = lagged.select(
        "event_type",
        F.col("n").alias("x"),
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    sums = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    tx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    ty = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        sums.select(
            "event_type",
            "lag",
            F.col("np").alias("n_pairs"),
            F.round(
                F.when((tx == 0) | (ty == 0), F.lit(None).cast("double")).otherwise(
                    num / (F.sqrt(tx.cast("double")) * F.sqrt(ty.cast("double")))
                ),
                5,
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# --- W20/TM6: Kaplan-Meier time-to-conversion (survival) curve ---------------


@query(
    "q_survival_km",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
    bounds AS (SELECT max(d) AS endd FROM ev),
    u AS (
      SELECT user_id, min(d) AS origin,
             min(CASE WHEN event_type = 'purchase' THEN d END) AS conv
      FROM ev GROUP BY user_id),
    subj AS (
      SELECT CASE WHEN u.conv IS NOT NULL
                  THEN datediff('day', u.origin, u.conv)
                  ELSE datediff('day', u.origin, bounds.endd) END AS t,
             CASE WHEN u.conv IS NOT NULL THEN 1 ELSE 0 END AS converted
      FROM u, bounds),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM subj),
    hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_at_t,
             CAST(sum(converted) AS BIGINT) AS d_at_t
      FROM subj GROUP BY t),
    risk AS (
      SELECT t, d_at_t,
             tot.n_users
               - CAST(coalesce(sum(n_at_t) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS n_risk
      FROM hist, tot),
    km AS (
      SELECT t, d_at_t, n_risk,
             CASE WHEN min(n_risk - d_at_t) OVER w = 0 THEN 0.0
                  ELSE exp(sum(CASE WHEN d_at_t = 0 OR n_risk = d_at_t
                                    THEN 0.0
                                    ELSE ln(1.0 - d_at_t
                                            / CAST(n_risk AS DOUBLE)) END)
                           OVER w) END AS s
      FROM risk
      WINDOW w AS (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT t AS t_days, n_risk AS n_at_risk, d_at_t AS n_converted,
           round(s, 5) AS survival
    FROM km WHERE d_at_t > 0 ORDER BY t_days
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (W20/TM6): the survival
    estimator S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over each user's days
    from first activity to FIRST PURCHASE, with never-converting users
    RIGHT-CENSORED at the corpus end — the correction that separates
    survival analysis from a naive conversion-lag histogram (dropping
    or death-counting the unconverted both bias the curve; KM holds
    them in the risk set exactly as long as they were observed).

    The at-risk counts come from an observed-time histogram
    suffix-sum, so the facts are touched by exactly one user-keyed
    aggregate; everything after is ≤|distinct times| ≤ calendar-days
    rows. The product is evaluated as exp of an ordered ln-sum over
    that driver-scale frame (the PSI-class float exposure: ≤365 terms,
    rounded to 5) with an exact zero short-circuit once the risk set
    empties.

    Plan shape at 100 TB: one user-keyed aggregate with map-side
    partials + one 1-row bound broadcast; the KM windows never see
    more rows than the calendar has days."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    )
    bounds = ev.agg(F.max("d").alias("endd"))
    u = ev.groupBy("user_id").agg(
        F.min("d").alias("origin"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("d"))).alias(
            "conv"
        ),
    )
    subj = (
        u.crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                F.col("conv").isNotNull(), F.datediff("conv", "origin")
            )
            .otherwise(F.datediff("endd", "origin"))
            .alias("t"),
            F.when(F.col("conv").isNotNull(), 1)
            .otherwise(0)
            .alias("converted"),
        )
        # lazy checkpoint: the |users|-row subject table feeds the
        # total AND the observed-time histogram — as plain plan
        # subtrees the user-keyed fact aggregate ran twice per call
        # (r11 scan-dupe sweep).
        .localCheckpoint(eager=False)
    )
    tot = subj.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    hist = subj.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_at_t"),
        F.sum("converted").cast("long").alias("d_at_t"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = hist.crossJoin(F.broadcast(tot)).select(
        "t",
        "d_at_t",
        (
            F.col("n_users")
            - F.coalesce(F.sum("n_at_t").over(w_prev), F.lit(0)).cast("long")
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.when(
        (F.col("d_at_t") == 0) | (F.col("n_risk") == F.col("d_at_t")), 0.0
    ).otherwise(F.log(1.0 - F.col("d_at_t") / F.col("n_risk").cast("double")))
    km = risk.select(
        "t",
        "d_at_t",
        "n_risk",
        F.when(
            F.min(F.col("n_risk") - F.col("d_at_t")).over(w_cum) == 0, 0.0
        )
        .otherwise(F.exp(F.sum(term).over(w_cum)))
        .alias("s"),
    )
    return (
        km.filter(F.col("d_at_t") > 0)
        .select(
            F.col("t").alias("t_days"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d_at_t").alias("n_converted"),
            F.round("s", 5).alias("survival"),
        )
        .orderBy("t_days")
    )


# --- W21/TM7: daily p95 SLO breach & 7-day burn rate -------------------------

_SLO_P95 = 465.0
_SLO_WINDOW_D = 7


@query(
    "q_slo_burn",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             round(percentile_disc(0.95) WITHIN GROUP (ORDER BY value), 4)
               AS p95
      FROM events GROUP BY 1, 2),
    flagged AS (
      SELECT event_type, d, p95,
             CASE WHEN p95 > {_SLO_P95} THEN 1 ELSE 0 END AS breach
      FROM daily)
    SELECT event_type, d, p95, breach,
           CAST(sum(breach) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN {_SLO_WINDOW_D - 1} PRECEDING AND CURRENT ROW)
                AS BIGINT) AS breaches_7d,
           round(sum(breach) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN {_SLO_WINDOW_D - 1} PRECEDING AND CURRENT ROW)
                 / {_SLO_WINDOW_D}.0, 5) AS burn_rate
    FROM flagged ORDER BY event_type, d
    """,
)
def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p95 SLO with burn rate (W21/TM7): per (type, day), the
    exact 95th percentile of ``value`` (percentile_disc — an actual
    observation, the LG3 discipline) against a fixed objective, plus
    the trailing {_SLO_WINDOW_D}-day breach count and burn rate — the
    error-budget arithmetic SRE alerting pages on (a single bad day is
    noise; {_SLO_WINDOW_D} days of budget burned is an incident).

    Plan shape: one (type, day) keyed aggregate computes every
    percentile with map-side partial sort state; the burn windows run
    over |types| KB-sized daily series reusing one exchange. At 100 TB
    the percentile aggregate is the only data-sized stage — and it is
    exactly the shape approx-percentile sketches slot into
    (q_approx_sketch measures that swap's accuracy)."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.round(
                F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"),
                4,
            ).alias("p95")
        )
    )
    flagged = daily.select(
        "event_type",
        "d",
        "p95",
        F.when(F.col("p95") > _SLO_P95, 1).otherwise(0).alias("breach"),
    )
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        -(_SLO_WINDOW_D - 1), Window.currentRow
    )
    return (
        flagged.select(
            "event_type",
            "d",
            "p95",
            "breach",
            F.sum("breach").over(w7).cast("long").alias("breaches_7d"),
            F.round(
                F.sum("breach").over(w7) / float(_SLO_WINDOW_D), 5
            ).alias("burn_rate"),
        )
        .orderBy("event_type", "d")
    )


# --- W21/TM8: weekday seasonal profile (STL-lite, exact) ---------------------


@query(
    "q_weekday_seasonality",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    windowed AS (
      SELECT event_type, d, n,
             CAST(count(*) OVER w AS BIGINT) AS w_cnt,
             CAST(sum(n) OVER w AS BIGINT) AS w_sum
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    detr AS (
      SELECT event_type,
             (d - DATE '1970-01-01') % 7 AS weekday,
             7 * n - w_sum AS detr7
      FROM windowed WHERE w_cnt = 7),
    prof AS (
      SELECT event_type, weekday,
             CAST(count(*) AS BIGINT) AS n_days,
             round(CAST(sum(detr7) AS BIGINT)
                   / (7.0 * count(*)), 4) AS seasonal_effect
      FROM detr GROUP BY 1, 2)
    SELECT event_type, weekday, n_days, seasonal_effect,
           CASE WHEN row_number() OVER (PARTITION BY event_type
                  ORDER BY seasonal_effect DESC, weekday ASC) = 1
                THEN 1 ELSE 0 END AS is_peak
    FROM prof ORDER BY event_type, weekday
    """,
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal profile (W21/TM8, STL-lite): detrend each
    type's daily series with a centered 7-day moving average and
    average the residual per weekday — the seasonal component of an
    STL decomposition, exactly the statistic that justifies (or
    refutes) TM4's lag-7 seasonal-naive choice, read alongside TM5's
    ACF. ``weekday`` is the portable epoch-day mod 7 (0 = Thursday),
    not an engine day-of-week function (Spark counts Sunday=1, DuckDB
    Sunday=0 — the off-by-one that silently shifts every profile).

    Exactness: the residual is kept as the INTEGER 7·n − Σ₇n (the
    centered mean times 7), so the per-weekday effect is one exact
    BIGINT sum divided once — no float accumulation anywhere, unlike
    a naive avg-of-averages which would expose summation order. Peak
    ties break by weekday after 4-decimal rounding.

    Plan shape: one (type, day) aggregate over the facts; the centered
    window and weekday rollup run over KB-sized daily series on the
    type-keyed exchange."""
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    windowed = daily.select(
        "event_type",
        "d",
        "n",
        F.count(F.lit(1)).over(w).cast("long").alias("w_cnt"),
        F.sum("n").over(w).cast("long").alias("w_sum"),
    )
    detr = windowed.filter(F.col("w_cnt") == 7).select(
        "event_type",
        (F.datediff("d", F.lit("1970-01-01").cast("date")) % 7).alias(
            "weekday"
        ),
        (7 * F.col("n") - F.col("w_sum")).alias("detr7"),
    )
    prof = detr.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum("detr7").cast("long") / (7.0 * F.count(F.lit(1))), 4
        ).alias("seasonal_effect"),
    )
    w_peak = Window.partitionBy("event_type").orderBy(
        F.desc("seasonal_effect"), F.asc("weekday")
    )
    return (
        prof.select(
            "event_type",
            "weekday",
            "n_days",
            "seasonal_effect",
            F.when(F.row_number().over(w_peak) == 1, 1).otherwise(0).alias(
                "is_peak"
            ),
        )
        .orderBy("event_type", "weekday")
    )


# --- W23/TM9: month-over-month revenue change ---------------------------------


@query(
    "q_mom_revenue",
    oracle="""
    WITH monthly AS (
      SELECT c.c_mktsegment AS segment,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT segment, month, revenue_cents,
           lag(revenue_cents) OVER w AS prev_cents,
           round(CASE WHEN lag(revenue_cents) OVER w IS NULL
                        OR lag(revenue_cents) OVER w = 0 THEN NULL
                 ELSE (revenue_cents - lag(revenue_cents) OVER w)
                      / CAST(lag(revenue_cents) OVER w AS DOUBLE) END, 5)
             AS mom_pct
    FROM monthly
    WINDOW w AS (PARTITION BY segment ORDER BY month)
    ORDER BY segment, month
    """,
)
def q_mom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per market segment (W23/TM9):
    the period-over-period comparison every BI layer leads with —
    monthly revenue (integer cents), the prior month via lag, and the
    percentage delta — with the first month's delta NULL rather than a
    fake zero (the honest cold-start convention). Complements TM8's
    within-week seasonality with the across-month trend read.

    Plan shape: one (segment, month) aggregate over the facts (customer
    dimension broadcast, map-side partial sums), then a lag window over
    |segments| KB-sized monthly series. Exact integer revenue; one
    double division per row, rounded to 5."""
    monthly = (
        load_table(spark, "orders", sf_dir)
        .join(
            F.broadcast(
                load_table(spark, "customer", sf_dir).select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    w = Window.partitionBy("segment").orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return (
        monthly.select(
            "segment",
            "month",
            "revenue_cents",
            prev.alias("prev_cents"),
            F.round(
                F.when(prev.isNull() | (prev == 0), F.lit(None)).otherwise(
                    (F.col("revenue_cents") - prev) / prev.cast("double")
                ),
                5,
            ).alias("mom_pct"),
        )
        .orderBy("segment", "month")
    )


# --- TM10: DAU/WAU stickiness -------------------------------------------------


@query(
    "q_stickiness",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM pairs),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
    spans AS (
      SELECT p.user_id, d.day AS win_end
      FROM pairs p JOIN days d
        ON d.day BETWEEN p.day AND p.day + INTERVAL 6 DAY),
    wau AS (
      SELECT win_end AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM spans GROUP BY win_end)
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
           round(dau.dau / CAST(wau.wau AS DOUBLE), 5) AS stickiness
    FROM dau JOIN wau USING (day) ORDER BY day
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness (TM10): for every active day, the share of
    the trailing week's users who showed up that day — the engagement
    ratio product teams watch daily. The hard part at scale is the
    TRAILING-WINDOW DISTINCT: a naive per-day re-scan distinct is
    7 passes over the facts. Here each (user, active-day) pair —
    already deduplicated, so fact volume collapses to user×day — emits
    the ≤7 window-ends it can count toward (a bounded explode in the
    array domain), and one (window-end)-keyed distinct aggregate
    yields every day's WAU in a single pass. Window-ends that aren't
    themselves active days are pruned by the semi-join against the
    day dimension (driver-scale, broadcast)."""
    pairs = (
        load_table(spark, "events", sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        # lazy checkpoint (r12 scan-dupe paydown): the deduplicated
        # user×day frame feeds the day dimension, the DAU counts AND
        # the window-end fan-out — as plain subtrees the fact
        # scan+distinct exchange ran three times per call. (user×day
        # is the query's own working set; persisting it once beats two
        # extra full distinct shuffles at any scale, MEMORY_AND_DISK
        # spills if it outgrows memory.)
        .localCheckpoint(eager=False)
    )
    days = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    spans = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_end"),
    ).join(F.broadcast(days.withColumnRenamed("day", "win_end")), "win_end")
    wau = spans.groupBy(F.col("win_end").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 5).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# --- TM11: resurrection analysis ----------------------------------------------

_RESURRECT_GAP_DAYS = 14


@query(
    "q_resurrection",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id, day,
             CAST(day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
               AS BIGINT) AS gap
      FROM ud)
    SELECT day,
           CAST(count(*) AS BIGINT) AS active,
           CAST(count(*) FILTER (WHERE gap >= {_RESURRECT_GAP_DAYS})
             AS BIGINT) AS resurrected,
           round(count(*) FILTER (WHERE gap >= {_RESURRECT_GAP_DAYS})
                 / CAST(count(*) AS DOUBLE), 6) AS resurrection_rate
    FROM g GROUP BY day ORDER BY day
    """,
)
def q_resurrection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resurrection analysis (TM11): per day, how many active users
    came BACK after ≥14 days of absence — the third growth-accounting
    state beside ST4's new/returning split (new, retained, resurrected
    — the distinction that tells a team whether a win-back campaign or
    organic decay explains the curve). Scale shape: events collapse to
    distinct (user, day) once; one user-keyed lag window yields
    absence gaps in integer date arithmetic; the per-day rollup is
    |days|-row. A user's first-ever day has no gap and counts as new,
    not resurrected — same convention both engines (NULL fails the
    >= comparison)."""
    ud = (
        load_table(spark, "events", sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.select(
        "day",
        F.datediff("day", F.lag("day").over(w)).cast("long").alias("gap"),
    )
    res = (F.col("gap") >= _RESURRECT_GAP_DAYS).cast("long")
    return (
        g.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active"),
            F.sum(F.coalesce(res, F.lit(0))).cast("long").alias("resurrected"),
            F.round(
                F.sum(F.coalesce(res, F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("resurrection_rate"),
        )
        .orderBy("day")
    )


# --- TM12: weekend vs weekday revenue uplift -----------------------------------


@query(
    "q_weekend_uplift",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we,
             round(sum(value), 4) AS rev
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT we, count(*)::DOUBLE AS n, sum(rev) AS s1,
             sum(rev * rev) AS s2
      FROM daily GROUP BY we),
    w AS (SELECT n AS n1, s1 AS a1, s2 AS b1 FROM m WHERE we = 1),
    wd AS (SELECT n AS n0, s1 AS a0, s2 AS b0 FROM m WHERE we = 0)
    SELECT CAST(n1 AS BIGINT) AS n_weekend_days,
           CAST(n0 AS BIGINT) AS n_weekday_days,
           round(a1 / n1, 4) AS mean_weekend,
           round(a0 / n0, 4) AS mean_weekday,
           round(a1 / n1 / (a0 / n0), 4) AS uplift,
           round((a1 / n1 - a0 / n0)
                 / sqrt(((b1 - a1 * a1 / n1) / (n1 - 1)) / n1
                        + ((b0 - a0 * a0 / n0) / (n0 - 1)) / n0), 4)
             AS welch_t
    FROM w, wd
    """,
)
def q_weekend_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday revenue uplift with a Welch t (TM12, wave
    33): do weekend days genuinely earn more per day, or is the lift
    noise — the seasonality DECISION beside q_weekday_seasonality's
    per-day profile. Daily totals round to 4 decimals BEFORE the
    moment sums (a 1-ulp event-sum split must not move the t), Welch
    moments come from the ~31-row day table, and the ISO weekend
    definition (Sat/Sun) is pinned on both engines (Spark dayofweek is
    1=Sun..7=Sat; DuckDB isodow is 1=Mon..7=Sun — conditions differ,
    sets match). Scale shape: one (day, flag) hash aggregate over the
    fact; everything after is day-count sized."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.to_date("ts").alias("d"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("we"),
    ).agg(F.round(F.sum("value"), 4).alias("rev"))
    m = daily.groupBy("we").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rev").alias("s1"),
        F.sum(F.col("rev") * F.col("rev")).alias("s2"),
    )
    w1 = m.filter(F.col("we") == 1).select(
        F.col("n").alias("n1"), F.col("s1").alias("a1"), F.col("s2").alias("b1")
    )
    w0 = m.filter(F.col("we") == 0).select(
        F.col("n").alias("n0"), F.col("s1").alias("a0"), F.col("s2").alias("b0")
    )
    var1 = (F.col("b1") - F.col("a1") * F.col("a1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var0 = (F.col("b0") - F.col("a0") * F.col("a0") / F.col("n0")) / (
        F.col("n0") - 1
    )
    return w1.crossJoin(w0).select(
        F.col("n1").cast("long").alias("n_weekend_days"),
        F.col("n0").cast("long").alias("n_weekday_days"),
        F.round(F.col("a1") / F.col("n1"), 4).alias("mean_weekend"),
        F.round(F.col("a0") / F.col("n0"), 4).alias("mean_weekday"),
        F.round((F.col("a1") / F.col("n1")) / (F.col("a0") / F.col("n0")), 4).alias(
            "uplift"
        ),
        F.round(
            (F.col("a1") / F.col("n1") - F.col("a0") / F.col("n0"))
            / F.sqrt(var1 / F.col("n1") + var0 / F.col("n0")),
            4,
        ).alias("welch_t"),
    )


# --- TM13: maximum drawdown of daily revenue -------------------------------------


@query(
    "q_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, round(sum(value), 4) AS rev
      FROM events GROUP BY 1),
    runpeak AS (
      SELECT d, rev,
             max(rev) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM daily),
    dd AS (
      SELECT d, rev, peak,
             round((peak - rev) / peak, 6) AS drawdown
      FROM runpeak)
    SELECT d AS trough_day, round(peak, 4) AS peak_rev,
           round(rev, 4) AS trough_rev, drawdown AS max_drawdown
    FROM dd ORDER BY drawdown DESC, d ASC LIMIT 1
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series (TM13, wave 34):
    the worst peak-to-trough slide — the risk summary a revenue page
    shows beside TM9's month-over-month deltas. Daily totals round to
    4 decimals BEFORE the running peak (module convention), the
    running max is a window over the |days|-row series (never fact
    rows), and the argmax tie-breaks on the earliest day. One fact
    aggregate, everything after is day-count sized."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak", F.max("rev").over(w)).withColumn(
        "drawdown",
        F.round((F.col("peak") - F.col("rev")) / F.col("peak"), 6),
    )
    return (
        dd.select(
            F.col("d").alias("trough_day"),
            F.round("peak", 4).alias("peak_rev"),
            F.round("rev", 4).alias("trough_rev"),
            F.col("drawdown").alias("max_drawdown"),
        )
        .orderBy(F.desc("max_drawdown"), F.asc("trough_day"))
        .limit(1)
    )


# --- TM14: Kendall tau-b rank correlation ------------------------------------


@query(
    "q_kendall_tau",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CASE WHEN (a.n_orders - b.n_orders) * (a.rev - b.rev) > 0
                  THEN 1 ELSE 0 END AS conc,
             CASE WHEN (a.n_orders - b.n_orders) * (a.rev - b.rev) < 0
                  THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.n_orders = b.n_orders AND a.rev <> b.rev
                  THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.rev = b.rev AND a.n_orders <> b.n_orders
                  THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON a.d < b.d),
    agg AS (
      SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
             CAST(sum(conc) AS BIGINT) AS concordant,
             CAST(sum(disc) AS BIGINT) AS discordant,
             CAST(sum(tx) AS BIGINT) AS ties_x,
             CAST(sum(ty) AS BIGINT) AS ties_y
      FROM pairs)
    SELECT n_days, concordant, discordant, ties_x, ties_y,
           round((concordant - discordant) /
                 sqrt((concordant + discordant + ties_x)
                      * CAST(concordant + discordant + ties_y AS DOUBLE)),
                 6) AS tau_b
    FROM agg
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (TM14, wave 35): are busier order
    days also higher-revenue days, measured by concordant/discordant
    pair counts with the tie-corrected tau-b denominator — the
    outlier-immune complement to ST2's Spearman (tau counts pair
    inversions; one extreme day cannot move it more than its pairs).

    Scale discipline is rollup-before-quadratic (the M7 Theil-Sen
    lesson): ONE fact aggregate reduces orders to a |days|-row daily
    series, and the pair self-join runs over days only — bounded by
    |days|² (~3 M pairs for 7 years), never by fact rows. Revenue
    rounds to 4 decimals at the day level before any comparison, so
    equality (tie) checks agree across engines; all pair counts are
    exact int64 and tau-b's one sqrt is the only float op."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select("d", "n_orders", "rev")
    a = daily.select(
        F.col("d").alias("da"),
        F.col("n_orders").alias("xa"),
        F.col("rev").alias("ya"),
    )
    b = daily.select(
        F.col("d").alias("db"),
        F.col("n_orders").alias("xb"),
        F.col("rev").alias("yb"),
    )
    pairs = a.join(b, F.col("da") < F.col("db"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    agg = pairs.agg(
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(
            F.when(
                (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
            ).otherwise(0)
        ).cast("long").alias("ties_x"),
        F.sum(
            F.when(
                (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
            ).otherwise(0)
        ).cast("long").alias("ties_y"),
    )
    n_days = daily.count()
    cd = F.col("concordant") + F.col("discordant")
    return agg.select(
        F.lit(n_days).cast("long").alias("n_days"),
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt(
                (cd + F.col("ties_x"))
                * (cd + F.col("ties_y")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


# --- TM15: Holt linear-trend backtest via recursive CTE ----------------------

_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT d, rev, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 4) AS rev
    FROM orders GROUP BY 1
    ORDER BY 1 DESC LIMIT 28
  ) t
),
init AS (
  SELECT a.i, a.rev AS l, round(b.rev - a.rev, 6) AS b
  FROM daily a JOIN daily b ON b.i = 2 AND a.i = 1
),
holt(i, l, b, fc) AS (
  SELECT i, l, b, CAST(NULL AS DOUBLE) FROM init
  UNION ALL
  SELECT x.i,
         round(0.5 * x.rev + 0.5 * (h.l + h.b), 6),
         round(0.3 * (round(0.5 * x.rev + 0.5 * (h.l + h.b), 6) - h.l)
               + 0.7 * h.b, 6),
         round(h.l + h.b, 6)
  FROM holt h JOIN daily x ON x.i = h.i + 1
)
SELECT d.d, d.rev AS actual, h.fc AS forecast,
       round(abs(d.rev - h.fc), 4) AS abs_err
FROM holt h JOIN daily d ON d.i = h.i
WHERE h.i > 21 ORDER BY d.d
"""


def _round_half_away(x: float, nd: int) -> float:
    """SQL-round semantics (half away from zero) for the driver-side
    recursion — Python's banker's round would fork the trajectory from
    the oracle at any midpoint."""
    import math

    q = 10.0**nd
    return math.copysign(math.floor(abs(x) * q + 0.5), x) / q


@query("q_holt_forecast", oracle=_HOLT_SQL)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend one-step-ahead backtest (TM15, wave 36): the
    level+trend double-exponential smoother (α=0.5, β=0.3) run over the
    last 28 days of daily revenue, reporting the final week's
    forecasts and absolute errors — the trended upgrade to V8's EWMA
    (which has no trend term and lags every ramp) and the
    short-horizon complement to TM4's seasonal-naive backtest.

    The only fact-scaled work is the day-rollup aggregate + TakeOrdered
    28-day cut. The smoother itself is genuinely sequential over a
    CONSTANT-size window, so it runs as a bounded driver recursion over
    the collected 28 rows (the engine.py bounded-collect discipline:
    k is fixed by the operator, not the data). A distributed RECURSIVE
    CTE computes the identical trajectory — the oracle IS that
    recursion — but pays ~27 UnionLoop job rounds for 28 rows of state
    (measured 14 s local / 25 s at the 100x tier vs 1-2 s here);
    engine-side recursion stays the right tool where the frontier is
    data-sized (Q1's hierarchy walk, CC) — not here. Level/trend round
    to 6 decimals at every step with half-away semantics, pinning the
    float trajectory bit-identically to the oracle."""
    from .sources.loaders import daily_orders

    rows = (
        daily_orders(spark, sf_dir)
        .select("d", "rev")
        .orderBy(F.desc("d"))
        .limit(28)
        .collect()
    )
    series = sorted((r.d, r.rev) for r in rows)
    xs = [v for _, v in series]
    lvl, trd = xs[0], _round_half_away(xs[1] - xs[0], 6)
    out = []
    for i in range(2, len(xs) + 1):
        fc = _round_half_away(lvl + trd, 6)
        if i > 21:
            actual = xs[i - 1]
            out.append(
                (
                    series[i - 1][0],
                    actual,
                    fc,
                    _round_half_away(abs(actual - fc), 4),
                )
            )
        lvl_new = _round_half_away(0.5 * xs[i - 1] + 0.5 * (lvl + trd), 6)
        trd = _round_half_away(0.3 * (lvl_new - lvl) + 0.7 * trd, 6)
        lvl = lvl_new
    return local_frame(
        spark, out, "d date, actual double, forecast double, abs_err double"
    ).orderBy("d")


# --- TM16: weekday seasonality strength ---------------------------------------


@query(
    "q_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1, 2),
    g AS (SELECT avg(rev) AS gmean FROM daily),
    w AS (SELECT dow, avg(rev) AS wmean FROM daily GROUP BY 1),
    ss AS (
      SELECT sum((daily.rev - g.gmean) * (daily.rev - g.gmean)) AS ss_total,
             sum((daily.rev - w.wmean) * (daily.rev - w.wmean)) AS ss_resid,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily JOIN w USING (dow), g)
    SELECT n_days,
           round(ss_total / 1e9, 4) AS ss_total_bn,
           round(ss_resid / 1e9, 4) AS ss_resid_bn,
           round(1.0 - ss_resid / ss_total, 6) AS strength
    FROM ss
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality strength (TM16, wave 37): the fraction of
    daily-revenue variance the weekday-mean model explains —
    1 − SS_resid/SS_total, the single R²-style number behind TM8's
    per-weekday profile that says whether weekday structure is worth
    modeling at all (≈0: skip the seasonal term in TM4/TM15; →1:
    mandatory).

    One fact aggregate to the |days| series (checkpointed — the grand
    mean, the 7-row weekday means and the sum-of-squares pass all read
    it), then closed-form variance decomposition with both small sides
    broadcast. Day revenue rounds to 4 decimals before any moment, so
    the sums of squares agree across engines at the 2-decimal output
    rounding."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select(
        "d", F.dayofweek("d").alias("dow"), "rev"
    )
    g = daily.agg(F.avg("rev").alias("gmean"))
    w = daily.groupBy("dow").agg(F.avg("rev").alias("wmean"))
    ss = (
        daily.join(F.broadcast(w), "dow")
        .crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                (F.col("rev") - F.col("gmean")) * (F.col("rev") - F.col("gmean"))
            ).alias("ss_total"),
            F.sum(
                (F.col("rev") - F.col("wmean")) * (F.col("rev") - F.col("wmean"))
            ).alias("ss_resid"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )
    # SS magnitudes reach ~1e15 where a double ulp is 0.25 and the
    # engines' summation orders differ by ~1e2 absolute (1e-13
    # relative) — report in billions at 4dp so the rounding sits 7
    # orders above the noise, and strength as the exact ratio
    return ss.select(
        "n_days",
        F.round(F.col("ss_total") / 1e9, 4).alias("ss_total_bn"),
        F.round(F.col("ss_resid") / 1e9, 4).alias("ss_resid_bn"),
        F.round(1.0 - F.col("ss_resid") / F.col("ss_total"), 6).alias("strength"),
    )


# --- TM17: Hurst exponent via rescaled range (R/S) analysis -------------------

_HURST_WINDOWS = (8, 16, 32)


@query(
    "q_hurst_rs",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1),
    idx AS (
      SELECT d, rev,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
      FROM daily),
    ws AS (SELECT unnest(ARRAY{list(_HURST_WINDOWS)}) AS w),
    blk AS (
      SELECT ws.w, idx.rev, idx.d,
             CAST(floor((idx.i - 1) / CAST(ws.w AS DOUBLE)) AS BIGINT) AS b
      FROM idx, ws),
    full_blk AS (
      SELECT w, b FROM blk GROUP BY w, b HAVING count(*) = w),
    dev AS (
      SELECT blk.w, blk.b, blk.rev, blk.d,
             avg(blk.rev) OVER (PARTITION BY blk.w, blk.b) AS mb
      FROM blk JOIN full_blk USING (w, b)),
    cum AS (
      SELECT w, b,
             sum(rev - mb) OVER (PARTITION BY w, b ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             (rev - mb) * (rev - mb) AS sq
      FROM dev),
    rs AS (
      SELECT w, b,
             max(c) - min(c) AS r,
             sqrt(sum(sq) / w) AS s
      FROM cum GROUP BY w, b),
    mrs AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
             avg(r / s) AS mean_rs
      FROM rs WHERE s > 0 GROUP BY w),
    fit AS (
      SELECT (count(*) * sum(ln(w) * ln(mean_rs))
              - sum(ln(w)) * sum(ln(mean_rs)))
             / (count(*) * sum(ln(w) * ln(w)) - sum(ln(w)) * sum(ln(w)))
               AS hurst
      FROM mrs)
    SELECT m.w AS window_size, m.n_blocks,
           round(m.mean_rs, 4) AS mean_rs,
           round(f.hurst, 4) AS hurst
    FROM mrs m, fit f ORDER BY m.w
    """,
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (TM17, wave 38): is
    the daily revenue series trending (H > 0.5), mean-reverting
    (H < 0.5), or a random walk (H = 0.5)? For block sizes 8/16/32,
    split the day series into complete blocks, compute each block's
    rescaled range R/S (range of cumulative mean deviations over the
    population std), and fit ln(R/S) ~ ln(w) by closed-form OLS — the
    slope is H. The long-memory diagnostic that tells a forecaster
    whether TM15's Holt trend or TM4's seasonal-naive is even
    plausible.

    Rides the shared checkpointed daily_orders substrate (one fact
    aggregate per session across TM14/TM15/TM16/M22/M23/TM17). All
    windows run over the |days|-row series: the block partitions carry
    ≤32 rows each and the cumulative deviations accumulate in date
    order on both engines, pinning the float trajectory. The final
    fit is 3 rows. Int64 bound (r10 #6 audit): the only integer
    quantities are the day index i and block ids over the |days|-row
    series, which N× replication does NOT grow (copies land on the
    same dates) — i ≤ ~2.6e3 at every tier; all revenue math is
    float64 by design."""
    from .sources.loaders import daily_orders

    import math

    daily = daily_orders(spark, sf_dir).select("d", "rev")
    w_idx = Window.orderBy("d")
    idx = daily.select(
        "d", "rev", F.row_number().over(w_idx).cast("long").alias("i")
    )
    ws = local_frame(spark, [(w,) for w in _HURST_WINDOWS], "w long")
    blk = idx.crossJoin(F.broadcast(ws)).select(
        "w", "rev", "d", ((F.col("i") - 1) / F.col("w")).cast("long").alias("b")
    )
    full_blk = (
        blk.groupBy("w", "b")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") == F.col("w"))
        .select("w", "b")
    )
    w_blk = Window.partitionBy("w", "b")
    dev = blk.join(full_blk, ["w", "b"]).select(
        "w",
        "b",
        "rev",
        "d",
        F.avg("rev").over(w_blk).alias("mb"),
    )
    w_cum = (
        Window.partitionBy("w", "b")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dev.select(
        "w",
        "b",
        F.sum(F.col("rev") - F.col("mb")).over(w_cum).alias("c"),
        ((F.col("rev") - F.col("mb")) * (F.col("rev") - F.col("mb"))).alias(
            "sq"
        ),
    )
    rs = cum.groupBy("w", "b").agg(
        (F.max("c") - F.min("c")).alias("r"),
        F.sqrt(F.sum("sq") / F.col("w")).alias("s"),
    )
    mrs = (
        rs.filter(F.col("s") > 0)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.avg(F.col("r") / F.col("s")).alias("mean_rs"),
        )
        .localCheckpoint()
    )
    lw = F.log(F.col("w"))
    lr = F.log(F.col("mean_rs"))
    fit = mrs.agg(
        (
            (F.count(F.lit(1)) * F.sum(lw * lr) - F.sum(lw) * F.sum(lr))
            / (
                F.count(F.lit(1)) * F.sum(lw * lw)
                - F.sum(lw) * F.sum(lw)
            )
        ).alias("hurst")
    )
    return (
        mrs.crossJoin(F.broadcast(fit))
        .select(
            F.col("w").alias("window_size"),
            "n_blocks",
            F.round("mean_rs", 4).alias("mean_rs"),
            F.round("hurst", 4).alias("hurst"),
        )
        .orderBy("window_size")
    )


# --- TM18: SAX symbolization of the revenue series ----------------------------


@query(
    "q_sax_symbols",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(round(round(sum(o_totalprice), 4) * 10000) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    wk AS (
      SELECT CAST(floor((d - DATE '1970-01-01') / 7.0) AS BIGINT) AS wk,
             CAST(sum(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wk),
    q AS (
      SELECT quantile_disc(s, 0.25) AS q1,
             quantile_disc(s, 0.50) AS q2,
             quantile_disc(s, 0.75) AS q3
      FROM wk),
    sym AS (
      SELECT wk.wk,
             CASE WHEN wk.s <= q.q1 THEN 'a'
                  WHEN wk.s <= q.q2 THEN 'b'
                  WHEN wk.s <= q.q3 THEN 'c' ELSE 'd' END AS sym,
             year(DATE '1970-01-01' + CAST(wk.wk * 7 AS INTEGER)) AS yr,
             quarter(DATE '1970-01-01' + CAST(wk.wk * 7 AS INTEGER)) AS qtr
      FROM wk, q)
    SELECT CAST(yr AS BIGINT) AS year,
           CAST(qtr AS BIGINT) AS quarter,
           CAST(count(*) AS BIGINT) AS n_weeks,
           string_agg(sym, '' ORDER BY wk) AS sax
    FROM sym GROUP BY yr, qtr ORDER BY year, quarter
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (TM18, wave 38): compress the weekly revenue
    series into a 4-letter alphabet — each epoch-week's total mapped
    to a/b/c/d by which DISC quartile of the weekly distribution it
    falls in, emitted as one motif string per calendar quarter. The
    symbolic-aggregate-approximation trick that turns time-series
    motif mining into string matching (Lin et al.); a pattern index a
    monitoring stack builds over thousands of metrics.

    Exactness: the classic SAX z-normalizes against the series mean/
    std — a cross-engine hash trap (float mean of 10^3 floats rounds
    differently at symbol boundaries). This uses the DISC-quartile
    variant: day revenue (already 4-dp by the daily_orders convention)
    converts to EXACT integer cents, weekly sums stay int64, and the
    quartile breakpoints are actual data values — the entire symbol
    pipeline is integer comparisons, bit-stable on any engine. Rides
    the shared daily_orders substrate; weeks are epoch-day/7 buckets
    (engine-neutral, no ISO-week edge cases)."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select(
        "d",
        F.round(F.col("rev") * 10000).cast("long").alias("cents"),
    )
    wk = daily.groupBy(
        F.floor(F.datediff("d", F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("wk")
    ).agg(F.sum("cents").cast("long").alias("s"))
    w_cum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = wk.select(
        "s",
        F.sum(F.lit(1)).over(w_cum).alias("cum"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    q = ranked.agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.25), F.col("s"))
        ).alias("q1"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.50), F.col("s"))
        ).alias("q2"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.75), F.col("s"))
        ).alias("q3"),
    )
    base = F.expr("DATE '1970-01-01'")
    sym = wk.crossJoin(F.broadcast(q)).select(
        "wk",
        F.when(F.col("s") <= F.col("q1"), "a")
        .when(F.col("s") <= F.col("q2"), "b")
        .when(F.col("s") <= F.col("q3"), "c")
        .otherwise("d")
        .alias("sym"),
        F.year(F.date_add(base, (F.col("wk") * 7).cast("int"))).alias("yr"),
        F.quarter(F.date_add(base, (F.col("wk") * 7).cast("int"))).alias(
            "qtr"
        ),
    )
    return (
        sym.groupBy("yr", "qtr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wk", "sym"))),
                    lambda s: s["sym"],
                ),
                "",
            ).alias("sax"),
        )
        .select(
            F.col("yr").cast("long").alias("year"),
            F.col("qtr").cast("long").alias("quarter"),
            "n_weeks",
            "sax",
        )
        .orderBy("year", "quarter")
    )


# --- TM19: series peak detection ------------------------------------------------

_PEAK_W = 3  # strict local max over +/-3 series neighbors
_PEAK_K = 10


@query(
    "q_peak_detection",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1),
    nb AS (
      SELECT d, rev,
             lag(rev, 1) OVER w AS l1, lag(rev, 2) OVER w AS l2,
             lag(rev, 3) OVER w AS l3,
             lead(rev, 1) OVER w AS r1, lead(rev, 2) OVER w AS r2,
             lead(rev, 3) OVER w AS r3
      FROM daily WINDOW w AS (ORDER BY d)),
    peaks AS (
      SELECT d, rev,
             round(rev - greatest(l1, l2, l3, r1, r2, r3), 4) AS prominence
      FROM nb
      WHERE l3 IS NOT NULL AND r3 IS NOT NULL
        AND rev > greatest(l1, l2, l3, r1, r2, r3))
    SELECT d AS peak_day, rev, prominence
    FROM peaks ORDER BY rev DESC, d LIMIT {_PEAK_K}
    """,
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection (TM19, wave 39): days whose revenue
    strictly exceeds every series neighbor within ±{_PEAK_W} positions,
    ranked by height with a prominence-lite score (height above the
    tallest neighbor) — the spike shortlist an on-call dashboard pins
    next to TM13's drawdown and Y10's z-scores (which flag global
    outliers; peaks are LOCAL structure). Edge days without a full
    ±{_PEAK_W} neighborhood are excluded on both engines.

    Rides the shared daily_orders checkpoint; the lag/lead battery is
    one window over the |days|-row series on exact 4-dp day values, so
    every comparison and the final top-{_PEAK_K} cut are
    deterministic."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select("d", "rev")
    w = Window.orderBy("d")
    nb = daily.select(
        "d",
        "rev",
        *[F.lag("rev", i).over(w).alias(f"l{i}") for i in (1, 2, 3)],
        *[F.lead("rev", i).over(w).alias(f"r{i}") for i in (1, 2, 3)],
    )
    tallest = F.greatest("l1", "l2", "l3", "r1", "r2", "r3")
    peaks = nb.filter(
        F.col("l3").isNotNull()
        & F.col("r3").isNotNull()
        & (F.col("rev") > tallest)
    ).select(
        F.col("d").alias("peak_day"),
        "rev",
        F.round(F.col("rev") - tallest, 4).alias("prominence"),
    )
    return peaks.orderBy(F.desc("rev"), F.asc("peak_day")).limit(_PEAK_K)


# --- TM20: Fano-factor burstiness per weekday ----------------------------------


@query(
    "q_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1),
    wk AS (
      SELECT dayofweek(d) AS dow,
             CAST(count(*) AS BIGINT) AS k_days,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM daily GROUP BY 1)
    SELECT dow, k_days,
           round(s1 / CAST(k_days AS DOUBLE), 6) AS mean_orders,
           round((k_days * s2 - s1 * s1)
                 / CAST(k_days * s1 AS DOUBLE), 6) AS fano
    FROM wk ORDER BY dow
    """,
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, Var/Mean) of daily order
    counts per weekday (TM20, wave 40): the burstiness screen behind
    capacity planning — a Poisson arrival process has F = 1, F >> 1
    means over-dispersed bursty days, F < 1 means suspiciously regular
    (e.g. synthetic or batched traffic). Complements ST8's inter-arrival
    cadence (per-user gaps) with a population-level dispersion verdict
    per weekday slot.

    Exactness: the population variance enters in closed form from
    int64 sufficient statistics — F = (k·Σn² − (Σn)²) / (k·Σn) — so
    both engines divide the SAME exact integers and the 6-dp rounding
    is deterministic (the ST18/kruskal convention; int64 is ample:
    k·Σn² ≈ 5e14 at the 1000× orders tier, documented bound). Weekday
    is DuckDB's 0=Sunday convention — the Spark side subtracts 1 (the
    K4 rule). Rides the shared daily_orders session checkpoint: zero
    fact scans in the per-query plan; the weekday rollup is a 7-row
    aggregate over |days| checkpointed rows."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select(
        (F.dayofweek("d") - 1).alias("dow"), F.col("n_orders").alias("n")
    )
    wk = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("k_days"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    return wk.select(
        "dow",
        "k_days",
        F.round(F.col("s1") / F.col("k_days").cast("double"), 6).alias(
            "mean_orders"
        ),
        F.round(
            (F.col("k_days") * F.col("s2") - F.col("s1") * F.col("s1"))
            / (F.col("k_days") * F.col("s1")).cast("double"),
            6,
        ).alias("fano"),
    ).orderBy("dow")


# --- TM21: monthly OHLC downsampling -------------------------------------------


@query(
    "q_ohlc_monthly",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1)
    SELECT CAST(date_trunc('month', d) AS DATE) AS m,
           CAST(count(*) AS BIGINT) AS n_days,
           arg_min(rev, d) AS open,
           round(max(rev), 4) AS high,
           round(min(rev), 4) AS low,
           arg_max(rev, d) AS close,
           round(sum(rev), 4) AS vol
    FROM daily GROUP BY 1 ORDER BY m
    """,
)
def q_ohlc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC candles over the daily revenue series (TM21, wave
    40): the canonical time-series downsample — open (first day's
    value), high, low, close (last day's value), plus day count and
    total volume per month — the resample("M").ohlc() shape every
    financial/metrics store serves. Complements TM9's MoM deltas
    (which need only the monthly sum) with the full intra-month range.

    Determinism: open/close are argmin/argmax over the UNIQUE day key
    (no ties possible), high/low/vol come from the 4-dp-rounded day
    revenues the daily_orders substrate pins, so every output value is
    exact on both engines. Rides the shared daily_orders session
    checkpoint — the month rollup is a |months|-row aggregate, zero
    fact scans in the per-query plan."""
    from .sources.loaders import daily_orders

    daily = daily_orders(spark, sf_dir).select("d", "rev")
    return (
        daily.groupBy(F.trunc("d", "month").alias("m"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.min_by("rev", "d").alias("open"),
            F.round(F.max("rev"), 4).alias("high"),
            F.round(F.min("rev"), 4).alias("low"),
            F.max_by("rev", "d").alias("close"),
            F.round(F.sum("rev"), 4).alias("vol"),
        )
        .orderBy("m")
    )
