"""ML-ops & feature-engineering wave 18 (SURVEY §2.29): the operators
between a warehouse and a model — PSI feature-drift monitoring (the
binned complement to G5's KS test, and the one production monitors
actually ship), k-fold leakage-safe target encoding (the categorical
encoder that must NOT see its own fold's labels), a k-anonymity audit
with hierarchical generalization levels (the privacy gate before a
dataset leaves the platform), and point-in-time feature backfill
(training-serving-skew-free features as of each label event — the
feature-store correctness primitive).

Every query has an exact DuckDB oracle. Determinism notes: PSI bins
are fixed-width integer arithmetic with an ε-floor on shares (no
ln(0)); the encoding's fold assignment is key-modulo (replayable);
backfill windows are integer-microsecond RANGE frames anchored
strictly before the label row (no label leakage by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.ranks import class_cum
from .registry import query
from .sources.loaders import load_table, local_frame, substrate

# --- W18a: PSI feature-drift report ----------------------------------------

_PSI_BIN_W = 50.0
_PSI_BINS = 10
_PSI_EPS = 1e-6


@query(
    "q_psi_drift",
    oracle=f"""
    WITH bounds AS (
      SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
              + CAST(max(epoch_us(ts)) AS BIGINT)) // 2 AS mid
      FROM events),
    binned AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < bounds.mid THEN 0 ELSE 1 END AS period,
             least(CAST(floor(value / {_PSI_BIN_W}) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin
      FROM events, bounds),
    cells AS (
      SELECT event_type, period, bin, count(*) AS n
      FROM binned GROUP BY 1, 2, 3),
    shares AS (
      SELECT event_type, bin,
             greatest(CAST(sum(CASE WHEN period = 0 THEN n ELSE 0 END)
                             AS DOUBLE)
                      / sum(sum(CASE WHEN period = 0 THEN n ELSE 0 END))
                        OVER (PARTITION BY event_type), {_PSI_EPS}) AS p_ref,
             greatest(CAST(sum(CASE WHEN period = 1 THEN n ELSE 0 END)
                             AS DOUBLE)
                      / sum(sum(CASE WHEN period = 1 THEN n ELSE 0 END))
                        OVER (PARTITION BY event_type), {_PSI_EPS}) AS p_cur
      FROM cells GROUP BY event_type, bin)
    SELECT event_type,
           round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 5) AS psi,
           CASE WHEN sum((p_cur - p_ref) * ln(p_cur / p_ref)) > 0.2
                THEN 1 ELSE 0 END AS drifted
    FROM shares GROUP BY event_type ORDER BY event_type
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI feature-drift report (W18a): split the stream at its
    temporal midpoint (data-driven, so replicated tiers need no query
    change), histogram ``value`` into fixed-width bins per event type,
    and compute the population stability index
    Σ(p_cur−p_ref)·ln(p_cur/p_ref) with an ε-floor on shares — the
    binned drift monitor production ML ships beside the KS test (G5),
    because it decomposes per-bin and is cheap to recompute hourly.

    Plan shape: one 1-row min/max reduction broadcast back onto the
    scan, then one keyed aggregate whose exchange carries at most
    |types|×2×|bins| partial counts per mapper; the share windows run
    over ≤|bins| rows per type. Nothing downstream of the map-side
    combine scales with row count."""
    events = load_table(spark, "events", sf_dir)
    mid = events.agg(
        (
            (
                F.min(F.unix_micros("ts")).cast("long")
                + F.max(F.unix_micros("ts")).cast("long")
            )
            / 2
        )
        .cast("long")
        .alias("mid")
    )
    binned = events.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(F.unix_micros("ts") < F.col("mid"), 0).otherwise(1).alias(
            "period"
        ),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("long"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    cells = binned.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    n_ref = F.sum(F.when(F.col("period") == 0, F.col("n")).otherwise(0))
    n_cur = F.sum(F.when(F.col("period") == 1, F.col("n")).otherwise(0))
    shares = cells.groupBy("event_type", "bin").agg(
        n_ref.alias("ref"), n_cur.alias("cur")
    )
    shares = shares.select(
        "event_type",
        "bin",
        F.greatest(
            F.col("ref").cast("double") / F.sum("ref").over(wt),
            F.lit(_PSI_EPS),
        ).alias("p_ref"),
        F.greatest(
            F.col("cur").cast("double") / F.sum("cur").over(wt),
            F.lit(_PSI_EPS),
        ).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.col("p_cur") / F.col("p_ref")
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.round(F.sum(term), 5).alias("psi"),
            F.when(F.sum(term) > 0.2, 1).otherwise(0).alias("drifted"),
        )
        .orderBy("event_type")
    )


# --- W18b: k-fold leakage-safe target encoding -----------------------------

_TE_FOLDS = 5
_TE_SMOOTH = 50.0


@query(
    "q_target_encoding",
    oracle=f"""
    WITH labeled AS (
      SELECT c.c_mktsegment AS category,
             o.o_custkey % {_TE_FOLDS} AS fold,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT avg(y) AS gmean FROM labeled),
    per_fold AS (
      SELECT category, fold, count(*) AS n, sum(y) AS s
      FROM labeled GROUP BY category, fold),
    enc AS (
      SELECT category, fold, n, s,
             CAST(sum(n) OVER (PARTITION BY category) AS BIGINT) AS n_tot,
             sum(s) OVER (PARTITION BY category) AS s_tot
      FROM per_fold)
    SELECT enc.category, enc.fold, enc.n AS n_in_fold,
           round((enc.s_tot - enc.s + {_TE_SMOOTH} * g.gmean)
                 / (enc.n_tot - enc.n + {_TE_SMOOTH}), 4) AS encoded,
           round(enc.s / enc.n, 4) AS fold_raw_mean
    FROM enc, g ORDER BY enc.category, enc.fold
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold leakage-safe target encoding (W18b): encode a categorical
    feature by the smoothed target mean computed from the OTHER folds —
    (S_total − S_fold + m·ḡ)/(N_total − N_fold + m) — so no row's
    encoding ever saw its own fold's labels, the property that
    separates a valid encoder from a leak. Fold assignment is
    key-modulo: replayable on any engine, stable across retries (the
    same reason L1's sampling and M1's bucketing avoid rand()).

    Plan shape: one fact-keyed join (customer dimension broadcast),
    one (category, fold) aggregate — the exchange carries
    |categories|×|folds| partial sums — and category-window totals over
    ≤|folds| rows each. The leave-fold-out subtraction means ONE pass
    computes all folds' encoders; the naive per-fold recompute scans
    the facts k times."""
    labeled = (
        load_table(spark, "orders", sf_dir)
        .join(
            F.broadcast(
                load_table(spark, "customer", sf_dir).select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("category"),
            (F.col("o_custkey") % _TE_FOLDS).alias("fold"),
            F.col("o_totalprice").alias("y"),
        )
    )
    g = labeled.agg(F.avg("y").alias("gmean"))
    per_fold = labeled.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    wc = Window.partitionBy("category")
    enc = per_fold.select(
        "category",
        "fold",
        "n",
        "s",
        F.sum("n").over(wc).alias("n_tot"),
        F.sum("s").over(wc).alias("s_tot"),
    )
    return (
        enc.crossJoin(F.broadcast(g))
        .select(
            "category",
            "fold",
            F.col("n").alias("n_in_fold"),
            F.round(
                (F.col("s_tot") - F.col("s") + _TE_SMOOTH * F.col("gmean"))
                / (F.col("n_tot") - F.col("n") + _TE_SMOOTH),
                4,
            ).alias("encoded"),
            F.round(F.col("s") / F.col("n"), 4).alias("fold_raw_mean"),
        )
        .orderBy("category", "fold")
    )


# --- W18c: k-anonymity audit with generalization levels --------------------

_K_ANON = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH l0 AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n0
      FROM customer GROUP BY 1, 2),
    l1 AS (
      SELECT n.n_regionkey, c.c_mktsegment, count(*) AS n1
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    l2 AS (
      SELECT c_mktsegment, count(*) AS n2 FROM customer GROUP BY 1)
    SELECT l0.c_nationkey, l0.c_mktsegment, l0.n0 AS group_size,
           CASE WHEN l0.n0 >= {_K_ANON} THEN 0
                WHEN l1.n1 >= {_K_ANON} THEN 1
                WHEN l2.n2 >= {_K_ANON} THEN 2
                ELSE 999 END AS anonymity_level
    FROM l0
    JOIN nation ON l0.c_nationkey = nation.n_nationkey
    JOIN l1 ON nation.n_regionkey = l1.n_regionkey
           AND l0.c_mktsegment IS NOT DISTINCT FROM l1.c_mktsegment
    JOIN l2 ON l0.c_mktsegment IS NOT DISTINCT FROM l2.c_mktsegment
    ORDER BY l0.c_nationkey, l0.c_mktsegment
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit (W18c): for each quasi-identifier group
    (nation, segment), report its size and the minimal generalization
    level at which it reaches k≥5 — level 0 as-is, level 1 nation→
    region, level 2 segment only — the privacy gate a dataset passes
    before leaving the platform, with the generalization ladder privacy
    engineering actually applies (suppress→generalize, not just flag).

    Plan shape: three dimension-sized aggregates stitched by broadcast
    joins (nation is 25 rows; the level tables are ≤|QI| rows). On a
    fact-scale subject table the same shape holds: each level is one
    keyed aggregate with map-side partials, and the ladder join touches
    only the group summaries, never the subjects."""
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_regionkey"
    )
    # level 0 is the finest grain; levels 1 and 2 are exact int64
    # roll-ups of it (count sums), so the subject table is scanned
    # ONCE — the old form re-scanned customer per level (r11
    # scan-dupe sweep). The lazy checkpoint shares l0's RDD node
    # across the ladder and the final join.
    l0 = (
        customer.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n0"))
        .localCheckpoint(eager=False)
    )
    l1 = (
        l0.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.sum("n0").cast("long").alias("n1"))
        .withColumnRenamed("c_mktsegment", "seg1")
        .withColumnRenamed("n_regionkey", "rk1")
    )
    l2 = (
        l0.groupBy("c_mktsegment")
        .agg(F.sum("n0").cast("long").alias("n2"))
        .withColumnRenamed("c_mktsegment", "seg2")
    )
    return (
        l0.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(l1),
            (F.col("n_regionkey") == F.col("rk1"))
            & F.col("c_mktsegment").eqNullSafe(F.col("seg1")),
        )
        .join(F.broadcast(l2), F.col("c_mktsegment").eqNullSafe(F.col("seg2")))
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n0").alias("group_size"),
            F.when(F.col("n0") >= _K_ANON, 0)
            .when(F.col("n1") >= _K_ANON, 1)
            .when(F.col("n2") >= _K_ANON, 2)
            .otherwise(999)
            .alias("anonymity_level"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# --- W18d: point-in-time feature backfill ----------------------------------

_US_7D = 7 * 86400 * 1_000_000
_US_30D = 30 * 86400 * 1_000_000


@query(
    "q_feature_backfill",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS t
      FROM events),
    feat AS (
      SELECT user_id, event_id, event_type, t,
             count(CASE WHEN event_type = 'view' THEN 1 END) OVER w7
               AS views_7d,
             sum(CASE WHEN event_type = 'purchase' THEN cents
                      ELSE 0 END) OVER w30 AS spend_30d_cents,
             count(*) OVER wall AS prior_events
      FROM ev
      WINDOW
        w7 AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN {_US_7D} PRECEDING AND 1 PRECEDING),
        w30 AS (PARTITION BY user_id ORDER BY t
                RANGE BETWEEN {_US_30D} PRECEDING AND 1 PRECEDING),
        wall AS (PARTITION BY user_id ORDER BY t
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id,
           CAST(views_7d AS BIGINT) AS views_7d,
           CAST(coalesce(spend_30d_cents, 0) AS BIGINT) AS spend_30d_cents,
           CAST(prior_events AS BIGINT) AS prior_events
    FROM feat WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
)
def q_feature_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature backfill (W18d): for every purchase
    (label) event, the user's features as of STRICTLY BEFORE that
    moment — views in the trailing 7 days, spend (integer cents — the
    wave-17 sliding-frame FP lesson) in 30, lifetime prior events —
    via integer-microsecond RANGE frames ending at ``1 PRECEDING``. The frame boundary IS the training-serving-skew
    guarantee: a feature computed with the label row (or anything
    after) inside the window is leakage, and here it's excluded by
    construction rather than by pipeline discipline. Same-timestamp
    events are excluded together (RANGE, not ROWS) on both engines.

    Plan shape: one user-keyed exchange; all three frames share the
    one sort (T7's trailing-window machinery, anchored at label rows).
    The label filter happens AFTER the windows — at 100 TB you push a
    per-user month horizon instead, keeping state bounded while every
    label in the horizon backfills in the same single pass."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.unix_micros("ts").alias("t"),
    )
    base = Window.partitionBy("user_id").orderBy("t")
    w7 = base.rangeBetween(-_US_7D, -1)
    w30 = base.rangeBetween(-_US_30D, -1)
    wall = base.rangeBetween(Window.unboundedPreceding, -1)
    feat = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "view", 1)).over(w7).alias(
            "views_7d"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("cents")
            ).otherwise(F.lit(0).cast("long"))
        )
        .over(w30)
        .alias("spend_30d_cents"),
        F.count(F.lit(1)).over(wall).alias("prior_events"),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "views_7d",
            F.coalesce("spend_30d_cents", F.lit(0).cast("long")).alias(
                "spend_30d_cents"
            ),
            "prior_events",
        )
        .orderBy("user_id", "event_id")
    )


# --- W19/MO5: decile lift & gains table -------------------------------------


@query(
    "q_decile_lift",
    oracle="""
    WITH e AS (
      SELECT event_id, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pos) AS BIGINT) AS p FROM e),
    b AS (SELECT *, CAST(floor(value) AS BIGINT) AS bkt FROM e),
    bc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS bn FROM b GROUP BY 1),
    boff AS (
      SELECT bkt,
             CAST(coalesce(sum(bn) OVER (ORDER BY bkt DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS off
      FROM bc),
    ranked AS (
      SELECT b.pos,
             boff.off + row_number() OVER (
               PARTITION BY b.bkt ORDER BY b.value DESC, b.event_id) AS rnk,
             tot.n, tot.p
      FROM b JOIN boff ON b.bkt = boff.bkt, tot),
    agg AS (
      SELECT ((rnk - 1) * 10) // n AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS positives,
             max(n) AS n, max(p) AS p
      FROM ranked GROUP BY 1)
    SELECT decile, n_rows, positives,
           round(positives / CAST(n_rows AS DOUBLE), 5) AS pos_rate,
           round((positives * n) / CAST(n_rows * p AS DOUBLE), 5) AS lift,
           round(CAST(sum(positives) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) / CAST(p AS DOUBLE), 5) AS cum_capture
    FROM agg ORDER BY decile
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & gains table (W19/MO5): treat ``value`` as a model
    score and purchases as the positive class, cut the population into
    score deciles, and report per-decile positive rate, lift over the
    base rate, and cumulative capture — the table every targeting model
    is read off before deployment.

    The global rank that defines deciles is computed WITHOUT a
    single-partition sort over the facts: rows bucket by ``floor(score)``,
    the ~|buckets| bucket counts prefix-sum on the driver-scale side
    (the q_concurrency_sweep two-phase idiom), and each row's exact
    global rank is its bucket offset plus a within-bucket row_number —
    the within-bucket windows carry all the parallelism. Rank → decile
    is the exact ``(rank−1)·10 div N`` cut (ntile's tie-free twin),
    with an id tie-break making every rank unique and engine-portable.

    Plan shape at 100 TB: one bucket-keyed window exchange over the
    facts plus two scalar/driver-scale sides broadcast back; no stage
    sorts more than one bucket's rows on one task. Lift and capture
    are exact integer ratios with one final double division each."""
    e = load_table(spark, "events", sf_dir).select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    b = e.withColumn("bkt", F.floor("value").cast("long"))
    # r12 scan-dupe paydown: the bucket rollup (lazy checkpoint, tiny)
    # also carries the positive count, so the global totals are an
    # exact int64 re-aggregation of it — the events scan for `tot`
    # disappears (was a third fact pass)
    bc = (
        b.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bn"),
            F.sum("pos").cast("long").alias("bp"),
        )
        .localCheckpoint(eager=False)
    )
    tot = bc.agg(
        F.sum("bn").cast("long").alias("n"),
        F.sum("bp").cast("long").alias("p"),
    )
    w_off = (
        Window.orderBy(F.desc("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bc.select(
        "bkt",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("long").alias("off"),
    )
    w_in = Window.partitionBy("bkt").orderBy(F.desc("value"), F.asc("event_id"))
    ranked = (
        b.join(F.broadcast(boff), "bkt")
        .crossJoin(F.broadcast(tot))
        .select(
            "pos",
            (F.col("off") + F.row_number().over(w_in)).alias("rnk"),
            "n",
            "p",
        )
    )
    agg = (
        ranked.select(
            F.expr("(rnk - 1) * 10 DIV n").alias("decile"), "pos", "n", "p"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("pos").cast("long").alias("positives"),
            F.max("n").alias("n"),
            F.max("p").alias("p"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        agg.select(
            "decile",
            "n_rows",
            "positives",
            F.round(F.col("positives") / F.col("n_rows").cast("double"), 5).alias(
                "pos_rate"
            ),
            F.round(
                (F.col("positives") * F.col("n"))
                / (F.col("n_rows") * F.col("p")).cast("double"),
                5,
            ).alias("lift"),
            F.round(
                F.sum("positives").over(w_cum).cast("long")
                / F.col("p").cast("double"),
                5,
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


# --- W20/MO6: UCB1 bandit policy report --------------------------------------

#: binary-reward threshold: an event "converts" when value clears this
_UCB_REWARD = 250.0


@query(
    "q_ucb_bandit",
    oracle=f"""
    WITH pulls AS (
      SELECT event_type AS arm,
             CASE WHEN value >= {_UCB_REWARD} THEN 1 ELSE 0 END AS reward
      FROM events),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_pulls,
             CAST(sum(reward) AS BIGINT) AS n_rewards
      FROM pulls GROUP BY arm),
    tot AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS n FROM arms),
    scored AS (
      SELECT arms.arm, arms.n_pulls, arms.n_rewards,
             round(arms.n_rewards / CAST(arms.n_pulls AS DOUBLE), 5)
               AS mean_reward,
             round(arms.n_rewards / CAST(arms.n_pulls AS DOUBLE)
                   + sqrt(2.0 * ln(CAST(tot.n AS DOUBLE))
                          / CAST(arms.n_pulls AS DOUBLE)), 5) AS ucb
      FROM arms, tot)
    SELECT arm, n_pulls, n_rewards, mean_reward, ucb,
           CASE WHEN (ucb, arm) = (SELECT (max(ucb), min(arm)) FROM scored
                                   WHERE ucb = (SELECT max(ucb) FROM scored))
                THEN 1 ELSE 0 END AS chosen
    FROM scored ORDER BY arm
    """,
)
def q_ucb_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit policy report (W20/MO6): per arm (event type), the
    conversion rate plus the upper-confidence bonus √(2·ln N / n), and
    which arm the policy would pull next — the explore/exploit
    scoreboard behind ADAPTIVE recommendation (the reference's
    namesake): arms the system is uncertain about get pulled despite
    lower observed means. Offline, this report IS the policy — it is
    recomputed from the event log each round and the argmax is the
    next action.

    Determinism: pulls and rewards are exact integer counts; mean and
    bonus are rounded to 5 before the argmax, and ties break by arm
    name (the LG3 mode discipline). ln/sqrt run on both engines from
    the same integers (the q_psi_drift precedent).

    Plan shape: ONE |arms|-group aggregate with map-side partials over
    a single scan; everything downstream is ≤|arms| rows. The bandit
    update at 100 TB is the cheapest query in the fleet — which is the
    point: the policy can re-score after every batch."""
    pulls = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("arm"),
        F.when(F.col("value") >= _UCB_REWARD, 1).otherwise(0).alias("reward"),
    )
    # lazy checkpoint: the |arms|-row rollup feeds the pull total AND
    # the scored projection (which itself feeds the best-arm cut and
    # the final join) — as plain plan subtrees the events scan+agg
    # re-ran per reference (r11 scan-dupe sweep).
    arms = (
        pulls.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pulls"),
            F.sum("reward").cast("long").alias("n_rewards"),
        )
        .localCheckpoint(eager=False)
    )
    tot = arms.agg(F.sum("n_pulls").cast("long").alias("n"))
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n_pulls",
        "n_rewards",
        F.round(F.col("n_rewards") / F.col("n_pulls").cast("double"), 5).alias(
            "mean_reward"
        ),
        F.round(
            F.col("n_rewards") / F.col("n_pulls").cast("double")
            + F.sqrt(
                2.0
                * F.log(F.col("n").cast("double"))
                / F.col("n_pulls").cast("double")
            ),
            5,
        ).alias("ucb"),
    )
    # tie-break: highest ucb, then lexicographically-smallest arm
    w_best = scored.orderBy(F.desc("ucb"), F.asc("arm")).limit(1).select(
        F.col("arm").alias("best_arm")
    )
    return (
        scored.crossJoin(F.broadcast(w_best))
        .select(
            "arm",
            "n_pulls",
            "n_rewards",
            "mean_reward",
            "ucb",
            F.when(F.col("arm") == F.col("best_arm"), 1).otherwise(0).alias(
                "chosen"
            ),
        )
        .orderBy("arm")
    )


# --- MO7: classifier calibration / reliability bins --------------------------


from .functions.text import STOPWORDS as _STOPWORDS  # noqa: E402
from .functions.tokenize import SQL_TOKS as _SQL_TOKS  # noqa: E402

_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS["en"]) + "]"
_SQL_EN_SHARE = (
    f"(len(list_filter({_SQL_TOKS}, x -> list_contains({_EN_STOP_SQL}, x)))"
    f" / greatest(len({_SQL_TOKS}), 1)::DOUBLE)"
)


@query(
    "q_reliability_bins",
    oracle=f"""
    WITH scored AS (
      SELECT least(CAST(floor({_SQL_EN_SHARE} * 10) AS BIGINT), 9) AS bin,
             {_SQL_EN_SHARE} AS score,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS label
      FROM documents)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 5) AS mean_score,
           round(avg(label), 5) AS obs_rate,
           round(abs(avg(score) - avg(label)), 5) AS gap
    FROM scored GROUP BY bin ORDER BY bin
    """,
)
def q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / calibration bins (MO7): treat the
    English-stopword token share as a classifier score for "document is
    English", bucket into ten score bins, and compare each bin's mean
    score against its observed positive rate — the table a reliability
    diagram plots, and the per-bin terms of expected calibration error
    (ECE). Miscalibrated quality/language classifiers silently skew
    corpus filtering, which is why calibration is audited beside the
    classifier itself (q_lang_id).

    The score is a per-row expression over the token array (no UDF,
    no shuffle); the bins are one 10-group hash aggregate. Per-doc
    scores are exact integer ratios, so bin membership is
    engine-portable without an epsilon."""
    from .functions.tokenize import toks_col

    en = _STOPWORDS["en"]
    toks = toks_col()
    hits = F.size(F.filter(toks, lambda x: x.isin(*en)))
    score = hits / F.greatest(F.size(toks), F.lit(1)).cast("double")
    docs = load_table(spark, "documents", sf_dir).select(
        F.least(F.floor(score * 10), F.lit(9)).cast("long").alias("bin"),
        score.alias("score"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("label"),
    )
    return (
        docs.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("score"), 5).alias("mean_score"),
            F.round(F.avg("label"), 5).alias("obs_rate"),
            F.round(F.abs(F.avg("score") - F.avg("label")), 5).alias("gap"),
        )
        .orderBy("bin")
    )


# --- MO7: information-gain feature screen ------------------------------------


@query(
    "q_info_gain",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS views,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS clicks,
             CAST(max(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
               AS BIGINT) AS weekend,
             CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') > 0
                  THEN 1 ELSE 0 END AS label
      FROM events GROUP BY user_id),
    thr AS (
      SELECT round(avg(views), 4) AS tv, round(avg(clicks), 4) AS tc
      FROM per_user),
    feats AS (
      SELECT 'f_clicks_above_mean' AS feature,
             CASE WHEN clicks > (SELECT tc FROM thr) THEN 1 ELSE 0 END AS f,
             label
      FROM per_user
      UNION ALL
      SELECT 'f_views_above_mean',
             CASE WHEN views > (SELECT tv FROM thr) THEN 1 ELSE 0 END, label
      FROM per_user
      UNION ALL
      SELECT 'f_weekend_active', CAST(weekend AS INT), label FROM per_user),
    cells AS (
      SELECT feature, f, label, CAST(count(*) AS BIGINT) AS c
      FROM feats GROUP BY 1, 2, 3),
    -- entropy via the single-level identity H = ln(n) - (sum c*ln c)/n
    ent AS (
      SELECT feature, f, CAST(sum(c) AS BIGINT) AS nf,
             ln(CAST(sum(c) AS DOUBLE))
               - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c) AS h
      FROM cells GROUP BY feature, f),
    base AS (
      SELECT feature, CAST(sum(cl) AS BIGINT) AS n,
             ln(CAST(sum(cl) AS DOUBLE))
               - sum(cl::DOUBLE * ln(cl::DOUBLE)) / sum(cl) AS h0
      FROM (SELECT feature, label, CAST(sum(c) AS BIGINT) AS cl
            FROM cells GROUP BY 1, 2)
      GROUP BY feature)
    SELECT b.feature,
           -- + 0 canonicalizes IEEE -0.0 (a zero gain rounds to -0.0
           -- when the unrounded difference is a tiny negative)
           round(b.h0 - sum((e.nf::DOUBLE / b.n) * e.h), 6) + 0 AS info_gain,
           round(sum(CASE WHEN e.f = 1 THEN e.nf ELSE 0 END)::DOUBLE / b.n,
                 4) AS split_rate
    FROM base b JOIN ent e ON b.feature = e.feature
    GROUP BY b.feature, b.h0, b.n
    ORDER BY b.feature
    """,
)
def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature screen (MO7): rank candidate binary
    features (clicks above the mean, views above the mean, any weekend
    activity) by how much each reduces label entropy for "user
    converts" — the decision-stump criterion feature selection starts
    from (q_target_encoding builds the feature; this decides which are
    WORTH building). Determinism: thresholds are data-derived MEANS
    (moment aggregates — no percentile buffer) rounded to 4 decimals
    before the comparison; weekend membership is computed with each
    engine's own day numbering (Spark Sun=1/Sat=7, DuckDB Sun=0/Sat=6
    — same set); entropies are ≤4-term ln sums, rounded at 6. Scale
    shape: one user rollup, a 3×|users| feature unpivot, (feature, f,
    label) cells, closed-form conditional entropy over ≤12 rows."""
    ev = load_table(spark, "events", sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("views"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("clicks"),
        F.max(
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0)
        )
        .cast("long")
        .alias("weekend"),
        F.when(
            F.sum((F.col("event_type") == "purchase").cast("long")) > 0, 1
        )
        .otherwise(0)
        .alias("label"),
    ).localCheckpoint(eager=False)
    # ^ lazy checkpoint: the user rollup feeds the threshold aggregate
    # AND all three feature-unpivot branches; as plain plan subtrees the
    # events scan+agg re-ran 4× per call (12 fact scans in the r11
    # scan-dupe sweep), while the shared RDD node computes once inside
    # the same job. |users| rows; exact integers, values unchanged.
    thr = per_user.agg(
        F.round(F.avg("views"), 4).alias("tv"),
        F.round(F.avg("clicks"), 4).alias("tc"),
    )
    pu = per_user.crossJoin(F.broadcast(thr))
    feats = (
        pu.select(
            F.lit("f_clicks_above_mean").alias("feature"),
            F.when(F.col("clicks") > F.col("tc"), 1).otherwise(0).alias("f"),
            "label",
        )
        .unionByName(
            pu.select(
                F.lit("f_views_above_mean").alias("feature"),
                F.when(F.col("views") > F.col("tv"), 1)
                .otherwise(0)
                .alias("f"),
                "label",
            )
        )
        .unionByName(
            pu.select(
                F.lit("f_weekend_active").alias("feature"),
                F.col("weekend").cast("int").alias("f"),
                "label",
            )
        )
    )
    cells = feats.groupBy("feature", "f", "label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # entropy via the single-level identity H = ln(n) - (sum c*ln c)/n
    # (a direct -sum((c/n)ln(c/n)) would nest aggregates)
    ent = cells.groupBy("feature", "f").agg(
        F.sum("c").cast("long").alias("nf"),
        (
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c")
        ).alias("h"),
    )
    lab = cells.groupBy("feature", "label").agg(
        F.sum("c").cast("long").alias("cl")
    )
    base = lab.groupBy("feature").agg(
        F.sum("cl").cast("long").alias("n"),
        (
            F.log(F.sum("cl").cast("double"))
            - F.sum(
                F.col("cl").cast("double") * F.log(F.col("cl").cast("double"))
            )
            / F.sum("cl")
        ).alias("h0"),
    )
    return (
        base.join(ent, "feature")
        .groupBy("feature", "h0", "n")
        .agg(
            F.sum(
                (F.col("nf").cast("double") / F.col("n")) * F.col("h")
            ).alias("hc"),
            F.sum(F.when(F.col("f") == 1, F.col("nf")).otherwise(0)).alias(
                "n1"
            ),
        )
        .select(
            "feature",
            # + 0 canonicalizes IEEE -0.0 on both engines
            (F.round(F.col("h0") - F.col("hc"), 6) + F.lit(0.0)).alias(
                "info_gain"
            ),
            F.round(F.col("n1").cast("double") / F.col("n"), 4).alias(
                "split_rate"
            ),
        )
        .orderBy("feature")
    )


# --- MO9: Jensen-Shannon drift between time halves --------------------------------


@query(
    "q_js_drift",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      FROM events),
    halves AS (
      SELECT event_type,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       <= (SELECT t0 + (t1 - t0) // 2 FROM bounds)
                  THEN 0 ELSE 1 END AS half
      FROM events),
    c AS (SELECT event_type, half, count(*)::DOUBLE AS c
          FROM halves GROUP BY 1, 2),
    n AS (SELECT half, sum(c) AS n FROM c GROUP BY half),
    p AS (
      SELECT t.event_type,
             coalesce(c0.c, 0) / (SELECT n FROM n WHERE half = 0) AS p0,
             coalesce(c1.c, 0) / (SELECT n FROM n WHERE half = 1) AS p1
      FROM (SELECT DISTINCT event_type FROM c) t
      LEFT JOIN c c0 ON c0.event_type = t.event_type AND c0.half = 0
      LEFT JOIN c c1 ON c1.event_type = t.event_type AND c1.half = 1),
    terms AS (
      SELECT event_type, p0, p1,
             0.5 * (CASE WHEN p0 > 0
                         THEN p0 * ln(p0 / ((p0 + p1) / 2)) ELSE 0 END)
             + 0.5 * (CASE WHEN p1 > 0
                           THEN p1 * ln(p1 / ((p0 + p1) / 2)) ELSE 0 END)
               AS term
      FROM p)
    SELECT event_type, round(p0, 6) AS p0, round(p1, 6) AS p1,
           round(term, 6) AS jsd_term,
           round(sum(term) OVER (), 6) AS jsd_total
    FROM terms ORDER BY event_type
    """,
)
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift on the event-type mix (MO9, wave 33):
    symmetric, bounded [0, ln 2] divergence between the first and
    second half of the observation window — the drift family's third
    member beside PSI (MO1, binned numeric) and KS (G5, continuous):
    JS is the right metric for CATEGORICAL mixes because it tolerates
    zero-probability categories (a type present in one half only
    contributes a finite term; KL explodes). Deterministic midpoint cut
    (integer epoch arithmetic, q_diff_in_diff's idiom), zero-filled
    type×half grid. Scale shape: one (type, half) hash aggregate — the
    event table is scanned once; everything after runs on the
    |types|-row mix table."""
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.min(F.col("ts").cast("long")).alias("t0"),
        F.max(F.col("ts").cast("long")).alias("t1"),
    ).select(
        (F.col("t0") + F.floor((F.col("t1") - F.col("t0")) / 2))
        .cast("long")
        .alias("cut")
    )
    c = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.when(F.col("ts").cast("long") <= F.col("cut"), 0)
            .otherwise(1)
            .alias("half"),
        )
        .groupBy("event_type", "half")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        # lazy checkpoint: |types|×2 rows feeding FOUR consumers (half
        # totals, both half slices, the type spine) — as plain plan
        # subtrees the events scan+agg re-ran per reference (10 fact
        # scans in the r11 scan-dupe sweep); the shared RDD node
        # computes once inside the same job. Values unchanged.
        .localCheckpoint(eager=False)
    )
    n = c.groupBy("half").agg(F.sum("c").alias("n"))
    c0 = c.filter(F.col("half") == 0).select("event_type", F.col("c").alias("c0"))
    c1 = c.filter(F.col("half") == 1).select("event_type", F.col("c").alias("c1"))
    n0 = n.filter(F.col("half") == 0).select(F.col("n").alias("n0"))
    n1 = n.filter(F.col("half") == 1).select(F.col("n").alias("n1"))
    p = (
        c.select("event_type")
        .distinct()
        .join(c0, "event_type", "left")
        .join(c1, "event_type", "left")
        .crossJoin(F.broadcast(n0))
        .crossJoin(F.broadcast(n1))
        .select(
            "event_type",
            (F.coalesce("c0", F.lit(0.0)) / F.col("n0")).alias("p0"),
            (F.coalesce("c1", F.lit(0.0)) / F.col("n1")).alias("p1"),
        )
    )
    m = (F.col("p0") + F.col("p1")) / 2
    term = 0.5 * F.when(
        F.col("p0") > 0, F.col("p0") * F.log(F.col("p0") / m)
    ).otherwise(0.0) + 0.5 * F.when(
        F.col("p1") > 0, F.col("p1") * F.log(F.col("p1") / m)
    ).otherwise(0.0)
    terms = p.select("event_type", "p0", "p1", term.alias("term"))
    w = Window.partitionBy()
    return terms.select(
        "event_type",
        F.round("p0", 6).alias("p0"),
        F.round("p1", 6).alias("p1"),
        F.round("term", 6).alias("jsd_term"),
        F.round(F.sum("term").over(w), 6).alias("jsd_total"),
    ).orderBy("event_type")


# --- MO10: pairwise feature-correlation screen ------------------------------------


@query(
    "q_feature_correlation",
    oracle="""
    WITH f AS (
      SELECT user_id,
             count(*)::DOUBLE AS n_events,
             sum(value) AS total_value,
             count(DISTINCT CAST(ts AS DATE))::DOUBLE AS active_days,
             count(*) FILTER (WHERE event_type = 'purchase')::DOUBLE
               AS n_purchases
      FROM events GROUP BY user_id)
    SELECT f1, f2, round(c, 4) AS pearson FROM (
      SELECT 'active_days' AS f1, 'n_events' AS f2,
             corr(active_days, n_events) AS c FROM f
      UNION ALL SELECT 'active_days', 'n_purchases',
             corr(active_days, n_purchases) FROM f
      UNION ALL SELECT 'active_days', 'total_value',
             corr(active_days, total_value) FROM f
      UNION ALL SELECT 'n_events', 'n_purchases',
             corr(n_events, n_purchases) FROM f
      UNION ALL SELECT 'n_events', 'total_value',
             corr(n_events, total_value) FROM f
      UNION ALL SELECT 'n_purchases', 'total_value',
             corr(n_purchases, total_value) FROM f)
    ORDER BY f1, f2
    """,
)
def q_feature_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise feature-correlation screen (MO10, wave 34): Pearson r
    between the four standard user-activity features — the redundancy
    check a feature platform runs before training (|r| near 1 means a
    feature buys nothing but leakage risk; MO2's target encoding and
    L6's hashing both assume the inputs aren't clones). One user-keyed
    rollup, then ALL SIX correlations come out of a single aggregate
    over the |users|-row feature table (six corr expressions share one
    pass — never six scans); the pair table is built by exploding a
    6-struct literal, so nothing here exceeds six rows after the
    rollup."""
    ev = load_table(spark, "events", sf_dir)
    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.countDistinct(F.to_date("ts")).cast("double").alias("active_days"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("double")
        .alias("n_purchases"),
    )
    feats = ["active_days", "n_events", "n_purchases", "total_value"]
    pairs = [
        (a, b) for i, a in enumerate(feats) for b in feats[i + 1 :]
    ]
    agg = f.agg(
        *[
            F.corr(a, b).alias(f"c_{a}__{b}")
            for a, b in pairs
        ]
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("f1"),
                        F.lit(b).alias("f2"),
                        F.round(F.col(f"c_{a}__{b}"), 4).alias("pearson"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("t")
    )
    return rows.select("t.f1", "t.f2", "t.pearson").orderBy("f1", "f2")


# --- MO11: ROC AUC via the rank-sum identity --------------------------------

#: session-cached score tie-class substrate, keyed by (applicationId,
#: sf_dir): q_roc_auc, q_pr_auc and q_threshold_metrics each rebuilt
#: the IDENTICAL (score, pos_cnt, neg_cnt, bkt) table — the same
#: orders⋈lineitem label join + two aggregates — so it's built once
#: per session (the daily_orders pattern). Values bit-identical to
#: each query's standalone build; no oracle changes.
@substrate("score_classes")
def _score_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, pos_cnt, neg_cnt, bkt) over orders' does-price-predict-
    returns label: score = o_totalprice, pos = the order has a returned
    line, counts int64-exact, bkt = floor(score/10000) (the two-phase
    prefix-sum bucket q_pr_auc windows on; q_roc_auc's class_cum uses
    the same width). Eagerly
    checkpointed once per (session, sf_dir); |distinct scores| rows."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    lab = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_totalprice").alias("score"))
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("pos")
        )
    )
    b = (
        lab.groupBy("score")
        .agg(
            F.sum("pos").cast("long").alias("pos_cnt"),
            F.sum(1 - F.col("pos")).cast("long").alias("neg_cnt"),
        )
        .withColumn("bkt", F.floor(F.col("score") / 10000.0).cast("long"))
        .localCheckpoint()
    )
    return b


@query(
    "q_roc_auc",
    oracle="""
    WITH lab AS (
      SELECT o.o_orderkey, o.o_totalprice AS score,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    cls AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS pos_cnt,
             CAST(sum(1 - pos) AS BIGINT) AS neg_cnt
      FROM lab GROUP BY 1),
    ranked AS (
      SELECT pos_cnt, neg_cnt,
             CAST(coalesce(sum(neg_cnt) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum_neg
      FROM cls),
    tot AS (
      SELECT CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
             CAST(sum(neg_cnt) AS BIGINT) AS n_neg,
             sum(pos_cnt * (cum_neg + 0.5 * neg_cnt)) AS u
      FROM ranked)
    SELECT n_pos, n_neg,
           round(u / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc,
           round(2.0 * u / (n_pos * CAST(n_neg AS DOUBLE)) - 1.0, 6) AS gini
    FROM tot
    """,
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC + accuracy-Gini (MO11, wave 35): does order value
    predict returns? AUC computed through the Mann-Whitney rank-sum
    identity — AUC = P(score⁺ > score⁻) + ½·P(tie) — over per-score
    tie classes, never a per-row rank: group scores into (score,
    pos_cnt, neg_cnt) classes, prefix-sum the negatives below each
    class, and AUC is Σ pos·(neg_below + ½·neg_in_class) / (P·N). All
    counts are exact int64; only the two final divisions are floats.

    Scale shape: one fact join (orders⋈lineitem on orderkey) for the
    label, one score-keyed class aggregate, and the prefix sum runs
    over score CLASSES using the two-phase floor-bucket idiom (the
    q_decile_lift / q_concurrency_sweep pattern) — bucket offsets are
    a |buckets|-row window, within-bucket sums window per bucket — so
    no single-partition sort ever sees fact rows even when every score
    is distinct."""
    # the checkpointed class table is the shared session substrate
    # (identical build across the three AUC siblings); cum counts the
    # negatives strictly below each class, on the substrate's bkt width
    ranked = class_cum(
        _score_classes(spark, sf_dir), "score", cnt="neg_cnt", bucket_width=10000.0
    )
    tot = ranked.agg(
        F.sum("pos_cnt").cast("long").alias("n_pos"),
        F.sum("neg_cnt").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_cnt") * (F.col("cum") + 0.5 * F.col("neg_cnt"))
        ).alias("u"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        F.round(F.col("u") / (F.col("n_pos") * F.col("n_neg").cast("double")), 6).alias("auc"),
        F.round(
            2.0 * F.col("u") / (F.col("n_pos") * F.col("n_neg").cast("double")) - 1.0, 6
        ).alias("gini"),
    )


# --- MO12: precision-recall AUC (average precision) --------------------------


@query(
    "q_pr_auc",
    oracle="""
    WITH lab AS (
      SELECT o.o_orderkey, o.o_totalprice AS score,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    cls AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS pos_cnt,
             CAST(sum(1 - pos) AS BIGINT) AS neg_cnt
      FROM lab GROUP BY 1),
    ranked AS (
      SELECT pos_cnt,
             CAST(sum(pos_cnt) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tp,
             CAST(sum(neg_cnt) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_fp
      FROM cls),
    tot AS (
      SELECT CAST((SELECT sum(pos_cnt) FROM cls) AS BIGINT) AS n_pos,
             CAST((SELECT sum(neg_cnt) FROM cls) AS BIGINT) AS n_neg,
             sum((pos_cnt / CAST((SELECT sum(pos_cnt) FROM cls) AS DOUBLE))
                 * (cum_tp / CAST(cum_tp + cum_fp AS DOUBLE))) AS ap
      FROM ranked)
    SELECT n_pos, n_neg,
           round(ap, 6) AS pr_auc,
           round(n_pos / CAST(n_pos + n_neg AS DOUBLE), 6) AS baseline
    FROM tot
    """,
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall AUC / average precision (MO12, wave 36): the
    class-imbalance-honest companion to MO11's ROC AUC over the same
    does-price-predict-returns label — AP = Σ_k ΔR_k · P_k stepped at
    score-class granularity, compared against the random-classifier
    baseline P/(P+N). ROC AUC looks healthy under heavy imbalance;
    this is the curve reviewers actually ask for.

    Same scale substrate as q_roc_auc: the label join reduces to score
    tie classes (checkpointed), and the DESCENDING cumulative tp/fp
    come from the two-phase floor-bucket prefix sum — bucket offsets on
    a |buckets|-row side, within-bucket windows, no per-row global
    rank. Counts exact int64; AP's per-class term is two divisions."""
    # shared session substrate (see _score_classes): same class table
    # as q_roc_auc, descending prefix sums window on its bkt column
    b = _score_classes(spark, sf_dir)
    bc = b.groupBy("bkt").agg(
        F.sum("pos_cnt").cast("long").alias("bp"),
        F.sum("neg_cnt").cast("long").alias("bn"),
    )
    w_off = Window.orderBy(F.desc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = bc.select(
        "bkt",
        F.coalesce(F.sum("bp").over(w_off), F.lit(0)).cast("long").alias("offp"),
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("long").alias("offn"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = b.join(boff, "bkt").select(
        "pos_cnt",
        (F.col("offp") + F.sum("pos_cnt").over(w_in)).cast("long").alias("cum_tp"),
        (F.col("offn") + F.sum("neg_cnt").over(w_in)).cast("long").alias("cum_fp"),
    )
    totals = b.agg(
        F.sum("pos_cnt").cast("long").alias("n_pos"),
        F.sum("neg_cnt").cast("long").alias("n_neg"),
    ).collect()[0]
    n_pos, n_neg = totals["n_pos"], totals["n_neg"]
    ap = ranked.agg(
        F.sum(
            (F.col("pos_cnt") / F.lit(float(n_pos)))
            * (F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp")).cast("double"))
        ).alias("ap")
    )
    return ap.select(
        F.lit(n_pos).cast("long").alias("n_pos"),
        F.lit(n_neg).cast("long").alias("n_neg"),
        F.round(F.col("ap"), 6).alias("pr_auc"),
        F.round(F.lit(n_pos) / F.lit(float(n_pos + n_neg)), 6).alias("baseline"),
    )


# --- MO13: precision/recall/F1 over a threshold grid -------------------------

_THR_GRID = tuple(range(50_000, 500_000, 50_000))


@query(
    "q_threshold_metrics",
    oracle=f"""
    WITH lab AS (
      SELECT o.o_orderkey, o.o_totalprice AS score,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    cls AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS pos_cnt,
             CAST(sum(1 - pos) AS BIGINT) AS neg_cnt
      FROM lab GROUP BY 1),
    grid AS (SELECT unnest([{", ".join(str(t) for t in _THR_GRID)}]) AS thr),
    m AS (
      SELECT thr,
             CAST(sum(CASE WHEN score >= thr THEN pos_cnt ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score >= thr THEN neg_cnt ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score < thr THEN pos_cnt ELSE 0 END) AS BIGINT) AS fn
      FROM grid, cls GROUP BY thr),
    pr AS (
      SELECT thr, tp, fp, fn,
             CASE WHEN tp + fp = 0 THEN 0.0
                  ELSE tp / CAST(tp + fp AS DOUBLE) END AS p,
             CASE WHEN tp + fn = 0 THEN 0.0
                  ELSE tp / CAST(tp + fn AS DOUBLE) END AS r
      FROM m)
    SELECT thr, tp, fp, fn,
           round(p, 6) AS precision_,
           round(r, 6) AS recall_,
           round(CASE WHEN p + r = 0 THEN 0.0
                      ELSE 2 * p * r / (p + r) END, 6) AS f1
    FROM pr ORDER BY thr
    """,
)
def q_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-grid classifier metrics (MO13, wave 36): precision,
    recall and F1 for "flag orders above X as return-risks" at nine
    operating points — the table that turns MO11/MO12's single-number
    AUCs into a deployable threshold choice. Zero-denominator cells
    pin to 0.0 identically on both engines.

    The fact reduces to the same score tie-class table as its AUC
    siblings; the 9-row threshold grid then cross-joins the CLASSES
    (9×|classes| transient rows inside one aggregate), so the fact is
    scanned once and nothing fact-sized is ever re-shuffled per
    threshold."""
    # shared session substrate (see _score_classes): the same class
    # table as the AUC siblings, consumed without the bkt column
    cls = _score_classes(spark, sf_dir).select(
        "score", "pos_cnt", "neg_cnt"
    )
    grid = local_frame(spark, [(t,) for t in _THR_GRID], "thr int")
    m = (
        F.broadcast(grid)
        .join(cls)
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(F.col("score") >= F.col("thr"), F.col("pos_cnt")).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(F.col("score") >= F.col("thr"), F.col("neg_cnt")).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(F.col("score") < F.col("thr"), F.col("pos_cnt")).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    p = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    )
    r = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")
    )
    pr = m.select("thr", "tp", "fp", "fn", p.alias("p"), r.alias("r"))
    return pr.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.round("p", 6).alias("precision_"),
        F.round("r", 6).alias("recall_"),
        F.round(
            F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
                2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
            ),
            6,
        ).alias("f1"),
    ).orderBy("thr")


# --- MO14: Brier score decomposition ------------------------------------------


@query(
    "q_brier_decomposition",
    oracle=f"""
    WITH scored AS (
      SELECT least(CAST(floor({_SQL_EN_SHARE} * 10) AS BIGINT), 9) AS bin,
             {_SQL_EN_SHARE} AS score,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS label
      FROM documents),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS nb,
             avg(score) AS pb, avg(label) AS ob,
             sum((score - label) * (score - label)) AS sq
      FROM scored GROUP BY bin),
    t AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n,
             sum(nb * ob) / sum(nb) AS obar,
             sum(sq) / sum(nb) AS brier,
             sum(nb * (pb - ob) * (pb - ob)) / sum(nb) AS reliability
      FROM b),
    r AS (
      SELECT t.n, t.brier, t.reliability, t.obar,
             sum(b.nb * (b.ob - t.obar) * (b.ob - t.obar)) / t.n
               AS resolution
      FROM b, t GROUP BY t.n, t.brier, t.reliability, t.obar)
    SELECT n,
           round(brier, 6) AS brier,
           round(reliability, 6) AS reliability,
           round(resolution, 6) AS resolution,
           round(obar * (1.0 - obar), 6) AS uncertainty,
           round(reliability - resolution + obar * (1.0 - obar), 6)
             AS decomposed_brier
    FROM r
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (MO14, wave 38):
    brier = reliability − resolution + uncertainty, over the same
    stopword-share "is English" classifier MO7's reliability diagram
    bins. Reliability (want 0) is the calibration term MO7 plots;
    resolution (want large) is what a diagram can't show — whether the
    score SEPARATES the classes; uncertainty ō(1−ō) is the no-skill
    floor. The one-number-per-term audit that says whether a corpus
    classifier needs recalibrating (high reliability term) or
    retraining (low resolution).

    100 TB shape: one in-row scoring pass (exact integer-ratio scores,
    the MO7 construction) to a 10-bin aggregate; the decomposition is
    arithmetic over 10 rows. The within-bin approximation inherent to
    the binned decomposition is the standard one (Murphy 1973); the
    identity column recomputes rel − res + unc so the driver hash
    locks all three terms against the directly-summed Brier."""
    from .functions.tokenize import toks_col

    en = _STOPWORDS["en"]
    toks = toks_col()
    hits = F.size(F.filter(toks, lambda x: x.isin(*en)))
    score = hits / F.greatest(F.size(toks), F.lit(1)).cast("double")
    scored = load_table(spark, "documents", sf_dir).select(
        F.least(F.floor(score * 10), F.lit(9)).cast("long").alias("bin"),
        score.alias("score"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("label"),
    )
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.avg("score").alias("pb"),
        F.avg("label").alias("ob"),
        F.sum(
            (F.col("score") - F.col("label"))
            * (F.col("score") - F.col("label"))
        ).alias("sq"),
    ).localCheckpoint()  # 10 rows, three consumers — tokenize once
    t = b.agg(
        F.sum("nb").cast("long").alias("n"),
        (F.sum(F.col("nb") * F.col("ob")) / F.sum("nb")).alias("obar"),
        (F.sum("sq") / F.sum("nb")).alias("brier"),
        (
            F.sum(
                F.col("nb")
                * (F.col("pb") - F.col("ob"))
                * (F.col("pb") - F.col("ob"))
            )
            / F.sum("nb")
        ).alias("reliability"),
    )
    r = (
        b.crossJoin(F.broadcast(t))
        .groupBy("n", "brier", "reliability", "obar")
        .agg(
            (
                F.sum(
                    F.col("nb")
                    * (F.col("ob") - F.col("obar"))
                    * (F.col("ob") - F.col("obar"))
                )
                / F.max("n")
            ).alias("resolution")
        )
    )
    return r.select(
        "n",
        F.round("brier", 6).alias("brier"),
        F.round("reliability", 6).alias("reliability"),
        F.round("resolution", 6).alias("resolution"),
        F.round(F.col("obar") * (1.0 - F.col("obar")), 6).alias(
            "uncertainty"
        ),
        F.round(
            F.col("reliability")
            - F.col("resolution")
            + F.col("obar") * (1.0 - F.col("obar")),
            6,
        ).alias("decomposed_brier"),
    )


# --- MO15: multi-class precision / recall / F1 ----------------------------------


def _multiclass_f1_oracle() -> str:
    from .queries_text import _SQL_DTOKS, _sql_lang_pred, _sql_lang_score
    from .functions.text import LANG_PRIORITY

    scores = ", ".join(
        f"{_sql_lang_score(l)} AS s_{l}" for l in LANG_PRIORITY
    )
    return f"""
    WITH tok AS (SELECT lang, {_SQL_DTOKS} AS dtoks FROM documents),
    scored AS (SELECT lang, {scores} FROM tok),
    pred AS (SELECT lang AS y, {_sql_lang_pred()} AS p FROM scored),
    pt AS (
      SELECT y, CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM pred GROUP BY y),
    pp AS (SELECT p, CAST(count(*) AS BIGINT) AS n_pred FROM pred GROUP BY p),
    cls AS (
      SELECT y AS lang, n_true, coalesce(n_pred, 0) AS n_pred, tp,
             round(CASE WHEN coalesce(n_pred, 0) = 0 THEN 0.0
                        ELSE tp / CAST(n_pred AS DOUBLE) END, 6) AS prec,
             round(tp / CAST(n_true AS DOUBLE), 6) AS rec,
             round(2.0 * tp / (n_true + coalesce(n_pred, 0)), 6) AS f1
      FROM pt LEFT JOIN pp ON pp.p = pt.y)
    SELECT lang, n_true, n_pred, tp, prec, rec, f1 FROM cls
    UNION ALL
    SELECT '__macro__', CAST(sum(n_true) AS BIGINT),
           CAST(sum(n_pred) AS BIGINT), CAST(sum(tp) AS BIGINT),
           round(avg(prec), 6), round(avg(rec), 6), round(avg(f1), 6)
    FROM cls
    ORDER BY lang
    """


@query("q_multiclass_f1", oracle=_multiclass_f1_oracle())
def q_multiclass_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class precision / recall / F1 over the language-ID
    classifier (MO15, wave 41): per observed true class, support
    (n_true), prediction volume (n_pred), true positives, precision,
    recall, and F1 — plus a `__macro__` summary row averaging the
    per-class metrics (macro-averaging weights every class equally,
    the fairness convention when class sizes are skewed). Completes
    the evaluation family: MO11/MO12 grade binary scores (ROC/PR AUC),
    MO13 grades binary thresholds, X17 emits the raw confusion matrix
    — this turns that matrix into the per-class decision metrics. The
    classifier is the SAME shared stopword-overlap scorer q_lang_id
    and q_lang_confusion use, so classifier and evaluation cannot
    drift.

    Exactness: tp / n_true / n_pred are integer counts; precision and
    recall divide identical integers; F1 uses the identity
    2·tp / (n_true + n_pred) — one exact-integer division instead of
    the float harmonic mean, so no intermediate float composition.
    Macro rows average the 6-dp-ROUNDED per-class values (the K9
    rounded-means convention). Rows are keyed by OBSERVED true
    classes; a prediction-only class (e.g. 'unknown') contributes to
    no row's n_pred by construction — documented, matches the
    fixed-label convention of standard toolkits.

    Shape: one map-side scoring pass over documents (in-row codegen
    tokenization, no UDF), lazily checkpointed because the true-axis
    and pred-axis rollups both read it; two tiny keyed aggregates
    (≤ |classes| rows), a broadcast-sized left join, and a two-branch
    union. At 100 TB the only big-data term is the single scan."""
    from .functions.text import distinct_tokens, lang_pred
    from .queries_text import _docs

    scored = (
        _docs(spark, sf_dir)
        .select(
            F.col("lang").alias("y"),
            lang_pred(distinct_tokens("text")).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    pt = scored.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.when(F.col("p") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    pp = scored.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n_pred_raw")
    )
    cls = (
        pt.join(pp, pt["y"] == pp["p"], "left")
        .select(
            F.col("y").alias("lang"),
            "n_true",
            F.coalesce("n_pred_raw", F.lit(0)).cast("long").alias("n_pred"),
            "tp",
        )
        .select(
            "lang",
            "n_true",
            "n_pred",
            "tp",
            F.round(
                F.when(F.col("n_pred") == 0, 0.0).otherwise(
                    F.col("tp") / F.col("n_pred").cast("double")
                ),
                6,
            ).alias("prec"),
            F.round(F.col("tp") / F.col("n_true").cast("double"), 6).alias(
                "rec"
            ),
            F.round(
                2.0 * F.col("tp") / (F.col("n_true") + F.col("n_pred")), 6
            ).alias("f1"),
        )
    )
    macro = cls.agg(
        F.lit("__macro__").alias("lang"),
        F.sum("n_true").cast("long").alias("n_true"),
        F.sum("n_pred").cast("long").alias("n_pred"),
        F.sum("tp").cast("long").alias("tp"),
        F.round(F.avg("prec"), 6).alias("prec"),
        F.round(F.avg("rec"), 6).alias("rec"),
        F.round(F.avg("f1"), 6).alias("f1"),
    )
    return cls.union(macro).orderBy("lang")
