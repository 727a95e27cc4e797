"""Ledger & sequence wave 17 (SURVEY §2.28): the money-and-ordering
operators a transactional warehouse runs — largest-remainder cent
proration (allocations that must sum EXACTLY), a clamped running
balance (the nonlinear max(0, ·) recursion solved in closed form with
two windows instead of an iterative loop), deterministic robust-center
statistics (discrete median / mode / MAD with explicit tie-breaks),
per-user event-sequence pattern counts, and last-touch revenue
attribution (the as-of union+window shape applied to marketing spend).

Every query has an exact DuckDB oracle. Determinism notes: proration
AND the clamped balance run entirely in integer cents (round-half-away
is identical on both engines for positive doubles, every division is
integer division, and a float prefix sum is NOT cross-engine
reproducible even in identical logical order — running windows may
accumulate via a segment tree whose FP grouping differs from
sequential adds); mode ties break by lexicographic value, never by
engine arrival order; sequence pattern counts use the literal
replace-count identity (DuckDB has no regexp_count) so both engines
count identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query
from .sources.loaders import load_table

# --- W17a: largest-remainder cent proration --------------------------------


@query(
    "q_proration",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS wc
      FROM lineitem),
    -- tie-break note: the fixture repeats l_linenumber within an
    -- order, so the remainder rank orders by (rem, linenumber, wc);
    -- items still tied after that have equal base+rem, making the
    -- per-order aggregates invariant to their relative order.
    od AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    based AS (
      SELECT li.l_orderkey, li.l_linenumber, li.wc, od.cents,
             (od.cents * li.wc) // CAST(sum(li.wc) OVER (
                PARTITION BY li.l_orderkey) AS BIGINT) AS base,
             (od.cents * li.wc) % CAST(sum(li.wc) OVER (
                PARTITION BY li.l_orderkey) AS BIGINT) AS rem
      FROM li JOIN od ON li.l_orderkey = od.o_orderkey),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber, wc) AS rn,
             cents - CAST(sum(base) OVER (PARTITION BY l_orderkey) AS BIGINT)
               AS leftover
      FROM based),
    alloc AS (
      SELECT l_orderkey, cents,
             base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS cents_alloc
      FROM ranked)
    SELECT l_orderkey, count(*) AS n_items, min(cents) AS cents_total,
           CAST(sum(cents_alloc) AS BIGINT) AS cents_allocated,
           CASE WHEN CAST(sum(cents_alloc) AS BIGINT) = min(cents)
                THEN 1 ELSE 0 END AS exact,
           max(cents_alloc) AS max_item_cents, min(cents_alloc)
             AS min_item_cents
    FROM alloc GROUP BY l_orderkey ORDER BY l_orderkey
    """,
)
def q_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder cent proration (W17a): split each order's
    total price across its lineitems proportionally to extended price,
    in INTEGER CENTS, handing the leftover cents to the largest
    remainders (line-number tie-break) — the allocation rule invoices,
    revenue recognition, and cost attribution all need, because naive
    float shares don't sum back to the total. The ``exact`` column
    proves per-order conservation inside the query itself.

    Plan shape: one lineitem exchange keyed on l_orderkey serves the
    weight-sum window, the remainder rank, the leftover window, and
    the final per-order rollup (subset-clustering); the orders side
    joins on the same key (its own exchange). All arithmetic is int64
    inside whole-stage codegen — no floats anywhere past the initial
    cent rounding, so the allocation is exactly reproducible at any
    partitioning."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("wc"),
    )
    od = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    wo = Window.partitionBy("l_orderkey")
    based = li.join(od, "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        "wc",
        "cents",
        F.expr("cents * wc div sum(wc) OVER (PARTITION BY l_orderkey)").alias(
            "base"
        ),
        (F.col("cents") * F.col("wc") % F.sum("wc").over(wo)).alias("rem"),
    )
    ranked = based.select(
        "l_orderkey",
        "cents",
        "base",
        F.row_number()
        .over(wo.orderBy(F.col("rem").desc(), "l_linenumber", "wc"))
        .alias("rn"),
        (F.col("cents") - F.sum("base").over(wo)).alias("leftover"),
    )
    alloc = ranked.select(
        "l_orderkey",
        "cents",
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        ).alias("cents_alloc"),
    )
    return (
        alloc.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("cents").alias("cents_total"),
            F.sum("cents_alloc").alias("cents_allocated"),
            F.when(F.sum("cents_alloc") == F.min("cents"), 1)
            .otherwise(0)
            .alias("exact"),
            F.max("cents_alloc").alias("max_item_cents"),
            F.min("cents_alloc").alias("min_item_cents"),
        )
        .orderBy("l_orderkey")
    )


# --- W17b: clamped running balance -----------------------------------------


@query(
    "q_clamped_balance",
    oracle="""
    WITH tx AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
      FROM events),
    pref AS (
      SELECT user_id, ts, event_id, delta,
             CAST(sum(delta) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
      FROM tx),
    bal AS (
      SELECT user_id, delta,
             p - least(min(p) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING), 0) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM pref)
    SELECT user_id, count(*) AS n_tx,
           max(CASE WHEN rn_last = 1 THEN x END) AS final_cents,
           max(x) AS peak_cents,
           count(*) FILTER (x = 0 AND delta < 0) AS floor_hits
    FROM bal GROUP BY user_id ORDER BY user_id
    """,
)
def q_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance (W17b): credits (purchase/signup) and
    debits (click/error/view) per user, with the balance floored at
    zero — x_t = max(0, x_{t-1} + d_t), the wallet/inventory recursion
    that LOOKS like it needs an iterative loop. It doesn't: the closed
    form x_t = P_t − min(0, min_{s≤t} P_s) (prefix sum minus its
    clamped running minimum) turns it into two stacked windows over ONE
    user-keyed exchange — the same recursion-to-window move that made
    the as-of join linear.

    All arithmetic is INTEGER CENTS (like q_proration): a float prefix
    sum is NOT reproducible across engines even in identical logical
    order — DuckDB's running windows accumulate via a segment tree
    whose FP grouping differs from sequential adds, which flipped an
    ``x = 0`` floor test at sf0.1 before this was integerized. A ledger
    needs exact equality at the floor, and ints give it at any scale
    and partitioning.

    Plan shape: one user-keyed exchange; windows and the final rollup
    all reuse it. O(1) state per row at any history depth."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    tx = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("purchase", "signup"), cents)
        .otherwise(-cents)
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = tx.select(
        "user_id",
        "ts",
        "event_id",
        "delta",
        F.sum("delta").over(w).alias("p"),
    )
    bal = pref.select(
        "user_id",
        "ts",
        "event_id",
        "delta",
        (
            F.col("p") - F.least(F.min("p").over(w), F.lit(0).cast("long"))
        ).alias("x"),
    )
    final = bal.select(
        "user_id",
        "delta",
        "x",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn_last"),
    )
    return (
        final.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_tx"),
            F.max(F.when(F.col("rn_last") == 1, F.col("x"))).alias(
                "final_cents"
            ),
            F.max("x").alias("peak_cents"),
            F.count(
                F.when((F.col("x") == 0) & (F.col("delta") < 0), 1)
            ).alias("floor_hits"),
        )
        .orderBy("user_id")
    )


# --- W17c: deterministic robust-center statistics --------------------------


@query(
    "q_robust_center",
    oracle="""
    WITH med AS (
      SELECT c_nationkey, count(*) AS n,
             round(quantile_disc(c_acctbal, 0.5), 4) AS median_bal
      FROM customer GROUP BY c_nationkey),
    modes AS (
      SELECT c_nationkey, c_mktsegment,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY count(*) DESC,
                                         c_mktsegment NULLS LAST) AS rn
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    mad AS (
      SELECT c.c_nationkey,
             round(quantile_disc(abs(c.c_acctbal - med.median_bal), 0.5), 4)
               AS mad_bal
      FROM customer c JOIN med ON c.c_nationkey = med.c_nationkey
      GROUP BY c.c_nationkey)
    SELECT med.c_nationkey, med.n, med.median_bal, mad.mad_bal,
           modes.c_mktsegment AS mode_segment
    FROM med JOIN mad ON med.c_nationkey = mad.c_nationkey
    JOIN modes ON med.c_nationkey = modes.c_nationkey AND modes.rn = 1
    ORDER BY med.c_nationkey
    """,
)
def q_robust_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic robust-center statistics per nation (W17c):
    discrete median (percentile_disc — an actual data value, no
    interpolation ulp risk), MAD about it (the robust spread that
    pairs with q_winsorize's robust mean), and the modal market
    segment with an EXPLICIT lexicographic tie-break — both engines'
    builtin ``mode`` picks an arbitrary arrival-order winner on ties,
    which is exactly the kind of nondeterminism a verified metrics
    layer can't ship.

    Plan shape: three nation-keyed aggregates (median, mode counts,
    MAD second pass) with the 25-row median table broadcast back for
    the deviation pass; every exchange carries per-nation partials.
    The discrete percentile buffers per group like Y4 — the t-digest
    swap is the documented wide-group fallback."""
    customer = load_table(spark, "customer", sf_dir)
    # lazy checkpoint: the 25-row median table feeds the MAD deviation
    # pass AND the final join — as plain plan subtrees the per-nation
    # percentile buffer ran twice per call (r11 scan-dupe sweep).
    med = (
        customer.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.expr(
                    "percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)"
                ),
                4,
            ).alias("median_bal"),
        )
        .localCheckpoint(eager=False)
    )
    modes = (
        customer.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_nationkey").orderBy(
                    F.col("cnt").desc(),
                    F.col("c_mktsegment").asc_nulls_last(),
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("mode_segment"))
    )
    mad = (
        customer.join(
            F.broadcast(med.select("c_nationkey", "median_bal")),
            "c_nationkey",
        )
        .groupBy("c_nationkey")
        .agg(
            F.round(
                F.expr(
                    "percentile_disc(0.5) WITHIN GROUP "
                    "(ORDER BY abs(c_acctbal - median_bal))"
                ),
                4,
            ).alias("mad_bal")
        )
    )
    return (
        med.join(mad, "c_nationkey")
        .join(modes, "c_nationkey")
        .select("c_nationkey", "n", "median_bal", "mad_bal", "mode_segment")
        .orderBy("c_nationkey")
    )


# --- W17d: event-sequence pattern counts -----------------------------------


@query(
    "q_event_sequence",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT user_id, length(seq) AS seq_len,
           (length(seq) - length(replace(seq, 'vc', ''))) // 2
             AS n_view_click,
           CASE WHEN seq LIKE '%v%c%p%' THEN 1 ELSE 0 END AS has_funnel,
           substr(seq, 1, 1) AS first_event,
           substr(seq, length(seq), 1) AS last_event
    FROM seqs ORDER BY user_id
    """,
)
def q_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence pattern counts (W17d): collapse each
    user's history into an ordered initial-string (v/c/p/s/e — the
    five types have distinct initials) and count patterns in-row —
    adjacent view→click pairs via the literal replace-count identity
    (DuckDB has no regexp_count; counting by deletion is also the
    32×-cheaper form, see perf notes on regex), ordered funnel
    presence via LIKE, first/last events. The poor-man's
    MATCH_RECOGNIZE that covers most sequence-mining questions.

    Plan shape: one user-keyed collect_list aggregate; the sort,
    join, and every pattern count are in-row array/string codegen on
    the aggregated row. Sequence length is bounded by per-user
    activity (the watermark/retention bound at stream scale), never
    by corpus size. Ordering inside the array is explicit (ts,
    event_id) struct sort — identical on both engines."""
    seqs = (
        load_table(spark, "events", sf_dir)
        .select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
            .alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["i"]
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").alias("seq_len"),
        (
            (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit("vc"))))
            / 2
        )
        .cast("long")
        .alias("n_view_click"),
        F.when(F.col("seq").like("%v%c%p%"), 1).otherwise(0).alias(
            "has_funnel"
        ),
        F.substring("seq", 1, 1).alias("first_event"),
        F.expr("substr(seq, length(seq), 1)").alias("last_event"),
    ).orderBy("user_id")


# --- W17e: last-touch revenue attribution ----------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000


@query(
    "q_attribution",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CASE WHEN event_type IN ('view', 'click') THEN 0 ELSE 1 END
               AS kind,
             CASE WHEN event_type IN ('view', 'click') THEN event_type END
               AS touch_type,
             CASE WHEN event_type = 'purchase' THEN value END AS revenue
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    attributed AS (
      SELECT user_id, t, kind, revenue,
             last_value(touch_type IGNORE NULLS) OVER w AS lt_type,
             last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER w
               AS lt_t
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY t, kind, event_id
                   ROWS UNBOUNDED PRECEDING)),
    conv AS (
      SELECT CASE WHEN lt_t IS NOT NULL
                   AND lt_t >= t - {_ATTR_WINDOW_US}
                  THEN lt_type ELSE 'direct' END AS channel,
             revenue
      FROM attributed WHERE kind = 1)
    SELECT channel, count(*) AS n_conversions,
           round(sum(revenue), 2) AS revenue
    FROM conv GROUP BY channel ORDER BY channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution (W17e): every purchase credits
    the user's most recent view/click within 7 days, else 'direct' —
    the marketing-analytics allocation. Same union+keyed-window shape
    that replaced the quadratic pair-join in the as-of fix (BASELINE
    round-4 sweep): touches and conversions ride ONE user-keyed
    window, `last(ignorenulls)` carries the latest touch forward, and
    history depth never multiplies rows. Touch-vs-conversion ties at
    the same timestamp order (touch first) identically on both
    engines via the explicit kind column.

    Plan shape: one user-keyed exchange + a 3-row final aggregate.
    At 100 TB the window state is one struct per user — the same
    reason the as-of form scales."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "event_id",
        F.when(F.col("event_type").isin("view", "click"), 0)
        .otherwise(1)
        .alias("kind"),
        F.when(
            F.col("event_type").isin("view", "click"), F.col("event_type")
        ).alias("touch_type"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "revenue"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attributed = tagged.select(
        "user_id",
        "t",
        "kind",
        "revenue",
        F.last("touch_type", ignorenulls=True).over(w).alias("lt_type"),
        F.last(F.when(F.col("kind") == 0, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("lt_t"),
    )
    conv = attributed.filter(F.col("kind") == 1).select(
        F.when(
            F.col("lt_t").isNotNull()
            & (F.col("lt_t") >= F.col("t") - _ATTR_WINDOW_US),
            F.col("lt_type"),
        )
        .otherwise("direct")
        .alias("channel"),
        "revenue",
    )
    return (
        conv.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
        .orderBy("channel")
    )


# --- W19/LG6: FIFO lot matching via cumulative-interval intersection --------

#: One brand keeps the demo output reviewable; the operator itself is
#: brand-agnostic (drop the filter and the same plan covers every part).
_FIFO_BRAND = "Brand#1"


@query(
    "q_fifo_inventory",
    oracle=f"""
    WITH base AS (
      SELECT l.l_partkey, l.l_linestatus,
             CAST(l.l_quantity AS BIGINT) AS qty,
             l.l_shipdate, l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = '{_FIFO_BRAND}'),
    receipts AS (
      SELECT l_partkey, qty, l_shipdate AS rdate,
             row_number() OVER wo AS rseq,
             CAST(sum(qty) OVER wo AS BIGINT) AS rhi
      FROM base WHERE l_linestatus = 'F'
      WINDOW wo AS (PARTITION BY l_partkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    issues AS (
      SELECT l_partkey, qty, l_shipdate AS idate,
             row_number() OVER wo AS iseq,
             CAST(sum(qty) OVER wo AS BIGINT) AS ihi
      FROM base WHERE l_linestatus = 'O'
      WINDOW wo AS (PARTITION BY l_partkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT r.l_partkey, r.rseq AS receipt_seq, i.iseq AS issue_seq,
           least(r.rhi, i.ihi)
             - greatest(r.rhi - r.qty, i.ihi - i.qty) AS matched_qty,
           CASE WHEN i.idate < r.rdate THEN 1 ELSE 0 END AS backordered
    FROM receipts r JOIN issues i
      ON r.l_partkey = i.l_partkey
     AND r.rhi - r.qty < i.ihi AND i.ihi - i.qty < r.rhi
    ORDER BY r.l_partkey, receipt_seq, issue_seq
    """,
)
def q_fifo_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching (W19/LG6): allocate each issue (demand) to
    supply lots strictly first-in-first-out — the cost-basis primitive
    behind inventory COGS, tax-lot accounting, and queue billing —
    WITHOUT the row-at-a-time loop the textbook algorithm implies.
    The closed form: with receipt lots and issues each cumulatively
    summed per part, receipt r supplies issue i exactly when their
    cumulative-quantity intervals [rhi−qty, rhi) and [ihi−qty, ihi)
    overlap, and the matched quantity is the overlap length
    ``least(rhi, ihi) − greatest(rlo, ilo)`` — same closed-form family
    as LG2's clamped balance (recursion → windows).

    Determinism: quantities are integers, so every cumsum, boundary,
    and matched quantity is exact BIGINT; fully-duplicate line rows
    swap cumsum positions without changing the output multiset (the
    LG1 tie argument). Output size is provably linear: every matched
    pair consumes a receipt or an issue boundary, so matches ≤
    receipts + issues − 1 per part.

    Plan shape: two part-keyed window exchanges (one per side) and one
    part-keyed equi-join whose range predicates prune to the linear
    match set; the part dimension is broadcast into the scan filter.
    At 100 TB the equi-key carries all parallelism and per-part state
    is the pair of cumsum columns — no iteration, no driver loop."""
    # lazy checkpoint (r12 scan-dupe paydown): the brand-filtered slice
    # feeds BOTH the receipt and the issue cumsum sides — as plain
    # subtrees the fact scan+dim probe ran twice per call
    base = fifo_slice_frame(spark, sf_dir).localCheckpoint(eager=False)
    wo = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )

    def _cumulate(side: DataFrame, seq: str, hi: str, date: str) -> DataFrame:
        return side.select(
            "l_partkey",
            "qty",
            F.col("l_shipdate").alias(date),
            F.row_number().over(wn).alias(seq),
            F.sum("qty").over(wo).alias(hi),
        )

    receipts = _cumulate(
        base.filter(F.col("l_linestatus") == "F"), "rseq", "rhi", "rdate"
    ).withColumnRenamed("qty", "rqty")
    issues = _cumulate(
        base.filter(F.col("l_linestatus") == "O"), "iseq", "ihi", "idate"
    ).withColumnRenamed("qty", "iqty").withColumnRenamed("l_partkey", "i_partkey")
    return (
        receipts.join(
            issues,
            (F.col("l_partkey") == F.col("i_partkey"))
            & (F.col("rhi") - F.col("rqty") < F.col("ihi"))
            & (F.col("ihi") - F.col("iqty") < F.col("rhi")),
        )
        .select(
            "l_partkey",
            F.col("rseq").alias("receipt_seq"),
            F.col("iseq").alias("issue_seq"),
            (
                F.least("rhi", "ihi")
                - F.greatest(
                    F.col("rhi") - F.col("rqty"), F.col("ihi") - F.col("iqty")
                )
            ).alias("matched_qty"),
            F.when(F.col("idate") < F.col("rdate"), 1).otherwise(0).alias(
                "backordered"
            ),
        )
        .orderBy("l_partkey", "receipt_seq", "issue_seq")
    )


def fifo_slice_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed brand-filtered lineitem slice
    :func:`q_fifo_inventory` checkpoints — exposed so plan tests can
    assert the part broadcast the checkpoint otherwise hides behind
    ``Scan ExistingRDD``."""
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_brand") == _FIFO_BRAND)
        .select("p_partkey")
    )
    return (
        load_table(spark, "lineitem", sf_dir)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_linestatus",
            F.col("l_quantity").cast("long").alias("qty"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
    )


# --- W21/LG7: unconsumed-inventory aging report ------------------------------

_AGE_BUCKETS_SQL = """CASE WHEN age_days <= 30 THEN '000-030'
                WHEN age_days <= 90 THEN '031-090'
                WHEN age_days <= 180 THEN '091-180'
                ELSE '181+' END"""


@query(
    "q_inventory_aging",
    oracle=f"""
    WITH base AS (
      SELECT l.l_partkey, l.l_linestatus,
             CAST(l.l_quantity AS BIGINT) AS qty,
             l.l_shipdate, l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = '{_FIFO_BRAND}'),
    bounds AS (SELECT max(CAST(l_shipdate AS DATE)) AS maxd FROM base),
    receipts AS (
      SELECT l_partkey, qty, l_shipdate AS rdate,
             CAST(sum(qty) OVER (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS rhi
      FROM base WHERE l_linestatus = 'F'),
    itot AS (
      SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS consumed
      FROM base WHERE l_linestatus = 'O' GROUP BY l_partkey),
    lots AS (
      SELECT r.l_partkey,
             least(r.qty, greatest(CAST(0 AS BIGINT),
                   r.rhi - coalesce(itot.consumed, 0))) AS leftover,
             datediff('day', CAST(r.rdate AS DATE), bounds.maxd) AS age_days
      FROM receipts r
      LEFT JOIN itot ON r.l_partkey = itot.l_partkey
      CROSS JOIN bounds)
    SELECT {_AGE_BUCKETS_SQL} AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_lots,
           CAST(sum(leftover) AS BIGINT) AS leftover_qty
    FROM lots WHERE leftover > 0
    GROUP BY age_bucket ORDER BY age_bucket
    """,
)
def q_inventory_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unconsumed-inventory aging (W21/LG7): how much supply is still
    sitting in each lot after FIFO consumption, bucketed by lot age —
    the slow-moving-stock report that pairs with LG6's matching detail.
    Under FIFO the leftover needs NO pair join at all: a receipt with
    cumulative interval (rhi−qty, rhi] keeps
    ``min(qty, max(0, rhi − total_consumed))`` units — consumption is a
    single per-part total, because FIFO drains strictly from the front.
    (The closed form's second win: LG6 needed intervals×intervals;
    the residual needs intervals×scalar.)

    All quantities are exact BIGINTs; ages are integer days vs the
    data-driven max ship date (replicated tiers need no change).

    Plan shape: one part-keyed window exchange for the receipt cumsum,
    one part-keyed aggregate for consumption, joined on the part key
    they already share; the aging rollup carries 4 buckets of partials
    per mapper."""
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_brand") == _FIFO_BRAND)
        .select("p_partkey")
    )
    base = (
        load_table(spark, "lineitem", sf_dir)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_linestatus",
            F.col("l_quantity").cast("long").alias("qty"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        # lazy checkpoint: the single-brand slice (~1/|brands| of the
        # fact) feeds the date bound, the receipt cumsum AND the
        # consumption aggregate — as plain plan subtrees the
        # join+filter scan ran 3× per call (r11 scan-dupe sweep).
        .localCheckpoint(eager=False)
    )
    bounds = base.agg(F.max(F.to_date("l_shipdate")).alias("maxd"))
    wo = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    receipts = base.filter(F.col("l_linestatus") == "F").select(
        "l_partkey",
        "qty",
        F.col("l_shipdate").alias("rdate"),
        F.sum("qty").over(wo).cast("long").alias("rhi"),
    )
    itot = (
        base.filter(F.col("l_linestatus") == "O")
        .groupBy(F.col("l_partkey").alias("i_partkey"))
        .agg(F.sum("qty").cast("long").alias("consumed"))
    )
    lots = (
        receipts.join(
            itot, F.col("l_partkey") == F.col("i_partkey"), "left"
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.col("qty"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.col("rhi") - F.coalesce("consumed", F.lit(0).cast("long")),
                ),
            ).alias("leftover"),
            F.datediff(F.col("maxd"), F.to_date("rdate")).alias("age_days"),
        )
    )
    return (
        lots.filter(F.col("leftover") > 0)
        .select(F.expr(_AGE_BUCKETS_SQL).alias("age_bucket"), "leftover")
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lots"),
            F.sum("leftover").cast("long").alias("leftover_qty"),
        )
        .orderBy("age_bucket")
    )


# --- LG8: position-based multi-touch attribution -----------------------------


@query(
    "q_multi_touch_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, min(ts) AS t_conv FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv ON e.user_id = conv.user_id
      WHERE e.event_type IN ('view', 'click') AND e.ts < conv.t_conv),
    seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM touches),
    credit AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN pos = 1 OR pos = n THEN 0.4
                  ELSE 0.2 / (n - 2) END AS w
      FROM seq)
    SELECT event_type AS channel,
           round(sum(w), 4) AS credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credit GROUP BY event_type ORDER BY channel
    """,
)
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution (LG8):
    q_attribution gives the last touch everything; the U-shaped model
    splits each conversion's credit 40/20/40 across first, middle, and
    last pre-conversion touches (degenerating to 100% or 50/50 for 1-
    or 2-touch paths), the standard middle ground between first- and
    last-touch bias. Total credit conserves: Σ credit = conversions
    with ≥1 touch, which the unit test pins.

    Shape: the conversion times are one user-keyed aggregate joined
    back user-keyed (co-partitioned); position and path length come
    from one window over the same user key — a single fact-sized
    exchange lineage — and the payout is a row-local CASE folded by a
    |channels|-row aggregate."""
    ev = load_table(spark, "events", sf_dir)
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("t_conv"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id")
    seq = touches.select(
        "event_type",
        F.row_number().over(w_seq).alias("pos"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    credit = F.when(F.col("n") == 1, 1.0).when(F.col("n") == 2, 0.5).when(
        (F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4
    ).otherwise(F.lit(0.2) / (F.col("n") - 2))
    return (
        seq.select(F.col("event_type").alias("channel"), credit.alias("w"))
        .groupBy("channel")
        .agg(
            F.round(F.sum("w"), 4).alias("credit"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
        .orderBy("channel")
    )


# --- LG9: duplicate-payment screen -------------------------------------------


@query(
    "q_duplicate_payments",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(l_linenumber) AS BIGINT) AS first_line,
           CAST(max(l_linenumber) AS BIGINT) AS last_line,
           round(sum(l_quantity), 2) AS qty_total,
           round(sum(l_extendedprice), 2) AS amount_total,
           CASE WHEN count(DISTINCT l_extendedprice) < count(*)
                THEN 1 ELSE 0 END AS exact_amount_dup
    FROM lineitem
    GROUP BY l_orderkey, l_partkey
    HAVING count(*) > 1
    ORDER BY l_orderkey, l_partkey
    """,
)
def q_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate line-entry screen (LG9): orders that bill the SAME
    part on more than one line — the double-entry / double-click audit
    every AP team runs before paying an invoice, with an
    ``exact_amount_dup`` flag separating "same part re-billed at the
    same price" (the classic duplicate) from legitimate split lines at
    different prices. Scale shape: one (orderkey, partkey)-keyed hash
    aggregate with map-side partials over the 100 TB side and a
    HAVING filter — no self-join at all; the distinct-price check
    collapses inside the same aggregate. Output is total-ordered on
    the group key."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.min("l_linenumber").cast("long").alias("first_line"),
            F.max("l_linenumber").cast("long").alias("last_line"),
            F.round(F.sum("l_quantity"), 2).alias("qty_total"),
            F.round(F.sum("l_extendedprice"), 2).alias("amount_total"),
            F.when(
                F.countDistinct("l_extendedprice") < F.count(F.lit(1)), 1
            )
            .otherwise(0)
            .alias("exact_amount_dup"),
        )
        .filter(F.col("n_lines") > 1)
        .orderBy("l_orderkey", "l_partkey")
    )


# --- LG10: Wilson-interval return-rate screen -------------------------------------


@query(
    "q_return_rate_wilson",
    oracle="""
    WITH s AS (
      SELECT l_suppkey,
             count(*)::DOUBLE AS n,
             count(*) FILTER (WHERE l_returnflag = 'R')::DOUBLE AS r
      FROM lineitem GROUP BY 1),
    w AS (
      SELECT l_suppkey, n, r, r / n AS p,
             ((r / n) + 1.96 * 1.96 / (2 * n)
              - 1.96 * sqrt((r / n) * (1 - r / n) / n
                            + 1.96 * 1.96 / (4 * n * n)))
             / (1 + 1.96 * 1.96 / n) AS lb
      FROM s)
    SELECT l_suppkey, CAST(n AS BIGINT) AS n_lines,
           CAST(r AS BIGINT) AS n_returns,
           round(p, 6) AS return_rate, round(lb, 6) AS wilson_lb
    FROM w ORDER BY round(lb, 6) DESC, l_suppkey LIMIT 20
    """,
)
def q_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-interval return-rate screen (LG10, wave 34): rank
    suppliers by the LOWER bound of the 95% Wilson score interval on
    their return rate — the small-sample-honest worst-supplier list (a
    2-of-3 supplier outranks a 400-of-2000 one on the raw rate but not
    on the bound; ranking on p̂ alone is the classic sort-by-average
    mistake). Closed-form interval, exact conditional counts, one
    supplier-keyed fact aggregate, and a 20-row
    TakeOrderedAndProject — nothing after the aggregate exceeds
    |suppliers| rows."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_returnflag"
    )
    z = 1.96
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("double")
        .alias("r"),
    )
    p = F.col("r") / F.col("n")
    lb = (
        p
        + z * z / (2 * F.col("n"))
        - z
        * F.sqrt(
            p * (1 - p) / F.col("n") + z * z / (4 * F.col("n") * F.col("n"))
        )
    ) / (1 + z * z / F.col("n"))
    return (
        s.select(
            "l_suppkey",
            F.col("n").cast("long").alias("n_lines"),
            F.col("r").cast("long").alias("n_returns"),
            F.round(p, 6).alias("return_rate"),
            F.round(lb, 6).alias("wilson_lb"),
        )
        .orderBy(F.desc("wilson_lb"), F.asc("l_suppkey"))
        .limit(20)
    )
