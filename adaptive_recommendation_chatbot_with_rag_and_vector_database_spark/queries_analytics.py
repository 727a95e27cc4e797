"""Analytics wave 2 (SURVEY §2.12): TPC-H-style headline queries,
distribution statistics, pivot, decorrelated subqueries, stratified
sampling, funnel/anomaly event analytics, vector centroids, and
connected-component dedup clustering.

These extend the round-1 operator inventory with the query shapes a
warehouse user of the engine runs daily. Every query is DataFrame-first
with an exact DuckDB oracle twin; plan shapes (broadcasts, partial
aggregation, TakeOrderedAndProject) are asserted in tests/test_plans.py.

Determinism: float aggregates rounded on both sides; every top-k cut
orders by the rounded measure with an id tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import N_BANDS
from .operators.dedup import connected_components, minhash_near_dup
from .queries_text import _SQL_DTOKS, _sql_minhash_bands
from .registry import query
from .sources.loaders import load_table, substrate


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# --- TPC-H-style headline queries -----------------------------------------


@query(
    "q_tpch_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. One scan, filter pushed to
    parquet, column pruning to 7 columns, map-side partial aggregation
    into 4 groups — the plan is a single exchange of 4 rows regardless
    of input size, which is exactly the shape that survives 100 TB."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_tpch_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: filtered dim broadcast into the
    fact join, then top-10 by revenue. The only shuffle is
    orders⋈lineitem on the order key + the final aggregation; the
    10-row cut is TakeOrderedAndProject (no global sort)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_local_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local supplier volume: a 6-table star join where
    every dimension (supplier⋈nation⋈region, customer) is broadcast —
    the single data-sized shuffle is lineitem⋈orders on the order key.
    The c_nationkey = s_nationkey condition rides on the broadcast
    join, so no extra exchange."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --- distribution statistics ----------------------------------------------


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (matches DuckDB's
    quantile_cont), from the shared per-group price tie-class substrate
    (``operators.ranks.tie_classes`` — the same checkpointed class table
    q_iqr_outliers' quartiles read). The built-in grouped ``percentile``
    collects one whole GROUP's values into a single aggregation buffer
    (2 M values per buffer at the 100× tier) — the tie-class lookup
    bounds single-task state by one (group, floor-bucket)'s classes
    instead, the property that decides survival at 100 TB."""
    from .operators.ranks import quantiles
    from .queries_scale import price_classes_grouped

    ps = [0.25, 0.50, 0.75, 0.95]
    qq = quantiles(price_classes_grouped(spark, sf_dir), ps, by=("l_returnflag",))
    return (
        qq.groupBy("l_returnflag")
        .pivot("frac", ps)
        .agg(F.round(F.first("quantile"), 4))
        .select(
            "l_returnflag",
            F.col("`0.25`").alias("p25"),
            F.col("`0.5`").alias("p50"),
            F.col("`0.75`").alias("p75"),
            F.col("`0.95`").alias("p95"),
        )
    )


@query(
    "q_pivot_events",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user. Pivot values are passed explicitly,
    which skips the extra distinct-values job AND keeps the plan a
    single map-side-combinable hash aggregate — with inferred values
    the pivot needs a full pass before the plan can even be built."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT avg(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), written as its decorrelated form: aggregate once per
    nation, broadcast the 25-row result back, filter. This is the plan
    Catalyst's decorrelation produces from the SQL form — stated
    explicitly so the join is provably broadcast, never a per-row
    re-aggregation."""
    cust = _t(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("_nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("_nation_avg"))
        .select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
        )
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per market segment; ordering carries a key tie-break so ranks are
    deterministic. One shuffle on the partition key, then a per-
    partition sort — the frame never materializes cross-partition
    state."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn % 10 = 1
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 1-in-10 sample per language stratum
    (every 10th doc by id within stratum) — reproducible across engines
    and runs, unlike rand()-based sampling. At 100 TB the equivalent
    seeded-hash form (`pmod(xxhash64(id), 10) = 0`) gives the same
    guarantee without the per-stratum sort; the window form is the
    oracle-pinned semantic."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .select("doc_id", "lang")
    )


# --- event analytics -------------------------------------------------------


@query(
    "q_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
             min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (WHERE t_view IS NOT NULL) AS n_viewed,
           count(*) FILTER (WHERE t_click > t_view)   AS n_clicked,
           count(*) FILTER (WHERE t_click > t_view AND t_purchase > t_click)
             AS n_purchased
    FROM u
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: first-touch timestamps per user
    (one hash aggregate keyed on user_id), then a global 3-counter
    roll-up. Two aggregation levels, no join, no window — the per-user
    intermediate is 3 timestamps regardless of event volume."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    u = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    return u.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_viewed"),
        F.count(F.when(clicked, 1)).alias("n_clicked"),
        F.count(
            F.when(clicked & (F.col("t_purchase") > F.col("t_click")), 1)
        ).alias("n_purchased"),
    )


@query(
    "q_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round((e.value - s.m) / s.sd, 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.m) / s.sd) > 2.5
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: aggregate mean/stddev to a 5-row
    stats table, broadcast it back over the events, filter |z| > 2.5.
    The grouped-stats + broadcast-join-back shape beats a window
    function here: a window would shuffle and sort every event by type;
    this plan shuffles only the 5-row aggregate."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


# --- vector centroids ------------------------------------------------------


@query(
    "q_vector_centroid",
    oracle="""
    SELECT label, pos, round(avg(e), 4) AS centroid
    FROM (
      SELECT label, unnest(embedding) AS e,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q_vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (the k-means update
    step / cluster summarization primitive): posexplode to (label, pos,
    value), hash-aggregate mean. Partial aggregation combines map-side,
    so the shuffle carries n_labels × dim partial sums, not the
    exploded rows — the exchange is O(labels · dim) at any corpus
    size."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("e"), 4).alias("centroid"))
    )


# --- dedup clustering (connected components) -------------------------------

# clustering result memoized per (app, corpus identity) — the same
# materialized-intermediate pattern as the IVF codebook
# (operators/similarity.train_centroids_sample): q_dedup_components and
# q_dedup_survivorship are two POLICIES over one clustering, and a
# production dedup pipeline materializes the cluster assignment once,
# not once per consumer. Keyed on the parquet's (mtime, size) so a
# regenerated fixture can never serve a stale clustering; the cached
# plan is an eager localCheckpoint (a few rows per cluster), so the
# second consumer pays a scan of that, not the LSH + CC rounds.
def _components_key(a: dict) -> tuple:
    import os

    path = os.path.abspath(os.path.join(a["sf_dir"], "documents.parquet"))
    st = os.stat(path)
    return (a["spark"].sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)


@substrate("dedup_components", warm=(), key=_components_key)
def _components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    edges = minhash_near_dup(docs, threshold=0.7)
    return connected_components(edges, docs, id_col="doc_id").localCheckpoint(
        eager=True
    )


def _sql_dedup_components(threshold: float) -> str:
    band_eq = " OR ".join(f"a.band{b} = b.band{b}" for b in range(N_BANDS))
    return f"""
    WITH RECURSIVE docs_s AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    bands AS ({_sql_minhash_bands(table="docs_s")}),
    toks AS (SELECT doc_id, {_SQL_DTOKS} AS dtoks FROM docs_s),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ({band_eq})
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN toks ta ON ta.doc_id = cand.id_a
      JOIN toks tb ON tb.doc_id = cand.id_b
      WHERE CASE
              WHEN len(ta.dtoks) + len(tb.dtoks) = 0 THEN 0.0
              ELSE round(
                len(list_intersect(ta.dtoks, tb.dtoks))::DOUBLE /
                (len(ta.dtoks) + len(tb.dtoks)
                 - len(list_intersect(ta.dtoks, tb.dtoks)))::DOUBLE, 6)
            END >= {threshold}
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM docs_s
      UNION
      SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    )
    SELECT id AS doc_id, min(r) AS component, (id = min(r)) AS keep
    FROM reach GROUP BY id
    """


@query("q_dedup_components", oracle=_sql_dedup_components(0.7))
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup clustering: MinHash-LSH near-dup pairs (Jaccard ≥
    0.7) → connected components → one canonical doc per cluster. The
    oracle recomputes the identical pair graph from the shared sketch
    constants and resolves components with a recursive CTE — two
    independent implementations of transitive near-dup closure.

    Runs on a deterministic 1-in-10 id stratum: the synthetic corpus is
    dominated by giant near-dup cliques, so the VERIFIED pair list is
    quadratic in clique size (~4.7M pairs at sf0.1 full-corpus — an
    inherent property of emitting every pair, not of this plan). The
    stratum keeps the demonstration bounded at every tier while
    exercising the identical pipeline; the operators themselves carry
    no such limit.

    The clustering itself comes from the per-(app, corpus)
    materialization cache shared with q_dedup_survivorship (see
    ``_components_cached``) — two policies, one cluster assignment."""
    return _components_cached(spark, sf_dir)


@query(
    "q_tpch_order_dist",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def q_tpch_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order distribution: outer join with an
    ON-clause residual predicate (customers with zero qualifying orders
    must survive with count 0), then a second aggregation over the
    counts. Two shuffles total; the second is over at most
    max(n_orders) distinct keys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q_tpch_big_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    GROUP BY c_name, o_orderkey, o_orderdate
    HAVING sum(l_quantity) > 150
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 10
    """,
)
def q_tpch_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: aggregate lineitem by
    order, HAVING cut, customer attached via broadcast, top-10 via
    TakeOrderedAndProject. The quantity aggregation combines map-side,
    so the shuffle carries one row per order, and the HAVING filter
    runs before the customer join — never after."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_supplier_variety",
    oracle="""
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
    GROUP BY p_brand, p_size
    """,
)
def q_tpch_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier variety: count distinct suppliers per
    part brand/size slice. The part dimension broadcasts with its
    filters applied; count-distinct runs as Spark's two-phase
    partial-aggregate expansion, never a global de-dup pass."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


@query(
    "q_tpch_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND n1.n_nationkey < 4 AND n2.n_nationkey < 4
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q_tpch_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style nation-pair shipping volume by year. Supplier,
    customer, and both nation aliases broadcast; the fact-side shuffle
    is lineitem⋈orders only, and the year() projection folds into the
    aggregate key — no second pass."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 4)
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 4)
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: top-20 customers by
    lost revenue in a half-year window. Customer and nation broadcast;
    TakeOrderedAndProject closes the plan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q_tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion revenue share: one broadcast join, one
    global aggregate — two conditional sums combined map-side, a single
    scalar out."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "q_tpch_disjunctive",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity >= 20 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 25)
    """,
)
def q_tpch_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive predicate join: three OR'd
    brand/size/quantity clauses. The part-side disjunction (brand IN
    the three candidates) is implied and broadcast-applied before the
    join, so the OR only evaluates on joined survivors — the same
    implied-filter derivation Catalyst performs for Q19."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & q.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & q.between(20, 40)
        )
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30) & (q >= 25))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_tpch_dormant_customers",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_tpch_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant high-balance customers: scalar-subquery
    threshold (computed once, folded into the filter) + anti join
    against orders + grouped rollup. The anti join shuffles on custkey;
    the 1-row average broadcasts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "q_unpivot_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 4) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey < 100
    )
    """,
)
def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of Y5's pivot): three measure columns
    become (measure, value) rows via the native ``unpivot`` operator —
    a Generate expansion in the plan, no shuffle and no UNION re-scan
    (the oracle's UNION ALL form reads the table three times; unpivot
    reads it once)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.regexp_replace("measure", "^l_", "").alias("measure"),
            F.round("val", 4).alias("val"),
        )
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A5's general form — rollup and cube are
    its special cases, covered by q_agg_rollup): per-flag, per-status,
    and grand-total rows in ONE pass. Spark expands the sets into a
    single Expand + hash aggregate — one scan and one exchange instead
    of a UNION of three aggregations. Uses the SQL entry path
    (spark.sql over a temp view), which shares Catalyst with the
    DataFrame API — same plan either way."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_resample_ffill",
    oracle="""
    WITH per_day AS (
      SELECT user_id, date_trunc('day', ts) AS d, round(sum(value), 4) AS day_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM per_day GROUP BY 1),
    days AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
      FROM bounds
    ),
    j AS (
      SELECT days.user_id, days.d, day_value
      FROM days LEFT JOIN per_day
        ON per_day.user_id = days.user_id AND per_day.d = days.d
    )
    SELECT user_id, d,
           last_value(day_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value
    FROM j
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: daily per-user totals,
    gaps materialized via sequence()+explode over each user's own
    [min, max] day range, then last-non-null carried forward with an
    ignore-nulls window. The calendar spine is generated per key — no
    driver-side date loop, no cross join against a global calendar —
    and the fill window shuffles once on the same user_id key the
    aggregation already used."""
    ev = _t(spark, sf_dir, "events")
    per_day = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    days = (
        per_day.groupBy("user_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("d"),
        )
    )
    j = days.join(per_day, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "d",
        F.last("day_value", ignorenulls=True).over(w).alias("day_value"),
    )


@query(
    "q_histogram",
    oracle="""
    SELECT least(floor(o_totalprice / 60000)::BIGINT, 9) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram via pure bucket arithmetic
    (floor-division, top bucket clamped) — a single map-side-combinable
    hash aggregate whose exchange carries one row per bucket regardless
    of input size. The arithmetic form (not width_bucket) keeps the
    expression portable across engines."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 60000).cast("bigint"), F.lit(9)
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q_stats_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_discount, l_tax), 8) AS disc_tax_covar,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(var_samp(l_extendedprice), 2) AS price_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_samp / stddev_samp /
    var_samp) per group — all single-pass mergeable moment sketches in
    Spark's hash aggregate, so the exchange is one moments-tuple per
    group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_discount", "l_tax"), 8).alias("disc_tax_covar"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("price_var"),
    )


@query(
    "q_json_typed",
    oracle="""
    SELECT json_extract(props, '$.k')::INT // 10 AS k_decile,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing (F12's strong form): ``from_json`` with an
    explicit schema parses ``props`` ONCE into a struct the rest of the
    plan consumes as ordinary typed columns — vs get_json_object
    re-parsing the string per extraction. At 100 TB the parse cost is
    the scan-dominant term, so single-parse + schema projection is the
    required shape."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "value", F.from_json("props", "k INT").alias("_p")
    )
    return (
        parsed.groupBy(
            (F.col("_p.k") / 10).cast("int").alias("k_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@query(
    "q_array_hof",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(list_sum(list_transform(embedding, x -> (x * x)::DOUBLE)), 4)
             AS sq_sum,
           round(list_max(list_transform(embedding, x -> abs(x)::DOUBLE)), 6)
             AS max_abs
    FROM embeddings
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function battery (F11: filter / transform /
    aggregate lambdas) over the embedding column — all Catalyst
    expressions evaluated inside codegen, no Python. The sq_sum ≈ 1
    doubles as a unit-norm invariant check on the embeddings table."""
    emb = _t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731 - float→double before arithmetic
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + xd(x) * xd(x)
            ),
            4,
        ).alias("sq_sum"),
        F.round(
            F.array_max(F.transform("embedding", lambda x: F.abs(xd(x)))), 6
        ).alias("max_abs"),
    )


@query(
    "q_map_roundtrip",
    oracle="""
    SELECT doc_id, 'lang' AS k1, lang AS v1, 'source' AS k2, source AS v2,
           2 AS n_keys
    FROM documents
    """,
)
def q_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column construction and extraction (F11 map surface):
    build MAP<STRING,STRING> metadata per document, then read it back
    via map_keys / element_at / size. Output is flattened to plain
    columns so the oracle compare stays scalar — the map round-trip
    happens entirely inside the Spark plan (metadata maps are the §1.1
    Document.metadata shape)."""
    docs = _t(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    with_map = docs.select("doc_id", m.alias("_meta"))
    keys = F.map_keys(F.col("_meta"))
    return with_map.select(
        "doc_id",
        keys.getItem(0).alias("k1"),
        F.element_at("_meta", keys.getItem(0)).alias("v1"),
        keys.getItem(1).alias("k2"),
        F.element_at("_meta", keys.getItem(1)).alias("v2"),
        F.size("_meta").alias("n_keys"),
    )


@query(
    "q_join_nullsafe",
    oracle="""
    SELECT c_custkey, n_name
    FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer) c
    JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
      ON c.nk IS NOT DISTINCT FROM n.nk
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` ≡ IS NOT DISTINCT FROM): NULL
    keys match each other instead of dropping out — the semantics
    dirty-key enrichment joins need. Planned as an ordinary hash join
    (null-safe equality is still an equi-key), dimension side
    broadcast. NULLs are planted deterministically via nullif."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk")
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("nk"), "n_name"
    )
    return cust.join(
        F.broadcast(nation), cust.nk.eqNullSafe(nation.nk)
    ).select("c_custkey", "n_name")


@query(
    "q_grouped_regression",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(regr_slope(value, extract(hour FROM ts)), 4) AS slope,
           round(regr_intercept(value, extract(hour FROM ts)), 4) AS intercept,
           round(regr_r2(value, extract(hour FROM ts)), 4) AS r2
    FROM events
    GROUP BY event_type
    """,
)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (Y26's big sibling): value regressed
    on hour-of-day per event_type via the SQL-standard ``regr_*``
    aggregates — slope, intercept, R². Each is an algebraic aggregate
    (sums of x, y, xy, x², y²) that combines map-side, so a 100 TB fit
    is one keyed exchange carrying five partial sums per group — the
    pattern that replaces a driver-side sklearn loop for grouped
    trend fitting."""
    ev = _t(spark, sf_dir, "events")
    y, x = F.col("value"), F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
    )


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS m FROM events GROUP BY event_type),
    y AS (
      SELECT e.user_id, e.event_id, e.value - s.m - 0.5 AS y
      FROM events e JOIN s USING (event_type)
      WHERE e.user_id % 20 = 0),
    p AS (
      SELECT user_id, event_id,
             sum(y) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
      FROM y),
    c AS (
      SELECT user_id, event_id,
             ps - least(0, min(ps) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      FROM p)
    SELECT user_id,
           count(*) AS n_events,
           round(max(cusum), 4) AS cusum_max,
           CAST(sum(CASE WHEN cusum > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           min(CASE WHEN cusum > 5.0 THEN event_id END) AS first_alarm
    FROM c GROUP BY user_id ORDER BY user_id
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user (Page 1954):
    s_i = max(0, s_{i-1} + x_i - target - slack), alarm when s_i
    crosses h — the sequential drift detector that complements
    q_anomaly_zscore's pointwise outliers. The recursive fold is
    rewritten as PURE WINDOW ALGEBRA via the classic identity
    s_i = P_i - min(0, min_{j<=i} P_j) (prefix sum minus running min),
    so no stateful UDF, no iteration: two stacked running windows
    keyed on user_id (parallel per-key sorts), per-type targets
    broadcast back like the z-score stats. At 100 TB: one keyed
    exchange for the windows, one for the per-user report, both
    map-combined."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
    y = (
        ev.filter(F.col("user_id") % 20 == 0)
        .join(F.broadcast(s), "event_type")
        .select(
            "user_id",
            "event_id",
            (F.col("value") - F.col("m") - 0.5).alias("y"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = y.withColumn("ps", F.sum("y").over(w))
    c = p.withColumn(
        "cusum", F.col("ps") - F.least(F.lit(0.0), F.min("ps").over(w))
    )
    return (
        c.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("cusum"), 4).alias("cusum_max"),
            F.sum((F.col("cusum") > 5.0).cast("long")).alias("n_alarms"),
            F.min(F.when(F.col("cusum") > 5.0, F.col("event_id"))).alias(
                "first_alarm"
            ),
        )
        .orderBy("user_id")
    )


# --- Y33: near-dup cluster survivorship (quality-argmax canonical) ----------


def _sql_survivorship() -> str:
    from .functions.text import STOPWORDS
    from .queries_text import _SQL_TOKS

    stop_list = ", ".join(sorted(repr(w) for ws in STOPWORDS.values() for w in ws))
    return f"""
    WITH comp AS ({_sql_dedup_components(0.7)}),
    tokq AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks, list_distinct({_SQL_TOKS}) AS dtoks
      FROM documents WHERE doc_id % 10 = 0
    ),
    qual AS (
      SELECT doc_id,
        round(0.4 * least(len(toks) / 100.0, 1.0)
              + 0.4 * (CASE WHEN len(dtoks) > 0
                  THEN len(list_intersect(dtoks, [{stop_list}]))::DOUBLE / len(dtoks)
                  ELSE 0.0 END)
              + 0.2 * (1.0 - least((CASE WHEN length(text) > 0
                  THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                       / length(text)
                  ELSE 0.0 END) * 5.0, 1.0)), 6) AS quality
      FROM tokq
    ),
    j AS (
      SELECT comp.doc_id, comp.component, qual.quality
      FROM comp JOIN qual ON qual.doc_id = comp.doc_id
    )
    SELECT component, doc_id AS canonical_doc, quality AS canon_quality,
           n_members
    FROM (
      SELECT j.*,
             row_number() OVER (
               PARTITION BY component ORDER BY quality DESC, doc_id ASC
             ) AS rnk,
             count(*) OVER (PARTITION BY component) AS n_members
      FROM j
    ) WHERE rnk = 1
    """


@query("q_dedup_survivorship", oracle=_sql_survivorship())
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster survivorship (Y33): pick the CANONICAL document
    per near-dup cluster by QUALITY argmax instead of min-id — the
    policy step real corpus dedup runs after clustering (C4/RefinedWeb
    keep the best-scoring member, not an arbitrary one; min-id keeps
    whatever crawled first). Composes the verified pieces: MinHash-LSH
    pair graph → connected components (q_dedup_components' plan) →
    quality score (q_quality_score's formula) → per-cluster argmax.

    The argmax is a window over rows-per-cluster (bounded by clique
    size), ordered on the ROUNDED quality with a doc-id tie-break so
    both engines resolve ties identically. Same 1-in-10 stratum and
    O(log-diameter) CC rounds as q_dedup_components; the only addition
    is one cluster-keyed window — nothing here grows faster than the
    cluster graph itself."""
    from .functions.text import quality_score

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    cc = _components_cached(spark, sf_dir)
    qual = docs.select("doc_id", quality_score("text").alias("quality"))
    j = cc.select("doc_id", "component").join(qual, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rnk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality").alias("canon_quality"),
            "n_members",
        )
    )
