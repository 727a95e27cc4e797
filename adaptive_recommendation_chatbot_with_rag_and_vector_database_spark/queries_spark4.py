"""Spark-4 surface wave 8 (SURVEY §2.18 S9/D5/F13): the engine-native
APIs Spark 4 added for exactly the boundaries the reference crosses in
ad-hoc Python — a parallel Python DataSource (its PyPDFLoader loop,
/root/reference/AI.py:61-81, as a planned scan), a Python UDTF lateral
chunker (its text splitter, AI.py:83-86, as a table function), and
VARIANT semi-structured access (typed JSON without a fixed schema).

All three have exact DuckDB oracles: the data source is a
deterministic LCG generator DuckDB re-derives from ``range()``; the
UDTF's chunks are re-derived with ``substr`` arithmetic; VARIANT
extraction is re-derived with ``json_extract``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .sources.loaders import load_table, local_frame
from .sources.pyds import _LCG_A, _LCG_C, _LCG_M, _TAG_MOD

_GEN_ROWS = 20000
_GEN_PARTS = 8
_CHUNK = 120


# --- S9: Python DataSource --------------------------------------------------


@query(
    "q_python_datasource",
    oracle=f"""
    SELECT 'u' || (i % {_TAG_MOD}) AS tag,
           count(*) AS n,
           CAST(sum((i * {_LCG_A} + {_LCG_C}) % {_LCG_M}) AS BIGINT) AS sum_h,
           min(i) AS first_id
    FROM range(0, {_GEN_ROWS}) t(i)
    GROUP BY tag
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom parallel source via the Spark 4 Python DataSource API
    (S9): the planner asks ``SynthGenDataSource`` for input partitions
    ({_GEN_PARTS} keyspace ranges), each executor generates its split
    with no driver participation, and the rows enter the plan as an
    ordinary scan. This is the planned-scan form of the reference's
    loader loop (thread-pooled PyPDFLoader, AI.py:74-81) — and the
    shape a custom API/queue/shard reader needs at 100 TB: one
    partition per shard, executor-side generation, aggregation on top
    like any table."""
    from .sources.pyds import register

    register(spark)
    df = (
        spark.read.format("synthgen")
        .option("rows", _GEN_ROWS)
        .option("parts", _GEN_PARTS)
        .load()
    )
    return df.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h").alias("sum_h"),
        F.min("id").alias("first_id"),
    )


# --- D5: Python UDTF lateral chunker ----------------------------------------


@query(
    "q_udtf_chunks",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(len(text) / {_CHUNK}.0) AS BIGINT)))
               AS chunk_id
      FROM documents
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           md5(substr(text, CAST(chunk_id * {_CHUNK} + 1 AS INT), {_CHUNK}))
             AS chunk_md5,
           least({_CHUNK}, len(text) - CAST(chunk_id AS INT) * {_CHUNK})
             AS chunk_len
    FROM c
    """,
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join (D5): a table function fans each
    document into fixed-{_CHUNK}-char chunks — the reference's text
    splitter (AI.py:83-86) as the Spark-4 ``@udtf`` surface. The
    row-fanning runs where the rows live (per-partition, no shuffle);
    the md5 emitted per chunk makes the output hash-checkable. The
    SCALE-preferred form of this exact semantic remains the Catalyst
    array chunker + posexplode (functions/chunker.py, D2) — a UDTF is
    the API for fan-outs that genuinely need imperative Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, chunk_md5 string, chunk_len int")
    class FixedChunks:
        def eval(self, text, size):
            import hashlib

            if text is None:
                return
            i, cid = 0, 0
            while i < len(text):
                piece = text[i : i + size]
                yield (
                    cid,
                    hashlib.md5(piece.encode("utf-8")).hexdigest(),
                    len(piece),
                )
                cid += 1
                i += size

    spark.udtf.register("fixed_chunks", FixedChunks)
    docs = load_table(spark, "documents", sf_dir)
    docs.createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_id, c.chunk_md5, c.chunk_len
        FROM udtf_docs_v d, LATERAL fixed_chunks(d.text, {_CHUNK}) c
        """
    )


# --- F13: VARIANT semi-structured access ------------------------------------


@query(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
           max(json_extract(props, '$.k')::INT) AS max_k,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured access (F13, Spark 4): ``parse_json``
    encodes props into the binary VARIANT form once; typed access via
    ``try_variant_get`` needs no up-front schema — the middle ground
    between ``get_json_object`` (re-parse per extraction) and
    ``from_json`` (fixed schema, F12's q_json_typed). At 100 TB
    VARIANT's parse-once binary encoding is the schemaless fast path
    for evolving event payloads."""
    ev = load_table(spark, "events", sf_dir)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return ev.select("event_type", "value", k.alias("k")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- Q1: recursive CTE (Spark 4.1 WITH RECURSIVE) ---------------------------


_REC_MAX_KEY = 127  # bounded ancestry frontier: depth ≤ log2(127) = 7


@query(
    "q_recursive_cte",
    oracle=f"""
    WITH RECURSIVE anc(p_partkey, node, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= {_REC_MAX_KEY}
      UNION ALL
      SELECT p_partkey, node // 2, depth + 1 FROM anc WHERE node > 1
    )
    SELECT p_partkey,
           max(depth) AS depth,
           CAST(sum(node) AS BIGINT) AS path_sum
    FROM anc GROUP BY p_partkey ORDER BY p_partkey
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 ``WITH RECURSIVE``): walk each part's
    assembly ancestry up a binary parent tree (parent = key DIV 2),
    emitting per-part depth and ancestor-key checksum. The engine
    executes recursion as iterate-until-empty-frontier distributed
    union steps — each iteration one keyed join/scan over ONLY the
    still-active frontier, the same convergence shape as the
    connected-components operator (operators/dedup.py) — so a
    1000-executor hierarchy walk (BOM explosion, org rollup, graph
    reachability) is log-depth in rounds, never a driver loop. The
    frontier here is key-bounded so the result is identical at every
    sf. Spark-side integer division is ``DIV`` (SQL ``/`` widens to
    DOUBLE and would fail the recursive branch-type merge); DuckDB's
    is ``//``."""
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql(
        f"""
        WITH RECURSIVE anc(p_partkey, node, depth) AS (
          SELECT p_partkey, p_partkey, 0
          FROM part WHERE p_partkey <= {_REC_MAX_KEY}
          UNION ALL
          SELECT p_partkey, node DIV 2, depth + 1 FROM anc WHERE node > 1
        )
        SELECT p_partkey,
               max(depth) AS depth,
               CAST(sum(node) AS BIGINT) AS path_sum
        FROM anc GROUP BY p_partkey ORDER BY p_partkey
        """
    )


# --- Q2: SQL pipe syntax (Spark 4 |> operators) -----------------------------


@query(
    "q_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>``): the TPC-H Q1 shape written as
    a linear pipeline — FROM |> WHERE |> AGGREGATE … GROUP BY |> ORDER
    BY — the composable form Spark 4 added so multi-step SQL reads in
    dataflow order. Catalyst lowers it to the IDENTICAL logical plan
    as the nested form (filter pushed to the scan, partial aggregates
    map-side), so the surface is free at any scale; the oracle is the
    classic syntax, proving plan equivalence by value hash."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity < 25
        |> AGGREGATE count(*) AS n,
                     round(sum(l_extendedprice), 2) AS sum_price,
                     round(avg(l_discount), 6) AS avg_disc
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_price, avg_disc
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# --- Q3: correlated LATERAL subquery top-k per group ------------------------


@query(
    "q_lateral_topk",
    oracle="""
    SELECT r.r_name, t.n_name, round(t.tot, 2) AS tot
    FROM region r,
    LATERAL (
      SELECT n.n_name, sum(c.c_acctbal) AS tot
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name ORDER BY tot DESC, n.n_name LIMIT 2
    ) t
    ORDER BY r.r_name, tot DESC, t.n_name
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4): per region, the top-2
    nations by total customer balance, expressed as the SQL-standard
    lateral join rather than a window + filter. Catalyst decorrelates
    the subquery into a join + per-group limit over the outer keys —
    the same WindowGroupLimit physical shape as the O3 per-group top-k
    — so the lateral form costs one keyed aggregation regardless of
    outer cardinality; nothing re-executes per outer row the way the
    syntax suggests. The oracle is DuckDB's native LATERAL, same
    text."""
    for t in ("region", "nation", "customer"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, round(t.tot, 2) AS tot
        FROM region r,
        LATERAL (
          SELECT n.n_name, sum(c.c_acctbal) AS tot
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name ORDER BY tot DESC, n.n_name LIMIT 2
        ) t
        ORDER BY r.r_name, tot DESC, t.n_name
        """
    )


# --- Q4: collation-aware grouping (Spark 4 collations) ----------------------


@query(
    "q_collated_groupby",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               AS v
      FROM documents)
    SELECT min(v) AS canon, count(*) AS n
    FROM mixed GROUP BY lower(v) ORDER BY canon
    """,
)
def q_collated_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): a deterministic
    half-uppercased copy of the source column groups under
    ``collate(v, 'UTF8_LCASE')`` — the engine-level case-insensitive
    equality that replaces scattering ``lower()`` into every
    expression; under a collation, comparisons, GROUP BY, and joins
    are all case-insensitive while the stored bytes stay untouched.
    Because the collated group's representative value is
    partition-order-dependent, the output canonicalizes with
    ``min(v)`` (binary min — deterministic), which is also exactly how
    the lower()-based oracle labels its groups. At 100 TB collation
    pushes the case-folding into the hash/compare path (no derived
    column, no double storage)."""
    mixed = load_table(spark, "documents", sf_dir).select(
        F.when(
            F.col("doc_id") % 2 == 0, F.upper("source")
        ).otherwise(F.col("source")).alias("v")
    )
    return (
        mixed.groupBy(F.collate(F.col("v"), "UTF8_LCASE").alias("g"))
        .agg(F.min("v").alias("canon"), F.count(F.lit(1)).alias("n"))
        .select("canon", "n")
        .orderBy("canon")
    )


# --- Q5: inline observed metrics (df.observe) -------------------------------


@query(
    "q_observe_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_null_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(min(l_discount), 4) AS min_disc,
           round(max(l_discount), 4) AS max_disc
    FROM lineitem
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline observed metrics (``df.observe`` + ``Observation``, the
    Spark data-quality-gate surface): accumulator-style aggregates
    computed DURING a workload query's own scan — row count, null
    count, value bounds — with ZERO extra pass over the data. This is
    how a 100 TB pipeline gets its per-run quality report for free: the
    metrics ride the tasks of the query the user already paid for
    (versus q_data_profile's dedicated profiling scan). The observed
    pipeline here is the Q1-style aggregate; the metrics surface as a
    1-row DataFrame the oracle re-derives with plain SQL."""
    from pyspark.sql import Observation
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    li = load_table(spark, "lineitem", sf_dir)
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_null_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_discount"), 4).alias("max_disc"),
    )
    # the workload the metrics piggyback on (its result is the user's;
    # here it just drives the action that materializes the observation)
    observed.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q")
    ).collect()
    m = obs.get
    schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("n_null_qty", LongType()),
            StructField("sum_price", DoubleType()),
            StructField("min_disc", DoubleType()),
            StructField("max_disc", DoubleType()),
        ]
    )
    return local_frame(
        spark,
        [
            (
                m["n_rows"],
                m["n_null_qty"],
                float(m["sum_price"]),
                float(m["min_disc"]),
                float(m["max_disc"]),
            )
        ],
        schema,
    )


# --- Q6: parameterized SQL (named parameter markers) ---------------------------


@query(
    "q_param_sql",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity >= 30 AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Q6, wave 33): Spark 4's parameterized
    ``spark.sql(query, args={...})`` — literals bind server-side as
    typed parameter markers (no string splicing, injection-safe, and
    the plan cache can reuse across bindings). The bound predicate
    must still reach the parquet scan as a pushed filter — parameter
    markers constant-fold before pushdown (pinned in
    tests/test_plans.py)."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView(
        "lineitem_param"
    )
    return spark.sql(
        """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem_param
        WHERE l_quantity >= :minqty AND l_shipdate < :cutoff
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        args={"minqty": 30, "cutoff": "1997-01-01"},
    )


# --- Q7: SQL-language scalar UDF (CREATE FUNCTION ... RETURN) --------------------


@query(
    "q_sql_udf",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS charged
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar function (Q7, wave 34): Spark 4's
    ``CREATE FUNCTION ... RETURNS ... RETURN expr`` — the UDF form
    that stays INSIDE Catalyst (the body inlines into the plan as an
    expression, keeps whole-stage codegen, and needs no Python worker
    round-trip; contrast D1's pandas UDFs, which exist for logic SQL
    cannot express). The oracle inlines the same expression — if the
    function body ever stopped inlining, the values would still match
    but the plan pin (no BatchEvalPython, codegen'd project) would
    fail."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView(
        "lineitem_sqludf"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(charged_price(l_extendedprice, l_discount, l_tax)), 2)
                 AS charged
        FROM lineitem_sqludf GROUP BY l_linestatus ORDER BY l_linestatus
        """
    )
