"""Training-set construction wave 13 (SURVEY §2.23): the operators
that turn a curated corpus into model-ready examples — per-language
weighted systematic sampling (quality-weighted corpus thinning with
integer-exact determinism), contrastive adjacent-chunk pair generation
(self-supervised pretraining pairs over a fixed chunk grid — the
reference's production grid is chunk_size=1000 per
/root/reference/AI.py:84,209; the registered query uses a
fixture-sized 120), and BM25-positive /
seeded-negative retrieval triplets (the triplet-mining step that would
fine-tune the reference's retriever).

Every query has an exact DuckDB oracle. Determinism sources: the
sampling decision is INTEGER arithmetic over a seeded-hash order
(no ln/pow/rand — no cross-libm float risk at the selection
boundary); chunk pairs are re-derived with 1-based substr arithmetic
on both engines; triplet negatives come from the same multiplicative
hash family as q_shuffle_shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.tokenize import SQL_TOKS, toks_col
from .operators.ranking import bm25_oracle_parts, bm25_scores
from .registry import query
from .sources.loaders import doc_tokens, load_table

_SAMPLE_STRIDE = 5000  # chars of cumulative weight per kept document
_MULT = 2654435761
_MOD = 2147483647
_SAMPLE_SEED = 424242
_NEG_SEED = 777777

# The operator is grid-parameterized; the registered query uses a
# fixture-sized 120-char grid (the synthetic documents cap at ~580
# chars, so the reference's production chunk_size=1000 — AI.py:84,209 —
# would yield single-chunk docs and zero pairs). The chunker operator
# itself (functions/chunker.py) keeps the reference's 1000 default.
_CHUNK = 120
_TRIPLET_K = 5


# --- L1: per-language weighted systematic sampling -------------------------


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id, n_chars,
             (doc_id * {_MULT} + {_SAMPLE_SEED}) % {_MOD} AS h
      FROM documents),
    c AS (
      SELECT lang, doc_id, n_chars,
             sum(n_chars) OVER (
               PARTITION BY lang ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h),
    flag AS (
      SELECT lang, doc_id, n_chars,
             CASE WHEN CAST(floor((cum - n_chars) / {_SAMPLE_STRIDE})
                          AS BIGINT)
                       < CAST(floor(cum / {_SAMPLE_STRIDE}) AS BIGINT)
                  THEN 1 ELSE 0 END AS keep
      FROM c)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS sampled_chars,
           CAST(sum(CASE WHEN keep = 1 THEN doc_id ELSE 0 END) AS BIGINT)
             AS sampled_id_sum
    FROM flag GROUP BY lang ORDER BY lang
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic sampling per language: documents stream in
    seeded-hash order, a running weight (n_chars) accumulates, and a
    document is kept exactly when its weight span crosses a stride
    boundary — one expected sample per 5 000 chars of corpus weight,
    so selection probability is proportional to weight. Every decision
    is INTEGER arithmetic (hash order + integer division), not
    exp/log/rand — bit-identical on any engine, replayable on retry
    (the property rand()-based weighted samplers lose). The prefix sum
    is a window keyed on lang (parallel per-key); at 100 TB the same
    semantics shard further via the two-phase prefix sum (per-partition
    partials + broadcast offsets, the q_pack_sequences pattern).
    ``sampled_id_sum`` checksums the exact kept set."""
    h = load_table(spark, "documents", sf_dir).select(
        "lang",
        "doc_id",
        "n_chars",
        ((F.col("doc_id") * _MULT + _SAMPLE_SEED) % _MOD).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = h.withColumn("cum", F.sum("n_chars").over(w))
    flag = c.withColumn(
        "keep",
        (
            F.floor((F.col("cum") - F.col("n_chars")) / _SAMPLE_STRIDE)
            < F.floor(F.col("cum") / _SAMPLE_STRIDE)
        ).cast("int"),
    )
    return (
        flag.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_sampled"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0)).alias(
                "sampled_chars"
            ),
            F.sum(F.when(F.col("keep") == 1, F.col("doc_id")).otherwise(0)).alias(
                "sampled_id_sum"
            ),
        )
        .orderBy("lang")
    )


# --- L2: contrastive adjacent-chunk pairs ----------------------------------


@query(
    "q_contrastive_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(floor((length(text) - 1) / {_CHUNK}) AS BIGINT) + 1
               AS n_chunks
      FROM documents
      WHERE doc_id % 10 = 0 AND length(text) > 0),
    p AS (
      SELECT doc_id, i AS pair_idx,
             md5(substr(text, i * {_CHUNK} + 1, {_CHUNK})) AS left_md5,
             md5(substr(text, (i + 1) * {_CHUNK} + 1, {_CHUNK})) AS right_md5
      FROM d, unnest(range(0, n_chunks - 1)) g(i))
    SELECT doc_id, pair_idx, left_md5, right_md5
    FROM p ORDER BY doc_id, pair_idx
    """,
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pretraining pairs: each document yields its
    (chunk_i, chunk_{i+1}) adjacent pairs on a fixed chunk grid
    (120 chars here — fixture-sized; production uses the reference's
    1000) — the self-supervised positives a contrastive retriever
    trains on (hard negatives come from q_retrieval_triplets). Pure
    scan-side fan-out: ``sequence`` + ``posexplode`` generate pair
    indices where the document row lives and both chunk hashes come
    from in-row ``substr`` — NO join, NO window, NO shuffle except the
    output ordering. At 100 TB this runs at scan speed with output
    ~|corpus|/chunk rows; emitting md5s (not chunk text) keeps the
    exchange narrow."""
    d = (
        load_table(spark, "documents", sf_dir)
        .filter((F.col("doc_id") % 10 == 0) & (F.length("text") > 0))
        .select(
            "doc_id",
            "text",
            (F.floor((F.length("text") - 1) / _CHUNK) + 1).alias("n_chunks"),
        )
    )
    pairs = d.select(
        "doc_id",
        "text",
        F.posexplode(
            F.when(
                F.col("n_chunks") >= 2,
                F.sequence(F.lit(0), (F.col("n_chunks") - 2).cast("int")),
            ).otherwise(F.array())
        ).alias("pair_idx", "i"),
    )
    return (
        pairs.select(
            "doc_id",
            F.col("i").cast("long").alias("pair_idx"),
            F.md5(
                F.expr(f"substring(text, i * {_CHUNK} + 1, {_CHUNK})")
            ).alias("left_md5"),
            F.md5(
                F.expr(f"substring(text, (i + 1) * {_CHUNK} + 1, {_CHUNK})")
            ).alias("right_md5"),
        ).orderBy("doc_id", "pair_idx")
    )


# --- L3: BM25-positive / seeded-negative retrieval triplets ----------------

_TRIPLET_TERMS = ["vector", "hash", "join"]  # same lexical query as R1

_T_CTES, _T_SELECT = bm25_oracle_parts(_TRIPLET_TERMS, "documents")


@query(
    "q_retrieval_triplets",
    oracle=f"""
    WITH {_T_CTES},
    bm AS ({_T_SELECT}),
    pos AS (
      SELECT doc_id AS pos_doc, bm25,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_TRIPLET_K}),
    neg AS (
      SELECT doc_id AS neg_doc,
             row_number() OVER (
               ORDER BY (doc_id * {_MULT} + {_NEG_SEED}) % {_MOD}, doc_id)
               AS rank
      FROM documents
      WHERE doc_id NOT IN (SELECT pos_doc FROM pos)
      ORDER BY (doc_id * {_MULT} + {_NEG_SEED}) % {_MOD}, doc_id
      LIMIT {_TRIPLET_K})
    SELECT pos.rank, pos.pos_doc, pos.bm25 AS pos_score, neg.neg_doc
    FROM pos JOIN neg USING (rank) ORDER BY rank
    """,
)
def q_retrieval_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval training triplets: the BM25 top-5 are the positives,
    and 5 seeded-hash-ordered non-positive documents are the (random
    but REPLAYABLE) negatives, zipped by rank — the triplet-mining
    step that fine-tunes a retriever like the reference's. Both cuts
    are TakeOrderedAndProject heaps; the rank windows then run over
    the bounded 5-row frames (the rrf_fuse discipline); the negative
    side excludes positives via a broadcast anti-join. Nothing
    data-sized shuffles: scoring is scan-side, the two 5-row lists
    join by rank."""
    docs = load_table(spark, "documents", sf_dir)
    bm = bm25_scores(docs, _TRIPLET_TERMS)
    pos = (
        bm.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TRIPLET_K)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .select(F.col("doc_id").alias("pos_doc"), F.col("bm25"), "rank")
    )
    neg_h = (F.col("doc_id") * _MULT + _NEG_SEED) % _MOD
    neg = (
        docs.select("doc_id", neg_h.alias("h"))
        .join(
            F.broadcast(pos.select(F.col("pos_doc").alias("doc_id"))),
            "doc_id",
            "left_anti",
        )
        .orderBy("h", "doc_id")
        .limit(_TRIPLET_K)
        .withColumn("rank", F.row_number().over(Window.orderBy("h", "doc_id")))
        .select(F.col("doc_id").alias("neg_doc"), "rank")
    )
    return (
        pos.join(neg, "rank")
        .select("rank", "pos_doc", F.col("bm25").alias("pos_score"), "neg_doc")
        .orderBy("rank")
    )


# --- L4: length-bucketed batching / padding-efficiency report ---------------

_PAD_BUCKET = 64  # tokens per length bucket


@query(
    "q_padding_efficiency",
    oracle=f"""
    WITH lens AS (
      SELECT greatest(len({SQL_TOKS}), 1) AS tok_len
      FROM documents),
    b AS (
      SELECT ((tok_len - 1) // {_PAD_BUCKET}) AS bucket, tok_len FROM lens)
    SELECT bucket,
           count(*) AS n_docs,
           max(tok_len) AS max_len,
           CAST(sum(tok_len) AS BIGINT) AS sum_len,
           CAST(count(*) * max(tok_len) - sum(tok_len) AS BIGINT)
             AS pad_waste,
           round(CAST(sum(tok_len) AS DOUBLE)
                 / (count(*) * max(tok_len)), 6) AS efficiency
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report (L4): assign each document to a
    64-token length bucket and measure the padding a
    fixed-shape training batch built from that bucket would waste
    (bucket-max minus actual length, summed). This is the feedback
    metric for sequence-packing/batching policy — comparing its
    ``pad_waste`` against q_pack_sequences' packed output quantifies
    what first-fit packing saves. One scan (token count is scan-side
    Catalyst), one keyed aggregation; at 100 TB the exchange carries
    one partial per (partition, bucket) — nothing pairwise, nothing
    collected."""
    # Rides the session doc_tokens substrate (tokenize once, shared
    # with q_curriculum_buckets / q_span_corruption / q_token_count);
    # n_tok is the same int F.size(toks_col) produced standalone.
    lens = doc_tokens(spark, sf_dir).select(
        F.greatest(F.col("n_tok"), F.lit(1)).alias("tok_len")
    )
    b = lens.withColumn(
        "bucket",
        F.floor((F.col("tok_len") - 1) / _PAD_BUCKET).cast("long"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tok_len").alias("max_len"),
        F.sum("tok_len").cast("long").alias("sum_len"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "max_len",
        "sum_len",
        (F.col("n_docs") * F.col("max_len") - F.col("sum_len"))
        .cast("long")
        .alias("pad_waste"),
        F.round(
            F.col("sum_len").cast("double")
            / (F.col("n_docs") * F.col("max_len")),
            6,
        ).alias("efficiency"),
    ).orderBy("bucket")


# --- L5: per-group quantile normalization -----------------------------------


@query(
    "q_quantile_normalize",
    oracle="""
    WITH pr AS (
      SELECT source, n_chars,
             round(percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars), 6) AS pr
      FROM documents)
    SELECT source,
           least(CAST(floor(pr * 10) AS BIGINT), 9) AS decile,
           count(*) AS n_docs,
           round(avg(pr), 4) AS avg_pr,
           min(n_chars) AS lo,
           max(n_chars) AS hi
    FROM pr GROUP BY source, decile ORDER BY source, decile
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization (L5): map each document's
    length onto its source-relative percentile (``percent_rank``, the
    rank-based normalization that makes quality/length thresholds
    comparable ACROSS sources with different scales — the reason a
    global n_chars cutoff over-prunes one crawl and under-prunes
    another), then report per-(source, decile) occupancy and value
    ranges. One window keyed on source (parallel per key, sort bounded
    by group size) and one keyed aggregation; at 100 TB the same
    normalization runs from a per-source quantile sketch
    (``approx_percentile``) instead of an exact rank — exact here so
    the oracle hash-checks. Rounding discipline: pr rounded to 6 before
    the decile/avg (identical rational (rank−1)/(n−1) on both engines),
    avg rounded to 4 (reassociated sum)."""
    docs = load_table(spark, "documents", sf_dir)
    pr = docs.select(
        "source",
        "n_chars",
        F.round(
            F.percent_rank().over(
                Window.partitionBy("source").orderBy("n_chars")
            ),
            6,
        ).alias("pr"),
    )
    return (
        pr.withColumn(
            "decile",
            F.least(F.floor(F.col("pr") * 10).cast("long"), F.lit(9)),
        )
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("pr"), 4).alias("avg_pr"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("source", "decile")
    )


# --- W20/L6: hashing-trick feature vectors -----------------------------------

#: hashed feature dimensionality; sign comes from the next hash bit so
#: collisions cancel in expectation (the Weinberger et al. trick)
_FH_DIM = 64
_FH_P = 2147483647


@query(
    "q_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_FH_P} AS h
      FROM toks)
    SELECT doc_id,
           CAST(h % {_FH_DIM} AS BIGINT) AS bucket,
           CAST(sum(1 - 2 * ((h // {_FH_DIM}) % 2)) AS BIGINT) AS val
    FROM hashed GROUP BY doc_id, h % {_FH_DIM}
    HAVING sum(1 - 2 * ((h // {_FH_DIM}) % 2)) <> 0
    ORDER BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectors (W20/L6): fixed-{_FH_DIM}-dim
    signed token-count features per document — bucket = h(token) mod
    {_FH_DIM}, sign from the next hash bit so colliding tokens cancel
    in expectation rather than bias upward (Weinberger et al.'s signed
    hashing) — the vocabulary-free featurizer that needs NO fitted
    dictionary, no vocabulary shuffle, and no coordination between
    training and serving: the hash IS the feature map. Zero-cancelled
    cells are dropped (sparse output).

    The hash is the engine-wide portable md5-prefix (functions/text.py
    F6 contract), so both engines bucket identically byte-for-byte;
    values are exact integer sums.

    Plan shape: token explode → ONE (doc, bucket) aggregate with
    map-side partials (per-doc partial state ≤ {_FH_DIM} cells);
    output is linear in documents with a hard {_FH_DIM}-row per-doc
    cap. At 100 TB this is a single amplified-then-combined scan —
    the same shape as X13's entropy, with the hash as the group key."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.explode(toks_col("text")).alias("tok")
    )
    hashed = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % _FH_P
        ).alias("h"),
    )
    sign = 1 - 2 * ((F.col("h") / _FH_DIM).cast("long") % 2)
    return (
        hashed.select(
            "doc_id", (F.col("h") % _FH_DIM).cast("long").alias("bucket"),
            sign.alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("long").alias("val"))
        .filter(F.col("val") != 0)
        .orderBy("doc_id", "bucket")
    )


# --- L7: point-in-time churn label construction ------------------------------

_CHURN_HORIZON_DAYS = 14


@query(
    "q_churn_labels",
    oracle=f"""
    WITH cutoff AS (
      SELECT max(CAST(ts AS DATE)) - {_CHURN_HORIZON_DAYS} AS c FROM events),
    pre AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events_pre,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS active_days_pre,
             CAST((SELECT c FROM cutoff) - max(CAST(ts AS DATE)) AS BIGINT)
               AS recency_days
      FROM events WHERE CAST(ts AS DATE) <= (SELECT c FROM cutoff)
      GROUP BY user_id),
    post AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(ts AS DATE) > (SELECT c FROM cutoff))
    SELECT pre.user_id, n_events_pre, active_days_pre, recency_days,
           CASE WHEN post.user_id IS NULL THEN 1 ELSE 0 END AS churned
    FROM pre LEFT JOIN post ON pre.user_id = post.user_id
    ORDER BY pre.user_id
    """,
)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time churn label construction (L7): the training-set
    builder every churn model needs and most leak — features computed
    ONLY from events at or before a cutoff (the data's last day minus
    the horizon), the label from whether the user reappears after it.
    Computing both from one table with an explicit cutoff makes the
    temporal boundary auditable (q_feature_backfill is the general PIT
    join; this is the label side). Scale shape: one pushdown-filtered
    pre-cutoff aggregate per user, a distinct post-cutoff user set,
    and a left anti-shaped join for the label — all user-keyed; the
    cutoff is a 1-row broadcast."""
    # r12 scan-dupe paydown (guide §5): the cutoff scalar, pre-cutoff
    # features and post-cutoff return set each re-scanned events — ONE
    # (user, day) count rollup now feeds all three (lazy checkpoint,
    # |user×day| rows). Exact-integer re-derivations: n_events_pre =
    # Σ per-day counts, active_days = count of day rows, max(day) and
    # the cutoff unchanged — value-identical to the per-scan forms.
    dc = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    cutoff = dc.agg(
        F.date_sub(F.max("day"), _CHURN_HORIZON_DAYS).alias("c")
    )
    pre = (
        dc.crossJoin(F.broadcast(cutoff))
        .filter(F.col("day") <= F.col("c"))
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events_pre"),
            F.count(F.lit(1)).cast("long").alias("active_days_pre"),
            F.datediff(F.first("c"), F.max("day"))
            .cast("long")
            .alias("recency_days"),
        )
    )
    post = (
        dc.crossJoin(F.broadcast(cutoff))
        .filter(F.col("day") > F.col("c"))
        .select("user_id")
        .distinct()
        .withColumn("_returned", F.lit(1))
    )
    return (
        pre.join(post, "user_id", "left")
        .select(
            "user_id",
            "n_events_pre",
            "active_days_pre",
            "recency_days",
            F.when(F.col("_returned").isNull(), 1).otherwise(0).alias("churned"),
        )
        .orderBy("user_id")
    )


# --- L8: deterministic negative sampling for recommender training ------------

_NEG_DRAWS = 15  # LCG candidate draws per customer
_NEG_K = 5  # negatives kept per customer
_NEG_A = 1103515245
_NEG_C = 12345
_NEG_M = 1048576  # 2^20: exact in a double; mod-first keeps int64 exact


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
    pos AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    draws AS (
      SELECT c.c_custkey, i.i,
             ((c.c_custkey % {_NEG_M}) * {_NEG_A} + i.i * {_NEG_C} + 7)
               % {_NEG_M} % (SELECT n FROM np) + 1 AS cand
      FROM customer c,
           (SELECT unnest(generate_series(1, {_NEG_DRAWS})) AS i) i),
    dedup AS (
      SELECT c_custkey, cand, CAST(min(i) AS BIGINT) AS mi
      FROM draws GROUP BY 1, 2),
    neg AS (
      SELECT d.c_custkey, d.cand, d.mi
      FROM dedup d ANTI JOIN pos p
        ON d.c_custkey = p.o_custkey AND d.cand = p.l_partkey),
    ranked AS (
      SELECT c_custkey, cand AS neg_partkey, mi,
             CAST(row_number() OVER (
               PARTITION BY c_custkey ORDER BY mi) AS BIGINT) AS rnk
      FROM neg)
    SELECT c_custkey, neg_partkey, rnk
    FROM ranked WHERE rnk <= {_NEG_K}
    ORDER BY c_custkey, rnk
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (L8, wave 35): for every
    customer, draw candidate parts with a seeded mod-first LCG, drop
    the ones the customer actually bought (the positives), and keep the
    first k as training negatives — the contrastive counterpart to
    L3's retrieval triplets, and the sampler every implicit-feedback
    recommender (ALS included, V6) trains against. A rand()-based
    sampler is unreplayable across engines and task retries; the LCG
    replays anywhere (the M1/M4/G4 discipline) and the mod-first form
    keeps every intermediate < 2^51, exact in int64 on both engines.

    Scale shape: candidates are draws×|customers| rows built by an
    in-row sequence explode (no join against the part table — the
    candidate IS arithmetic); the only fact-sized exchanges are the
    positives' distinct and the (cust, part)-keyed anti-join, both
    keyed on the pair. Rejection never starves k: draws are 3× k and
    positives are sparse in the catalog at scale. The +1 after the
    modulo maps draws onto the 1-based partkey range [1, n]: without
    it, partkey 0 (nonexistent) could be drawn and partkey n never."""
    from .queries_curation import _bipartite_edges

    cust = load_table(spark, "customer", sf_dir)
    n_parts = load_table(spark, "part", sf_dir).count()
    # the positives ARE the session bipartite co-purchase edge
    # checkpoint (identical distinct (custkey, partkey) rows) — shared
    # with q_graph_walk, r11
    pos = _bipartite_edges(spark, sf_dir)[0].select(
        F.col("c").alias("o_custkey"), F.col("p").alias("l_partkey")
    )
    draws = cust.select(
        "c_custkey",
        F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))).alias("i"),
    ).select(
        "c_custkey",
        "i",
        (
            (
                (F.col("c_custkey") % _NEG_M) * _NEG_A
                + F.col("i") * _NEG_C
                + 7
            )
            % _NEG_M
            % n_parts
            + 1
        ).alias("cand"),
    )
    dedup = draws.groupBy("c_custkey", "cand").agg(
        F.min("i").cast("long").alias("mi")
    )
    neg = dedup.join(
        pos,
        (dedup.c_custkey == pos.o_custkey) & (dedup.cand == pos.l_partkey),
        "left_anti",
    )
    w = Window.partitionBy("c_custkey").orderBy("mi")
    return (
        neg.select(
            "c_custkey",
            F.col("cand").alias("neg_partkey"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= _NEG_K)
        .orderBy("c_custkey", "rnk")
    )


# --- L9: T5-style deterministic span-corruption masks -------------------------

_SPAN_LEN = 3  # mean/fixed corrupted-span length (T5 mu=3)
_SPAN_TOK_RATIO = 20  # one span per 20 tokens ~= 15% mask at len 3


@query(
    "q_span_corruption",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len({SQL_TOKS}) AS n FROM documents),
    plan AS (
      SELECT doc_id, n,
             greatest(1, n // {_SPAN_TOK_RATIO}) AS n_spans,
             n // greatest(1, n // {_SPAN_TOK_RATIO}) AS stride
      FROM tok WHERE n >= {_SPAN_LEN}),
    spans AS (
      SELECT doc_id, n, n_spans,
             CAST(list_sum(
               [least({_SPAN_LEN},
                      n - (j * stride
                           + ((doc_id % {_NEG_M}) * {_NEG_A} + j * {_NEG_C} + 13)
                             % {_NEG_M} % (stride - {_SPAN_LEN - 1}) + 1) + 1)
                for j in range(0, n_spans)]) AS BIGINT) AS masked
      FROM plan)
    SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
           CAST(n_spans AS BIGINT) AS n_spans,
           masked AS masked_tokens,
           round(masked / CAST(n AS DOUBLE), 4) AS mask_ratio
    FROM spans ORDER BY doc_id
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask plan (L9, wave 36): for every
    document, place one length-3 corruption span per 20 tokens at a
    seeded-LCG offset WITHIN its own stride segment (spans are
    non-overlapping by construction — each lives in a disjoint
    segment), and report the mask plan a denoising pretrain run
    (T5/UL2) would execute: span count, masked tokens, realized mask
    ratio. A rand()-placed mask is unreplayable across engines,
    epochs, and task retries; this plan regenerates bit-identically
    anywhere — the L8/M1/M4 seeded-decision discipline applied to the
    pretraining objective itself.

    Zero exchanges: token counts, span counts, offsets and the masked
    sum are all in-row Catalyst arithmetic (sequence→transform→
    aggregate); the output is one row per document off the scan. The
    stride floor keeps every intermediate < 2^51 (int64-exact on both
    engines)."""
    tok = (
        doc_tokens(spark, sf_dir)
        .select("doc_id", F.col("n_tok").alias("n"))
        .filter(F.col("n") >= _SPAN_LEN)
    )
    plan = tok.select(
        "doc_id",
        "n",
        F.greatest(F.lit(1), (F.col("n") / _SPAN_TOK_RATIO).cast("long")).alias(
            "n_spans"
        ),
    ).withColumn("stride", (F.col("n") / F.col("n_spans")).cast("long"))
    span_len = lambda j: F.least(  # noqa: E731
        F.lit(_SPAN_LEN),
        F.col("n")
        - (
            j * F.col("stride")
            + (
                (F.col("doc_id") % _NEG_M) * _NEG_A
                + j * _NEG_C
                + 13
            )
            % _NEG_M
            % (F.col("stride") - (_SPAN_LEN - 1))
            + 1
        )
        + 1,
    )
    spans = plan.select(
        "doc_id",
        "n",
        "n_spans",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.col("n_spans") - 1), span_len
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("masked"),
    )
    return spans.select(
        "doc_id",
        F.col("n").cast("long").alias("n_toks"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("masked").alias("masked_tokens"),
        F.round(F.col("masked") / F.col("n").cast("double"), 4).alias(
            "mask_ratio"
        ),
    ).orderBy("doc_id")


# --- L11: curriculum difficulty phases --------------------------------------


@query(
    "q_curriculum_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY n_tok, doc_id) AS rnk,
             (SELECT count(*) FROM t) AS n
      FROM t)
    SELECT CAST(1 + ((rnk - 1) * 4) // n AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           round(sum(n_tok) / CAST(count(*) AS DOUBLE), 6) AS avg_tok
    FROM r GROUP BY 1 ORDER BY phase
    """,
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment (L11, wave 40): order the
    corpus by a difficulty signal (whitespace token count — the
    convention of q_token_count) and split it into 4 equal-population
    training phases, easy to hard, reporting each phase's size and
    token statistics — the schedule a curriculum trainer feeds phases
    from. Phase boundaries are ntile-free integer arithmetic
    (phase = 1 + ((rank−1)·4) div n) so the split is bit-identical
    across engines.

    Scale shape: the global per-doc rank uses the bucketed two-phase
    prefix sum (the q_decile_lift / operators.ranks.class_cum idiom) — docs
    hash-bucket by n_tok div 64, the only single-partition window runs
    over the ~|range/64| bucket counts, and the within-bucket
    row_number is partitioned by bucket. No global sort, no whole-corpus
    single-partition window, at any corpus size. The token count rides
    the session doc_tokens substrate (tokenize once per session — the
    r10 verdict's lever for this row's 5.2× scan-constant deficit)."""
    docs = doc_tokens(spark, sf_dir).select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok")
    )
    b = docs.withColumn("bkt", (F.col("n_tok") / 64).cast("long"))
    bc = b.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = bc.select(
        "bkt",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("long").alias("off"),
    )
    n = bc.agg(F.sum("bn").cast("long").alias("n"))
    w_in = Window.partitionBy("bkt").orderBy("n_tok", "doc_id")
    ranked = (
        b.join(F.broadcast(boff), "bkt")
        .withColumn("rnk", F.col("off") + F.row_number().over(w_in))
        .crossJoin(F.broadcast(n))
    )
    return (
        ranked.select(
            "n_tok", F.expr("1 + ((rnk - 1) * 4) div n").alias("phase")
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").cast("long").alias("sum_tok"),
            F.round(
                F.sum("n_tok") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_tok"),
        )
        .orderBy("phase")
    )
