"""Corpus-hygiene reports wave 12 (SURVEY §2.22): the recurring
reports a training-data platform publishes per corpus snapshot —
vocabulary coverage / OOV rate per language (the tokenizer-fit check),
the quality×length 2D histogram (the triage heatmap that decides
filter thresholds), the cross-source leakage matrix (near-identical
content shared between supposedly-independent sources — the train/eval
hygiene check behind q_contamination), and the hour×weekday activity
matrix (the load-shaping report for incremental ingest).

Every query has an exact DuckDB oracle. Portability notes: DuckDB
``dayofweek`` is 0=Sunday while Spark ``dayofweek`` is 1=Sunday (the
Spark side subtracts 1); bucket edges are integer arithmetic or
IEEE-deterministic double ops (x/y then floor), identical on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.tokenize import ASCII_WS_PATTERN
from .functions.tokenize import SQL_TOKS as _SQL_TOKS
from .functions.tokenize import toks_col as _toks
from .registry import query
from .sources.loaders import load_table

_VOCAB_SIZE = 500


# --- K1: vocabulary coverage / OOV rate per language -----------------------


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKS}) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM toks GROUP BY tok
      ORDER BY count(*) DESC, tok LIMIT {_VOCAB_SIZE}),
    flag AS (
      SELECT lang,
             CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END
               AS oov
      FROM toks)
    SELECT lang,
           count(*) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate
    FROM flag GROUP BY lang ORDER BY lang
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-500 token vocabulary from
    the corpus itself, then report each language's out-of-vocabulary
    token share — the tokenizer-fit check that decides whether a BPE
    vocab needs retraining before a multilingual run. The vocabulary
    is a global top-k (TakeOrderedAndProject heap cut over map-combined
    token counts) that then rides a BROADCAST anti-membership probe
    over the token stream; the per-lang report is one keyed aggregate.
    The token stream never shuffles — only |vocab| rows and
    |langs| partials move."""
    toks = load_table(spark, "documents", sf_dir).select(
        "lang", F.explode(_toks()).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_VOCAB_SIZE)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    ).select("lang", F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"))
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("n_oov"),
            F.round(F.sum("oov") / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# --- K2: quality x length 2D histogram -------------------------------------


@query(
    "q_quality_heatmap",
    oracle=f"""
    WITH t AS (
      SELECT n_chars,
             len(list_distinct({_SQL_TOKS}))::DOUBLE /
               greatest(len({_SQL_TOKS}), 1) AS dr
      FROM documents)
    SELECT least(CAST(floor(n_chars / 200.0) AS BIGINT), 9) AS len_bucket,
           least(CAST(floor(dr * 10) AS BIGINT), 9) AS qual_bucket,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM t GROUP BY 1, 2 ORDER BY len_bucket, qual_bucket
    """,
)
def q_quality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality×length 2D histogram: documents bucketed by length
    (200-char bins, capped) against DISTINCT-token-ratio deciles
    (bucket 9 = least-duplicated text; heavy duplication scores near
    bucket 0) — the triage heatmap a curation run reads to SET the
    thresholds that q_filter_cascade then applies. Both bucket
    expressions are
    codegen'd scan-side arithmetic; the exchange carries at most 10×10
    partial rows per mapper regardless of corpus size."""
    t = load_table(spark, "documents", sf_dir).select(
        "n_chars",
        (
            F.size(F.array_distinct(_toks()))
            / F.greatest(F.size(_toks()), F.lit(1))
        ).alias("dr"),
    )
    return (
        t.groupBy(
            F.least(
                F.floor(F.col("n_chars") / 200.0).cast("long"), F.lit(9)
            ).alias("len_bucket"),
            F.least(
                F.floor(F.col("dr") * 10).cast("long"), F.lit(9)
            ).alias("qual_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("len_bucket", "qual_bucket")
    )


# --- K3: cross-source leakage matrix ---------------------------------------

_FP_LEN = 80


@query(
    "q_cross_source_leakage",
    oracle=f"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')),
                        1, {_FP_LEN})) AS fp
      FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2 ORDER BY source_a, source_b
    """,
)
def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage matrix: count normalized-prefix
    fingerprints shared between source pairs — near-identical content
    appearing in supposedly-independent feeds, the leading indicator
    of train/eval contamination (q_contamination checks a known eval
    set; this finds UNKNOWN overlap). The fingerprint is scan-side
    (whitespace-collapse, lowercase, 80-char prefix, md5); per-source
    fingerprint sets dedup map-side; the pair join is keyed on the
    fingerprint — exactly the exact-dedup exchange, with hot groups
    bounded by the per-fp distinct-source count, never |corpus|²."""
    fp = (
        load_table(spark, "documents", sf_dir)
        .select(
            "source",
            F.md5(
                F.substring(
                    F.lower(F.regexp_replace("text", ASCII_WS_PATTERN, " ")),
                    1,
                    _FP_LEN,
                )
            ).alias("fp"),
        )
        .distinct()
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


# --- K4: hour x weekday activity matrix ------------------------------------


@query(
    "q_activity_matrix",
    oracle="""
    SELECT dayofweek(ts) AS dow,
           CAST(extract(hour FROM ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY dow, hour
    """,
)
def q_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour×weekday activity matrix over the event stream (0=Sunday,
    matching DuckDB; Spark's 1-based dayofweek shifts by one) — the
    load-shaping report that schedules incremental ingest windows.
    One keyed aggregate; the exchange carries at most 7×24 groups of
    partial states per mapper (the distinct-user count is the only
    per-key state that grows, and it swaps to approx_count_distinct
    HLL at cluster scale)."""
    return (
        load_table(spark, "events", sf_dir)
        .groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("dow", "hour")
    )


# --- K5: per-source language-mix divergence ----------------------------------


@query(
    "q_source_kl",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY source),
    lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY lang),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT c.source, max(st.ns) AS n_docs,
           round(sum((c.n / CAST(st.ns AS DOUBLE))
                     * ln((c.n / CAST(st.ns AS DOUBLE))
                          / (lt.nl / CAST(tot.total AS DOUBLE)))), 6) AS kl
    FROM c JOIN st USING (source) JOIN lt USING (lang), tot
    GROUP BY c.source
    ORDER BY c.source
    """,
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix divergence (K5): KL(source ‖ corpus)
    over the language distribution — which ingestion sources deviate
    most from the corpus-wide mix, the hygiene alarm that catches a
    crawler stuck on one language (q_corpus_mixture sets target
    weights; this audits what each source actually delivers). Terms
    with zero source-count contribute nothing (the p·ln p convention),
    and corpus marginals are never zero where a source term exists, so
    the sum is well-defined without smoothing.

    One (source, lang) hash aggregate touches the corpus; both
    marginals derive from that cell table (driver-scale) and broadcast
    back — same contingency shape as q_chi_square with an
    information-theoretic readout."""
    c = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # lazy checkpoint: the (source, lang) cells feed both
        # marginals, the total AND the KL join — as plain plan
        # subtrees the corpus scan+agg ran 4× per call (r11 scan-dupe
        # sweep); the shared RDD node computes once inside one job.
        .localCheckpoint(eager=False)
    )
    st = c.groupBy("source").agg(F.sum("n").cast("long").alias("ns"))
    lt = c.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    tot = c.agg(F.sum("n").cast("long").alias("total"))
    ps = F.col("n") / F.col("ns").cast("double")
    pc = F.col("nl") / F.col("total").cast("double")
    return (
        c.join(F.broadcast(st), "source")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("ns").alias("n_docs"),
            F.round(F.sum(ps * F.log(ps / pc)), 6).alias("kl"),
        )
        .orderBy("source")
    )


# --- K6: embedding-norm drift audit ------------------------------------------


@query(
    "q_embedding_norm_drift",
    oracle="""
    WITH n AS (
      SELECT label,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(nrm), 5) AS mean_norm,
           round(stddev_samp(nrm), 5) AS std_norm,
           round(quantile_cont(nrm, 0.95), 4) AS p95_norm
    FROM n GROUP BY label ORDER BY label
    """,
)
def q_embedding_norm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm drift audit (K6): per-label L2-norm distribution
    of the vector column — the cheapest vector-hygiene alarm there is
    (a re-embedding with a different model or a normalization bug shows
    up as a norm shift long before recall metrics move; unit-norm
    contracts make this a constant-1 assertion). The norm is a
    row-local array fold (codegen, no UDF); the rest is one
    label-keyed aggregate with an exact interpolated p95."""

    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    n = load_table(spark, "embeddings", sf_dir).select(
        "label", nrm.alias("nrm")
    )
    return (
        n.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg("nrm"), 5).alias("mean_norm"),
            F.round(F.stddev_samp("nrm"), 5).alias("std_norm"),
            F.round(F.percentile("nrm", F.lit(0.95)), 4).alias("p95_norm"),
        )
        .orderBy("label")
    )


# --- K7: embedding dead-dimension audit ---------------------------------------


@query(
    "q_embedding_dims_audit",
    oracle="""
    WITH d AS (
      SELECT unnest(generate_series(1, len(embedding))) AS dim,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings)
    SELECT CAST(dim AS BIGINT) AS dim,
           round(avg(x), 5) AS mean_x,
           round(stddev_samp(x), 5) AS std_x,
           CASE WHEN stddev_samp(x) < 0.001 THEN 1 ELSE 0 END AS is_dead
    FROM d GROUP BY dim ORDER BY dim
    """,
)
def q_embedding_dims_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dead-dimension audit (K7): per-coordinate mean and
    spread across the corpus — a dimension whose variance collapses is
    wasted index width (and a tell-tale of a truncation or projection
    bug upstream), the per-axis complement of q_embedding_norm_drift's
    per-vector norms. posexplode fans each vector into (dim, value)
    rows that partial-aggregate map-side, so the exchange carries
    |dims| partials per task regardless of corpus size."""
    e = load_table(spark, "embeddings", sf_dir).select(
        F.posexplode("embedding").alias("pos", "x")
    )
    agg = e.groupBy((F.col("pos") + 1).cast("long").alias("dim")).agg(
        F.round(F.avg(F.col("x").cast("double")), 5).alias("mean_x"),
        F.stddev_samp(F.col("x").cast("double")).alias("_std"),
    )
    return agg.select(
        "dim",
        "mean_x",
        F.round("_std", 5).alias("std_x"),
        F.when(F.col("_std") < 0.001, 1).otherwise(0).alias("is_dead"),
    ).orderBy("dim")


# --- K8: document-length percentile bands per language -----------------------


@query(
    "q_length_bands",
    oracle="""
    WITH b AS (
      SELECT lang,
             quantile_disc(n_chars, 0.10) AS p10,
             quantile_disc(n_chars, 0.50) AS p50,
             quantile_disc(n_chars, 0.90) AS p90,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1)
    SELECT lang, CAST(p10 AS BIGINT) AS p10, CAST(p50 AS BIGINT) AS p50,
           CAST(p90 AS BIGINT) AS p90, n_docs
    FROM b ORDER BY lang
    """,
)
def q_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length percentile bands per language (K8, wave 37):
    p10/p50/p90 of character length per lang — the truncation-budget
    table a tokenization pipeline reads before picking max sequence
    length per language (K2's quality×length heatmap shows the joint
    shape; this gives the three cut points engineering actually uses).

    DISC percentiles (order statistics — actual data values, the ST16
    convention: min v with cum ≥ ⌈q·n⌉) computed from a (lang, length)
    class aggregate with one per-lang cumulative window over the
    ~|distinct lengths| classes — no per-group value buffer, no
    interpolation float to disagree on. Integer in, integer out."""
    d = load_table(spark, "documents", sf_dir)
    cls = d.groupBy(
        F.col("lang"), F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    cum = cls.select(
        "lang",
        "v",
        F.sum("cnt").over(wcum).alias("cw"),
        F.sum("cnt").over(wtot).alias("tw"),
    )
    def _disc(q: float):
        # min v with cum >= ceil(q * n): ceil via -floor(-x)
        target = (-F.floor(-(F.lit(q) * F.col("tw")))).cast("long")
        return F.min(F.when(F.col("cw") >= target, F.col("v")))

    return (
        cum.groupBy("lang")
        .agg(
            _disc(0.10).cast("long").alias("p10"),
            _disc(0.50).cast("long").alias("p50"),
            _disc(0.90).cast("long").alias("p90"),
            F.max("tw").cast("long").alias("n_docs"),
        )
        .orderBy("lang")
    )


# --- K9: embedding label cohesion / separation (silhouette-lite) ------------


@query(
    "q_embedding_silhouette",
    oracle="""
    WITH ex AS (
      SELECT label, unnest(embedding) AS e,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM embeddings),
    cent AS (SELECT label, pos, round(avg(e), 6) AS c FROM ex GROUP BY 1, 2),
    carr AS (
      SELECT label AS clabel, list(c ORDER BY pos) AS cvec
      FROM cent GROUP BY 1),
    sc AS (
      SELECT e.vec_id, e.label, a.clabel,
             round(list_cosine_similarity(e.embedding::DOUBLE[], a.cvec), 6)
               AS cos
      FROM embeddings e, carr a),
    mat AS (
      SELECT label, clabel, round(avg(cos), 6) AS m,
             CAST(count(*) AS BIGINT) AS nd
      FROM sc GROUP BY 1, 2),
    own AS (SELECT label, m AS cohesion, nd AS n_docs FROM mat
            WHERE label = clabel),
    oth AS (SELECT label, max(m) AS nearest_other FROM mat
            WHERE label <> clabel GROUP BY 1)
    SELECT own.label, own.n_docs, own.cohesion, oth.nearest_other,
           round(own.cohesion - oth.nearest_other, 6) AS margin,
           (own.cohesion > oth.nearest_other) AS separated
    FROM own JOIN oth USING (label) ORDER BY own.label
    """,
)
def q_embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cohesion/separation audit (K9, wave 40) —
    silhouette-lite over centroids: for each label, the mean cosine of
    its members to their OWN centroid (cohesion) vs the best mean
    cosine to any OTHER label's centroid (nearest_other); a label with
    margin <= 0 is not linearly separated in embedding space — the
    cluster-quality verdict an embedding pipeline publishes next to
    G3's outlier scores and C6's classifier accuracy.

    Scale shape (the maxsim_label_partials discipline, both stages
    Arrow): per-label centroid sums come from one numpy pass per batch
    — the exchange carries |labels| x dim partial rows per partition,
    never a |rows| x dim posexplode (320 M rows at the 100x tier, the
    first version's wall); the bounded |labels| x dim centroid matrix
    rides to the scoring kernel in the closure (the codebook-smallness
    assumption), which emits per-partition (label, clabel) cosine
    sums+counts — the |docs| x |labels| pair space never materializes
    as rows, and the silhouette's classic O(n^2) doc x doc term is
    replaced by the centroid form outright. Cross-engine float
    discipline: centroid components round to 6 dp BEFORE any cosine,
    per-pair cosines accumulate dimension-by-dimension in strict index
    order (bit-identical to the Catalyst fold and the oracle's list
    arithmetic) and round to 6 dp, per-(label, label) means round to
    6 dp, and the separation verdict compares the ROUNDED means."""
    import numpy as np

    from .operators.similarity import (
        centroid_cosine_stat_partials,
        label_dim_sums,
    )
    from .sources.loaders import scatter

    emb = scatter(
        load_table(spark, "embeddings", sf_dir).select(
            "vec_id", "label", "embedding"
        )
    )
    cent = (
        label_dim_sums(emb)
        .groupBy("label", "pos")
        .agg(F.round(F.sum("s") / F.sum("n"), 6).alias("c"))
    )
    # bounded |labels| x dim matrix to the driver (the codebook rule)
    crows = cent.collect()
    labels = sorted({r.label for r in crows})
    dim = 1 + max(r.pos for r in crows)
    C = np.zeros((len(labels), dim))
    lidx = {l: i for i, l in enumerate(labels)}
    for r in crows:
        C[lidx[r.label], r.pos] = r.c
    mat = (
        centroid_cosine_stat_partials(emb, labels, C)
        .groupBy("label", "clabel")
        .agg(
            F.round(F.sum("csum") / F.sum("cnt"), 6).alias("m"),
            F.sum("cnt").cast("long").alias("nd"),
        )
    )
    # r12 (VERDICT r11 #6 — the ann_batch_parity disease, confirmed):
    # the old own⋈oth inner join referenced `mat` from two plan
    # branches, so the Arrow scoring kernel (the query's whole cost)
    # re-executed once per branch. Folding own/oth into ONE conditional
    # aggregate over `mat` makes the plan linear — kernel → two keyed
    # aggregates — with no join and no checkpoint. Value-identical:
    # cohesion/n_docs come from the single label==clabel row, and
    # nearest_other is the max over the label<>clabel rows; the
    # isNotNull filter reproduces the inner join's drop of a label
    # with no "other" row (single-label corpora).
    return (
        mat.groupBy("label")
        .agg(
            F.max(F.when(F.col("label") == F.col("clabel"), F.col("nd")))
            .cast("long")
            .alias("n_docs"),
            F.max(
                F.when(F.col("label") == F.col("clabel"), F.col("m"))
            ).alias("cohesion"),
            F.max(
                F.when(F.col("label") != F.col("clabel"), F.col("m"))
            ).alias("nearest_other"),
        )
        .filter(F.col("nearest_other").isNotNull())
        .select(
            "label",
            "n_docs",
            "cohesion",
            "nearest_other",
            F.round(F.col("cohesion") - F.col("nearest_other"), 6).alias(
                "margin"
            ),
            (F.col("cohesion") > F.col("nearest_other")).alias("separated"),
        )
        .orderBy("label")
    )


# --- K10: shingle-space document-frequency profile ---------------------------


@query(
    "q_shingle_profile",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, lang,
             list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in range(1, len(toks))]) AS bigrams
      FROM tok WHERE len(toks) >= 2),
    ex AS (SELECT lang, unnest(bigrams) AS gram FROM grams),
    dfc AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS df
      FROM ex GROUP BY 1, 2)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(df) AS BIGINT) AS n_postings,
           CAST(max(df) AS BIGINT) AS max_df,
           CAST(quantile_disc(df, 0.50) AS BIGINT) AS p50_df,
           CAST(quantile_disc(df, 0.90) AS BIGINT) AS p90_df,
           round(sum(CASE WHEN df > 64 THEN df ELSE 0 END)
                 / CAST(sum(df) AS DOUBLE), 6) AS hot_share
    FROM dfc GROUP BY lang ORDER BY lang
    """,
)
def q_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-space document-frequency profile per language (K10,
    wave 43): how many distinct word-bigram shingles each language
    block carries, how their document frequencies distribute
    (p50/p90/max, DISC order statistics), and what share of postings
    sits in hot shingles (df > 64) — the table that TUNES the
    inverted-index dedup family: max_df (the X2/X19 stop-shingle cap)
    is chosen exactly where hot_share says the join-key skew lives,
    and p90 vs max is the skew-severity read. Complements K1's
    vocabulary coverage (unigram token space) with the pair-space
    statistics the candidate-join actually shuffles on.

    Exactness: every count is int64; percentiles are DISC order
    statistics over integer df values computed from a (lang, df) class
    aggregate with one per-lang cumulative window over the ~|distinct
    df| classes (the K8 pattern — no per-group value buffer, no
    interpolation); hot_share divides int64 sums.

    Shape: rides the session _doc_bigrams checkpoint (tokenize +
    bigram-build once, shared with the X2/X19/X12 dedup family), one
    explode, ONE (lang, gram)-keyed aggregate — the identical shuffle
    key the dedup join uses, so this profile costs what one side of
    the join it tunes costs — then class-aggregate arithmetic on
    df-distribution rows. Nothing pairwise, nothing collected."""
    from .queries_text import _doc_bigrams

    dfc = (
        _doc_bigrams(spark, sf_dir)
        .select("lang", F.explode("bigrams").alias("gram"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cls = dfc.groupBy("lang", F.col("df").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("lang")
    cum = cls.select(
        "lang",
        "v",
        "cnt",
        F.sum("cnt").over(wcum).alias("cw"),
        F.sum("cnt").over(wtot).alias("tw"),
    )

    def _disc(q: float):
        # min v with cum >= ceil(q * n_grams): ceil via -floor(-x)
        target = (-F.floor(-(F.lit(q) * F.col("tw")))).cast("long")
        return F.min(F.when(F.col("cw") >= target, F.col("v")))

    return (
        cum.groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.col("v") * F.col("cnt")).cast("long").alias("n_postings"),
            F.max("v").cast("long").alias("max_df"),
            _disc(0.50).cast("long").alias("p50_df"),
            _disc(0.90).cast("long").alias("p90_df"),
            F.round(
                F.sum(F.when(F.col("v") > 64, F.col("v") * F.col("cnt")).otherwise(F.lit(0)))
                / F.sum(F.col("v") * F.col("cnt")).cast("double"),
                6,
            ).alias("hot_share"),
        )
        .orderBy("lang")
    )
