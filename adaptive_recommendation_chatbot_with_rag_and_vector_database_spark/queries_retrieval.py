"""Retrieval-ranking wave 7 (SURVEY §2.17 R1-R5): the ranking stack
between a vector store and an answer — BM25 lexical scoring, hybrid
reciprocal-rank fusion, MMR diversification, window-retriever context
stitching, and incremental index upsert.

The reference's RAG loop retrieves with plain cosine similarity at
``k=4`` and stuffs the hits (/root/reference/AI.py:135-142); its
retriever API (LangChain ``as_retriever``) names exactly these
upgrades — ``search_type="mmr"``, hybrid/ensemble retrievers, parent-
document windows — which it delegates to the library. Wave 7
re-expresses them as native Spark plans with exact DuckDB oracles.

Determinism discipline as everywhere: floats rounded identically on
both sides (BM25's expression tree is generated from ONE source for
both engines — operators/ranking.bm25_oracle_parts), every top-k cut
tie-broken on an id column, ranks compared as ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.tokenize import sql_toks
from .functions.vector import cosine_sim
from .operators.ranking import (
    MMR_W_DIV,
    MMR_W_REL,
    bm25_oracle_parts,
    bm25_scores,
    mmr_rerank,
    rrf_fuse,
)
from .registry import query
from .sources.loaders import load_table, local_frame, substrate

# Fixed lexical query: three mid-frequency corpus terms (order matters —
# the per-term contribution sum is left-to-right on both engines).
BM25_TERMS = ["vector", "hash", "join"]
_PROBE_FILTER = "vec_id % 50 = 0"  # same probe set as the kNN queries
_RRF_K = 60  # standard RRF smoothing constant
_RRF_DEPTH = 50  # fuse the top-50 of each ranker, not whole-corpus ranks
_MMR_CANDIDATES = 8
_MMR_K = 4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# --- R1: BM25 lexical top-k -------------------------------------------------

_BM25_CTES, _BM25_SELECT = bm25_oracle_parts(BM25_TERMS, "documents")


@query(
    "q_bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES},
    bm AS ({_BM25_SELECT})
    SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 over the documents table (R1) — the lexical
    half of hybrid retrieval. One scan computes per-term tf inside a
    Catalyst array filter (no explode, no per-term shuffle); corpus
    stats (N, avgdl, df) are a 1-row aggregate broadcast back; the cut
    is TakeOrderedAndProject. At 100 TB: map-side scoring at scan
    speed, one scalar reduction, no wide exchange."""
    bm = bm25_scores(_docs(spark, sf_dir), BM25_TERMS)
    return bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# --- R2: hybrid lexical+vector fusion (RRF) ---------------------------------

_U_SQL = """u AS (
      SELECT d.doc_id, d.text, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    )"""
_BM25_U_CTES, _BM25_U_SELECT = bm25_oracle_parts(BM25_TERMS, "u")


@query(
    "q_hybrid_rrf",
    oracle=f"""
    WITH {_U_SQL},
    {_BM25_U_CTES},
    bm AS ({_BM25_U_SELECT}),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_RRF_DEPTH})
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    vs AS (
      SELECT u.doc_id,
             round(list_cosine_similarity(u.embedding::DOUBLE[], q.qv), 6)
               AS vscore
      FROM u, q
    ),
    vec AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY vscore DESC, doc_id) AS vec_rank
      FROM (SELECT * FROM vs ORDER BY vscore DESC, doc_id LIMIT {_RRF_DEPTH})
    )
    SELECT doc_id, lex_rank, vec_rank,
           round(COALESCE(1.0 / ({_RRF_K} + lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + vec_rank), 0.0), 6) AS rrf
    FROM lex FULL JOIN vec USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (R2): fuse the BM25
    ranking and the cosine ranking with 1/(60+rank) scoring — the
    ensemble-retriever shape. Each ranker first cuts to its top-50 with
    TakeOrderedAndProject (per-partition heaps — the scale-safe global
    top-k), so the rank-assigning window runs over a bounded 50-row
    list, never the corpus; fusion is a full outer join of two 50-row
    frames. At 100 TB the only full-data work is the two scans."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    u = docs.join(emb, docs.doc_id == emb.vec_id).select(
        docs.doc_id, "text", "embedding"
    )
    bm = bm25_scores(u, BM25_TERMS)
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    )
    vs = u.crossJoin(qv).select(
        "doc_id",
        F.round(cosine_sim(F.col("embedding"), F.col("qvec")), 6).alias("vscore"),
    )
    return rrf_fuse(
        bm, vs, "doc_id", "bm25", "vscore", k=10, depth=_RRF_DEPTH, rrf_k=_RRF_K
    )


# --- R3: MMR diversified re-ranking -----------------------------------------


@query(
    "q_mmr_rerank",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE {_PROBE_FILTER}
    ),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT p.query_id, e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], p.pv), 6)
                 AS rel
        FROM embeddings e, probes p WHERE e.vec_id <> p.query_id
      ) t
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id) <= {_MMR_CANDIDATES}
    ),
    pair AS (
      SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 6) AS sim
      FROM cand a
      JOIN cand b ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, rel AS score FROM cand
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id) = 1
    ),
    r2 AS (
      SELECT c.query_id, c.vec_id,
             round({MMR_W_REL} * c.rel - {MMR_W_DIV} * p.sim, 6) AS score
      FROM cand c
      JOIN s1 ON s1.query_id = c.query_id AND c.vec_id <> s1.vec_id
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.vec_id
                 AND p.b_id = s1.vec_id
    ),
    s2 AS (
      SELECT query_id, vec_id, score FROM r2
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) = 1
    ),
    r3 AS (
      SELECT c.query_id, c.vec_id,
             round({MMR_W_REL} * c.rel - {MMR_W_DIV} * max(p.sim), 6) AS score
      FROM cand c
      JOIN s1 ON s1.query_id = c.query_id
      JOIN s2 ON s2.query_id = c.query_id
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.vec_id
                 AND p.b_id IN (s1.vec_id, s2.vec_id)
      WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
      GROUP BY c.query_id, c.vec_id, c.rel
    ),
    s3 AS (
      SELECT query_id, vec_id, score FROM r3
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) = 1
    ),
    r4 AS (
      SELECT c.query_id, c.vec_id,
             round({MMR_W_REL} * c.rel - {MMR_W_DIV} * max(p.sim), 6) AS score
      FROM cand c
      JOIN s1 ON s1.query_id = c.query_id
      JOIN s2 ON s2.query_id = c.query_id
      JOIN s3 ON s3.query_id = c.query_id
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.vec_id
                 AND p.b_id IN (s1.vec_id, s2.vec_id, s3.vec_id)
      WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
        AND c.vec_id <> s3.vec_id
      GROUP BY c.query_id, c.vec_id, c.rel
    ),
    s4 AS (
      SELECT query_id, vec_id, score FROM r4
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id) = 1
    )
    SELECT query_id, 1 AS step, vec_id, score FROM s1
    UNION ALL SELECT query_id, 2 AS step, vec_id, score FROM s2
    UNION ALL SELECT query_id, 3 AS step, vec_id, score FROM s3
    UNION ALL SELECT query_id, 4 AS step, vec_id, score FROM s4
    """,
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (R3): per probe, take the top-8
    cosine candidates, then greedily select 4 maximizing
    0.7·relevance − 0.3·max-similarity-to-already-selected — the
    LangChain ``search_type="mmr"`` semantic made exact. Candidate
    generation and ALL cosine math stay relational (the engine's
    Catalyst cosine, rounded once); the greedy itself runs as a
    cogrouped grouped-map keyed on query_id over O(k·c) rows per query
    — embarrassingly parallel across probes, which is the only scale
    axis an MMR pass has. The oracle unrolls the 4 greedy steps as
    chained argmax CTEs, so even this iterative operator is
    hash-checked, not rows-only."""
    emb = _emb(spark, sf_dir)
    probes = F.broadcast(
        emb.filter(F.expr(_PROBE_FILTER)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("pv")
        )
    )
    scored = (
        emb.crossJoin(probes)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("pv")), 6).alias("rel"),
            "embedding",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    # persist: this tiny frame (n_probes × c rows) feeds BOTH sides of
    # the pairwise join AND the cogroup — without it the full
    # crossJoin+window scoring pipeline re-executes four times
    # (same pattern as q_ann_recall's exact-top-k persist)
    cand_e = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_CANDIDATES)
        .select("query_id", "vec_id", "rel", "embedding")
        .persist()
    )
    a = cand_e.select(
        "query_id",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
    ).alias("a")
    b = cand_e.select(
        "query_id",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
    ).alias("b")
    pair = (
        a.join(b, F.col("a.query_id") == F.col("b.query_id"))
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            "a_id",
            "b_id",
            F.round(cosine_sim(F.col("a_emb"), F.col("b_emb")), 6).alias("sim"),
        )
    )
    cand = cand_e.select("query_id", "vec_id", "rel")
    return mmr_rerank(cand, pair, k=_MMR_K)


# --- R4: window-retriever context stitch ------------------------------------


@query(
    "q_context_stitch",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    top AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
               AS score
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY score DESC, e.vec_id LIMIT 4
    ),
    ids AS (
      SELECT DISTINCT doc_id FROM (
        SELECT unnest([vec_id - 1, vec_id, vec_id + 1]) AS doc_id FROM top
      )
    ),
    st AS (SELECT d.doc_id, d.text FROM ids JOIN documents d USING (doc_id))
    SELECT (SELECT count(*) FROM top) AS n_seeds,
           count(*) AS n_stitched,
           string_agg(text, chr(10) || '---' || chr(10) ORDER BY doc_id)
             AS context
    FROM st
    """,
)
def q_context_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-retriever context stitch (R4): retrieve top-4 chunks by
    cosine, expand each hit to its ±1 neighbors in reading order
    (LangChain's parent-document / sentence-window retriever semantic),
    dedupe the overlap, and stitch the context in document order — the
    upgrade over the reference's flat ``{context}`` stuffing
    (/root/reference/AI.py:99-105,142). The seed set is k rows →
    neighbor ids are a broadcast semi-probe into the documents table;
    no shuffle touches the corpus."""
    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    )
    top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qvec")), 6).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(4)
        # lazy checkpoint (r12 scan-dupe paydown): the 4-row seed set
        # feeds BOTH the neighbor expansion and the n_seeds count — as
        # plain subtrees the full-index cosine scan ran twice per call
        .localCheckpoint(eager=False)
    )
    ids = (
        top.select(
            F.explode(
                F.array(
                    F.col("vec_id") - 1, F.col("vec_id"), F.col("vec_id") + 1
                )
            ).alias("doc_id")
        )
        .distinct()
    )
    st = F.broadcast(ids).join(docs, "doc_id").select("doc_id", "text")
    n_seeds = top.agg(F.count(F.lit(1)).alias("n_seeds"))
    pair = F.struct(F.col("doc_id").alias("d"), F.col("text").alias("t"))
    stitched = st.agg(
        F.count(F.lit(1)).alias("n_stitched"),
        F.concat_ws(
            "\n---\n",
            F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["t"]),
        ).alias("context"),
    )
    return n_seeds.crossJoin(stitched)


# --- R5: incremental index upsert -------------------------------------------


@query(
    "q_index_upsert",
    oracle="""
    WITH incoming AS (
      SELECT doc_id, source, md5(text) AS h_new FROM documents
    ),
    state AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN md5(text || '@stale')
                  ELSE md5(text) END AS h_old
      FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT i.source,
           count(CASE WHEN s.doc_id IS NULL THEN 1 END) AS n_insert,
           count(CASE WHEN s.doc_id IS NOT NULL AND i.h_new <> s.h_old
                      THEN 1 END) AS n_update,
           count(CASE WHEN s.doc_id IS NOT NULL AND i.h_new = s.h_old
                      THEN 1 END) AS n_noop
    FROM incoming i LEFT JOIN state s USING (doc_id)
    GROUP BY i.source
    """,
)
def q_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (R5): classify an incoming batch
    against the index manifest (content hash per doc_id) into
    insert / update / noop — the delta that decides which documents
    get re-chunked and re-embedded, generalizing the reference's
    all-or-nothing index-existence check (/root/reference/AI.py:93-96)
    and the engine's (doc_id, content_hash) idempotency key
    (operators/retrieval.py:88-110). The manifest here is a fixture
    slice with synthetic staleness (doc_id%5 rows carry a stale hash).
    Scale shape: one hash-compare equi-join co-partitioned on doc_id —
    at 100 TB the manifest is a fraction of corpus width (id + 16-byte
    hash), and only the insert/update delta flows to the expensive
    embed stage."""
    docs = _docs(spark, sf_dir)
    incoming = docs.select("doc_id", "source", F.md5("text").alias("h_new"))
    state = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.col("text"), F.lit("@stale"))),
        )
        .otherwise(F.md5("text"))
        .alias("h_old"),
        # key-presence flag, NOT h_old-is-null: md5(NULL text) is NULL,
        # which would misread a matched NULL-text row as an insert
        # (the oracle tests s.doc_id IS NULL — same semantics as this)
        F.lit(True).alias("in_state"),
    )
    j = incoming.join(state, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count(F.when(F.col("in_state").isNull(), 1)).alias("n_insert"),
        F.count(
            F.when(
                F.col("in_state").isNotNull()
                & (F.col("h_new") != F.col("h_old")),
                1,
            )
        ).alias("n_update"),
        F.count(
            F.when(
                F.col("in_state").isNotNull()
                & (F.col("h_new") == F.col("h_old")),
                1,
            )
        ).alias("n_noop"),
    )


# --- R6: pseudo-relevance-feedback query expansion (RM3) --------------------

_TERMS_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
_PRF_FB_DOCS = 3
_PRF_EXP_TERMS = 2

from .operators.ranking import bm25_dynamic_oracle_select, bm25_scores_dynamic, tokens  # noqa: E402

_PRF_DYN_SELECT = bm25_dynamic_oracle_select("terms", "documents")


@query(
    "q_prf_expand",
    oracle=f"""
    WITH {_BM25_CTES},
    bm AS ({_BM25_SELECT}),
    top3 AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_PRF_FB_DOCS}),
    fbt AS (
      SELECT unnest({sql_toks('d.text')}) AS term
      FROM top3 JOIN documents d USING (doc_id)
    ),
    cnt AS (
      SELECT term, count(*) AS c FROM fbt
      WHERE term NOT IN ({_TERMS_IN}) GROUP BY term
    ),
    expq AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT {_PRF_EXP_TERMS}),
    terms AS (
      SELECT unnest([{_TERMS_IN}]) AS term
      UNION ALL SELECT term FROM expq
    ),
    sc AS ({_PRF_DYN_SELECT})
    SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion, RM3-style (R6): run
    the initial BM25, take the top-3 feedback docs, harvest their top-2
    non-query terms by total tf, re-score the corpus with the expanded
    5-term query. The data-dependent term set exercises
    bm25_scores_dynamic: terms are a broadcast table fanning the doc
    scan to |docs|·|terms| in-row tf computations (still no token
    explode of the corpus — only the 3 feedback docs ever explode).
    At 100 TB both passes are scan-speed map work; everything between
    them is feedback-sized."""
    docs = _docs(spark, sf_dir)
    bm = bm25_scores(docs, BM25_TERMS)
    top3 = bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_PRF_FB_DOCS)
    fbt = (
        top3.join(docs, "doc_id")
        .select(F.explode(tokens("text")).alias("term"))
        .filter(~F.col("term").isin(BM25_TERMS))
    )
    expq = (
        fbt.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(_PRF_EXP_TERMS)
        .select("term")
    )
    static = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in BM25_TERMS])).alias("term")
    )
    terms = static.union(expq)
    scored = bm25_scores_dynamic(docs, terms)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# --- R7: late-interaction multi-vector retrieval (MaxSim) -------------------


@query(
    "q_late_interaction",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE {_PROBE_FILTER}
    ),
    m AS (
      SELECT e.label, p.query_id,
             max(round(list_cosine_similarity(e.embedding::DOUBLE[], p.pv), 6))
               AS ms
      FROM embeddings e, probes p
      GROUP BY e.label, p.query_id
    )
    SELECT label, round(sum(ms), 4) AS score
    FROM m GROUP BY label
    ORDER BY score DESC, label LIMIT 5
    """,
)
def q_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (R7, the ColBERT MaxSim
    shape): the probe set acts as one multi-vector query (its "token
    embeddings"), each label group in the embeddings table acts as a
    multi-vector document, and the document score is the sum over
    query tokens of the max similarity to any document vector. On
    Spark this is scoring + exactly two keyed aggregations — per
    (label, token) partial MAX combines map-side, then a per-label sum
    — so at 100 TB the exchanges carry one row per (doc, query-token),
    never raw similarity pairs. Single-vector retrieval (J1) is the
    degenerate one-token case; this is the upgrade path when chunk- or
    token-level embeddings exist (q_build_index produces exactly
    those)."""
    from .operators.similarity import maxsim_label_partials
    from .sources.loaders import scatter

    emb = _emb(spark, sf_dir)
    # the probe set is one multi-vector query — bounded by construction
    # (the same smallness assumption broadcasting it would make), so
    # collecting it to seed the Arrow kernel's closure is the
    # centroid/hyperplane pattern from the ANN operators
    probes = [
        (r.vec_id, r.embedding)
        for r in emb.filter(F.expr(_PROBE_FILTER))
        .select("vec_id", "embedding")
        .collect()
    ]
    # min-parallelism guard: the numpy scoring kernel on a single-file
    # fixture scan would run in ONE task (no-op at scale). Partial max
    # happens inside the kernel, so the exchange below carries
    # |labels| × |probes| partials per partition, never raw pairs —
    # measured 10× over the crossJoin+HOF plan at the 10× tier with
    # bit-identical scores (strict index-order float64 accumulation).
    m = (
        maxsim_label_partials(scatter(emb), probes)
        .groupBy("label", "query_id")
        .agg(F.max("ms").alias("ms"))
    )
    return (
        m.groupBy("label")
        .agg(F.round(F.sum("ms"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("label"))
        .limit(5)
    )


# --- W19/R8: ranked-retrieval quality metrics (NDCG / MRR / P@k) -------------

#: Fixed probe panel (smallest vec_ids) — the V14/q_ann_recall lesson:
#: corpus-growing probe sets make evaluation quadratic in the corpus.
_RM_PANEL = 64
_RM_K = 10
#: round(1e6 / log2(r+1)) for ranks r = 1..10, and its prefix sums
#: (IDCG for 0..10 relevant): INTEGER discount weights so DCG sums are
#: exact BIGINTs on both engines — no float summation order anywhere.
_RM_DISC = (1000000, 630930, 500000, 430677, 386853,
            356207, 333333, 315465, 301030, 289065)
_RM_IDCG = (0, 1000000, 1630930, 2130930, 2561607, 2948460,
            3304667, 3638000, 3953465, 4254495, 4543560)

#: session-cached exact top-_RM_K hits over the fixed _RM_PANEL probe
#: panel (smallest vec_ids, self excluded): q_ranking_metrics and
#: q_rec_exposure each ran the IDENTICAL brute-force Arrow kernel +
#: ranked-window cut per call (rec_exposure even twice — its exposure
#: rollup feeds two consumers). The _exact_panel pattern applied to
#: the R8 evaluation panel; sharing is semantics-free, every consumer
#: read bit-identical rows before.
@substrate("rm_hits")
def _rm_hits(spark: SparkSession, sf_dir: str):
    """(hits(query_id, vec_id, rnk), panel_rows): checkpointed once
    per (session, sf_dir); panel_rows carries (vec_id, embedding,
    label) for the 64 probes (q_ranking_metrics seeds qlabels from
    it)."""
    from .operators.similarity import brute_topk_partials
    from .sources.loaders import scatter

    emb = load_table(spark, "embeddings", sf_dir)
    # bounded-by-construction driver collect: the fixed probe panel
    panel_rows = (
        emb.orderBy("vec_id")
        .limit(_RM_PANEL)
        .select("vec_id", "embedding", "label")
        .collect()
    )
    panel = [(r.vec_id, r.embedding) for r in panel_rows]
    full_dim = len(panel[0][1])
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    hits = (
        brute_topk_partials(
            scatter(emb), panel, k=_RM_K, dims=[full_dim], exclude_self=True
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RM_K)
        .select("query_id", "vec_id", "rnk")
        .localCheckpoint()
    )
    out = (hits, panel_rows)
    return out


@query(
    "q_ranking_metrics",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
      FROM embeddings ORDER BY vec_id LIMIT {_RM_PANEL}),
    lbl AS (
      SELECT label, CAST(count(*) AS BIGINT) AS cnt
      FROM embeddings GROUP BY label),
    ranked AS (
      SELECT p.query_id, p.qlabel,
             CASE WHEN e.label = p.qlabel THEN 1 ELSE 0 END AS rel,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(
                          e.embedding::DOUBLE[], p.qvec::DOUBLE[]), 6) DESC,
                        e.vec_id ASC) AS rnk
      FROM embeddings e, probes p
      WHERE e.vec_id <> p.query_id),
    top AS (SELECT * FROM ranked WHERE rnk <= {_RM_K}),
    disc AS (SELECT * FROM top, LATERAL (SELECT
               ([{", ".join(str(d) for d in _RM_DISC)}])[rnk] AS d)),
    per_q AS (
      SELECT query_id, qlabel,
             CAST(sum(rel) AS BIGINT) AS n_hits,
             CAST(sum(rel * d) AS BIGINT) AS dcg_scaled,
             min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
      FROM disc GROUP BY query_id, qlabel)
    SELECT per_q.query_id,
           round(per_q.n_hits / {_RM_K}.0, 5) AS p_at_k,
           round(CASE WHEN per_q.first_rel IS NULL THEN 0.0
                 ELSE 1.0 / per_q.first_rel END, 5) AS mrr,
           round(CASE WHEN lbl.cnt <= 1 THEN 0.0
                 ELSE per_q.dcg_scaled / CAST(
                   ([{", ".join(str(i) for i in _RM_IDCG)}])
                     [least(lbl.cnt - 1, {_RM_K}) + 1] AS DOUBLE) END, 5)
             AS ndcg,
           lbl.cnt - 1 AS n_rel_corpus
    FROM per_q JOIN lbl ON per_q.qlabel = lbl.label
    ORDER BY per_q.query_id
    """,
)
def q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval quality metrics (W19/R8): NDCG@{_RM_K},
    MRR, and precision@{_RM_K} for exact cosine retrieval over a fixed
    {_RM_PANEL}-probe panel, with same-label index vectors as the
    relevance ground truth — the offline evaluation harness that grades
    every retriever change (J1/J2, R1-R7) before it ships. The
    reference's stack has no evaluation surface at all; a production
    RAG system cannot tune k, chunking, or fusion weights without this.

    Determinism: rank discounts 1/log2(r+1) are pre-scaled INTEGER
    literals (_RM_DISC) and ideal DCG is their prefix-sum table
    (_RM_IDCG), so DCG is an exact BIGINT sum — computing log2
    engine-side would expose both a ulp and a summation-order surface.
    Ranking orders by the 6-decimal-rounded score with a vec_id
    tie-break (the J1 discipline). NDCG divides two exact integers in
    one double op; singleton-label probes define NDCG = 0.

    Plan shape: the index side is scanned once and never shuffled
    amplified — scoring runs through the ``brute_topk_partials`` Arrow
    kernel (strict index-order float64 accumulation, bit-identical to
    the Catalyst ``round(cosine_sim, 6)`` fold — the V14 machinery), so
    the exchange carries k-row partials per (batch, probe), never the
    |index|×|panel| pair space; the global cut is a window over 64
    probe groups of partials, labels attach to the ≤panel×k hit rows
    via one broadcast join, and the ground-truth sizes come from a
    label-keyed aggregate joined to 64 rows. The first draft scored
    through a Catalyst crossJoin+HOF projection: correct and linear,
    but 210 s at the 2 M-vector tier where the kernel takes the one
    numpy pass (see BASELINE). r11: the kernel pass + window cut ride
    the session _rm_hits checkpoint (shared with q_rec_exposure)."""
    emb = load_table(spark, "embeddings", sf_dir)
    hits, panel_rows = _rm_hits(spark, sf_dir)
    qlabels = local_frame(
        spark, [(r.vec_id, r.label) for r in panel_rows], "query_id long, qlabel int"
    )
    lbl = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ranked = (
        emb.select("vec_id", "label")
        .join(F.broadcast(hits), "vec_id")
        .join(F.broadcast(qlabels), "query_id")
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "rnk",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
    )
    disc = F.array(*[F.lit(d) for d in _RM_DISC])
    idcg = F.array(*[F.lit(i) for i in _RM_IDCG])
    per_q = (
        ranked.withColumn("d", F.element_at(disc, F.col("rnk")))
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum("rel").cast("long").alias("n_hits"),
            F.sum(F.col("rel") * F.col("d")).cast("long").alias("dcg_scaled"),
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        )
    )
    return (
        per_q.join(F.broadcast(lbl), F.col("qlabel") == F.col("label"))
        .select(
            "query_id",
            F.round(F.col("n_hits") / float(_RM_K), 5).alias("p_at_k"),
            F.round(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    F.lit(1.0) / F.col("first_rel")
                ),
                5,
            ).alias("mrr"),
            F.round(
                F.when(F.col("cnt") <= 1, 0.0).otherwise(
                    F.col("dcg_scaled")
                    / F.element_at(
                        idcg,
                        (F.least(F.col("cnt") - 1, F.lit(_RM_K)) + 1).cast("int"),
                    ).cast("double")
                ),
                5,
            ).alias("ndcg"),
            (F.col("cnt") - 1).alias("n_rel_corpus"),
        )
        .orderBy("query_id")
    )


# --- W20/R9: recommendation exposure audit (coverage + Gini) -----------------


@query(
    "q_rec_exposure",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings ORDER BY vec_id LIMIT {_RM_PANEL}),
    ranked AS (
      SELECT e.vec_id,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(
                          e.embedding::DOUBLE[], p.qvec::DOUBLE[]), 6) DESC,
                        e.vec_id ASC) AS rnk
      FROM embeddings e, probes p
      WHERE e.vec_id <> p.query_id),
    expo AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS cnt
      FROM ranked WHERE rnk <= {_RM_K} GROUP BY vec_id),
    catalog AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM embeddings),
    reccd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recommended,
             CAST(sum(cnt) AS BIGINT) AS total_recs
      FROM expo),
    gini_terms AS (
      SELECT expo.cnt,
             catalog.n_items - reccd.n_recommended
               + row_number() OVER (ORDER BY expo.cnt ASC, expo.vec_id ASC)
               AS rnk,
             catalog.n_items, reccd.total_recs
      FROM expo, catalog, reccd),
    gini AS (
      SELECT CAST(sum((2 * rnk - n_items - 1) * cnt) AS BIGINT) AS num
      FROM gini_terms)
    SELECT catalog.n_items, reccd.n_recommended,
           round(reccd.n_recommended / CAST(catalog.n_items AS DOUBLE), 5)
             AS coverage,
           round(gini.num
                 / CAST(catalog.n_items * reccd.total_recs AS DOUBLE), 5)
             AS gini
    FROM catalog, reccd, gini
    """,
)
def q_rec_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation exposure audit (W20/R9): catalog coverage (what
    share of items is EVER recommended) and the exact Gini coefficient
    of per-item exposure over the {_RM_PANEL}-probe panel's top-{_RM_K}
    lists — the popularity-bias / fairness report a recommender ships
    beside R8's relevance metrics, because a system can score a perfect
    NDCG while showing ten items to everyone (Gini → 1).

    Gini uses the rank identity G = Σ(2rᵢ−n−1)xᵢ / (n·Σx) over ALL n
    catalog items — but zero-exposure items contribute nothing to the
    numerator, so only the ≤ panel×k recommended items are ever ranked:
    their global rank is (n − |recommended|) + their rank among
    themselves. The full catalog enters as ONE count. Every term is an
    exact BIGINT; one double division at the end.

    Plan shape: scoring runs through R8's ``brute_topk_partials``
    Arrow kernel (strict-fold, bit-identical to the Catalyst rounding;
    exchange carries k-row partials per batch, never the pair space);
    the exposure rollup is a vec_id-keyed aggregate over panel×k rows;
    the Gini window sorts ≤ panel×k rows. Linear in the corpus,
    constant past the rollup — the crossJoin+HOF first draft measured
    220 s at the 2 M-vector tier where the kernel takes one numpy
    pass. r11: the kernel pass + window cut ride the session _rm_hits
    checkpoint (shared with q_ranking_metrics) — the exposure rollup
    previously re-ran the whole kernel for each of its two consumers."""
    emb = load_table(spark, "embeddings", sf_dir)
    hits, _ = _rm_hits(spark, sf_dir)
    expo = hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    catalog = emb.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    reccd = expo.agg(
        F.count(F.lit(1)).cast("long").alias("n_recommended"),
        F.sum("cnt").cast("long").alias("total_recs"),
    )
    w_rank = Window.orderBy(F.asc("cnt"), F.asc("vec_id"))
    gini_terms = (
        expo.crossJoin(F.broadcast(catalog))
        .crossJoin(F.broadcast(reccd))
        .select(
            "cnt",
            "n_items",
            "total_recs",
            (
                F.col("n_items")
                - F.col("n_recommended")
                + F.row_number().over(w_rank)
            ).alias("rnk"),
        )
    )
    # n_items is a per-row column here (broadcast scalar), so the Gini
    # numerator is one plain integer aggregate
    gini = gini_terms.agg(
        F.sum((2 * F.col("rnk") - F.col("n_items") - 1) * F.col("cnt"))
        .cast("long")
        .alias("num")
    )
    return (
        catalog.crossJoin(F.broadcast(reccd))
        .crossJoin(F.broadcast(gini))
        .select(
            "n_items",
            "n_recommended",
            F.round(
                F.col("n_recommended") / F.col("n_items").cast("double"), 5
            ).alias("coverage"),
            F.round(
                F.col("num")
                / (F.col("n_items") * F.col("total_recs")).cast("double"),
                5,
            ).alias("gini"),
        )
    )


# --- W22/R10: exact phrase search (in-row positional scan) -------------------

#: the phrase under test — a real trigram from the fixture vocabulary
_PHRASE = ("part", "filter", "scan")


@query(
    "q_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    hits AS (
      SELECT doc_id,
             len([i for i in generate_series(1, len(t) - 2)
                  if t[i] = '{_PHRASE[0]}' AND t[i+1] = '{_PHRASE[1]}'
                     AND t[i+2] = '{_PHRASE[2]}']) AS n_matches,
             coalesce([i for i in generate_series(1, len(t) - 2)
                       if t[i] = '{_PHRASE[0]}' AND t[i+1] = '{_PHRASE[1]}'
                          AND t[i+2] = '{_PHRASE[2]}'][1], 0) AS first_pos,
             len(t) AS n_tokens
      FROM toks)
    SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches,
           CAST(first_pos AS BIGINT) AS first_pos,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM hits WHERE n_matches > 0 ORDER BY doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (W22/R10): find every document containing
    the 3-token phrase "{' '.join(_PHRASE)}" with match count and first
    position — the positional-query primitive BM25 (R1) cannot express
    (bag-of-words scoring finds the words, not the phrase), needed for
    quoted queries, citation lookup, and contamination probes at the
    phrase level (X8 checks shingle overlap; this checks exact
    adjacency).

    The whole match runs IN-ROW: the trigram stream is built from
    three shifted slices with zip_with (Z3's bigram discipline — each
    token array is streamed once inside whole-stage codegen) and
    matched with an array filter — no posexplode, no position
    self-join, no shuffle of token streams. At 100 TB this is a pure
    filter-shaped scan emitting only matching documents (the classic
    alternative — explode to a positional inverted index and 3-way
    self-join on pos+1 — shuffles the entire token stream to find a
    handful of rows; the in-row form is what you run for ad-hoc
    phrases, the index for repeated ones). The rejected first draft —
    per-position lambda indexing via ``element_at(t, i)`` over a
    position sequence — measured 4.5× slower at the 10× tier (11.7 s
    → 2.6 s): slice-streaming beats random indexing inside HOFs.
    """
    phrase = " ".join(_PHRASE)
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n1 = F.greatest(F.size("t") - 2, F.lit(0))
    tri = F.zip_with(
        F.slice("t", 1, n1),
        F.zip_with(
            F.slice("t", 2, n1),
            F.slice("t", 3, n1),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    hits = toks.select(
        "doc_id",
        F.size(F.filter(tri, lambda g: g == phrase)).cast("long").alias(
            "n_matches"
        ),
        F.coalesce(F.array_position(tri, phrase), F.lit(0))
        .cast("long")
        .alias("first_pos"),
        F.size("t").cast("long").alias("n_tokens"),
    )
    return hits.filter(F.col("n_matches") > 0).orderBy("doc_id")


# --- R11: rank-biased overlap between two top-k rankings ---------------------

_RBO_P = 0.9
_RBO_K = 20


@query(
    "q_rbo_rank_overlap",
    oracle=f"""
    WITH rev AS (
      SELECT CASE WHEN year(l_shipdate) <= 1997 THEN 'a' ELSE 'b' END AS period,
             l_partkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
      FROM lineitem GROUP BY 1, 2),
    ranked AS (
      SELECT period, l_partkey,
             row_number() OVER (PARTITION BY period
                                ORDER BY rev DESC, l_partkey) AS rnk
      FROM rev),
    la AS (SELECT l_partkey, rnk AS ra FROM ranked
           WHERE period = 'a' AND rnk <= {_RBO_K}),
    lb AS (SELECT l_partkey, rnk AS rb FROM ranked
           WHERE period = 'b' AND rnk <= {_RBO_K}),
    both_r AS (
      SELECT la.l_partkey, greatest(ra, rb) AS dmin
      FROM la JOIN lb USING (l_partkey)),
    depths AS (
      SELECT unnest(generate_series(1, {_RBO_K})) AS d),
    xd AS (
      SELECT d, CAST(count(both_r.dmin) AS BIGINT) AS x_d,
             pow({_RBO_P}, d - 1) * count(both_r.dmin) / d AS term
      FROM depths LEFT JOIN both_r ON both_r.dmin <= depths.d
      GROUP BY d)
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST({_RBO_P} AS DOUBLE) AS p,
           max(CASE WHEN d = {_RBO_K} THEN x_d END) AS overlap_at_k,
           round(list_aggregate(list(term ORDER BY d), 'sum')
                 * (1 - {_RBO_P}) / (1 - pow({_RBO_P}, {_RBO_K})), 6) AS rbo
    FROM xd
    """,
)
def q_rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap of two top-k rankings (R11, wave 35): how
    similar are the top-20 revenue part rankings of 1995-97 vs
    1998-2001, weighted so agreement at rank 1 counts more than at
    rank 20 (Webber et al.'s RBO with p=0.9, truncated at k and
    normalized by the perfect-agreement mass 1−p^k). The metric a
    ranking team uses to compare retriever versions where Spearman
    over-weights the tail.

    Scale shape: ONE fact aggregate to (period, part) revenue, the
    per-period rank window cuts to k via WindowGroupLimit (partial
    top-k below the exchange), and everything after operates on ≤2k
    rows. The RBO sum is a strict in-order fold over the 20 depth
    terms (sorted-array aggregate on both engines) so float
    accumulation order is pinned — the R8 integer-DCG lesson applied
    to a float series."""
    # rides the shared part_revenue substrate (checkpointed
    # |parts|×|years| rows) instead of re-scanning the fact: the period
    # split and the 4-dp rounding re-apply on the year-partial sums —
    # value-identical to the row-level sum (net is an exact 4-dp
    # quantity, see part_revenue docstring), so the oracle is unchanged
    from .sources.loaders import part_revenue

    rev = (
        part_revenue(spark, sf_dir)
        .groupBy(
            F.when(F.col("yr") <= 1997, "a").otherwise("b").alias("period"),
            "l_partkey",
        )
        .agg(F.round(F.sum("net"), 4).alias("rev"))
    )
    w = Window.partitionBy("period").orderBy(F.desc("rev"), F.asc("l_partkey"))
    # rnk<=k cuts as WindowGroupLimit below the exchange; the ≤2k-row
    # list table is eagerly checkpointed so the two per-period consumers
    # don't each re-scan the fact
    ranked = (
        rev.select("period", "l_partkey", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _RBO_K)
        .localCheckpoint()
    )
    la = ranked.filter(F.col("period") == "a").select(
        "l_partkey", F.col("rnk").alias("ra")
    )
    lb = ranked.filter(F.col("period") == "b").select(
        "l_partkey", F.col("rnk").alias("rb")
    )
    both = la.join(lb, "l_partkey").select(
        F.greatest("ra", "rb").alias("dmin")
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    xd = (
        depths.join(both, F.col("dmin") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("dmin").cast("long").alias("x_d"))
        .withColumn(
            "term",
            F.pow(F.lit(_RBO_P), F.col("d") - 1) * F.col("x_d") / F.col("d"),
        )
    )
    # strict in-order fold of the 20 depth terms (accumulation order pinned)
    folded = xd.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("d", "term"))),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("s"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("x_d"))).alias("overlap_at_k"),
    )
    return folded.select(
        F.lit(_RBO_K).cast("long").alias("k"),
        F.lit(_RBO_P).alias("p"),
        "overlap_at_k",
        F.round(
            F.col("s") * (1 - _RBO_P) / (1 - _RBO_P ** _RBO_K), 6
        ).alias("rbo"),
    )


# --- R12: best-window snippet extraction -------------------------------------

_SNIPPET_TERMS = ("join", "hash", "scan")
_SNIPPET_W = 8


@query(
    "q_snippet_extract",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {sql_toks("text")} AS toks FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) >= {_SNIPPET_W}),
    scored AS (
      SELECT doc_id, toks,
             [len(list_filter(toks[i:i+{_SNIPPET_W - 1}],
                  t -> list_contains({list(_SNIPPET_TERMS)}, t)))
              for i in range(1, n - {_SNIPPET_W - 2})] AS scores
      FROM sized),
    best AS (
      SELECT doc_id, toks,
             CAST(list_max(scores) AS BIGINT) AS hits,
             CAST(list_position(scores, list_max(scores)) AS BIGINT) AS start_pos
      FROM scored)
    SELECT doc_id, start_pos, hits,
           array_to_string(toks[start_pos:start_pos+{_SNIPPET_W - 1}], ' ') AS snippet
    FROM best WHERE hits >= 3 ORDER BY doc_id
    """,
)
def q_snippet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-window snippet extraction (R12, wave 36): for every
    document matching a query, the 8-token window with the most query
    -term hits (first such window on ties) plus the rendered snippet —
    the result-page highlighting step downstream of BM25/hybrid
    retrieval (R1/R2), which returns documents but not WHERE they
    match.

    Scoring is positions-based, O(tokens + hits^2) per document and
    in-row: one indexed transform+filter extracts the 1-based hit
    positions, and only the CANDIDATE window starts can achieve the
    max — start 1 plus p-W+1 for each hit p (the earliest maximizer
    must either be start 1 or end exactly on a hit: sliding one left
    from it strictly drops the count, which requires a hit at its last
    slot). That replaces the former full sliding-window scoring (a
    hit-bitmap + W-1 shifted zip_with adds over EVERY start — HOFs are
    interpreted, not codegen, so the per-start work dominated: 19 s vs
    3 s measured at the 10x docs tier, DuckDB 4.9 s). Tie-break is
    preserved exactly: among candidates achieving the max the minimum
    start is returned, and no non-candidate start can beat them (full
    result equality vs the sliding form verified at sf0.01). Documents
    with <3 hit positions are dropped up front — they cannot reach the
    hits >= 3 output bar. The candidate/count stage is
    localCheckpointed: hits (array_max) and the argmin-over-ties both
    consume ``counts``, and without the barrier CollapseProject inlines
    the count transform into each consumer (and the array_max into
    every zip_with lane), re-running the interpreted HOFs per
    reference. No token ever leaves its row; the only exchange is the
    output sort."""
    from .functions.tokenize import toks_col

    terms = F.array(*[F.lit(t) for t in _SNIPPET_TERMS])
    base = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", toks_col("text").alias("toks"))
        .filter(F.size("toks") >= _SNIPPET_W)
        .select(
            "doc_id",
            "toks",
            F.filter(
                F.transform(
                    "toks",
                    lambda t, i: F.when(
                        F.array_contains(terms, t), i + 1
                    ).otherwise(F.lit(-1)),
                ),
                lambda x: x > 0,
            ).alias("pos"),
        )
        .filter(F.size("pos") >= 3)
    )
    counted = (
        base.select(
            "doc_id",
            "toks",
            F.array_union(
                F.array(F.lit(1)),
                F.transform(
                    "pos", lambda p: F.greatest(p - (_SNIPPET_W - 1), F.lit(1))
                ),
            ).alias("cands"),
            "pos",
        )
        .select(
            "doc_id",
            "toks",
            "cands",
            F.transform(
                "cands",
                lambda st: F.size(
                    F.filter(
                        "pos",
                        lambda p: (p >= st) & (p <= st + (_SNIPPET_W - 1)),
                    )
                ),
            ).alias("counts"),
        )
        .localCheckpoint()
    )
    best = counted.select(
        "doc_id",
        "toks",
        "cands",
        "counts",
        F.array_max("counts").cast("long").alias("hits"),
    ).select(
        "doc_id",
        "toks",
        "hits",
        F.array_min(
            F.filter(
                F.zip_with(
                    "cands",
                    "counts",
                    lambda st, c: F.when(c == F.col("hits"), st),
                ),
                lambda x: x.isNotNull(),
            )
        )
        .cast("long")
        .alias("start_pos"),
    )
    return (
        best.filter(F.col("hits") >= 3)
        .select(
            "doc_id",
            "start_pos",
            "hits",
            F.concat_ws(
                " ",
                F.slice("toks", F.col("start_pos").cast("int"), _SNIPPET_W),
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )


# --- R13: Dirichlet-smoothed query-likelihood retrieval ------------------------

_QL_TERMS = ("join", "hash", "scan")
_QL_MU = 500.0
_QL_K = 10


@query(
    "q_query_likelihood",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {sql_toks('text')} AS toks FROM documents),
    corpus AS (
      SELECT CAST(sum(len(toks)) AS BIGINT) AS total,
             CAST(sum(len(list_filter(toks, x -> x = 'join'))) AS BIGINT)
               AS c_join,
             CAST(sum(len(list_filter(toks, x -> x = 'hash'))) AS BIGINT)
               AS c_hash,
             CAST(sum(len(list_filter(toks, x -> x = 'scan'))) AS BIGINT)
               AS c_scan
      FROM tok),
    scored AS (
      SELECT t.doc_id,
             ln((len(list_filter(t.toks, x -> x = 'join'))
                 + {_QL_MU} * (c.c_join / CAST(c.total AS DOUBLE)))
                / (len(t.toks) + {_QL_MU}))
             + ln((len(list_filter(t.toks, x -> x = 'hash'))
                   + {_QL_MU} * (c.c_hash / CAST(c.total AS DOUBLE)))
                  / (len(t.toks) + {_QL_MU}))
             + ln((len(list_filter(t.toks, x -> x = 'scan'))
                   + {_QL_MU} * (c.c_scan / CAST(c.total AS DOUBLE)))
                  / (len(t.toks) + {_QL_MU})) AS score
      FROM tok t, corpus c
      WHERE len(t.toks) > 0)
    SELECT doc_id, round(score, 6) AS ql_score
    FROM scored ORDER BY score DESC, doc_id LIMIT {_QL_K}
    """,
)
def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (R13, wave 38):
    rank documents by P(query | doc language model) with Bayesian
    Dirichlet smoothing toward the corpus model — score(d) =
    Σ_t ln((tf_{t,d} + μ·P(t|C)) / (|d| + μ)), μ = 500 (Zhai &
    Lafferty). The other classical lexical ranker beside BM25 (R1):
    where BM25 is a TF-saturation heuristic, QL is the generative-LM
    scoring that modern dense retrievers are trained to approximate —
    and unlike BM25 it scores EVERY document (smoothing mass), so the
    top-k cut is the only output bound.

    100 TB shape: corpus term statistics are ONE aggregate reduced to
    a 4-counter row broadcast onto a second in-row scoring pass
    (per-doc tf/len are array ops, no token explode, no shuffle);
    TakeOrdered cuts the global top-{_QL_K}. The three ln terms sum in
    FIXED query order on both engines, pinning float association."""
    from .functions.tokenize import toks_col

    # per-doc sufficient statistics (|d|, tf per query term) computed in
    # ONE tokenize+filter pass and checkpointed: the corpus-LM aggregate
    # and the scoring pass both consume the narrow int frame, so the
    # interpreted HOF tokenization never runs twice (measured 4.7 s →
    # ~2 s at the 10x docs tier)
    tf = lambda t: F.size(F.filter("toks", lambda x: x == t))  # noqa: E731
    base = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", toks_col("text").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dlen"),
            *[tf(t).alias(f"tf_{t}") for t in _QL_TERMS],
        )
        .localCheckpoint()
    )
    corpus = base.agg(
        F.sum("dlen").cast("long").alias("total"),
        *[
            F.sum(f"tf_{t}").cast("long").alias(f"c_{t}")
            for t in _QL_TERMS
        ],
    )
    scored = base.filter(F.col("dlen") > 0).crossJoin(F.broadcast(corpus))
    term_ln = [
        F.log(
            (
                F.col(f"tf_{t}")
                + _QL_MU
                * (F.col(f"c_{t}") / F.col("total").cast("double"))
            )
            / (F.col("dlen") + _QL_MU)
        )
        for t in _QL_TERMS
    ]
    score = term_ln[0] + term_ln[1] + term_ln[2]
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_QL_K)
        .select("doc_id", F.round("score", 6).alias("ql_score"))
    )
