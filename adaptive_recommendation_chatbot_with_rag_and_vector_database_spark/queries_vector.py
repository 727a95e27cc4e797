"""Vector / retrieval operator coverage (SURVEY §2.3 J1-J2, §2.4 A1,
§2.6 O1/O3, §2.1 S4): top-k cosine search, batch kNN join, context
stuffing, index build — the reference's entire retrieval surface
(/root/reference/AI.py:48-55,96,135-142) over the fixture tables.

Oracle strategy: scoring uses DuckDB ``list_cosine_similarity`` on
``DOUBLE[]`` casts; the Spark side computes the identical double-
precision left-fold via ``zip_with`` + ``aggregate``. Scores are
rounded to 6 decimals on BOTH sides, and every top-k cut orders by the
rounded score with a ``vec_id`` tie-break, so the k-boundary is
hash-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vector import cosine_sim
from .operators.retrieval import build_chunk_index
from .registry import query
from .sources.loaders import load_table, substrate

#: session-cached chunk index, keyed by (applicationId, sf_dir): the
#: build (S4) and its invariant audit (q_index_quality) consume the
#: IDENTICAL documents->chunk->embed->hash result, so building it once
#: per session and localCheckpointing removes a duplicate run of the
#: pipeline's two Python stages (chunker + embedder — the single most
#: expensive per-query cost in the round-9 bench). Values unchanged:
#: both consumers read the same deterministic rows either way.
@substrate("chunk_index")
def _chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_chunk_index(load_table(spark, "documents", sf_dir)).localCheckpoint()

# Query side of the kNN join: one probe row every 50 ids (10 probes over
# the 500-row fixture index) — scan-friendly and self-contained in SQL.
_KNN_PROBE_FILTER = "vec_id % 50 = 0"
_K = 4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


def _query_vec_df(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qvec"))
    )


@query(
    "q_topk_cosine",
    oracle=f"""
    SELECT vec_id, label,
           round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS score
    FROM embeddings,
         (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY score DESC, vec_id ASC
    LIMIT {_K}
    """,
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine similarity search for one query vector (J1/O1) —
    the reference's retrieval call (/root/reference/AI.py:135-139,
    cosine metric AI.py:52, k=4 default AI.py:138). The single-row
    query side is broadcast; orderBy+limit executes as
    TakeOrderedAndProject (per-partition heaps, no global sort) — the
    shape that scans a 100 TB index at full parallelism."""
    emb = _emb(spark, sf_dir)
    q = F.broadcast(_query_vec_df(spark, sf_dir, 0))
    return (
        emb.crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine_sim(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_K)
    )


@query(
    "q_knn_join",
    oracle=f"""
    SELECT query_id, vec_id, score, rnk FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6) AS score,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.embedding::DOUBLE[]), 6) DESC,
                        e.vec_id ASC
             ) AS rnk
      FROM embeddings e, (SELECT * FROM embeddings WHERE {_KNN_PROBE_FILTER}) q
      WHERE e.vec_id <> q.vec_id
    ) WHERE rnk <= {_K}
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join (J2/J8/O3): N probe vectors × M index rows, exact
    brute force, k best per probe (self-matches excluded). The probe
    side is broadcast so the index — the 100 TB side — is never
    shuffled; the per-probe cut is a window row_number. The sub-linear
    alternative is operators/similarity.lsh_knn (q_ann_lsh)."""
    from .sources.loaders import scatter

    emb = _emb(spark, sf_dir)
    probes = F.broadcast(
        emb.filter(F.expr(_KNN_PROBE_FILTER)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )
    scored = (
        scatter(emb).crossJoin(probes)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _K
    )


@query(
    "q_stuff_context",
    oracle=f"""
    WITH top AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
      FROM embeddings e,
           (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY score DESC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT string_agg(d.text, chr(10) || chr(10) ORDER BY t.score DESC, t.vec_id ASC)
             AS context,
           count(*) AS n_chunks
    FROM top t JOIN documents d ON d.doc_id = t.vec_id
    """,
)
def q_stuff_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-stuff (J1 + J3 + A1): the reference's
    create_stuff_documents_chain (/root/reference/AI.py:142,99-105) —
    top-k retrieval joined to its payload texts, concatenated
    best-first into one ``{{context}}`` string."""
    emb = _emb(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    q = F.broadcast(_query_vec_df(spark, sf_dir, 0))
    top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_K)
    )
    joined = top.join(docs, top.vec_id == docs.doc_id)
    pair = F.struct(
        (-F.col("score")).alias("o"), F.col("vec_id").alias("v"), F.col("text").alias("t")
    )
    return joined.agg(
        F.concat_ws(
            "\n\n", F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["t"])
        ).alias("context"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


def _probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .filter(F.expr(_KNN_PROBE_FILTER))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )


#: session-cached ANN results, keyed by (applicationId, sf_dir, route):
#: three sibling groups each re-ran the IDENTICAL full-probe ANN call —
#: lsh_knn for q_ann_lsh + q_ann_lsh_quality + q_ann_recall's LSH side,
#: ivf_knn(16,12) for q_ann_ivf_quality + q_ann_recall's IVF side, and
#: knn_auto for q_knn_auto + q_knn_auto_quality. Every per-probe result
#: row is independent of which other probes ran (candidate generation,
#: dedup, and the rank window are all per-query_id), so consumers that
#: need a probe SUBSET (the recall panel) filter the cached superset to
#: bit-identical rows — no second ANN pass. q_ann_ivf's default-budget
#: call has one consumer and stays uncached (a checkpoint there would
#: only add a materialization job).
@substrate("ann_{}_result", warm=(("lsh",), ("ivf12",), ("auto",)))
def _ann_result(spark: SparkSession, sf_dir: str, route: str) -> DataFrame:
    from .operators.retrieval import knn_auto
    from .operators.similarity import ivf_knn, lsh_knn

    if route == "lsh":
        ann = lsh_knn(_probes(spark, sf_dir), _emb(spark, sf_dir), k=_K)
    elif route == "ivf12":
        ann = ivf_knn(
            _probes(spark, sf_dir),
            _emb(spark, sf_dir),
            k=_K,
            n_cells=16,
            nprobe=12,
            cache_key=sf_dir,
        )
    elif route == "auto":
        ann = knn_auto(
            _probes(spark, sf_dir),
            _emb(spark, sf_dir),
            k=_K,
            query_vec="qvec",
            cache_key=sf_dir,
        )
    else:  # pragma: no cover - internal routes only
        raise KeyError(route)
    return ann.localCheckpoint()


@query("q_ann_lsh")  # approximate by design → rows-only oracle
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via banded cosine LSH (scale path for J2): pairs
    meet on (band, code) equi-join buckets instead of a cross product.
    Recall vs exact brute force is asserted in tests (≥0.9 @ k=4).
    Result rides the session ANN cache shared with its quality twin and
    the recall gate (identical call, computed once)."""
    return _ann_result(spark, sf_dir, "lsh")


@query("q_ann_ivf")  # approximate by design → rows-only oracle
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via IVF-Flat (scale path for J2): driver-trained
    codebook, cell-pruned candidate join, exact re-rank."""
    from .operators.similarity import ivf_knn

    return ivf_knn(
        _probes(spark, sf_dir), _emb(spark, sf_dir), k=_K, cache_key=sf_dir
    )


_RECALL_THRESHOLD = 0.9
#: recall is estimated on a FIXED-SIZE probe panel (the smallest probe
#: ids — stable under the N× replicated tiers, which shift ids upward),
#: so the exact ground truth costs O(panel × index) — linear in the
#: index — instead of O(probes × index), which is quadratic in the
#: corpus (measured: 2.2 s → 26.1 s for 10× data before the panel cap).
#: A measurement query must never be the scale bottleneck of the thing
#: it measures.
_RECALL_PANEL = 64
#: plan-parity checks get a larger panel (multi-partition probe side,
#: still fixed-size — see q_ann_batch_parity)
_PARITY_PANEL = 512

#: exact ground-truth panel shared by q_ann_recall and the three
#: q_ann_*_quality twins, keyed by (applicationId, sf_dir): each of the
#: four queries needs the IDENTICAL brute-force top-K over the same
#: fixed probe panel, so computing it once per session and
#: localCheckpointing the tiny (panel x k) result removes three
#: duplicate full-index Arrow passes from any run that executes them
#: together (the round-8 bench's single largest duplication). Sharing
#: is semantics-free: every consumer read bit-identical rows before.
@substrate("ann_exact_panel")
def _exact_panel(spark: SparkSession, sf_dir: str):
    """(exact_df, panel_query_ids): the brute-force (query_id, vec_id)
    top-{_K} over the fixed {_RECALL_PANEL}-probe panel via the Arrow
    top-k kernel (one linear index pass, k-row partials per batch),
    computed once per (session, sf_dir)."""
    from .operators.similarity import brute_topk_partials
    from .sources.loaders import scatter

    probes = _probes(spark, sf_dir).orderBy("query_id").limit(_RECALL_PANEL)
    panel = [(r.query_id, r.qvec) for r in probes.collect()]
    dim = len(panel[0][1])
    partials = brute_topk_partials(
        scatter(_emb(spark, sf_dir)), panel, k=_K, dims=[dim]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    exact = (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "vec_id")
        .localCheckpoint()
    )
    out = (exact, [q for q, _ in panel])
    return out


@query(
    "q_ann_recall",
    oracle=f"""
    SELECT method, n_probes, recall_ok FROM (
      SELECT 'ivf' AS method,
             least({_RECALL_PANEL},
                   (SELECT count(*) FROM embeddings WHERE {_KNN_PROBE_FILTER}))
               AS n_probes,
             true AS recall_ok
      UNION ALL
      SELECT 'lsh',
             least({_RECALL_PANEL},
                   (SELECT count(*) FROM embeddings WHERE {_KNN_PROBE_FILTER})),
             true
    )
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a driver-checkable scalar (VERDICT r1 #7): recall
    of each approximate path (LSH bands, IVF cells) against the exact
    brute-force top-k over a fixed {_RECALL_PANEL}-probe panel,
    thresholded at {_RECALL_THRESHOLD}. The oracle asserts the VERDICT
    — ``recall_ok = true`` per method — so a recall regression below
    threshold hash-mismatches in CORRECTNESS even though DuckDB cannot
    run the ANN itself. The per-commit recall value is additionally
    asserted in tests/test_similarity.py.

    IVF probes 12/16 cells here: fixture embeddings are ~uniform on
    the sphere (no cluster structure), so IVF recall is bounded by the
    scan fraction — 0.975 measured at sf0.001/sf0.01 with this budget.
    On a real clustered corpus the same 0.9 recall needs far fewer
    probes; the probe budget is the caller's recall/cost dial."""
    # ground truth through the shared session-cached panel (one linear
    # Arrow pass serves this query AND the three q_ann_*_quality twins;
    # the checkpointed (panel x k) result feeds three consumers here:
    # totals + one semi-join per method); each method's ANN side is the
    # session-cached full-probe result FILTERED to the panel ids (per-
    # probe rows are independent, so the subset is bit-identical to a
    # panel-only run — no second ANN pass per method)
    exact, panel_ids = _exact_panel(spark, sf_dir)
    totals = exact.agg(
        F.count(F.lit(1)).alias("tot"),
        F.countDistinct("query_id").alias("n_probes"),
    )

    def recall_row(method: str, ann: DataFrame) -> DataFrame:
        hits = (
            ann.filter(F.col("query_id").isin(panel_ids))
            .select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        return hits.crossJoin(totals).select(
            F.lit(method).alias("method"),
            F.col("n_probes"),
            (F.col("hits") / F.col("tot") >= _RECALL_THRESHOLD).alias("recall_ok"),
        )

    return recall_row("ivf", _ann_result(spark, sf_dir, "ivf12")).unionByName(
        recall_row("lsh", _ann_result(spark, sf_dir, "lsh"))
    )


@query(
    "q_ann_batch_parity",
    oracle=f"""
    SELECT least({_PARITY_PANEL},
                 (SELECT count(*) FROM embeddings WHERE {_KNN_PROBE_FILTER}))
             AS n_probes,
           true AS identical
    """,
)
def q_ann_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-join IVF route as a driver-checkable invariant (round-4
    verdict #4): ``ivf_knn_batch`` — the shuffle-join variant knn_auto
    routes large probe batches to, where the probe side can neither
    broadcast nor touch the driver — must produce EXACTLY the rows of
    the broadcast-probe ``ivf_knn`` under the same codebook: identical
    (query, vec, score, rank) tuples, including through its extra
    per-(query, cell) partial top-k stage. The oracle asserts the
    verdict (``identical = true``), so any divergence between the two
    physical plans hash-mismatches in CORRECTNESS even though DuckDB
    cannot run either plan. Symmetric ``exceptAll`` keeps the whole
    comparison engine-side — no result ever reaches the driver.

    Parity is row-for-row equality of two PHYSICAL PLANS — it does not
    need a corpus-growing probe set, so the probe side is the fixed
    {_PARITY_PANEL}-id panel (keeps both plans' candidate spaces linear
    in the index; an uncapped probe filter made this check quadratic in
    the corpus, the q_ann_recall lesson)."""
    from .operators.similarity import ivf_knn, ivf_knn_batch

    emb = _emb(spark, sf_dir)
    probes = _probes(spark, sf_dir).orderBy("query_id").limit(_PARITY_PANEL)
    # each side eagerly checkpointed ONCE: the symmetric exceptAll
    # references a twice and b twice, so uncheckpointed both ANN
    # kernels (codebook assign + cogrouped cell matmul) executed twice
    # per call (4 kernel executions, measured 4.3 s solo-warm). The two
    # checkpoints build CONCURRENTLY (guide §2.6 — the sides are
    # independent, and sequential eager actions lost the stage overlap
    # the old single-plan form had); the checkpointed frames are
    # k·panel rows, never corpus-sized.
    from concurrent.futures import ThreadPoolExecutor

    def _ckpt(kernel):
        return kernel(
            probes, emb, k=_K, n_cells=16, nprobe=4, cache_key=sf_dir
        ).localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(_ckpt, ivf_knn)
        fb = pool.submit(_ckpt, ivf_knn_batch)
        a, b = fa.result(), fb.result()
    n_diff = (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    n_probes = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    return n_probes.crossJoin(n_diff).select(
        "n_probes", (F.col("n_diff") == 0).alias("identical")
    )


@query("q_build_index")  # chunk boundaries are not SQL-expressible → rows-only
def q_build_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index build (S4+F5+F6+F8): documents → recursive chunks →
    deterministic embeddings + sha2 content hash — the engine's version
    of the reference's embed-and-upsert (/root/reference/AI.py:96) with
    content-hash idempotency replacing its LRU cache (AI.py:89-96).
    Rows-only oracle: the recursive chunker is not SQL-expressible.
    The build rides the session-cached chunk index shared with
    q_index_quality (same construction, checkpointed once)."""
    idx = _chunk_index(spark, sf_dir)
    # project embedding stats rather than the raw vectors: deterministic,
    # schema-stable, and exercises the full build
    return idx.select(
        "doc_id",
        "chunk_id",
        F.length("text").alias("chunk_len"),
        "content_hash",
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            ),
            4,
        ).alias("embedding_sq_norm"),
    )


@query("q_knn_auto")  # routing operator; exact path below the ANN
# threshold ranks on unrounded scores (near-ties would make a rounded
# oracle flaky), approximate above it → rows-only by design. Exactness
# of both routed paths is covered by q_knn_join's oracle and the
# recall assertions in tests/test_similarity.py.
def q_knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-routed batch kNN (the reference's brute-force→ANN
    delegation split, /root/reference/AI.py:49-55, as an API-level
    pre-plan decision per SURVEY §4.3): exact broadcast-probe brute
    force below ``ann_threshold_rows`` index rows; above it the probe
    batch size picks the engine — banded cosine LSH while the probe
    set still broadcasts, shuffle-join IVF (``ivf_knn_batch``, parity
    asserted by q_ann_batch_parity) once it does not. Uniform
    (query_id, vec_id, score, rank) in every regime. Result rides the
    session ANN cache shared with q_knn_auto_quality (identical call)."""
    return _ann_result(spark, sf_dir, "auto")


@query(
    "q_index_quality",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           true AS chunk_len_ok,
           true AS unit_norms,
           true AS hash_consistent
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    """,
)
def q_index_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable index-build invariants (the q_recommend_quality
    trick applied to the chunk→embed→hash path, whose boundaries are
    not SQL-expressible): every non-empty document must surface in the
    index (coverage = the exact document count, computed independently
    by the oracle), every chunk respects the reference's 1000-char
    bound (/root/reference/AI.py:209), every embedding is unit-norm
    (the embedder contract), and content hashes are in bijection with
    chunk texts. A regression in chunking (dropped docs, over-long
    chunks), embedding normalization, or hashing hash-mismatches in
    CORRECTNESS even though chunk boundaries are chunker-defined.
    Rides the session-cached chunk index shared with q_build_index."""
    idx = _chunk_index(spark, sf_dir)
    sq_norm = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    # Narrow projection BEFORE the multi-countDistinct aggregate: the
    # Expand it plans duplicates every row per distinct-column, so wide
    # text/hash strings in the shuffle would triple the exchange volume;
    # xxhash64 surrogates keep every lane 8 bytes.
    stats = idx.select(
        "doc_id",
        F.length("text").alias("chunk_len"),
        F.xxhash64("content_hash").alias("h_hash"),
        F.xxhash64("text").alias("h_text"),
        sq_norm.alias("sq"),
    ).agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.max("chunk_len") <= 1000).alias("chunk_len_ok"),
        (
            (F.min("sq") >= 0.9999) & (F.max("sq") <= 1.0001)
        ).alias("unit_norms"),
        (
            F.countDistinct("h_hash") == F.countDistinct("h_text")
        ).alias("hash_consistent"),
    )
    return stats.select("n_docs", "chunk_len_ok", "unit_norms", "hash_consistent")


# --- V14: matryoshka truncation recall ---------------------------------------


def _sql_matryoshka() -> str:
    def topk(dim_slice: str, tag: str) -> str:
        if dim_slice:
            vec = f"list_slice(e.embedding, 1, {dim_slice})::DOUBLE[]"
            qvec = f"list_slice(q.embedding, 1, {dim_slice})::DOUBLE[]"
        else:
            vec = "e.embedding::DOUBLE[]"
            qvec = "q.embedding::DOUBLE[]"
        return f"""
    {tag} AS (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity({vec}, {qvec}), 6) DESC,
                          e.vec_id ASC
               ) AS rnk
        FROM embeddings e,
             (SELECT * FROM embeddings WHERE {_KNN_PROBE_FILTER}
              ORDER BY vec_id LIMIT {_RECALL_PANEL}) q
        WHERE e.vec_id <> q.vec_id
      ) WHERE rnk <= {_K}
    )"""

    return f"""
    WITH {topk('', 'full_k')},
    {topk('32', 't32')},
    {topk('16', 't16')},
    hits AS (
      SELECT 32 AS trunc_dim, t.query_id,
             sum(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END) AS n_hits
      FROM t32 t LEFT JOIN full_k f
        ON f.query_id = t.query_id AND f.vec_id = t.vec_id
      GROUP BY t.query_id
      UNION ALL
      SELECT 16, t.query_id,
             sum(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END)
      FROM t16 t LEFT JOIN full_k f
        ON f.query_id = t.query_id AND f.vec_id = t.vec_id
      GROUP BY t.query_id
    )
    SELECT trunc_dim, CAST(count(*) AS BIGINT) AS n_probes,
           round(avg(n_hits / {_K}.0), 4) AS avg_recall
    FROM hits GROUP BY trunc_dim
    """


@query("q_matryoshka_recall", oracle=_sql_matryoshka())
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality (V14): how much top-k retrieval
    survives truncating the embedding to its leading 32 / 16 of 64
    dims — the measurement behind MRL-style dimension-tiering (serve
    ANN from the cheap prefix, rerank with the full vector; the same
    cost lever as q_vector_quantize's int8 path, on the dimension axis
    instead of the precision axis).

    Both engines compute exact top-k under each truncation (rank on
    ROUNDED cosine, vec_id tie-break — deterministic everywhere) and
    score recall@k against the full-dim top-k. Plan: the probe side
    broadcasts into each scoring pass (the index never shuffles), the
    per-probe cut is a window row_number, and the recall join is keyed
    on (query, vec) pairs — k rows per probe, nothing corpus-sized
    moves. Truncated scoring reads the SAME column sliced in-row
    (F.slice), which at 100 TB is the no-second-copy property that
    makes prefix-dim serving free at storage level.

    Like q_ann_recall, recall is estimated on a fixed
    {_RECALL_PANEL}-probe panel (smallest probe ids): the exact
    ground truth is O(panel × index) instead of the probes×index
    quadratic a corpus-growing probe set would plan (measured >11 min
    at the 10× tier before the cap). Scoring runs through the
    ``brute_topk_partials`` Arrow kernel — ONE numpy pass snapshots all
    three truncations (prefix folds share the accumulator) with
    in-UDF per-batch top-k, bit-identical to the Catalyst
    ``round(cosine_sim(slice(...)))`` fold (asserted in
    tests/test_similarity.py), so the exchange carries k-row partials
    per (batch, probe, truncation) — never the pair space."""
    from .operators.similarity import brute_topk_partials
    from .sources.loaders import scatter

    emb = _emb(spark, sf_dir)
    # bounded-by-construction driver collect: the fixed panel
    panel = [
        (r.vec_id, r.embedding)
        for r in emb.filter(F.expr(_KNN_PROBE_FILTER))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_RECALL_PANEL)
        .collect()
    ]
    full_dim = len(panel[0][1])
    partials = brute_topk_partials(
        scatter(emb), panel, k=_K, dims=[16, 32, full_dim]
    )
    w = Window.partitionBy("trunc_dim", "query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    topk_all = (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _K)
        .select("trunc_dim", "query_id", "vec_id")
        .persist()
    )
    full_k = (
        topk_all.filter(F.col("trunc_dim") == full_dim)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        topk_all.filter(F.col("trunc_dim") != full_dim)
        .join(full_k, ["query_id", "vec_id"], "left")
        .groupBy("trunc_dim", "query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
        .groupBy("trunc_dim")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(F.avg(F.col("n_hits") / float(_K)), 4).alias("avg_recall"),
        )
    )

# --- oracle-backed quality twins for the rows-only ANN entries -------------
# (VERDICT r7 #4: every approximate/routing operator gets a
# driver-hashable invariant verdict beside its rows-only registration,
# the q_recommend_quality pattern)

#: the invariant battery every kNN route must satisfy, independent of
#: which physical engine served it (exact scan, banded LSH, IVF probe):
#: every probe answered, ranks dense from 1 (max k), scores
#: non-increasing with rank, no self-match (the engine-wide kNN-join
#: contract excludes the probe's own vector — similarity.py kernels
#: mask ``id != query``), every returned id a real index id, and
#: recall >= 0.9 against the exact brute-force top-k over the fixed
#: 64-probe panel (the q_ann_recall ground-truth pattern; the panel
#: rows are FILTERED from the same result — no second ANN pass).
_ANN_QUALITY_ORACLE = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           true AS ranks_dense,
           true AS scores_sorted,
           true AS no_self,
           true AS ids_known,
           true AS recall_ok
    FROM embeddings WHERE {_KNN_PROBE_FILTER}
    """


def _ann_quality_row(
    spark: SparkSession, sf_dir: str, ann: DataFrame
) -> DataFrame:
    """(n_probes, ranks_dense, scores_sorted, no_self, ids_known,
    recall_ok) from a (query_id, vec_id, score, rank) kNN result. All
    checks aggregate engine-side; the per-probe window runs over the
    bounded (probes x k) result, never the index; the recall ground
    truth is one linear Arrow pass over the index for the fixed
    {_RECALL_PANEL}-probe panel (never probes x index)."""
    emb = _emb(spark, sf_dir)
    ann = ann.persist()
    w = Window.partitionBy("query_id").orderBy("rank")
    per = (
        ann.withColumn("prev_score", F.lag("score").over(w))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rank").alias("min_rk"),
            F.max("rank").alias("max_rk"),
            F.countDistinct("rank").alias("n_rk"),
            F.max((F.col("vec_id") == F.col("query_id")).cast("int")).alias(
                "self_hit"
            ),
            F.max(
                (F.col("prev_score").isNotNull())
                & (F.col("score") > F.col("prev_score") + F.lit(1e-9))
            ).alias("any_unsorted"),
        )
    )
    stats = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        (
            (F.min("min_rk") == 1)
            & (F.max("min_rk") == 1)
            & (F.min((F.col("max_rk") == F.col("n")).cast("int")) == 1)
            & (F.min((F.col("n_rk") == F.col("n")).cast("int")) == 1)
            & (F.max("n") <= _K)
        ).alias("ranks_dense"),
        (~F.max("any_unsorted")).alias("scores_sorted"),
        (F.max("self_hit") == 0).alias("no_self"),
    )
    unknown = ann.join(
        emb.select("vec_id"), "vec_id", "left_anti"
    ).agg((F.count(F.lit(1)) == 0).alias("ids_known"))
    # recall over the fixed panel: exact ground truth from the shared
    # session-cached panel (q_ann_recall's construction, computed once
    # for all four quality/recall queries), ANN side filtered from the
    # already-computed result
    exact, panel_list = _exact_panel(spark, sf_dir)
    panel_ids = set(panel_list)
    hits = (
        ann.filter(F.col("query_id").isin(list(panel_ids)))
        .select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    tot = exact.agg(F.count(F.lit(1)).alias("tot"))
    recall = hits.crossJoin(tot).select(
        (F.col("hits") / F.col("tot") >= _RECALL_THRESHOLD).alias("recall_ok")
    )
    return (
        stats.crossJoin(unknown)
        .crossJoin(recall)
        .select(
            "n_probes",
            "ranks_dense",
            "scores_sorted",
            "no_self",
            "ids_known",
            "recall_ok",
        )
    )


@query("q_ann_lsh_quality", oracle=_ANN_QUALITY_ORACLE)
def q_ann_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict twin of q_ann_lsh (VERDICT r7 #4): the
    SAME banded-LSH call must answer every probe with dense ranks,
    sorted scores, no self-match, only real index ids, and >=0.9
    panel recall vs the exact brute-force top-k. Reads the session ANN
    cache shared with q_ann_lsh and q_ann_recall (identical call)."""
    ann = _ann_result(spark, sf_dir, "lsh").select(
        "query_id", "vec_id", "score", F.col("rnk").alias("rank")
    )
    return _ann_quality_row(spark, sf_dir, ann)


@query("q_ann_ivf_quality", oracle=_ANN_QUALITY_ORACLE)
def q_ann_ivf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict twin of q_ann_ivf (VERDICT r7 #4): the
    IVF route (driver-trained codebook, cell-pruned candidates, exact
    re-rank) under the full invariant battery + panel recall. Probes
    12/16 cells — q_ann_recall's documented recall budget: the fixture
    embeddings are ~uniform on the sphere, so recall is bounded by the
    scan fraction and q_ann_ivf's default nprobe=4 demo budget cannot
    clear a 0.9 floor on ANY implementation (the dial, not the code,
    decides); the battery's structural verdicts exercise the identical
    code path the default call runs. Reads the session ANN cache shared
    with q_ann_recall's IVF side (identical call)."""
    ann = _ann_result(spark, sf_dir, "ivf12").select(
        "query_id", "vec_id", "score", F.col("rnk").alias("rank")
    )
    return _ann_quality_row(spark, sf_dir, ann)


@query("q_knn_auto_quality", oracle=_ANN_QUALITY_ORACLE)
def q_knn_auto_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict twin of q_knn_auto (VERDICT r7 #4): the
    battery holds in EVERY routing regime (exact below the threshold,
    LSH/IVF above), so the verdict stays green whichever engine the
    router picks — a routing bug that drops probes, scrambles ranks,
    or tanks recall cannot pass. Reads the session ANN cache shared
    with q_knn_auto (identical call)."""
    return _ann_quality_row(spark, sf_dir, _ann_result(spark, sf_dir, "auto"))
