"""The reference's query path, Spark-first (SURVEY §3.2 restatement).

Reference pipeline (/root/reference/AI.py): chunk (AI.py:84-85) → embed +
upsert to cosine index (AI.py:48-55,96) → top-k retrieve (AI.py:135-139,
k=4 default) → "stuff" context concat (AI.py:142,99-105) → LLM (outside
the engine's deterministic surface) → refusal predicate + first-line cut
(AI.py:176-185).

Spark shapes, chosen for the 100 TB posture:

- ``build_chunk_index``: chunker UDF + explode + embedding UDF, plus a
  ``sha2`` content hash per chunk — the storage-backed equivalent of the
  reference's LRU memoization (AI.py:89-96).
- ``write_index_incremental``: the idempotent append. One branch chunks
  each document once, anti-joins the index's ``(doc_id, content_hash)``
  keys, left-joins the stored embedding per ``content_hash``, and one
  Python stage passes a stored vector through or embeds the text — so
  identical content is never re-embedded, and an append on this route
  is two Python stages over two index scans. ``RagEngine`` does the
  work of a one-task append on the driver instead (engine.py).
- Both size their Python stages from plan statistics
  (``_python_width``): each Python task has a fixed CPU cost, so an
  input runs as one task per ~200 KB of parquet, up to
  ``defaultParallelism`` — a small append is one task, not one per
  core, and writes one index file.
- ``topk_cosine``: a question binds two literals (vector, norm) under a
  session-cached score expression (functions.vector); the top-k is
  ``orderBy(desc).limit(k)``, which Catalyst executes as
  ``TakeOrderedAndProject`` — per-partition heaps + driver merge, never a
  global sort. That is exactly the distributed form of a vector-index
  top-k scan.
- ``knn_join``: N queries × M index. The query side is broadcast (it is
  the small side by construction); the per-query cut is a window
  ``row_number() <= k``. At 100 TB index scale the broadcast avoids
  shuffling the index entirely — the only full pass is the scan itself.
  For sub-linear behavior see operators/similarity.py (LSH / IVF).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.chunker import DEFAULT_CHUNK_SIZE, chunk_documents
from ..functions.embedder import EMBED_DIM, embed_or_reuse_udf, embedding_udf
from ..functions.vector import cosine_to_query, query_literals

# Reference constants (BASELINE.md): retrieval k=4, refusal prefix.
DEFAULT_K = 4
REFUSAL_PREFIX = "The context provided does not contain specific information"
REFUSAL_MESSAGE = (
    "I'm sorry, I can only answer questions related to the provided context."
)

PY_TASK_CPU_S = 0.3
"""Fixed CPU of one Python-UDF task whatever its row count: ~0.2 s while
reused workers re-read ``pyspark.zip`` per task, ~0.05 s since ``session``
stamps that re-read (README, "Engine index path"). Kept at 0.3 on purpose:
a lower value gives the ``chat`` set-up build's 61.5 KB input width 2, not
1, and every ask scans the extra index files; a refit is its own A/B. An
input of one task is also where ``RagEngine.index_documents`` switches to
its driver route (no Python worker), so a refit moves that bound too."""

PY_CPU_S_PER_BYTE = 1.5e-6
"""Chunk + embed CPU per byte of the input's parquet size: 0.5-0.7 µs
per raw text byte, and parquet stores that text at 0.41-0.51× its raw
size. Only the ratio to ``PY_TASK_CPU_S`` sets a width: one task pays
off per ~200 KB of parquet input."""


def _python_tasks(docs: DataFrame) -> int:
    """The chunk + embed CPU that ``docs``' plan-statistics size
    predicts, in units of one Python task's fixed cost, at least 1. The
    size comes from the optimized plan and runs no job. A file scan or
    local relation reports its real size; an input with no statistics
    reports ``spark.sql.defaultSizeInBytes`` and a join an inflated
    product."""
    size = docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return max(1, math.ceil(size * PY_CPU_S_PER_BYTE / PY_TASK_CPU_S))


def _python_width(docs: DataFrame) -> int:
    """Tasks for the chunk + embed stages over ``docs``:
    ``_python_tasks(docs)`` clamped to ``defaultParallelism``, which an
    input without statistics, or a join, keeps in full."""
    cap = docs.sparkSession.sparkContext.defaultParallelism
    return min(cap, _python_tasks(docs))


def build_chunk_index(
    docs: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """documents → chunk_embeddings(doc_id, chunk_id, text, embedding,
    content_hash); the engine's vector-index build (S4 + F6 + F8).

    The input is scattered to ``_python_width(docs)`` tasks first: the
    chunker and embedder are the pipeline's two Python stages, each
    task pays a fixed Python cost, so a small input runs as ONE task
    and a large single-file scan is spread up to engine parallelism."""
    from ..sources.loaders import scatter

    chunks = chunk_documents(scatter(docs, _python_width(docs)), chunk_size=chunk_size)
    embed = embedding_udf(dim)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "text",
        embed(F.col("text")).alias("embedding"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )


def _path_exists(spark, path: str) -> bool:
    """Hadoop-FS existence check — distinguishes 'no index yet' from a
    real read failure (corrupt file, permission error), which must
    propagate: swallowing it would re-embed and APPEND the whole batch,
    silently duplicating index rows and breaking the idempotent-replay
    guarantee streaming/index_stream.py relies on."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _append_rows(
    docs: DataFrame,
    path: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    dim: int = EMBED_DIM,
    schema: StructType | None = None,
) -> DataFrame:
    """The rows ``write_index_incremental`` appends, as one branch:
    ``chunks`` anti-joined with the index's ``(doc_id, content_hash)``
    keys, left-joined to its ``content_hash → embedding`` map as
    ``known``, then one Python stage that passes ``known`` through and
    embeds only where it is null."""
    from ..sources.loaders import scatter

    spark = docs.sparkSession
    chunks = chunk_documents(
        scatter(docs, _python_width(docs)), chunk_size=chunk_size
    ).withColumn("content_hash", F.sha2(F.col("text"), 256))
    if _path_exists(spark, path):
        existing = (spark.read.schema(schema) if schema else spark.read).parquet(path)
        seen_keys = existing.select("doc_id", "content_hash").distinct()
        known = existing.select(
            "content_hash", F.col("embedding").alias("known")
        ).dropDuplicates(["content_hash"])
        chunks = chunks.join(seen_keys, ["doc_id", "content_hash"], "left_anti").join(
            known, "content_hash", "left"
        )
    else:
        chunks = chunks.withColumn("known", F.lit(None).cast("array<float>"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        "text",
        embed_or_reuse_udf(dim)(F.col("text"), F.col("known")).alias("embedding"),
        "content_hash",
    )


def write_index_incremental(
    docs: DataFrame,
    path: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    dim: int = EMBED_DIM,
    schema: StructType | None = None,
) -> int:
    """Content-hash-incremental index build — the storage-backed form of
    the reference's LRU memoization (/root/reference/AI.py:89-96, keyed
    on chunk contents). Two-level reuse:

    - identity on ``(doc_id, content_hash)``: a chunk already indexed
      for THIS document is skipped entirely (the anti-join). Keying on
      the hash alone would drop a new document whose text is
      byte-identical to another doc's chunk, making it unreachable by
      doc-scoped retrieval — the reference memoizes the embedding per
      content but still stores every chunk.
    - embedding reuse on ``content_hash``: a new (doc, chunk) row whose
      text hash already exists anywhere in the index copies the stored
      embedding instead of re-running the embedder — exactly the
      reference's LRU semantics, storage-backed.

    The plan (``_append_rows``) is one branch: each document is chunked
    once, and reuse and embedding share one Python stage, so an append
    runs two Python stages (chunker, embedder) and scans the index twice
    (keys, stored embeddings). ``RagEngine.index_documents`` computes the
    same rows on the driver when this plan would run one Python task,
    and calls this function otherwise. At small appends the cost is Python
    tasks, not rows; at scale embedding dominates (a model call per
    chunk) and both joins are hash-keyed over column-pruned parquet
    reads; a known index ``schema`` skips inferring it (one job). Appends
    new rows; returns how many chunk rows were newly appended."""
    # localCheckpoint would also work; count-then-append keeps it simple
    # and the count is the caller's idempotency signal.
    new_rows = _append_rows(docs, path, chunk_size, dim, schema).persist()
    try:
        n = new_rows.count()
        if n:
            new_rows.write.mode("append").parquet(path)
        return n
    finally:
        new_rows.unpersist()


def topk_cosine(
    index: DataFrame,
    query_vec,
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id",),
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-k cosine similarity search for ONE query vector (J1/O1).

    ``query_vec`` (a list or np array) is bound as two literals, which
    Catalyst collapses into the score projection. Deterministic
    tie-break on the first id column.
    """
    # vec_col may also be a payload column (MMR reads the embeddings)
    keep = dict.fromkeys((*id_cols, *payload_cols, vec_col))
    score = cosine_to_query(vec_col, index.sparkSession.sparkContext.applicationId)
    scored = index.select(*keep, *query_literals(query_vec)).select(
        *id_cols, *payload_cols, score.alias("score")
    )
    # orderBy+limit → TakeOrderedAndProject (no global sort at scale)
    return scored.orderBy(F.desc("score"), *[F.asc(c) for c in id_cols]).limit(k)


def knn_join(
    queries: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_K,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    max_probe_rows: int = 65536,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch kNN join (J2/J8/O3): per query row, the k nearest index rows
    by cosine. Exact (brute-force), via ``similarity.brute_knn_block``:
    the probe panel rides in the kernel closure (the same smallness
    assumption broadcasting it made), each Arrow batch scores a dense
    BLAS block and reduces to per-probe top-k in place — the
    |index| × |probes| pair space never exists as rows (the old
    broadcast-crossJoin duplicated both vectors onto every pair row:
    ~800 GB of traffic, 289 s, at the 200 k × 4 k tier; the kernel runs
    the same tier in ~14 s). Ranks on the ROUNDED score with an id
    tie-break, like every oracle-backed top-k in the repo.

    DRIVER-MEMORY BOUND: the probe side is collected to the driver to
    build the kernel closure, so this API is for panel-sized query
    batches only — ``max_probe_rows`` (default 65 536 ≈ 34 MB of
    64-float vectors) guards the collect and raises instead of OOMing
    the driver. Oversized probe batches belong on ``knn_auto``, which
    routes them to the cell-cogrouped ``ivf_knn_batch`` with no
    probe-sized collect anywhere; the approximate scale paths live in
    operators/similarity.py."""
    from ..sources.loaders import scatter
    from .similarity import brute_knn_block

    head = queries.select(query_id, query_vec).limit(max_probe_rows + 1).collect()
    if len(head) > max_probe_rows:
        raise ValueError(
            f"knn_join collects the probe side to the driver; got more than "
            f"max_probe_rows={max_probe_rows} query rows — use knn_auto "
            f"(routes large probe batches to ivf_knn_batch) or raise the cap "
            f"if driver memory genuinely allows it"
        )
    panel = [(r[0], r[1]) for r in head]
    # min-parallelism guard: a small single-split index scan would run
    # the whole blocked scoring in ONE task; no-op on well-partitioned
    # input (see loaders.scatter)
    partials = brute_knn_block(
        scatter(index),
        panel,
        k,
        index_id=index_id,
        index_vec=index_vec,
        exclude_self=exclude_self,
    ).withColumnRenamed("query_id", query_id).withColumnRenamed(
        "vec_id", index_id
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(index_id))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_auto(
    queries: DataFrame,
    index: DataFrame,
    k: int = DEFAULT_K,
    ann_threshold_rows: int = 1_000_000,
    index_rows: int | None = None,
    probe_threshold_rows: int = 1024,
    probe_rows: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    cache_key: str | None = None,
) -> DataFrame:
    """Route the batch kNN join on BOTH cardinalities: exact brute
    force below ``ann_threshold_rows`` index rows; above it, the probe
    batch size picks the approximate engine — banded cosine LSH for
    genuinely interactive probe batches (``probe_rows <=
    probe_threshold_rows``; LSH candidates cost ~N/2^bits PER PROBE
    even with the size-adaptive banding, so the broadcast-probe path is
    capped at ~10³ probes — beyond that the per-probe candidate scans
    multiply past what the cell-bounded batch join costs), shuffle-join IVF
    (``similarity.ivf_knn_batch``) once it does not (batch-join regime:
    10⁷ probes × 10⁹-row index must meet in a cell-keyed shuffle, with
    no probe-sized broadcast or driver collect anywhere). This is the
    reference's brute-force→ANN delegation split
    (/root/reference/AI.py:49-55, Pinecone serverless ANN) as an
    API-level pre-plan decision (SURVEY §4.3: deliberately NOT an
    injected Catalyst rule). Pass ``index_rows`` / ``probe_rows`` when
    the caller already knows the cardinalities (catalog stats,
    manifest) to skip the counts.

    Uniform output shape in every regime:
    (query_id, index_id, score, rank).
    """
    if index_rows is None:
        index_rows = index.count()
    if index_rows <= ann_threshold_rows:
        # exclude_self for CROSS-REGIME uniformity: every approximate
        # route (lsh_knn, ivf_knn, ivf_knn_batch) masks index_id ==
        # query_id, so the exact route must too — otherwise the same
        # probe set flips semantics when the index crosses the
        # threshold (caught by q_knn_auto_quality's no_self verdict)
        out = knn_join(
            queries,
            index,
            k=k,
            query_id=query_id,
            query_vec=query_vec,
            index_id=index_id,
            index_vec=index_vec,
            exclude_self=True,
        ).select(
            query_id, index_id, F.round(F.col("score"), 6).alias("score"), "rank"
        )
        return out
    if probe_rows is None:
        probe_rows = queries.count()
    if probe_rows > probe_threshold_rows:
        from .similarity import ivf_knn_batch

        return ivf_knn_batch(
            queries,
            index,
            k=k,
            query_id=query_id,
            query_vec=query_vec,
            index_id=index_id,
            index_vec=index_vec,
            index_rows=index_rows,
            cache_key=cache_key,
        ).select(query_id, index_id, "score", F.col("rnk").alias("rank"))
    from .similarity import lsh_knn

    dim = len(index.select(index_vec).first()[0])
    return lsh_knn(
        queries,
        index,
        k=k,
        dim=dim,
        query_id=query_id,
        query_vec=query_vec,
        index_id=index_id,
        index_vec=index_vec,
        index_rows=index_rows,
    ).select(query_id, index_id, "score", F.col("rnk").alias("rank"))


def stuff_context(
    retrieved: DataFrame,
    group_cols: tuple[str, ...] = (),
    text_col: str = "text",
    order_col: str = "score",
    sep: str = "\n\n",
) -> DataFrame:
    """Order-preserving "stuff" context assembly (A1; reference
    create_stuff_documents_chain at /root/reference/AI.py:142): concat
    retrieved chunk texts, best score first, into one ``context`` string.

    Implemented with ``collect_list`` over structs + ``array_sort`` +
    ``transform`` + ``concat_ws`` — a map-side-combining hash aggregate,
    no custom UDAF (SURVEY §2.10 D4).
    """
    # array_sort on structs sorts ascending by the first field; negate
    # the score so the best-scoring chunk comes first.
    pair = F.struct(
        (-F.col(order_col).cast("double")).alias("o"), F.col(text_col).alias("t")
    )
    agg = F.concat_ws(
        sep, F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["t"])
    ).alias("context")
    if group_cols:
        return retrieved.groupBy(*group_cols).agg(agg)
    return retrieved.groupBy().agg(agg)


def postprocess_answers(
    answers: DataFrame,
    answer_col: str = "answer",
    refusal_prefix: str = REFUSAL_PREFIX,
    refusal_message: str = REFUSAL_MESSAGE,
) -> DataFrame:
    """Refusal predicate + first-line projection (P1+P2; reference
    /root/reference/AI.py:176-185): an answer starting with the refusal
    prefix becomes the canned message; otherwise keep its first line.
    The Column form of ``postprocess_answer``, for answer columns."""
    col = F.col(answer_col)
    cleaned = F.when(
        col.startswith(refusal_prefix), F.lit(refusal_message)
    ).otherwise(F.split(col, "\n").getItem(0))
    return answers.withColumn(answer_col, cleaned)


def postprocess_answer(answer: str | None) -> str | None:
    """The same rule as ``postprocess_answers`` for ONE answer string,
    in driver Python — a single answer needs no Spark job. ``None``
    stays ``None``; tests/test_flagship.py checks the two forms agree."""
    if answer is None:
        return None
    if answer.startswith(REFUSAL_PREFIX):
        return REFUSAL_MESSAGE
    return answer.split("\n", 1)[0]
