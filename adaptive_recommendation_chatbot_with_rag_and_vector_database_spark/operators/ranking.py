"""Retrieval-ranking operators (wave 7): BM25 lexical scoring and MMR
diversification — the ranking stack the reference's RAG loop delegates
to its vector store and retriever defaults (similarity retriever with
``k=4``, /root/reference/AI.py:135-142), re-expressed as native Spark
plans so a hybrid lexical+vector search runs on the same engine as the
rest of the pipeline.

Scale shape:
- **BM25** is one scan plus a one-row corpus-stats aggregate that is
  broadcast back (crossJoin of a 1-row frame): per-term tf lives in a
  Catalyst array ``filter``/``size`` over the shared tokenizer output —
  no explode, no per-term shuffle — so at 100 TB scoring is map work
  and the only exchange is the scalar stats reduction.
- **MMR** is inherently a per-query greedy over a tiny candidate set
  (c ≈ 2k from the ANN/kNN stage), so the distributed form is
  "embarrassingly parallel per query": a cogrouped grouped-map
  (``cogroup(...).applyInPandas``) keyed on query_id, fed by the
  already-rounded relevance and pairwise-similarity tables computed
  with the engine's Catalyst cosine (functions/vector.py). The Python
  stage touches only O(k·c) rows per query and does no float math
  except the MMR mix itself, mirrored digit-for-digit by the oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import ASCII_WS_PATTERN, sql_toks

# Okapi BM25 constants (standard defaults).
BM25_K1 = 1.2
BM25_B = 0.75

# MMR mix weights as two EXPLICIT literals (never derive one from the
# other: ``1 - 0.7`` is 0.30000000000000004 in binary, which would not
# match the oracle's literal ``0.3``).
MMR_W_REL = 0.7
MMR_W_DIV = 0.3


def tokens(col: Column | str) -> Column:
    """The engine-wide tokenization contract (same as
    queries_text._SQL_TOKS): lowercase, split on whitespace, drop
    empties."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(col), ASCII_WS_PATTERN), lambda x: x != "")


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Okapi BM25 for a fixed query-term list →
    ``(id_col, bm25)``.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)  (Lucene form, never
    negative); score = Σ_t idf·(tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)).
    Every arithmetic step is written in the same shape and order as the
    DuckDB oracle (bm25_oracle_select) so doubles agree bit-for-bit
    before the final round(…, 6).
    """
    # lazy checkpoint: m (narrow int tf/dl rows, |docs|) feeds the
    # corpus-stats aggregate AND the scoring projection — as plain plan
    # subtrees the tokenize+tf scan ran twice per call (r11 scan-dupe
    # sweep); the shared RDD node computes once inside the same job.
    m = bm25_tf_frame(
        docs, terms, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)
    stats = m.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("double").alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = m.crossJoin(F.broadcast(stats))

    def contrib(i: int) -> Column:
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log(
            (F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
        )
        return idf * (tf * F.lit(BM25_K1 + 1)) / denom

    total = contrib(0)
    for i in range(1, len(terms)):
        total = total + contrib(i)
    return scored.select(F.col(id_col), F.round(total, 6).alias("bm25"))


def bm25_tf_frame(
    docs: DataFrame,
    terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The un-checkpointed (id, dl, tf0..tfN) build of
    :func:`bm25_scores` — exposed so plan tests can assert the
    scan-side shape (single tokenize pass, in-row array-filter tf
    counting, no token explode) the lazy checkpoint otherwise hides
    behind ``Scan ExistingRDD`` (ADVICE r11 #1)."""
    from ..sources.loaders import scatter

    # min-parallelism guard: a single-file fixture scan would tokenize
    # the whole corpus in ONE task (no-op on well-partitioned input)
    t = scatter(docs).select(F.col(id_col), tokens(text_col).alias("toks"))

    def term_eq(term: str):
        # one-arg lambda REQUIRED: a two-arg lambda would receive the
        # array index as its second parameter (F.filter's (el, idx) form)
        lit = F.lit(term)
        return lambda x: x == lit

    tf_cols = [
        F.size(F.filter("toks", term_eq(term))).alias(f"tf{i}")
        for i, term in enumerate(terms)
    ]
    return t.select(F.col(id_col), F.size("toks").alias("dl"), *tf_cols)


def bm25_oracle_parts(
    terms: list[str],
    relation: str = "documents",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[str, str]:
    """DuckDB twin of bm25_scores as composable pieces: ``(ctes,
    select)`` where ``ctes`` defines ``_bm_m``/``_bm_s`` (to splice
    after a caller's own CTEs) and ``select`` yields ``(doc_id, bm25)``.
    Digit-exact: same expression tree, same left-to-right term sum,
    same final round as the Spark side."""
    toks = sql_toks(text_col)
    tf_defs = ",\n             ".join(
        f"len(list_filter({toks}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ",\n             ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
        for i in range(len(terms))
    )
    one_minus_b = 1 - BM25_B  # 0.25, binary-exact
    k1p1 = BM25_K1 + 1  # 2.2 bit-identical to the literal (verified)
    contribs = " + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * {k1p1}) / (tf{i} + {BM25_K1} * ({one_minus_b} + {BM25_B} * (dl / avgdl)))"
        for i in range(len(terms))
    )
    ctes = f"""_bm_m AS (
      SELECT {id_col} AS doc_id, len({toks}) AS dl,
             {tf_defs}
      FROM {relation}
    ), _bm_s AS (
      SELECT count(*)::DOUBLE AS n,
             sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl,
             {df_defs}
      FROM _bm_m
    )"""
    select = f"SELECT doc_id, round({contribs}, 6) AS bm25 FROM _bm_m, _bm_s"
    return ctes, select


def bm25_scores_dynamic(docs: DataFrame, terms: DataFrame) -> DataFrame:
    """BM25 where the term set is DATA (one ``term`` string column —
    e.g. pseudo-relevance-feedback expansions), not a plan-time list →
    ``(doc_id, score)``.

    Shape: the (tiny, broadcast) term table fans the doc scan out to
    |docs|·|terms| in-row tf computations (array filter — still no
    token explode); per-term df and the global (N, avgdl) are
    broadcast-sized aggregates joined back; the per-doc score is a
    keyed sum of per-term contributions. Because the sum's addition
    order is engine-dependent, each contribution is rounded to 6
    decimals and the sum to 4 — the suite-wide two-level rounding
    discipline for reassociated float sums.
    """
    from ..sources.loaders import scatter

    t = scatter(docs).select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    stats = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    # lazy checkpoint: j (narrow (doc, term, tf, dl) rows) feeds the
    # per-term df aggregate AND the scoring join — as plain plan
    # subtrees the tokenize+tf fan-out ran twice per call (r11
    # scan-dupe sweep); the shared RDD node computes once per job.
    # (t itself still evaluates twice — once for the corpus stats,
    # once under j — but it is the cheap half; checkpointing t would
    # materialize the token arrays, corpus-sized storage at scale.)
    j = bm25_dynamic_tf_frame(docs, terms).localCheckpoint(eager=False)
    df_t = j.groupBy("term").agg(
        F.sum((F.col("tf") > 0).cast("int")).cast("double").alias("df")
    )
    j2 = j.join(F.broadcast(df_t), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * (F.col("tf") * F.lit(BM25_K1 + 1)) / denom, 6)
    return j2.groupBy("doc_id").agg(F.round(F.sum(contrib), 4).alias("score"))


def bm25_dynamic_tf_frame(docs: DataFrame, terms: DataFrame) -> DataFrame:
    """The un-checkpointed (doc_id, dl, term, tf) fan-out of
    :func:`bm25_scores_dynamic` — exposed so plan tests can assert the
    build shape (broadcast term fan-out, in-row array-filter tf, no
    token explode) the lazy checkpoint otherwise hides behind
    ``Scan ExistingRDD`` (ADVICE r11 #1)."""
    from ..sources.loaders import scatter

    t = scatter(docs).select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    return t.crossJoin(F.broadcast(terms.select("term"))).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter("toks", lambda x: x == F.col("term"))).alias("tf"),
    )


def bm25_dynamic_oracle_select(terms_cte: str, relation: str = "documents") -> str:
    """DuckDB twin of bm25_scores_dynamic: ``terms_cte`` names a CTE
    with one ``term`` column; returns a SELECT yielding
    ``(doc_id, score)``. Same expression tree, same two-level
    rounding."""
    toks = sql_toks()
    one_minus_b = 1 - BM25_B
    k1p1 = BM25_K1 + 1
    return f"""
    SELECT doc_id, round(sum(c), 4) AS score FROM (
      SELECT t.doc_id,
             round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * {k1p1})
                   / (t.tf + {BM25_K1} * ({one_minus_b} + {BM25_B} * (t.dl / s.avgdl))), 6)
               AS c
      FROM (
        SELECT doc_id, dl, term,
               len(list_filter(toks, x -> x = term)) AS tf
        FROM (SELECT doc_id, {toks} AS toks, len({toks}) AS dl FROM {relation})
        CROSS JOIN {terms_cte}
      ) t
      JOIN (
        SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df
        FROM (
          SELECT term, len(list_filter({toks}, x -> x = term)) AS tf
          FROM {relation} CROSS JOIN {terms_cte}
        ) GROUP BY term
      ) d ON d.term = t.term
      CROSS JOIN (
        SELECT count(*)::DOUBLE AS n,
               sum(len({toks}))::DOUBLE / count(*)::DOUBLE AS avgdl
        FROM {relation}
      ) s
    ) GROUP BY doc_id
    """


# --- index-time lexical structure: bucket-partitioned posting lists ---------

#: posting-list hash buckets: enough that a question's <=5 term buckets
#: open <2% of the layout's files, few enough that the build's
#: partitionBy stays a sane directory count
LEX_BUCKETS = 256

#: the posting-list layout as ``write_postings_index`` writes it
#: (``bucket`` is the partition directory) and the stats columns a probe
#: reads: declared, so a probe infers no schema from the footers
POSTINGS_DDL = "term string, `{}` string, dl int, tf bigint, df double, bucket int"
POSTINGS_STATS_DDL = "n double, avgdl double"


def term_bucket(term: str) -> int:
    """Driver-side twin of ``term_bucket_expr``: sha1-hex-prefix mod —
    chosen over xxhash64/crc because BOTH sides (a Catalyst expression
    at build time, plain hashlib at question time) can compute it
    exactly, so the per-question bucket set never needs a Spark job."""
    import hashlib

    return int(hashlib.sha1(term.encode("utf-8")).hexdigest()[:8], 16) % LEX_BUCKETS


def term_bucket_expr(col: Column) -> Column:
    return F.pmod(
        F.conv(F.substring(F.sha1(col), 1, 8), 16, 10).cast("long"),
        F.lit(LEX_BUCKETS),
    ).cast("int")


def write_postings_index(
    docs: DataFrame,
    path: str,
    stats_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: int | None = None,
    signature: str | None = None,
) -> None:
    """Persist the corpus as a bucket-partitioned POSTING LIST — the
    lexical twin of ``write_ivf_index``'s vector layout, and the same
    lesson: only index-time structure beats a scan. Rows are
    ``(term, id, tf, dl, df)`` (df denormalized onto postings so a
    probe needs no second lookup), partitioned by ``term_bucket`` and
    sorted by term within each bucket file, so a question's terms
    resolve driver-side to <=|terms| partition directories AND the
    parquet row-group min/max on the sorted ``term`` column prunes
    inside them. Global BM25 stats (N, avgdl — over ALL docs, exactly
    what the scan form computes per question) persist beside the
    layout with the caller's corpus ``fingerprint`` for reuse checks.
    Cost model: the posting table is Σ|distinct terms per doc| rows
    built once per corpus change; a question then reads
    ~|terms|/LEX_BUCKETS of it instead of tokenizing every document
    per query (measured: the scan leg dominated hybrid latency at the
    2 M-chunk tier). Ids are stored as strings, the type
    ``bm25_postings_scores`` reads and returns."""
    from ..sources.loaders import scatter

    t = scatter(docs).select(
        F.col(id_col).cast("string").alias(id_col), tokens(text_col).alias("toks")
    )
    m = t.select(
        id_col,
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    )
    tf = m.groupBy("term", id_col, "dl").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    post = tf.join(df_t, "term").withColumn(
        "bucket", term_bucket_expr(F.col("term"))
    )
    (
        post.repartition("bucket")
        .sortWithinPartitions("term", id_col)
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )
    stats = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum(F.size("toks")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    ).withColumn(
        "corpus_rows",
        F.lit(-1 if fingerprint is None else int(fingerprint)).cast("long"),
    ).withColumn(
        # full corpus signature (rows + a file-listing digest,
        # engine._corpus_signature) for reuse checks robust to
        # equal-row-count corpus rewrites
        "corpus_sig",
        F.lit(signature).cast("string"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(stats_path)


def bm25_postings_scores(
    spark,
    path: str,
    stats_path: str,
    terms: list[str],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 over the persisted posting lists → ``(id_col, bm25)`` for
    every document containing >=1 query term. Identical arithmetic to
    ``bm25_scores`` (same idf/tf expressions, same left-to-right term
    sum, same round-6), with exact tf/dl/df/N/avgdl read from the
    layout — so any document that matches a term scores bit-for-bit
    what the scan form gives it. The one DELIBERATE difference:
    zero-match documents produce no row at all (the scan form emits
    them with bm25 = 0), i.e. documents carry lexical evidence only if
    they contain a query term — at retrieval depth this only matters
    for queries matching fewer than ``depth`` documents. The probed
    buckets resolve driver-side (``term_bucket``) into a basePath read
    of <=|terms| partition directories (``read_partitions``), like the
    engine's IVF cell read. Both reads declare the layout's schema, so
    building the plan runs no footer-inference job."""
    from ..sources.loaders import local_frame, read_partitions

    uterms = list(dict.fromkeys(terms))  # order-preserving unique
    post = read_partitions(
        spark,
        path,
        "bucket",
        sorted({term_bucket(t) for t in uterms}),
        POSTINGS_DDL.format(id_col),
    )
    stats = spark.read.schema(POSTINGS_STATS_DDL).parquet(stats_path)
    if post is None:  # no term has a populated bucket: empty frame
        return local_frame(spark, [], f"{id_col} string, bm25 double")
    post = post.filter(F.col("term").isin(uterms))
    wide = post.groupBy(id_col, "dl").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf{i}")
            for i, t in enumerate(uterms)
        ],
        *[
            F.max(F.when(F.col("term") == t, F.col("df"))).alias(f"df{i}")
            for i, t in enumerate(uterms)
        ],
    )
    scored = wide.crossJoin(F.broadcast(stats))

    def contrib(i: int) -> Column:
        # absent term => tf 0: idf(any positive df) * 0 == +0.0, exactly
        # the scan form's idf(real df) * 0 — df's filler never leaks
        tf = F.coalesce(F.col(f"tf{i}"), F.lit(0)).cast("long")
        df = F.coalesce(F.col(f"df{i}"), F.lit(1.0))
        idf = F.log(
            (F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
        )
        return idf * (tf * F.lit(BM25_K1 + 1)) / denom

    # Sum in the ORIGINAL terms order, duplicates included: the scan
    # form adds one contribution per list occurrence, so a repeated
    # term ('spark spark streaming') must contribute twice here too —
    # same addends, same left-to-right order, bit-identical doubles.
    col_of = {t: i for i, t in enumerate(uterms)}
    total = contrib(col_of[terms[0]])
    for t in terms[1:]:
        total = total + contrib(col_of[t])
    return scored.select(F.col(id_col), F.round(total, 6).alias("bm25"))


RRF_K = 60  # standard reciprocal-rank-fusion smoothing constant
RRF_DEPTH = 50  # fuse the top-N of each ranker, not whole-corpus ranks


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    id_col: str,
    lex_score: str,
    vec_score: str,
    k: int,
    depth: int = RRF_DEPTH,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two score tables →
    ``(id_col, lex_rank, vec_rank, rrf)``, top-k by fused score.

    Each ranker cuts to its top-``depth`` with TakeOrderedAndProject
    (per-partition heaps — the scale-safe global top-k) BEFORE the
    rank-assigning window, so the window runs over a bounded
    ``depth``-row list, never the corpus; fusion is a full outer join
    of two bounded frames. The single source of the fusion formula for
    both the registered query (q_hybrid_rrf, oracle-checked) and the
    engine's ``search_type="hybrid"`` path."""
    from pyspark.sql import Window

    lexr = (
        lex.orderBy(F.desc(lex_score), F.asc(id_col))
        .limit(depth)
        .withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.desc(lex_score), F.asc(id_col))),
        )
        .select(id_col, "lex_rank")
    )
    vecr = (
        vec.orderBy(F.desc(vec_score), F.asc(id_col))
        .limit(depth)
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc(vec_score), F.asc(id_col))),
        )
        .select(id_col, "vec_rank")
    )
    fused = lexr.join(vecr, id_col, "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(id_col, "lex_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def _round6(x: float) -> float:
    """DuckDB ``round(x, 6)`` semantics on the binary double: half away
    from zero (verified against DuckDB on boundary probes)."""
    return math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0 else math.ceil(x * 1e6 - 0.5) / 1e6


def mmr_greedy(rel, sim, k):
    """The ONE greedy-MMR scoring core, shared by the distributed
    cogrouped operator (:func:`mmr_rerank`) and the engine's bounded
    driver-side retriever (``RagEngine._retrieve_mmr``) so the λ-algebra
    cannot drift between the oracle-checked form and the user-facing
    one.

    ``rel``: dict key → relevance (pre-rounded to 6 decimals); keys are
    any orderable type (int vec_id, or (doc_id, chunk_id) tuple).
    ``sim(a, b)``: pairwise candidate similarity.

    Step 1 picks max relevance; steps 2..k pick
    argmax round(λ·rel − (1−λ)·max_sim_to_selected, 6); every tie
    breaks by key ascending. Returns ``[(key, step, score)]``.
    """
    remaining = dict(rel)
    selected: list = []
    out = []
    for step in range(1, min(k, len(remaining)) + 1):
        best_key, best_score = None, None
        for key, r in remaining.items():
            if step == 1:
                sc = r
            else:
                ms = max(sim(key, s) for s in selected)
                sc = _round6(MMR_W_REL * r - MMR_W_DIV * ms)
            if (
                best_score is None
                or sc > best_score
                or (sc == best_score and key < best_key)
            ):
                best_key, best_score = key, sc
        selected.append(best_key)
        del remaining[best_key]
        out.append((best_key, step, best_score))
    return out


def mmr_rerank(cand: DataFrame, pair: DataFrame, k: int = 4) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (the diversification step
    LangChain retrievers expose as ``search_type="mmr"``; the reference
    uses plain similarity search, /root/reference/AI.py:135-139, so MMR
    is the upgrade path its retriever API names).

    Inputs:
      cand: ``(query_id, vec_id, rel)``   — top-c candidates per query,
            rel = round(cosine, 6) from the kNN/ANN stage.
      pair: ``(query_id, a_id, b_id, sim)`` — pairwise candidate
            similarity, both directions, round(cosine, 6).

    Greedy: pick argmax rel; then k−1 times pick
    argmax round(λ·rel − (1−λ)·max_sim_to_selected, 6), ties broken by
    vec_id ascending. All comparisons happen on pre-rounded doubles and
    the single mix expression is replicated by the oracle, so the
    result is hash-exact.

    Returns ``(query_id, step, vec_id, score)`` with step 1..k and
    step-1 score = rel.

    Scale: cogrouped grouped-map keyed on query_id — O(k·c) Python rows
    per query, Arrow-batched; the heavy candidate generation stays in
    the distributed kNN/ANN stage upstream.
    """
    import pandas as pd

    def run(key, cdf: "pd.DataFrame", pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(key[0])
        sim = {
            (int(a), int(b)): float(s)
            for a, b, s in zip(pdf["a_id"], pdf["b_id"], pdf["sim"])
        }
        rel = {int(v): float(r) for v, r in zip(cdf["vec_id"], cdf["rel"])}
        picked = mmr_greedy(rel, lambda a, b: sim.get((a, b), 0.0), k)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picked),
                "step": [s for _, s, _ in picked],
                "vec_id": [v for v, _, _ in picked],
                "score": [sc for _, _, sc in picked],
            }
        )

    return (
        cand.groupBy("query_id")
        .cogroup(pair.groupBy("query_id"))
        .applyInPandas(run, "query_id long, step int, vec_id long, score double")
    )
