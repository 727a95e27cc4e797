"""Dedup + text-analysis operator coverage (SURVEY §2.11 X1-X4;
BASELINE.json north-star pipeline operators) over the ``documents`` and
``embeddings`` tables.

The DuckDB oracle SQL for the sketch queries (minhash, simhash) is
GENERATED from the same constants the Spark expressions use
(functions/text.py: MINHASH_A/B, MERSENNE_P, STOPWORDS...), with the
portable md5-prefix hash — so both engines compute bit-identical
sketches from two independent implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import (
    LANG_PRIORITY,
    MERSENNE_P,
    MINHASH_A,
    MINHASH_B,
    N_BANDS,
    N_MINHASH,
    SIMHASH_BITS,
    STOPWORDS,
    TOKEN_REGEX,
    distinct_tokens,
    fingerprint,
    lang_pred,
    lang_scores,
    minhash_bands,
    minhash_signature,
    punct_ratio,
    quality_score,
    simhash,
    stopword_ratio,
    token_count_ws,
    tokens,
    word_bigrams,
)
from .operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    inverted_index_jaccard,
    inverted_index_overlap,
)
from .registry import query
from .sources.loaders import doc_tokens, load_table, scatter, substrate

# --- shared DuckDB SQL fragments (from the same constants) -----------------

from .functions.tokenize import SQL_TOKS as _SQL_TOKS  # noqa: E402

_SQL_DTOKS = f"list_distinct({_SQL_TOKS})"
_SQL_TOKH = (
    f"list_transform({_SQL_DTOKS}, "
    f"t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {MERSENNE_P})"
)


def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(dtoks, [{words}]))"


def _sql_lang_pred() -> str:
    cases = []
    for i, lang in enumerate(LANG_PRIORITY[:-1]):
        rest = LANG_PRIORITY[i + 1 :]
        rest_expr = (
            f"greatest({', '.join('s_' + o for o in rest)})"
            if len(rest) > 1
            else f"s_{rest[0]}"
        )
        cases.append(f"WHEN s_{lang} >= {rest_expr} THEN '{lang}'")
    all_scores = ", ".join("s_" + l for l in LANG_PRIORITY)
    return (
        f"CASE WHEN greatest({all_scores}) = 0 THEN 'unknown' "
        + " ".join(cases)
        + f" ELSE '{LANG_PRIORITY[-1]}' END"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


# --- exact dedup (X1) ------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS rep_doc_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint (X1) — the
    storage-scale form of the reference's content-keyed LRU cache
    (/root/reference/AI.py:89-96): hash-groupBy, min-id representative."""
    return exact_dedup(_docs(spark, sf_dir))


# --- minhash (X2) ----------------------------------------------------------


def _sql_minhash_bands(table: str = "documents") -> str:
    sigs = [
        f"coalesce(list_min(list_transform(tokh, h -> ({a} * h + {b}) % {MERSENNE_P})), {MERSENNE_P}) AS s{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    per = N_MINHASH // N_BANDS
    bands = [
        " || '-' || ".join(f"s{b * per + j}::VARCHAR" for j in range(per))
        for b in range(N_BANDS)
    ]
    band_cols = ", ".join(f"({expr}) AS band{b}" for b, expr in enumerate(bands))
    return f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKH} AS tokh FROM {table}),
    sig AS (SELECT doc_id, {', '.join(sigs)} FROM tok)
    SELECT doc_id, {band_cols} FROM sig
    """


#: session-cached per-document token sketch, keyed by (applicationId,
#: sf_dir): q_dedup_minhash, q_dedup_simhash and q_minhash_calibration
#: each re-ran the identical tokenize+hash pass over the corpus
#: (``_with_sketch``'s (doc_id, toks, tokh) shape). The downstream
#: folds (minhash signature, simhash bits) stay per-consumer — they
#: are cheap in-row codegen over the checkpointed tokh arrays. At
#: cluster scale this is the standard "tokenize once, reuse" corpus
#: materialization; locally it replaces three full text scans.
@substrate("doc_sketch")
def _doc_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _with_sketch

    # scatter = min-parallelism guard: the fixture scan is ONE partition
    # and the tokenize+hash fold is the build's whole cost, so it must
    # fan out locally; on a cluster-scale scan scatter is a no-op (zero
    # exchanges — see loaders.scatter). The minhash signature (a
    # 16-hash fold over tokh) is computed HERE once (r11): three
    # consumers (q_dedup_minhash, q_minhash_calibration,
    # q_dedup_cascade) each re-ran the fold per call; the signature is
    # a pure deterministic function of tokh, so sharing changes no
    # value.
    sk = (
        _with_sketch(scatter(_docs(spark, sf_dir)), "doc_id", "text")
        .withColumn("sig", minhash_signature(F.col("tokh")))
        .localCheckpoint()
    )
    return sk


#: session-cached distinct word-bigram arrays: q_dedup_ngram_jaccard,
#: q_containment_dedup and q_dedup_incremental each re-ran the SAME
#: tokenize + bigram-build regex battery over the corpus (the r10→r9
#: family regression triage found the per-query tokenize pass, not a
#: plan change, was the whole warm wall). One row per doc (arrays stay
#: packed — the explode is cheap codegen each consumer keeps local),
#: so the checkpoint is the corpus's bigram footprint, the same order
#: as the gram-keyed shuffle every consumer already pays.
@substrate("doc_bigrams")
def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bigrams) with bigrams = array_distinct word
    bigrams of the tokenize-contract tokens — eagerly checkpointed once
    per (session, sf_dir); scatter fans the single-partition fixture
    scan out before the regex work (no-op on a cluster-scale scan)."""
    bg = (
        scatter(_docs(spark, sf_dir))
        .select(
            "doc_id",
            "lang",
            F.array_distinct(word_bigrams(tokens("text"))).alias("bigrams"),
        )
        .localCheckpoint()
    )
    return bg


@query("q_dedup_minhash", oracle=_sql_minhash_bands())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH sketch (X2): per-document banded signature keys —
    the buckets whose equi-join produces candidate pairs (full pair
    pipeline: operators/dedup.minhash_near_dup, planted-dup tested).
    Oracle recomputes the identical signatures from shared constants.
    Rides the session doc-sketch substrate (tokenize+hash once, shared
    with q_dedup_simhash and q_minhash_calibration)."""
    sk = _doc_sketch(spark, sf_dir).select(
        "doc_id",
        minhash_bands(F.col("sig")).alias("bands"),
    )
    return sk.select(
        "doc_id",
        *[F.col("bands")[b].alias(f"band{b}") for b in range(N_BANDS)],
    )


# --- simhash (X2) ----------------------------------------------------------


def _sql_simhash() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(tokh, h -> ((h >> {j}) & 1) * 2 - 1)) >= 0 "
        f"THEN {2**j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKH} AS tokh FROM documents)
    SELECT doc_id,
           (CASE WHEN len(tokh) = 0 THEN 0 ELSE {bit_terms} END)::BIGINT AS simhash
    FROM tok
    """


@query("q_dedup_simhash", oracle=_sql_simhash())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar simhash sketch (X2): 32-bit packed signature per doc;
    Hamming-blocked pair detection lives in operators/dedup
    (simhash_near_dup, planted-dup tested). Rides the session
    doc-sketch substrate (tokenize+hash once, see q_dedup_minhash)."""
    return _doc_sketch(spark, sf_dir).select(
        "doc_id", simhash(F.col("tokh")).alias("simhash")
    )


# --- n-gram jaccard (X2) ---------------------------------------------------


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
               ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             END) AS bigrams
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(
             CASE WHEN len(a.bigrams) + len(b.bigrams) -
                       len(list_intersect(a.bigrams, b.bigrams)) > 0
               THEN len(list_intersect(a.bigrams, b.bigrams))::DOUBLE /
                    (len(a.bigrams) + len(b.bigrams)
                     - len(list_intersect(a.bigrams, b.bigrams)))
               ELSE 0.0 END, 6) AS jaccard
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.doc_id % 10 = 0
    WHERE len(list_intersect(a.bigrams, b.bigrams)) > 0
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard similarity (X2) via an inverted index: pairs
    materialize only where a bigram is actually shared (equi-join on the
    bigram within a language block), so the pair space scales with
    co-occurrence, not |block|². Probe-side decimation mirrors the
    oracle's bound. Rides the session _doc_bigrams substrate (tokenize
    + bigram-build once, shared with q_containment_dedup /
    q_dedup_incremental); both sides of the inverted-index self-join
    read the same checkpoint."""
    grams = _doc_bigrams(spark, sf_dir)
    return inverted_index_jaccard(
        grams, probe_pred=lambda ida: ida % 10 == 0
    ).filter(F.col("jaccard") > 0)


# --- containment / overlap-coefficient dedup (X19) -------------------------


@query(
    "q_containment_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
               ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             END) AS bigrams
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.bigrams, b.bigrams))::DOUBLE /
                 least(len(a.bigrams), len(b.bigrams)), 6) AS containment
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.doc_id % 10 = 0
    WHERE len(a.bigrams) > 0 AND len(b.bigrams) > 0
      AND round(len(list_intersect(a.bigrams, b.bigrams))::DOUBLE /
                least(len(a.bigrams), len(b.bigrams)), 6) >= 0.2
    """,
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (X19, wave 35): overlap coefficient
    |A∩B| / min(|A|,|B|) over word-bigram shingle sets — the
    subset-document screen (quote expansions, boilerplate-wrapped
    copies) that symmetric Jaccard structurally under-scores: a chunk
    fully contained in a 10x-longer page scores 1.0 here but ~0.1
    Jaccard. The reference's LRU content cache (AI.py:89-96) is the
    exact-identity degenerate case; this is its partial-containment
    generalization.

    Same inverted-index scale posture as q_dedup_ngram_jaccard: pairs
    materialize only where a bigram is shared (gram-keyed shuffle, not
    |block|² pairs), probe-side decimation mirrors the oracle's bound,
    and the max_df stop-shingle cap is available for hot-gram corpora.
    Rides the session _doc_bigrams substrate (one tokenize pass across
    the family).
    """
    grams = _doc_bigrams(spark, sf_dir).filter(F.size("bigrams") > 0)
    return inverted_index_overlap(
        grams, probe_pred=lambda ida: ida % 10 == 0, threshold=0.2
    )


# --- embedding cosine near-dup (X2 semantic) -------------------------------


@query(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id % 10 = 0 AND a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 6) >= 0.25
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (X2 semantic form): probe-side
    decimation bounds the pair space; the unbounded scale path is ANN
    bucketing (operators/similarity.py)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return embedding_near_dup(emb, threshold=0.25, probe_filter="vec_id % 10 = 0")


# --- text analysis (X3) ----------------------------------------------------


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_SQL_TOKS}) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS bpe_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (X3): whitespace tokens + BPE-ish regex tokens.
    Rides the session doc_tokens substrate (both counts computed in
    the one shared tokenize pass)."""
    return doc_tokens(spark, sf_dir).select(
        "doc_id",
        F.col("n_tok").alias("ws_tokens"),
        F.col("bpe_tok").alias("bpe_tokens"),
    )


@query(
    "q_lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_DTOKS} AS dtoks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {', '.join(f'{_sql_lang_score(l)} AS s_{l}' for l in LANG_PRIORITY)}
      FROM tok
    )
    SELECT doc_id, lang AS labeled_lang, {_sql_lang_pred()} AS pred_lang,
           {', '.join('s_' + l for l in LANG_PRIORITY)}
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language id (X3): stopword-overlap argmax with a
    deterministic tie order. (Fixture text is synthetic word salad, so
    the interesting property is determinism + cross-engine parity, not
    linguistic accuracy.)"""
    docs = _docs(spark, sf_dir)
    dt = distinct_tokens("text")
    scores = lang_scores(dt)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_pred(dt).alias("pred_lang"),
        *[scores[l].alias(f"s_{l}") for l in LANG_PRIORITY],
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks, {_SQL_DTOKS} AS dtoks
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        CASE WHEN length(text) > 0
          THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / length(text)
          ELSE 0.0 END AS punct_ratio,
        CASE WHEN len(dtoks) > 0
          THEN len(list_intersect(dtoks,
            [{', '.join(sorted(repr(w) for ws in STOPWORDS.values() for w in ws))}]
          ))::DOUBLE / len(dtoks)
          ELSE 0.0 END AS stop_ratio
      FROM tok
    )
    SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stop_ratio,
           round(0.4 * least(n_tokens / 100.0, 1.0)
                 + 0.4 * stop_ratio
                 + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)), 6) AS quality
    FROM feat
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristic (X3): token volume + stopword density
    + punctuation penalty → [0,1] score."""
    docs = _docs(spark, sf_dir)
    dt = distinct_tokens("text")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio(dt), 6).alias("stop_ratio"),
        quality_score("text").alias("quality"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (X3/F6)."""
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint("text").alias("fingerprint")
    )


@query(
    "q_multimodal_extract",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(encode(text)) AS byte_len
    FROM documents
    """,
)
def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: documents → synthetic binary
    assets → Arrow-batched mapInPandas featurization. The byte_len
    column is oracle-checked; the richer features (entropy, histogram)
    are verified against a pure-Python reference in tests (real codec
    decode is stubbed — operators/multimodal.py)."""
    from .operators.multimodal import extract_features, synth_assets_from_documents

    assets = synth_assets_from_documents(_docs(spark, sf_dir))
    return extract_features(assets).select("asset_id", "kind", "byte_len")


@query(
    "q_multimodal_frames",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(encode(text)) // 1024 AS n_frames,
           lang
    FROM documents
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-shaped binary assets (stub decode:
    frame count derived from payload size — operators/multimodal.py)
    plus typed-metadata projection. The Spark-side plumbing (binary
    column, map metadata, per-asset fan-out) is the real surface."""
    from .operators.multimodal import frame_sample, synth_assets_from_documents

    assets = synth_assets_from_documents(_docs(spark, sf_dir))
    return frame_sample(assets)


@query(
    "q_multimodal_resize",
    # full-value oracle (VERDICT r1 #6): DuckDB recomputes the strided
    # byte gather over hex(payload) — byte j of the thumbnail is the hex
    # digit pair at 2*idx, idx = (j*(len-1)) // 63 (integer-exact; see
    # operators/multimodal.resize_thumbnail). list_reduce = the same
    # left-fold sum as the Spark side's F.aggregate.
    oracle="""
    WITH b AS (
      SELECT doc_id AS asset_id,
             CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS len
      FROM documents
    ), v AS (
      SELECT asset_id, kind,
        [ round(
            CASE WHEN len = 0 OR (len < 64 AND j >= len) THEN 0.0
                 ELSE (
                   (strpos('0123456789ABCDEF',
                      hx[2*(CASE WHEN len >= 64 THEN (j*(len-1))//63 ELSE j END)+1]) - 1) * 16
                 + (strpos('0123456789ABCDEF',
                      hx[2*(CASE WHEN len >= 64 THEN (j*(len-1))//63 ELSE j END)+2]) - 1)
                 ) / 255.0
            END, 6)
          for j in range(0, 64) ] AS thumb
      FROM b
    )
    SELECT asset_id, kind, len(thumb) AS thumb_dim,
           round(list_reduce(thumb, (a, b) -> a + b), 4) AS thumb_sum
    FROM v
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail step over image-shaped binary assets: Arrow-
    batched mapInPandas producing a fixed 64-d [0,1] vector per asset
    (codec decode stubbed; plumbing — batch shape, schema, zero-pad —
    real, see operators/multimodal.resize_images)."""
    from .operators.multimodal import resize_images, synth_assets_from_documents

    assets = synth_assets_from_documents(_docs(spark, sf_dir))
    out = resize_images(assets)
    return out.select(
        "asset_id",
        "kind",
        F.size("thumb").alias("thumb_dim"),
        F.round(F.aggregate("thumb", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "thumb_sum"
        ),
    )


@query(
    "q_text_stats",
    oracle=f"""
    WITH tok AS (
      SELECT lang, text, {_SQL_TOKS} AS toks FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(toks)), 6) AS avg_tokens,
           round(avg(length(text)), 6) AS avg_chars,
           min(len(toks)) AS min_tokens,
           max(len(toks)) AS max_tokens
    FROM tok
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level text statistics per language slice (X3/X4). Rides
    the session doc_tokens substrate (chars/n_tok from the shared
    tokenize pass — same ints the standalone scan produced)."""
    return (
        doc_tokens(spark, sf_dir)
        .select("lang", "chars", F.col("n_tok").alias("nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nt"), 6).alias("avg_tokens"),
            F.round(F.avg("chars"), 6).alias("avg_chars"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


# --- Training-data pipeline wave 3 (SURVEY §2.13 Z1-Z5) --------------------


@query(
    "q_text_scrub",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(text, '\b(customer|spark)\b',
                              '[REDACTED]', 'g')) AS scrubbed_md5,
           len(regexp_extract_all(text, '\b(customer|spark)\b')) AS n_hits
    FROM documents
    """,
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist term scrub (Z1) — the redaction machinery of a PII
    pass (emails/phones/SSNs drop into the same regexp_replace +
    regexp_count pair; the synthetic corpus has no digits, so a term
    blocklist exercises real matches). Pure codegen'd string
    expressions, zero exchanges: at 100 TB this is a map-only pass at
    scan speed. Output carries md5(scrubbed) instead of the full
    rewritten text so the compare stays narrow."""
    pat = r"\b(customer|spark)\b"
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.regexp_replace("text", pat, "[REDACTED]")).alias("scrubbed_md5"),
        F.regexp_count("text", F.lit(pat)).alias("n_hits"),
    )


@query(
    "q_word_topk",
    oracle="""
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word ORDER BY freq DESC, word LIMIT 20
    """,
)
def q_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-k (Z2) — the vocabulary /
    heavy-hitter scan of a tokenizer-training pipeline. explode +
    two-phase hash aggregate (map-side partial per word) + global
    TakeOrderedAndProject of 20 rows; the only exchange carries one
    row per distinct word, not per token occurrence."""
    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(20)
    )


@query(
    "q_ngram_freq",
    oracle="""
    SELECT bigram, count(*) AS freq FROM (
      SELECT unnest([toks[i] || ' ' || toks[i+1]
                     for i in generate_series(1, len(toks)-1)]) AS bigram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents))
    GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20
    """,
)
def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram frequency top-k (Z3) — the n-gram statistics
    pass behind BPE merges and language-model data audits. Bigrams are
    built inside the array domain (zip_with over the token array and
    its shifted slice — codegen, no Python), then explode + two-phase
    aggregate exactly like q_word_topk."""
    toks = _docs(spark, sf_dir).select(F.split("text", " ").alias("toks"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "bigram")
        .limit(20)
    )


@query(
    "q_cdc_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, round(value, 4) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-record compaction (Z4): one surviving row per key,
    newest timestamp with event_id as the deterministic tie-break —
    the upsert-materialization every changelog consumer runs. Planned
    as a ranked window whose rn=1 predicate pushes into
    WindowGroupLimit: each map task keeps only its per-key newest row
    BEFORE the exchange, so the shuffle carries ~|keys| rows, not
    |events|."""

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
        )
    )


@query(
    "q_train_test_split",
    oracle="""
    SELECT lang, split, count(*) AS n_docs FROM (
      SELECT lang, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
                   THEN 'train' ELSE 'test' END AS split
      FROM documents) GROUP BY lang, split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (Z5): membership is a
    pure function of the stable doc_id (first md5 hex digit ≤ 'c' ≈
    13/16 = 81% train), so the split is reproducible across runs,
    engines, and data layouts — never a random() that reshuffles on
    retry. Map-only expression + a tiny grouped count; at 100 TB the
    split column costs one hash per row at scan speed."""
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "c", "train"
    ).otherwise("test")
    return (
        _docs(spark, sf_dir)
        .select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_edit_distance_join",
    oracle="""
    WITH keys AS (
      SELECT doc_id, lang,
             substr(array_to_string(list_sort(string_split(text, ' ')), ' '),
                    1, 40) AS sig
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.sig, b.sig) AS dist
    FROM keys a JOIN keys b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE a.doc_id % 20 = 0 AND levenshtein(a.sig, b.sig) <= 8
    """,
)
def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy join (Z6): Levenshtein over a 40-char
    sorted-token signature (order-canonicalized so shuffled near-dups
    compare close), with PassJoin segment blocking
    (operators/dedup.passjoin_candidates) replacing the lang-block
    nested loop: the corpus emits t+1 segment substrings per signature,
    probes emit length-matched substrings, and only pairs sharing a
    position-consistent segment verbatim ever materialize — pigeonhole
    guarantees that is a superset of every pair within distance t, so
    the final ``levenshtein(l, r, 8)`` verify (threshold form returns
    -1 past the bound: O(len·t) per candidate, not O(len²)) makes the
    result EXACTLY the blocked definition the oracle runs. The shuffle
    key is the segment gram, so the candidate space tracks gram
    co-occurrence (near-linear on low-dup corpora) instead of
    O(|lang block|²); candidate ids dedup bare before the two payload
    joins re-attach signatures.

    Scale notes: on a replicated tier the OUTPUT is quadratic in clique
    size by definition (101× rows for 10× data measured in the round-5
    sweep) — the same pair-emitter property as the near-dup queries,
    answered by the exact-collapse prepass, not this plan. Sorted-token
    signatures do share hot prefixes (common words sort first), so
    segment buckets are denser than random 4-grams — the position
    window |Δp| ≤ t inside the join condition is what keeps hot-prefix
    grams from reverting to the block join (a seg-0 gram only meets
    probe substrings from the first t+len positions)."""
    from .operators.dedup import passjoin_candidates

    docs = _docs(spark, sf_dir)
    # lazy checkpoint: the 40-char sorted-token signature is an
    # expensive per-row expression consumed by the segment emitter,
    # the probe emitter and both payload attaches — as plain plan
    # subtrees the tokenize+sort ran per reference (6 fact scans in
    # the r11 scan-dupe sweep); the shared RDD node computes once
    # inside the same job. (doc_id, lang, ≤40-char sig) rows.
    keys = docs.select(
        "doc_id",
        "lang",
        F.substring(
            F.array_join(F.sort_array(F.split("text", " ")), " "), 1, 40
        ).alias("sig"),
    ).localCheckpoint(eager=False)
    cands = passjoin_candidates(
        keys,
        t=8,
        probe_pred=lambda c: c % 20 == 0,
        sig_col="sig",
        max_sig_len=40,
    )
    sa = keys.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("_sa"))
    sb = keys.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("_sb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_sa"), F.col("_sb"), 8).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


# --- incremental dedup: new batch vs existing corpus (X12) -----------------


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
               ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             END) AS bigrams
      FROM tok
    ),
    bg AS (SELECT * FROM grams WHERE doc_id % 10 = 0),
    cg AS (SELECT * FROM grams WHERE doc_id % 10 <> 0),
    near AS (
      SELECT DISTINCT a.doc_id
      FROM bg a JOIN cg b ON a.lang = b.lang
      WHERE len(list_intersect(a.bigrams, b.bigrams)) > 0
        AND round(len(list_intersect(a.bigrams, b.bigrams))::DOUBLE /
              (len(a.bigrams) + len(b.bigrams)
               - len(list_intersect(a.bigrams, b.bigrams))), 6) >= 0.5
    ),
    h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
      FROM documents
    ),
    exact AS (
      SELECT DISTINCT hb.doc_id FROM h hb JOIN h hc ON hb.ch = hc.ch
      WHERE hb.doc_id % 10 = 0 AND hc.doc_id % 10 <> 0
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near n ON n.doc_id = d.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (X12): classify an INCOMING batch (doc_id%10
    sample) against the EXISTING corpus — exact_dup (normalized
    fingerprint already indexed), near_dup (bigram Jaccard ≥ 0.5 vs any
    corpus doc), or new. This is the production crawl-dedup shape: the
    batch probes the corpus, never corpus×corpus. The near-dup side is
    the inverted index with the batch as the probe side — pairs
    materialize only where a bigram is actually shared AND they cross
    the batch/corpus boundary, so at 100 TB the shuffle is keyed on
    (lang, gram) and scales with the batch's co-occurrence, not the
    corpus pair space. Exact side is a fingerprint semi-join."""
    docs = _docs(spark, sf_dir)
    is_batch = F.col("doc_id") % 10 == 0
    # rides the session _doc_bigrams substrate (one tokenize pass
    # across the inverted-index family)
    grams = _doc_bigrams(spark, sf_dir)
    sized = grams.select(
        "doc_id", "lang", F.size("bigrams").alias("sz"), "bigrams"
    )
    ex = sized.select(
        "doc_id", "lang", "sz", F.explode("bigrams").alias("gram")
    )
    a = ex.filter(is_batch).select(
        F.col("doc_id").alias("id_a"), "lang", "gram", F.col("sz").alias("sz_a")
    )
    b = ex.filter(~is_batch).select(
        F.col("doc_id").alias("id_b"), "lang", "gram", F.col("sz").alias("sz_b")
    )
    inter = (
        a.join(b, ["lang", "gram"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        6,
    )
    near = (
        inter.filter(jac >= 0.5).select(F.col("id_a").alias("doc_id")).distinct()
    )
    # (r12 note: lazy-checkpointing the fingerprint frame — the
    # VERDICT-named candidate — measured wall-NEGATIVE in interleaved
    # A/B at sf0.1 (1.0 → 1.1 s): the duplicated md5 scan is cheap and
    # overlaps the near-dup join, while the checkpoint serializes the
    # branches behind one materialization. Reverted per d63a41f.)
    h = docs.select("doc_id", fingerprint("text").alias("ch"))
    exact = (
        h.filter(is_batch)
        .join(h.filter(~is_batch).select("ch").distinct(), "ch", "left_semi")
        .select("doc_id")
        .distinct()
    )
    batch_docs = docs.filter(is_batch).select("doc_id")
    return (
        batch_docs.join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), "exact_dup")
            .when(F.col("_n").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# --- X13: character-entropy quality signal ----------------------------------


@query(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY doc_id),
    ent AS (
      SELECT counts.doc_id,
             CAST(max(tot.n) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS n_distinct_chars,
             round(-sum((c::DOUBLE / tot.n) * log2(c::DOUBLE / tot.n)),
                   6) AS entropy_bits
      FROM counts JOIN tot ON tot.doc_id = counts.doc_id
      GROUP BY counts.doc_id
    )
    SELECT d.doc_id,
           coalesce(e.n_chars, 0) AS n_chars,
           coalesce(e.n_distinct_chars, 0) AS n_distinct_chars,
           coalesce(e.entropy_bits, 0.0) AS entropy_bits,
           coalesce(e.entropy_bits, 0.0) < 2.0 AS low_entropy
    FROM documents d LEFT JOIN ent e ON e.doc_id = d.doc_id
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (X13) — the
    classic cheap quality/garbage signal an LLM data pipeline runs
    before anything tokenizer-shaped (boilerplate, base64 blobs and
    key-mash all sit far from natural-text entropy; Gopher's repetition
    rules, q_doc_repetition, catch the complementary failure mode).
    The reference filters retrieved context by shape too
    (/root/reference/AI.py:176-185); this is that idea applied to the
    corpus at ingest.

    Plan shape: explode to (doc_id, char) → two-level hash aggregate.
    The explode is linear in corpus bytes and the aggregate partials
    combine map-side (≤ |alphabet| rows per doc per task), so the
    shuffle carries ~alphabet-sized rows per document — the same
    discipline as the token-count battery, fine at 100 TB. Entropy is
    computed from exact per-char counts; log2 stays in Catalyst
    (no Python)."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", "")).alias("ch")
        )
        .filter(F.col("ch") != "")  # Java split(-1) keeps a trailing ""
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-doc char total as a WINDOW over the (doc, char) counts — an
    # alphabet-bounded frame, not a second corpus scan — then the
    # entropy fold is a plain hash aggregate over p = c/n
    p = F.col("c") / F.sum("c").over(Window.partitionBy("doc_id"))
    ent = (
        counts.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy_bits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("n_distinct_chars", F.lit(0)).alias("n_distinct_chars"),
            F.coalesce("entropy_bits", F.lit(0.0)).alias("entropy_bits"),
            (F.coalesce("entropy_bits", F.lit(0.0)) < 2.0).alias("low_entropy"),
        )
    )


# --- Z7: per-source TF-IDF keyword extraction --------------------------------


@query(
    "q_tfidf_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    )
    SELECT source, term, tf, df, tfidf, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY tfidf DESC, term ASC
      ) AS rnk FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF keyword extraction (Z7): the corpus-summary
    operator behind source labeling and mixture debugging — which terms
    characterize each slice, weighted against corpus-wide commonness.
    Distinct from BM25 (R1), which scores documents against a QUERY;
    TF-IDF here profiles the SOURCES themselves.

    idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth variant — never
    divides by zero, never negative). Plan: one token explode feeds
    both the (source, term) tf aggregate and the per-term df
    count-distinct; both partials combine map-side, the tf↔df equi-join
    is keyed on term (the bounded vocabulary axis, not the corpus
    axis), and the single-row doc count broadcasts. The final top-5 cut
    windows over at most |vocab| rows per source — at 100 TB every
    corpus-sized structure here is already aggregate-compressed before
    it shuffles."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("term")
    )
    # r12 scan-dupe paydown: ONE tokenize+explode pass into the
    # (source, doc, term) postings rollup (lazy checkpoint — the
    # inverted-index working set every real engine materializes); tf
    # and df are exact int64 re-aggregations of it (a doc has one
    # source, so per-term row count ≡ the old countDistinct(doc_id)),
    # and the doc count rides the |docs| session substrate instead of
    # a third corpus scan
    dt = (
        tok.groupBy("source", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tf = dt.groupBy("source", "term").agg(F.sum("c").alias("tf"))
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    n_docs = doc_tokens(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )


# --- W22/Z8: PMI collocation mining ------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(t) AS w FROM toks) WHERE w <> '' GROUP BY w),
    n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    n2 AS (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n
           FROM toks),
    bgc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS cxy FROM (
        SELECT unnest([t[i] || ' ' || t[i+1]
                       for i in generate_series(1, len(t)-1)]) AS bigram
        FROM toks)
      GROUP BY bigram HAVING count(*) >= {_PMI_MIN_COUNT}),
    scored AS (
      SELECT bgc.bigram, bgc.cxy, ux.c AS cx, uy.c AS cy,
             round(ln(bgc.cxy * 1.0) + 2 * ln(n1.n * 1.0)
                   - ln(n2.n * 1.0) - ln(ux.c * 1.0) - ln(uy.c * 1.0), 4)
               AS pmi
      FROM bgc
      JOIN uni ux ON split_part(bgc.bigram, ' ', 1) = ux.w
      JOIN uni uy ON split_part(bgc.bigram, ' ', 2) = uy.w,
      n1, n2)
    SELECT bigram, cxy, cx, cy, pmi FROM scored
    ORDER BY pmi DESC, bigram ASC LIMIT {_PMI_TOPK}
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (W22/Z8): the adjacent word pairs that
    co-occur far beyond chance — PMI = ln(p(x,y)/(p(x)p(y))) with a
    min-count floor — the statistic behind multiword-expression
    detection and phrase-vocabulary induction (Z3 counts the RAW
    bigram frequency, which just returns stopword pairs; PMI divides
    the marginals out). Computed as a fixed ln-sum of exact integer
    counts (ln(cxy)+2ln(N₁)−ln(N₂)−ln(cx)−ln(cy)), so both engines
    evaluate the identical five-term expression — no integer overflow
    (cxy·N₁² would blow int64 at the 100× tier) and no float
    accumulation.

    Plan shape: ONE token scan feeds both the unigram aggregate and
    the in-array bigram build (zip_with over shifted slices — Z3's
    codegen form); the marginal joins are keyed on the vocabulary
    axis (bounded by |vocab|, not corpus size), and the min-count
    floor prunes the pair table before any join."""
    toks = _docs(spark, sf_dir).select(F.split("text", " ").alias("t"))
    # NOTE (r11): the unigram table feeds three consumers and a lazy
    # checkpoint here would dedupe the corpus explode+agg — measured
    # 0.6→1.0 s at sf0.1 (the materialization barrier costs more than
    # the overlapped duplicate stages save), so the duplication is
    # kept deliberately at this tier.
    uni = (
        toks.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n1 = uni.agg(F.sum("c").cast("long").alias("n1"))
    n2 = toks.agg(
        F.sum(F.greatest(F.size("t") - 1, F.lit(0))).cast("long").alias("n2")
    )
    bgc = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
        .filter(F.col("cxy") >= _PMI_MIN_COUNT)
    )
    ux = uni.select(F.col("w").alias("wx"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("wy"), F.col("c").alias("cy"))
    scored = (
        bgc.join(ux, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("wx"))
        .join(uy, F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)) == F.col("wy"))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "bigram",
            "cxy",
            "cx",
            "cy",
            F.round(
                F.log(F.col("cxy") * 1.0)
                + 2 * F.log(F.col("n1") * 1.0)
                - F.log(F.col("n2") * 1.0)
                - F.log(F.col("cx") * 1.0)
                - F.log(F.col("cy") * 1.0),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(_PMI_TOPK)


# --- W23/Z9: typeahead prefix-completion index --------------------------------

_PREFIX_LEN = 2
_PREFIX_TOPK = 5
_PREFIX_MIN_FREQ = 3


@query(
    "q_prefix_completions",
    oracle=f"""
    WITH words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE len(word) >= {_PREFIX_LEN} GROUP BY word
      HAVING count(*) >= {_PREFIX_MIN_FREQ}),
    ranked AS (
      SELECT substr(word, 1, {_PREFIX_LEN}) AS prefix, word, freq,
             row_number() OVER (PARTITION BY substr(word, 1, {_PREFIX_LEN})
                                ORDER BY freq DESC, word ASC) AS rnk
      FROM words)
    SELECT prefix, word, freq, rnk FROM ranked
    WHERE rnk <= {_PREFIX_TOPK}
    ORDER BY prefix, rnk
    """,
)
def q_prefix_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typeahead prefix-completion index (W23/Z9): the top-{_PREFIX_TOPK}
    corpus words per {_PREFIX_LEN}-char prefix by frequency, with a
    min-frequency floor — the build job behind every search box's
    autocomplete. This is the MATERIALIZED form: the index is tiny
    (≤ alphabet²×{_PREFIX_TOPK} rows) and serving is a point lookup,
    which is why it's built batch-side rather than queried ad hoc
    (R10's in-row scan is the ad-hoc complement).

    Plan shape: one token explode → word-keyed aggregate with map-side
    partials (the frequency floor prunes the vocabulary BEFORE the
    rank window), then a prefix-partitioned row_number whose partitions
    are bounded by the per-prefix vocabulary — never corpus-sized. The
    WindowGroupLimit rewrite pushes the top-k below the exchange."""
    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= _PREFIX_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= _PREFIX_MIN_FREQ)
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("freq"), F.asc("word"))
    return (
        words.select(
            F.substring("word", 1, _PREFIX_LEN).alias("prefix"), "word", "freq"
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PREFIX_TOPK)
        .orderBy("prefix", "rnk")
    )


# --- Z10: Zipf law fit over the corpus vocabulary ----------------------------

_ZIPF_MIN_FREQ = 5


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_SQL_TOKS}) AS w FROM documents),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, w) AS rnk
      FROM wc WHERE freq >= {_ZIPF_MIN_FREQ}),
    xy AS (SELECT ln(rnk) AS x, ln(freq) AS y FROM ranked),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_words,
             covar_pop(x, y) / var_pop(x) AS slope,
             covar_pop(x, y) * covar_pop(x, y)
               / (var_pop(x) * var_pop(y)) AS r2
      FROM xy)
    SELECT n_words, round(-slope, 4) AS zipf_exponent, round(r2, 4) AS r2
    FROM fit
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit (Z10): log-log OLS of word frequency against rank —
    the one-number summary of a corpus's frequency shape. Natural text
    sits near exponent 1; a corpus that drifts far from its baseline
    exponent after a pipeline change (dedup too aggressive, boilerplate
    flood, template spam) fails this audit before any model does.
    Closed-form slope/R² from covariance moments (the q_grouped_
    regression algebra on the whole-vocabulary group).

    Shape: the word count is the standard two-phase explode+aggregate;
    the rank window runs over the ≥{_ZIPF_MIN_FREQ}-frequency
    VOCABULARY (bounded by language, not corpus size — the reason the
    single-order window is acceptable where fact-sized ones are not),
    and the fit is one scalar aggregate."""
    from .functions.tokenize import toks_col

    words = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(toks_col()).alias("w"))
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    w_rank = Window.orderBy(F.desc("freq"), F.asc("w"))
    ranked = wc.filter(F.col("freq") >= _ZIPF_MIN_FREQ).select(
        "freq", F.row_number().over(w_rank).alias("rnk")
    )
    xy = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    fit = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("slope"),
        (
            F.covar_pop("x", "y")
            * F.covar_pop("x", "y")
            / (F.var_pop("x") * F.var_pop("y"))
        ).alias("r2"),
    )
    return fit.select(
        "n_words",
        F.round(-F.col("slope"), 4).alias("zipf_exponent"),
        F.round("r2", 4).alias("r2"),
    )


# --- X15: tokenizer fertility by language ------------------------------------


@query(
    "q_token_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT)
             AS n_bpe_tokens,
           round(sum(length(text))
                 / CAST(sum(len(regexp_extract_all(text, '{TOKEN_REGEX}')))
                        AS DOUBLE), 4) AS chars_per_token,
           round(sum(len(regexp_extract_all(text, '{TOKEN_REGEX}')))
                 / CAST(sum(len({_SQL_TOKS})) AS DOUBLE), 4)
             AS tokens_per_word
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (X15): characters per token and
    tokens per whitespace word, per language — the number that decides
    how many MODEL tokens a corpus actually buys and which languages a
    tokenizer penalizes (high fertility = more tokens per word = more
    compute per sentence; the standard multilingual-tokenizer audit).
    Pure row-local counting expressions folded by one lang-keyed
    aggregate — scan-bound, zero joins, zero UDFs. Rides the session
    doc_tokens substrate (all three counts from the shared pass)."""
    docs = doc_tokens(spark, sf_dir)
    bpe = F.col("bpe_tok")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.sum(bpe).cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("chars") / F.sum(bpe).cast("double"), 4
            ).alias("chars_per_token"),
            F.round(
                F.sum(bpe) / F.sum("n_tok").cast("double"), 4
            ).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


# --- X16: n-gram novelty scoring ----------------------------------------------


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                    ELSE [toks[i] || ' ' || toks[i+1]
                          for i in generate_series(1, len(toks) - 1)] END))
               AS big
      FROM t),
    firsts AS (SELECT big, CAST(min(doc_id) AS BIGINT) AS first_doc
               FROM grams GROUP BY big)
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(CASE WHEN firsts.first_doc = grams.doc_id
                          THEN 1.0 ELSE 0.0 END), 5) AS novel_share
    FROM grams JOIN firsts USING (big)
    GROUP BY grams.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (X16): for each document, the share of
    its distinct bigrams whose FIRST corpus occurrence (min doc_id —
    ingestion order) is this document — the dedup-aware sampling signal
    that separates documents adding new phrasing from documents
    recombining what the corpus already says (near-dup detection asks
    "is this a copy?"; novelty asks "does this add anything?").

    Shape: distinct bigrams per doc in the array domain, one gram-keyed
    aggregate for first-occurrence, one gram-keyed join back (both
    sides partition on the gram — a single co-keyed exchange pair), and
    a doc-keyed rollup. At 100 TB the gram table is the big axis and
    every shuffle is keyed on it; no pair space exists anywhere."""
    from .functions.tokenize import toks_col

    t = _docs(spark, sf_dir).select("doc_id", toks_col().alias("toks"))
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    grams = t.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(
                F.zip_with(
                    F.slice("toks", 1, n1),
                    F.slice("toks", 2, n1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            )
        ).alias("big"),
    ).filter(F.col("big").isNotNull())
    firsts = grams.groupBy("big").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    return (
        grams.join(firsts, "big")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1.0).otherwise(
                        0.0
                    )
                ),
                5,
            ).alias("novel_share"),
        )
    )


# --- X17: language-ID confusion matrix ----------------------------------------


@query(
    "q_lang_confusion",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_DTOKS} AS dtoks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {', '.join(f'{_sql_lang_score(l)} AS s_{l}' for l in LANG_PRIORITY)}
      FROM tok),
    pred AS (
      SELECT lang AS labeled_lang, {_sql_lang_pred()} AS pred_lang
      FROM scored)
    SELECT labeled_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY labeled_lang, pred_lang
    ORDER BY labeled_lang, pred_lang
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (X17): label × prediction counts
    for the q_lang_id heuristic — the evaluation artifact that turns a
    classifier into a decision (which languages leak into which, and
    whether 'unknown' absorbs a real language). One map-side scoring
    pass (the same shared stopword-overlap expressions as q_lang_id,
    so classifier and evaluation cannot drift) and one small-keyed
    aggregate."""
    docs = _docs(spark, sf_dir)
    dt = distinct_tokens("text")
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            lang_pred(dt).alias("pred_lang"),
        )
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("labeled_lang", "pred_lang")
    )


# --- Z11: vocabulary richness (hapax ratio / type-token) -----------------------


@query(
    "q_vocab_richness",
    oracle="""
    WITH w AS (
      SELECT source, word, count(*) AS freq FROM (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents)
      WHERE word <> ''
      GROUP BY source, word)
    SELECT source,
           CAST(sum(freq) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (WHERE freq = 1) AS BIGINT) AS n_hapax,
           round(count(*) / CAST(sum(freq) AS DOUBLE), 6) AS ttr,
           round(count(*) FILTER (WHERE freq = 1)
                 / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
    FROM w GROUP BY source ORDER BY source
    """,
)
def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness audit per source (Z11, wave 33): type-token
    ratio and hapax-legomenon share — the lexical-diversity signals a
    corpus curator reads before weighting a source (boilerplate farms
    show low TTR / low hapax; OCR noise shows the opposite extreme).
    One explode → (source, word) hash aggregate (map-side partials per
    word) → per-source rollup of the type table; the only exchange
    after the word counts carries one row per distinct (source, word),
    never per token occurrence."""
    w = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        w.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("freq") == 1).cast("long")).cast("long").alias("n_hapax"),
            F.round(
                F.count(F.lit(1)) / F.sum("freq").cast("double"), 6
            ).alias("ttr"),
            F.round(
                F.sum((F.col("freq") == 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


# --- X18: minhash estimator calibration audit -----------------------------------


@query(
    "q_minhash_calibration",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           true AS has_pairs,
           true AS mean_err_ok,
           true AS max_err_ok,
           true AS bias_ok
    FROM documents
    """,
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash estimator calibration audit (X18, wave 33): on LSH
    candidate pairs, how far is the 16-hash signature's Jaccard
    ESTIMATE (matching-component fraction) from the exact token
    Jaccard — the accuracy contract a dedup pipeline silently relies
    on when it thresholds on sketches (q_dedup_minhash verifies
    candidates exactly; this audits the sketch itself, the
    q_approx_sketch pattern applied to minhash). Verdict bounds come
    from estimator theory for 16 independent permutations: per-pair
    std = sqrt(J(1-J)/16) <= 0.125, so mean |err| <= 0.125; the
    estimate quantizes in 1/16 steps so max |err| <= 0.75; and
    collision-conditioning bias (candidates are pairs that already
    matched >=1 band) is positive but < 0.125. Measured 0.079-0.083 /
    0.42-0.50 / +0.026-0.041 across the three fixture tiers. Scale
    shape: pairs decimate deterministically (id_a % 97 = 0, probe side of the band join) BEFORE the
    exact-Jaccard attach — a calibration audit must never be the
    scale bottleneck of the dedup it audits; signatures join id-keyed."""
    from .functions.text import N_MINHASH, minhash_bands
    from .operators.dedup import _jaccard

    docs = _docs(spark, sf_dir)
    # the signature now lives ON the session doc-sketch checkpoint
    # (shared with q_dedup_minhash / q_dedup_cascade), so the band
    # join and the two sig/token attaches below all read the substrate
    # directly — the per-call signature pass + checkpoint this query
    # carried through r10 is gone (r11; values identical, the fold is
    # deterministic in tokh).
    per = _doc_sketch(spark, sf_dir).select("doc_id", "toks", "sig")
    # the band join of minhash_candidates, probe side decimated BEFORE
    # the join (filtering the finished pairs still pays the full
    # collision product — measured 55 s vs 12 s at the 10x tier)
    b = per.select(
        "doc_id", F.posexplode(minhash_bands(F.col("sig"))).alias("band", "key")
    )
    left = b.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("id_a"), "band", "key"
    )
    right = b.select(F.col("doc_id").alias("id_b"), "band", "key")
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / N_MINHASH
    )
    scored = (
        pairs.join(
            per.select(
                F.col("doc_id").alias("id_a"),
                F.col("sig").alias("sig_a"),
                F.col("toks").alias("toks_a"),
            ),
            "id_a",
        )
        .join(
            per.select(
                F.col("doc_id").alias("id_b"),
                F.col("sig").alias("sig_b"),
                F.col("toks").alias("toks_b"),
            ),
            "id_b",
        )
        .select(
            (est - _jaccard(F.col("toks_a"), F.col("toks_b"))).alias("err")
        )
    )
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(F.abs("err")).alias("mean_err"),
        F.max(F.abs("err")).alias("max_err"),
        F.avg("err").alias("bias"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return n_docs.crossJoin(stats).select(
        "n_docs",
        (F.col("n_pairs") > 0).alias("has_pairs"),
        (F.col("mean_err") <= 0.125).alias("mean_err_ok"),
        (F.col("max_err") <= 0.75).alias("max_err_ok"),
        ((F.col("bias") > -0.01) & (F.col("bias") < 0.125)).alias("bias_ok"),
    )


# --- Z12: source stopword-profile similarity matrix -------------------------------


@query(
    "q_stopword_profile",
    oracle="""
    WITH stops AS (
      SELECT unnest(['a','and','das','de','der','des','die','ein','el',
                     'es','et','in','is','ist','it','la','las','le',
                     'les','los','nicht','of','que','the','to','un',
                     'und','une','y']) AS word),
    w AS (
      SELECT source, word, count(*)::DOUBLE AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents)
      WHERE word IN (SELECT word FROM stops)
      GROUP BY source, word),
    tot AS (SELECT source, sum(c) AS t FROM w GROUP BY source),
    p AS (
      SELECT w.source, w.word, w.c / tot.t AS p
      FROM w JOIN tot ON w.source = tot.source),
    nrm AS (SELECT source, sqrt(sum(p * p)) AS nn FROM p GROUP BY source),
    dots AS (
      SELECT a.source AS src_a, b.source AS src_b, sum(a.p * b.p) AS dot
      FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b,
           round(dot / (na.nn * nb.nn), 6) AS cosine
    FROM dots
    JOIN nrm na ON na.source = src_a
    JOIN nrm nb ON nb.source = src_b
    ORDER BY src_a, src_b
    """,
)
def q_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source stopword-profile similarity (Z12, wave 34): cosine
    between each pair of sources' stopword DISTRIBUTIONS (share of the
    source's stopword mass per function word) — the cheap stylometric
    fingerprint a curation pipeline uses to spot near-identical feeds
    and machine-translated mirrors before any content hashing (function
    words survive paraphrase; content words don't). The profile axis is
    the fixed 29-word engine stopword list, so every table after the
    one token-filtering aggregate is (sources × 29)-sized, and the pair
    join is word-keyed over that table — never a document pair space."""

    stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    docs = _docs(spark, sf_dir)
    w = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").isin(stops))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        # lazy checkpoint: (sources × 29)-row profile feeding the mass
        # total and, via p, the norm and BOTH pair-join sides — as
        # plain plan subtrees the corpus explode+agg re-ran per
        # reference (8 fact scans in the r11 scan-dupe sweep); the
        # shared RDD node computes once inside the same job.
        .localCheckpoint(eager=False)
    )
    tot = w.groupBy("source").agg(F.sum("c").alias("t"))
    p = w.join(tot, "source").select(
        "source", "word", (F.col("c") / F.col("t")).alias("p")
    )
    nrm = p.groupBy("source").agg(F.sqrt(F.sum(F.col("p") * F.col("p"))).alias("nn"))
    a = p.select(F.col("source").alias("src_a"), "word", F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("src_b"), F.col("word").alias("wb"), F.col("p").alias("pb"))
    dots = (
        a.join(b, (F.col("word") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("pa") * F.col("pb")).alias("dot"))
    )
    na = nrm.select(F.col("source").alias("src_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("source").alias("src_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# --- X20: vocabulary capture-recapture (Chapman estimator) ------------------


@query(
    "q_capture_recapture",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKS}) AS word
      FROM documents WHERE source IN ('src0', 'src1')),
    vocab AS (SELECT DISTINCT source, word FROM tok),
    caps AS (
      SELECT CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) AS n2,
             CAST(count(*) FILTER (WHERE source = 'src0')
                  + count(*) FILTER (WHERE source = 'src1')
                  - count(DISTINCT word) AS BIGINT) AS m,
             CAST(count(DISTINCT word) AS BIGINT) AS observed_union
      FROM vocab)
    SELECT n1, n2, m, observed_union,
           round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 2) AS chapman_est,
           round(((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0)
                 / observed_union, 4) AS est_over_observed
    FROM caps
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary capture-recapture (X20, wave 36): treat two sources'
    vocabularies as two "captures" of the corpus's word population and
    estimate the TOTAL vocabulary with the bias-corrected Chapman
    estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the unseen-species answer
    to "how much vocabulary has our crawl not seen yet", which K1's
    coverage report (what fraction of a FIXED vocab we hit) cannot ask.

    One token explode over the two sampled sources (scan-pruned by the
    source predicate), one distinct per source, and the estimator is
    closed-form integer arithmetic over three counts. The m overlap
    comes from |V1|+|V2|−|V1∪V2| — no word-level self-join at all, so
    the exchange is keyed on the word only once (the distinct)."""
    tok = (
        _docs(spark, sf_dir)
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(tokens("text")).alias("word"))
    )
    vocab = tok.select("source", "word").distinct()
    caps = vocab.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.count_distinct(F.col("word")).cast("long").alias("observed_union"),
    ).select(
        "n1",
        "n2",
        (F.col("n1") + F.col("n2") - F.col("observed_union"))
        .cast("long")
        .alias("m"),
        "observed_union",
    )
    est = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    return caps.select(
        "n1",
        "n2",
        "m",
        "observed_union",
        F.round(est, 2).alias("chapman_est"),
        F.round(est / F.col("observed_union"), 4).alias("est_over_observed"),
    )


# --- L10: DPO preference pairs from quality ranking ---------------------------

_QUALITY_SQL = f"""
      SELECT doc_id, source,
        round(0.4 * least(len({_SQL_TOKS}) / 100.0, 1.0)
              + 0.4 * (CASE WHEN len({_SQL_DTOKS}) > 0
                  THEN len(list_intersect({_SQL_DTOKS},
                    [{', '.join(sorted(repr(w) for ws in STOPWORDS.values() for w in ws))}]
                  ))::DOUBLE / len({_SQL_DTOKS}) ELSE 0.0 END)
              + 0.2 * (1.0 - least((CASE WHEN length(text) > 0
                  THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                       / length(text)
                  ELSE 0.0 END) * 5.0, 1.0)), 6) AS quality
      FROM documents
"""


@query(
    "q_dpo_pairs",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    ranked AS (
      SELECT source, doc_id, quality,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY quality DESC, doc_id) AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM q)
    SELECT a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.rnk AS chosen_rank,
           round(a.quality - b.quality, 6) AS margin
    FROM ranked a JOIN ranked b
      ON b.source = a.source AND b.rnk = a.rnk + (a.n + 1) // 2
    WHERE a.rnk <= a.n // 2 AND a.quality - b.quality > 0
    ORDER BY a.source, a.rnk
    """,
)
def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference pairs (L10, wave 37): within each source,
    rank documents by the X3 quality heuristic and pair rank r with
    rank r+⌈n/2⌉ — top-half chosen, bottom-half rejected, the
    maximal-margin non-overlapping pairing a preference-tuning run
    (DPO, RLHF reward modeling) builds from scored corpora. Zero-margin
    pairs are dropped (they teach the model nothing), and chosen and
    rejected share a source so the pair differs in QUALITY, not domain
    — the confound the naive cross-corpus pairing bakes in.

    One scan scores quality (all Catalyst expressions, shared with
    q_quality_score), one per-source rank window, and the pairing is a
    rank-offset self-join of the ranked table against itself — exchange
    keyed on source, pair count = ⌊n/2⌋ per source by construction
    (never quadratic)."""
    q = _docs(spark, sf_dir).select(
        "doc_id", "source", quality_score("text").alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    ranked = q.select(
        "source",
        "doc_id",
        "quality",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n"),
    ).localCheckpoint()
    a = ranked.select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("qa"),
        F.col("rnk").alias("chosen_rank"),
        "n",
    ).filter(F.col("chosen_rank") <= (F.col("n") / 2).cast("long"))
    b = ranked.select(
        F.col("source").alias("src_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("qb"),
        F.col("rnk").alias("rnk_b"),
    )
    return (
        a.join(
            b,
            (F.col("src_b") == F.col("source"))
            & (
                F.col("rnk_b")
                == F.col("chosen_rank") + ((F.col("n") + 1) / 2).cast("long")
            ),
        )
        .filter(F.col("qa") - F.col("qb") > 0)
        .select(
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_rank",
            F.round(F.col("qa") - F.col("qb"), 6).alias("margin"),
        )
        .orderBy("source", "chosen_rank")
    )


# --- X21: character-class composition audit -------------------------------------

#: (name, regex character class) — fixed order; "other" is the
#: complement so the five published counts always sum to n_chars
_CHARCLASS = (
    ("upper", "[A-Z]"),
    ("lower", "[a-z]"),
    ("digit", "[0-9]"),
    ("ws", "[ \\t\\n\\f\\r]"),
)


@query(
    "q_charclass_mix",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n,
             {", ".join(
                 "CAST(length(text) - length(regexp_replace(text, "
                 f"'{pat}', '', 'g')) AS BIGINT) AS n_{name}"
                 for name, pat in _CHARCLASS)}
      FROM documents),
    per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_chars,
             {", ".join(
                 f"CAST(sum(n_{name}) AS BIGINT) AS c_{name}"
                 for name, _ in _CHARCLASS)}
      FROM per_doc GROUP BY source)
    SELECT source, n_docs, n_chars,
           {", ".join(
               f"c_{name}, round(c_{name} / CAST(n_chars AS DOUBLE), 6)"
               f" AS share_{name}"
               for name, _ in _CHARCLASS)},
           CAST(n_chars - c_upper - c_lower - c_digit - c_ws AS BIGINT)
             AS c_other,
           round((n_chars - c_upper - c_lower - c_digit - c_ws)
                 / CAST(n_chars AS DOUBLE), 6) AS share_other
    FROM per_source ORDER BY source
    """,
)
def q_charclass_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition audit per source (X21, wave 42):
    uppercase / lowercase / digit / whitespace / other counts and
    shares — the encoding-hygiene screen a corpus pipeline runs before
    tokenizer training (a source whose digit share doubles overnight
    is a schema leak; an "other" spike is mojibake or markup bleed).
    Complements X13's per-doc entropy and Z12's stopword profiles with
    the per-SOURCE byte-level composition; "other" is computed as the
    complement so the five published counts provably sum to n_chars.

    Exactness: every count is length(text) − length(class-stripped
    text) — integer arithmetic identical on both engines because BOTH
    count codepoints (Spark's ``length``/``char_length`` is
    codepoint-based, as is DuckDB's ``length``; ADVICE r10 corrected
    the earlier UTF-16 claim). The ASCII fixture additionally removes
    any byte-vs-codepoint concern for class regexes; shares divide
    identical int64 sums, rounded 6-dp.

    Shape: one map-side regexp battery over documents (in-row codegen,
    no UDF, no explode — four bounded regex passes per row), then ONE
    source-keyed aggregate whose partials combine map-side. At 100 TB
    the only term is the single corpus scan."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("n"),
        *[
            (
                F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))
            )
            .cast("long")
            .alias(f"n_{name}")
            for name, pat in _CHARCLASS
        ],
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_chars"),
        *[
            F.sum(f"n_{name}").cast("long").alias(f"c_{name}")
            for name, _ in _CHARCLASS
        ],
    )
    other = (
        F.col("n_chars")
        - F.col("c_upper")
        - F.col("c_lower")
        - F.col("c_digit")
        - F.col("c_ws")
    )
    cols = ["source", "n_docs", "n_chars"]
    sel = [F.col(c) for c in cols]
    for name, _ in _CHARCLASS:
        sel.append(F.col(f"c_{name}"))
        sel.append(
            F.round(
                F.col(f"c_{name}") / F.col("n_chars").cast("double"), 6
            ).alias(f"share_{name}")
        )
    sel.append(other.cast("long").alias("c_other"))
    sel.append(
        F.round(other / F.col("n_chars").cast("double"), 6).alias(
            "share_other"
        )
    )
    return per_source.select(*sel).orderBy("source")
