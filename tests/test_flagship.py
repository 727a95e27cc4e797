from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.chunker import (
    chunk_documents,
    split_text_recursive,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
    REFUSAL_PREFIX,
    build_chunk_index,
    postprocess_answer,
    postprocess_answers,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.plans.flagship import (
    flagship,
)

from conftest import SF_DIR, count_nodes


def test_chunk_documents_matches_pure_function(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20).cache()
    chunks = chunk_documents(docs).orderBy("doc_id", "chunk_id").collect()
    expected = {}
    for row in docs.collect():
        expected[row.doc_id] = split_text_recursive(row.text or "")
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.text))
    for doc_id, pairs in by_doc.items():
        assert [t for _, t in sorted(pairs)] == expected[doc_id]
        assert [i for i, _ in sorted(pairs)] == list(range(len(pairs)))


def test_chunk_documents_edge_rows_match_pure_function(spark):
    """Documents with no chunks (null, empty, whitespace-only text)
    yield no rows; the others yield exactly the pure splitter's chunks
    in order, several for a long document."""
    long_text = "\n\n".join(
        " ".join(f"para {p} word {w}" for w in range(12)) for p in range(4)
    )
    texts = {1: None, 2: "", 3: "  \n\t  \n ", 4: long_text, 5: "one short line"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.chunk_id, r.text)
        for r in chunk_documents(docs, chunk_size=60).collect()
    )
    want = sorted(
        (doc_id, i, chunk)
        for doc_id, text in texts.items()
        for i, chunk in enumerate(split_text_recursive(text or "", 60))
    )
    assert got == want
    assert len(split_text_recursive(long_text, 60)) > 4
    assert {d for d, _, _ in got} == {4, 5}


def test_build_chunk_index_runs_two_python_stages(spark):
    """The chunker and the embedder, once each: the chunker is not
    copied below the scatter exchange by an inferred generator filter."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    assert count_nodes(build_chunk_index(docs), "EvalPython") == 2


def test_build_chunk_index_schema_and_norm(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    idx = build_chunk_index(docs)
    rows = idx.limit(5).collect()
    assert rows
    for r in rows:
        assert len(r.embedding) == 64
        assert len(r.content_hash) == 64  # sha2-256 hex
        s = sum(x * x for x in r.embedding)
        assert abs(s - 1.0) < 1e-4


def test_flagship_end_to_end(spark):
    out = flagship(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 4  # k=4, reference retriever default
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every row carries the same stuffed context, best chunk first
    contexts = {r.context for r in rows}
    assert len(contexts) == 1
    ctx = contexts.pop()
    best = max(rows, key=lambda r: r.score)
    assert ctx.startswith(best.text)
    for r in rows:
        assert r.text in ctx
    # deterministic across runs
    rows2 = flagship(spark, SF_DIR).collect()
    assert [(r.doc_id, r.chunk_id) for r in rows] == [
        (r.doc_id, r.chunk_id) for r in rows2
    ]


def test_postprocess_answers(spark):
    df = spark.createDataFrame(
        [
            ("The context provided does not contain specific information about X.",),
            ("First line.\nSecond line.",),
            ("Single line answer",),
        ],
        ["answer"],
    )
    got = [r.answer for r in postprocess_answers(df).collect()]
    assert got == [
        "I'm sorry, I can only answer questions related to the provided context.",
        "First line.",
        "Single line answer",
    ]


_TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=40)
_ANSWERS = st.one_of(
    st.none(),
    st.just(""),
    _TEXT,
    _TEXT.map(lambda t: REFUSAL_PREFIX + t),
    st.lists(_TEXT, min_size=1, max_size=4).map("\n".join),
    st.lists(_TEXT, min_size=1, max_size=4).map("\r\n".join),
    # a refusal prefix that is NOT at the start stays an ordinary answer
    _TEXT.map(lambda t: t + "\n" + REFUSAL_PREFIX),
)


@given(st.lists(_ANSWERS, min_size=1, max_size=12))
@settings(max_examples=25, deadline=None)
def test_postprocess_answer_agrees_with_column_form(spark, answers):
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(answers)], "i int, answer string"
    )
    got = [r.answer for r in postprocess_answers(df).orderBy("i").collect()]
    assert [postprocess_answer(a) for a in answers] == got
