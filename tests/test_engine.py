"""End-to-end RagEngine: the reference's full user surface (upload →
index → ask → history) on Spark, deterministic."""

from __future__ import annotations

import pandas as pd
import pytest

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
    RagEngine,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
    REFUSAL_MESSAGE,
    REFUSAL_PREFIX,
)

from conftest import SF_DIR, count_nodes, file_scans, job_stats, plan_nodes, py4j_calls


@pytest.fixture()
def engine(spark, tmp_path):
    eng = RagEngine(spark, index_path=str(tmp_path / "index"))
    corpus = tmp_path / "files"
    corpus.mkdir()
    (corpus / "ships.txt").write_text(
        "The cargo vessel departed with priority freight. "
        "Order priorities were set to urgent for all maritime shipments."
    )
    (corpus / "fruit.txt").write_text(
        "Apples and oranges were harvested in autumn. "
        "The orchard yield doubled compared to last season."
    )
    assert eng.index_files(str(corpus), glob="*.txt") > 0
    return eng


def test_reindex_is_cached(engine, tmp_path):
    # the reference's LRU semantics: identical corpus → zero new embeds
    assert engine.index_files(str(tmp_path / "files"), glob="*.txt") == 0


def test_retrieve_returns_k_scored_chunks(engine):
    rows = engine.retrieve("priority freight shipments", k=2).collect()
    assert len(rows) == 2
    assert rows[0].score >= rows[1].score
    assert {"doc_id", "chunk_id", "text", "score"} <= set(rows[0].asDict())


def test_ask_returns_reference_result_shape(engine):
    out = engine.ask("What were the order priorities?")
    assert set(out) == {"input", "context", "answer", "retrieved"}
    assert out["context"]  # stuffed, non-empty
    assert "\n" not in out["answer"]  # first-line projection (P2)
    assert len(out["retrieved"]) <= 4  # reference k=4 default


def test_refusal_postprocessing(engine):
    engine.answerer = lambda q, c: REFUSAL_PREFIX + " about llamas."
    out = engine.ask("Anything about llamas?")
    assert out["answer"] == REFUSAL_MESSAGE  # P1 canned message


def test_session_history_lifecycle(engine):
    sid = "s1"
    assert engine.history(sid) == []  # get-or-create: absent reads empty
    engine.ask("q one", session_id=sid)
    engine.ask("q two", session_id=sid)
    log = engine.history(sid)
    assert [m["role"] for m in log] == ["user", "assistant"] * 2
    assert engine.history_df(sid).count() == 4
    engine.clear_session(sid)  # AI.py:29-30,232-235
    assert engine.history(sid) == []


def test_rewrite_hook_is_pluggable(engine):
    seen = {}

    def rw(q, hist):
        seen["q"] = q
        return q + " freight"

    engine.rewrite = rw
    engine.ask("priority")
    assert seen["q"] == "priority"


def test_history_aware_rewrite_contextualizes_followups():
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
        history_aware_rewrite,
    )

    history = [
        {"role": "user", "content": "Tell me about shipping priority for orders"},
        {"role": "assistant", "content": "Shipping priority ranks orders by urgency."},
    ]
    # anaphoric follow-up pulls salient topic words from history
    out = history_aware_rewrite("what about it?", history)
    assert out.startswith("what about it?")
    assert "context:" in out and "shipping" in out and "priority" in out
    # standalone questions pass through untouched
    q = "summarize the revenue trend across all market segments"
    assert history_aware_rewrite(q, history) == q
    # no history → identity
    assert history_aware_rewrite("what about it?", []) == "what about it?"
    # deterministic
    assert history_aware_rewrite("what about it?", history) == out


def test_mmr_search_type_diversifies(engine):
    sim = engine.retrieve("priority freight shipments", k=2).collect()
    mmr = engine.retrieve(
        "priority freight shipments", k=2, search_type="mmr"
    ).collect()
    assert len(mmr) == 2
    # greedy step 1 = plain argmax relevance → same top hit
    assert (mmr[0].doc_id, mmr[0].chunk_id) == (sim[0].doc_id, sim[0].chunk_id)
    assert {"doc_id", "chunk_id", "text", "score"} <= set(mmr[0].asDict())


def test_hybrid_search_type_fuses_lexical_and_vector(engine):
    rows = engine.retrieve(
        "priority freight shipments", k=2, search_type="hybrid"
    ).collect()
    assert len(rows) == 2
    assert rows[0].score >= rows[1].score
    # the chunk actually containing the query words must win the fusion
    assert "priority" in rows[0].text.lower()


def test_hybrid_dedupes_question_terms_before_slice(engine, monkeypatch):
    """A repeated-term question must not waste the 5 question-term
    slots on duplicates: dedupe happens BEFORE the [:5] slice, so all
    5 distinct non-stopword terms reach the lexical leg."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        ranking,
    )

    captured = {}
    real = ranking.bm25_scores

    def spy(df, terms, *a, **kw):
        captured["terms"] = list(terms)
        return real(df, terms, *a, **kw)

    monkeypatch.setattr(ranking, "bm25_scores", spy)
    q = (
        "priority priority priority freight freight shipments "
        "urgent maritime cargo"
    )
    rows = engine.retrieve(q, k=2, search_type="hybrid").collect()
    assert len(rows) == 2
    assert captured["terms"] == [
        "priority",
        "freight",
        "shipments",
        "urgent",
        "maritime",
    ]
    assert len(set(captured["terms"])) == 5


def test_unknown_search_type_rejected(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.retrieve("anything", search_type="cosine!!")


def test_recommend_adapts_to_session_history(engine):
    # a session about shipping should be recommended the shipping
    # chunk first; a session about fruit, the orchard chunk — same
    # engine, recommendations shift with the conversation
    engine.ask("What were the order priorities?", session_id="s-ship")
    engine.ask("How was the orchard yield?", session_id="s-fruit")
    top_ship = engine.recommend("s-ship", k=1).collect()[0]
    top_fruit = engine.recommend("s-fruit", k=1).collect()[0]
    assert "freight" in top_ship.text or "maritime" in top_ship.text
    assert "orchard" in top_fruit.text or "Apples" in top_fruit.text


def test_recommend_cold_start_is_defined(engine):
    # unknown session: empty profile still yields k deterministic rows
    rows = engine.recommend("never-seen", k=2).collect()
    assert len(rows) == 2


def test_recursive_cte_equals_iterative_dataframe_loop(spark):
    """q_recursive_cte's UnionLoop semantics cross-checked against a
    hand-rolled iterate-until-empty DataFrame loop of the same
    recursion — pins that Spark 4.1's WITH RECURSIVE executes the
    declared fixpoint, independently of the DuckDB oracle."""
    from pyspark.sql import functions as F

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import registry
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_spark4 import (
        _REC_MAX_KEY,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.p_partkey, r.depth, r.path_sum)
        for r in registry.queries()["q_recursive_cte"](spark, sf).collect()
    }

    frontier = (
        load_table(spark, "part", sf)
        .filter(F.col("p_partkey") <= _REC_MAX_KEY)
        .select(
            "p_partkey",
            F.col("p_partkey").alias("node"),
            F.lit(0).alias("depth"),
        )
    )
    acc = frontier
    while True:
        frontier = frontier.filter(F.col("node") > 1).select(
            "p_partkey",
            F.expr("node DIV 2").alias("node"),
            (F.col("depth") + 1).alias("depth"),
        )
        if frontier.isEmpty():
            break
        acc = acc.unionByName(frontier)
    want = {
        (r.p_partkey, r.depth, r.path_sum)
        for r in acc.groupBy("p_partkey")
        .agg(
            F.max("depth").alias("depth"),
            F.sum("node").cast("long").alias("path_sum"),
        )
        .collect()
    }
    assert got == want and got


def test_retrieve_routes_through_ann_above_threshold(spark, tmp_path):
    """The facade's brute-force→ANN handoff: shrink ann_threshold_rows
    so the tiny fixture index exceeds it, and every search_type must
    still return k well-formed rows via the LSH route (approximate, so
    assert shape + score sanity + that the top hit is the on-topic
    chunk, not exact equality)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    eng = RagEngine(
        spark, index_path=str(tmp_path / "index"), ann_threshold_rows=10
    )
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs) > 0
    assert eng._route(eng._index_listing())[1].rows > 10  # the route is actually ANN

    exact = RagEngine(spark, index_path=str(tmp_path / "index"))
    q = "priority freight shipments delayed by clerk errors"
    for st in ("similarity", "mmr", "hybrid"):
        rows = eng.retrieve(q, search_type=st).collect()
        assert len(rows) == eng.k, st
        assert all(r.text and r.score is not None for r in rows), st
    # ANN recall on the head: the top similarity hit matches the exact scan
    top_ann = eng.retrieve(q).collect()[0]
    top_exact = exact.retrieve(q).collect()[0]
    assert (top_ann.doc_id, top_ann.chunk_id) == (
        top_exact.doc_id,
        top_exact.chunk_id,
    )
    # ask + recommend drive the same routed path end-to-end
    res = eng.ask(q, session_id="ann")
    assert res["answer"]
    assert len(eng.recommend("ann").collect()) == eng.k


def test_fresh_engine_reuses_on_disk_ann_layout(spark, tmp_path, monkeypatch):
    """The IVF layout is a per-CORPUS artifact: a fresh engine pointed
    at an already-built above-threshold index must verify the persisted
    corpus fingerprint and reuse the codebook+layout — not retrain
    KMeans and rewrite the index (ADVICE r6: the build was effectively
    per-instance). Retrieval on the fresh instance must also stop
    re-reading the codebook parquet per question once verified."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        similarity as sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs) > 0
    q = "priority freight shipments delayed by clerk errors"
    built = eng.retrieve(q).collect()
    assert eng._state.codebook is not None and len(built) == eng.k

    def boom(*a, **k):
        raise AssertionError("fresh engine rebuilt an already-built layout")

    monkeypatch.setattr(sim, "train_centroids_sample", boom)
    monkeypatch.setattr(sim, "write_ivf_index", boom)
    fresh = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    got = fresh.retrieve(q).collect()
    assert fresh._state.codebook is not None
    assert [(r.doc_id, r.chunk_id) for r in got] == [
        (r.doc_id, r.chunk_id) for r in built
    ]


def test_ann_rebuild_after_corpus_growth_retrains(spark, tmp_path, monkeypatch):
    """After index_documents grows the corpus, the next retrieval must
    RETRAIN with a corpus-versioned cache key — not silently replay the
    old corpus's memoized centroids under the bare-path key, and not
    trust the now-mismatched on-disk fingerprint (ADVICE r6)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        similarity as sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs.filter("doc_id % 2 = 0")) > 0
    q = "priority freight shipments delayed by clerk errors"

    seen_keys = []
    real_train = sim.train_centroids_sample

    def spy(*a, **k):
        seen_keys.append(k.get("cache_key"))
        return real_train(*a, **k)

    monkeypatch.setattr(sim, "train_centroids_sample", spy)
    eng.retrieve(q).collect()  # first build
    assert eng.index_documents(docs.filter("doc_id % 2 = 1")) > 0
    assert eng._state_at(eng._index_listing()).codebook is None  # corpus change invalidates in-session
    eng.retrieve(q).collect()  # fingerprint mismatch => rebuild
    assert len(seen_keys) == 2  # retrained, not replayed from memo/disk
    assert seen_keys[0] != seen_keys[1]  # corpus-versioned cache keys
    assert all(k and str(path) in k for k in seen_keys)


def test_postings_bm25_bit_identical_to_scan_form(spark, tmp_path):
    """The posting-list layout must reproduce the scan-form BM25 scores
    bit-for-bit for every document containing >=1 query term (the only
    documents the postings emit — zero-match docs carry no lexical
    evidence by design)."""
    from pyspark.sql import functions as F

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranking import (
        bm25_postings_scores,
        bm25_scores,
        write_postings_index,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    # the layout stores ids as strings
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    lex = str(tmp_path / "lex")
    stats = str(tmp_path / "lex_stats")
    write_postings_index(docs, lex, stats, fingerprint=123)
    # real corpus tokens plus one absent term (its tf-0 filler-df path
    # must contribute exactly +0.0, like the scan form's idf*0) plus a
    # REPEATED term: the scan form adds one contribution per list
    # occurrence, so the postings form must too — not dedupe the sum
    terms = ["query", "window", "query", "merge", "customer", "zzz_absent_term"]
    scan = {
        r.doc_id: r.bm25
        for r in bm25_scores(docs, terms).collect()
        if r.bm25 != 0.0
    }
    post = {
        r.doc_id: r.bm25
        for r in bm25_postings_scores(
            spark, lex, stats, terms, id_col="doc_id"
        ).collect()
    }
    assert post  # the fixture matches some terms
    assert post == scan  # exact float equality, doc for doc


def test_hybrid_routes_through_postings_above_threshold(spark, tmp_path, monkeypatch):
    """Above the ANN threshold the hybrid BM25 leg must come from the
    posting-list layout (no corpus tokenize per question), and a fresh
    engine must REUSE the persisted layout via the stats fingerprint."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        ranking as rk,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs) > 0
    q = "priority freight shipments delayed by clerk errors"
    rows = eng.retrieve(q, search_type="hybrid").collect()
    assert len(rows) == eng.k and eng._state.postings
    # per question, with the layouts built: the fused top-k and payload
    # collects, plus the vector leg's ranking when a term's bucket is
    # populated; the postings and stats reads declare their schemas, so
    # neither runs a footer-inference job
    for question, jobs in ((q, 2), ("spark streaming state windows", 4)):
        got = []
        n, _ = job_stats(
            spark, lambda: got.extend(eng.retrieve(question, search_type="hybrid").collect())
        )
        assert n == jobs, question
        assert len(got) == eng.k
    assert eng.retrieve(q, search_type="hybrid").collect() == rows

    def boom(*a, **k):
        raise AssertionError("fresh engine rebuilt an already-built postings layout")

    monkeypatch.setattr(rk, "write_postings_index", boom)
    fresh = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    got = fresh.retrieve(q, search_type="hybrid").collect()
    assert fresh._state.postings
    assert [(r.doc_id, r.chunk_id) for r in got] == [
        (r.doc_id, r.chunk_id) for r in rows
    ]


def test_fresh_engine_detects_equal_rowcount_corpus_rewrite(
    spark, tmp_path, monkeypatch
):
    """An external rewrite of index_path that PRESERVES the row count
    must still fail the reuse fingerprint: the corpus signature folds
    a digest of the index's file listing in beside the row count
    (ADVICE r7), so a fresh engine retrains instead of
    silently serving a stale IVF layout."""
    import shutil

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        similarity as sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs) > 0
    q = "priority freight shipments delayed by clerk errors"
    eng.retrieve(q).collect()  # builds + persists the IVF layout

    # external same-rowcount rewrite: round-trip the index through a
    # staging dir (different file sizes/mtimes, identical row count)
    staged = str(tmp_path / "staged")
    spark.read.parquet(path).coalesce(1).write.parquet(staged)
    shutil.rmtree(path)
    shutil.move(staged, path)

    calls = []
    real_train = sim.train_centroids_sample

    def spy(*a, **k):
        calls.append(1)
        return real_train(*a, **k)

    monkeypatch.setattr(sim, "train_centroids_sample", spy)
    fresh = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    got = fresh.retrieve(q).collect()
    assert calls, "fresh engine trusted a stale fingerprint after an equal-rowcount rewrite"
    assert fresh._state.codebook is not None and len(got) == fresh.k


def test_bounded_corpus_growth_appends_into_ivf_layout(
    spark, tmp_path, monkeypatch
):
    """Incremental IVF maintenance (round 8): a bounded append-only
    corpus growth must NOT retrain KMeans or rewrite the layout — the
    delta chunks are assigned under the existing codebook and appended
    into the cell partitions, and the appended content is immediately
    retrievable through the ANN route."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        similarity as sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    assert eng.index_documents(docs.filter("doc_id % 10 != 0")) > 0
    eng.retrieve("priority freight shipments").collect()  # builds the layout

    def boom(*a, **k):
        raise AssertionError("bounded growth retrained/rewrote the IVF layout")

    assert eng.index_documents(docs.filter("doc_id % 10 = 0")) > 0  # ~11% growth
    monkeypatch.setattr(sim, "train_centroids_sample", boom)
    monkeypatch.setattr(sim, "write_ivf_index", boom)

    # pick a NEW doc's own chunk text as the query: its embedding is
    # the chunk's embedding, so the appended chunk must come back top-1
    new_chunk = (
        eng.index()
        .filter("doc_id % 10 = 0")
        .filter("chunk_id = 0")
        .select("doc_id", "text")
        .first()
    )
    got = eng.retrieve(new_chunk.text).collect()
    assert eng._state.codebook is not None
    assert got[0].doc_id == new_chunk.doc_id and got[0].chunk_id == 0

    # the layout now covers the whole corpus, no duplicates
    ivf_path, _ = eng._ann_paths()
    assert (
        spark.read.parquet(ivf_path).count() == eng.index().count()
    )
    # and a FRESH engine reuses the appended layout (fingerprint matches)
    fresh = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    fresh.retrieve("delayed clerk errors").collect()
    assert fresh._state.codebook is not None


def test_another_writers_append_reaches_the_ivf_route(spark, tmp_path):
    """Engine A verifies its IVF layout above a small threshold, then
    engine B appends one document to the same index. A's next
    similarity, MMR and ask top hits are a fresh engine's, and the row
    count A routes on is the index's: what A knows of its index is kept
    per file listing, so B's new file makes A re-verify the layout."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "index")
    eng = RagEngine(spark, index_path=path, ann_threshold_rows=10)
    assert eng.index_documents(load_table(spark, "documents", SF_DIR)) > 0
    eng.retrieve("priority freight shipments").collect()  # verifies or builds the layout
    text = "zebra quokka marmalade telescope nebula"
    docs = spark.createDataFrame([(999999, text)], "doc_id long, text string")
    assert RagEngine(spark, index_path=path, ann_threshold_rows=10).index_documents(docs) > 0
    got = [
        eng.retrieve(text).collect()[0],
        eng.retrieve(text, search_type="mmr").collect()[0],
        eng.ask(text)["retrieved"][0],
    ]
    top = RagEngine(spark, index_path=path, ann_threshold_rows=10).retrieve(text).collect()[0]
    assert (top.doc_id, top.chunk_id) == (999999, 0)
    assert [(r.doc_id, r.chunk_id) for r in got] == [(999999, 0)] * 3
    route, state = eng._route(eng._index_listing())
    assert route == "ivf" and state.rows == eng.index().count()


def test_ivf_route_is_topk_over_probed_cells(spark, tmp_path):
    """Above the threshold, retrieval is ``topk_cosine`` over the IVF
    layout's probed cells: the same rows and raw scores (``==``) as the
    operator over the layout filtered to the question's nearest cells,
    no Python stage, file scans only under probed cell directories,
    and one job: the cell read is given the layout's schema, so only
    the top-k scan runs."""
    import re

    from pyspark.sql import functions as F

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.embedder import (
        embed_text,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
        topk_cosine,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.similarity import (
        nearest_cells,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    eng = RagEngine(spark, index_path=str(tmp_path / "index"), ann_threshold_rows=10)
    assert eng.index_documents(load_table(spark, "documents", "/root/testdata/sf0.001")) > 0
    questions = [
        "priority freight shipments delayed by clerk errors",
        "urgent maritime cargo",
        "customer complaints about late delivery",
        "supplier part pricing",
        "orchard harvest yield",
        "query window merge",
        "warehouse inventory levels",
        "returned items and refunds",
    ]
    eng.retrieve(questions[0]).collect()  # verifies or builds the layout
    ivf_path = eng._ann_paths()[0]
    layout = spark.read.parquet(ivf_path)
    for q in questions:
        qvec = embed_text(q, eng.dim)
        cells = nearest_cells(qvec, eng._state.codebook, eng.ann_nprobe)
        want = topk_cosine(
            layout.filter(F.col("cell").isin(cells)),
            qvec,
            k=eng.k,
            id_cols=("doc_id", "chunk_id"),
        ).collect()
        df = eng.retrieve(q)
        got = df.collect()
        assert len(got) == eng.k, q
        assert [(r.doc_id, r.chunk_id, r.score) for r in got] == [
            (r.doc_id, r.chunk_id, r.score) for r in want
        ], q
        assert count_nodes(df, "EvalPython") == 0, q
        roots = [
            node.relation().location().rootPaths()
            for node in plan_nodes(df)
            if node.getClass().getSimpleName() == "FileSourceScanExec"
        ]
        paths = [r.apply(i).toString() for r in roots for i in range(r.size())]
        assert paths, q
        for path in paths:
            m = re.search(r"_ivf/cell=(\d+)$", path)
            assert m and int(m.group(1)) in cells, (q, path)
        assert job_stats(spark, lambda: eng.retrieve(q).collect())[0] == 1, q


def _first_retrievals_race(eng, search_type: str, threads: int = 8) -> list:
    """``threads`` first retrievals on one engine, released together by
    a barrier; returns the exceptions they raised."""
    import threading

    barrier, errors = threading.Barrier(threads, timeout=120), []

    def worker():
        try:
            barrier.wait()
            eng.retrieve("priority freight shipments", search_type=search_type).collect()
        except Exception as e:  # collected, asserted empty by the caller
            errors.append(e)

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for th in pool:
        th.start()
    for th in pool:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in pool)
    return errors


def _counting(monkeypatch, owner, name: str) -> list:
    calls, real = [], getattr(owner, name)

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(owner, name, spy)
    return calls


def test_concurrent_first_asks_build_the_ivf_layout_once(spark, tmp_path, monkeypatch):
    """Eight threads making the first above-threshold retrieval on one
    engine run one KMeans fit and one layout write, and all succeed:
    the verify-or-build runs under the engine's layout lock, so no
    thread overwrites the layout another is reading."""
    from pyspark.ml.clustering import KMeans

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        similarity as sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    eng = RagEngine(spark, index_path=str(tmp_path / "index"), ann_threshold_rows=10)
    assert eng.index_documents(load_table(spark, "documents", "/root/testdata/sf0.001")) > 0
    fits = _counting(monkeypatch, KMeans, "fit")
    writes = _counting(monkeypatch, sim, "write_ivf_index")
    assert _first_retrievals_race(eng, "similarity") == []
    assert (len(fits), len(writes)) == (1, 1)


def test_concurrent_first_hybrid_asks_build_the_postings_once(spark, tmp_path, monkeypatch):
    """The hybrid twin: eight first hybrid retrievals above the
    threshold write the posting-list layout once, and all succeed."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        ranking as rk,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    eng = RagEngine(spark, index_path=str(tmp_path / "index"), ann_threshold_rows=10)
    assert eng.index_documents(load_table(spark, "documents", "/root/testdata/sf0.001")) > 0
    writes = _counting(monkeypatch, rk, "write_postings_index")
    assert _first_retrievals_race(eng, "hybrid") == []
    assert len(writes) == 1


def test_warm_ask_and_recommend_run_no_job(engine):
    """Below the ANN threshold a warm ask scores the driver-held
    snapshot and runs no Spark job: the answer is cleaned in driver
    Python. ``recommend`` scores the same snapshot and returns a local
    frame, which runs no job to build or collect; its rows are the
    top-k scan's."""
    engine.ask("warm-up: reads the schema and the snapshot", session_id="jobs")
    assert job_stats(engine.spark, lambda: engine.ask("order priorities?"))[0] == 0
    assert (
        job_stats(engine.spark, lambda: engine.ask("orchard?", session_id="jobs"))[0]
        == 0
    )
    assert job_stats(engine.spark, lambda: engine.recommend("jobs").collect())[0] == 0
    history = engine.history("jobs")
    profile = " ".join(m["content"] for m in history if m["role"] == "user")
    rec = engine.recommend("jobs")
    assert rec.schema.simpleString() == (
        "struct<doc_id:bigint,chunk_id:int,text:string,score:double>"
    )
    assert rec.collect() == _topk(engine, profile)
    assert engine.recommend("jobs", k=1).collect() == _topk(engine, profile)[:1]


def test_mmr_below_threshold_runs_no_job(engine, monkeypatch):
    """MMR below the ANN threshold takes its candidates, with their
    vectors, from the driver-held snapshot and runs no job; its rows and
    scores are the Spark route's, where the candidate scan is one job."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )

    engine.ask("warm-up: loads the snapshot")

    def mmr(q="priority freight shipments"):
        return engine.retrieve(q, k=2, search_type="mmr")

    assert job_stats(engine.spark, lambda: mmr().collect())[0] == 0
    questions = ("priority freight shipments", "orchard apples", "")
    served = [mmr(q).collect() for q in questions]
    monkeypatch.setattr(engine_mod, "SNAPSHOT_MAX_BYTES", 0)
    assert job_stats(engine.spark, mmr)[0] == 1
    assert [mmr(q).collect() for q in questions] == served


def test_index_sees_rows_another_engine_appended(engine, spark):
    """The schema cache must not freeze the file listing: a second
    engine appending to the same index path is visible to the first
    engine's next ask."""
    engine.ask("warm-up: caches the index schema")
    assert engine._state.schema is not None
    other = RagEngine(spark, index_path=engine.index_path)
    text = "Zebras graze on savanna grasslands near the watering hole."
    docs = spark.createDataFrame([(99, text)], "doc_id long, text string")
    assert other.index_documents(docs) > 0
    out = engine.ask(text)
    assert [r.doc_id for r in out["retrieved"]][0] == 99
    assert out["answer"] == text


def test_index_documents_resets_cached_schema(engine, spark, tmp_path):
    """The cached schema survives an append of the same column types,
    and is dropped when an append changes doc_id's type or creates the
    index afresh."""
    import shutil

    engine.ask("warm-up: caches the index schema")
    assert engine._state.schema is not None
    (tmp_path / "files" / "tea.txt").write_text("Green tea leaves are steamed.")
    assert engine.index_files(str(tmp_path / "files"), glob="*.txt") > 0
    assert engine._state.schema is not None

    ints = spark.createDataFrame([(7, "Black tea is oxidized.")], "doc_id int, text string")
    assert engine.index_documents(ints) > 0
    assert engine._state.schema is None

    engine.ask("re-reads the schema")
    assert engine._state.schema is not None
    shutil.rmtree(engine.index_path)
    assert engine.index_files(str(tmp_path / "files"), glob="*.txt") > 0
    assert engine._state.schema is None


def test_ask_after_append_runs_no_job(engine, spark):
    """The ask after an append reads the added file on the driver and
    runs no job. The append kept the index's column types, so it kept
    the cached schema, and ``retrieve`` returns the snapshot's rows as a
    local frame: no job either."""
    engine.ask("warm-up: caches the index schema")
    docs = spark.createDataFrame(
        [(42, "Kettles whistle when the water boils.")], "doc_id long, text string"
    )
    assert engine.index_documents(docs) > 0
    q = "when does the kettle whistle?"
    assert job_stats(spark, lambda: engine.ask(q))[0] == 0
    assert engine.ask(q)["retrieved"] == _topk(engine, q)
    assert job_stats(spark, lambda: engine.retrieve(q).collect())[0] == 0


def _topk(eng, q):
    """The Spark route's answer to ``eng.ask(q)["retrieved"]``."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.embedder import (
        embed_text,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
        topk_cosine,
    )

    return topk_cosine(
        eng.index(),
        embed_text(q, eng.dim),
        k=eng.k,
        id_cols=("doc_id", "chunk_id"),
        payload_cols=("text",),
    ).collect()


def test_snapshot_ask_equals_topk_cosine(spark, tmp_path):
    """A snapshot ask returns the rows and scores (``==``) of
    ``topk_cosine`` over the index: 500 seeded documents plus
    hand-written rows that copy one embedding (score ties broken by
    doc_id, then chunk_id) and a zero vector, over 60 questions with
    ``""`` among them, then every row's score for three of them. Scores
    are a left fold per dimension, so a BLAS ``emb @ q`` fails this."""
    import random

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    eng = RagEngine(spark, index_path=str(tmp_path / "index"), k=6)
    assert eng.index_documents(load_table(spark, "documents", SF_DIR)) > 0
    src = eng.index().orderBy("doc_id", "chunk_id").first()
    extra = [
        (9002, 1, "copy b", src.embedding, "h1"),
        (9002, 0, "copy a", src.embedding, "h2"),
        (9001, 3, "copy c", src.embedding, "h3"),
        (-1, 0, "zero", [0.0] * eng.dim, "h4"),
    ]
    spark.createDataFrame(extra, eng.index().schema).coalesce(1).write.mode(
        "append"
    ).parquet(eng.index_path)
    rng = random.Random(11)
    words = " ".join(r.text for r in eng.index().limit(40).collect()).split()
    questions = ["", src.text, "copy a", "zero"] + [
        " ".join(rng.sample(words, rng.randint(1, 6))) for _ in range(56)
    ]
    for q in questions:
        got = eng.ask(q)["retrieved"]
        assert got == _topk(eng, q), q
    assert eng._state.snapshot is not None and eng._state.snapshot.emb is not None
    top = [(r.doc_id, r.chunk_id) for r in eng.ask(src.text)["retrieved"]]
    assert [key for key in top if key[0] > 9000] == [(9001, 3), (9002, 0), (9002, 1)]
    eng.k = eng.index().count()
    for q in ("", src.text, "zero"):
        got = eng.ask(q)["retrieved"]
        assert len(got) == eng.k and got == _topk(eng, q), q


@pytest.mark.parametrize("form", ["local", "hadoop"])
def test_snapshot_sees_overwrite_and_recreation(engine, spark, tmp_path, form):
    """The snapshot is keyed on the index's file listing: an in-place
    overwrite by another writer, and an index deleted and built again,
    are both seen by the next ask, which re-reads every data file on
    the driver, with no job, whether the index is listed and read with
    ``os`` calls or through Hadoop FS."""
    import shutil

    engine.ask("warm-up: loads the snapshot")
    spy = _spy_reads(engine, form)
    text = "Glaciers carve valleys over thousands of years."
    staged = str(tmp_path / "staged")
    _append(spark, staged, 71, text)
    spark.read.parquet(staged).write.mode("overwrite").parquet(engine.index_path)
    jobs, out = _ask_jobs(engine, text)
    assert jobs == 0 and [r.doc_id for r in out] == [71]
    assert out == _topk(engine, text)
    assert spy.read == _data_files(engine)

    shutil.rmtree(engine.index_path)
    text = "Volcanic ash enriches the surrounding soil."
    _append(spark, engine.index_path, 72, text)
    spy.read.clear()
    jobs, out = _ask_jobs(engine, text)
    assert jobs == 0 and [r.doc_id for r in out] == [72]
    assert out == _topk(engine, text)
    assert spy.read == _data_files(engine)


@pytest.mark.parametrize("embedding", [None, [0.5, 0.5, 0.5]])
def test_bad_embedding_keeps_the_spark_route(engine, spark, embedding):
    """An index holding a null or wrong-length embedding is not served
    from the driver: asks stay the top-k scan, one job each."""
    engine.ask("warm-up: loads the snapshot")
    spark.createDataFrame(
        [(80, 0, "odd row", embedding, "h")], engine.index().schema
    ).write.mode("append").parquet(engine.index_path)
    q = "priority freight"
    assert engine.ask(q)["retrieved"] == engine.retrieve(q).collect()
    assert engine._state.snapshot.emb is None
    assert job_stats(spark, lambda: engine.ask("orchard?"))[0] == 1


def test_concurrent_first_asks_load_the_snapshot_once(engine, monkeypatch):
    """Eight threads making the first ask on one engine, released
    together, read the index into the snapshot once, and each gets the
    answer a serial ask gets."""
    import threading

    loads = _counting(monkeypatch, RagEngine, "_load_snapshot")
    questions = [f"freight orchard question {i}" for i in range(8)]
    barrier, got = threading.Barrier(8, timeout=120), {}

    def worker(q):
        barrier.wait()
        got[q] = engine.ask(q)["retrieved"]

    pool = [threading.Thread(target=worker, args=(q,)) for q in questions]
    for th in pool:
        th.start()
    for th in pool:
        th.join(timeout=300)
    assert len(loads) == 1
    assert got == {q: engine.ask(q)["retrieved"] for q in questions}
    assert len(loads) == 1


def test_each_ask_lists_the_index_once(engine, monkeypatch):
    """One file listing decides a question's route: one per plain ask
    and one per hybrid retrieval, whose three legs share the decision."""
    engine.ask("warm-up")
    listings = _counting(monkeypatch, RagEngine, "_index_listing")
    engine.ask("order priorities?")
    assert len(listings) == 1
    engine.retrieve("priority freight shipments", search_type="hybrid").collect()
    assert len(listings) == 2


class _ReadSpy:
    """Stands in for the index's ``PathFs.readable``, which names each
    index file the driver reads: the file in place, or a Hadoop-FS copy
    of it. Records each name and hands it to the real one. When ``fail``
    is set, it asks the real one for a file that is not there, as after
    an overwrite removed it, so the read (or the copy) raises."""

    def __init__(self, readable):
        self.readable, self.fail, self.read = readable, False, []

    def __call__(self, name, tmp):
        if self.fail:
            return self.readable(name + ".gone", tmp)
        self.read.append(name)
        return self.readable(name, tmp)


def _spy_reads(eng, form: str) -> _ReadSpy:
    """A ``_ReadSpy`` on ``eng``'s index reads, which from now on list
    and read the index with ``os`` calls (``form="local"``) or through
    Hadoop FS (``"hadoop"``)."""
    fs = eng._index_fs()
    assert fs.local is not None
    if form == "hadoop":
        fs.local = None
    fs.readable = spy = _ReadSpy(fs.readable)
    return spy


def _data_files(eng) -> list[str]:
    return [name for name, _, _ in eng._index_listing()]


def _append(spark, path: str, doc_id: int, text: str, id_type: str = "long"):
    """Append one document to the index at ``path`` through another
    engine, so the asking engine keeps its cached schema."""
    docs = spark.createDataFrame([(doc_id, text)], f"doc_id {id_type}, text string")
    assert RagEngine(spark, index_path=path).index_documents(docs) > 0


def _ask_jobs(eng, q) -> tuple[int, list]:
    got = []
    jobs, _ = job_stats(eng.spark, lambda: got.append(eng.ask(q)["retrieved"]))
    return jobs, got[0]


@pytest.mark.parametrize("form", ["local", "hadoop"])
def test_ask_after_any_append_reads_the_added_file_on_the_driver(engine, spark, form):
    """The ask after this engine's append, and after another engine's,
    runs no job, reads only the added file and returns the top-k scan's
    rows, whether the index is listed and read with ``os`` calls or
    through Hadoop FS."""
    engine.ask("warm-up: loads the snapshot")
    spy = _spy_reads(engine, form)
    docs = spark.createDataFrame(
        [(43, "Kites climb on steady coastal winds.")], "doc_id long, text string"
    )
    for append in (
        lambda: engine.index_documents(docs),
        lambda: _append(spark, engine.index_path, 44, "Lanterns glow along the pier."),
    ):
        before = _data_files(engine)
        append()
        added = sorted(set(_data_files(engine)) - set(before))
        spy.read.clear()
        for q in ("kites on coastal winds", "lanterns on the pier"):
            jobs, got = _ask_jobs(engine, q)
            assert jobs == 0 and got == _topk(engine, q), q
        assert spy.read == added


def test_success_marker_rewrite_reloads_nothing(engine, monkeypatch):
    """The snapshot's key holds data files only: rewriting ``_SUCCESS``
    leaves it unchanged, so the next ask reads no file."""
    import os
    import time

    engine.ask("warm-up: loads the snapshot")
    loads = _counting(monkeypatch, RagEngine, "_load_snapshot")
    marker = os.path.join(engine.index_path, "_SUCCESS")
    assert os.path.exists(marker)
    with open(marker, "w") as f:
        f.write("rewritten")
    later = time.time() + 60
    os.utime(marker, (later, later))
    q = "orchard yield"
    jobs, got = _ask_jobs(engine, q)
    assert jobs == 0 and got == _topk(engine, q)
    assert loads == []


def test_snapshot_serves_int_and_long_doc_id_files(engine, spark):
    """Files that wrote ``doc_id`` as int and as long are one index
    (``index()`` reads both as long); the snapshot serves it with int64
    ids and the top-k scan's rows."""
    import numpy as np

    engine.ask("warm-up: loads the snapshot")
    text = "Beavers build dams from branches and mud."
    _append(spark, engine.index_path, 45, text, id_type="int")
    jobs, got = _ask_jobs(engine, text)
    assert jobs == 0 and got == _topk(engine, text)
    assert got[0].doc_id == 45
    assert engine._state.snapshot.emb is not None
    assert engine._state.snapshot.doc_id.dtype == np.int64


@pytest.mark.parametrize("form", ["local", "hadoop"])
def test_failed_read_answers_on_the_spark_route(engine, spark, form):
    """A read (or, through Hadoop FS, a copy) that raises, as for a file
    an overwrite removed mid-read, leaves the question to the top-k scan
    and keeps no partial snapshot; once reads work again, the held
    snapshot is refreshed with the added file."""
    engine.ask("warm-up: loads the snapshot")
    held, before = engine._state.snapshot, _data_files(engine)
    _append(spark, engine.index_path, 46, "Owls hunt silently at dusk.")
    spy = _spy_reads(engine, form)
    spy.fail = True
    q = "owls hunting at dusk"
    jobs, got = _ask_jobs(engine, q)
    assert jobs == 1 and got == _topk(engine, q)
    assert engine._state.snapshot is held
    spy.fail = False
    jobs, got = _ask_jobs(engine, q)
    assert jobs == 0 and got == _topk(engine, q)
    assert spy.read == sorted(set(_data_files(engine)) - set(before))


def test_data_file_filter_agrees_with_spark(spark):
    """``_is_data_file`` keeps exactly the names Spark's file listing
    keeps (``HadoopFSUtils.shouldFilterOutPathName``)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
        _is_data_file,
    )

    utils = spark._jvm.org.apache.spark.util.HadoopFSUtils
    for name in ("_SUCCESS", ".x.crc", "part-0.parquet", "x._COPYING_", "_a=1"):
        assert _is_data_file(name) == (not utils.shouldFilterOutPathName(name)), name


def test_local_and_hadoop_listings_agree(spark, tmp_path, monkeypatch):
    """On a local path, the ``os.scandir`` and Hadoop-FS forms of the
    engine's ``_index_listing`` and of ``load_table``'s ``_schema_stamp``
    are ``==``: over a directory holding every kind of name Spark's
    writers leave (checksum files hidden, ``_SUCCESS`` and other
    non-data names kept by the stamp), with and without subdirectories,
    over a single file, and over a missing path (None in both). The
    local listing makes no py4j round trip."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )

    def forms(path):
        """(local, Hadoop) forms of (``_index_listing``, ``_schema_stamp``)."""
        eng = RagEngine(spark, index_path=path)
        assert eng._index_fs().local is not None
        local = (eng._index_listing(), loaders._schema_stamp(spark, path))
        with monkeypatch.context() as m:
            m.setattr(loaders, "local_path", lambda spark, path: None)
            eng = RagEngine(spark, index_path=path)
            hadoop = (eng._index_listing(), loaders._schema_stamp(spark, path))
        return local, hadoop

    root = tmp_path / "t"
    spark.range(10).coalesce(1).write.parquet(str(root))
    (root / "x._COPYING_").write_text("partial")
    (root / ".hidden").write_text("hidden")
    part = next(root.glob("part-*.parquet")).name
    assert (root / f".{part}.crc").exists() and (root / "._SUCCESS.crc").exists()
    local, hadoop = forms(str(root))
    assert local == hadoop and forms(f"file://{root}") == (local, hadoop)
    listing, (files, _) = local
    assert [name for name, _, _ in listing] == [part]
    assert [name for name, _, _ in files] == sorted([".hidden", "_SUCCESS", part, "x._COPYING_"])

    (root / "_temporary").mkdir()
    (root / "k=v").mkdir()
    local, hadoop = forms(str(root))
    assert local == hadoop
    assert [name for name, _, _ in local[0]] == ["k=v", part] and local[1] is None

    local, hadoop = forms(str(root / part))
    part_entry = tuple(e for e in files if e[0] == part)
    assert local == hadoop and local[0] == local[1][0] == part_entry
    assert forms(str(tmp_path / "missing")) == ((None, None), (None, None))

    eng = RagEngine(spark, index_path=str(root))
    eng._index_listing()
    assert py4j_calls(eng._index_listing) == 0
    for path, local in (
        ("file:/a/b/", "/a/b"),
        ("file:///a/b", "/a/b"),
        ("file://host/a/b", None),
        ("hdfs://nn:8020/a/b", None),
        ("s3a://bucket/a/b", None),
        ("a/b", None),  # relative: Hadoop resolves it in the JVM
    ):
        assert loaders.local_path(spark, path) == local, path


def test_warm_ask_makes_no_gateway_round_trip(engine, spark):
    """On a local index, a warm ask on the snapshot route and the ask
    after another engine's append send the JVM nothing: no py4j round
    trip and no Spark job."""

    def ask(q):
        calls, got = [], []
        jobs, _ = job_stats(
            spark, lambda: calls.append(py4j_calls(lambda: got.append(engine.ask(q))))
        )
        assert got[0]["retrieved"] == _topk(engine, q), q
        return jobs, calls[0]

    engine.ask("warm-up: loads the snapshot")
    assert ask("order priorities?") == (0, 0)
    _append(spark, engine.index_path, 47, "Herons wade through shallow marshes.")
    assert ask("herons in the marsh") == (0, 0)


def test_history_df_is_a_local_frame_in_turn_order(engine):
    """``history_df`` runs no Spark job to build, keeps turn order, and
    an empty session keeps the schema."""
    sid = "hist"
    for q in ("first question", "second question", "third question"):
        engine.ask(q, session_id=sid)
    jobs, _ = job_stats(engine.spark, lambda: engine.history_df(sid))
    assert jobs == 0
    rows = engine.history_df(sid).collect()
    assert [r.turn for r in rows] == list(range(6))
    assert [r.content for r in rows][::2] == [
        "first question",
        "second question",
        "third question",
    ]
    assert [r.role for r in rows] == ["user", "assistant"] * 3
    empty = engine.history_df("never-seen")
    assert empty.schema.simpleString() == (
        "struct<session_id:string,turn:int,role:string,content:string>"
    )
    assert empty.collect() == []


def _write_batch(spark, path: str, first: int, n: int = 16) -> str:
    """``n`` documents as one parquet file, whose plan carries its size."""
    text = "Lighthouses guide ships past the reef at night. " * 20
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(first, first + n), "text": [
            f"Note {first + i}. {text}" for i in range(n)
        ]})
    ).coalesce(1).write.parquet(path)
    return path


def _sql_plans(spark, fn) -> list[str]:
    """The physical plans of the SQL executions ``fn()`` ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = store.executionsList()
    return [runs.apply(i).physicalPlanDescription() for i in range(before, runs.size())]


def test_small_append_runs_on_the_driver_in_one_job(spark, tmp_path, monkeypatch):
    """On an engine whose snapshot serves, a 16-document parquet append
    is one Python task's work, which the driver does: one job of one
    task (the input read), no write command, Python UDF or Python-fed
    scan in any plan, and exactly one index file added."""
    import glob

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )

    spark_route = _counting(monkeypatch, engine_mod, "write_index_incremental")
    eng = RagEngine(spark, index_path=str(tmp_path / "index"))
    first = _write_batch(spark, str(tmp_path / "first"), 0)
    assert eng.index_documents(spark.read.parquet(first)) > 0
    eng.ask("warm-up: loads the snapshot")
    before = set(glob.glob(f"{eng.index_path}/*.parquet"))
    docs = spark.read.parquet(_write_batch(spark, str(tmp_path / "second"), 100))
    stats = []
    plans = _sql_plans(
        spark, lambda: stats.append(job_stats(spark, lambda: eng.index_documents(docs)))
    )
    assert stats == [(1, [1])]
    assert len(plans) == 1
    assert not any("EvalPython" in p or "ExistingRDD" in p for p in plans)
    assert not any(
        "InsertIntoHadoopFsRelationCommand" in p or "WriteFiles" in p for p in plans
    )
    assert len(set(glob.glob(f"{eng.index_path}/*.parquet")) - before) == 1
    assert spark_route == []


def _null_embedding(eng):
    eng.spark.createDataFrame(
        [(80, 0, "odd row", None, "h")], eng.index().schema
    ).write.mode("append").parquet(eng.index_path)


@pytest.mark.parametrize("case", ["list", "wide", "null_embedding", "ann"])
def test_append_keeps_the_spark_route(spark, tmp_path, monkeypatch, case):
    """These appends stay ``write_index_incremental``: an input without
    plan statistics (``createDataFrame(list)``), one wider than one
    Python task, and any index the snapshot does not serve (one null
    embedding; past a small ``ann_threshold_rows``)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
        retrieval,
    )

    eng = RagEngine(
        spark,
        index_path=str(tmp_path / "index"),
        ann_threshold_rows=10 if case == "ann" else 1_000_000,
    )
    assert eng.index_documents(spark.read.parquet(_write_batch(spark, str(tmp_path / "a"), 0))) > 0
    if case == "null_embedding":
        _null_embedding(eng)
    if case != "ann":  # an ask there would build the IVF layout
        eng.ask("warm-up: reads the schema")
    if case == "list":
        docs = spark.createDataFrame([(500, "Tides turn twice a day.")], "doc_id long, text string")
    else:
        docs = spark.read.parquet(_write_batch(spark, str(tmp_path / "b"), 100))
    if case == "wide":
        monkeypatch.setattr(retrieval, "PY_TASK_CPU_S", 1e-3)
        assert retrieval._python_width(docs) > 1
    spark_route = _counting(monkeypatch, engine_mod, "write_index_incremental")
    jobs, _ = job_stats(spark, lambda: eng.index_documents(docs))
    assert len(spark_route) == 1 and jobs > 2


def _index_rows(spark, path: str) -> list:
    """Every row of the index at ``path``, sorted, read as ``index()``
    reads it."""
    rows = RagEngine(spark, index_path=path).index().collect()
    return sorted(rows, key=repr)


@pytest.mark.parametrize("form", ["local", "hadoop"])
def test_driver_append_equals_the_spark_route(spark, tmp_path, monkeypatch, form):
    """The same batches appended to two copies of one index, one through
    ``index_documents`` (the driver route) and one through
    ``write_index_incremental`` (the Spark route), give the same counts
    and the same ``(doc_id, chunk_id, text, embedding, content_hash)``
    rows: at creation (with the same schema), for new documents, exact
    re-submits and new ids carrying indexed text, for a document twice
    in one batch, for an ``int`` ``doc_id``, and for a null text, an
    empty text and a null ``doc_id``. The driver route publishes its
    files with ``os`` calls (``form="local"``) or through Hadoop FS
    (``"hadoop"``)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
        write_index_incremental,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    import os

    corpus = load_table(spark, "documents", SF_DIR).orderBy("doc_id").limit(40).toPandas()
    texts = corpus.text.tolist()
    ids = corpus.doc_id.tolist()
    spark_path = str(tmp_path / "spark_route")
    spark_route = _counting(monkeypatch, engine_mod, "write_index_incremental")
    if form == "hadoop":
        monkeypatch.setattr(loaders, "local_path", lambda spark, path: None)
    eng = RagEngine(spark, index_path=str(tmp_path / "driver_route"), chunk_size=200)
    assert (eng._index_fs().local is None) == (form == "hadoop")

    def both(name: str, doc_ids, docs_text, id_dtype="Int64"):
        path = str(tmp_path / name)
        pd.DataFrame(
            {"doc_id": pd.array(doc_ids, dtype=id_dtype), "text": docs_text}
        ).to_parquet(path)
        docs = spark.read.parquet(path)
        n = eng.index_documents(docs)
        # as index() reads it: inferring from one file may pick an int one
        schema = RagEngine(spark, spark_path)._schema() if os.path.exists(spark_path) else None
        assert n == write_index_incremental(docs, spark_path, chunk_size=200, schema=schema), name
        assert _index_rows(spark, eng.index_path) == _index_rows(spark, spark_path), name
        eng.ask("refreshes the snapshot")
        return n

    assert both("create", ids[:30], texts[:30]) > 0
    fresh = RagEngine(spark, index_path=spark_path)
    assert eng._schema().simpleString() == fresh._schema().simpleString()
    assert both("mixed", [1000, 1001, *ids[:3], 1002, 1003], [
        "A brand new note about harbor cranes.", texts[31], *texts[:3], texts[5], texts[32],
    ]) > 0
    assert both("twice", [2000, 2000], ["Same note, sent twice."] * 2) == 2
    assert both("int_ids", [3000, ids[6]], ["Thirty-two bit ids.", texts[6]], "Int32") == 1
    assert both("nulls", [4000, 4001, None], [None, "", "A note without an id."]) == 1
    assert spark_route == []


@pytest.mark.parametrize("id_type", ["bigint", "int"])
def test_published_file_reads_as_the_spark_written_one(spark, tmp_path, id_type):
    """A file the driver append wrote with pyarrow and a file Spark
    writes of the same rows read back with ``==`` schemas and rows. The
    published file's footer carries Spark's schema under Spark's
    row-metadata key."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        local_frame,
    )

    src = _write_batch(spark, str(tmp_path / "docs"), 0)
    eng = RagEngine(spark, index_path=str(tmp_path / "index"))
    docs = spark.read.parquet(src).selectExpr(f"cast(doc_id as {id_type}) doc_id", "text")
    assert eng.index_documents(docs) > 0
    (name,) = _data_files(eng)
    published = os.path.join(eng.index_path, name)
    schema = StructType.fromDDL(
        f"doc_id {id_type}, chunk_id int, text string, embedding array<float>, "
        "content_hash string"
    )
    rows = [tuple(r.values()) for r in pq.read_table(published).to_pylist()]
    written = str(tmp_path / "spark_written")
    local_frame(spark, rows, schema).coalesce(1).write.parquet(written)
    by_spark = spark.read.parquet(written)
    assert spark.read.parquet(published).schema == by_spark.schema
    assert by_spark.schema["doc_id"].dataType.simpleString() == id_type
    assert sorted(spark.read.parquet(published).collect()) == sorted(by_spark.collect())
    key = b"org.apache.spark.sql.parquet.row.metadata"
    footer = pq.ParquetFile(published).metadata.metadata[key]
    assert StructType.fromJson(json.loads(footer)) == schema


@pytest.mark.parametrize("form", ["local", "hadoop"])
def test_no_reader_sees_a_partial_or_failed_append(spark, tmp_path, monkeypatch, form):
    """While the driver append writes its file, the index's listing is
    the one from before the append and an ask returns the pre-append
    top-k. A write that raises leaves the listing and the directory as
    they were: no data file added, and its hidden file removed."""
    import os

    import pyarrow.parquet as pq

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )

    if form == "hadoop":
        monkeypatch.setattr(loaders, "local_path", lambda spark, path: None)
    eng = RagEngine(spark, index_path=str(tmp_path / "index"))
    assert eng.index_documents(spark.read.parquet(_write_batch(spark, str(tmp_path / "a"), 0)))
    q = "lighthouses guide ships"
    listing, top = eng._index_listing(), eng.ask(q)["retrieved"]
    write, seen, paths = pq.write_table, [], []

    def observed(table, where, **kwargs):
        write(table, where, **kwargs)
        paths.append(where)
        seen.append((eng._index_listing(), eng.ask(q)["retrieved"]))

    monkeypatch.setattr(pq, "write_table", observed)
    docs = spark.read.parquet(_write_batch(spark, str(tmp_path / "b"), 100))
    assert eng.index_documents(docs) > 0
    assert seen == [(listing, top)]
    assert len(eng._index_listing()) == len(listing) + 1

    def failing(table, where, **kwargs):
        write(table, where, **kwargs)
        paths.append(where)
        raise OSError("no space left on device")

    monkeypatch.setattr(pq, "write_table", failing)
    listing, names = eng._index_listing(), sorted(os.listdir(eng.index_path))
    docs = spark.read.parquet(_write_batch(spark, str(tmp_path / "c"), 200))
    with pytest.raises(OSError, match="no space left"):
        eng.index_documents(docs)
    assert eng._index_listing() == listing
    assert sorted(os.listdir(eng.index_path)) == names
    assert not os.path.exists(paths[-1])


def test_concurrent_asks_keep_session_pairs_adjacent(engine):
    """Concurrent asks on one session must not interleave their
    user/assistant appends. The slow list widens the window between
    the two appends of one ask, and its first append waits (at most
    2 s) for a second writer to reach the list, so an unguarded log
    interleaves for certain while a locked one just pays the wait."""
    import threading
    import time

    claimed, second_writer = threading.Lock(), threading.Event()

    class SlowList(list):
        def append(self, item):
            if claimed.acquire(blocking=False):
                second_writer.wait(timeout=2)
            else:
                second_writer.set()
            time.sleep(0.001)
            super().append(item)

        def extend(self, items):
            time.sleep(0.001)
            super().extend(items)

    sid = "threads"
    engine._sessions[sid] = SlowList()

    def worker(t):
        for i in range(3):
            engine.ask(f"question {t}-{i} about freight", session_id=sid)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    log = engine.history(sid)
    assert len(log) == 48
    assert [m["role"] for m in log] == ["user", "assistant"] * 24


def test_append_by_engine_that_read_its_index_runs_one_job_fewer(engine, spark):
    """An engine that has read its index passes the cached schema to
    the append, which skips the index read's schema-inference job; a
    fresh engine on the same index still infers it. A list input has
    no plan statistics, so both appends take the Spark route."""
    engine.ask("warm-up: caches the index schema")
    fresh = RagEngine(spark, index_path=engine.index_path)

    def append(eng, doc_id):
        docs = spark.createDataFrame(
            [(doc_id, f"Heron {doc_id} waded through the shallow estuary.")],
            "doc_id long, text string",
        )
        return job_stats(spark, lambda: eng.index_documents(docs))[0]

    assert append(engine, 60) == append(fresh, 61) - 1


def test_topk_cosine_bit_identical_to_generic_cosine(engine, spark):
    """The session-cached score expression with the question bound as
    two literals returns the same rows and the same scores (``==``) as
    the generic ``cosine_sim`` against a cross-joined query column: 50
    seeded vectors plus the zero and a one-hot vector, k = every row,
    in the plain and the MMR-shaped (``embedding`` as payload) call."""
    import numpy as np

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.vector import (
        cosine_sim,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
        topk_cosine,
    )

    index = engine.index()
    emb = {(r.doc_id, r.chunk_id): r.embedding for r in index.collect()}
    n, dim = len(emb), engine.dim
    rng = np.random.default_rng(7)
    qs = [rng.standard_normal(dim) for _ in range(50)] + [np.zeros(dim), np.eye(dim)[3]]
    probes = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(qs)], "qid int, q array<double>"
    )
    generic: dict[int, list] = {}
    for r in index.crossJoin(probes).select(
        "qid", "doc_id", "chunk_id", cosine_sim("embedding", "q").alias("score")
    ).collect():
        generic.setdefault(r.qid, []).append((r.doc_id, r.chunk_id, r.score))
    ids = ("doc_id", "chunk_id")
    for i, q in enumerate(qs):
        want = sorted(generic[i])
        plain = topk_cosine(index, q, k=n, id_cols=ids).collect()
        assert sorted(tuple(r) for r in plain) == want
        mmr = topk_cosine(index, q, k=n, id_cols=ids, payload_cols=("text", "embedding"))
        assert mmr.columns == ["doc_id", "chunk_id", "text", "embedding", "score"]
        rows = mmr.collect()
        assert sorted((r.doc_id, r.chunk_id, r.score) for r in rows) == want
        assert all(r.embedding == emb[(r.doc_id, r.chunk_id)] for r in rows)


def test_retrieve_builds_score_expression_at_most_once(engine, monkeypatch):
    """Distinct questions bind new literals into one session-cached
    score expression instead of rebuilding it: ``dot`` is called at
    most once over five retrievals on the Spark route."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions import (
        vector,
    )

    monkeypatch.setattr(engine_mod, "SNAPSHOT_MAX_BYTES", 0)
    calls = []
    real = vector.dot

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(vector, "dot", counting)
    for q in ("cargo", "orchard yield", "autumn", "urgent freight", "season"):
        assert engine.retrieve(q, k=2).collect()
    assert len(calls) <= 1


def test_ask_plan_is_one_projection_over_the_scan(engine, monkeypatch):
    """The two bound literals collapse into the scoring projection: the
    ask's plan on the Spark route is one scan, one ``Project`` and the
    top-k, with no exchange and no Python."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import (
        engine as engine_mod,
    )

    monkeypatch.setattr(engine_mod, "SNAPSHOT_MAX_BYTES", 0)
    df = engine.retrieve("order priorities?")
    df.collect()
    assert count_nodes(df, "TakeOrderedAndProject") == 1
    assert [n.nodeName() for n in plan_nodes(df)].count("Project") == 1
    assert file_scans(df, engine.index_path) == 1
    assert count_nodes(df, "Exchange") == 0
    assert count_nodes(df, "EvalPython") == 0


def test_reused_python_worker_does_not_reread_pyspark_zip(spark):
    """A reused Python worker's per-task ``importlib.invalidate_caches()``
    re-reads no zip directory once the package is imported: 1-partition
    jobs report their worker's PID and the directory reads it has
    counted, and a PID seen again has counted none since. Each task's
    output is fully consumed, so its worker goes back to the pool."""
    from pyspark.sql import functions as F

    @F.pandas_udf("pid long, reads long")
    def reads(ids: pd.Series) -> pd.DataFrame:
        import importlib
        import os
        import zipimport

        import adaptive_recommendation_chatbot_with_rag_and_vector_database_spark  # noqa: F401

        if not hasattr(zipimport, "reads_seen"):
            # the wrapper re-reads each archive once in a process, at its
            # first call, to record the stamp; count from after that call
            importlib.invalidate_caches()
            zipimport.reads_seen = 0
            inner = zipimport._read_directory

            def counted(path):
                zipimport.reads_seen += 1
                return inner(path)

            zipimport._read_directory = counted
        return pd.DataFrame({"pid": [os.getpid()] * len(ids),
                             "reads": [zipimport.reads_seen] * len(ids)})

    df = spark.range(1, numPartitions=1).select(reads("id").alias("r")).select("r.*")
    seen: dict[int, list[int]] = {}
    for _ in range(24):
        [(pid, count)] = df.collect()
        seen.setdefault(pid, []).append(count)
        if len(seen[pid]) == 3:
            break
    again = {pid: counts for pid, counts in seen.items() if len(counts) > 1}
    assert again, seen
    for counts in again.values():
        assert counts == [counts[0]] * len(counts), seen
