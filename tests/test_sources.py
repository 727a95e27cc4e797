"""Binary document source (S2/S3) and incremental index sink (S4+F6)."""

from __future__ import annotations

import pytest

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.embedder import (
    EMBED_DIM,
    embed_text,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.retrieval import (
    PY_CPU_S_PER_BYTE,
    PY_TASK_CPU_S,
    _append_rows,
    _python_width,
    write_index_incremental,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
    load_binary_documents,
    path_doc_id,
    pdf_extractor,
    utf8_extractor,
)

from conftest import SF_DIR, count_nodes, file_scans, job_stats, plan_nodes


@pytest.fixture()
def corpus_dir(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("alpha document with some words")
    (d / "b.txt").write_text("beta document\n\nsecond paragraph")
    (d / "bad.bin").write_bytes(b"\xff\xfe\xfa broken \xff")
    return str(d)


def test_binary_scan_extracts_utf8(spark, corpus_dir):
    docs = load_binary_documents(spark, corpus_dir, glob="*.txt").orderBy("path")
    rows = docs.collect()
    assert [r.text for r in rows] == [
        "alpha document with some words",
        "beta document\n\nsecond paragraph",
    ]
    assert all(r.doc_id == path_doc_id(r.path) for r in rows)
    assert all(r.byte_len > 0 for r in rows)


def test_invalid_bytes_yield_empty_text_not_failure(spark, corpus_dir):
    # the reference's silent-null contract (/root/reference/AI.py:68-71)
    docs = load_binary_documents(spark, corpus_dir)  # includes bad.bin
    by_path = {r.path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert by_path["bad.bin"] == ""
    assert by_path["a.txt"].startswith("alpha")


def _make_pdf(content_stream: bytes, compress: bool = False) -> bytes:
    """Minimal one-page PDF around ``content_stream`` (pure Python)."""
    import zlib

    filt = b""
    data = content_stream
    if compress:
        data = zlib.compress(content_stream)
        filt = b"/Filter /FlateDecode "
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< " + filt + b"/Length " + str(len(data)).encode() + b" >>\n"
        b"stream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs)+1} /Root 1 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n"
    ).encode()
    return bytes(out)


def test_pdf_fallback_extracts_generated_pdf():
    """S2 without PyMuPDF (VERDICT r1 #8): the pure-Python parser reads
    the text back out of PDFs we generate — plain, Flate-compressed,
    TJ-array, and escaped-string forms."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
        pdf_fallback_extract,
    )

    simple = _make_pdf(b"BT /F1 12 Tf 72 720 Td (Hello world) Tj ET")
    assert pdf_fallback_extract(simple) == "Hello world"
    assert pdf_extractor(simple) == "Hello world"  # routes to fallback here

    zipped = _make_pdf(b"BT (compressed text) Tj ET", compress=True)
    assert pdf_fallback_extract(zipped) == "compressed text"

    tj = _make_pdf(b"BT [(kern) -120 (ed )] TJ [(array)] TJ ET")
    assert pdf_fallback_extract(tj) == "kerned array"

    esc = _make_pdf(rb"BT (par\(en\) \\ back \101 octal\nnl) Tj ET")
    assert pdf_fallback_extract(esc) == "par(en) \\ back A octal\nnl"

    quote = _make_pdf(b"BT (line one) Tj (line two) ' ET")
    assert pdf_fallback_extract(quote) == "line one\nline two"


def test_pdf_fallback_silent_empty_on_malformed():
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.binary_docs import (
        pdf_fallback_extract,
    )

    assert pdf_fallback_extract(b"not a pdf at all") == ""
    assert pdf_fallback_extract(b"") == ""
    # header but garbage body: parses to no text, never raises
    assert pdf_fallback_extract(b"%PDF-1.4\ngarbage stream \xff\xfe endstream") == ""


def test_pdf_documents_flow_through_spark_source(spark, tmp_path):
    """End-to-end S2: a directory of generated PDFs → binaryFile scan →
    mapInPandas extraction → documents frame."""
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(_make_pdf(b"BT (alpha from pdf) Tj ET"))
    (d / "b.pdf").write_bytes(
        _make_pdf(b"BT (beta from pdf) Tj ET", compress=True)
    )
    docs = load_binary_documents(spark, str(d), glob="*.pdf", extractor=pdf_extractor)
    got = {r.path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert got == {"a.pdf": "alpha from pdf", "b.pdf": "beta from pdf"}


def test_doc_id_deterministic_and_positive():
    assert path_doc_id("/x/y.txt") == path_doc_id("/x/y.txt")
    assert path_doc_id("/x/y.txt") != path_doc_id("/x/z.txt")
    assert path_doc_id("/x/y.txt") > 0


def test_incremental_index_skips_existing_content(spark, tmp_path):
    idx = str(tmp_path / "chunk_index")
    def prose(tag: str) -> str:
        return " ".join(f"{tag} sentence number {i} of the corpus." for i in range(30))

    docs1 = spark.createDataFrame(
        [(1, prose("first")), (2, prose("second"))],
        "doc_id long, text string",
    )
    n1 = write_index_incremental(docs1, idx, chunk_size=200)
    assert n1 > 0

    # identical corpus → nothing new embedded (the LRU-cache semantics)
    assert write_index_incremental(docs1, idx, chunk_size=200) == 0

    # one new doc → only its chunks are appended
    docs2 = docs1.union(
        spark.createDataFrame([(3, prose("third"))], "doc_id long, text string")
    )
    n3 = write_index_incremental(docs2, idx, chunk_size=200)
    assert 0 < n3 < n1 + n3

    total = spark.read.parquet(idx)
    assert total.count() == n1 + n3
    assert total.select("content_hash").distinct().count() == n1 + n3
    assert set(total.schema.fieldNames()) == {
        "doc_id",
        "chunk_id",
        "text",
        "embedding",
        "content_hash",
    }


def test_incremental_index_attributes_identical_content_to_new_doc(spark, tmp_path):
    """A NEW document whose text is byte-identical to an already-indexed
    document must still get its own index rows (else it is unreachable
    by doc-scoped retrieval); the embedding is reused per content hash —
    the reference memoizes the embedding but stores every chunk."""
    idx = str(tmp_path / "chunk_index")
    text = " ".join(f"shared sentence number {i} of the corpus." for i in range(30))
    n1 = write_index_incremental(
        spark.createDataFrame([(1, text)], "doc_id long, text string"),
        idx,
        chunk_size=200,
    )
    assert n1 > 0

    both = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    n2 = write_index_incremental(both, idx, chunk_size=200)
    assert n2 == n1  # doc 2 gets the same chunk rows, hash-for-hash

    total = spark.read.parquet(idx)
    assert {r.doc_id for r in total.select("doc_id").distinct().collect()} == {1, 2}
    # reused embeddings: one embedding per content hash across both docs
    assert (
        total.select("content_hash", "embedding").distinct().count()
        == total.select("content_hash").distinct().count()
    )
    # replay of the full corpus appends nothing
    assert write_index_incremental(both, idx, chunk_size=200) == 0


def test_incremental_index_reuses_stored_embedding(spark, tmp_path):
    """A chunk whose text is already indexed takes the STORED vector,
    not a fresh embedding: the hand-written index row carries a
    sentinel that ``embed_text`` never produces."""
    import hashlib

    idx = str(tmp_path / "chunk_index")
    known, fresh = "a sentence the index already holds", "a sentence nobody indexed"
    sentinel = [0.5] * EMBED_DIM
    spark.createDataFrame(
        [(1, 0, known, sentinel, hashlib.sha256(known.encode()).hexdigest())],
        "doc_id long, chunk_id int, text string, embedding array<float>, "
        "content_hash string",
    ).write.parquet(idx)
    docs = spark.createDataFrame([(2, known), (3, fresh)], "doc_id long, text string")
    assert write_index_incremental(docs, idx, chunk_size=200) == 2

    got = {
        r.doc_id: r.embedding
        for r in spark.read.parquet(idx).filter("doc_id > 1").collect()
    }
    assert got[2] == sentinel
    assert got[2] != pytest.approx(list(embed_text(known)))
    assert got[3] == pytest.approx(list(embed_text(fresh)))


def test_incremental_append_plan_chunks_and_embeds_once(spark, tmp_path):
    """One branch: the chunker and the embed-or-reuse stage are the only
    Python stages, and the index is scanned twice (keys, embeddings)."""
    idx = str(tmp_path / "chunk_index")
    docs = spark.createDataFrame(
        [(i, f"document {i} about cargo and orchards") for i in range(4)],
        "doc_id long, text string",
    )
    write_index_incremental(docs.filter("doc_id < 2"), idx, chunk_size=200)
    plan = _append_rows(docs, idx, chunk_size=200)
    assert count_nodes(plan, "EvalPython") == 2
    assert file_scans(plan, idx) == 2


def _chat_batch(spark, path: str, n: int = 16) -> None:
    """``n`` documents of 300 words from a 32-word vocabulary, written
    as one parquet file (about 15 KB for 16): the shape of an engine
    append."""
    import random

    rng = random.Random(7)
    words = (
        "cargo orchard vessel harvest freight autumn priority yield harbor ledger "
        "invoice pallet barrel crate winter spring summer market broker tariff "
        "ship route port dock crane truck rail depot grain fruit apple pear"
    ).split()
    rows = [(i, " ".join(rng.choice(words) for _ in range(300))) for i in range(n)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)


def test_python_width_follows_plan_size(spark, tmp_path):
    """One Python task for a small append, ``defaultParallelism`` for an
    input past the break-even and for one whose size statistics are
    unusable (a join's estimate is the product of its sides)."""
    import glob
    import os
    import random

    cap = spark.sparkContext.defaultParallelism
    small = str(tmp_path / "small")
    _chat_batch(spark, small)
    assert _python_width(spark.read.parquet(small)) == 1

    joined = spark.read.parquet(small).crossJoin(spark.range(1000))
    assert _python_width(joined) == cap

    big = str(tmp_path / "big")
    rng = random.Random(11)
    rows = [(i, rng.randbytes(2048).hex()) for i in range(256)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(big)
    size = sum(os.path.getsize(f) for f in glob.glob(f"{big}/*.parquet"))
    assert size * PY_CPU_S_PER_BYTE / PY_TASK_CPU_S > cap  # past the break-even
    assert _python_width(spark.read.parquet(big)) == cap


def test_small_append_plan_does_not_widen(spark, tmp_path):
    """A 16-document append scan keeps its one partition: no
    round-robin exchange feeds the chunker, and the chunker and the
    embed-or-reuse stage are still the only Python stages."""
    idx, batch = str(tmp_path / "chunk_index"), str(tmp_path / "batch")
    _chat_batch(spark, batch)
    docs = spark.read.parquet(batch)
    write_index_incremental(docs.filter("doc_id < 8"), idx, chunk_size=200)
    plan = _append_rows(docs, idx, chunk_size=200)
    round_robin = [
        n
        for n in plan_nodes(plan)
        if n.nodeName() == "Exchange"
        and n.outputPartitioning().getClass().getSimpleName() == "RoundRobinPartitioning"
    ]
    assert round_robin == []
    assert count_nodes(plan, "EvalPython") == 2


def test_incremental_index_propagates_corrupt_index_read(spark, tmp_path):
    """An EXISTING but unreadable index must raise — treating a read
    failure as 'no index yet' would re-embed and append the whole batch,
    silently duplicating index rows (ADVICE r1)."""
    idx = tmp_path / "chunk_index"
    idx.mkdir()
    (idx / "part-00000.parquet").write_bytes(b"not a parquet file")
    docs = spark.createDataFrame([(1, "some text " * 20)], "doc_id long, text string")
    with pytest.raises(Exception):
        write_index_incremental(docs, str(idx), chunk_size=100)


def test_streaming_index_build_equals_batch(spark, tmp_path):
    """Streaming index maintenance: documents arriving as stream files
    produce the same index as one batch build, and replaying the corpus
    (duplicate arrivals) appends nothing — content-hash idempotency."""
    from pyspark.sql import functions as F

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.streaming.index_stream import (
        index_stream,
    )

    def prose(tag):
        return " ".join(f"{tag} sentence number {i} here." for i in range(25))

    docs = spark.createDataFrame(
        [(i, prose(f"doc{i}")) for i in range(6)], "doc_id long, text string"
    )
    src = tmp_path / "docs_src"
    docs.filter("doc_id < 3").coalesce(1).write.mode("append").parquet(str(src))

    idx = str(tmp_path / "stream_index")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    index_stream(stream, idx, ckpt, chunk_size=120).awaitTermination()
    n_first = spark.read.parquet(idx).count()
    assert n_first > 0

    # second wave of documents + a duplicate of the first wave
    docs.filter("doc_id >= 3").coalesce(1).write.mode("append").parquet(str(src))
    docs.filter("doc_id < 3").coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    index_stream(stream, idx, ckpt, chunk_size=120).awaitTermination()

    got = spark.read.parquet(idx)
    batch = str(tmp_path / "batch_index")
    write_index_incremental(docs, batch, chunk_size=120)
    want = spark.read.parquet(batch)
    # same indexed CONTENT as one batch build over the full corpus...
    hashes = lambda df: {r.content_hash for r in df.select("content_hash").collect()}  # noqa: E731
    assert hashes(got) == hashes(want)
    # ...no duplicate-arrival inflation (the wave-1 replay files added
    # nothing: stream rows never exceed the one-shot batch build)...
    n_stream = got.count()
    assert n_stream <= want.count()
    # ...and a third run with no new files appends nothing at all
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    index_stream(stream, idx, ckpt, chunk_size=120).awaitTermination()
    assert spark.read.parquet(idx).count() == n_stream


def test_load_table_normalizes_both_events_ts_layouts(spark, tmp_path):
    """load_table must produce identical TimestampType rows whether the
    fixture generation wrote events.ts as TIMESTAMP(NANOS) (round-1
    layout, reads as long under nanosAsLong) or TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (round-2 layout, reads as TIMESTAMP_NTZ)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    us = np.array([1704067200_123_456, 1704067260_654_321], dtype="int64")
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([1, 2], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    }
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    for d, (unit, vals) in {
        nanos_dir: ("ns", us * 1000),
        micros_dir: ("us", us),
    }.items():
        d.mkdir()
        t = pa.table({**cols, "ts": pa.array(vals, pa.timestamp(unit))})
        pq.write_table(t, str(d / "events.parquet"), version="2.6", coerce_timestamps=None)

    got = {}
    for d in (nanos_dir, micros_dir):
        df = load_table(spark, "events", str(d))
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got[str(d)] = sorted((r.event_id, r.ts) for r in df.select("event_id", "ts").collect())
    assert got[str(nanos_dir)] == got[str(micros_dir)]


def _fields(schema) -> list:
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema]


def test_load_table_serves_the_inferred_schema_cold_and_warm(spark):
    """A cached schema is the schema Spark infers: for every fixture
    table the schema the reader is given equals a plain read's, and the
    loaded frame is the same cold (inferred) and warm (served)."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )

    for name in loaders.TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        loaders._TABLE_SCHEMAS.pop(path, None)
        cold = _fields(loaders.load_table(spark, name, SF_DIR).schema)
        assert path in loaders._TABLE_SCHEMAS, name
        warm = _fields(loaders.load_table(spark, name, SF_DIR).schema)
        plain = _fields(spark.read.parquet(path).schema)
        assert _fields(loaders._TABLE_SCHEMAS[path][1]) == plain, name
        assert warm == cold, name
        if name != "events":  # events.ts is normalized after the read
            assert cold == plain, name


def test_warm_load_table_runs_no_job(spark):
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        _TABLE_SCHEMAS,
        load_table,
    )

    for name in ("lineitem", "events"):
        _TABLE_SCHEMAS.pop(f"{SF_DIR}/{name}.parquet", None)
        assert job_stats(spark, lambda: load_table(spark, name, SF_DIR))[0] == 1
        assert job_stats(spark, lambda: load_table(spark, name, SF_DIR))[0] == 0


def test_load_table_sees_a_table_rewritten_at_the_same_path(spark, tmp_path):
    """A rewrite changes the path's file listing, so the next load
    infers again: an added column and a changed type both show."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    path = str(tmp_path / "region.parquet")
    keys = pa.array([0, 1, 2], pa.int32())
    names = pa.array(["a", "b", "c"])
    versions = [
        ({"r_regionkey": keys}, "r_regionkey:int"),
        ({"r_regionkey": keys, "r_name": names}, "r_regionkey:int,r_name:string"),
        (
            {"r_regionkey": keys.cast(pa.int64()), "r_name": names},
            "r_regionkey:bigint,r_name:string",
        ),
    ]
    for cols, want in versions:
        pq.write_table(pa.table(cols), path)
        for _ in range(2):  # the load that infers, then the one served
            df = load_table(spark, "region", str(tmp_path))
            assert df.schema.simpleString() == f"struct<{want}>"
            assert df.count() == 3


def test_load_table_does_not_cache_a_partitioned_table(spark, tmp_path):
    """A file rewritten in place under a partition directory leaves the
    path's own listing unchanged, so a path holding directories is read
    plainly every time and never cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        _TABLE_SCHEMAS,
        load_table,
    )

    part = tmp_path / "region.parquet" / "r_regionkey=1"
    part.mkdir(parents=True)
    names = pa.array(["a", "b"])
    for cols, want in (
        ({"r_name": names}, "r_name:string,r_regionkey:int"),
        (
            {"r_name": names, "r_comment": names},
            "r_name:string,r_comment:string,r_regionkey:int",
        ),
    ):
        pq.write_table(pa.table(cols), str(part / "part-0.parquet"))
        for _ in range(2):
            df = load_table(spark, "region", str(tmp_path))
            assert df.schema.simpleString() == f"struct<{want}>"
    assert f"{tmp_path}/region.parquet" not in _TABLE_SCHEMAS


def test_binary_as_string_changes_the_served_type(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    pq.write_table(
        pa.table({"r_name": pa.array([b"x", b"y"], pa.binary())}),
        str(tmp_path / "region.parquet"),
    )
    conf = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(conf)
    try:
        for flag, want in (("false", "binary"), ("true", "string"), ("false", "binary")):
            spark.conf.set(conf, flag)
            for _ in range(2):
                df = load_table(spark, "region", str(tmp_path))
                assert df.schema["r_name"].dataType.simpleString() == want
        spark.conf.set(conf, "true")
        rows = load_table(spark, "region", str(tmp_path)).collect()
        assert sorted(r.r_name for r in rows) == ["x", "y"]
    finally:
        spark.conf.set(conf, prior)


def test_missing_table_raises_path_not_found_and_caches_nothing(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        _TABLE_SCHEMAS,
        load_table,
    )

    missing = str(tmp_path / "absent")
    for _ in range(2):
        with pytest.raises(AnalysisException) as err:
            load_table(spark, "region", missing)
        assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert f"{missing}/region.parquet" not in _TABLE_SCHEMAS


def test_substrate_caches_evict_on_session_stop(spark):
    # VERDICT r10 #4: get_spark wraps spark.stop so every session
    # substrate cache is dropped at teardown. Exercised through a fake
    # session so the suite's shared SparkSession survives the test.
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
        _hook_substrate_eviction,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )

    # the real factory session carries the hook
    assert getattr(spark, "_substrate_evict_hooked", False)

    class FakeSession:
        stopped = False

        def stop(self):
            self.stopped = True

    fake = FakeSession()
    _hook_substrate_eviction(fake)
    sentinel = ("test-app", "test-sf")
    loaders.daily_orders.cache[sentinel] = object()
    loaders.doc_tokens.cache[sentinel] = object()
    try:
        fake.stop()
        assert fake.stopped
        assert sentinel not in loaders.daily_orders.cache
        assert sentinel not in loaders.doc_tokens.cache
        # idempotent: re-hooking must not double-wrap
        _hook_substrate_eviction(fake)
        assert getattr(fake, "_substrate_evict_hooked", False)
    finally:
        loaders.daily_orders.cache.pop(sentinel, None)
        loaders.doc_tokens.cache.pop(sentinel, None)


def test_clearing_drops_every_substrate_entry(spark):
    """clear_substrate_caches — and stop() on a hooked session — leaves
    no entry behind: the warmed substrates, the dedup clustering (keyed
    on the parquet's file stats) and a keyed IVF codebook (keyed
    without a session) all live in the one registry."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.similarity import (
        train_centroids_sample,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_analytics import (
        _components_cached,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
        _hook_substrate_eviction,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import (
        loaders,
    )

    sf = loaders.DEFAULT_SF_DIR
    emb = loaders.load_table(spark, "embeddings", sf)
    timings = loaders.warm_substrates(spark, sf)
    assert set(timings) == {
        "daily_orders", "part_revenue", "cust_revenue", "doc_tokens",
        "price_classes", "score_classes", "chunk_index", "ann_exact_panel",
        "ann_lsh_result", "ann_ivf12_result", "ann_auto_result", "als_recs",
        "doc_sketch", "doc_bigrams", "copurchase_edges", "bipartite_edges",
        "order_value_classes", "order_value_pivot", "cn_edges", "rm_hits",
    }
    _components_cached(spark, sf)
    train_centroids_sample(emb, 4, cache_key="clear-test")
    assert _components_cached.cache and train_centroids_sample.cache
    assert loaders.clear_substrate_caches() > 0
    assert not _components_cached.cache and not train_centroids_sample.cache
    assert loaders.clear_substrate_caches() == 0  # nothing was left

    class FakeSession:
        def stop(self):
            pass

    loaders.daily_orders(spark, sf)
    _components_cached(spark, sf)
    train_centroids_sample(emb, 4, cache_key="clear-test")
    fake = FakeSession()
    _hook_substrate_eviction(fake)
    fake.stop()
    assert loaders.clear_substrate_caches() == 0


def test_cold_substrate_key_builds_once_across_threads(spark, monkeypatch):
    """Threads cold-calling one substrate key wait on its per-key lock:
    exactly one KMeans fit runs and every caller gets its codebook."""
    import sys
    import threading

    from pyspark.ml.clustering import KMeans

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.similarity import (
        train_centroids_sample,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        DEFAULT_SF_DIR,
        load_table,
    )

    fits = []
    real_fit = KMeans.fit

    def counting_fit(self, *args, **kwargs):
        fits.append(1)
        return real_fit(self, *args, **kwargs)

    monkeypatch.setattr(KMeans, "fit", counting_fit)
    emb = load_table(spark, "embeddings", DEFAULT_SF_DIR)
    n = 8
    barrier = threading.Barrier(n)
    out = [None] * n

    def worker(i):
        barrier.wait(timeout=60)
        out[i] = train_centroids_sample(emb, 4, cache_key="race-test")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
        train_centroids_sample.cache.clear()
    assert not any(t.is_alive() for t in threads)
    assert len(fits) == 1
    assert all(o is out[0] for o in out)


def test_dedup_clustering_rebuilds_when_the_corpus_file_changes(spark, tmp_path):
    """The clustering substrate keys on the parquet's (mtime, size), so
    a regenerated corpus never serves a stale clustering."""
    import os
    import shutil

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_analytics import (
        _components_cached,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        DEFAULT_SF_DIR,
    )

    path = tmp_path / "documents.parquet"
    shutil.copy(os.path.join(DEFAULT_SF_DIR, "documents.parquet"), path)
    a = _components_cached(spark, str(tmp_path))
    assert _components_cached(spark, str(tmp_path)) is a
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _components_cached(spark, str(tmp_path)) is not a


def test_release_local_checkpoint_frees_blocks_and_keeps_consumers(spark):
    """ADVICE r11 #3: a lazy localCheckpoint's RDD blocks outlive the
    build that used it (plain unpersist() is a no-op for checkpoint
    blocks); release_local_checkpoint drops them via the LogicalRDD,
    and an EAGER downstream checkpoint stays readable afterwards."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        release_local_checkpoint,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    e = spark.range(0, 100).selectExpr("id", "id % 7 AS k").localCheckpoint(
        eager=False
    )
    kept = e.groupBy("k").count().localCheckpoint()  # materializes e
    assert jsc.getPersistentRDDs().size() >= before + 2
    assert release_local_checkpoint(e)
    assert jsc.getPersistentRDDs().size() == before + 1
    assert kept.count() == 7  # eager consumer unaffected
    # non-LogicalRDD frames are a safe no-op
    assert not release_local_checkpoint(spark.range(3))
