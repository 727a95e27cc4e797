"""The reference's complete user surface as one engine class.

A user of the reference does four things (SURVEY §3): stage documents
(/root/reference/AI.py:191-201), build the vector index (AI.py:48-96),
ask questions against it (AI.py:163-185), and manage per-session chat
history (AI.py:155-161,232-235). ``RagEngine`` exposes exactly those
verbs on Spark:

- ``index_documents`` / ``index_files`` — chunk → embed → parquet
  index, content-hash incremental (the reference's LRU memoization at
  AI.py:89-96, storage-backed — re-indexing unchanged content embeds
  nothing). An input whose plan statistics predict one Python task is
  appended on the driver: it reads the input (one job), skips the keys
  and reuses the vectors of the driver-held snapshot below, and writes
  one file with pyarrow (``PathFs.publish``): no write job and no
  Python worker. Larger inputs, inputs without plan statistics, and
  indexes the snapshot does not serve take ``write_index_incremental``.
- ``retrieve`` / ``ask`` — embed question → top-k cosine
  (TakeOrderedAndProject) → order-preserving context stuffing →
  pluggable answerer → refusal/first-line post-processing
  (AI.py:176-185). Each call lists the index's data files once
  (``os.scandir`` on a local index, one Hadoop-FS call on any other),
  and ``_route`` decides from that listing:
  ``snapshot`` below the ANN threshold and up to ``SNAPSHOT_MAX_BYTES``
  of index, where ``ask``, ``recommend``, MMR and ``retrieve`` run NO
  Spark job, scoring a driver-held snapshot of the index bit-identical
  to the top-k scan (the driver reads the files the snapshot does not
  hold itself: after an append by any writer only the added ones);
  ``scan``, the top-k scan, ONE job; ``ivf`` above the threshold, the
  same scan over the IVF layout's probed cells. What the engine knows
  of its index (schema, row count, snapshot, IVF codebook, postings
  flag) is one ``_IndexState`` keyed on that listing, so any writer's
  change is seen by the next call; only the schema carries across
  listings, so no retrieval re-runs parquet schema inference. Result
  frames the driver computed are Arrow-backed local frames
  (``sources.loaders.local_frame``), which run no job to build or
  collect. The query *rewrite hook* (AI.py:137-139) is pluggable and
  defaults to pass-through, also the reference's effective behavior
  (its history is never written — SURVEY §3.2).
- ``history`` / ``clear_session`` — append-only per-session message
  log with get-or-create and clear semantics (AI.py:155-161,29-30).
  The log lives driver-side like the reference's in-process ``store``
  dict, behind one lock so concurrent asks on a session keep their
  user/assistant pairs adjacent; the scale path for massive event logs
  is the streaming surface (streaming/session_state.py), not this
  convenience store.

The LLM call itself stays outside the deterministic engine (SURVEY
§3.2 non-goal): ``answerer`` is any ``(question, context) -> str``
callable; the default answers extractively from the best chunk so the
whole pipeline is deterministic and testable.
"""

from __future__ import annotations

import hashlib
import tempfile
import threading
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import numpy as np
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .functions.chunker import DEFAULT_CHUNK_SIZE, split_text_recursive
from .functions.embedder import EMBED_DIM, embed_text, embed_texts
from .functions.vector import cosine_scores, folded_norms
from .operators.retrieval import (
    DEFAULT_K,
    REFUSAL_PREFIX,
    _python_tasks,
    postprocess_answer,
    # unused here; perfbench's traced run wraps this module attribute
    postprocess_answers,  # noqa: F401
    topk_cosine,
    write_index_incremental,
)
from .sources.binary_docs import load_binary_documents, utf8_extractor
from .sources.loaders import PathFs, arrow_table, local_frame


def passthrough_rewrite(question: str, history: list[dict]) -> str:
    """Default query-rewrite hook: identity. The reference wires a
    history-aware rewriter (AI.py:137-139) but never populates the
    history it reads, so pass-through is its effective behavior."""
    return question


_ANAPHORA = frozenset(
    "it they them that this these those he she its their what about more".split()
)
_STOPWORDS = frozenset(
    (
        "a an the and or but if then else of in on at to for with by from as is are "
        "was were be been being do does did have has had will would can could should "
        "i you we they he she it my your our what which who when where why how not no"
    ).split()
)


def history_aware_rewrite(question: str, history: list[dict]) -> str:
    """Deterministic stand-in for the reference's history-aware
    retriever prompt (AI.py:137-139, LangChain
    ``create_history_aware_retriever``: question + chat history →
    standalone question). A follow-up question that cannot stand alone
    — short, or leaning on anaphora ("what about X?", "why is that?")
    — is contextualized by appending the salient content words of the
    most recent turns (stopword-filtered, frequency-then-recency
    ranked), so retrieval sees the topic the pronoun points at.
    Standalone questions pass through untouched.

    No model call: the rewrite must be reproducible for tests and
    oracle runs, exactly like the engine's extractive default answerer."""
    if not history:
        return question
    # stripped forms serve BOTH the anaphora check and the exclusion
    # test below — an unstripped 'shipping?' must still exclude
    # 'shipping' from the appended context
    q_tokens = [t.strip("?.,!") for t in question.lower().split()]
    q_tokens = [t for t in q_tokens if t]
    needs_context = len(q_tokens) < 4 or any(t in _ANAPHORA for t in q_tokens)
    if not needs_context:
        return question
    freq: dict[str, int] = {}
    order: dict[str, int] = {}
    for i, msg in enumerate(history[-4:]):
        for raw in msg.get("content", "").lower().split():
            w = raw.strip("?.,!:;\"'()")
            if len(w) < 3 or w in _STOPWORDS or w in q_tokens:
                continue
            freq[w] = freq.get(w, 0) + 1
            order[w] = i  # later turn wins the recency tie-break
    salient = sorted(freq, key=lambda w: (-freq[w], -order[w], w))[:4]
    if not salient:
        return question
    return f"{question} (context: {' '.join(salient)})"


def extractive_answerer(question: str, context: str) -> str:
    """Deterministic default answerer: the first context line, or a
    refusal-shaped answer when there is no context at all (which the
    post-processor then canonicalizes, AI.py:176-179)."""
    if not context:
        return REFUSAL_PREFIX + " to answer this question."
    return context.split("\n")[0]


def _is_data_file(name: str) -> bool:
    """Whether Spark's file index reads the index child ``name``: not
    ``HadoopFSUtils.shouldFilterOutPathName`` (a leading ``_`` outside a
    ``k=v`` partition name, a leading ``.``, a ``._COPYING_`` suffix), nor
    the ``_metadata`` summaries that rule keeps and the index then drops
    as non-data. So ``_SUCCESS`` and checksum files are not data."""
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


_SNAPSHOT_COLS = ("doc_id", "chunk_id", "text", "embedding", "content_hash")


def _key_kind(dtype: DataType) -> str | None:
    """The kind of a ``doc_id`` type whose Python values match as the
    Spark route's join keys do: any integral type (compared by value)
    or the binary-collated string. None for any other type."""
    if isinstance(dtype, IntegralType):
        return "integral"
    return "string" if dtype.simpleString() == "string" else None


def _snapshot_arrays(table, schema: StructType, dim: int) -> tuple | None:
    """One index file's ``_SNAPSHOT_COLS`` as numpy (doc ids, chunk ids,
    texts as a list, rows × dim embeddings as stored, content hashes as
    a list), or None when ``index()`` would not read a column as
    ``schema`` types it (a signed integral column reads as a long one),
    or a value is null, wrong-length or non-finite."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_type

    cols = {}
    for name in _SNAPSHOT_COLS:
        col, want = table.column(name), schema[name].dataType
        if isinstance(want, LongType) and pa.types.is_signed_integer(col.type):
            col = col.cast(pa.int64())
        elif from_arrow_type(col.type).simpleString() != want.simpleString():
            return None
        if col.null_count:
            return None
        cols[name] = col.combine_chunks()
    emb = cols["embedding"]
    if (pc.list_value_length(emb).to_numpy() != dim).any():
        return None
    mat = emb.flatten().to_numpy(zero_copy_only=False).reshape(len(emb), dim)
    if not np.isfinite(mat).all():  # a null or non-finite component
        return None
    return (
        cols["doc_id"].to_numpy(zero_copy_only=False),
        cols["chunk_id"].to_numpy(zero_copy_only=False),
        cols["text"].to_pylist(),
        mat,
        cols["content_hash"].to_pylist(),
    )


def _stack_f64(blocks) -> np.ndarray:
    """``blocks`` (each rows × dim) stacked into one column-major
    float64 array, with no intermediate copy."""
    out = np.empty((sum(len(b) for b in blocks), blocks[0].shape[1]), order="F")
    return np.concatenate(blocks, out=out)


def _codebook_array(cb_rows):
    """Persisted codebook rows (``cell``, ``centroid``) → the
    (cells × dim) float64 array, row ``i`` being cell ``i``."""
    return np.array(
        [r.centroid for r in sorted(cb_rows, key=lambda r: r.cell)],
        dtype=np.float64,
    )


SNAPSHOT_MAX_BYTES = 16 << 20
"""Index parquet bytes past which ``ask``, ``recommend``, MMR and the
driver-side append keep the Spark route instead of a driver-held
snapshot. The driver holds about 3× the parquet bytes (texts and content
hashes as Python strings, vectors widened to float64). Measured on a
4-core container at 16.6 MB (45,500 chunk rows of 300 characters, the
engine's embedder, 4 files), against 139 MiB of driver RSS before: the
driver-side read took 0.13-0.16 s wall and 0.09-0.15 s of CPU (the
Spark load it replaced: 0.60-0.66 s, 0.87-1.13 s), and raised the RSS
by 107-118 MiB at its peak, 53 MiB held once pyarrow's allocator
returned the freed read buffers (Spark load: 79 and 46 MiB). A warm ask
then cost 7-10 ms of CPU and wall, where the scan took 386-598 ms wall.
Holding the content hashes too, re-measured at 16.3 MB (45,500 rows, 4
files, 116 MiB before), 2 runs against 2 without them: the read took
0.18-0.19 s (0.15-0.16 s), RSS rose by 123-137 MiB at its peak
(119-120) and 57 MiB stayed held (51). Reading a local index's files in
place, at 16.7 MB (45,500 rows, 4 files, 120 MiB before; 3 runs against
3 of the copy-then-read form): 0.25-0.30 s wall (0.23-0.39 s), RSS up
123-126 MiB at its peak (130-139) and 52 MiB held 3 s later (54). The
peak is pyarrow's jemalloc pool keeping freed pages for its 1 s decay;
neither pool option lowers it (3 runs each, on a ``read_table`` form of
the in-place read that peaked at 122-138 MiB): ``release_unused()``
after the load left it at 132-139 MiB, and reading through
``pa.system_memory_pool()`` at 126-131 MiB with 97-103 MiB still held
3 s later, since glibc keeps the freed buffers. The cap keeps the
snapshot under the size of the driver process it lives in; larger
indexes stay on the executors."""


class _IndexSnapshot(NamedTuple):
    """The index as of one data-file listing (``key``), held on the
    driver: what ``retrieve``, ``ask`` and MMR score below the ANN
    threshold instead of running the top-k scan, and the keys and
    vectors a driver-side append reuses (``content_hash``, beside the
    ids). ``emb`` is None when a file holds a null, wrong-length or
    non-finite value, or a column type that ``index()`` does not read
    (``_snapshot_arrays``), which only the Spark route serves."""

    key: tuple
    doc_id: np.ndarray | None = None
    chunk_id: np.ndarray | None = None
    text: list | None = None
    emb: np.ndarray | None = None  # rows × dim, float64, column-major
    norms: np.ndarray | None = None
    content_hash: list | None = None

    def topk(self, qvec, k: int, embedding: bool = False) -> list[Row]:
        """``topk_cosine(index, qvec, k, id_cols=("doc_id", "chunk_id"),
        payload_cols=("text",)).collect()``: the same rows and scores
        (``==``), in the same (score desc, doc_id, chunk_id) order. With
        ``embedding``, each row carries its vector after ``text``, equal
        to the collected ``array<float>``, as with ``payload_cols=("text",
        "embedding")``."""
        scores = cosine_scores(self.emb, self.norms, qvec)
        top = np.lexsort((self.chunk_id, self.doc_id, -scores))[:k]
        rows = []
        for i, d, c, s in zip(
            top.tolist(),
            self.doc_id[top].tolist(),
            self.chunk_id[top].tolist(),
            scores[top].tolist(),
        ):
            payload = {"text": self.text[i]}
            if embedding:
                payload["embedding"] = self.emb[i].tolist()
            rows.append(Row(doc_id=d, chunk_id=c, **payload, score=s))
        return rows


class _IndexState(NamedTuple):
    """What the engine knows of its index as of one data-file listing
    (``_index_listing``; None on FS errors). ``_state_at`` replaces it
    whole when a call's listing differs, so an append, overwrite or
    re-creation by any writer drops the row count, the codebook and the
    postings flag, and the next above-threshold call re-verifies the
    layouts. The schema carries over (``index_documents`` drops the
    record when its write created the index or retyped ``doc_id``), and
    so does the snapshot: keyed on its own listing, it is the ``held``
    one that the next ``_load_snapshot`` extends."""

    listing: tuple | None
    schema: StructType | None = None
    rows: int | None = None
    snapshot: _IndexSnapshot | None = None
    # the codebook of an IVF layout verified (or written) for the listing
    codebook: np.ndarray | None = None
    # the postings layout was verified (or written) for the listing
    postings: bool = False


@dataclass
class RagEngine:
    spark: SparkSession
    index_path: str
    k: int = DEFAULT_K  # reference default k=4 (AI.py:138)
    chunk_size: int = DEFAULT_CHUNK_SIZE  # 1000 chars (AI.py:209)
    dim: int = EMBED_DIM
    rewrite: Callable[[str, list[dict]], str] = passthrough_rewrite
    answerer: Callable[[str, str], str] = extractive_answerer
    # the reference's brute-force→ANN delegation split (Pinecone
    # serverless past memory scale, AI.py:49-55) through the USER path:
    # below this many index rows every retrieval is the exact scan;
    # above it retrieval probes the persisted cell-partitioned IVF
    # layout (partition-pruned scan, built at index time)
    ann_threshold_rows: int = 1_000_000
    # cells probed per question on the IVF route: 8 of √N cells keeps
    # recall high while scanning <1% of a 2M-row index's partitions
    ann_nprobe: int = 8
    _sessions: dict[str, list[dict]] = field(default_factory=dict)
    # guards _sessions: get-or-create plus the two-message append of one
    # ask, and every read of a log
    _sessions_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )
    # what the engine knows of its index as of one file listing
    _state: _IndexState = field(
        default_factory=lambda: _IndexState(None), repr=False, compare=False
    )
    # guards each replacement of _state and the verify-or-build of the
    # derived layouts (IVF, postings): without it, the first asks of two
    # threads above the threshold both build, and both overwrite the
    # same paths under each other's readers. Reentrant, since the
    # builds store their result in _state
    _layout_lock: threading.RLock = field(
        default_factory=threading.RLock, repr=False, compare=False
    )
    # the index path on its file system, local or not decided once
    _fs: PathFs | None = field(default=None, repr=False, compare=False)

    # -- index build (S2-S5, F5, F6, F8) -----------------------------------

    def index_documents(self, docs: DataFrame) -> int:
        """Chunk+embed ``docs(doc_id, text, ...)`` into the index;
        returns newly embedded chunk count (0 ⇒ fully cached). Past the
        ANN threshold a cell-partitioned IVF twin of the index serves
        retrieval; its codebook train + partitioned rewrite are
        index-BUILD-time costs paid once per corpus change (the
        reference's Pinecone upsert builds its ANN structures on write,
        AI.py:89-96) — deferred to the first retrieval after a change,
        so a sub-threshold build never pays even the routing count.

        An input whose plan statistics predict one Python task is
        appended on the driver (``_append_on_driver``): one job, the
        input read, and no Python worker. Any other input is
        ``write_index_incremental``."""
        created = not self._index_fs().exists()
        n_new = self._append_on_driver(docs, created)
        if n_new is None:
            schema = None if created else self._state.schema  # no index to read yet
            n_new = write_index_incremental(
                docs, self.index_path, self.chunk_size, self.dim, schema=schema
            )
        # The write changed the listing, so the next call routes on a new
        # record: with no row count, codebook or postings flag, its first
        # retrieval re-verifies (fingerprint probe) or rebuilds the
        # layouts, and a sub-threshold build never pays the routing
        # count. Only the schema outlives a listing: drop the whole record
        # when this write created the index or changed doc_id's type, the
        # one index column whose type the caller picks (simpleString
        # ignores nullability); the snapshot's arrays were typed by it
        held = self._state.schema
        if n_new > 0 and held is not None and (
            created
            or held["doc_id"].dataType.simpleString()
            != docs.schema["doc_id"].dataType.simpleString()
        ):
            with self._layout_lock:
                self._state = _IndexState(None)
        return n_new

    def _append_on_driver(self, docs: DataFrame, created: bool) -> int | None:
        """``write_index_incremental(docs, ...)`` run on the driver: the
        same count, and the same rows, for an input whose plan statistics
        give it one Python task (``_python_tasks``). The driver reads the
        input (one job), runs the Spark plan's chunker and embedder on
        it, skips the ``(doc_id, content_hash)`` keys the serving snapshot
        holds, reuses the snapshot's vector of any hash it holds, and
        writes the rows with pyarrow, with no Spark job, as one file that
        ``PathFs.publish`` adds whole; its footer holds Spark's schema, so
        Spark reads the types its own writer gives. Batch duplicates are
        kept, as the Spark route anti-joins against the index only. None,
        having written nothing, when the Spark route must serve: a wider
        input, a ``text`` that is not a string, a ``doc_id`` whose values
        do not match as join keys do in Python (``_key_kind``) or of
        another kind than the index's, or an index that the snapshot
        does not serve."""
        import pyarrow.parquet as pq

        types = {f.name: f.dataType for f in docs.schema}
        kind = "doc_id" in types and _key_kind(types["doc_id"])
        if not (
            kind
            and isinstance(types.get("text"), StringType)
            and _python_tasks(docs) == 1
        ):
            return None
        snap = None
        if not created:
            route, state = self._route(self._index_listing())
            if route != "snapshot" or _key_kind(self._schema()["doc_id"].dataType) != kind:
                return None
            snap = state.snapshot
        table = docs.select("doc_id", "text").toArrow()
        rows = []  # (doc_id, chunk_id, chunk, content_hash)
        for doc_id, text in zip(*(c.to_pylist() for c in table.columns)):
            if not isinstance(text, str):
                continue
            for chunk_id, chunk in enumerate(split_text_recursive(text, self.chunk_size)):
                # Spark's sha2(text, 256)
                digest = hashlib.sha256(chunk.encode("utf-8")).hexdigest()
                rows.append((doc_id, chunk_id, chunk, digest))
        known = {}  # content_hash → the stored vector
        if snap is not None:
            hashes = {r[3] for r in rows}
            held = [i for i, h in enumerate(snap.content_hash) if h in hashes]
            ids = snap.doc_id[held].tolist()
            keys = {(d, snap.content_hash[i]) for d, i in zip(ids, held)}
            rows = [r for r in rows if (r[0], r[3]) not in keys]
            # float64 widened from the stored float32: narrowing is exact
            known = {snap.content_hash[i]: snap.emb[i].astype(np.float32) for i in held}
        if not rows:
            return 0
        fresh = iter(embed_texts([r[2] for r in rows if r[3] not in known], self.dim))
        ddl = "chunk_id int, text string, embedding array<float>, content_hash string"
        schema = StructType(
            [StructField("doc_id", types["doc_id"]), *StructType.fromDDL(ddl)]
        )
        table = arrow_table(
            [(d, c, t, known[h] if h in known else next(fresh), h) for d, c, t, h in rows],
            schema,
        ).replace_schema_metadata({"org.apache.spark.sql.parquet.row.metadata": schema.json()})
        # store_schema stays on: without the Arrow schema, pyarrow writes
        # no footer metadata at all, Spark's key included
        self._index_fs().publish(
            f"part-00000-{uuid.uuid4()}-c000.snappy.parquet",
            lambda path: pq.write_table(table, path, compression="snappy"),
        )
        return len(rows)

    @staticmethod
    def _cid():
        # one packed int64 per chunk (doc_id · 2²⁰ + chunk_id; the
        # chunker bounds chunk ordinals far below 2²⁰) — the ANN
        # kernels key on a single integral id
        return (F.col("doc_id") * (1 << 20) + F.col("chunk_id")).alias("cid")

    def _ann_paths(self) -> tuple[str, str]:
        return f"{self.index_path}_ivf", f"{self.index_path}_ivf_codebook"

    def _lex_paths(self) -> tuple[str, str]:
        return f"{self.index_path}_lex", f"{self.index_path}_lex_stats"

    def _index_fs(self) -> PathFs:
        if self._fs is None:
            self._fs = PathFs(self.spark, self.index_path)
        return self._fs

    def _index_listing(self) -> tuple | None:
        """The sorted ``(name, length, modificationTime)`` of every data
        file of the index directory: the files a fresh ``spark.read``
        would read (``_is_data_file``), from one ``PathFs.status`` on the
        driver (no Spark job): ``os.scandir`` on a local index, with no
        JVM round trip, and Hadoop-FS ``listStatus`` on any other. Any
        append, overwrite or re-creation changes it; a ``_SUCCESS``
        rewrite alone does not. None on FS errors, a missing index
        included."""
        try:
            entries = self._index_fs().status()
        except (OSError, Py4JError):
            return None
        return tuple(sorted(e[:3] for e in entries if _is_data_file(e[0])))

    def _corpus_signature(self, state: _IndexState) -> str:
        """Reuse fingerprint for derived layouts (IVF codebook, postings
        stats): the record's row count and a digest of its listing. Row
        count alone would let any corpus change that preserves row count
        (an external rewrite of ``index_path``, an in-place re-chunk by
        another process) silently serve a stale layout. Degrades to
        rows-only on FS quirks: the safe direction, since a later
        successful probe then mismatches and rebuilds."""
        if state.listing is None:
            return f"rows={state.rows}"
        digest = hashlib.sha256(repr(state.listing).encode()).hexdigest()[:32]
        return f"rows={state.rows};listing={digest}"

    def _counted(self, state: _IndexState) -> _IndexState:
        """``state`` with its row count: one parquet-metadata count per
        listing, never one per question."""
        if state.rows is None:
            state = self._state_at(state.listing, rows=self.index().count())
        return state

    def _ensure_lex_index(self, state: _IndexState) -> None:
        """Lexical twin of ``_ensure_ann_index``: above the routing
        threshold the hybrid path's BM25 leg reads a bucket-partitioned
        posting-list layout instead of tokenizing every chunk per
        question (the scan leg dominated hybrid latency at the
        2 M-chunk tier). Same per-corpus reuse contract: the stats
        parquet carries the corpus signature, a fresh engine verifies
        it before rebuilding, and the record's ``postings`` flag
        short-circuits every later question on ``state``'s listing.
        Built lazily on the first hybrid retrieval — vector-only users
        never pay it."""
        from .operators.ranking import write_postings_index

        if state.postings:
            return
        with self._layout_lock:
            state = self._counted(self._state_at(state.listing))
            if state.postings:  # another thread verified or built it
                return
            lex_path, stats_path = self._lex_paths()
            sig = self._corpus_signature(state)
            try:
                st = self.spark.read.parquet(stats_path).collect()
            except Exception:
                st = []
            if not (st and all(getattr(r, "corpus_sig", None) == sig for r in st)):
                write_postings_index(
                    self.index().select(
                        F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")).alias(
                            "cid"
                        ),
                        "text",
                    ),
                    lex_path,
                    stats_path,
                    id_col="cid",
                    fingerprint=state.rows,
                    signature=sig,
                )
            self._state_at(state.listing, postings=True)

    def _ensure_ann_index(self, state: _IndexState):
        """The IVF codebook of a layout that serves ``state``'s listing:
        verified, appended to or built on the first above-threshold
        retrieval of each listing, then read from the record with zero
        jobs."""
        from .operators.similarity import train_centroids_sample, write_ivf_index

        if state.codebook is not None:  # verified for this listing
            return state.codebook
        with self._layout_lock:
            state = self._counted(self._state_at(state.listing))
            if state.codebook is not None:  # another thread verified or built it
                return state.codebook
            rows = state.rows
            # The IVF layout is a PER-CORPUS artifact, not per-instance:
            # a fresh engine pointed at an already-built index must reuse
            # the on-disk codebook+layout, not retrain KMeans and rewrite
            # 2 M rows. The codebook parquet carries the corpus
            # fingerprint (_corpus_signature at build time) beside the
            # centroids; a match proves the layout serves the current
            # corpus, and the read doubles as the codebook load.
            sig = self._corpus_signature(state)
            try:
                cb_rows = self.spark.read.parquet(self._ann_paths()[1]).collect()
            except Exception:
                cb_rows = []  # absent codebook: build below
            codebook = None
            if cb_rows and all(getattr(r, "corpus_sig", None) == sig for r in cb_rows):
                codebook = _codebook_array(cb_rows)
            elif cb_rows:
                codebook = self._try_ivf_append(cb_rows, rows, sig)
            if codebook is None:
                import math

                n_cells = int(
                    min(4096, max(16, 2 ** round(math.log2(max(math.sqrt(rows), 16.0)))))
                )
                codebook = train_centroids_sample(
                    self.index(),
                    n_cells,
                    "embedding",
                    sample_rows=max(4096, 8 * n_cells),
                    # corpus-versioned key: a stale-rebuild after index
                    # growth must RETRAIN, not replay the previous
                    # corpus's centroids memoized under the bare path
                    cache_key=f"{self.index_path}@rows={rows}",
                )
                write_ivf_index(
                    self.index().select(
                        self._cid(), "embedding", "doc_id", "chunk_id", "text"
                    ),
                    self._ann_paths()[0],
                    codebook,
                    index_id="cid",
                    payload_cols=("doc_id", "chunk_id", "text"),
                )
                self._write_codebook(codebook, rows, sig)
            return self._state_at(state.listing, codebook=codebook).codebook

    def _write_codebook(self, centroids, rows: int, sig: str) -> None:
        # one row per cell, with the corpus fingerprint the layout serves
        local_frame(
            self.spark,
            [(i, [float(x) for x in c], rows, sig) for i, c in enumerate(centroids)],
            "cell int, centroid array<double>, corpus_rows long, corpus_sig string",
        ).coalesce(1).write.mode("overwrite").parquet(self._ann_paths()[1])

    #: a corpus that grew by more than this fraction since the codebook
    #: trained gets a RETRAIN, not an append — per-row cell assignment
    #: under the old codebook stays exactly correct at any growth, but
    #: codebook optimality (and with it recall-per-nprobe) drifts with
    #: the corpus distribution, so the append path is for the
    #: steady-state trickle, not for doublings
    IVF_APPEND_MAX_GROWTH = 0.25

    def _try_ivf_append(self, cb_rows, rows: int, sig: str):
        """Incremental IVF maintenance: when the corpus GREW (bounded,
        append-only — the engine's own ``index_documents`` contract)
        since the layout was built, assign only the delta chunks to the
        existing codebook's cells and append them into the
        cell-partitioned layout, instead of retraining KMeans and
        rewriting millions of rows for a 1 % addition (measured at the
        2 M-chunk tier: full rebuild 150-190 s, append seconds).
        Eligibility is PROVEN, not assumed: the old layout must be a
        clean subset of the current index (zero orphan cids — an
        external rewrite that removed rows fails this and falls through
        to the retrain path) and growth must stay within
        ``IVF_APPEND_MAX_GROWTH``. Returns the codebook when the append
        served; None falls through to the rebuild."""
        ivf_path = self._ann_paths()[0]
        old_rows = {getattr(r, "corpus_rows", -1) for r in cb_rows}
        if len(old_rows) != 1:
            return None
        old = old_rows.pop()
        if not (0 < old < rows and rows - old <= self.IVF_APPEND_MAX_GROWTH * old):
            return None
        try:
            layout_ids = self.spark.read.parquet(ivf_path).select("cid")
        except Exception:
            return None
        # subset proof + delta discovery in ONE pass over the 8-byte
        # cid lanes: a full-outer marker join, keeping only the rows
        # missing from either side (delta + would-be orphans), eagerly
        # checkpointed at delta size. Separate anti-joins re-scanned
        # the 1024-file cell layout and the index per job (profiled
        # 14 s + 14 s + a 36 s payload shuffle at the 2 M-chunk tier);
        # anti-joining the full payload was worse still (47 s).
        full_ids = self.index().select(self._cid(), F.lit(1).alias("in_f"))
        anomalies = (
            full_ids.join(
                layout_ids.withColumn("in_l", F.lit(1)), "cid", "full"
            )
            .filter(F.col("in_f").isNull() | F.col("in_l").isNull())
            .localCheckpoint(eager=True)
        )
        if anomalies.filter(F.col("in_f").isNull()).limit(1).count():
            return None  # orphans: the old layout is not a subset
        from .operators.similarity import append_ivf_index

        codebook = _codebook_array(cb_rows)
        # payload rides a cid equi-join against the CHECKPOINTED delta
        # id set (AQE broadcasts it at runtime) — the index is scanned
        # once more for the payload columns, never shuffled
        delta = self.index().select(
            self._cid(), "embedding", "doc_id", "chunk_id", "text"
        ).join(anomalies.select("cid"), "cid")
        append_ivf_index(
            delta,
            ivf_path,
            codebook,
            index_id="cid",
            payload_cols=("doc_id", "chunk_id", "text"),
        )
        self._write_codebook(codebook, rows, sig)
        return codebook

    def index_files(
        self,
        path: str,
        glob: str | None = None,
        extractor: Callable[[bytes], str] = utf8_extractor,
    ) -> int:
        """Stage-free file ingestion (reference staged uploads to /tmp,
        AI.py:194-201; a distributed scan reads in place)."""
        docs = load_binary_documents(self.spark, path, glob, extractor)
        return self.index_documents(docs)

    def index(self) -> DataFrame:
        """The index as written, with a fresh file listing per call (so
        rows another writer appended are seen). Only the schema is
        cached: caching the DataFrame would freeze the listing. The
        schema is read from the data, not declared, because ``doc_id``
        takes the type of the caller's documents. Inference reads ONE
        file, so an integral ``doc_id`` is read as long: appends of two
        widths leave files that only the wider type reads."""
        return self.spark.read.schema(self._schema()).parquet(self.index_path)

    def _schema(self) -> StructType:
        schema = self._state.schema
        if schema is None:
            schema = self.spark.read.parquet(self.index_path).schema
            if isinstance(schema["doc_id"].dataType, IntegralType):
                schema["doc_id"].dataType = LongType()
            with self._layout_lock:  # the schema serves every listing
                self._state = self._state._replace(schema=schema)
        return schema

    def _state_at(self, listing: tuple | None, **facts) -> _IndexState:
        """The record for ``listing`` with ``facts`` set in it, read
        without the lock when it is held and nothing changes. A record
        keyed on another listing is replaced, under ``_layout_lock``, by
        one that keeps only its schema and snapshot (``_IndexState``)."""
        state = self._state
        if state.listing == listing and not facts:
            return state
        with self._layout_lock:
            state = self._state
            if state.listing != listing:
                state = _IndexState(listing, state.schema, snapshot=state.snapshot)
            self._state = state = state._replace(**facts)
            return state

    def _route(self, listing: tuple | None) -> tuple[str, _IndexState]:
        """The route of a call that took ``listing`` (``_index_listing``),
        and the record it was decided on:

        - ``"snapshot"``: the index is under the ANN bytes bound (so the
          snapshot only stands in for the exact route) and
          ``SNAPSHOT_MAX_BYTES``, and ``_IndexSnapshot`` serves it. A
          snapshot keyed on another listing is re-read under
          ``_layout_lock``, so concurrent first asks read the index once;
          a failed read keeps the held one and takes the Spark route.
        - ``"scan"``: the exact top-k scan. Under the bytes bound
          ``ann_threshold_rows × max(32, dim)`` the index holds fewer rows
          than the threshold, with no count job: even compressed parquet
          keeps a random-float vector at ~1 byte per component or more
          (a fixed 100 MB/100 k pair routed a 150 k-row index past a
          100 k threshold to the scan). The shortcut only ever picks the
          exact route, and the tiny thresholds tests use bypass it.
        - ``"ivf"``: the row count (``_counted``) exceeds the threshold."""
        state = self._state_at(listing)
        bound = self.ann_threshold_rows * max(32, self.dim)
        size = None if listing is None else sum(n for _, n, _ in listing)
        if size is not None and size < min(bound, SNAPSHOT_MAX_BYTES):
            snap = state.snapshot
            if snap is None or snap.key != listing:
                with self._layout_lock:
                    state = self._state_at(listing)
                    snap = state.snapshot
                    if snap is None or snap.key != listing:
                        snap = self._load_snapshot(listing, snap)
                        if snap is not None:  # an FS error keeps nothing partial
                            state = self._state_at(listing, snapshot=snap)
            if snap is not None and snap.emb is not None:
                return "snapshot", state
        elif state.snapshot is not None:  # free what another writer outgrew
            state = self._state_at(listing, snapshot=None)
        if state.rows is None and self.ann_threshold_rows >= 100_000 and (
            size is not None and size < bound
        ):
            return "scan", state
        state = self._counted(state)
        return ("scan" if state.rows <= self.ann_threshold_rows else "ivf"), state

    # -- query path (J1, O1, A1, P1, P2) ------------------------------------

    def retrieve(
        self,
        question: str,
        k: int | None = None,
        search_type: str = "similarity",
        fetch_k: int | None = None,
    ) -> DataFrame:
        """Top-k chunks for a question. ``search_type`` mirrors the
        LangChain retriever switch the reference could pass at
        AI.py:138 (``as_retriever(search_type=...)``):

        - ``"similarity"`` (reference behavior): one broadcastable
          literal query vector scored against the index scan; when the
          snapshot serves, its rows as a local frame, which runs no job.
        - ``"mmr"``: fetch_k cosine candidates, then the MMR greedy
          (operators/ranking weights) diversifies down to k. The
          greedy here runs driver-side over the collected fetch_k≈2k
          rows — reference-scale; the distributed batch form is
          q_mmr_rerank's cogrouped operator.
        - ``"hybrid"``: BM25 over the chunk texts (question content
          words) fused with the cosine ranking by reciprocal rank —
          the plan-side form of q_hybrid_rrf over the engine's index.
        """
        k = k or self.k
        if search_type == "similarity":
            route, state = self._route(self._index_listing())
            qvec = embed_text(question, self.dim)
            if route == "snapshot":
                return local_frame(self.spark, state.snapshot.topk(qvec, k), self._rows_schema())
            return self._topk_chunks(qvec, k, ("text",), route, state)
        if search_type == "mmr":
            return self._retrieve_mmr(question, k, fetch_k or max(2 * k, 8))
        if search_type == "hybrid":
            return self._retrieve_hybrid(question, k)
        raise ValueError(f"unknown search_type: {search_type!r}")

    def _load_snapshot(
        self, key: tuple, held: _IndexSnapshot | None
    ) -> _IndexSnapshot | None:
        """The ``_IndexSnapshot`` keyed ``key``, read on the driver with
        no Spark job: when every entry of ``held`` is still listed
        unchanged, only the added files are read and their rows
        appended to ``held``'s; otherwise (an overwrite, a re-creation,
        a compaction) every file is. None when a read fails (say, of a
        file that a concurrent overwrite removed) or ``key`` names no
        file. The listing is taken before the read, so a write landing
        in between leaves a key that the next question's listing no
        longer matches: it reloads, never serves stale rows."""
        schema = self._schema()
        kept = set(held.key) if held is not None else set()
        if not kept <= set(key):
            held, kept = None, set()
        elif held is not None and held.emb is None:
            return _IndexSnapshot(key)  # the unserved file is still there
        parts = self._read_index_files([e[0] for e in key if e not in kept], schema)
        if not parts:  # a failed read, or no data file: hold nothing
            return None
        if any(p is None for p in parts):
            return _IndexSnapshot(key)
        doc_id, chunk_id, texts, mats, hashes = zip(*parts)
        mat = _stack_f64(mats)
        norms = folded_norms(mat)
        if held is not None:
            doc_id, chunk_id = (held.doc_id, *doc_id), (held.chunk_id, *chunk_id)
            texts, hashes = (held.text, *texts), (held.content_hash, *hashes)
            mat = _stack_f64((held.emb, mat))
            norms = np.concatenate((held.norms, norms))
        return _IndexSnapshot(
            key,
            np.concatenate(doc_id),
            np.concatenate(chunk_id),
            [t for part in texts for t in part],
            mat,
            norms,
            [h for part in hashes for h in part],
        )

    def _read_index_files(self, names: list[str], schema: StructType) -> list | None:
        """``_snapshot_arrays`` of each named index file, read by pyarrow:
        in place on a local index, and on any other from a copy that the
        index's Hadoop FS makes in a local temporary directory
        (``PathFs.readable``), the one reader for every FS the Spark route
        reads. None when a copy or a read fails."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fs = self._index_fs()
        parts = []
        with nullcontext() if fs.local is not None else tempfile.TemporaryDirectory() as tmp:
            for name in names:
                try:
                    # a ParquetFile, not read_table's dataset discovery:
                    # 0.3 ms against 1.0 ms for a one-append file
                    with pq.ParquetFile(fs.readable(name, tmp)) as f:
                        table = f.read(columns=list(_SNAPSHOT_COLS))
                except (Py4JError, OSError, pa.ArrowException):
                    return None
                parts.append(_snapshot_arrays(table, schema, self.dim))
        return parts

    def _topk_chunks(
        self,
        qvec,
        k: int,
        payload_cols: tuple[str, ...],
        route: str,
        state: _IndexState,
    ) -> DataFrame:
        """Single-question top-k against the chunk index: ``topk_cosine``
        on both sides of ``ann_threshold_rows``, with the same raw score
        and the same (score desc, doc_id, chunk_id) order; only the rows
        it scans differ. Below the threshold (reference behavior) it
        scans the whole index. Above it, it scans the cell-partitioned
        IVF layout that ``_ensure_ann_index`` verified or built: the
        question's ``ann_nprobe`` nearest cells resolve driver-side (a
        numpy product against the codebook, no job) and only those cell
        directories are read, so the scan opens ~nprobe/n_cells of the
        index's files. The layout co-locates the payload, so hits need
        no lookup join against the full index (measured at the 2 M-chunk
        tier: that join cost more than the exact scan). Only
        index-time structure beats the exact scan at scale: inline LSH
        banding per question measured 17.9 s against the scan's 3.4 s.
        ``route`` (``scan`` or ``ivf``) and ``state`` are the caller's
        ``_route`` of this question. Output schema: (doc_id, chunk_id,
        *payload, score)."""
        if route == "scan":
            index = self.index()
        else:
            from pyspark.sql.types import IntegerType

            from .operators.similarity import nearest_cells
            from .sources.loaders import read_partitions

            ivf_path = self._ann_paths()[0]
            cells = sorted(
                nearest_cells(qvec, self._ensure_ann_index(state), self.ann_nprobe)
            )
            # the layout's columns, declared so the read infers nothing
            schema = self._schema()
            layout = StructType(
                [
                    StructField("cid", LongType()),
                    *(schema[c] for c in ("embedding", "doc_id", "chunk_id", "text")),
                    StructField("cell", IntegerType()),
                ]
            )
            index = read_partitions(self.spark, ivf_path, "cell", cells, layout)
            if index is None:  # every probed cell empty: prune the root
                index = (
                    self.spark.read.schema(layout)
                    .parquet(ivf_path)
                    .filter(F.col("cell").isin(cells))
                )
        return topk_cosine(
            index,
            qvec,
            k=k,
            id_cols=("doc_id", "chunk_id"),
            payload_cols=payload_cols,
        )

    def _retrieve_mmr(self, question: str, k: int, fetch_k: int) -> DataFrame:
        # Delegates the λ-scoring to the SAME greedy core the
        # oracle-checked cogrouped operator uses (mmr_greedy), so the
        # engine's retriever cannot drift from the hash-verified
        # algebra. Collecting fetch_k (≈8) candidate rows is bounded by
        # construction; the distributed form for query batches is
        # q_mmr_rerank. Routed like ask: the snapshot, when it serves,
        # gives the candidates with no job.
        from .operators.ranking import mmr_greedy

        rows = self._nearest(embed_text(question, self.dim), fetch_k, embedding=True)
        cand = {(r.doc_id, r.chunk_id): r for r in rows}

        def cos(a, b) -> float:
            ea, eb = cand[a].embedding, cand[b].embedding
            num = sum(x * y for x, y in zip(ea, eb))
            na = sum(x * x for x in ea) ** 0.5
            nb = sum(y * y for y in eb) ** 0.5
            return num / (na * nb) if na > 0 and nb > 0 else 0.0

        rel = {key: float(r.score) for key, r in cand.items()}
        picked = [cand[key] for key, _, _ in mmr_greedy(rel, cos, k)]
        return local_frame(
            self.spark,
            [(r.doc_id, r.chunk_id, r.text, float(r.score)) for r in picked],
            self._rows_schema(),
        )

    def _retrieve_hybrid(self, question: str, k: int, depth: int = 50) -> DataFrame:
        from .operators.ranking import bm25_scores, rrf_fuse

        # question-side normalization (lowercase, punctuation strip):
        # doc tokens follow the engine-wide whitespace contract, so a
        # trailing '?' on a question word would otherwise never match
        # dedupe BEFORE the [:5] slice (order-preserving): a question
        # like "spark spark streaming joins state windows" must not
        # waste question-term slots on duplicates
        terms = list(
            dict.fromkeys(
                t.strip("?.,!")
                for t in question.lower().split()
                if t.strip("?.,!") and t.strip("?.,!") not in _STOPWORDS
            )
        )[:5]
        if not terms:
            return self.retrieve(question, k, search_type="similarity")
        # one route for all three legs; the snapshot serves no BM25 leg
        route, state = self._route(self._index_listing())
        route = "scan" if route == "snapshot" else route
        idx = self.index().withColumn(
            "cid", F.concat_ws("#", F.col("doc_id"), F.col("chunk_id"))
        )
        if route == "scan":
            # reference-scale: tokenize-and-score scan, bit-stable with
            # the historical path and the oracle-checked operator
            bm = bm25_scores(
                idx.select(F.col("cid").alias("doc_id"), "text"), terms
            ).withColumnRenamed("doc_id", "cid")
        else:
            # above-threshold: the posting-list layout serves the leg —
            # per-question cost is |terms| bucket directories + row-group
            # pruning on the sorted term column, never a corpus tokenize.
            # Scores are bit-identical to the scan form for every chunk
            # containing >=1 query term (bm25_postings_scores docstring).
            from .operators.ranking import bm25_postings_scores

            self._ensure_lex_index(state)
            lex_path, stats_path = self._lex_paths()
            bm = bm25_postings_scores(
                self.spark, lex_path, stats_path, terms, id_col="cid"
            )
        qvec = embed_text(question, self.dim)
        # the vector leg routes on index size like every retrieval
        vs = self._topk_chunks(qvec, depth, (), route, state).select(
            F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")).alias("cid"),
            "score",
        )
        top = rrf_fuse(bm, vs, "cid", "bm25", "score", k=k, depth=depth).select(
            "cid", F.col("rrf").alias("score")
        )
        # payload pruning: above the threshold the fused top-k is
        # collected (k rows — the same boundedness ask() relies on) so
        # its doc_ids become a PUSHABLE parquet predicate on the index
        # scan; the broadcast-join-against-the-full-scan form read all
        # 2 M rows to serve k of them. Below the threshold the scan is
        # the cheap part and the historical lazy plan stays untouched.
        if route == "ivf":
            picked = top.collect()  # k rows by construction
            # doc_id values come back via the cid string; cast the
            # LITERALS to the index's own doc_id type (constant-folded,
            # so the In predicate still pushes to the parquet scan)
            # instead of int()-parsing them — type-agnostic like the
            # broadcast-join path this replaces
            doc_strs = sorted({c.cid.rsplit("#", 1)[0] for c in picked})
            did_type = idx.schema["doc_id"].dataType
            scores = {c.cid: float(c.score) for c in picked}
            hits = (
                idx.filter(
                    F.col("doc_id").isin(
                        [F.lit(s).cast(did_type) for s in doc_strs]
                    )
                )
                .filter(F.col("cid").isin(list(scores)))
                .select("cid", "doc_id", "chunk_id", "text")
                .collect()
            )
            return local_frame(
                self.spark,
                sorted(
                    (
                        (r.doc_id, r.chunk_id, r.text, scores[r.cid])
                        for r in hits
                    ),
                    key=lambda t: (-t[3], t[0], t[1]),
                ),
                self._rows_schema(),
            )
        return (
            F.broadcast(top)
            .join(idx, "cid")
            .select("doc_id", "chunk_id", "text", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("chunk_id"))
        )

    def ask(self, question: str, session_id: str | None = None) -> dict:
        """Full reference query path; returns the reference's result
        shape {input, context, answer} (AI.py:173-185) plus the
        retrieved rows, equal to ``retrieve(...).collect()``.

        One ``_index_listing`` decides the route (``_nearest``). Below
        the ANN threshold, and under ``SNAPSHOT_MAX_BYTES``, the question
        is scored against the driver-held ``_IndexSnapshot`` of the files
        that listing names, bit-identical to ``topk_cosine``: no Spark
        job, also on the first ask after the listing changes, which
        reads the files the snapshot does not hold on the driver.
        Otherwise it is the top-k scan, one job."""
        history = self.history(session_id) if session_id else []
        effective = self.rewrite(question, history)
        retrieved = self._nearest(embed_text(effective, self.dim), self.k)
        context = "\n\n".join(r.text for r in retrieved)
        answer = postprocess_answer(self.answerer(effective, context))
        if session_id is not None:
            with self._sessions_lock:
                log = self._sessions.setdefault(session_id, [])  # get-or-create
                log.append({"role": "user", "content": question})
                log.append({"role": "assistant", "content": answer})
        return {
            "input": question,
            "context": context,
            "answer": answer,
            "retrieved": retrieved,
        }

    def recommend(self, session_id: str, k: int | None = None) -> DataFrame:
        """Adaptive recommendations — the "Recommendation" in the
        reference's title: surface the chunks most similar to what the
        session has ASKED SO FAR. The reference achieves adaptivity by
        feeding chat history back into retrieval
        (create_history_aware_retriever, AI.py:163-171); the engine
        form concatenates the session's user turns into one profile
        query and runs the same top-k path, so recommendations shift
        as the conversation does. An empty/unknown session degrades to
        the empty-profile embedding (deterministic, still k rows) —
        the cold-start behavior a recommender needs defined.

        It is ``retrieve(profile, k)``: a local frame of the snapshot's
        rows when it serves, otherwise the lazy top-k scan."""
        history = self.history(session_id)
        profile = " ".join(m["content"] for m in history if m["role"] == "user")
        return self.retrieve(profile, k)

    def _nearest(self, qvec, k: int, embedding: bool = False) -> list[Row]:
        """The collected top-k of ``qvec`` on one ``_route`` of one
        listing: the snapshot's rows, or ``_topk_chunks`` collected (one
        job). With ``embedding`` each row carries its vector after
        ``text``; the snapshot's float64 vectors equal the collected
        float32 ones."""
        route, state = self._route(self._index_listing())
        if route == "snapshot":
            return state.snapshot.topk(qvec, k, embedding)
        payload = ("text", "embedding") if embedding else ("text",)
        return self._topk_chunks(qvec, k, payload, route, state).collect()

    def _rows_schema(self) -> StructType:
        """The schema of a retrieval result: the index's ``doc_id``,
        ``chunk_id`` and ``text``, then ``score double``."""
        schema = self._schema()
        return StructType(
            [schema[c] for c in ("doc_id", "chunk_id", "text")]
            + [StructField("score", DoubleType())]
        )

    # -- session lifecycle (T1 batch view; AI.py:155-161,232-235) -----------

    def history(self, session_id: str) -> list[dict]:
        with self._sessions_lock:
            return list(self._sessions.get(session_id, []))

    def history_df(self, session_id: str) -> DataFrame:
        """The session's log in turn order as a local frame (an
        ``orderBy`` would cost jobs)."""
        return local_frame(
            self.spark,
            [
                (session_id, turn, m["role"], m["content"])
                for turn, m in enumerate(self.history(session_id))
            ],
            "session_id string, turn int, role string, content string",
        )

    def clear_session(self, session_id: str) -> None:
        with self._sessions_lock:
            self._sessions.pop(session_id, None)
