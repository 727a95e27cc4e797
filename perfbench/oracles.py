"""Independent result checks. Each returns ``None`` when the output is
right and a one-line reason when it is not; none of them is timed."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

# The reference's refusal rule (AI.py:176-185), restated here rather
# than imported so the check does not share code with what it checks.
REFUSAL_PREFIX = "The context provided does not contain specific information"
REFUSAL_MESSAGE = (
    "I'm sorry, I can only answer questions related to the provided context."
)
SCORE_TOL = 1e-9


class IndexSnapshot:
    """The chunk index as written on disk: ids, texts and unit-scaled
    embeddings, read with pyarrow so no Spark cache can mask a stale
    read."""

    def __init__(self, path: str):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        table = pq.ParquetDataset(files).read(
            columns=["doc_id", "chunk_id", "text", "embedding", "content_hash"]
        )
        self.doc_id = table.column("doc_id").to_numpy()
        self.chunk_id = table.column("chunk_id").to_numpy()
        self.text = table.column("text").to_pylist()
        self.content_hash = table.column("content_hash").to_pylist()
        emb = table.column("embedding").combine_chunks()
        dim = len(emb[0]) if len(emb) else 0
        mat = np.asarray(emb.values.to_numpy(zero_copy_only=False), dtype=np.float64)
        self.emb = mat.reshape(len(emb), dim)
        self.files = len(files)
        self.bytes = sum(os.path.getsize(f) for f in files)

    def __len__(self) -> int:
        return len(self.doc_id)

    def keys(self) -> set[tuple[int, int]]:
        return set(zip(self.doc_id.tolist(), self.chunk_id.tolist()))

    def scores(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        norms = np.linalg.norm(self.emb, axis=1) * np.linalg.norm(q)
        dots = self.emb @ q
        return np.divide(dots, norms, out=np.zeros_like(dots), where=norms > 0)

    def topk(self, qvec, k: int) -> tuple[list[tuple[int, int]], np.ndarray]:
        """Expected top-k keys (score desc, then doc_id, chunk_id asc)
        and the score of every index row."""
        s = self.scores(qvec)
        order = np.lexsort((self.chunk_id, self.doc_id, -s))[:k]
        keys = [(int(self.doc_id[i]), int(self.chunk_id[i])) for i in order]
        return keys, s


def check_topk(snap: IndexSnapshot, qvec, k: int, rows) -> str | None:
    """``rows`` (doc_id, chunk_id, ...) must be the index's exact top-k
    for ``qvec``. Positions may differ from the expected keys only
    between rows whose scores tie within float noise."""
    expected, s = snap.topk(qvec, k)
    got = [(int(r[0]), int(r[1])) for r in rows]
    if got == expected:
        return None
    if len(got) != len(expected):
        return f"top-k returned {len(got)} rows, expected {len(expected)}"
    pos = {key: i for i, key in enumerate(zip(snap.doc_id.tolist(), snap.chunk_id.tolist()))}
    for g, e in zip(got, expected):
        if g not in pos:
            return f"top-k row {g} is not in the index"
        if abs(s[pos[g]] - s[pos[e]]) > SCORE_TOL:
            return f"top-k row {g} scores {s[pos[g]]:.6f}, expected {e} at {s[pos[e]]:.6f}"
    return None


def expected_answer(context: str) -> str:
    """Extractive answer plus refusal/first-line post-processing."""
    raw = context.split("\n")[0] if context else REFUSAL_PREFIX + " to answer this question."
    if raw.startswith(REFUSAL_PREFIX):
        return REFUSAL_MESSAGE
    return raw.split("\n")[0]


def check_ask(snap: IndexSnapshot, qvec, k: int, result: dict) -> str | None:
    bad = check_topk(snap, qvec, k, [(r.doc_id, r.chunk_id) for r in result["retrieved"]])
    if bad:
        return bad
    context = "\n\n".join(r.text for r in result["retrieved"])
    if result["context"] != context:
        return "context is not the retrieved texts in order"
    if result["answer"] != expected_answer(context):
        return "answer breaks the refusal/first-line rule"
    return None


def check_hybrid(snap: IndexSnapshot, k: int, rows) -> str | None:
    """k rows, scores non-increasing, every row present in the index."""
    if len(rows) != min(k, len(snap)):
        return f"hybrid returned {len(rows)} rows, expected {k}"
    scores = [float(r.score) for r in rows]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "hybrid rows are not ordered by score"
    texts = {(d, c): t for d, c, t in zip(snap.doc_id.tolist(), snap.chunk_id.tolist(), snap.text)}
    for r in rows:
        if texts.get((int(r.doc_id), int(r.chunk_id))) != r.text:
            return f"hybrid row {(r.doc_id, r.chunk_id)} is not in the index"
    return None


def check_append(before: IndexSnapshot, after: IndexSnapshot, n_new: int,
                 expect_new: int, resubmitted: set[int]) -> str | None:
    """Row count conserved, no duplicate (doc_id, chunk_id), exact
    re-submits add nothing."""
    if len(after) != len(before) + n_new:
        return f"index grew by {len(after) - len(before)}, writer reported {n_new}"
    if n_new != expect_new:
        return f"writer appended {n_new} chunks, expected {expect_new}"
    if len(after.keys()) != len(after):
        return "duplicate (doc_id, chunk_id) rows in the index"
    b = _counts(before.doc_id)
    a = _counts(after.doc_id)
    changed = {d for d in a if a[d] != b.get(d, 0)} & resubmitted
    if changed:
        return f"re-submitted documents gained rows: {sorted(changed)[:3]}"
    return None


def _counts(ids: np.ndarray) -> dict[int, int]:
    u, c = np.unique(ids, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


def same_rows(spark_rows, oracle_rows) -> str | None:
    """Order-insensitive equality of stringified rows."""
    s = sorted(tuple(str(x) for x in r) for r in spark_rows)
    d = sorted(tuple(str(x) for x in r) for r in oracle_rows)
    if s != d:
        return f"{len(s)} rows differ from the oracle's {len(d)}"
    return None
