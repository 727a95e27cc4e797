"""Each oracle accepts the right output and rejects a planted wrong one."""

from collections import namedtuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracles

Row = namedtuple("Row", "doc_id chunk_id text score")

VECS = {
    (1, 0): [1.0, 0.0, 0.0],
    (1, 1): [0.9, 0.1, 0.0],
    (2, 0): [0.0, 1.0, 0.0],
    (3, 0): [0.7, 0.7, 0.0],
    (3, 1): [0.0, 0.0, 1.0],
}


def _write(path, keys):
    keys = list(keys)
    table = pa.table({
        "doc_id": pa.array([d for d, _ in keys], pa.int64()),
        "chunk_id": pa.array([c for _, c in keys], pa.int32()),
        "text": [f"text {d}.{c}" for d, c in keys],
        "embedding": pa.array([VECS[k] for k in keys], pa.list_(pa.float32())),
        "content_hash": [f"h{d}.{c}" for d, c in keys],
    })
    path.mkdir(exist_ok=True)
    pq.write_table(table, path / f"part-{len(list(path.iterdir()))}.parquet")


@pytest.fixture
def snap(tmp_path):
    _write(tmp_path / "index", VECS)
    return oracles.IndexSnapshot(str(tmp_path / "index"))


def _rows(keys):
    return [Row(d, c, f"text {d}.{c}", 1.0 - i / 10) for i, (d, c) in enumerate(keys)]


def test_topk_accepts_exact_and_rejects_planted(snap):
    q = np.array([1.0, 0.05, 0.0])
    right = [(1, 0), (1, 1), (3, 0)]
    assert oracles.check_topk(snap, q, 3, right) is None
    assert oracles.check_topk(snap, q, 3, [(1, 0), (1, 1), (2, 0)]) is not None
    assert oracles.check_topk(snap, q, 3, [(1, 1), (1, 0), (3, 0)]) is not None
    assert oracles.check_topk(snap, q, 3, right[:2]) is not None
    assert oracles.check_topk(snap, q, 3, [(1, 0), (1, 1), (9, 9)]) is not None


def test_ask_checks_rows_context_and_answer(snap):
    q = np.array([0.0, 1.0, 0.0])
    rows = _rows([(2, 0), (3, 0)])
    context = "text 2.0\n\ntext 3.0"
    good = {"retrieved": rows, "context": context, "answer": "text 2.0"}
    assert oracles.check_ask(snap, q, 2, good) is None
    assert oracles.check_ask(snap, q, 2, dict(good, answer=context)) is not None
    assert oracles.check_ask(snap, q, 2, dict(good, context="text 2.0")) is not None
    stale = dict(good, retrieved=_rows([(2, 0), (1, 0)]))
    assert oracles.check_ask(snap, q, 2, stale) is not None


def test_refusal_rule():
    refusal = oracles.REFUSAL_PREFIX + " to answer this question."
    assert oracles.expected_answer(refusal) == oracles.REFUSAL_MESSAGE
    assert oracles.expected_answer("") == oracles.REFUSAL_MESSAGE
    assert oracles.expected_answer("first\nsecond") == "first"


def test_hybrid_checks_count_order_and_membership(snap):
    good = _rows([(3, 0), (1, 0), (2, 0)])
    assert oracles.check_hybrid(snap, 3, good) is None
    assert oracles.check_hybrid(snap, 3, good[:2]) is not None
    assert oracles.check_hybrid(snap, 3, good[::-1]) is not None
    planted = good[:2] + [Row(7, 0, "text 7.0", 0.1)]
    assert oracles.check_hybrid(snap, 3, planted) is not None


def test_append_checks_growth_duplicates_and_resubmits(tmp_path):
    _write(tmp_path / "idx", [(1, 0), (1, 1)])
    before = oracles.IndexSnapshot(str(tmp_path / "idx"))
    _write(tmp_path / "idx", [(2, 0)])
    after = oracles.IndexSnapshot(str(tmp_path / "idx"))
    assert oracles.check_append(before, after, 1, 1, {1}) is None
    assert oracles.check_append(before, after, 2, 2, {1}) is not None  # miscounted
    assert oracles.check_append(before, after, 1, 2, {1}) is not None  # lost a chunk
    assert oracles.check_append(before, after, 1, 1, {2}) is not None  # re-submit grew
    _write(tmp_path / "idx", [(1, 0)])
    dup = oracles.IndexSnapshot(str(tmp_path / "idx"))
    assert oracles.check_append(after, dup, 1, 1, set()) is not None


def test_same_rows_is_order_insensitive():
    assert oracles.same_rows([(1, "a"), (2, "b")], [(2, "b"), (1, "a")]) is None
    assert oracles.same_rows([(1, "a")], [(1, "b")]) is not None
    assert oracles.same_rows([(1, "a")], [(1, "a"), (1, "a")]) is not None
