"""Every input generator is a pure function of its seed."""

import numpy as np
import pandas as pd

from perfbench import datagen


def _rng(seed):
    return np.random.default_rng(seed)


def test_documents_repeat_per_seed():
    a, b = datagen.documents(_rng(3), 50), datagen.documents(_rng(3), 50)
    pd.testing.assert_frame_equal(a, b)
    assert not a.text.equals(datagen.documents(_rng(4), 50).text)


def test_tables_repeat_per_seed():
    a, b = datagen.tables(7, 0.0005), datagen.tables(7, 0.0005)
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(datagen.tables(8, 0.0005)["lineitem"])


def test_tables_follow_fixture_row_counts():
    t = datagen.tables(1, 0.001)
    assert len(t["lineitem"]) == 6_000
    assert len(t["orders"]) == 1_500
    assert len(t["documents"]) == 500


def test_chat_inputs_repeat_per_seed():
    texts = datagen.documents(_rng(0), 30).text.tolist()

    def script(seed):
        rng = _rng(seed)
        qs = [datagen.question(rng, turn) for turn in range(6)]
        return qs, datagen.joined_documents(rng, texts, 5, start_id=100)

    assert script(11) == script(11)
    assert script(11) != script(12)


def test_joined_documents_ids_and_parts():
    texts = ["alpha", "beta", "gamma"]
    docs = datagen.joined_documents(_rng(2), texts, 4, start_id=10)
    assert [d for d, _ in docs] == [10, 11, 12, 13]
    for _, text in docs:
        parts = text.split("\n\n")
        assert 4 <= len(parts) <= 16
        assert set(parts) <= set(texts)
