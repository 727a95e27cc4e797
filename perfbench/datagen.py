"""Seeded synthetic inputs with the fixture schemas (FIXTURES.md).

Every table is a pure function of ``(seed, scale)``: ``scale`` is the
fixture scale factor, and the row counts follow the fixtures' (0.01
gives 60,000 lineitem rows and 500 documents). Column domains mirror the fixture generation: uniform keys,
TPC-H-ish prices and dates, a 30-word document vocabulary plus the
``dup`` marker, an exponential event clock and 64-d clustered unit
embeddings. Timestamps are written as naive microsecond parquet
timestamps, the layout ``sources.loaders.load_table`` normalizes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64

_PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "green", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")


def documents(rng: np.random.Generator, n: int, start_id: int = 0) -> pd.DataFrame:
    """``n`` documents of 10-99 vocabulary words; about 5% carry a
    trailing ``dup`` marker, as in the fixture corpus. Every text is
    shorter than one 1,000-character chunk."""
    n_words = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    dups = rng.random(n) < 0.05
    texts, pos = [], 0
    for i in range(n):
        toks = [VOCAB[w] for w in words[pos : pos + n_words[i]]]
        pos += n_words[i]
        if dups[i]:
            toks.append("dup")
        texts.append(" ".join(toks))
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


TOPIC_WORDS = [w for w in VOCAB if w not in ("a", "the")]


def question(rng: np.random.Generator, turn: int) -> str:
    """One chat question; later turns are often follow-ups that only
    make sense with the session history."""
    words = rng.choice(TOPIC_WORDS, size=int(rng.integers(2, 6)), replace=False)
    if turn > 0 and rng.random() < 0.5:
        return f"what about {words[0]}?"
    return "how does " + " ".join(words) + " work?"


def joined_documents(rng: np.random.Generator, texts: list[str], n: int,
                     start_id: int) -> list[tuple[int, str]]:
    """``n`` (doc_id, text) documents, each 4-16 of ``texts`` joined by
    blank lines, so one document spans several chunks."""
    out = []
    for i in range(n):
        picks = rng.integers(0, len(texts), size=int(rng.integers(4, 17)))
        out.append((start_id + i, "\n\n".join(texts[j] for j in picks)))
    return out


def _days(rng, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, size=n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """All ten fixture tables at ``scale``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)
    i32 = np.int32

    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                size=n_cust,
            ),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, size=(n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                size=n_part,
            ),
            "p_size": rng.integers(1, 51, size=n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_ord,
            ),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, size=n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, size=n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_line),
            "l_linestatus": rng.choice(["F", "O"], size=n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, n_line),
        }
    )
    gaps_us = rng.exponential(30 * 86400e6 / n_ev, size=n_ev)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.cumsum(gaps_us).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(int(n_ev * 0.015), 10), size=n_ev).astype(
                np.int64
            ),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], size=n_ev
            ),
            "value": np.maximum(np.round(rng.exponential(50.0, size=n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }
    )
    centers = rng.normal(size=(10, EMBED_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n_emb)
    vecs = centers[labels] + rng.normal(scale=1 / 8, size=(n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(i32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents(rng, n_doc),
        "embeddings": embeddings,
    }


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One single-row-group parquet file, like the fixture tables."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array([v.tolist() for v in df["embedding"]], pa.list_(pa.float32())),
        )
    pq.write_table(table, path, row_group_size=max(len(df), 1))


def write_tables(sf_dir: str, seed: int, scale: float) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables(seed, scale).items():
        write_parquet(df, os.path.join(sf_dir, f"{name}.parquet"))
