"""Streaming keyed-upsert materialization via ``foreachBatch``.

The reference's session store is an in-memory dict keyed by session id
(/root/reference/AI.py:23-30) — get-or-create, overwrite-on-append. At
warehouse scale that dict is a TABLE continuously upserted from an
event stream: each micro-batch REPLACES every touched key's row with
the latest record (CDC upsert), the materialized form a downstream
reader joins against. ``index_stream`` (same package) is the
append-only sibling (content-hash anti-join, nothing replaced); this
operator is the replace-per-key one — together they are the two merge
modes a production MERGE INTO offers.

Merge discipline: "latest" is the max of ``struct(ts, event_id, …)``
— a total order (event ids are unique), so the per-batch reduction and
the cross-batch merge are the SAME associative+commutative fold.
That is what makes the final state independent of how the stream was
micro-batched (asserted by ``q_stream_upsert_merge``'s oracle, which
recomputes the fold as one batch-global argmax): rate limits,
backfills, and replays may re-split the event sequence arbitrarily
without changing the table. Each batch's work is one keyed partial
aggregate (map-side combined) plus a state-sized merge — at 100 TB
the state read/rewrite becomes a MERGE against a transactional table
format; the fold and its invariance argument carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: columns folded into the "latest record" struct; ts leads, event_id
#: breaks ties (unique, so later fields are never compared)
_ORDER_COLS = ("ts", "event_id", "event_type", "value")


def _latest_per_key(df: DataFrame, key: str) -> DataFrame:
    s = F.max(F.struct(*_ORDER_COLS)).alias("s")
    return df.groupBy(key).agg(s).select(
        key, *[F.col(f"s.{c}").alias(f"last_{c}") for c in _ORDER_COLS]
    )


def upsert_merge_stream(
    events_stream: DataFrame,
    state_root: str,
    checkpoint_path: str,
    key: str = "user_id",
    batch_counter: list | None = None,
    crash_before_flip: int | None = None,
) -> StreamingQuery:
    """Start (availableNow) the upsert materialization over a streaming
    DataFrame of events. State lives under ``state_root/state_v{n}`` —
    each batch writes a NEW versioned directory and flips
    ``state_root/LATEST`` (write-temp + atomic rename), so a reader
    never sees a half-written state and a crash mid-batch leaves the
    previous version intact (the stream checkpoint replays the batch;
    the fold is idempotent under replay). Returns the running query;
    caller awaits termination and reads ``current_state_path``.

    ``crash_before_flip`` is FAULT INJECTION for the recovery test
    (tests/test_streaming.py): the sink raises after writing that
    batch's ``state_v{n}`` directory but BEFORE flipping ``LATEST`` —
    the worst crash point, since state data exists on disk but is not
    committed. The recovery contract under test: a reader still sees
    the previous version, and a restart on the same checkpoint replays
    exactly that batch (overwriting the orphan directory) and flips."""
    spark = events_stream.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_counter is not None:
            batch_counter.append(batch_id)
        new = _latest_per_key(batch_df, key)
        cur_path = current_state_path(state_root)
        if cur_path is not None:
            cur = spark.read.parquet(cur_path)
            merged = _latest_per_key(
                cur.select(
                    key, *[F.col(f"last_{c}").alias(c) for c in _ORDER_COLS]
                ).unionByName(
                    new.select(
                        key,
                        *[F.col(f"last_{c}").alias(c) for c in _ORDER_COLS],
                    )
                ),
                key,
            )
        else:
            merged = new
        out = os.path.join(state_root, f"state_v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        if crash_before_flip == batch_id:
            raise RuntimeError(
                f"injected crash: state_v{batch_id} written, LATEST not flipped"
            )
        tmp = os.path.join(state_root, f".LATEST.{batch_id}")
        with open(tmp, "w") as fh:
            fh.write(f"state_v{batch_id}")
        os.replace(tmp, os.path.join(state_root, "LATEST"))

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def current_state_path(state_root: str) -> str | None:
    """Resolve the committed state version, or None before batch 0."""
    latest = os.path.join(state_root, "LATEST")
    if not os.path.exists(latest):
        return None
    with open(latest) as fh:
        return os.path.join(state_root, fh.read().strip())
