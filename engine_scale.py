"""Composed engine-facade scale run (round-4 verdict #3): drive the
full RagEngine user path — index build → similarity / MMR / hybrid
retrieval → ask → recommend — end-to-end at an N× documents tier, so
BASELINE.md carries a slope for the COMPOSED pipeline, not just its
per-query pieces.

The per-stage split matters at 100 TB: the index build is the
data-bound stage (chunk + embed every document once — linear, amortized
across every later query), while the query stages are per-question
latencies against the built index (scan-bound top-k; their slope is
the index-scan slope). The tool measures them separately and prints one
JSON object:

  python engine_scale.py --mult 100
  {"mult": 100, "index_build_1x": ..., "index_build_Nx": ...,
   "ask_1x": ..., "ask_Nx": ..., ...}

Tier construction reuses scale_smoke.build_tier (shifted-id document
replication, fingerprinted + staged layout).
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time

from scale_smoke import build_tier

QUESTION = "priority freight shipments delayed by clerk errors"
FOLLOWUP = "what about the urgent orders"


def drive(spark, sf_dir: str, mult_tag: str, out: dict) -> None:
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
        RagEngine,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    workdir = tempfile.mkdtemp(prefix="spark_graft_engine_scale_")
    try:
        eng = RagEngine(spark, index_path=f"{workdir}/index")
        docs = load_table(spark, "documents", sf_dir)

        t0 = time.perf_counter()
        n_chunks = eng.index_documents(docs)
        out[f"index_build_{mult_tag}"] = round(time.perf_counter() - t0, 3)
        out[f"n_chunks_{mult_tag}"] = n_chunks

        # incremental rebuild: content-hash cache must embed nothing
        t0 = time.perf_counter()
        n_again = eng.index_documents(docs)
        out[f"reindex_cached_{mult_tag}"] = round(time.perf_counter() - t0, 3)
        assert n_again == 0, f"cached reindex embedded {n_again} chunks"

        # the ANN structure build is deferred to first retrieval (a
        # sub-threshold corpus never pays it); time it as its own stage
        # so per-question latencies below aren't charged the one-time
        # codebook train + cell-partitioned rewrite
        t0 = time.perf_counter()
        eng._ensure_ann_index(eng._state_at(eng._index_listing()))
        out[f"ann_build_{mult_tag}"] = round(time.perf_counter() - t0, 3)

        # per-corpus reuse (round 7): a FRESH engine on the same index
        # path must verify the persisted corpus fingerprint and reuse
        # the on-disk codebook+layout — before the fix this stage paid
        # the full KMeans train + partitioned rewrite AGAIN (the build
        # was effectively per-instance). Timed as its own stage so the
        # reuse cost (one codebook read + count) is visible next to the
        # build it replaces.
        fresh = RagEngine(spark, index_path=f"{workdir}/index")
        t0 = time.perf_counter()
        rows = fresh.retrieve(QUESTION).collect()
        out[f"fresh_engine_retrieve_{mult_tag}"] = round(
            time.perf_counter() - t0, 3
        )
        assert len(rows) == fresh.k

        # the posting-list layout is lazy on the first hybrid retrieval;
        # time it as its own one-time stage (like ann_build) so the
        # steady-state hybrid latency below isn't charged the build
        t0 = time.perf_counter()
        eng._ensure_lex_index(eng._state_at(eng._index_listing()))
        out[f"lex_build_{mult_tag}"] = round(time.perf_counter() - t0, 3)

        for st in ("similarity", "mmr", "hybrid"):
            t0 = time.perf_counter()
            rows = eng.retrieve(QUESTION, search_type=st).collect()
            out[f"retrieve_{st}_{mult_tag}"] = round(time.perf_counter() - t0, 3)
            assert len(rows) == eng.k, (st, len(rows))

        t0 = time.perf_counter()
        res = eng.ask(QUESTION, session_id="scale")
        eng.ask(FOLLOWUP, session_id="scale")
        out[f"ask_{mult_tag}"] = round((time.perf_counter() - t0) / 2, 3)
        assert res["answer"]

        t0 = time.perf_counter()
        recs = eng.recommend("scale").collect()
        out[f"recommend_{mult_tag}"] = round(time.perf_counter() - t0, 3)
        assert len(recs) == eng.k

        # round 8: bounded corpus growth → incremental IVF maintenance.
        # A 1% append must trigger the delta-assign + partition-append
        # path (engine._try_ivf_append), never the KMeans retrain +
        # full layout rewrite the same growth cost before.
        from pyspark.sql import functions as F

        delta_docs = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10**10)
        )
        t0 = time.perf_counter()
        n_delta = eng.index_documents(delta_docs)
        out[f"append_index_{mult_tag}"] = round(time.perf_counter() - t0, 3)
        out[f"n_delta_chunks_{mult_tag}"] = n_delta
        t0 = time.perf_counter()
        rows = eng.retrieve(QUESTION).collect()
        out[f"append_ann_refresh_{mult_tag}"] = round(
            time.perf_counter() - t0, 3
        )
        # _ann_built only above the router threshold — sub-threshold
        # tiers (warmup, 1x) route exact and never build the layout
        assert len(rows) == eng.k
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated table subset to replicate (e.g. 'documents' "
        "for the ANN-regime facade tier, where only the chunk index must "
        "cross the router threshold and replicating the fact tables "
        "would be pure tier-build cost)",
    )
    args = ap.parse_args()

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
        get_spark,
    )

    only = tuple(t for t in args.only.split(",") if t)
    tier = build_tier(args.base, args.mult, only=only)
    spark = get_spark("engine_scale")
    out: dict = {"mult": args.mult}
    # discarded warm-up drive at the smoke SF: the FIRST drive of a
    # fresh JVM pays codegen/classload costs that would otherwise be
    # booked entirely against the 1x tier and fake a flat slope
    drive(spark, "/root/testdata/sf0.001", "warmup", {})
    drive(spark, args.base, "1x", out)
    drive(spark, tier, f"{args.mult}x", out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
