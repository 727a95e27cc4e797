"""The two workloads, each a seeded closed loop with one client.

- ``chat``: multi-turn sessions against an index built in set-up, with
  an append batch and a question against the just-written index in
  every round. Per-question fixed cost (plan construction, a few Spark
  jobs per ask) dominates the asks; the chunker and embedder UDFs, the
  embedding-reuse join and index file growth dominate the appends.
  Hybrid (BM25 + cosine) retrieval runs in the traced run only.
- ``analytics``: a frozen slice of the registered query catalog over
  generated tables; it carries the catalog, substrate, Catalyst and
  checkpoint layers that ``chat`` bypasses.

A run repeats whole rounds (one session plus one append, or one pass
over the slice) until ``--seconds`` have passed, at least
``MIN_ROUNDS``. Every round has the same shape, so the metrics do not
depend on how many fit. Both workloads report the same end-to-end
metrics, counted in CPU time rather than wall time (see ``NOTES.md``);
the traced run adds the per-layer ones, wall times among them.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import engine as engine_mod
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.engine import (
    RagEngine,
    history_aware_rewrite,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.chunker import (
    split_text_recursive,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.embedder import (
    embed_text,
    embed_texts,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators import (
    ranking as ranking_mod,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import get_spark

from perfbench import datagen, oracles, stats
from perfbench.slice import ANALYTICS_SCALE, ANALYTICS_SEED, SLICE, SUBSTRATES
from perfbench.stats import median
from perfbench.trace import Recorder, catalyst_phases_ms, plan_tree

CPUS = 4
SETUP_REPS = 3
K = 4


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Workload:
    """``setup`` runs ``SETUP_REPS`` times and ``warm_up`` once, both
    untimed by the loop; ``round`` runs timed operations through
    ``attempt`` and queues their checks with ``later``; ``check`` runs
    the queued checks once the loop is over."""

    #: operation kinds whose mean cost is the workload's ``op_cpu_ms``
    MAIN: tuple[str, ...] = ()
    #: rounds a run makes even when ``--seconds`` are up sooner
    MIN_ROUNDS = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failures: list[str] = []
        # (kind, wall seconds, CPU seconds, Spark jobs and stages)
        self.ops: list[tuple[str, float, float, dict | None]] = []
        self._checks: list[tuple[str, functools.partial]] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED: {what}")

    def attempt(self, kind: str, fn, rec: Recorder | None):
        """Run one timed operation; an exception counts as a failure
        and returns None."""
        self.attempted += 1
        with _group(rec, kind) as jobs:
            c0 = stats.cpu_ticks()
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # the loop must go on and report the failure
                self.fail(f"{kind}: {traceback.format_exc(limit=3)}")
                return None
            dt = time.perf_counter() - t0
            cpu = stats.cpu_seconds(c0, stats.cpu_ticks())
        self.ops.append((kind, dt, cpu, jobs))
        return out

    def later(self, label: str, fn, *args) -> None:
        self._checks.append((label, functools.partial(fn, *args)))

    def check(self) -> None:
        for label, fn in self._checks:
            bad = fn()
            if bad:
                self.fail(f"{label}: {bad}")

    def p50_ms(self, *kinds: str) -> float:
        return median(dt * 1e3 for k, dt, _, _ in self.ops if k in kinds)

    def jobs(self, kind: str, key: str) -> float:
        return median(j[key] for k, _, _, j in self.ops if k == kind and j)

    def end_to_end(self) -> dict:
        """Mean CPU time of the main operation and operations per CPU
        second, counting the driver, its JVM (less its JIT compiler
        threads) and the Python workers."""
        cpu = sum(c for _, _, c, _ in self.ops)
        main = [c for k, _, c, _ in self.ops if k in self.MAIN]
        return {
            "op_cpu_ms": 1e3 * sum(main) / len(main) if main else 0.0,
            "ops_per_cpu_s": len(self.ops) / cpu if cpu else 0.0,
        }


# -- chat ------------------------------------------------------------------

CHAT_DOCS = 500
TURNS = 4
HYBRIDS = 3
APPEND_NEW, APPEND_REUSE, APPEND_RESUB = 8, 4, 4


class Chat(Workload):
    """One round: a session of ``TURNS`` asks and a recommendation,
    then one append batch (new documents, new ids carrying
    already-indexed text, exact re-submits) and one ask against the
    index as just written."""

    MAIN = ("ask", "ask_after_append")

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        corpus = datagen.documents(self.rng, CHAT_DOCS)
        self.base = corpus.text.tolist()
        self.indexed = list(zip(corpus.doc_id.tolist(), self.base))
        self.next_id = CHAT_DOCS
        self.docs_path = self.write_docs("corpus", self.indexed)
        # (index before, index after, chunks appended, fresh docs, re-submitted ids)
        self.appends: list[tuple] = []

    def write_docs(self, name: str, docs: list[tuple[int, str]]) -> str:
        path = os.path.join(self.work, f"{name}.parquet")
        datagen.write_parquet(
            pd.DataFrame({"doc_id": np.array([d for d, _ in docs], dtype=np.int64),
                          "text": [t for _, t in docs]}),
            path,
        )
        return path

    def setup(self, rep: int) -> None:
        eng = RagEngine(self.spark, os.path.join(self.work, f"index_{rep}"),
                        rewrite=history_aware_rewrite)
        self.built_chunks = eng.index_documents(self.spark.read.parquet(self.docs_path))
        self.engine = eng

    def warm_up(self) -> None:
        eng = self.engine
        eng.ask("how does spark join work?", session_id="warmup")
        eng.recommend("warmup").collect()
        eng.clear_session("warmup")
        self.snap = oracles.IndexSnapshot(eng.index_path)

    def round(self, r: int, rec: Recorder | None) -> None:
        eng, snap = self.engine, self.snap
        sid = f"s{r}"
        for turn in range(TURNS):
            q = datagen.question(self.rng, turn)
            out = self.attempt("ask", lambda: eng.ask(q, sid), rec)
            if out is not None:
                self.later("ask", self._check_ask, snap, sid, turn, q, out)
        rows = self.attempt("recommend", lambda: eng.recommend(sid).collect(), rec)
        if rows is not None:
            self.later("recommend", self._check_recommend, snap, sid, rows)

        # the append batch, written to parquet before it is timed
        new = datagen.joined_documents(self.rng, self.base, APPEND_NEW, self.next_id)
        self.next_id += APPEND_NEW
        reuse = []
        for i in self.rng.choice(len(self.indexed), size=APPEND_REUSE, replace=False):
            reuse.append((self.next_id, self.indexed[i][1]))
            self.next_id += 1
        resub = [self.indexed[i] for i in self.rng.choice(len(self.indexed), size=APPEND_RESUB, replace=False)]
        batch = new + reuse + resub
        path = self.write_docs(f"append_{r}", batch)
        n = self.attempt("append", lambda: eng.index_documents(self.spark.read.parquet(path)), rec)
        after = oracles.IndexSnapshot(eng.index_path)  # untimed: the index as written
        self.indexed += new + reuse
        self.snap = after
        if n is not None:
            self.appends.append((snap, after, n, new + reuse, {d for d, _ in resub}))
        q = datagen.question(self.rng, 0)
        out = self.attempt("ask_after_append", lambda: eng.ask(q), rec)
        if out is not None:
            self.later("ask after append", self._check_ask, after, None, 0, q, out)

    def _check_ask(self, snap, sid, turn, q, out):
        history = self.engine.history(sid)[: 2 * turn] if sid else []
        return oracles.check_ask(snap, embed_text(history_aware_rewrite(q, history)), K, out)

    def _check_recommend(self, snap, sid, rows):
        profile = " ".join(m["content"] for m in self.engine.history(sid) if m["role"] == "user")
        return oracles.check_topk(snap, embed_text(profile), K, rows)

    def check(self) -> None:
        super().check()
        for before, after, n, fresh, resub in self.appends:
            expect = sum(len(split_text_recursive(t)) for _, t in fresh)
            bad = oracles.check_append(before, after, n, expect, resub)
            if bad:
                self.fail(f"append: {bad}")

    def instrument(self, rec: Recorder) -> None:
        _instrument_engine(rec)
        # the engine holds its rewrite hook as an instance field
        rec.wrap(self.engine, "rewrite", "engine.rewrite")

    def layers(self, rec: Recorder, setups: list[float]) -> dict:
        eng = self.engine
        for _ in range(HYBRIDS):
            q = datagen.question(self.rng, 0)
            rows = self.attempt(
                "hybrid",
                lambda: _collect(rec, "ranking.hybrid_exec", eng.retrieve(q, search_type="hybrid")),
                rec,
            )
            if rows is not None:
                self.later("hybrid", oracles.check_hybrid, self.snap, K, rows)
        m = {
            "engine.ask.jobs": self.jobs("ask", "jobs"),
            "engine.ask.stages": self.jobs("ask", "stages"),
            "engine.ask.self_ms": median(rec.self_ms("engine.ask")),
            "engine.recommend.jobs": self.jobs("recommend", "jobs"),
            "engine.hybrid.jobs": self.jobs("hybrid", "jobs"),
            "engine.rewrite_ms": median(rec.durations_ms("engine.rewrite")),
            "retrieval.topk_build_ms": median(rec.durations_ms("retrieval.topk_build")),
            "retrieval.topk_exec_ms": median(rec.durations_ms("retrieval.topk.collect")),
            "retrieval.postprocess_build_ms": median(rec.durations_ms("retrieval.postprocess_build")),
            "retrieval.postprocess_exec_ms": median(rec.durations_ms("retrieval.postprocess.collect")),
            "retrieval.write_incremental_ms": median(rec.durations_ms("retrieval.write_incremental")),
            "retrieval.index_files": float(self.snap.files),
            "retrieval.index_bytes_per_chunk": self.snap.bytes / len(self.snap),
            "ranking.bm25_build_ms": median(rec.durations_ms("ranking.bm25_build")),
            "ranking.hybrid_exec_ms": median(rec.durations_ms("ranking.hybrid_exec")),
            "embedder.query_embed_ms": median(rec.durations_ms("embedder.query_embed")),
            "chat.ask_p50_ms": self.p50_ms("ask"),
            "chat.recommend_p50_ms": self.p50_ms("recommend"),
            "chat.hybrid_p50_ms": self.p50_ms("hybrid"),
            "chat.append_p50_ms": self.p50_ms("append"),
            "chat.ask_after_append_p50_ms": self.p50_ms("ask_after_append"),
            "chat.index_chunks_per_s": self.built_chunks / median(setups),
        }
        # base: chunk rows written by appends; reused = rows whose text
        # hash was already in the index before the append
        reused = written = 0
        for before, after, _, _, _ in self.appends:
            old_keys, old_hashes = before.keys(), set(before.content_hash)
            for d, c, h in zip(after.doc_id.tolist(), after.chunk_id.tolist(), after.content_hash):
                if (d, c) not in old_keys:
                    written += 1
                    reused += h in old_hashes
        m["retrieval.embed_reuse_ratio"] = reused / written if written else 0.0

        # the chunker and embedder called directly on everything indexed
        t0 = time.perf_counter()
        chunks = [c for _, t in self.indexed for c in split_text_recursive(t)]
        m["chunker.chunks_per_s"] = len(chunks) / (time.perf_counter() - t0)
        m["chunker.chunks_per_doc"] = len(chunks) / len(self.indexed)
        t0 = time.perf_counter()
        embed_texts(chunks)
        m["embedder.chunks_per_s"] = len(chunks) / (time.perf_counter() - t0)

        # a fully cached re-submit of everything indexed: must embed nothing
        path = self.write_docs("resubmit_all", self.indexed)
        self.attempted += 1
        t0 = time.perf_counter()
        n = eng.index_documents(self.spark.read.parquet(path))
        m["chat.reindex_cached_chunks_per_s"] = len(chunks) / (time.perf_counter() - t0)
        if n != 0:
            self.fail(f"cached re-submit appended {n} chunks")
        return m


# -- analytics ---------------------------------------------------------------


class Analytics(Workload):
    """A frozen catalog slice over tables generated from a fixed data
    seed; the run seed permutes the query order. Set-up drops every
    session substrate and rebuilds the ones the slice uses, by
    constructing each entry's plan (substrates are checkpointed when a
    plan asks for them); the timed passes then execute the plans."""

    MAIN = ("query",)
    MIN_ROUNDS = 2

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark import registry

        self.sf_dir = os.path.join(work, "analytics_data")
        datagen.write_tables(self.sf_dir, ANALYTICS_SEED, ANALYTICS_SCALE)
        catalog = registry.queries()
        self.fns = {n: catalog[n] for n in SLICE}
        self.oracle = {n: registry.oracle_sql()[n] for n in SLICE}
        self.order = [str(n) for n in self.rng.permutation(SLICE)]
        self.info: list[tuple[str, dict]] = []
        self.results: dict[str, list] = {}

    def setup(self, rep: int) -> None:
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import loaders

        loaders.clear_substrate_caches()
        for name in SLICE:
            self.fns[name](self.spark, self.sf_dir)

    def warm_up(self) -> None:
        for name in SLICE:
            self.fns[name](self.spark, self.sf_dir).collect()

    def run_query(self, name: str) -> tuple:
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        return df, rows, {"build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3}

    def round(self, r: int, rec: Recorder | None) -> None:
        for name in self.order:
            out = self.attempt("query", lambda: self.run_query(name), rec)
            if out is None:
                continue
            df, rows, info = out
            _, wall, _, jobs = self.ops[-1]
            info.update(jobs or {}, wall_ms=wall * 1e3)
            if rec is not None:  # read from the plan that ran, untimed
                info.update(catalyst_phases_ms(df))
                info.update(stats.plan_stats(plan_tree(df)))
            self.info.append((name, info))
            self.results.setdefault(name, rows)

    def check(self) -> None:
        """The first result of every entry against its DuckDB twin."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("region nation customer supplier part orders lineitem events "
                      "documents embeddings").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, rows in self.results.items():
                bad = oracles.same_rows(rows, con.execute(self.oracle[name]).fetchall())
                if bad:
                    self.fail(f"{name}: {bad}")
        finally:
            con.close()

    def instrument(self, rec: Recorder) -> None:
        pass

    def layers(self, rec: Recorder, setups: list[float]) -> dict:
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources import loaders

        passes = len(self.info) / len(SLICE)

        def per_pass(key: str) -> float:
            return sum(i.get(key, 0.0) for _, i in self.info) / passes

        m = {
            "analytics.total_s": per_pass("wall_ms") / 1e3,
            "analytics.query_p50_ms": self.p50_ms("query"),
            "queries.build_s": per_pass("build_ms") / 1e3,
            "queries.analysis_ms": per_pass("analysis"),
            "queries.optimization_ms": per_pass("optimization"),
            "queries.planning_ms": per_pass("planning"),
            "queries.exec_s": per_pass("exec_ms") / 1e3,
        }
        for key in ("jobs", "stages", "exchanges", "file_scans", "existing_rdd_scans",
                    "python_eval_nodes", "bnlj_cartesian"):
            m[f"queries.{key}"] = per_pass(key)
        for name in SLICE:
            mine = [i for n, i in self.info if n == name]
            m[f"query.{name}.wall_ms"] = median(i["wall_ms"] for i in mine)
            m[f"query.{name}.jobs"] = median(i.get("jobs", 0) for i in mine)

        # every public session substrate, rebuilt from cold caches
        loaders.clear_substrate_caches()
        subs = loaders.warm_substrates(self.spark, self.sf_dir)
        if set(subs) != set(SUBSTRATES):
            self.fail(f"warm_substrates builds {sorted(subs)}, slice.SUBSTRATES lists {sorted(SUBSTRATES)}")
        m["loaders.substrate_total_s"] = float(sum(subs.values()))
        for name in SUBSTRATES:
            m[f"loaders.substrate.{name}_s"] = float(subs.get(name, 0.0))
        return m


WORKLOADS = {"chat": Chat, "analytics": Analytics}


# -- shared tracing helpers --------------------------------------------------

def _group(rec: Recorder | None, label: str):
    return rec.job_group(label) if rec is not None else contextlib.nullcontext()


def _collect(rec: Recorder | None, name: str, df):
    if rec is None:
        return df.collect()
    with rec.span(name):
        return df.collect()


def _instrument_engine(rec: Recorder) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    rec.wrap(engine_mod.RagEngine, "ask", "engine.ask")
    rec.wrap(engine_mod, "embed_text", "embedder.query_embed")
    rec.wrap(engine_mod, "topk_cosine", "retrieval.topk_build", tag="retrieval.topk")
    rec.wrap(engine_mod, "postprocess_answers", "retrieval.postprocess_build", tag="retrieval.postprocess")
    rec.wrap(engine_mod, "write_index_incremental", "retrieval.write_incremental")
    rec.wrap(ranking_mod, "bm25_scores", "ranking.bm25_build")
    rec.wrap_collect(DataFrame)


# -- one run -----------------------------------------------------------------


def _start_session():
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    spark, session_s = _start_session()
    # interpreter, imports and JVM start
    session_cpu_s = stats.cpu_seconds({}, stats.cpu_ticks())
    try:
        wl = WORKLOADS[name](spark, seed, work)
        setups, setup_cpu = [], []
        for rep in range(SETUP_REPS):
            c0 = stats.cpu_ticks()
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(stats.cpu_seconds(c0, stats.cpu_ticks()))
        t0 = time.perf_counter()
        wl.warm_up()
        log(f"session start {session_s:.2f} s; set-up reps {[round(s, 2) for s in setups]} s wall, "
            f"{[round(s, 2) for s in setup_cpu]} s CPU; "
            f"warm-up {time.perf_counter() - t0:.2f} s")
        rec = Recorder(spark) if trace else None
        if rec is not None:
            wl.instrument(rec)
        try:
            t_end = time.perf_counter() + seconds
            rounds = 0
            while rounds < wl.MIN_ROUNDS or time.perf_counter() < t_end:
                wl.round(rounds, rec)
                rounds += 1
            e2e = wl.end_to_end()
            if rec is not None:
                layers = wl.layers(rec, setups)
        finally:
            if rec is not None:
                rec.restore()
        t0 = time.perf_counter()
        wl.check()
        log(f"{name}: {rounds} rounds, {len(wl.ops)} operations, {e2e}, "
            f"wall p50 {wl.p50_ms(*wl.MAIN):.1f} ms; "
            f"checks {time.perf_counter() - t0:.2f} s")
        log("operations (wall/CPU s): "
            + " ".join(f"{k}={dt:.2f}/{c:.2f}" for k, dt, c, _ in wl.ops))
        if rec is None:
            values = dict(e2e, setup_s=session_cpu_s + median(setup_cpu))
            units = E2E_UNITS
        else:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            values = dict.fromkeys(LAYER_METRICS, 0.0)
            values.update(layers)
            values["peak_rss_mb"] = stats.vm_hwm_mb() + stats.vm_hwm_mb(jvm_pid)
            values["trace.op_p50_ms"] = wl.p50_ms(*wl.MAIN)
            values["trace.op_cpu_ms"] = e2e["op_cpu_ms"]
            values["trace.overhead_ms_per_op"] = rec.overhead_s * 1e3 / max(len(wl.ops), 1)
            units = LAYER_METRICS
        unknown = set(values) - set(units)
        if unknown:
            raise KeyError(f"unlisted metrics: {sorted(unknown)}")
    finally:
        _stop_session(spark)
    return {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": min(len(wl.failures), wl.attempted),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


E2E_UNITS = {
    "op_cpu_ms": "ms",
    "ops_per_cpu_s": "1/s",
    "setup_s": "s",
}


def _layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order. A
    workload that does not exercise a layer reports it as 0."""
    names = [
        ("engine.ask.jobs", "count"),
        ("engine.ask.stages", "count"),
        ("engine.ask.self_ms", "ms"),
        ("engine.recommend.jobs", "count"),
        ("engine.hybrid.jobs", "count"),
        ("engine.rewrite_ms", "ms"),
        ("retrieval.topk_build_ms", "ms"),
        ("retrieval.topk_exec_ms", "ms"),
        ("retrieval.postprocess_build_ms", "ms"),
        ("retrieval.postprocess_exec_ms", "ms"),
        ("retrieval.write_incremental_ms", "ms"),
        ("retrieval.embed_reuse_ratio", "ratio"),
        ("retrieval.index_files", "count"),
        ("retrieval.index_bytes_per_chunk", "B"),
        ("ranking.bm25_build_ms", "ms"),
        ("ranking.hybrid_exec_ms", "ms"),
        ("embedder.query_embed_ms", "ms"),
        ("embedder.chunks_per_s", "1/s"),
        ("chunker.chunks_per_s", "1/s"),
        ("chunker.chunks_per_doc", "count"),
        ("chat.ask_p50_ms", "ms"),
        ("chat.recommend_p50_ms", "ms"),
        ("chat.hybrid_p50_ms", "ms"),
        ("chat.append_p50_ms", "ms"),
        ("chat.ask_after_append_p50_ms", "ms"),
        ("chat.index_chunks_per_s", "1/s"),
        ("chat.reindex_cached_chunks_per_s", "1/s"),
        ("loaders.substrate_total_s", "s"),
    ]
    names += [(f"loaders.substrate.{s}_s", "s") for s in SUBSTRATES]
    names += [
        ("analytics.total_s", "s"),
        ("analytics.query_p50_ms", "ms"),
        ("queries.build_s", "s"),
        ("queries.analysis_ms", "ms"),
        ("queries.optimization_ms", "ms"),
        ("queries.planning_ms", "ms"),
        ("queries.exec_s", "s"),
        ("queries.jobs", "count"),
        ("queries.stages", "count"),
        ("queries.exchanges", "count"),
        ("queries.file_scans", "count"),
        ("queries.existing_rdd_scans", "count"),
        ("queries.python_eval_nodes", "count"),
        ("queries.bnlj_cartesian", "count"),
    ]
    for q in SLICE:
        names += [(f"query.{q}.wall_ms", "ms"), (f"query.{q}.jobs", "count")]
    names += [
        ("peak_rss_mb", "MiB"),
        ("trace.op_p50_ms", "ms"),
        ("trace.op_cpu_ms", "ms"),
        ("trace.overhead_ms_per_op", "ms"),
    ]
    return dict(names)


LAYER_METRICS = _layer_metrics()
