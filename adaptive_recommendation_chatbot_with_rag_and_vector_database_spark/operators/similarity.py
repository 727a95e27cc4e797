"""Approximate nearest-neighbor search (SURVEY §2.3 J2 scale path;
BASELINE.json north star "similarity search").

The reference delegates ANN to a serverless vector index
(/root/reference/AI.py:49-55). The Spark-native equivalents here trade
the O(N·Q) brute-force cross product for bucketed equi-joins — the only
join shape that survives a 100 TB index:

- ``lsh_knn``: sign-random-projection LSH (Charikar 2002, the cosine
  LSH family). ``n_planes`` hyperplanes → per-vector bit signature →
  banded into ``n_bands`` codes. Probe and index rows meet on
  ``(band, code)`` — a plain shuffle-hash/broadcast equi-join on a
  low-cardinality key — then candidates are exactly re-ranked. Recall
  tunes with bands/planes (more bands → higher recall, more
  candidates).
- ``ivf_knn``: inverted-file index (IVF-Flat, à la Faiss). Centroids
  are trained driver-side on a bounded sample (classic IVF practice —
  the codebook is tiny and static) and shipped in a UDF closure.
  Probing ``nprobe`` of ``n_cells`` cells scans ~nprobe/n_cells of the
  index.

Both are deterministic (fixed seed → fixed planes/centroids). Signature
and cell assignment are Arrow-batched numpy matrix multiplies (dense
vector math is the one place a vectorized kernel beats interpreted
Catalyst folds by ~100×); candidate re-ranking stays JVM-side so exact
and approximate paths score identically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.loaders import substrate

SEED = 42
# per-chunk dense-block budget for the cogrouped cell kernel (float64
# elements; 2²⁶ ≈ 512 MB) — module-level so tests can shrink it to force
# chunk boundaries on small fixtures
_BLOCK_ELEMS = 1 << 26


def _band_codes_udf(planes: np.ndarray, n_bands: int):
    """Arrow-batched band codes: one (batch × dim) @ (dim × planes)
    matrix multiply per batch, sign bits packed into per-band integer
    codes. The codebook rides to executors inside the UDF closure (it
    is tiny and static — the broadcast-variable shape). A per-plane
    Catalyst expression would evaluate an interpreted fold per plane
    per row; the numpy kernel is two orders of magnitude faster."""
    n_planes = planes.shape[0]
    per_band = n_planes // n_bands
    weights = (2 ** np.arange(per_band - 1, -1, -1)).astype(np.int64)
    pl = planes.T.copy()  # dim × n_planes

    @F.pandas_udf(T.ArrayType(T.IntegerType(), containsNull=False))
    def codes(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # batch × dim
        bits = (mat.astype(np.float64) @ pl >= 0).astype(np.int64)
        banded = bits.reshape(len(mat), n_bands, per_band) @ weights
        return pd.Series(list(banded.astype(np.int32)))

    return codes


def nearest_cells(vec, centroids: np.ndarray, n: int) -> list[int]:
    """Driver-side twin of ``_nearest_cells_udf`` for a SINGLE probe
    vector the caller already holds in memory: same cosine-by-matmul
    scoring, same stable argsort tie order, no Spark job. An
    interactive question's cell assignment is a 64-float × codebook
    product — spinning up an Arrow UDF plus a distinct+collect job for
    it was measured as two of the five fixed jobs dominating the IVF
    route's latency at the 5 M-chunk tier."""
    sims = np.asarray(vec, dtype=np.float64) @ centroids.T
    return [int(c) for c in np.argsort(-sims, kind="stable")[:n]]


def _nearest_cells_udf(centroids: np.ndarray, n: int):
    """Arrow-batched IVF cell assignment: cosine scores against the
    broadcast codebook in one matrix multiply, stable argsort (ties →
    lower cell id), top-``n`` cell ids per vector."""
    cb = centroids.T.copy()  # dim × n_cells

    @F.pandas_udf(T.ArrayType(T.IntegerType(), containsNull=False))
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        sims = mat @ cb
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series(list(order.astype(np.int32)))

    return cells


def _round6_duck(x: np.ndarray) -> np.ndarray:
    """Vectorized twin of ranking._round6: DuckDB ``round(x, 6)``
    semantics (half away from zero) on binary doubles."""
    return np.where(
        x >= 0,
        np.floor(x * 1e6 + 0.5) / 1e6,
        np.ceil(x * 1e6 - 0.5) / 1e6,
    )


def _cosine_sim_arrow():
    """Arrow elementwise cosine over two array columns — the rerank
    twin of the Catalyst ``cosine_sim`` fold. Same float64 additions in
    the same strict index order (dot and both squared norms accumulate
    dimension by dimension; ``denom = sqrt(an2) * sqrt(bn2)``; zero
    guard identical), so values are bit-identical to the relational
    form — the candidate sets and rounded scores of every ANN path
    survive byte for byte (oracle parity + tests/test_similarity.py).
    One vectorized batch pass replaces an interpreted per-element fold:
    the IVF rerank over 2 M candidates measured ~20× faster at the
    100× tier. Used ONLY where candidate pairs already exist (post
    bucket-join) — pair-space avoidance stays the job of the bucketed
    joins and the in-UDF-reduction kernels above."""

    @F.pandas_udf(T.DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.zeros(0))
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        n, d = A.shape
        acc = np.zeros(n)
        an2 = np.zeros(n)
        bn2 = np.zeros(n)
        for i in range(d):
            acc += A[:, i] * B[:, i]
            an2 = an2 + A[:, i] * A[:, i]
            bn2 = bn2 + B[:, i] * B[:, i]
        denom = np.sqrt(an2) * np.sqrt(bn2)
        return pd.Series(
            np.where(denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), 0.0)
        )

    return cos


#: module-level instance: the UDF object is reusable across plans
cosine_sim_arrow = _cosine_sim_arrow()


def maxsim_label_partials(emb: DataFrame, probes: list) -> DataFrame:
    """Per-partition MaxSim partials for late-interaction scoring:
    returns ``(label, query_id, ms)`` where ``ms`` is the partition's
    max round-6 cosine between any of its label-``label`` vectors and
    probe ``query_id``; a global ``groupBy(label, query_id).max`` then
    yields the exact per-group MaxSim.

    ``probes`` is ``[(query_id, vector), ...]`` — query-token
    embeddings, bounded by construction (the same smallness assumption
    a broadcast join makes), riding to executors in the UDF closure.

    The kernel accumulates dot products and squared norms dimension by
    dimension in strict index order over float64 — the SAME floating
    additions, in the SAME order, as the Catalyst
    ``aggregate(zip_with(...))`` fold, so scores are bit-identical to
    the relational form while one numpy pass replaces per-pair array
    allocation. Partial max happens INSIDE the UDF, so the exchange
    carries at most |labels| × |probes| rows per partition — never the
    |rows| × |probes| pair space. At 8 M pairs this measured 10× over
    the crossJoin+HOF plan; at 100 TB the pair space never
    materializes at all."""
    qids = np.array([q for q, _ in probes], dtype=np.int64)
    P = np.array([list(v) for _, v in probes], dtype=np.float64)
    n_q, dim = P.shape if P.size else (0, 0)
    pn2 = np.zeros(n_q)
    for i in range(dim):
        pn2 = pn2 + P[:, i] * P[:, i]
    pn = np.sqrt(pn2)

    def part(batches):
        best: dict[int, np.ndarray] = {}
        for pdf in batches:
            if len(pdf) == 0 or n_q == 0:
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            labels = pdf["label"].to_numpy()
            n, d = A.shape
            acc = np.zeros((n, n_q))
            an2 = np.zeros(n)
            for i in range(d):
                acc += np.outer(A[:, i], P[:, i])
                an2 = an2 + A[:, i] * A[:, i]
            denom = np.sqrt(an2)[:, None] * pn[None, :]
            s = _round6_duck(
                np.where(denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), 0.0)
            )
            for lab in np.unique(labels):
                m = s[labels == lab].max(axis=0)
                best[lab] = np.maximum(best[lab], m) if lab in best else m
        if best:
            labs = sorted(best)
            yield pd.DataFrame(
                {
                    "label": np.repeat(np.array(labs, dtype=np.int32), n_q),
                    "query_id": np.tile(qids, len(labs)),
                    "ms": np.concatenate([best[lab] for lab in labs]),
                }
            )

    return emb.select("label", "embedding").mapInPandas(
        part, "label int, query_id long, ms double"
    )


def lsh_knn(
    probes: DataFrame,
    index: DataFrame,
    k: int = 4,
    dim: int = 64,
    n_planes: int | None = None,
    n_bands: int = 8,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    index_rows: int | None = None,
) -> DataFrame:
    """Approximate kNN via banded cosine LSH; returns
    (query_id, vec_id, score, rnk) with rnk <= k per probe. Pairs that
    share no band bucket are never scored — that is the approximation.

    Band width must GROW with the index: each band prunes candidates
    by ~2^-bits, so fixed 2-bit bands that are fine at 10⁵ rows leave
    N/4 candidates PER PROBE at 10⁶+ — at a 10⁹-row index that is
    2.5×10⁸ scored candidates per probe, unrunnable at any probe count.
    Unless the caller pins ``n_planes``, bits-per-band scale as
    2 + log2(N / 100 k), capped at 8 (256 buckets/band) — the classic
    LSH density rule (``index_rows`` skips the sizing count; below
    100 k rows the banding is exactly the historical 2-bit default, so
    every correctness-tier result is unchanged). Recall holds where
    ANN is actually used (high-similarity neighbors: p^bits stays near
    1 for p≈1) and the recall gate (q_ann_recall) pins it at the
    correctness tier."""
    import math

    from ..sources.loaders import scatter

    if n_planes is None:
        if index_rows is None:
            index_rows = index.count()
        per_band = 2
        if index_rows > 100_000:
            per_band = min(8, 2 + math.ceil(math.log2(index_rows / 100_000)))
        n_planes = n_bands * per_band

    rng = np.random.RandomState(SEED)
    planes = rng.normal(size=(n_planes, dim))

    codes = _band_codes_udf(planes, n_bands)
    index = scatter(index)  # signature computation at full parallelism
    idx_b = index.select(
        F.col(index_id),
        F.col(index_vec),
        F.posexplode(codes(F.col(index_vec))).alias("band", "code"),
    )
    prb_b = probes.select(
        F.col(query_id),
        F.col(query_vec),
        F.posexplode(codes(F.col(query_vec))).alias("band", "code"),
    )
    cand = (
        idx_b.join(F.broadcast(prb_b), ["band", "code"])
        .filter(F.col(index_id) != F.col(query_id))
        .select(query_id, index_id, query_vec, index_vec)
        .dropDuplicates([query_id, index_id])
    )
    scored = cand.select(
        query_id,
        index_id,
        F.round(cosine_sim_arrow(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(index_id))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# Trained codebooks memoized per (cache_key, n_cells, sample_rows,
# iters, vec_col), with no session in the key: an IVF codebook is a
# STATIC index artifact — real deployments train it once at index-build
# time and persist it alongside the index (write_ivf_index does exactly
# that via the partition layout). Repeated probes against the same
# corpus must not re-run the KMeans fit. Keyed only when the caller
# passes a stable corpus identity (e.g. the sf_dir); anonymous
# DataFrames never memoize.
def _codebook_key(a: dict) -> tuple | None:
    if a["cache_key"] is None:
        return None
    return (a["cache_key"], a["n_cells"], a["sample_rows"], a["iters"], a["vec_col"])


@substrate("ivf_codebook", warm=(), key=_codebook_key)
def train_centroids_sample(
    index: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 10,
    cache_key: str | None = None,
) -> np.ndarray:
    """IVF codebook training as a distributed MLlib ``KMeans`` fit on a
    bounded DataFrame sample — the driver never touches vector data;
    only the tiny static (n_cells × dim) codebook comes back, which is
    exactly the payload the assignment UDFs ship out anyway.

    Determinism: fixed seed, ``limit(sample_rows)`` over the scan's
    stable order, and centroids L2-normalized then lexicographically
    sorted so cell ids don't depend on MLlib's internal cluster
    ordering (the cell-partitioned index layout must be reproducible
    across builds — see ``write_ivf_index``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = index.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    ).limit(sample_rows)
    # KMeans re-scans its input EVERY iteration; without the persist the
    # limit+cast+to-vector pipeline re-executes ``iters`` times.
    sample = sample.persist()
    try:
        model = KMeans(k=n_cells, maxIter=iters, seed=SEED).fit(sample)
    finally:
        sample.unpersist()
    centroids = np.array(model.clusterCenters(), dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1, keepdims=True)
    centroids = centroids / np.where(norms > 0, norms, 1.0)
    # lexicographic sort over components → stable, order-free cell ids
    return centroids[np.lexsort(centroids.T[::-1])]


def write_ivf_index(
    index: DataFrame,
    path: str,
    centroids: np.ndarray,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    payload_cols: tuple[str, ...] = (),
) -> None:
    """Persist the index PARTITIONED BY its IVF cell — the 100 TB
    layout: a probe touching ``nprobe`` of ``n_cells`` cells then reads
    only those partition directories (``read_partitions``; the engine's
    IVF route), so query cost scales with nprobe/n_cells of
    the index instead of a full scan. ``payload_cols`` co-locates
    result payload (text, metadata) WITH the vectors, the way every
    vector store does: without it, serving a hit's payload means a
    full-index join that erases the pruning (measured: a 4-row payload
    lookup cost a 2 M-row scan — slower than brute force)."""
    from ..sources.loaders import scatter

    assign = _nearest_cells_udf(centroids, 1)
    (
        scatter(index)
        .select(
            F.col(index_id),
            F.col(index_vec),
            *payload_cols,
            assign(F.col(index_vec))[0].alias("cell"),
        )
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )


def append_ivf_index(
    new_rows: DataFrame,
    path: str,
    centroids: np.ndarray,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    payload_cols: tuple[str, ...] = (),
) -> None:
    """Append-only IVF maintenance: assign ONLY the delta rows to the
    EXISTING codebook's cells and append them into the cell-partitioned
    layout — the incremental-upsert path every production vector store
    ships, vs. the rebuild path (retrain KMeans + rewrite the full
    corpus) that costs minutes at the 2 M-chunk tier for a 1 % append.
    Per-row cell assignment is identical to what a full rebuild under
    the SAME codebook would compute, so probe results over appended
    layouts match a same-codebook rewrite exactly; what drifts is only
    codebook optimality as the corpus distribution moves, which is why
    callers bound growth before electing append over retrain
    (engine._ensure_ann_index: ≤ IVF_APPEND_MAX_GROWTH)."""
    from ..sources.loaders import scatter

    assign = _nearest_cells_udf(centroids, 1)
    (
        scatter(new_rows)
        .select(
            F.col(index_id),
            F.col(index_vec),
            *payload_cols,
            assign(F.col(index_vec))[0].alias("cell"),
        )
        .write.partitionBy("cell")
        .mode("append")
        .parquet(path)
    )


def ivf_knn_batch(
    probes: DataFrame,
    index: DataFrame,
    k: int = 4,
    n_cells: int | None = None,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    centroids: np.ndarray | None = None,
    cache_key: str | None = None,
    index_rows: int | None = None,
) -> DataFrame:
    """IVF-Flat kNN for LARGE probe batches — identical candidate
    semantics to ``ivf_knn``, different physical shape. ``ivf_knn``
    broadcasts the probe set into the cell join (right for a handful of
    interactive queries); at batch-join scale (say 10⁷ probes against a
    10⁹-row index) the probe side no longer fits a broadcast and the
    driver must not collect anything probe-sized. Here BOTH sides are
    cell-assigned by the same Arrow-batched codebook kernel and meet in
    a plain shuffle equi-join on ``cell`` (AQE picks the physical
    join; nothing is pinned).

    Candidate scoring is a per-cell BLOCK matmul, not a pair join: the
    two sides are cogrouped on ``cell`` (``applyInPandas`` over
    ``cogroup`` — each side's vectors cross the wire ONCE, keyed by
    cell) and the kernel scores the (|cell index| × |cell probes|)
    block in one vectorized pass, reducing to per-probe top-k before
    anything leaves the UDF. A row-wise candidate join would duplicate
    both 64-float vectors onto every candidate row — measured ~320 GB
    of Arrow traffic (258 s) at the 2 M × 40 k tier vs this shape's
    one-pass-per-side ~600 MB. The final per-query window sees only
    k·nprobe rows per probe. (Candidates are unique by construction:
    an index row has exactly one cell, same as ``ivf_knn``.)

    ``n_cells`` defaults to the Faiss-style √N rule (nearest power of
    two, clamped to [16, 4096]): candidate work per probe is
    N·nprobe/n_cells, so a FIXED cell count makes the batch join
    quadratic in the corpus as probes grow with it — cells must grow
    with the index for the candidate space to stay ~√N per probe.
    The 4096 clamp is the KMeans-training ceiling, which bounds the
    SUPPORTED index at ~n_cells² ≈ 1.7·10⁷ rows on the √N rule (past
    that, per-cell scan cost grows linearly again — train an external
    codebook and pass ``centroids``/``n_cells`` explicitly to go
    bigger). Kernel memory no longer depends on either cell-side
    count: the per-cell score block is tiled along BOTH axes so one
    dense block is ≤ ~512 MB regardless of how many probes land in a
    cell or how large a single skewed index cell grows. Pass
    ``index_rows`` (the router does) to skip the sizing count.

    Id columns must be integral (cast to int64 inside the kernel); a
    non-integer id raises up front rather than corrupting the packed
    Arrow batches."""
    import math

    from ..sources.loaders import scatter
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    _integral = (ByteType, ShortType, IntegerType, LongType)
    for df, col, side in ((probes, query_id, "probe"), (index, index_id, "index")):
        dt = df.schema[col].dataType
        if not isinstance(dt, _integral):
            raise TypeError(
                f"ivf_knn_batch requires an integral {side} id column; "
                f"{col!r} is {dt.simpleString()} — remap ids to int64 first "
                f"(ivf_knn/lsh_knn preserve arbitrary id types)"
            )

    if n_cells is None:
        if index_rows is None:
            index_rows = index.count()
        n_cells = int(
            min(4096.0, max(16.0, 2 ** round(math.log2(max(math.sqrt(index_rows), 16.0)))))
        )

    if centroids is None:
        centroids = train_centroids_sample(
            index,
            n_cells,
            index_vec,
            sample_rows=max(4096, 8 * n_cells),
            cache_key=cache_key,
        )

    assign1 = _nearest_cells_udf(centroids, 1)
    assignp = _nearest_cells_udf(centroids, nprobe)
    idx_c = scatter(index).select(
        F.col(index_id),
        F.col(index_vec),
        assign1(F.col(index_vec))[0].alias("cell"),
    )
    prb_c = scatter(probes).select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(assignp(F.col(query_vec))).alias("cell"),
    )

    def score_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {query_id: [], index_id: [], "score": []}
        ).astype({query_id: "int64", index_id: "int64", "score": "float64"})
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        A = np.stack(lpdf[index_vec].to_numpy()).astype(np.float64)
        B = np.stack(rpdf[query_vec].to_numpy()).astype(np.float64)
        ids = lpdf[index_id].to_numpy().astype(np.int64)
        qids = rpdf[query_id].to_numpy().astype(np.int64)
        n, d = A.shape
        m = B.shape[0]
        an2 = np.zeros(n)
        for i in range(d):
            an2 = an2 + A[:, i] * A[:, i]
        an = np.sqrt(an2)
        # Tile BOTH axes so one dense block never exceeds _BLOCK_ELEMS
        # float64 elements (~512 MB): the probe axis is chunked (a hot
        # cell with millions of probes streams through), and — because a
        # fixed chunk floor would let a mega-cell's index axis alone
        # blow the budget (16·n elements is unbounded in n) — the INDEX
        # axis tiles too once n·chunk would overflow the budget, with
        # per-tile top-k merged per probe (identical result: any global
        # top-k row is in its tile's top-k, and the merge re-applies the
        # same (score desc, id asc) order).
        chunk = max(1, min(512, _BLOCK_ELEMS // max(n, 1)))
        tile = n if n * chunk <= _BLOCK_ELEMS else max(1, _BLOCK_ELEMS // chunk)
        out_q, out_i, out_s = [], [], []
        for c0 in range(0, m, chunk):
            Bc = B[c0 : c0 + chunk]
            qc = qids[c0 : c0 + chunk]
            mc = Bc.shape[0]
            bn2 = np.zeros(mc)
            for i in range(d):
                bn2 = bn2 + Bc[:, i] * Bc[:, i]
            bn = np.sqrt(bn2)
            cand_ids: list[list] = [[] for _ in range(mc)]
            cand_scs: list[list] = [[] for _ in range(mc)]
            for t0 in range(0, n, tile):
                At = A[t0 : t0 + tile]
                idt = ids[t0 : t0 + tile]
                ant = an[t0 : t0 + tile]
                acc = np.zeros((At.shape[0], mc))
                for i in range(d):
                    acc += np.outer(At[:, i], Bc[:, i])
                denom = ant[:, None] * bn[None, :]
                s = _round6_duck(
                    np.where(
                        denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), 0.0
                    )
                )
                for qi in range(mc):
                    mask = idt != qc[qi]
                    cand_i, cand_s = idt[mask], s[mask, qi]
                    if cand_i.size == 0:
                        continue
                    order = np.lexsort((cand_i, -cand_s))[:k]
                    cand_ids[qi].append(cand_i[order])
                    cand_scs[qi].append(cand_s[order])
            for qi in range(mc):
                if not cand_ids[qi]:
                    continue
                cand_i = np.concatenate(cand_ids[qi])
                cand_s = np.concatenate(cand_scs[qi])
                order = np.lexsort((cand_i, -cand_s))[:k]
                out_q.extend([qc[qi]] * len(order))
                out_i.extend(cand_i[order])
                out_s.extend(cand_s[order])
        return pd.DataFrame(
            {
                query_id: np.array(out_q, dtype=np.int64),
                index_id: np.array(out_i, dtype=np.int64),
                "score": np.array(out_s, dtype=np.float64),
            }
        )

    partials = (
        idx_c.groupBy("cell")
        .cogroup(prb_c.groupBy("cell"))
        .applyInPandas(
            score_cell, f"{query_id} long, {index_id} long, score double"
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(index_id))
    return partials.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def ivf_knn(
    probes: DataFrame,
    index: DataFrame,
    k: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    centroids: np.ndarray | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-Flat approximate kNN: assign index rows to their nearest
    centroid cell, probe the ``nprobe`` nearest cells per query, exact
    re-rank within candidates. At scale the index side would be written
    partitioned by ``cell`` so probing prunes partitions at the scan.
    ``cache_key`` (a stable corpus identity like the data dir) memoizes
    the trained codebook across calls — train-once-probe-many."""
    from ..sources.loaders import scatter

    if centroids is None:
        # train BEFORE scattering: sample order stays scan-deterministic
        centroids = train_centroids_sample(
            index, n_cells, index_vec, cache_key=cache_key
        )

    assign1 = _nearest_cells_udf(centroids, 1)
    assignp = _nearest_cells_udf(centroids, nprobe)
    idx_c = scatter(index).select(
        F.col(index_id),
        F.col(index_vec),
        assign1(F.col(index_vec))[0].alias("cell"),
    )
    prb_c = probes.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(assignp(F.col(query_vec))).alias("cell"),
    )
    cand = (
        idx_c.join(F.broadcast(prb_c), "cell")
        .filter(F.col(index_id) != F.col(query_id))
        .select(query_id, index_id, query_vec, index_vec)
    )
    scored = cand.select(
        query_id,
        index_id,
        F.round(cosine_sim_arrow(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(index_id))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def brute_topk_partials(
    emb: DataFrame,
    probes: list,
    k: int,
    dims: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Per-partition exact-kNN partials at multiple embedding-prefix
    truncations: returns ``(trunc_dim, query_id, vec_id, score)`` rows
    holding each Arrow batch's top-k candidates per (probe, truncation);
    a global per-(trunc_dim, query_id) window then yields the exact
    top-k. The ``maxsim_label_partials`` discipline generalized from
    max-reduction to top-k-reduction: scoring stays in one numpy pass,
    the reduction happens INSIDE the UDF, and the exchange carries at
    most |dims|·|probes|·k rows per batch — never the |rows| × |probes|
    pair space.

    Prefix truncations share work: dot products and squared norms
    accumulate dimension by dimension in strict index order over
    float64 (bit-identical to the Catalyst ``aggregate(zip_with(...))``
    fold and to ``_round6_duck`` rounding), and each requested dim
    snapshots the running accumulator — scoring 16+32+64 dims costs one
    64-dim pass, not three.

    ``probes`` is ``[(query_id, vector), ...]``, bounded by construction
    (the broadcast-smallness assumption, same as the centroid /
    hyperplane closures)."""
    qids = np.array([q for q, _ in probes], dtype=np.int64)
    P = np.array([list(v) for _, v in probes], dtype=np.float64)
    n_q = P.shape[0] if P.size else 0
    dims_sorted = sorted(dims)
    pn: dict[int, np.ndarray] = {}
    pn2 = np.zeros(n_q)
    j = 0
    for d in dims_sorted:
        while j < d:
            pn2 = pn2 + P[:, j] * P[:, j]
            j += 1
        pn[d] = np.sqrt(pn2.copy())

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0 or n_q == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy().astype(np.int64)
            n = A.shape[0]
            acc = np.zeros((n, n_q))
            an2 = np.zeros(n)
            out_d, out_q, out_v, out_s = [], [], [], []
            j = 0
            for d in dims_sorted:
                while j < d:
                    acc += np.outer(A[:, j], P[:, j])
                    an2 = an2 + A[:, j] * A[:, j]
                    j += 1
                denom = np.sqrt(an2)[:, None] * pn[d][None, :]
                s = _round6_duck(
                    np.where(
                        denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), 0.0
                    )
                )
                for qi in range(n_q):
                    col = s[:, qi]
                    mask = (
                        ids != qids[qi]
                        if exclude_self
                        else np.ones(n, dtype=bool)
                    )
                    cand_ids = ids[mask]
                    cand_s = col[mask]
                    if cand_ids.size == 0:
                        continue
                    # (score desc, vec_id asc) — lexsort keys are
                    # last-key-primary
                    order = np.lexsort((cand_ids, -cand_s))[:k]
                    out_d.extend([d] * len(order))
                    out_q.extend([qids[qi]] * len(order))
                    out_v.extend(cand_ids[order])
                    out_s.extend(cand_s[order])
            if out_d:
                yield pd.DataFrame(
                    {
                        "trunc_dim": np.array(out_d, dtype=np.int32),
                        "query_id": np.array(out_q, dtype=np.int64),
                        "vec_id": np.array(out_v, dtype=np.int64),
                        "score": np.array(out_s, dtype=np.float64),
                    }
                )

    return emb.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(
        part, "trunc_dim int, query_id long, vec_id long, score double"
    )


def brute_knn_block(
    index: DataFrame,
    panel: list,
    k: int,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact brute-force kNN as a blocked BLAS kernel: the probe panel
    (``[(query_id, vector), ...]``, bounded by the same smallness
    assumption broadcasting it makes) rides in the closure, the index
    crosses the wire ONCE, and each Arrow batch computes a dense
    ``A @ Pᵀ`` score block — so the |index| × |probes| pair space never
    exists as rows anywhere. The old broadcast-crossJoin form
    materialized both 64-float vectors onto every pair row: ~800 GB of
    traffic (289 s) at the 200 k × 4 k tier vs this kernel's one pass.

    Selection is exact under ties: scores round to 1e-6, so
    ``(score desc, id asc)`` collapses into one int64 key
    ``round(s·1e6)·2⁴⁰ − id`` (requires ids < 2⁴⁰, asserted) and
    per-probe top-k is a linear ``argpartition`` — no per-probe sort of
    the whole batch. Per-batch k-row partials feed one global
    per-query window.

    Unlike the strict-fold kernels above, the BLAS matmul does not
    reproduce the Catalyst fold's addition ORDER, so pre-rounding
    scores may differ in the last ulp; this path therefore ranks on
    the ROUNDED score (like every oracle-backed top-k in the repo) and
    backs rows-only surfaces (``knn_auto``'s exact regime), never an
    oracle that pins the fold."""
    qids = np.array([q for q, _ in panel], dtype=np.int64)
    P = np.array([list(v) for _, v in panel], dtype=np.float64)
    m = P.shape[0] if P.size else 0
    pn = np.sqrt((P * P).sum(axis=1)) if m else np.zeros(0)
    CHUNK = 512

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0 or m == 0:
                continue
            A = np.stack(pdf[index_vec].to_numpy()).astype(np.float64)
            ids = pdf[index_id].to_numpy().astype(np.int64)
            assert ids.max(initial=0) < (1 << 40), "id exceeds key packing"
            assert ids.min(initial=0) >= 0, "negative id corrupts packed key"
            n = A.shape[0]
            an = np.sqrt((A * A).sum(axis=1))
            kk = min(k, n)
            out_q, out_i, out_s = [], [], []
            for c0 in range(0, m, CHUNK):
                Pc = P[c0 : c0 + CHUNK]
                S = A @ Pc.T
                denom = an[:, None] * pn[c0 : c0 + CHUNK][None, :]
                s = _round6_duck(
                    np.where(denom > 0.0, S / np.where(denom > 0.0, denom, 1.0), 0.0)
                )
                key = np.rint(s * 1e6).astype(np.int64) * (1 << 40) - ids[:, None]
                # Genuine keys are bounded by |round(s·1e6)|·2⁴⁰ + 2⁴⁰ < 2⁶¹,
                # so −2⁶² is strictly below every genuine key AND survives the
                # `-col` negation below (INT64_MIN would wrap back to itself,
                # letting excluded self rows WIN the argpartition and evict a
                # true neighbor from the kk-row partial).
                SENT = -(1 << 62)
                if exclude_self:
                    key = np.where(
                        ids[:, None] == qids[c0 : c0 + CHUNK][None, :],
                        SENT,
                        key,
                    )
                for j in range(Pc.shape[0]):
                    col = key[:, j]
                    top = np.argpartition(-col, kk - 1)[:kk]
                    top = top[np.argsort(-col[top], kind="stable")]
                    if exclude_self:
                        top = top[col[top] != SENT]
                    out_q.extend([qids[c0 + j]] * len(top))
                    out_i.extend(ids[top])
                    out_s.extend(s[top, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.array(out_q, dtype=np.int64),
                        "vec_id": np.array(out_i, dtype=np.int64),
                        "score": np.array(out_s, dtype=np.float64),
                    }
                )

    return index.select(
        F.col(index_id).alias(index_id), F.col(index_vec).alias(index_vec)
    ).mapInPandas(part, "query_id long, vec_id long, score double")


def label_dim_sums(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-partition per-label vector sums: ``(label, pos, s, n)`` rows
    where ``s`` is the partition's float64 sum of component ``pos``
    over its label-``label`` vectors and ``n`` that label's row count
    in the partition (repeated per pos so a global
    ``sum(s)/sum(n)`` per (label, pos) is the exact mean). The
    centroid-update building block in the ``maxsim_label_partials``
    discipline: one numpy pass per batch replaces a |rows| × dim
    posexplode, and the exchange carries |labels| × dim rows per
    partition — never the exploded component space."""

    def part(batches):
        sums: dict = {}
        counts: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            labels = pdf[label_col].to_numpy()
            for lab in np.unique(labels):
                block = A[labels == lab]
                s = block.sum(axis=0)
                if lab in sums:
                    sums[lab] = sums[lab] + s
                    counts[lab] += block.shape[0]
                else:
                    sums[lab] = s
                    counts[lab] = block.shape[0]
        if sums:
            labs = sorted(sums)
            dim = sums[labs[0]].shape[0]
            yield pd.DataFrame(
                {
                    "label": np.repeat(np.array(labs), dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(labs)),
                    "s": np.concatenate([sums[lab] for lab in labs]),
                    "n": np.repeat(
                        np.array([counts[lab] for lab in labs], dtype=np.int64),
                        dim,
                    ),
                }
            )

    return emb.select(label_col, vec_col).mapInPandas(
        part, f"{label_col} int, pos int, s double, n long"
    )


def centroid_cosine_stat_partials(
    emb: DataFrame,
    labels: list,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-partition sums of round-6 member→centroid cosines:
    ``(label, clabel, csum, cnt)`` — the silhouette-lite sufficient
    statistics; a global ``sum(csum)/sum(cnt)`` per (label, clabel)
    yields the exact mean of rounded cosines. ``centroids`` is the
    bounded |labels| × dim matrix riding in the closure (the
    codebook-smallness assumption). Dot products and squared norms
    accumulate dimension by dimension in strict index order over
    float64 — the same floating additions, in the same order, as the
    Catalyst ``aggregate(zip_with(...))`` fold — and round via
    ``_round6_duck``, so per-pair cosines are bit-identical to the
    relational form while the |rows| × |labels| pair space never
    materializes as rows.

    Mean-stage boundary distance (ADVICE r10 #4): the downstream
    ``round(sum(csum)/sum(cnt), 6)`` accumulates partition partials in
    nondeterministic order, so it carries the repo's standard two-stage
    float exposure. The margin argument mirrors part_revenue's: each
    csum is a sum of 6-dp-rounded cosines — exact multiples of 1e-6
    held to ~1e-16 relative error — so the cross-partition sum differs
    from the canonical left-to-right sum by ≲ n·2⁻⁵² ≈ 1e-9 absolute
    at fixture scale, while a mean would need to sit within 5e-7·1e-2
    of a half-ulp-of-1e-6 boundary AND the reorder error would need to
    cross it for a flip vs DuckDB's avg; measured fixture means sit
    ≥1e-8 from every boundary (hash-green since introduction)."""
    labs_arr = np.asarray(labels)
    C = np.asarray(centroids, dtype=np.float64)
    n_l, dim = C.shape if C.size else (0, 0)
    cn2 = np.zeros(n_l)
    for i in range(dim):
        cn2 = cn2 + C[:, i] * C[:, i]
    cn = np.sqrt(cn2)

    def part(batches):
        acc_sum: dict = {}
        acc_cnt: dict = {}
        for pdf in batches:
            if len(pdf) == 0 or n_l == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            own = pdf[label_col].to_numpy()
            n = A.shape[0]
            acc = np.zeros((n, n_l))
            an2 = np.zeros(n)
            for i in range(dim):
                acc += np.outer(A[:, i], C[:, i])
                an2 = an2 + A[:, i] * A[:, i]
            denom = np.sqrt(an2)[:, None] * cn[None, :]
            s = _round6_duck(
                np.where(denom > 0.0, acc / np.where(denom > 0.0, denom, 1.0), 0.0)
            )
            for lab in np.unique(own):
                block = s[own == lab]
                if lab in acc_sum:
                    acc_sum[lab] = acc_sum[lab] + block.sum(axis=0)
                    acc_cnt[lab] += block.shape[0]
                else:
                    acc_sum[lab] = block.sum(axis=0)
                    acc_cnt[lab] = block.shape[0]
        if acc_sum:
            out_l = sorted(acc_sum)
            yield pd.DataFrame(
                {
                    "label": np.repeat(np.array(out_l), n_l),
                    "clabel": np.tile(labs_arr, len(out_l)),
                    "csum": np.concatenate([acc_sum[lab] for lab in out_l]),
                    "cnt": np.repeat(
                        np.array([acc_cnt[lab] for lab in out_l], dtype=np.int64),
                        n_l,
                    ),
                }
            )

    return emb.select(label_col, vec_col).mapInPandas(
        part, f"{label_col} int, clabel int, csum double, cnt long"
    )
