"""Frequency & integrity wave 10 (SURVEY §2.20): co-occurrence mining
and corpus-accounting operators — pairwise association rules over
order baskets (the classic market-basket generalization of the
reference's retrieve-then-recommend loop, /root/reference/AI.py:
131-147), Misra-Gries heavy hitters with exact recount (the two-phase
candidate-then-verify sketch pattern that replaces a full-vocabulary
shuffle), a per-source document cap (corpus balancing via per-group
top-k), and a referential-integrity audit (orphan accounting across
the fact→dim chain).

Every query has an exact DuckDB oracle. The Misra-Gries output is
exact despite the sketch: per-partition MG(k) candidates are a
provable SUPERSET of the global n/k-heavy items (pigeonhole: a
globally heavy item is locally heavy in at least one partition), and
the second pass recounts candidates exactly — so the hash check
verifies real heavy-hitter semantics, not sketch noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .functions.tokenize import SQL_TOKS, py_toks, toks_col
from .registry import query
from .sources.loaders import load_table, local_frame, scatter


# --- H1: pairwise association rules over order baskets ---------------------


@query(
    "q_assoc_rules",
    oracle="""
    WITH li_s AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey % 10 = 0),
    n AS (SELECT count(DISTINCT l_orderkey)::DOUBLE AS nb FROM li_s),
    item AS (SELECT l_partkey, count(*)::DOUBLE AS ci FROM li_s GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS ant, b.l_partkey AS cons,
             count(*)::DOUBLE AS cp
      FROM li_s a JOIN li_s b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT ant, cons,
           round(cp / n.nb, 6) AS support,
           round(cp / ia.ci, 6) AS confidence,
           round(cp * n.nb / (ia.ci * ic.ci), 6) AS lift
    FROM pair CROSS JOIN n
    JOIN item ia ON ia.l_partkey = pair.ant
    JOIN item ic ON ic.l_partkey = pair.cons
    WHERE cp >= 2
    ORDER BY lift DESC, ant, cons LIMIT 20
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: support / confidence / lift for
    part pairs co-occurring in an order, top-20 by lift with a min
    pair-count cut. Shape at scale: pair enumeration is an equi-join
    keyed on the basket id (quadratic only WITHIN a basket — bounded by
    basket size, never |corpus|²), pair counts combine map-side, item
    supports are a vocabulary-sized table that BROADCASTS onto the pair
    list, and |baskets| rides a 1-row broadcast. The min-support cut
    (cp >= 2) runs before the broadcast joins so noise pairs never
    reach them."""
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.count_distinct("l_orderkey").cast("double").alias("nb"))
    # NOTE (r11): a lazy checkpoint on the support table (it feeds both
    # broadcast sides) measured 0.7→1.0 s at sf0.1 — the barrier costs
    # more than the overlapped duplicate aggregate saves — so the
    # duplication is kept deliberately at this tier.
    item = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("double").alias("ci")
    )
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ant"),
            F.col("b.l_partkey").alias("cons"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("cp"))
        .filter(F.col("cp") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("ant"), F.col("ci").alias("ca"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("ci").alias("cc"))
    return (
        pair.crossJoin(F.broadcast(n))
        .join(F.broadcast(ia), "ant")
        .join(F.broadcast(ic), "cons")
        .select(
            "ant",
            "cons",
            F.round(F.col("cp") / F.col("nb"), 6).alias("support"),
            F.round(F.col("cp") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("cp") * F.col("nb") / (F.col("ca") * F.col("cc")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ant", "cons")
        .limit(20)
    )


# --- H2: Misra-Gries heavy hitters with exact recount ----------------------

_MG_K = 200  # heavy-hitter threshold: count > n_tokens / _MG_K


def _mg_candidates(it):
    """Per-partition Misra-Gries summary with _MG_K counters over the
    token stream: every item with partition frequency > n_p/_MG_K
    survives. Classic decrement form (Misra & Gries 1982): O(k) memory
    regardless of vocabulary size. Also emits one (NULL, n_tokens) row
    so the same scan yields the global denominator — no third corpus
    pass just to count tokens.

    Tokenizes with the shared ASCII-whitespace contract (py_toks), NOT
    bare str.split(): the exact recount and the oracle split on ASCII
    \\s+ only, and the candidate set must be a superset of *their*
    heavy hitters — a Unicode-whitespace split would build candidates
    from a different token stream on non-ASCII text."""
    counters: dict[str, int] = {}
    total = 0
    for pdf in it:
        for text in pdf["text"]:
            for tok in py_toks(text):
                total += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < _MG_K:
                    counters[tok] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
    import pandas as pd

    yield pd.DataFrame(
        {"tok": list(counters) + [None], "n": [0] * len(counters) + [total]}
    )


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS}) AS tok
      FROM documents),
    n AS (SELECT count(*)::DOUBLE AS c FROM toks)
    SELECT tok, count(*) AS cnt
    FROM toks CROSS JOIN n
    GROUP BY tok, n.c
    HAVING count(*) > n.c / {_MG_K}
    ORDER BY cnt DESC, tok
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with count > n/200) via the two-phase
    sketch pattern: phase 1 runs Misra-Gries with 200 counters per
    partition in Arrow batches — O(k) memory per task, NO shuffle of
    the vocabulary — and the union of per-partition candidates is a
    provable superset of every global heavy hitter (pigeonhole over
    partition token counts). Phase 2 broadcast-semi-joins the bounded
    candidate set back onto the token stream and recounts EXACTLY, so
    the output is exact while the shuffle carries only
    |partitions| × 200 candidate partials instead of the full
    vocabulary. This is how a 100 TB vocabulary scan stays in bounded
    memory; the exact groupBy twin would shuffle every distinct token.
    Two corpus passes total: the MG summary (which also carries the
    token-count denominator, checkpointed so candidates and the scalar
    read ONE materialization) and the candidate recount."""
    docs = scatter(load_table(spark, "documents", sf_dir).select("text"))
    mg = docs.mapInPandas(
        _mg_candidates,
        StructType(
            [StructField("tok", StringType()), StructField("n", LongType())]
        ),
    ).localCheckpoint(eager=False)
    cand = mg.filter(F.col("tok").isNotNull()).select("tok").distinct()
    n = mg.agg(F.sum("n").cast("double").alias("c"))
    toks = docs.select(F.explode(toks_col()).alias("tok"))
    return (
        toks.join(F.broadcast(cand), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") > F.col("c") / _MG_K)
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


# --- H3: per-source document cap (corpus balancing) ------------------------

_CAP = 300
_CAP_MULT = 2654435761
_CAP_SEED = 98765
_CAP_MOD = 2147483647


@query(
    "q_source_cap",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * {_CAP_MULT} + {_CAP_SEED}) % {_CAP_MOD},
                        doc_id) AS rn
      FROM documents)
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN rn <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn > {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(sum(CASE WHEN rn <= {_CAP} THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM h GROUP BY source ORDER BY source
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: every source keeps at most 300 docs,
    chosen by a SEEDED multiplicative hash (reproducible "random"
    sample — `rand()` would pick a different corpus every run/engine),
    with the kept/dropped audit per source. ``kept_id_sum`` checksums
    the EXACT kept set, so the hash-ordered selection itself is
    hash-verified, not just its size. The rank window is keyed on
    source — a parallel per-key sort, never a global one. The audit
    form necessarily ranks every row; the writer form of the same cap
    (``filter(rn <= cap)`` and keep the rows) plans WindowGroupLimit,
    the partial per-partition top-k below the exchange (J2's kNN cut
    primitive), so each mapper forwards at most cap rows per source."""
    from pyspark.sql import Window

    h = ((F.col("doc_id") * _CAP_MULT + _CAP_SEED) % _CAP_MOD).alias("h")
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("rn") <= _CAP).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") > _CAP).cast("long")).alias("n_dropped"),
            F.sum(
                F.when(F.col("rn") <= _CAP, F.col("doc_id")).otherwise(0)
            ).alias("kept_id_sum"),
        )
        .orderBy("source")
    )


# --- H4: referential-integrity audit ---------------------------------------


@query(
    "q_fk_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, count(*) AS n_child,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_orphans,
           count(DISTINCT l.l_orderkey) AS n_keys
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           count(DISTINCT l.l_partkey)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           count(DISTINCT o.o_custkey)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY fk
    """,
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the fact→dim chain: per FK
    edge, child row count, orphan count (child keys missing from the
    parent), and distinct-key cardinality — the constraint report a
    lakehouse ingest emits since parquet enforces nothing. Each edge
    is one left join; TRUE dims (part, customer) force a broadcast of
    their key column, but the lineitem→orders edge's parent is itself
    a fact — forcing a broadcast there is a latent OOM at warehouse
    scale (caught in the round-4 100× sweep review), so that edge
    leaves the strategy to AQE: broadcast while orders fits, keyed
    join co-partitioned on the FK once it doesn't. The orphan test is
    a null probe on the parent side either way; the audits union into
    one report."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    part = load_table(spark, "part", sf_dir)
    cust = load_table(spark, "customer", sf_dir)

    def audit(child, ckey, parent, pkey, name, force_broadcast=True):
        pk = parent.select(F.col(pkey))
        if force_broadcast:
            pk = F.broadcast(pk)
        return (
            child.join(
                pk,
                child[ckey] == F.col(pkey),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.col(pkey).isNull().cast("long")).alias("n_orphans"),
                F.count_distinct(child[ckey]).alias("n_keys"),
            )
            .select(F.lit(name).alias("fk"), "n_child", "n_orphans", "n_keys")
        )

    return (
        audit(
            li,
            "l_orderkey",
            orders,
            "o_orderkey",
            "lineitem->orders",
            force_broadcast=False,
        )
        .unionByName(audit(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionByName(
            audit(orders, "o_custkey", cust, "c_custkey", "orders->customer")
        )
        .orderBy("fk")
    )


# --- H5: time-decayed popularity ---------------------------------------------

_DECAY_REF = "2001-11-04"  # the fixture's last ship date
_DECAY_HALF_LIFE_DAYS = 365.0


@query(
    "q_decay_popularity",
    oracle=f"""
    WITH scored AS (
      SELECT l_partkey,
             l_quantity * power(0.5,
               date_diff('day', l_shipdate, DATE '{_DECAY_REF}')
                 / {_DECAY_HALF_LIFE_DAYS}) AS w
      FROM lineitem)
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_ships,
           round(sum(w), 4) AS decayed_qty
    FROM scored GROUP BY l_partkey
    ORDER BY decayed_qty DESC, l_partkey LIMIT 20
    """,
)
def q_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decayed popularity (H5): each shipment's
    quantity is discounted by 2^(−age/half-life) against a fixed
    reference date, summed per part — the recency-weighted popularity
    prior every recommender front-end keeps warm (raw counts freeze
    yesterday's catalog at the top forever; q_trending_topk's windowed
    counts are the streaming cousin). The decay weight is a row-local
    expression, so the whole operator is one map-side-combined hash
    aggregate plus a TakeOrderedAndProject — scan-bound at 100 TB. The
    top-k orders by the ROUNDED score with an id tie-break, per the
    engine-wide determinism rule."""
    li = load_table(spark, "lineitem", sf_dir)
    age = F.datediff(F.lit(_DECAY_REF).cast("date"), F.col("l_shipdate"))
    w = F.col("l_quantity") * F.pow(
        F.lit(0.5), age / F.lit(_DECAY_HALF_LIFE_DAYS)
    )
    return (
        li.select("l_partkey", w.alias("w"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ships"),
            F.round(F.sum("w"), 4).alias("decayed_qty"),
        )
        .orderBy(F.desc("decayed_qty"), F.asc("l_partkey"))
        .limit(20)
    )


# --- H6: count-min sketch calibration audit ----------------------------------

_CMS_W = 512  # columns per row
_CMS_ROWS = ((3, 17), (5, 29), (7, 43), (11, 61))  # (a_r, b_r) per row
_CMS_P = 2147483647  # Mersenne 2^31-1, matches functions.text.MERSENNE_P
_CMS_TOPK = 20


@query(
    "q_cms_calibration",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({SQL_TOKS}) AS tok FROM documents),
    hashed AS (
      SELECT tok,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CMS_P} AS h
      FROM tok),
    cells AS (
      SELECT r.rid,
             (r.a * h.h + r.b) % {_CMS_P} % {_CMS_W} AS col,
             CAST(count(*) AS BIGINT) AS n
      FROM hashed h,
           (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_CMS_ROWS))})
             AS r(rid, a, b)
      GROUP BY 1, 2),
    exact AS (
      SELECT tok, ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CMS_P} AS h,
             CAST(count(*) AS BIGINT) AS exact_n
      FROM hashed GROUP BY 1, 2
      ORDER BY exact_n DESC, tok LIMIT {_CMS_TOPK}),
    est AS (
      SELECT e.tok, e.exact_n, CAST(min(c.n) AS BIGINT) AS cms_est
      FROM exact e
      JOIN (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_CMS_ROWS))})
             AS r(rid, a, b) ON true
      JOIN cells c
        ON c.rid = r.rid AND c.col = (r.a * e.h + r.b) % {_CMS_P} % {_CMS_W}
      GROUP BY 1, 2)
    SELECT tok, exact_n, cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overcount,
           CASE WHEN cms_est >= exact_n THEN 1 ELSE 0 END AS never_undercounts
    FROM est ORDER BY exact_n DESC, tok
    """,
)
def q_cms_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch calibration audit (H6, wave 36): build a
    4x512-cell CMS over the corpus token stream with portable
    md5-prefix hashing, then audit its estimates against exact counts
    for the top-20 tokens — overcount per probe and the
    one-sided-error invariant (CMS never undercounts). The streaming
    complement to H2's Misra-Gries: MG bounds memory at O(k) and
    undercounts; CMS bounds it at O(w·d) and overcounts — this audit
    measures the eps·N overcount a 512-column sketch actually pays on a
    Zipf-ish vocabulary, which is how one sizes w before deploying.

    Scale shape: the sketch build is ONE (row, col)-keyed aggregate
    whose exchange carries ≤ d·w = 2048 partial counters per
    mapper regardless of corpus size — THE point of a CMS. The exact
    side is the standard token aggregate with a TopK heap cut; the
    probe join touches d rows per probe against the 2 K-cell sketch.
    All hash arithmetic stays < 2^42 — int64-exact on both engines."""
    # ONE fact pass: the token stream collapses to exact (tok, count)
    # classes first, and the sketch is built from the CLASSES (cell
    # count = sum of its tokens' exact counts — algebraically identical
    # to per-occurrence increments, with md5 evaluated once per DISTINCT
    # token instead of once per occurrence on each consumer)
    vocab = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(toks_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .select(
            "tok",
            "exact_n",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % _CMS_P
            ).alias("h"),
        )
        .localCheckpoint()
    )
    rows_df = local_frame(
        spark, [(i, a, b) for i, (a, b) in enumerate(_CMS_ROWS)], "rid int, a int, b int"
    )
    cells = (
        vocab.join(F.broadcast(rows_df))
        .groupBy(
            "rid",
            ((F.col("a") * F.col("h") + F.col("b")) % _CMS_P % _CMS_W).alias("col"),
        )
        .agg(F.sum("exact_n").cast("long").alias("n"))
    )
    exact = (
        vocab.select("tok", "h", "exact_n")
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(_CMS_TOPK)
    )
    probe_cells = cells.select(
        F.col("rid").alias("crid"), F.col("col").alias("ccol"), "n"
    )
    est = (
        F.broadcast(exact.join(F.broadcast(rows_df)))
        .join(
            probe_cells,
            (F.col("rid") == F.col("crid"))
            & (
                ((F.col("a") * F.col("h") + F.col("b")) % _CMS_P % _CMS_W)
                == F.col("ccol")
            ),
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("n").cast("long").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overcount"),
        F.when(F.col("cms_est") >= F.col("exact_n"), 1).otherwise(0).alias(
            "never_undercounts"
        ),
    ).orderBy(F.desc("exact_n"), F.asc("tok"))


# --- H7: heavy-change detection between corpus slices --------------------------

_HC_K = 20


@query(
    "q_heavy_change",
    oracle=f"""
    WITH tok AS (
      SELECT lang = 'en' AS is_en, unnest({SQL_TOKS}) AS term
      FROM documents),
    cnt AS (
      SELECT term,
             CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM tok GROUP BY 1),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
      FROM cnt),
    scored AS (
      SELECT c.term, c.ca, c.cb,
             abs(CAST(c.ca AS HUGEINT) * t.tb
                 - CAST(c.cb AS HUGEINT) * t.ta) AS xdelta,
             t.ta, t.tb
      FROM cnt c, tot t)
    SELECT term, ca AS count_en, cb AS count_rest,
           round(ca / CAST(ta AS DOUBLE) - cb / CAST(tb AS DOUBLE), 6)
             AS freq_delta
    FROM scored ORDER BY xdelta DESC, term LIMIT {_HC_K}
    """,
)
def q_heavy_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-change detection (H7, wave 38): the {_HC_K} terms whose
    relative frequency differs most between the English slice and the
    rest of the corpus — the CHANGE-oriented sibling of H2's heavy
    hitters (Cormode & Muthukrishnan's heavy-change primitive: what a
    drift monitor actually wants is not what is frequent, but what
    MOVED). Language slices stand in for time slices; the identical
    plan serves day-over-day crawl deltas.

    Exactness: ranking by |f_a − f_b| compares float ratios — the
    classic cross-engine trap. The sort key is instead the exact
    int64 cross product |c_a·T_b − c_b·T_a| (equivalent ordering:
    multiply both frequencies by T_a·T_b > 0), so the top-k cut and
    tie-break (term asc) are integer-deterministic; the float delta is
    display-only, rounded at 6. 100 TB shape: one token explode to a
    (term)-keyed count pair, a 2-counter broadcast, and a TakeOrdered
    {_HC_K}-row cut — never a rank window over the vocabulary."""
    docs = load_table(spark, "documents", sf_dir).select(
        (F.col("lang") == "en").alias("is_en"), toks_col("text").alias("toks")
    )
    cnt = (
        docs.select("is_en", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("is_en"), 0).otherwise(1))
            .cast("long")
            .alias("cb"),
        )
        # vocab-sized; two consumers (totals + scored) — checkpoint so
        # the token explode runs once
        .localCheckpoint()
    )
    tot = cnt.agg(
        F.sum("ca").cast("long").alias("ta"),
        F.sum("cb").cast("long").alias("tb"),
    )
    scored = cnt.crossJoin(F.broadcast(tot)).select(
        "term",
        "ca",
        "cb",
        "ta",
        "tb",
        # decimal(38,0) cross product: per-slice totals reach ~1e10 on a
        # 100 TB corpus, so ca*tb can exceed 2^63 — int64 would wrap
        # silently on Spark while DuckDB raises (ADVICE r9). HUGEINT on
        # the oracle side; the key is sort-only so output types are
        # unaffected.
        F.abs(
            F.col("ca").cast("decimal(19,0)") * F.col("tb").cast("decimal(19,0)")
            - F.col("cb").cast("decimal(19,0)") * F.col("ta").cast("decimal(19,0)")
        ).alias("xdelta"),
    )
    return (
        scored.orderBy(F.desc("xdelta"), F.asc("term"))
        .limit(_HC_K)
        .select(
            "term",
            F.col("ca").alias("count_en"),
            F.col("cb").alias("count_rest"),
            F.round(
                F.col("ca") / F.col("ta").cast("double")
                - F.col("cb") / F.col("tb").cast("double"),
                6,
            ).alias("freq_delta"),
        )
    )


# --- H9: negative-association (anti-affinity) screen ----------------------------

_NEG_TOP_ITEMS = 20
_NEG_OUT_K = 15


@query(
    "q_negative_association",
    oracle=f"""
    WITH li_s AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb FROM li_s),
    item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS ci
      FROM li_s GROUP BY 1),
    top AS (
      SELECT l_partkey, ci FROM item
      ORDER BY ci DESC, l_partkey LIMIT {_NEG_TOP_ITEMS}),
    cand AS (
      SELECT a.l_partkey AS pa, a.ci AS ca, b.l_partkey AS pb, b.ci AS cb
      FROM top a JOIN top b ON a.l_partkey < b.l_partkey),
    co AS (
      SELECT x.l_partkey AS pa, y.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS n_co
      FROM li_s x
      JOIN li_s y ON x.l_orderkey = y.l_orderkey
                 AND x.l_partkey < y.l_partkey
      WHERE x.l_partkey IN (SELECT l_partkey FROM top)
        AND y.l_partkey IN (SELECT l_partkey FROM top)
      GROUP BY 1, 2)
    SELECT cand.pa AS part_a, cand.pb AS part_b, cand.ca AS c_a,
           cand.cb AS c_b, coalesce(co.n_co, 0) AS n_co,
           round(cand.ca * cand.cb / CAST(n.nb AS DOUBLE), 6)
             AS expected_co,
           round(coalesce(co.n_co, 0) * CAST(n.nb AS DOUBLE)
                 / (cand.ca * cand.cb), 6) AS lift
    FROM cand CROSS JOIN n
    LEFT JOIN co ON co.pa = cand.pa AND co.pb = cand.pb
    ORDER BY lift, part_a, part_b LIMIT {_NEG_OUT_K}
    """,
)
def q_negative_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-association screen (H9, wave 42): among the top-20
    most-purchased parts, which pairs co-occur LESS than independence
    predicts? H1's association rules can only surface pairs that DO
    co-occur (its pair table comes from observed baskets); the
    substitute/cannibalization signal lives in the pairs that should
    co-occur but don't — so this query materializes the full candidate
    grid over the frequent-item panel (190 pairs, absent pairs
    included via left join at lift 0) and returns the bottom-15 by
    lift with observed vs expected counts.

    Exactness: basket counts, item supports, and co-occurrence counts
    are exact int64; expected = c_a·c_b/n and lift = n_co·n/(c_a·c_b)
    divide identical integers, rounded 6-dp; ordering ties (several
    all-zero-lift pairs) break on (part_a, part_b).

    Shape at scale: item supports are ONE part-keyed aggregate; the
    top-20 cut is TakeOrdered; the candidate grid is top-20 × top-20 —
    a bounded broadcast panel, never |parts|²; the co-occurrence join
    restricts BOTH sides to the 20 panel keys (broadcast semi-join)
    BEFORE the orderkey-keyed self-join, so the pair space is bounded
    by (basket ∩ panel)² ≤ 190 per basket. The three consumers
    deliberately RE-SCAN the two-column pruned fact instead of
    checkpointing the |lineitem|-sized distinct projection —
    materializing a fact-sized frame is exactly what dies at 100 TB
    (and measurably OOMs the 100× local tier), while parallel pruned
    scans are the cheap term."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    n = li.agg(F.count_distinct("l_orderkey").cast("long").alias("nb"))
    item = (
        li.distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("ci"))
    )
    # lazy checkpoints (r11): `top` (20 rows) feeds the two grid sides
    # and the semi-join keys — as plain plan subtrees the item-support
    # fact aggregate re-ran 3×; `li_top` (panel-restricted distinct,
    # bounded by 20 parts' baskets — NOT the fact-sized frame the
    # docstring's OOM note is about) feeds both self-join sides. The
    # shared RDD nodes compute once inside the same job; 7 fact scans
    # → 3 (r11 scan-dupe sweep).
    top = (
        item.orderBy(F.desc("ci"), F.asc("l_partkey"))
        .limit(_NEG_TOP_ITEMS)
        .localCheckpoint(eager=False)
    )
    ta = top.select(F.col("l_partkey").alias("pa"), F.col("ci").alias("ca"))
    tb = top.select(F.col("l_partkey").alias("pb"), F.col("ci").alias("cb"))
    cand = ta.crossJoin(tb).filter(F.col("pa") < F.col("pb"))
    keys = top.select("l_partkey")
    li_top = (
        li.join(F.broadcast(keys), "l_partkey", "left_semi")
        .distinct()
        .localCheckpoint(eager=False)
    )
    x = li_top.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    y = li_top.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
    )
    co = (
        x.join(y, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
    )
    return (
        cand.join(F.broadcast(co), ["pa", "pb"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("ca").alias("c_a"),
            F.col("cb").alias("c_b"),
            F.coalesce("n_co", F.lit(0)).cast("long").alias("n_co"),
            F.round(
                F.col("ca") * F.col("cb") / F.col("nb").cast("double"), 6
            ).alias("expected_co"),
            F.round(
                F.coalesce("n_co", F.lit(0))
                * F.col("nb").cast("double")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy("lift", "part_a", "part_b")
        .limit(_NEG_OUT_K)
    )
