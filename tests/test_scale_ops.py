"""Scale-posture operators: cell-partitioned IVF index with partition
pruning, and the salted join for skewed keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.similarity import (
    train_centroids_sample,
    write_ivf_index,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.skew import (
    salted_join,
)
from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
    load_table,
)

SF = "/root/testdata/sf0.001"


def test_partition_pruning_reads_fewer_files(spark, tmp_path):
    emb = load_table(spark, "embeddings", SF)
    cents = train_centroids_sample(emb, n_cells=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, cents)

    full = spark.read.parquet(path)
    one_cell = full.filter(F.col("cell") == 0)
    # partition-pruned row count strictly below the full index
    assert 0 < one_cell.count() < full.count()


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, "lineitem", SF).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, "supplier", SF).select("s_suppkey", "s_name")
    plain = li.join(supp, li.l_suppkey == supp.s_suppkey).drop("s_suppkey")

    li2 = li.withColumnRenamed("l_suppkey", "k")
    supp2 = supp.withColumnRenamed("s_suppkey", "k")
    salted = salted_join(li2, supp2, on="k").withColumnRenamed("k", "l_suppkey")

    assert sorted(map(tuple, plain.select(sorted(plain.columns)).collect())) == sorted(
        map(tuple, salted.select(sorted(plain.columns)).collect())
    )


def test_salted_join_hot_equals_plain_join(spark):
    """Hot-key-only salting: identical result to a plain inner join,
    with only keys above the threshold ever replicated."""
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.skew import (
        salted_join_hot,
    )

    li = load_table(spark, "lineitem", SF).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, "supplier", SF).select("s_suppkey", "s_name")
    plain = li.join(supp, li.l_suppkey == supp.s_suppkey).drop("s_suppkey")

    li2 = li.withColumnRenamed("l_suppkey", "k")
    supp2 = supp.withColumnRenamed("s_suppkey", "k")
    salted = salted_join_hot(li2, supp2, on="k", hot_threshold=50).withColumnRenamed(
        "k", "l_suppkey"
    )
    assert sorted(map(tuple, plain.select(sorted(plain.columns)).collect())) == sorted(
        map(tuple, salted.select(sorted(plain.columns)).collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    f = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], "k int, v string")
    d = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    out = salted_join(f, d, on="k", how="left").collect()
    assert len(out) == 3
    assert {r.k: r.name for r in out}[99] is None


def test_bucketed_tables_join_without_exchange(spark):
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        write_bucketed,
    )

    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_quantity")
    orders = load_table(spark, "orders", SF).select("o_orderkey", "o_totalprice")
    try:
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "okey"), "t_li_bkt", "okey"
        )
        write_bucketed(
            orders.withColumnRenamed("o_orderkey", "okey"), "t_ord_bkt", "okey"
        )
        a = spark.table("t_li_bkt")
        b = spark.table("t_ord_bkt")
        joined = a.join(b, "okey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: sort-merge join with ZERO shuffle on either side
        assert "Exchange hashpartitioning" not in plan
        # and it is still the correct join
        expect = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_ord_bkt")


def test_skyline_matches_bruteforce_on_random_points(spark):
    """Property: the two-phase skyline equals the O(n²) definition on
    random (price, qty) points, including duplicate-point ties (neither
    dominates, both stay)."""
    import random

    rnd = random.Random(7)
    pts = [(i, round(rnd.uniform(0, 10), 2), round(rnd.uniform(0, 10), 2)) for i in range(300)]
    pts += [(1000, 5.0, 5.0), (1001, 5.0, 5.0)]  # exact duplicates
    df = spark.createDataFrame(pts, "part_id long, price double, qty double").repartition(7)

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.skyline import (
        skyline,
    )

    got = {r.part_id for r in skyline(df).collect()}
    want = {
        pid
        for pid, pr, q in pts
        if not any(
            dp <= pr and dq >= q and (dp < pr or dq > q) for _, dp, dq in pts
        )
    }
    assert got == want


def test_quantiles_match_builtin_percentile(spark):
    """The distributed order-statistic quantile must agree with Spark's
    single-buffer exact percentile (same interpolation definition) on
    adversarial data: heavy ties, negatives straddling bucket
    boundaries, and n not divisible by the fraction denominators."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranks import (
        quantiles,
        tie_classes,
    )

    rng = random.Random(5)
    vals = (
        [float(rng.randint(-3, 3)) for _ in range(501)]  # dense ties
        + [rng.uniform(-2000, 2000) for _ in range(351)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    fracs = [0.01, 0.125, 0.5, 0.875, 0.99]
    got = {
        r.frac: r.quantile
        for r in quantiles(tie_classes(df, "x", bucket_width=7.0), fracs).collect()
    }
    want = df.agg(
        F.percentile("x", F.array(*[F.lit(p) for p in fracs])).alias("p")
    ).collect()[0].p
    assert len(got) == len(fracs)
    for q, w in zip(fracs, want):
        assert got[q] == pytest.approx(w, abs=1e-9), q


def test_grouped_quantiles_match_numpy_per_group(spark):
    """quantile_cont semantics per group, from the grouped tie-class
    machinery — cross-checked against numpy's linear interpolation on
    each group's sorted values."""
    import numpy as np
    from collections import defaultdict
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranks import (
        quantiles,
        tie_classes,
    )

    li = load_table(spark, "lineitem", SF)
    by_flag = defaultdict(list)
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        by_flag[r.l_returnflag].append(r.l_extendedprice)
    fracs = [0.1, 0.25, 0.5, 0.75, 0.9]
    got = {
        (r.l_returnflag, r.frac): r.quantile
        for r in quantiles(
            tie_classes(li, "l_extendedprice", by=("l_returnflag",)),
            fracs,
            by=("l_returnflag",),
        ).collect()
    }
    assert len(got) == len(by_flag) * len(fracs)
    for flag, vals in by_flag.items():
        for q in fracs:
            assert abs(got[(flag, q)] - np.quantile(vals, q)) < 1e-6, (flag, q)

def test_quantile_machinery_ignores_nulls(spark):
    """NULLs in the value column must be ignored (quantile_cont /
    percentile semantics). Before the r7-ADVICE fix the NULL class
    inflated every real class's cum via the prefix-sum window but
    dropped out of the bkt equi-join, shifting all order statistics
    (ADVICE r7, operators/ranks.py tie_classes)."""
    import numpy as np
    import pytest
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranks import (
        quantiles,
        tie_classes,
    )

    vals = [float(v) for v in range(1, 42)]
    rows = [(("a" if v % 2 else "b"), v) for v in vals]
    rows += [("a", None), ("b", None), ("b", None)]  # the poison rows
    df = spark.createDataFrame(rows, "g string, x double").repartition(4)
    fracs = [0.25, 0.5, 0.75]

    got = {
        r.frac: r.quantile
        for r in quantiles(tie_classes(df, "x", bucket_width=7.0), fracs).collect()
    }
    for q in fracs:
        assert got[q] == pytest.approx(float(np.quantile(vals, q)), abs=1e-9), q

    by_g = {"a": [v for v in vals if v % 2], "b": [v for v in vals if not v % 2]}
    gq = {
        (r.g, r.frac): r.quantile
        for r in quantiles(
            tie_classes(df, "x", by=("g",), bucket_width=7.0), fracs, by=("g",)
        ).collect()
    }
    assert len(gq) == len(by_g) * len(fracs)  # no NULL group rows leak out
    for g, gvals in by_g.items():
        for q in fracs:
            assert gq[(g, q)] == pytest.approx(float(np.quantile(gvals, q)), abs=1e-9), (g, q)


def test_class_cum_matches_python_prefix_count(spark):
    """``cum`` is the sum of ``cnt`` over the group's classes with a
    smaller value, whatever the bucket layout: heavy ties, negative
    values crossing bucket edges, and a width that leaves most buckets
    empty. Columns other than the rank pass through unchanged."""
    import random
    from collections import defaultdict

    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranks import (
        class_cum,
    )

    rng = random.Random(11)
    raw = [
        (
            rng.choice("ab"),
            # heavy ties around zero, then a sparse spread over ±5000
            float(rng.randint(-4, 4))
            if rng.random() < 0.5
            else round(rng.uniform(-5000.0, 5000.0), 1),
            rng.randint(1, 5),
            rng.randint(-9, 9),
        )
        for _ in range(600)
    ]
    for by in ((), ("g",)):
        # one class row per (g, v); the global form sees one group "*"
        agg = defaultdict(lambda: [0, 0])
        for g, v, c, e in raw:
            a = agg[(g if by else "*", v)]
            a[0] += c
            a[1] += e
        rows = [(g, v, c, e) for (g, v), (c, e) in agg.items()]
        vc = spark.createDataFrame(
            rows, "g string, v double, cnt long, extra long"
        ).repartition(5)
        want = {
            (g, v): sum(c2 for g2, v2, c2, _ in rows if g2 == g and v2 < v)
            for g, v, _, _ in rows
        }
        extra = {(g, v): e for g, v, _, e in rows}
        for width in (7.0, 1000.0, 1e6):
            out = class_cum(vc, "v", by=by, bucket_width=width)
            assert out.columns == ["g", "v", "cnt", "extra", "cum"]
            got = out.collect()
            assert len(got) == len(rows)
            for r in got:
                assert r.cum == want[(r.g, r.v)], (by, width, r)
                assert r.extra == extra[(r.g, r.v)], (by, width, r)
