"""Direct order-independence pins for the integer-grid float work.

The fleet claim since r10/r11: every gridded aggregate produces
BIT-IDENTICAL output regardless of accumulation order. The full-sweep
evidence is empirical (the sf0.01 contract re-ran green at local[7],
a different partition count); these tests pin the property per
operator by evaluating the SAME input under adversarially different
physical layouts — one partition vs many, and a reversed input order —
and requiring exact equality, not approx. A raw SUM/AVG of doubles
fails this shape of test whenever a group's values land near a
rounding boundary; the grids make it hold by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _layouts(df):
    """The same relation under three hostile layouts: single partition
    (one accumulation chain), many partitions (parallel partials), and
    reversed sort order in one partition (reversed chain)."""
    yield df.repartition(1)
    yield df.repartition(17)
    yield df.repartition(1).sortWithinPartitions(F.col("__ord").desc())


def _rows(results):
    canon = [
        sorted(tuple(r) for r in res.drop("__ord").collect())
        if "__ord" in res.columns
        else sorted(tuple(r) for r in res.collect())
        for res in results
    ]
    return canon


def test_winsorize_grid_means_layout_invariant(spark):
    # values chosen to sit NEAR 6dp half boundaries once averaged
    rows = [
        (i, "a" if i % 2 == 0 else "b", 0.0000005 + i * 0.1000001)
        for i in range(400)
    ]
    base = spark.createDataFrame(
        rows, "__ord long, event_type string, value double"
    ).withColumnRenamed("__ord", "__ord")
    from rclabsapi_spark.functions.scalars import round_half_up

    def nano(c):
        return F.floor(c * 1000000000.0 + F.lit(0.5)).cast("long")

    outs = []
    for lay in _layouts(base):
        outs.append(
            lay.groupBy("event_type").agg(
                round_half_up(
                    F.sum(nano(F.col("value"))).cast("double")
                    / (F.count(F.lit(1)) * 1000000000.0),
                    6,
                ).alias("m")
            )
        )
    a, b, c = _rows(outs)
    assert a == b == c


def test_rfm_monetary_grid_sum_layout_invariant(spark):
    from rclabsapi_spark.operators.analytics import rfm_scores
    from rclabsapi_spark.planaudit import inspect_plans

    rows = [
        (
            i,
            i % 13,
            f"2001-0{1 + i % 9}-1{i % 3} 00:00:00",
            100.0000005 + i * 7.0000001,
        )
        for i in range(390)
    ]
    base = spark.createDataFrame(
        rows, "__ord long, o_custkey long, o_orderdate string, o_totalprice double"
    )
    outs = []
    with inspect_plans():
        for lay in _layouts(base):
            outs.append(
                rfm_scores(lay.drop("__ord"), now="2002-01-01").select(
                    "o_custkey", "monetary", "r_score", "f_score", "m_score"
                )
            )
    a, b, c = _rows(outs)
    assert a == b == c


def test_tfidf_bm25_scores_layout_invariant(spark):
    from rclabsapi_spark.llm.retrieval import bm25_topk, tfidf_scores

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [
        (
            i,
            " ".join(words[(i + j) % 5] for j in range(1 + i % 7))
            + " alpha beta" * (i % 3),
        )
        for i in range(120)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    outs_t, outs_b = [], []
    for lay in (base.repartition(1), base.repartition(17)):
        outs_t.append(tfidf_scores(lay, ["alpha", "beta"]))
        outs_b.append(bm25_topk(lay, ["alpha", "beta"], k=15))
    (t1, t2), (b1, b2) = _rows(outs_t), _rows(outs_b)
    assert t1 == t2
    assert b1 == b2


def test_crawl_budget_layout_invariant(spark):
    from rclabsapi_spark.llm.sampling import crawl_budget_allocation

    rows = [
        (i, f"d{i}.com", 10 + i * 3, round(0.1 + (i % 7) * 0.0999999, 6))
        for i in range(60)
    ]
    base = spark.createDataFrame(
        rows, "__ord long, domain string, n_docs long, priority double"
    )
    outs = []
    for lay in _layouts(base):
        outs.append(
            crawl_budget_allocation(
                lay.drop("__ord"),
                strat_col="domain",
                tau=0.5,
                budget_multiplier=1.25,
            )
        )
    a, b, c = _rows(outs)
    assert a == b == c
