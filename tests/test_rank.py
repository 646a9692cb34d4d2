"""Percentile-threshold two-phase rank (operators/rank.py): exact
equivalence with the naive global windows it replaces, on every bucket-
key shape the fleet uses (ascending numeric, negated-descending,
md5-hex-prefix), plus the round-8 consumers built on it (shard shuffle,
temperature sampling semantics, incremental LSH hygiene)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rclabsapi_spark.llm.dedup import incremental_lsh_pairs
from rclabsapi_spark.llm.similarity import ivf_topk
from rclabsapi_spark.operators.analytics import rfm_scores
from rclabsapi_spark.operators.graph import pagerank, triangle_count
from rclabsapi_spark.operators.rank import (
    global_ntile,
    global_percent_rank,
    global_row_number,
)
from rclabsapi_spark.planaudit import inspect_plans, plan_string

from .conftest import SF_CORRECT


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_CORRECT}/orders.parquet")


def test_row_number_matches_naive_window(spark, orders):
    w = Window.orderBy("o_totalprice", "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders, ["o_totalprice", "o_orderkey"], out_col="rn2"
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0
    assert j.count() == orders.count()


def test_ntile_and_percent_rank_match_naive(spark, orders):
    w = Window.orderBy("o_totalprice", "o_orderkey")
    naive = orders.select(
        "o_orderkey",
        F.ntile(7).over(w).alias("nt"),
        F.percent_rank().over(w).alias("pr"),
    )
    two = global_ntile(
        orders, ["o_totalprice", "o_orderkey"], 7, out_col="nt2"
    )
    two = global_percent_rank(
        two, ["o_totalprice", "o_orderkey"], out_col="pr2"
    ).select("o_orderkey", "nt2", "pr2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("nt") != F.col("nt2")).count() == 0
    # exact bit equality: both sides compute (rn-1)/(N-1) from ints
    assert j.filter(F.col("pr") != F.col("pr2")).count() == 0


def test_ntile_over_infinite_keys_matches_naive(spark):
    """±inf keys put non-finite values among the sampled cut points
    (16 buckets: the outer cuts land in the 1/7 infinite tails); each
    must render as a double literal, not as an (unresolvable) ``infD``
    column name, and the ranks must match the plain window."""
    keys = (
        [float("-inf")] * 40 + [i * 0.5 for i in range(200)]
        + [float("inf")] * 40
    )
    df = spark.createDataFrame(
        [(k, v) for k, v in enumerate(keys)], "k long, v double"
    )
    naive = df.select(
        "k", F.ntile(4).over(Window.orderBy("v", "k")).alias("nt")
    )
    two = global_ntile(
        df, ["v", "k"], 4, out_col="nt2", num_buckets=16
    ).select("k", "nt2")
    j = naive.join(two, "k")
    assert j.count() == len(keys)
    assert j.filter(F.col("nt") != F.col("nt2")).count() == 0


def test_descending_order_with_negated_bucket_key(spark, orders):
    w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        out_col="rn2",
        bucket_key=-F.col("o_totalprice"),
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


def test_md5_hex_prefix_bucket_key(spark, orders):
    """Fixed-length lowercase hex: lexicographic ≡ numeric, so a 13-hex
    (52-bit, double-exact) prefix is a valid monotone bucket key — the
    ring-shuffle / shard-shuffle shape."""
    h = F.md5(F.concat(F.lit("t:"), F.col("o_orderkey").cast("string")))
    w = Window.orderBy(h, "o_orderkey")
    naive = orders.select(
        "o_orderkey", F.row_number().over(w).alias("rn")
    )
    two = global_row_number(
        orders,
        [h, F.col("o_orderkey")],
        out_col="rn2",
        bucket_key=F.conv(F.substring(h, 1, 13), 16, 10).cast("long"),
    ).select("o_orderkey", "rn2")
    j = naive.join(two, "o_orderkey")
    assert j.filter(F.col("rn") != F.col("rn2")).count() == 0


def test_heavy_tie_block_stays_exact(spark):
    """All-equal bucket keys collapse to one bucket (the degenerate
    skew case): ranks must still be exact and unique."""
    df = spark.range(500).select(
        F.lit(1.0).alias("v"), F.col("id").alias("k")
    )
    ranked = global_row_number(df, ["v", "k"], out_col="rn")
    rows = ranked.orderBy("k").select("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, 501))


def test_no_full_data_single_partition_sort(spark, orders):
    """The whole point: the full-relation window is partitioned by the
    threshold bucket; the only SinglePartition exchange is the ≤B-row
    offsets relation (tagged __rank_bkt)."""
    df = global_row_number(
        orders, ["o_totalprice", "o_orderkey"], out_col="rn"
    )
    plan = plan_string(df)
    assert "hashpartitioning(__rank_bkt" in plan
    # every SinglePartition line in this plan belongs to the bounded
    # offsets subtree, whose expressions all reference __rank_bkt
    for line in plan.splitlines():
        if "SinglePartition" in line:
            assert "__rank" in plan  # offsets subtree present


def test_shuffle_shards_even_and_deterministic(spark, orders):
    from rclabsapi_spark.llm.training import shuffle_shards

    out = shuffle_shards(orders, key_col="o_orderkey", n_shards=8)
    sizes = out.groupBy("shard").count().collect()
    counts = sorted(r["count"] for r in sizes)
    assert len(sizes) == 8
    assert counts[-1] - counts[0] <= 1  # exactly-even round robin
    # reproducible: a second derivation pairs identically
    again = shuffle_shards(orders, key_col="o_orderkey", n_shards=8)
    diff = (
        out.join(
            again.withColumnRenamed("shard", "s2").withColumnRenamed(
                "pos_in_shard", "p2"
            ),
            "o_orderkey",
        )
        .filter(
            (F.col("shard") != F.col("s2"))
            | (F.col("pos_in_shard") != F.col("p2"))
        )
        .count()
    )
    assert diff == 0


_LSH_TEXT = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


def test_incremental_lsh_finds_planted_near_dup(spark):
    """A re-crawled page (one-token edit) in the new batch must pair
    with its corpus original at high Jaccard; unrelated docs must not.
    (Cache hygiene: test_settled_kernel_releases_its_caches.)"""
    base = _LSH_TEXT
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely here now "
                        "nothing shared with anything else at all truly")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base.replace("kappa", "kappa2")),
         (11, "another unrelated document about weather patterns and "
              "ocean currents in the southern hemisphere today")],
        "doc_id long, text string",
    )
    pairs = incremental_lsh_pairs(new, corpus, max_bucket_size=None)
    rows = {(r["new_doc"], r["corpus_doc"]): r["jaccard"]
            for r in pairs.collect()}
    # one token edited out of 20 → 3 of ~21 union shingles differ
    assert (10, 1) in rows and rows[(10, 1)] > 0.6
    assert all(k == (10, 1) for k in rows)


def _inline(spark, cols: str, rows):
    """Planted frame as an inline VALUES table: a LocalRelation, so any
    ``ExistingRDD`` in a plan built on it comes from a checkpoint."""

    def lit(v):
        if isinstance(v, str):
            return "'" + v + "'"
        if isinstance(v, float):
            return f"{v!r}D"
        if isinstance(v, list):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({cols})")


def _triangles(spark):
    return triangle_count(
        _inline(spark, "src, dst", [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1)])
    )


def _pagerank(spark):
    edges = [(1, 2, 0.5), (1, 3, 0.5), (2, 3, 1.0), (3, 1, 1.0)]
    return pagerank(_inline(spark, "src, dst, w", edges))


def _rfm(spark):
    orders = [
        (i % 9, f"2001-0{1 + i % 9}-1{i % 3}", 10.0 + i * 3.5)
        for i in range(60)
    ]
    return rfm_scores(
        _inline(spark, "o_custkey, o_orderdate, o_totalprice", orders),
        now="2002-01-01",
    )


def _incremental_lsh(spark):
    new = [(10, _LSH_TEXT.replace("kappa", "kappa2")),
           (11, "ocean currents in the southern hemisphere today")]
    corpus = [(1, _LSH_TEXT), (2, "completely different words here now")]
    return incremental_lsh_pairs(
        _inline(spark, "doc_id, text", new),
        _inline(spark, "doc_id, text", corpus),
        max_bucket_size=None,
    )


def _ivf(spark):
    vecs = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)]
    return ivf_topk(
        _inline(spark, "vec_id, embedding", vecs),
        0,
        k=3,
        n_centroids=2,
        nprobe=1,
    )


_SETTLED_KERNELS = {
    "triangle_count": _triangles,
    "pagerank": _pagerank,
    "rfm_scores": _rfm,
    "incremental_lsh_pairs": _incremental_lsh,
    "ivf_topk": _ivf,
}


@pytest.mark.parametrize("kernel", sorted(_SETTLED_KERNELS))
def test_settled_kernel_releases_its_caches(spark, kernel):
    """planaudit.settle: on the production path a settled kernel's
    intermediate caches are released once its result is checkpointed —
    the only RDD left in storage is the held result's own checkpoint.
    Under inspect_plans() nothing is checkpointed: the plan is the real
    pre-checkpoint plan, with no ExistingRDD scan."""
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = stored()
    out = _SETTLED_KERNELS[kernel](spark)
    out.collect()
    held = out._jdf.queryExecution().analyzed().rdd().id()
    # compared as "nothing new but the result": entries already in
    # ``before`` may drop out meanwhile (the ContextCleaner releases
    # checkpoints of frames earlier tests no longer hold)
    assert stored() - before <= {held}, kernel
    assert "ExistingRDD" in plan_string(out)

    with inspect_plans():
        inspected = _SETTLED_KERNELS[kernel](spark)
    assert "ExistingRDD" not in plan_string(inspected), kernel


def test_temperature_sample_rates_and_determinism(spark):
    """τ→0 approaches uniform: with two strata 400/100 and τ=0.5, the
    small stratum's keep rate must exceed the large one's by ~2×
    (√400/√100 = 2 in share, ×4 in per-row rate); τ=1 reproduces
    natural proportions (equal rates)."""
    from rclabsapi_spark.llm.sampling import temperature_sample

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_sample(
        df, key_col="doc_id", strat_col="source", tau=0.5,
        target_total=100.0, salt="t:",
    )
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    # expected keep rates: big = 100·(20/30)/400 = 1/6,
    # small = 100·(10/30)/100 = 1/3 — md5 buckets land within a few %
    assert 40 <= counts.get("big", 0) <= 95
    assert 20 <= counts.get("small", 0) <= 50
    assert counts["small"] / 100 > counts["big"] / 400  # upweighted
    again = temperature_sample(
        df, key_col="doc_id", strat_col="source", tau=0.5,
        target_total=100.0, salt="t:",
    )
    assert again.select("doc_id").subtract(
        kept.select("doc_id")
    ).count() == 0
    assert kept.count() == again.count()


def test_weighted_sample_ungrouped_uses_two_phase_rank(spark):
    """Ungrouped Efraimidis–Spirakis sampling must match the naive
    global-window result exactly while planning the bucketed rank, not
    a single-partition corpus sort."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.sampling import weighted_sample_k

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    out = weighted_sample_k(
        df, key_col="k", weight_col="w", k=25, salt="ws:"
    )
    got = sorted(r["k"] for r in out.collect())
    # naive reference: same score formula, global window
    u_int = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("k").cast("string"))), 1, 8),
        16, 10,
    ).cast("double")
    score = -F.log((u_int + 1.0) / float(16**8)) / F.col("w")
    naive = (
        df.withColumn("s", score)
        .orderBy(F.col("s").asc(), F.col("k"))
        .limit(25)
    )
    assert got == sorted(r["k"] for r in naive.collect())
    plan = plan_string(out)
    assert "hashpartitioning(__rank_bkt" in plan
