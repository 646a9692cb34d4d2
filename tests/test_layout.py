"""Bucketed layout: the pay-the-shuffle-once contract. A join between two
tables bucketed on the join key must plan with NO Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.layout import read_table, write_bucketed, write_sorted
from rclabsapi_spark.planaudit import plan_string

from .conftest import SF_SMOKE


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    # managed tables land in the session's spark-warehouse dir
    # (warehouse.dir is a static conf); DROP TABLE below removes the files
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    write_bucketed(
        orders, "orders_b", bucket_cols=["o_orderkey"], num_buckets=8
    )
    write_bucketed(
        li,
        "lineitem_b",
        bucket_cols=["l_orderkey"],
        num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    orders = read_table(spark, "orders_b")
    li = read_table(spark, "lineitem_b")
    joined = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))

    plan = plan_string(joined)
    # disable broadcast to force the co-located path deterministically
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_string(
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )

    # and it's still CORRECT: equals the plain-parquet join counts
    plain = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bres = sorted(tuple(r) for r in joined.collect())
    pres = sorted(tuple(r) for r in plain.collect())
    assert bres == pres


def test_sorted_write_rowgroup_stats(spark, tmp_path):
    """Sorted writes put min/max stats on the sort column; a tight range
    predicate then reads fewer rows than a full scan would (observable via
    the scan's pushed filters at minimum)."""
    path = str(tmp_path / "li_sorted")
    li = load_table(spark, SF_SMOKE, "lineitem")
    write_sorted(li, path, sort_cols=["l_shipdate"])
    out = spark.read.parquet(path).filter(
        F.col("l_shipdate").between("1996-01-01", "1996-01-31")
    )
    plan = plan_string(out)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    n = out.count()
    assert 0 < n < li.count()


def _files_overlapping(path, col, lo, hi):
    """Count parquet data files whose footer min/max for `col` overlaps
    [lo, hi] — the set a stats-pruning scan must read."""
    import glob

    import pyarrow.parquet as pq

    total, overlapping = 0, 0
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        total += 1
        if fmin is not None and not (fmax < lo or fmin > hi):
            overlapping += 1
    return overlapping, total


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs single-column sort on a 2-D uniform grid: a predicate
    on the SECOND dimension prunes most z-ordered files (each file holds
    a compact curve segment, so its y min/max is tight) but no
    x-sorted files (every x-range stripe spans all of y)."""
    from rclabsapi_spark.layout import write_zordered

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
    )
    zpath = str(tmp_path / "grid_z")
    xpath = str(tmp_path / "grid_x")
    write_zordered(grid, zpath, zorder_cols=["x", "y"], num_files=16)
    grid.repartitionByRange(16, "x").sortWithinPartitions(
        "x", "y"
    ).write.mode("overwrite").parquet(xpath)

    # y-only box: 1/16 of the y range
    z_hit, z_total = _files_overlapping(zpath, "y", 0, 15)
    x_hit, x_total = _files_overlapping(xpath, "y", 0, 15)
    assert x_hit == x_total  # x-sorted layout can't prune a y predicate
    assert z_hit <= z_total // 2  # z-order prunes most files
    # and the x dimension still prunes too (locality on BOTH dims)
    zx_hit, _ = _files_overlapping(zpath, "x", 0, 15)
    assert zx_hit <= z_total // 2

    # correctness: the z-ordered copy is the same relation
    assert spark.read.parquet(zpath).count() == 256 * 256
    got = spark.read.parquet(zpath).filter(
        (F.col("x") < 16) & (F.col("y") < 16)
    ).count()
    assert got == 16 * 16


def test_zorder_empty_and_null_guards(spark, tmp_path):
    """Empty input degrades to a plain write (no TypeError on None
    bounds); NULL z-column values rank at the range minimum and survive
    the write."""
    from rclabsapi_spark.layout import write_zordered

    schema = "a double, b double, payload int"
    empty = spark.createDataFrame([], schema)
    p_empty = str(tmp_path / "empty")
    write_zordered(empty, p_empty, zorder_cols=["a", "b"], num_files=4)
    assert spark.read.parquet(p_empty).count() == 0

    rows = [(None, 5.0, 1), (1.0, None, 2), (2.0, 3.0, 3), (None, None, 4)]
    nulls = spark.createDataFrame(rows, schema)
    p_nulls = str(tmp_path / "nulls")
    write_zordered(nulls, p_nulls, zorder_cols=["a", "b"], num_files=2)
    back = spark.read.parquet(p_nulls)
    assert back.count() == 4
    assert sorted(r.payload for r in back.collect()) == [1, 2, 3, 4]

    all_null = spark.createDataFrame(
        [(None, None, 1), (None, None, 2)], schema
    )
    p_alln = str(tmp_path / "allnull")
    write_zordered(all_null, p_alln, zorder_cols=["a", "b"], num_files=2)
    assert spark.read.parquet(p_alln).count() == 2


def test_compact_zorder_empty_table(spark, tmp_path):
    """compact_parquet(zorder_cols=...) on an empty table completes."""
    from rclabsapi_spark.maintenance import compact_parquet

    path = str(tmp_path / "t")
    spark.createDataFrame([], "a double, b double").write.parquet(path)
    stats = compact_parquet(spark, path, zorder_cols=["a", "b"])
    assert stats.files_after >= 0
    assert spark.read.parquet(path).count() == 0
