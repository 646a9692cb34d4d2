"""Shared fixtures: one SparkSession per test session + the DuckDB oracle
harness that mirrors the driver's compare (row count, column names,
order-insensitive canonicalized value multiset)."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.catalog import TABLES
from rclabsapi_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rclabsapi-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()


def canon(v):
    """Canonicalize a value for order-insensitive multiset compare:
    floats to 9 significant digits (tolerates accumulation-order ulp,
    catches real semantic diffs), Decimal→float, timestamps→isoformat."""
    if v is None:
        return "NULL"  # sortable sentinel — mirrors the driver's compare
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


_QDF_CACHE: dict = {}


def build_query_df(spark, name: str):
    """Build a registered query's DataFrame for PLAN/SCHEMA inspection,
    memoized per test session (r17): the fleet-wide structural sweeps
    (cartesian, single-partition-window, column-name alignment) each
    paid a full ~240-query plan build — ~100 s apiece, the top three
    entries of the suite's duration profile and the reason the driver's
    verify window clipped the r16 run. Plan inspection is read-only, so
    one shared DataFrame per query is safe. Built under
    ``planaudit.inspect_plans()`` so the real pre-checkpoint plan is
    inspected, not ``Scan ExistingRDD``."""
    if name not in _QDF_CACHE:
        from rclabsapi_spark.planaudit import inspect_plans
        from rclabsapi_spark.registry import get_registry

        with inspect_plans():
            _QDF_CACHE[name] = get_registry()[name].fn(spark, SF_CORRECT)
    return _QDF_CACHE[name]


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: rows may mix types within a column (e.g. a NULL-keyed
    # macro-summary row beside int keys) — repr gives a total order
    # without changing multiset equality
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )


def assert_oracle_match(spark, duck, spec, sf_dir=SF_CORRECT):
    sdf = spec.fn(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    rel = duck.sql(spec.oracle)
    dcols = rel.columns
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{spec.name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{spec.name}: row count spark={len(srows)} duck={len(drows)}"
    )
    sset = df_to_multiset(scols, [tuple(r[c] for c in scols) for r in srows])
    dset = df_to_multiset(dcols, drows)
    if sset != dset:
        diffs = [
            (a, b) for a, b in zip(sset, dset) if a != b
        ][:5]
        raise AssertionError(f"{spec.name}: value mismatch, first diffs: {diffs}")
