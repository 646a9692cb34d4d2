"""Physical-plan introspection helpers (shared by scripts/plan_audit.py,
scripts/dump_plans.py and the plan regression tests), plus ``settle``:
the one place an operator eagerly materializes its result and releases
the intermediates it cached.

Walks the FINAL adaptive plan: descends AdaptiveSparkPlan into its
executed plan and QueryStage wrappers into their materialized subtrees,
and does NOT descend into InMemoryTableScan — a cached relation scans
its source once no matter how many consumers read it, so its subtree
must not be re-counted per consumer.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_INSPECTING: ContextVar[bool] = ContextVar("inspect_plans", default=False)


def settle(df: DataFrame, *release: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df``, then unpersist every frame in
    ``release`` and return the checkpointed frame. Used where a kernel
    caches intermediates shared by several consumers within one query:
    once the result is materialized the caches can go without
    recomputation, so long-lived sessions do not accumulate storage.

    Inside :func:`inspect_plans` it returns ``df`` unchanged and releases
    nothing, so the real pre-checkpoint plan stays visible (a checkpointed
    frame's plan is just ``Scan ExistingRDD``)."""
    if _INSPECTING.get():
        return df
    out = df.localCheckpoint(eager=True)
    for r in release:
        r.unpersist()
    return out


@contextmanager
def inspect_plans() -> Iterator[None]:
    """Build DataFrames for plan inspection: :func:`settle` is a no-op
    for everything constructed inside the block."""
    token = _INSPECTING.set(True)
    try:
        yield
    finally:
        _INSPECTING.reset(token)


def plan_string(df: DataFrame, mode: str = "simple") -> str:
    """``df``'s plan as ``explain(mode)`` would print it (``simple``,
    ``extended``, ``formatted``, ...), returned instead of printed."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def walk_executed_plan(node) -> Iterator:
    name = node.nodeName()
    yield node
    if name == "InMemoryTableScan":
        return  # cached — the relation's subtree ran once at materialization
    if name == "AdaptiveSparkPlan":
        yield from walk_executed_plan(node.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from walk_executed_plan(node.plan())
        return
    children = node.children()
    for i in range(children.length()):
        yield from walk_executed_plan(children.apply(i))


def audit(df: DataFrame) -> tuple[Counter, Counter]:
    """Execute ``df`` (so AQE settles) and count physical-plan features:
    returns (scans_by_table, counts) where counts has keys
    cached / exch / bhj / smj."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    scans: Counter = Counter()
    counts: Counter = Counter()
    for node in walk_executed_plan(root):
        name = node.nodeName()
        if name.startswith("Scan parquet"):
            head = node.toString().splitlines()[0]
            m = re.search(r"file:([^\],\s]+)", head)
            path = (m.group(1) if m else head).rstrip("/")
            # `<table>.parquet` fixture files or `<dir>` partitioned
            # layouts (e.g. a persisted IVF index's vectors/) — either
            # way the last path segment names the relation
            table = path.rsplit("/", 1)[-1].removesuffix(".parquet")
            scans[table] += 1
        elif name == "InMemoryTableScan":
            counts["cached"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            counts["exch"] += 1
        elif name == "BroadcastHashJoin":
            counts["bhj"] += 1
        elif name == "SortMergeJoin":
            counts["smj"] += 1
        elif name == "ShuffledHashJoin":
            counts["shj"] += 1
    return scans, counts
