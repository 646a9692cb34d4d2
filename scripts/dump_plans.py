#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named registered queries.

    python scripts/dump_plans.py <outdir> <suffix> [names...]

Writes <outdir>/<name>_<suffix>.txt. Queries are built under
``planaudit.inspect_plans()`` so the real pre-checkpoint plan is dumped
(the plan-pin convention)."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rclabsapi_spark.planaudit import inspect_plans, plan_string
from rclabsapi_spark.registry import get_registry
from rclabsapi_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()
    for name in names:
        with inspect_plans():
            df = reg[name].fn(spark, SF)
        plan = plan_string(df, "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(path, flush=True)


if __name__ == "__main__":
    main()
