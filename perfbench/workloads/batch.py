"""``star_sql`` and ``curation_build``: registry queries through
``QuerySpec.fn`` plus a noop sink.

Queries run in rounds. Round one is an untimed warm execution of each
query (class loading and whole-stage codegen are paid once per process
by a long-running engine; without it the first query of each seeded
order carries the process's first-use costs, and per-query times swing
by 2x with the order). Then ``REPEATS`` timed rounds over every query,
the first in the warm round's seeded order and each later one in a
fresh seeded order: ``clearCache``, build the DataFrame
(``suites.build``) and run the noop-sink action (``execution.action``).
The op's latency is the query's fastest build + action time, as in
``bench.py``. Interleaving the queries spreads each one's samples over
the whole run, so the minimum does not hang on a few seconds in which
the shared host happened to be slow. In a traced run every timed
execution is spanned; the per-layer figures are those of the first.
Each query's last output is then collected and checked against its
DuckDB oracle, outside the timed region. A query that raises or
mismatches is a failed op and the workload goes on.

Each workload runs a fixed list, in an order the seed permutes.
The lists are the part of the full sets (38 bench-flagged relational
queries, eleven construction-bound ones) that fits the benchmark's run
length on a 4-core host (README.md, "Scale"): every ``QuerySpec`` in
them is bench-flagged.
"""

from __future__ import annotations

import random
import time

from oracle import Oracles, mismatch, spark_summary
from tracing import Tracer

#: Timed rounds after the warm one; the op's time is the fastest, as in
#: ``bench.py``: a stall on a shared box slows one sample, and the
#: minimum is the steady-state cost of the plan.
REPEATS = 4

#: star_sql: execution-bound relational queries from the core, TPC-H,
#: events, timeseries and analytics suites.
STAR_SQL = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "a_histogram_equidepth",
    "anomaly_mad_daily",
    "j_asof_forward",
    "ts_gap_fill_interpolate",
    "w_session_native",
    "st5_rate_limit_dual_windows",
)

#: curation_build: construction-bound queries (eager Spark jobs while the
#: DataFrame is built: localCheckpoint loops, quantile cuts) plus the
#: mapInPandas multimodal boundary.
CURATION_BUILD = (
    "rfm_segments",
    "sim_ivf_topk",
    "mm_frame_dedup",
)


def run_star_sql(ctx) -> dict:
    return _run(ctx, STAR_SQL)


def run_curation_build(ctx) -> dict:
    return _run(ctx, CURATION_BUILD)


def _run(ctx, names: tuple[str, ...]) -> dict:
    spark, registry, tracer = ctx["spark"], ctx["registry"], ctx["tracer"]
    sf_dir = ctx["sf_dir"]
    oracles = Oracles(sf_dir)
    want = {n: oracles.get(n, registry[n].oracle) for n in names}
    oracles.close()

    rng = random.Random(ctx["seed"])
    order = list(names)
    rng.shuffle(order)
    if ctx["scale"] < 0.5:  # short runs (tests) take a prefix
        order = order[: max(1, round(len(order) * ctx["scale"]))]

    recs = {name: {"op": f"q:{name}", "name": name, "runs": []} for name in order}
    dfs: dict[str, object] = {}
    failures: list[dict] = []
    untraced = Tracer(False)
    for k in range(-1, REPEATS):  # round -1 is the warm execution
        tr = tracer if k >= 0 else untraced
        for name in order if k < 1 else rng.sample(order, len(order)):
            rec = recs[name]
            if "error" in rec:
                continue
            op = rec["op"]
            run_op = f"{op}#{k}"
            try:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                with tr.span("query", run_op):
                    with tr.phase(run_op, "build", "suites.build"):
                        df = registry[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.phase(run_op, "action", "execution.action"):
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — a failed op, not a failed run
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                failures.append({"op": op, "error": rec["error"]})
                tracer.flush()
                continue
            if k >= 0:
                rec["runs"].append((t2 - t0, t1 - t0, t2 - t1))
            if k == 0 and tracer.enabled:  # counts repeat across executions
                _trace_op(tracer, rec, run_op, t1 - t0, t2 - t1)
            tracer.flush()  # only the first timed execution is attributed
            dfs[name] = df

    ops: list[dict] = []
    for name in order:
        rec = recs[name]
        if "error" in rec:
            continue
        runs = rec.pop("runs")
        latency, build, action = min(runs)
        rec.update(build_s=build, action_s=action, latency_s=latency,
                   samples_s=[r[0] for r in runs])
        try:
            got = spark_summary(dfs.pop(name))
            rec["rows"] = got["rows"]
            why = mismatch(got, want[name])
        except Exception as exc:  # noqa: BLE001 — the check itself failed
            why = f"check raised {type(exc).__name__}: {exc}"[:500]
        if why:
            failures.append({"op": rec["op"], "error": why})
        tracer.flush()  # the check's own execution belongs to no op
        ops.append(rec)

    return {
        "attempted": len(order),
        "failures": failures,
        "latencies_s": [r["latency_s"] for r in ops],
        "wall_s": sum(r["latency_s"] for r in ops),
        "layers": _layers(ops) if tracer.enabled else {},
        "ops": ops,
    }


def _trace_op(tracer, rec: dict, run_op: str, build_s: float, action_s: float) -> None:
    """Attach the layer figures of one traced execution to the query's
    record: build and action time, the build phase's eager jobs, the
    action's jobs, and planning / Python-node figures of every SQL
    execution it ran."""
    executions = tracer.flush()
    rec["traced"] = {"build_s": build_s, "action_s": action_s}
    rec["eager"] = tracer.group_stats(f"{run_op}:build")
    rec["action"] = tracer.group_stats(f"{run_op}:action")
    rec["planning"] = {
        k: sum(e.get(k, 0.0) for e in executions)
        for k in ("analysis", "optimization", "planning")
    }
    rec["python"] = {
        k: sum(e.get(k, 0) for e in executions)
        for k in ("python_nodes", "python_rows", "python_bytes")
    }
    rec["executions"] = len(executions)


def _layers(ops: list[dict]) -> dict:
    def total(path: str) -> float:
        a, b = path.split(".")
        return sum(r[a][b] for r in ops)

    eager_s = total("eager.job_s")
    return {
        "suites.build_s": max(total("traced.build_s") - eager_s, 0.0),
        "suites.eager_jobs": total("eager.jobs"),
        "suites.eager_job_s": eager_s,
        "suites.eager_stages": total("eager.stages"),
        "planning.analysis_s": total("planning.analysis"),
        "planning.optimization_s": total("planning.optimization"),
        "planning.physical_s": total("planning.planning"),
        "execution.action_s": total("traced.action_s"),
        "execution.jobs": total("action.jobs"),
        "execution.stages": total("action.stages"),
        "execution.tasks": total("action.tasks"),
        "execution.shuffle_write_bytes": total("action.shuffle_write_bytes"),
        "execution.spill_bytes": total("action.spill_bytes"),
        "execution.output_rows": sum(r.get("rows", 0) for r in ops),
        "multimodal.python_rows": total("python.python_rows"),
        "multimodal.python_bytes": total("python.python_bytes"),
        "multimodal.action_s": sum(
            r["traced"]["action_s"] for r in ops if r["python"]["python_nodes"]
        ),
    }
