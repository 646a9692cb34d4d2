"""``api_mixed``: the reference's REST surface through ``EngineAPI``.

One closed-loop client first sends one untimed request of each kind (the
same for every seed), then a seeded mix in blocks of ten timed requests:
nine reads (``monitor_jobs`` x2, ``metrics`` x2, ``health`` x2,
``search_logs`` x2 over the events table, ``run_query`` of a small
registry query at sf0.001) and one write (``create_job`` + ``run_next``
of a FULL_ETL job: parquet extract, transformation rules, staged-commit
parquet load into the run's own directory). The seed orders each block
and draws the request parameters. Writes grow the jobs table that every
read rebuilds and invalidate the cached ``health`` payload.

The two ``health`` calls of a block go back to back, after the block's
write: the first rebuilds the payload, the second is served from the
cache. The pair is one op of the latency metrics (a client polling
health twice), so no op takes the few microseconds of a bare cache hit,
whose jitter would swamp a geometric mean; ``api.health_ms`` and
``cache.health_hit_rate`` still see each call.

Every response is checked after it is timed: JSON parses, filters and
limits hold, counts match the jobs this client created, ``search_logs``
returns exactly the rows a pandas evaluation of the same parameters
selects, ``run_query`` returns the oracle's row count, and every ETL job
ends COMPLETED with ``records_processed`` equal to the source row count.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from oracle import Oracles
from tracing import Tracer

#: The reads of a block besides its ``health`` pair.
READS = (
    "monitor_jobs", "monitor_jobs", "metrics", "metrics",
    "search_logs", "search_logs", "run_query",
)
#: Blocks of ten requests in a run of the standard length.
BLOCKS = 2
SMALL_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "monitor_jobs_pipeline",
    "a3_metric_rollup_by_group",
    "pivot_status_priority",
    "w_funnel_stages",
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LOG_COLS = dict(
    ts_col="ts", component_col="event_type", job_col="__absent__",
    thread_col="__absent__", message_col="props", level_col="event_type",
    key_col="event_id",
)
ETL_RULES = (
    {"sourceField": "o_orderpriority", "targetField": "priority_u",
     "transformationType": "uppercase"},
    {"sourceField": "o_totalprice", "targetField": "price_x2",
     "transformationType": "multiply", "parameters": {"factor": "2"}},
    {"sourceField": "o_orderstatus", "targetField": "o_orderstatus",
     "transformationType": "identity", "parameters": {"required": "true"}},
)


def plan(seed: int, n_blocks: int) -> list[tuple[str, dict, int]]:
    """(kind, parameters, op number) per request. Each block is its reads
    in a seeded order, with the write and then the ``health`` pair (one
    op) put at seeded places: every block has one cache miss and one hit,
    whatever the seed."""
    rng = random.Random(seed)
    out = []
    n_ops = 0
    for block in range(n_blocks):
        units: list[tuple[str, ...]] = [(k,) for k in READS]
        rng.shuffle(units)
        i, j = sorted(rng.sample(range(len(units) + 2), 2))
        units.insert(i, ("write",))
        units.insert(j, ("health", "health"))
        for unit in units:
            out.extend((k, _params(rng, k, block), n_ops) for k in unit)
            n_ops += 1
    return out


def warm_up_plan() -> list[tuple[str, dict, None]]:
    """Untimed requests sent first, the same for every seed: a
    long-running server pays the first-use costs of the request paths
    (class loading, codegen, JIT; the parquet writer above all) once per
    process; without this they land on whichever requests the seed puts
    first. The write goes last: it invalidates the cached health payload,
    so the first timed health call misses, whatever the seed."""
    rng = random.Random(0)
    return [(k, _params(rng, k, 0), None) for k in ("health", "run_query", "write")]


def _params(rng: random.Random, kind: str, block: int) -> dict:
    if kind == "monitor_jobs":
        return {
            "status": rng.choice((None, "COMPLETED", "completed", "PENDING", "FAILED")),
            "job_type": rng.choice((None, "FULL_ETL", "EXTRACT")),
            "limit": rng.randint(1, 20),
        }
    if kind == "metrics":
        return {
            "metric_type": rng.choice(("performance", "errors", "system", "jobs")),
            "time_range": rng.choice(("1h", "24h", "7d", "30d")),
        }
    if kind == "search_logs":
        start = dt.datetime(2024, 1, rng.randint(1, 25), rng.randint(0, 23))
        return {
            "start_time": start,
            "end_time": start + dt.timedelta(hours=rng.randint(6, 96)),
            "component": rng.choice((None,) + EVENT_TYPES),
            "search_text": rng.choice((None, f'"k": {rng.randint(0, 99)}')),
            "max_results": rng.randint(5, 100),
            "sort_by": rng.choice(("timestamp", "component")),
            "ascending": rng.random() < 0.5,
        }
    if kind == "run_query":
        # one query per block, in a fixed rotation: the queries differ in
        # cost, and a seeded pick would make the mix's cost seed-dependent
        name = SMALL_QUERIES[block % len(SMALL_QUERIES)]
        return {"name": name, "limit": rng.randint(5, 50)}
    return {}


def run(ctx) -> dict:
    from rclabsapi_spark.api import EngineAPI
    from rclabsapi_spark.catalog import load_table
    from rclabsapi_spark.etl import ETLJobConfig, ETLJobManager, JobType

    spark, tracer, registry = ctx["spark"], ctx["tracer"], ctx["registry"]
    sf_dir, small_dir = ctx["sf_dir"], ctx["small_dir"]
    requests = plan(ctx["seed"], max(1, round(BLOCKS * ctx["scale"])))

    oracles = Oracles(small_dir)
    query_rows = {n: oracles.get(n, registry[n].oracle)["rows"] for n in SMALL_QUERIES}
    oracles.close()
    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    source = os.path.join(sf_dir, "orders.parquet")
    source_rows = pq.ParquetFile(source).metadata.num_rows

    manager = ETLJobManager(spark)
    milestones: dict[str, dict[int, float]] = {}
    manager.add_progress_listener(
        lambda job_id, pct: milestones.setdefault(job_id, {}).__setitem__(
            pct, time.perf_counter())
    )
    api = EngineAPI(spark, manager=manager, logs_df=load_table(spark, sf_dir, "events"))
    jobs: dict[str, str] = {}  # job_id -> final status, as this client saw it

    ops: list[dict] = []
    failures: list[dict] = []
    attempted = 0
    untraced = Tracer(False)
    warm = warm_up_plan()
    for i, (kind, p, op_no) in enumerate(warm + requests):
        timed = op_no is not None
        tr = tracer if timed else untraced
        op = f"r{i}:{kind}" if timed else f"warm{i}:{kind}"
        rec = {"op": op, "kind": kind, "op_no": op_no}
        attempted += 2 if kind == "write" else 1  # a write is a request + an ETL job
        t0 = time.perf_counter()
        try:
            with tr.span("request", op):
                if kind == "write":
                    job_id = f"job_{ctx['seed']}_{i}"
                    cfg = ETLJobConfig(
                        job_id=job_id,
                        job_type=JobType.FULL_ETL,
                        source_config={"format": "parquet", "path": source},
                        target_config={"format": "parquet", "path": os.path.join(
                            ctx["run_dir"], "etl", job_id)},
                        transformation_rules=ETL_RULES,
                    )
                    with tr.phase(op, "create", "api.create_job"):
                        resp = api.create_job(cfg)
                    rec["create_s"] = time.perf_counter() - t0
                    t1 = rec["run_start"] = time.perf_counter()
                    with tr.phase(op, "run", "etl.run_next"):
                        ran = manager.run_next()
                    rec["run_next_s"] = time.perf_counter() - t1
                else:
                    with tr.phase(op, "read", f"api.{kind}"):
                        resp = _read(api, kind, p, small_dir)
            rec["latency_s"] = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed request, not a failed run
            failures.append({"op": op, "error": f"{type(exc).__name__}: {exc}"[:500]})
            tracer.flush()
            continue
        if kind == "write":
            why = _check_write(manager, resp, ran, source_rows, jobs, rec, milestones)
        else:
            why = _check_read(kind, p, resp, jobs, manager, events, query_rows)
        if why:
            failures.append({"op": op, "error": why})
        if not timed:
            tracer.flush()
            continue
        if tracer.enabled:
            executions = tracer.flush()
            rec["planning"] = {
                k: sum(e.get(k, 0.0) for e in executions)
                for k in ("analysis", "optimization", "planning")
            }
            rec["spark"] = tracer.group_stats(
                f"{op}:{'run' if kind == 'write' else 'read'}")
        ops.append(rec)

    # an op's latency is its requests' sum; an op with a request that raised has none
    per_op: dict[int, list[float]] = {}
    for r in ops:
        per_op.setdefault(r["op_no"], []).append(r["latency_s"])
    n_requests = Counter(op_no for *_, op_no in requests)
    lat = [sum(v) for o, v in sorted(per_op.items()) if len(v) == n_requests[o]]
    return {
        "attempted": attempted,
        "failures": failures,
        "latencies_s": lat,
        "wall_s": sum(lat),
        "layers": _layers(ops, len(jobs)) if tracer.enabled else {},
        "ops": ops,
    }


def _read(api, kind: str, p: dict, small_dir: str):
    from rclabsapi_spark.plans.log_query import LogQueryParams

    if kind == "monitor_jobs":
        return api.monitor_jobs(**p)
    if kind == "metrics":
        return api.metrics(p["metric_type"], p["time_range"])
    if kind == "health":
        return api.health()
    if kind == "search_logs":
        return api.search_logs(LogQueryParams(**p), **LOG_COLS)
    return api.run_query(p["name"], sf_dir=small_dir, limit=p["limit"])


def _check_write(manager, resp, ran, source_rows, jobs, rec, milestones) -> str | None:
    job = manager.get_job(resp)
    jobs[resp] = job.status
    rec.update(
        bytes_written=job.total_bytes_written,
        files_written=job.total_batches,
        milestones=milestones.get(resp, {}),
    )
    if ran != resp:
        return f"run_next ran {ran!r}, created {resp!r}"
    if job.status != "COMPLETED":
        return f"job {resp} ended {job.status}: {job.error_message}"
    if job.records_processed != source_rows:
        return f"job {resp} processed {job.records_processed} of {source_rows} rows"
    return None


def _check_read(kind, p, resp, jobs, manager, events, query_rows) -> str | None:
    n_jobs = len(jobs)
    n_done = sum(s == "COMPLETED" for s in jobs.values())
    if kind == "health":
        h = json.loads(resp)
        if (h["totalJobs"], h["completedJobs"]) != (n_jobs, n_done):
            return f"health {h} after {n_jobs} jobs ({n_done} completed)"
        return None
    if kind == "metrics":
        m = json.loads(resp)
        if p["metric_type"] == "jobs":
            total = sum(r["cnt"] for r in m)
            return None if total == n_jobs else f"jobs metric counts {total} of {n_jobs}"
        if p["metric_type"] in ("performance", "system"):
            want = sum(manager.get_job(j).records_processed for j in jobs) or None
            got = m.get("total_records")
            return None if got == want else f"total_records {got}, want {want}"
        return None if m.get("total_failed") in (0, None) else f"errors {m}"
    rows = [json.loads(r) for r in resp]
    if kind == "monitor_jobs":
        status = p["status"] and p["status"].upper()
        match = [
            j for j, s in jobs.items()
            if (status is None or s == status)
            and (p["job_type"] in (None, "FULL_ETL"))
        ]
        if len(rows) != min(p["limit"], len(match)):
            return f"monitor_jobs {len(rows)} rows, want {min(p['limit'], len(match))}"
        bad = [r for r in rows if status and r["status"] != status
               or p["job_type"] and r["job_type"] != p["job_type"]]
        return f"monitor_jobs rows break the filter: {bad[:2]}" if bad else None
    if kind == "search_logs":
        want = _expected_logs(events, p)
        got = [r["event_id"] for r in rows]
        return None if got == want else f"search_logs ids {got[:5]}…, want {want[:5]}…"
    want = min(p["limit"], query_rows[p["name"]])
    return None if len(rows) == want else f"run_query {p['name']} {len(rows)} rows, want {want}"


def _expected_logs(events, p: dict) -> list[int]:
    """The rows ``search_logs`` must return, evaluated in pandas."""
    ev = events[(events.ts >= p["start_time"]) & (events.ts <= p["end_time"])]
    if p["component"] is not None:
        ev = ev[ev.event_type == p["component"]]
    if p["search_text"]:
        ev = ev[ev.props.str.contains(p["search_text"], regex=False)]
    col = "ts" if p["sort_by"] == "timestamp" else "event_type"
    ev = ev.sort_values([col, "event_id"], ascending=[p["ascending"], True],
                        kind="mergesort")
    return ev.event_id.head(p["max_results"]).tolist()


def _layers(ops: list[dict], n_jobs: int) -> dict:
    def median_ms(kind: str, key: str = "latency_s") -> float:
        vals = [r[key] for r in ops if r["kind"] == kind]
        return statistics.median(vals) * 1e3 if vals else 0.0

    writes = [r for r in ops if r["kind"] == "write"]
    health = [r for r in ops if r["kind"] == "health"]

    def phase_s(lo: int, hi: int) -> float:
        return sum(
            r["milestones"][hi] - r["milestones"][lo]
            for r in writes if lo in r["milestones"] and hi in r["milestones"]
        )

    return {
        "api.monitor_jobs_ms": median_ms("monitor_jobs"),
        "api.metrics_ms": median_ms("metrics"),
        "api.health_ms": median_ms("health"),
        "api.search_logs_ms": median_ms("search_logs"),
        "api.run_query_ms": median_ms("run_query"),
        "api.create_job_ms": median_ms("write", "create_s"),
        "cache.health_hit_rate": (
            sum(r["spark"]["jobs"] == 0 for r in health) / len(health)
            if health else 0.0
        ),
        "etl.extract_s": sum(
            r["milestones"][10] - r["run_start"] for r in writes
            if 10 in r["milestones"]
        ),
        "etl.transform_s": phase_s(10, 50),
        "etl.load_s": phase_s(80, 100),
        "etl.bytes_written": sum(r["bytes_written"] for r in writes),
        "etl.files_written": sum(r["files_written"] for r in writes),
        "etl.jobs_table_rows": n_jobs,
        "etl_job_p50_s": (
            statistics.median(r["run_next_s"] for r in writes) if writes else 0.0
        ),
        "planning.analysis_s": sum(r["planning"]["analysis"] for r in ops),
        "planning.optimization_s": sum(r["planning"]["optimization"] for r in ops),
        "planning.physical_s": sum(r["planning"]["planning"] for r in ops),
        "execution.jobs": sum(r["spark"]["jobs"] for r in ops),
        "execution.stages": sum(r["spark"]["stages"] for r in ops),
        "execution.tasks": sum(r["spark"]["tasks"] for r in ops),
        "execution.shuffle_write_bytes": sum(
            r["spark"]["shuffle_write_bytes"] for r in ops),
    }
