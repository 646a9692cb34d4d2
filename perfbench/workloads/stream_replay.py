"""``stream_replay``: the ``streaming/`` twins drained from event files.

The events table is split by event time into files, one micro-batch per
file (``maxFilesPerTrigger=1``), drained with ``availableNow`` into a
memory sink, each twin with a fresh checkpoint. Three twins run in turn:

- ``route_events``: stateless broadcast join of events to subscriptions;
- ``stream_exact_dedup``: JVM state store with a one-day watermark; each
  file re-delivers the last six hours of the one before it, so the state
  store has duplicates to drop;
- ``funnel_stream``: ``applyInPandasWithState``; its result does not
  depend on arrival order, so the seed shuffles its file order.

The drains are not warmed up: each twin's first micro-batch carries the
query's start-up (class loading, codegen, Python workers for the funnel),
which an ``availableNow`` job pays on every scheduled run. Each drain is
checked against the batch computation over the same files. A drain that
reads no rows is a failure: a reused checkpoint makes exactly-once replay
skip all input, which would otherwise read as a large speed-up.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import percentile

TWINS = ("route_events", "stream_exact_dedup", "funnel_stream")
#: Input files, hence micro-batches, per twin in a run of the standard length.
FILES_PER_TWIN = 3
REDELIVER = np.timedelta64(6, "h")
WATERMARK = "1 day"


def write_inputs(events, out_dir: str, n_files: int, *, redeliver: bool,
                 order: list[int]) -> None:
    """Split ``events`` (pandas, sorted by ts) into ``n_files`` equal
    event-time slices and write them so the file source reads them in
    ``order`` (it orders files by modification time)."""
    os.makedirs(out_dir)
    ts = events.ts.values
    edges = np.linspace(ts[0].astype("int64"), ts[-1].astype("int64") + 1,
                        n_files + 1).astype("int64").astype(ts.dtype)
    base = time.time() - 10 * n_files
    for rank, i in enumerate(order):
        lo, hi = edges[i], edges[i + 1]
        if redeliver and i > 0:
            lo = lo - REDELIVER
        part = events[(ts >= lo) & (ts < hi)]
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path,
                       coerce_timestamps="us")
        os.utime(path, (base + rank, base + rank))


def _level(value):
    return np.where(value < 50, "INFO", np.where(value < 150, "WARN", "ERROR"))


def drain(spark, twin: str, in_dir: str, ckpt: str, name: str) -> dict:
    """Run one twin over ``in_dir`` until its input is exhausted."""
    from rclabsapi_spark.streaming.routing import route_events, subscriptions_df
    from rclabsapi_spark.streaming.stateful import funnel_stream, stream_exact_dedup

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(in_dir)
    )
    if twin == "route_events":
        out = route_events(stream, subscriptions_df(spark))
    elif twin == "stream_exact_dedup":
        out = stream_exact_dedup(
            stream, key_cols=["event_id"], ts_col="ts", watermark=WATERMARK)
    else:
        out = funnel_stream(stream)
    t0 = time.perf_counter()
    try:
        q = (
            out.writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
    except Exception as exc:  # noqa: BLE001 — e.g. a checkpoint the sink cannot resume
        return {"twin": twin, "wall_s": time.perf_counter() - t0,
                "error": f"{type(exc).__name__}: {exc}", "batches": []}
    q.awaitTermination()
    wall = time.perf_counter() - t0
    err = q.exception()
    progress = [json.loads(p.json) for p in q.recentProgress]
    return {
        "twin": twin,
        "wall_s": wall,
        "error": str(err) if err else None,
        "batches": [p for p in progress if p["numInputRows"] > 0],
    }


def check(spark, res: dict, in_dir: str, name: str, events) -> str | None:
    """Why a drain's output differs from the batch computation over the
    same input, or None."""
    if res["error"]:
        return f"{res['twin']} failed: {res['error'][:300]}"
    rows_in = sum(b["numInputRows"] for b in res["batches"])
    if rows_in == 0:
        return f"{res['twin']} drained zero rows (reused checkpoint?)"
    n_file_rows = pq.read_table(in_dir).num_rows
    if rows_in != n_file_rows:
        return f"{res['twin']} drained {rows_in} of {n_file_rows} rows"
    out = spark.table(name)
    if res["twin"] == "route_events":
        from rclabsapi_spark.streaming.routing import route_events, subscriptions_df

        batch = route_events(spark.read.parquet(in_dir), subscriptions_df(spark))
        got = {r[0]: r[1] for r in out.groupBy("connection_id").count().collect()}
        want = {r[0]: r[1] for r in batch.groupBy("connection_id").count().collect()}
    elif res["twin"] == "stream_exact_dedup":
        got = out.selectExpr("count(*)", "count(DISTINCT event_id)").first()[:]
        want = (len(events), len(events))
    else:
        latest = out.toPandas().sort_values("seq").groupby("user_id").last()
        got = {
            int(u): (int(r.has_view), int(r.has_click), int(r.has_purchase))
            for u, r in latest.iterrows()
        }
        want = funnel_reference(events)
    return None if got == want else f"{res['twin']} output differs from batch"


def funnel_reference(events) -> dict[int, tuple[int, int, int]]:
    """Per user: saw a view; a click at/after the first view; a purchase
    at/after the first such click (the batch ``w_funnel_stages`` rules)."""
    flags = {}
    for uid, g in events.groupby("user_id"):
        views = g.ts[g.event_type == "view"]
        t_click = None
        if len(views):
            clicks = g.ts[(g.event_type == "click") & (g.ts >= views.min())]
            t_click = clicks.min() if len(clicks) else None
        bought = t_click is not None and bool(
            ((g.event_type == "purchase") & (g.ts >= t_click)).any())
        flags[int(uid)] = (int(len(views) > 0), int(t_click is not None), int(bought))
    return flags


def run(ctx) -> dict:
    spark, tracer = ctx["spark"], ctx["tracer"]
    events = pq.read_table(os.path.join(ctx["sf_dir"], "events.parquet")).to_pandas()
    events = events.sort_values(["ts", "event_id"], kind="mergesort")
    events["level"] = _level(events.value.values)
    n_files = max(2, round(FILES_PER_TWIN * ctx["scale"]))
    order = list(range(n_files))
    shuffled = order[:]
    random.Random(ctx["seed"]).shuffle(shuffled)

    ops, failures, lat, wall = [], [], [], 0.0
    for k, twin in enumerate(TWINS):
        in_dir = os.path.join(ctx["run_dir"], twin, "in")
        write_inputs(events, in_dir, n_files, redeliver=twin == "stream_exact_dedup",
                     order=shuffled if twin == "funnel_stream" else order)
        name = f"perfbench_{twin}"
        op = f"d{k}:{twin}"
        with tracer.span("drain", op):
            res = drain(spark, twin, in_dir, os.path.join(ctx["run_dir"], twin, "ckpt"), name)
        wall += res["wall_s"]
        lat += [b["durationMs"]["triggerExecution"] / 1e3 for b in res["batches"]]
        why = check(spark, res, in_dir, name, events)
        spark.catalog.dropTempView(name)
        tracer.flush()
        if why:
            failures.append({"op": op, "error": why})
        ops.append({"op": op, **res})

    return {
        "attempted": len(TWINS),
        "failures": failures,
        "latencies_s": lat,
        "wall_s": wall,
        "layers": _layers(ops, wall, lat) if tracer.enabled else {},
        "ops": ops,
    }


def _layers(ops: list[dict], wall: float, lat: list[float]) -> dict:
    batches = [b for r in ops for b in r["batches"]]
    stateful = [b for b in batches if b.get("stateOperators")]

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def dur(b, key) -> float:
        return b["durationMs"].get(key, 0)

    finals = [r["batches"][-1] for r in ops if r["batches"]]
    final_state = [s for b in finals for s in b.get("stateOperators", [])]
    ms = [x * 1e3 for x in lat]
    return {
        "streaming.query_planning_ms": med(dur(b, "queryPlanning") for b in batches),
        "streaming.add_batch_ms": med(dur(b, "addBatch") for b in batches),
        "streaming.commit_ms": med(
            dur(b, "walCommit") + dur(b, "commitOffsets") for b in batches),
        "streaming.latest_offset_ms": med(dur(b, "latestOffset") for b in batches),
        "streaming.input_rows": sum(b["numInputRows"] for b in batches),
        "streaming.state_rows": sum(s["numRowsTotal"] for s in final_state),
        "streaming.state_memory_bytes": sum(s["memoryUsedBytes"] for s in final_state),
        "streaming.state_update_ms": med(
            sum(s["allUpdatesTimeMs"] for s in b["stateOperators"]) for b in stateful),
        "streaming.state_commit_ms": med(
            sum(s["commitTimeMs"] for s in b["stateOperators"]) for b in stateful),
        "events_per_s": sum(b["numInputRows"] for b in batches) / wall,
        "batch_p50_ms": percentile(ms, 50) if ms else 0.0,
        "batch_p90_ms": percentile(ms, 90) if ms else 0.0,
    }
