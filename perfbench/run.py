#!/usr/bin/env python3
"""Layered benchmark of the rclabsapi_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one closed-loop client, Spark
on ``local[<cores>]``. Workloads (see perfbench/README.md for why each
exists): ``star_sql``, ``curation_build``, ``api_mixed``,
``stream_replay``. The seed permutes the order of work (query order,
request mix, replay file order); the data is generated from a fixed seed
into ``perfbench/.cache`` on first use, together with the DuckDB oracle
summaries the outputs are checked against.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, and
the spans are written to ``perfbench/.cache/traces/``. The line before it
is the full result record: box, versions, commit, cpu_score before and
after, every metric and every failure.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
#: Driver heap, fixed (-Xms = -Xmx, pre-touched): peak RSS then does not
#: follow the garbage collector's heap-sizing heuristics from run to run.
DRIVER_MEM = "2g"
WORKLOADS = ("star_sql", "curation_build", "api_mixed", "stream_replay")
#: Run length the workloads' standard sizes are set for; ``--seconds``
#: scales the work by ``seconds / BASE_SECONDS``.
BASE_SECONDS = 15
N_SETUPS = 3


def _pin_environment(ncpu: int) -> dict[str, str]:
    """Environment every Spark process of the run inherits: the repository
    on the Python workers' path (they import the package by name when
    unpickling UDFs, whatever the working directory), scratch space inside
    the checkout, and a driver heap below physical RAM."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # no /tmp/hsperfdata files from the spark-submit launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(ncpu),
    }
    os.environ.update(env)
    return env


def _spark_conf() -> dict[str, str]:
    """Session settings of the benchmark. The driver JVM compiles with C1
    only (``TieredStopAtLevel=1``): with C2 the JIT keeps recompiling the
    scheduler and Catalyst code for minutes (``rfm_segments`` went from
    2.7 to 1.2 s over 90 s of repeats), so a run of under a minute timed
    an arbitrary point of that curve, one the host's speed moved. C1
    reaches its plateau within the warm execution. C1 alone gets a 48 MB
    code cache by default, which a long session fills (the JVM then stops
    compiling); the cache is given tiered mode's 240 MB."""
    tmp = os.path.join(CACHE, "tmp")
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _setup(ncpu: int, spark=None):
    """One set-up: (re)create the session and import the query registry,
    then run one trivial job. The first set-up runs from process start and
    includes the JVM launch; later ones stop the session and re-import
    every engine module first."""
    t_start = _T0 if spark is None else time.perf_counter()
    if spark is not None:
        spark.stop()
        for mod in [m for m in sys.modules if m.split(".")[0] == "rclabsapi_spark"]:
            del sys.modules[mod]
    from rclabsapi_spark.session import get_spark

    t_sess = time.perf_counter()
    spark = get_spark("perfbench", cpus=ncpu, extra_conf=_spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    t_reg = time.perf_counter()
    from rclabsapi_spark.registry import get_registry

    registry = get_registry()
    t_job = time.perf_counter()
    spark.range(1).count()
    t_end = time.perf_counter()
    return spark, registry, {
        "total_s": t_end - t_start,
        "session_s": t_reg - t_sess,
        "registry_s": t_job - t_reg,
        "first_job_s": t_end - t_job,
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_commit() -> str | None:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _op_metrics(lat: list[float], wall: float) -> dict[str, tuple[float, str]]:
    """Per-op latency metrics with their units; 0 when every op failed."""
    from tracing import percentile

    ok = bool(lat)
    return {
        "query_geomean_s": (statistics.geometric_mean(lat) if ok else 0.0, "s"),
        "request_p50_ms": (percentile(lat, 50) * 1e3 if ok else 0.0, "ms"),
        "request_p90_ms": (percentile(lat, 90) * 1e3 if ok else 0.0, "ms"),
        "requests_per_s": (len(lat) / wall if ok else 0.0, "1/s"),
    }


def _shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it; the JVM ends its Python workers on exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the generated data (tests use 0.001)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("rclabsapi_spark") is None:
        print(f"rclabsapi_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    ncpu = len(os.sched_getaffinity(0))
    env = _pin_environment(ncpu)

    spark = None
    setups = []
    for _ in range(N_SETUPS):
        spark, registry, rec = _setup(ncpu, spark)
        setups.append(rec)
    t_setup = time.perf_counter()

    import datagen
    from tracing import LAYER_UNITS, Tracer
    from workloads import api_mixed, batch, stream_replay

    from bench import _cpu_score

    tracer = Tracer(bool(args.trace))
    tracer.attach(spark)
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_root = os.path.join(CACHE, "data")
    ctx = {
        "spark": spark,
        "registry": registry,
        "tracer": tracer,
        "seed": args.seed,
        "scale": args.seconds / BASE_SECONDS,
        "sf_dir": datagen.ensure(args.sf, data_root),
        "small_dir": datagen.ensure(0.001, data_root),
        "run_dir": run_dir,
    }
    runner = {
        "star_sql": batch.run_star_sql,
        "curation_build": batch.run_curation_build,
        "api_mixed": api_mixed.run,
        "stream_replay": stream_replay.run,
    }[args.workload]

    score_before = _cpu_score(0.25)
    t_work = time.perf_counter()
    try:
        res = runner(ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    t_done = time.perf_counter()
    score_after = _cpu_score(0.25)

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(jvm_pid)}
    peak_rss_mb = sum(rss_mb.values())
    versions = {
        "spark": spark.version,
        "pyspark": __import__("pyspark").__version__,
        "python": sys.version.split()[0],
    }
    conf = spark.sparkContext.getConf()
    box = {
        "cores": ncpu,
        "master": conf.get("spark.master"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "driver_java_options": conf.get("spark.driver.extraJavaOptions"),
        "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20,
        "cpu_score_before": score_before,
        "cpu_score_after": score_after,
        "peak_rss_mb": rss_mb,
        "env": env,
    }

    attempted, failed = res["attempted"], len(res["failures"])
    end_to_end = {
        "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
        "wall_s": (res["wall_s"], "s"),
        **_op_metrics(res["latencies_s"], res["wall_s"]),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    per_layer = {
        "session.start_s": (statistics.median(s["session_s"] for s in setups), "s"),
        "session.registry_import_s": (
            statistics.median(s["registry_s"] for s in setups), "s"),
        "session.cold_start_s": (setups[0]["total_s"], "s"),
        "traced_wall_s": (res["wall_s"], "s"),
        "error_rate": (failed / attempted, "ratio"),
        **{k: (res["layers"].get(k, 0), u) for k, u in LAYER_UNITS.items()},
    }
    metrics = per_layer if args.trace else end_to_end
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": os.path.relpath(ctx["sf_dir"], ROOT),
        "commit": _git_commit(),
        "versions": versions,
        "box": box,
        "setups": setups,
        "op_latencies_s": [
            (r["op"], r["latency_s"]) for r in res["ops"] if "latency_s" in r],
        "op_samples_s": {
            r["op"]: r["samples_s"] for r in res["ops"] if "samples_s" in r},
        "failures": res["failures"],
        "metrics": metrics,
    }
    if args.trace:
        trace_dir = os.path.join(CACHE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            {"record": record, "ops": res.get("ops", [])},
        )
    _shutdown(spark)
    record["phases_s"] = {
        "setups": t_setup - _T0,
        "prepare": t_work - t_setup,
        "workload": t_done - t_work,
        "finish": time.perf_counter() - t_done,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
