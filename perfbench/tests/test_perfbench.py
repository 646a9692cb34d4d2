"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced at sf0.001 with the
smallest run (``--seconds 1``) in a subprocess, exactly as the
benchmark's command line is used; the first run generates the sf0.001
data and oracle summaries under ``perfbench/.cache``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from tracing import Tracer  # noqa: E402

WORKLOADS = ("star_sql", "curation_build", "api_mixed", "stream_replay")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str) -> dict:
    """Run from ``cwd``, not the repository root: Python workers must find
    the package whatever the working directory."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_spans_nest(spans: list[dict]) -> None:
    for s in spans:
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            assert s["op"] == p["op"]


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_minimal_run_prints_every_declared_metric(workload, trace, tmp_path):
    res = _run(workload, trace, str(tmp_path))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"] is True
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _declared()[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name
    if trace:
        assert res["metrics"]["error_rate"]["value"] == 0
        path = os.path.join(BENCH, ".cache", "traces", f"{workload}-seed7.json")
        with open(path) as f:
            written = json.load(f)
        assert written["spans"]
        _assert_spans_nest(written["spans"])
        assert all(v >= 0 for v in written["self_time_s"].values())


def test_self_times_subtract_children():
    t = Tracer(True)
    with t.span("outer", "op1"):
        with t.span("inner"):
            sum(range(10_000))
        with t.span("inner"):
            sum(range(10_000))
    _assert_spans_nest(t.spans)
    self_t = t.self_times()
    assert all(v >= 0 for v in self_t.values())
    dur = [s["end"] - s["start"] for s in t.spans]
    assert self_t["outer"] == pytest.approx(dur[0] - dur[1] - dur[2])
    assert self_t["inner"] == pytest.approx(dur[1] + dur[2])
    assert all(s["op"] == "op1" for s in t.spans)


def test_untraced_tracer_records_nothing():
    t = Tracer(False)
    with t.span("outer", "op1"), t.phase("op1", "build", "suites.build"):
        pass
    assert t.spans == [] and t.flush() == []


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)
    from rclabsapi_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def test_reused_checkpoint_counts_as_a_failure(spark, tmp_path):
    """Draining the same input again with the same checkpoint must not pass
    as a (fast) drain: the memory sink refuses to resume the checkpoint,
    and a sink that resumes would read zero rows under exactly-once replay;
    both are failures."""
    import datagen
    import pyarrow.parquet as pq
    from workloads import stream_replay

    sf_dir = datagen.ensure(0.001, os.path.join(BENCH, ".cache", "data"))
    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()
    events = events.sort_values(["ts", "event_id"], kind="mergesort")
    in_dir = str(tmp_path / "in")
    stream_replay.write_inputs(events, in_dir, 2, redeliver=False, order=[0, 1])
    ckpt = str(tmp_path / "ckpt")
    results = []
    for i in range(2):
        name = f"perfbench_test_dedup_{i}"
        res = stream_replay.drain(spark, "stream_exact_dedup", in_dir, ckpt, name)
        results.append(stream_replay.check(spark, res, in_dir, name, events))
        spark.catalog.dropTempView(name)
    assert results[0] is None
    assert results[1] is not None
    resumed = {"twin": "stream_exact_dedup", "wall_s": 0.1, "error": None, "batches": []}
    why = stream_replay.check(spark, resumed, in_dir, "unused", events)
    assert why is not None and "zero rows" in why
