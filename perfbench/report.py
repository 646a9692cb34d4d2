#!/usr/bin/env python3
"""Print markdown tables of per-layer numbers from traced runs.

    python3 perfbench/report.py perfbench/.cache/traces/<workload>-seed<n>.json ...

Batch workloads give one row per query, ``api_mixed`` one row per
endpoint, ``stream_replay`` one row per twin.
"""

from __future__ import annotations

import json
import statistics
import sys


def _batch(ops: list[dict]) -> list[str]:
    out = [
        "| query | build s | eager jobs | eager job s | action s | jobs | stages"
        " | tasks | shuffle write B | plan opt+phys s | python B |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in ops:
        pl = r["planning"]
        out.append(
            f"| {r['name']} | {r['build_s']:.2f} | {r['eager']['jobs']}"
            f" | {r['eager']['job_s']:.2f} | {r['action_s']:.2f}"
            f" | {r['action']['jobs']} | {r['action']['stages']}"
            f" | {r['action']['tasks']} | {r['action']['shuffle_write_bytes']}"
            f" | {pl['optimization'] + pl['planning']:.3f}"
            f" | {r['python']['python_bytes']} |"
        )
    return out


def _api(ops: list[dict]) -> list[str]:
    out = [
        "| endpoint | requests | median ms | max ms | Spark jobs / request"
        " | plan opt+phys ms / request |",
        "|---|---|---|---|---|---|",
    ]
    kinds = sorted({r["kind"] for r in ops})
    for k in kinds:
        rs = [r for r in ops if r["kind"] == k]
        lat = [r["latency_s"] * 1e3 for r in rs]
        plan = [1e3 * (r["planning"]["optimization"] + r["planning"]["planning"]) for r in rs]
        out.append(
            f"| {'write (create_job + run_next)' if k == 'write' else k} | {len(rs)}"
            f" | {statistics.median(lat):.0f} | {max(lat):.0f}"
            f" | {statistics.mean(r['spark']['jobs'] for r in rs):.1f}"
            f" | {statistics.mean(plan):.0f} |"
        )
    return out


def _stream(ops: list[dict]) -> list[str]:
    out = [
        "| twin | batches | drain s | rows in | median batch ms | max batch ms"
        " | median planning ms | median addBatch ms | final state rows |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in ops:
        bs = r["batches"]
        trig = [b["durationMs"]["triggerExecution"] for b in bs]
        state = sum(s["numRowsTotal"] for s in bs[-1].get("stateOperators", [])) if bs else 0
        out.append(
            f"| {r['twin']} | {len(bs)} | {r['wall_s']:.2f}"
            f" | {sum(b['numInputRows'] for b in bs)}"
            f" | {statistics.median(trig):.0f} | {max(trig):.0f}"
            f" | {statistics.median(b['durationMs'].get('queryPlanning', 0) for b in bs):.0f}"
            f" | {statistics.median(b['durationMs'].get('addBatch', 0) for b in bs):.0f}"
            f" | {state} |"
        )
    return out


def main(paths: list[str]) -> None:
    for path in paths:
        with open(path) as f:
            trace = json.load(f)
        rec, ops = trace["record"], trace["ops"]
        print(f"### {rec['workload']} (seed {rec['seed']}, {rec['box']['master']})\n")
        if rec["workload"] == "api_mixed":
            lines = _api(ops)
        elif rec["workload"] == "stream_replay":
            lines = _stream(ops)
        else:
            lines = _batch(ops)
        print("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
