#!/usr/bin/env python3
"""Interleaved A/B timing for a set of bench queries between the working
tree (A) and the working tree with chosen paths stashed (B) — the r16
measurement discipline: alternate sides in ONE process environment,
min-of-N per side, cpu fingerprint bracketing every block so a steal
episode is visible in the record.

    python scripts/ab_compare.py --paths f1.py f2.py --alts 2 -- q1 q2

Implementation note: Spark sessions cache imported Python code, so each
side runs in a FRESH subprocess (scripts/perf_single.py); the stash/pop
happens between subprocesses. min-of-2 timed runs per query per block.
"""
from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from bench import _cpu_score  # noqa: E402


def run_side(queries: list[str]) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "scripts/perf_single.py", *queries],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    last = [l for l in out.stdout.strip().splitlines() if l.startswith('{"all"')]
    if not last:
        print(out.stdout[-2000:], file=sys.stderr)
        print(out.stderr[-2000:], file=sys.stderr)
        raise RuntimeError("perf_single produced no summary")
    return json.loads(last[-1])["all"]


def git(*args: str, check: bool = True) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=check, capture_output=True, text=True
    )


def stash_top() -> str:
    """The current top stash entry's id ("" when the stash is empty)."""
    return git("rev-parse", "-q", "--verify", "refs/stash", check=False).stdout


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--paths", nargs="+", required=True)
    p.add_argument("--alts", type=int, default=2)
    p.add_argument("queries", nargs="+")
    args = p.parse_args()
    changed = git("diff", "--quiet", "HEAD", "--", *args.paths, check=False)
    if changed.returncode == 0:
        sys.exit(f"ab_compare: no local changes under {args.paths}; "
                 "A and B would be the same code")

    a_times: dict[str, list[float]] = {q: [] for q in args.queries}
    b_times: dict[str, list[float]] = {q: [] for q in args.queries}
    scores: list[int] = []
    for alt in range(args.alts):
        scores.append(_cpu_score(0.5))
        ta = run_side(args.queries)  # A = working tree (new)
        before = stash_top()
        git("stash", "push", "--", *args.paths)
        if stash_top() == before:
            # nothing stashed: popping now would pop a foreign entry
            sys.exit("ab_compare: git stash push created no entry")
        try:
            scores.append(_cpu_score(0.5))
            tb = run_side(args.queries)  # B = stashed (old)
        finally:
            git("stash", "pop")
        for q in args.queries:
            a_times[q].append(ta[q])
            b_times[q].append(tb[q])
        print(
            json.dumps({"alt": alt, "cpu": scores[-2:], "A": ta, "B": tb}),
            flush=True,
        )
    summary = {
        q: {
            "A_min": min(a_times[q]),
            "B_min": min(b_times[q]),
            "delta_pct": round(
                100.0 * (min(a_times[q]) / min(b_times[q]) - 1.0), 1
            ),
        }
        for q in args.queries
    }
    print(json.dumps({"cpu_scores": scores, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
