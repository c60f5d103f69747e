#!/usr/bin/env python
"""Paired, interleaved A/B of the repo benchmark against a prior commit.

Single-shot cross-session bench numbers on a shared host are unusable for
regression detection: the host's speed swings between sessions (VERDICT r2
bisected a "4x regression" to exactly this). The trustworthy comparison is
SAME-SESSION paired A/B: for pair i, run the benchmark (``erbench/run.py``,
the command in ``BENCHMARK.json``) once in this checkout (A, the working
tree) and once in a detached worktree of ``<git-ref>`` (B), both with seed i,
swapping which side goes first on every pair so neither always pays the
cold-cache / thermal penalty.

Usage:
    python tools/bench_ab.py <git-ref> [--workload er_transcripts]
                             [--pairs 10] [--keep-worktree]

Any run whose output is not ``correct`` aborts the comparison. Prints one
JSON line:
    {"a_ref": "working-tree", "b_ref": <ref>, "workload": W, "pairs": k,
     "metrics": {name: {"unit", "better", "a_median", "a_iqr", "b_median",
                        "b_iqr", "a_won", "b_won"}}}
over the end-to-end metrics ``BENCHMARK.json`` declares, where ``a_won`` /
``b_won`` count the pairs in which that side was strictly better in the
metric's ``better`` direction.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_side(cwd: str, command: list, workload: str, seed: int, seconds: int) -> dict:
    """One untraced benchmark run in ``cwd``; returns its metric values."""
    argv = command + ["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=3600)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    res = json.loads(lines[-1]) if lines else {}
    if out.returncode != 0 or not res.get("correct"):
        log(out.stderr[-2000:])
        raise RuntimeError(f"benchmark run not correct in {cwd} (seed {seed}): {res}")
    return {k: m["value"] for k, m in res["metrics"].items()}


def summarize(a_runs: list, b_runs: list, spec: list) -> dict:
    def med_iqr(vals):
        if len(vals) < 2:
            return vals[0], 0.0
        q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
        return q2, q3 - q1

    out = {}
    for m in spec:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        a = [r[name] for r in a_runs]
        b = [r[name] for r in b_runs]
        a_med, a_iqr = med_iqr(a)
        b_med, b_iqr = med_iqr(b)
        out[name] = {
            "unit": m["unit"], "better": m["better"],
            "a_median": a_med, "a_iqr": a_iqr, "b_median": b_med, "b_iqr": b_iqr,
            "a_won": sum(sign * (x - y) > 0 for x, y in zip(a, b)),
            "b_won": sum(sign * (y - x) > 0 for x, y in zip(a, b)),
        }
    return out


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]

    ap = argparse.ArgumentParser()
    ap.add_argument("ref", help="git ref to compare the working tree against")
    ap.add_argument("--workload", choices=workloads, default=workloads[0])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--keep-worktree", action="store_true")
    args = ap.parse_args()

    wt = tempfile.mkdtemp(prefix="em_ab_wt_")
    subprocess.run(["git", "worktree", "add", "--detach", wt, args.ref],
                   cwd=REPO, check=True, capture_output=True)
    try:
        a_runs, b_runs = [], []
        for i in range(args.pairs):
            order = [("A", REPO, a_runs), ("B", wt, b_runs)]
            if i % 2 == 1:
                order.reverse()
            for name, cwd, acc in order:
                t0 = time.time()
                acc.append(run_side(cwd, bench["command"], args.workload, i,
                                    bench["run_seconds"]))
                log(f"[ab] pair {i} side {name}: {json.dumps(acc[-1])} "
                    f"({time.time() - t0:.0f}s)")
        print(json.dumps({
            "a_ref": "working-tree", "b_ref": args.ref, "workload": args.workload,
            "pairs": args.pairs,
            "metrics": summarize(a_runs, b_runs, bench["end_to_end"]),
        }))
    finally:
        if not args.keep_worktree:
            subprocess.run(["git", "worktree", "remove", "--force", wt],
                           cwd=REPO, capture_output=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
