"""Steadiness self-check: run each workload repeatedly, each run a fresh
``perfbench/run.py`` process with its own seed, and print the median and
quartiles of every end-to-end metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads assign_interval] \\
        [--first-seed 101] [--save set1.json] [--compare set0.json]

A metric is steady when its spread, (q3 - q1) / median with quartiles
from ``statistics.quantiles(values, n=4)``, is below a third of its
bound.  ``--compare`` checks that no median is worse than the saved
set's by more than the bound.  Exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect result\n{out.stdout[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2 for quartiles")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    previous = {}
    if args.compare:
        with open(args.compare) as f:
            previous = json.load(f)

    ok, results = True, {}
    for w in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs.append(run_once(w, seed, bench["run_seconds"]))
            print(f"{w} seed={seed} " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
        results[w] = {k: [r[k] for r in runs] for k in bounds}
        print(f"\n{w}: {args.runs} runs")
        print(f"  {'metric':16s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}  verdict")
        for k, m in bounds.items():
            med, q1, q3, s = spread(results[w][k])
            verdict = "steady" if s < m["bound"] / 3 else ("within bound" if s <= m["bound"] else "TOO NOISY")
            if k == "setup_s" and verdict == "TOO NOISY":
                verdict = "noisy (spread not bounded)"
            elif verdict == "TOO NOISY":
                ok = False
            line = f"  {k:16s} {m['unit']:6s} {med:12.4g} {q1:12.4g} {q3:12.4g} {s:8.3f} {m['bound']:6.2f}  {verdict}"
            if w in previous:
                before = statistics.median(previous[w][k])
                worse = (med - before) / before if m["better"] == "lower" else (before - med) / before
                line += f"; vs saved median {before:.4g}: {100 * worse:+.1f}% worse"
                if worse > m["bound"]:
                    line += " BEYOND BOUND"
                    ok = False
            print(line)
        print(flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(results, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
