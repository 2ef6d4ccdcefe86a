#!/usr/bin/env python3
"""Steadiness tool: repeat benchmark runs and report how much each metric
moves between them.

    python3 tickbench/steady.py --workloads tick_query --runs 10 --out a.json
    python3 tickbench/steady.py --compare a.json b.json

The first form runs `run.py --trace 0` once per seed (seed0, seed0+1,
...) for each workload and prints, per end-to-end metric, the median,
the quartiles and the spread (inter-quartile distance over the median,
from statistics.quantiles(n=4)). A metric whose spread exceeds a tenth
is flagged, and so is one whose spread exceeds a third of its bound in
BENCHMARK.json. The second form checks that two sets of runs agree: no
metric's median moves between the sets, in either direction, by more
than the metric's bound (a share of the first set's median).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

STEADY = 0.10


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def summarize(workload, runs, metrics):
    bad = 0
    print(f"\n{workload}: {len(runs)} runs, "
          f"{sum(r['failed'] for r in runs)} failed of {sum(r['attempted'] for r in runs)} ops, "
          f"correct={all(r['correct'] for r in runs)}")
    print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  flag")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        sp = stats.spread(vals)
        flags = []
        if sp > STEADY:
            flags.append(f"spread>{STEADY}")
        if sp > m["bound"] / 3:
            flags.append("spread>bound/3")
        bad += bool(flags) and m["name"] != "setup_s"
        print(f"  {m['name']:<14}{statistics.median(vals):>12.4g}{q1:>12.4g}{q3:>12.4g}"
              f"{sp:>9.3f}{m['bound']:>7.2f}  {' '.join(flags)}")
    return bad


def compare(a_path, b_path, metrics):
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    apart = 0
    for w in sorted(set(a) & set(b)):
        print(f"\n{w}: {len(a[w])} vs {len(b[w])} runs")
        for m in metrics:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[w])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[w])
            # positive: the second set is worse
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            ok = abs(change) <= m["bound"]
            apart += not ok
            print(f"  {m['name']:<14}{ma:>12.4g}{mb:>12.4g}  worse by {change:+.3f}"
                  f" (bound {m['bound']:.2f}) {'ok' if ok else 'APART'}")
    return apart


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", help="comma list (default: every workload)")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="save the runs as JSON for --compare")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    s = spec()
    metrics = s["end_to_end"]
    if a.compare:
        return 1 if compare(*a.compare, metrics) else 0
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in s["workloads"]])
    saved, bad = {}, 0
    for w in workloads:
        runs = []
        for i in range(a.runs):
            runs.append(run_once(w, a.seed0 + i, s["run_seconds"]))
            print(f"[steady] {w} seed {a.seed0 + i}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in runs[-1]["metrics"].items()),
                file=sys.stderr, flush=True)
        saved[w] = runs
        bad += summarize(w, runs, metrics)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(saved, fh)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
