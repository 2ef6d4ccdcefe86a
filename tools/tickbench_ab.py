#!/usr/bin/env python3
"""Paired A/B of tickbench between a parent commit and a change.

    python3 tools/tickbench_ab.py --parent <sha> --seeds 41-50 \
        --workloads tick_query,tick_ingest,bar_scan [--change <sha|dir>] \
        [--dir /tmp/tickbench_ab] [--seconds 8]

Host speed on a shared machine drifts over minutes, so the two sides
run as interleaved pairs, one pair per seed, alternating which side
runs first. The parent is a `git clone` of this repository checked out
at --parent (a clone, not a worktree, so the repository's own .git is
untouched); the change is the working tree, a directory --change
names (a snapshot, so edits made meanwhile stay out of the runs), or
a second clone when --change names a commit. Each run's last output
line is kept as <dir>/ab_<workload>_<seed>_<side>.json.

For every workload and end-to-end metric the report gives each side's
median and quartiles, the median change/parent pair ratio with its
range, and the pairs the change won (ties count for neither side).
A metric counts as improved when the change won at least nine tenths
of the pairs and the medians differ, in the better direction, by more
than the parent's inter-quartile spread. Runs with failed ops are
reported. Exits non-zero if any run fails to produce a record.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def checkout(ref, dest):
    if not os.path.isdir(dest):
        subprocess.run(["git", "clone", "-q", ROOT, dest], check=True)
    subprocess.run(["git", "-C", dest, "checkout", "-q", ref], check=True)
    return dest


def run(side_dir, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "tickbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} in {side_dir} produced no record")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, pairs, better):
    print(f"== {workload}: {len(pairs)} pairs")
    failed = sum(r[side]["failed"] for r in pairs for side in ("parent", "change"))
    if failed:
        print(f"   failed ops across all runs: {failed}")
    for metric, lower in better.items():
        p = [r["parent"]["metrics"][metric]["value"] for r in pairs]
        c = [r["change"]["metrics"][metric]["value"] for r in pairs]
        ratios = [b / a for a, b in zip(p, c)]
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        improved = wins * 10 >= 9 * len(pairs) and gap > pq[2] - pq[0]
        print(f"   {metric:11s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
              f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
              f"  ratio {statistics.median(ratios):.3f}"
              f" ({min(ratios):.3f}-{max(ratios):.3f})"
              f"  won {wins}/{len(pairs)}"
              f"  {'IMPROVED' if improved else 'not improved'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent commit")
    ap.add_argument("--change",
                    help="change commit or directory (default: the working tree)")
    ap.add_argument("--seeds", default="1-10", help="e.g. 41-50 or 1,3,5")
    ap.add_argument("--workloads", default="tick_query,tick_ingest,bar_scan")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--dir", default="/tmp/tickbench_ab")
    a = ap.parse_args()

    os.makedirs(a.dir, exist_ok=True)
    if not a.change:
        change = ROOT
    elif os.path.isdir(a.change):
        change = os.path.abspath(a.change)
    else:
        change = checkout(a.change, os.path.join(a.dir, "change"))
    sides = {"parent": checkout(a.parent, os.path.join(a.dir, "parent")),
             "change": change}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] == "lower"
                  for m in json.load(f)["end_to_end"]}

    for w in a.workloads.split(","):
        pairs = []
        for i, s in enumerate(seeds(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            rec = {}
            for side in order:
                rec[side] = run(sides[side], w, s, a.seconds)
                with open(os.path.join(a.dir, f"ab_{w}_{s}_{side}.json"), "w") as f:
                    json.dump(rec[side], f)
            pairs.append(rec)
        report(w, pairs, better)


if __name__ == "__main__":
    main()
