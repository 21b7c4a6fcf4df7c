#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same tree, compared.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--traced 0]

Runs two sets of `--runs` untraced runs of every workload in
BENCHMARK.json, each run with its own seed and at the file's run_seconds.
For each end-to-end metric and workload it prints every set's median and
quartiles, the spread (inter-quartile distance over the median) against
the metric's bound, and whether the second set's median is within the
bound of the first's. The failed-operation shares must be identical
across the sets. With `--traced N` it then makes N pairs of an untraced
and a traced run on one seed per workload and reports the tracing
overhead: the traced round time over the untraced one. Exit status 0 when
every spread is within its bound and the sets agree.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
SETS = 2
BASE_SEED = 1000


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets = []
        for k in range(SETS):
            runs = [run_once(w, BASE_SEED + 1000 * k + i, bench["run_seconds"], 0)
                    for i in range(a.runs)]
            ok &= all(r["correct"] for r in runs)
            sets.append(runs)
        shares = [(sum(r["failed"] for r in s), sum(r["attempted"] for r in s))
                  for s in sets]
        same_share = len({f / n for f, n in shares}) == 1
        ok &= same_share
        print(f"== {w}: failed/attempted per set {shares}"
              f"{'' if same_share else '  SHARES DIFFER'}")
        for name, m in e2e.items():
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            cells = []
            for v in vals:
                q1, q2, q3 = stats.quartiles(v)
                cells.append(f"med {q2:.6g} [{q1:.6g}, {q3:.6g}] "
                             f"spread {stats.spread(v):.3f} n={len(v)}")
            within = all(stats.spread(v) <= m["bound"] for v in vals)
            agree = stats.agree(vals[0], vals[1], m["bound"], m["better"])
            ok &= within and agree
            first, second = stats.median(vals[0]), stats.median(vals[1])
            print(f"  {name:18s} bound {m['bound']:.2f} "
                  f"{'ok ' if within else 'WIDE'} "
                  f"{'agree' if agree else 'DIFFER'} "
                  f"({100 * (second / first - 1):+.1f}%) | " + " | ".join(cells))
        if a.traced:
            # pairs of runs on one seed, back to back, so that the host's
            # drift over minutes does not enter the comparison
            ratios = []
            for i in range(a.traced):
                seed = BASE_SEED + 9000 + i
                u = run_once(w, seed, bench["run_seconds"], 0)
                t = run_once(w, seed, bench["run_seconds"], 1)
                ratios.append(t["metrics"]["trace.round_s"]["value"] /
                              u["metrics"]["round_s"]["value"])
            print(f"  tracing overhead (traced over untraced round, same seed): "
                  f"median {100 * (stats.median(ratios) - 1):+.1f}% of "
                  f"{a.traced} pairs ("
                  + ", ".join(f"{100 * (r - 1):+.1f}%" for r in ratios) + ")")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
