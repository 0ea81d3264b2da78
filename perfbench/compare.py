#!/usr/bin/env python3
"""Compare two sets of benchmark results, parent (A) against change (B).

    python3 perfbench/compare.py A B [--benchmark BENCHMARK.json]

A and B are directories of result files as the benchmark writes them
(`.bench_build/results/<workload>-seed<n>-trace<t>.json`), or files with
one such JSON object per line. Runs are paired by (workload, seed); only
untraced runs are compared.

Per workload and end-to-end metric it prints each side's median and
quartiles and a verdict:

  gain        B beats A in at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than A's quartile
              spread.
  regressed   B's median is worse than A's by more than the metric's
              bound from BENCHMARK.json.
  unresolved  A's own spread (quartile distance / median) exceeds the
              bound, so "no change" cannot be told apart from noise.
  no regression
              A's spread exceeds the bound, but every B run beats every
              A run: not a regression, and not shown to be a gain
              either (that takes the gain rule above).
  same        none of the above.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    objs = []
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    objs.append(json.loads(line))
    runs = {}
    for o in objs:
        env = o.get("env", {})
        if env.get("trace", "0") != "0":
            continue
        res = o["result"]
        if not res.get("correct"):
            print(f"warning: {env.get('workload')} seed {env.get('seed')} failed its output checks",
                  file=sys.stderr)
        runs[(env["workload"], env["seed"])] = {k: v["value"] for k, v in res["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    """Apply the pairing rule to paired samples a[i], b[i]."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    q1a, meda, q3a = quartiles(a)
    _, medb, _ = quartiles(b)
    spread = q3a - q1a
    worse = sign * (meda - medb) / abs(meda) if meda else 0.0
    if wins >= 0.9 * len(a) and abs(medb - meda) > spread:
        return "gain", wins
    if worse > bound:
        return "regressed", wins
    if meda and spread / abs(meda) > bound:
        all_better = min(sign * y for y in b) > max(sign * x for x in a)
        return ("no regression" if all_better else "unresolved"), wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    ra, rb = load(args.a), load(args.b)
    workloads = sorted({w for w, _ in ra} & {w for w, _ in rb})
    if not workloads:
        raise SystemExit("no workload has runs on both sides")
    print(f"{'workload':16} {'metric':10} {'pairs':>5} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'B/A':>6} {'wins':>5}  verdict")
    for w in workloads:
        seeds = sorted({s for ww, s in ra if ww == w} & {s for ww, s in rb if ww == w}, key=int)
        for name, m in metrics.items():
            a = [ra[(w, s)][name] for s in seeds if name in ra[(w, s)]]
            b = [rb[(w, s)][name] for s in seeds if name in rb[(w, s)]]
            if not a or len(a) != len(b):
                continue
            v, wins = verdict(a, b, m["better"], m.get("bound", 0.0))
            qa, qb = quartiles(a), quartiles(b)
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"{w:16} {name:10} {len(a):5} {fa:>28} {fb:>28} {ratio:6.3f} {wins:5}  {v}")


if __name__ == "__main__":
    main()
