#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds run records, one JSON object a line, as run.py prints
them before its last line and appends to .bench_build/perfbench/results.jsonl.
Only untraced records are compared.  For each workload and end-to-end
metric of BENCHMARK.json it prints both sides' median and quartiles, the
share of run pairs the change wins (runs paired by seed, ties count for
neither side), and a verdict under the metric's bound:

  better      the change wins at least 9 in 10 pairs and the medians
              differ by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more
              than the bound
  unresolved  neither, and either side's quartile spread is wider than
              the bound (unless every change run beats every parent run)
  same        neither, and both spreads are within the bound
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            r = json.loads(line)
            if "workload" in r and not r.get("trace"):
                runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, bound, lower_is_better):
    """a, b: the parent's and the change's values of one metric."""
    sign = 1 if lower_is_better else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    losses = sum(1 for x, y in pairs if sign * (x - y) < 0)
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    share = wins / len(pairs) if pairs else 0.0
    spread_a, spread_b = (a3 - a1) / am, (b3 - b1) / bm
    if share >= 0.9 and abs(bm - am) > (a3 - a1) and sign * (am - bm) > 0:
        v = "better"
    elif sign * (bm - am) / am > bound:
        v = "worse"
    elif max(spread_a, spread_b) > bound and not (
            min(b) > max(a) if not lower_is_better else max(b) < min(a)):
        v = "unresolved"
    else:
        v = "same"
    return {"parent": [a1, am, a3], "change": [b1, bm, b3], "pairs": len(pairs),
            "wins": wins, "losses": losses, "win_share": share, "verdict": v}


def paired(ra, rb, name):
    """Values of `name` from runs of both sides, paired by seed when the
    seeds match, else in file order."""
    sa = {r["seed"]: r["metrics"][name]["value"] for r in ra}
    sb = {r["seed"]: r["metrics"][name]["value"] for r in rb}
    common = sorted(set(sa) & set(sb))
    if len(common) >= min(len(sa), len(sb)) // 2 and common:
        return [sa[s] for s in common], [sb[s] for s in common]
    n = min(len(ra), len(rb))
    return ([r["metrics"][name]["value"] for r in ra[:n]],
            [r["metrics"][name]["value"] for r in rb[:n]])


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14s} {'metric':18s} {'parent q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'wins':>7s} verdict")
    for w in spec["workloads"]:
        ra, rb = a.get(w["name"], []), b.get(w["name"], [])
        if not ra or not rb:
            print(f"{w['name']:14s} (missing runs: parent {len(ra)}, change {len(rb)})")
            continue
        for m in spec["end_to_end"]:
            xa, xb = paired(ra, rb, m["name"])
            v = verdict(xa, xb, m["bound"], m["better"] == "lower")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w['name']:14s} {m['name']:18s} {fmt(v['parent']):>28s} "
                  f"{fmt(v['change']):>28s} {v['wins']:>3d}/{v['pairs']:<3d} {v['verdict']}")


if __name__ == "__main__":
    main()
