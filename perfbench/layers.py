#!/usr/bin/env python3
"""Layer table of traced benchmark runs, as markdown.

    python3 perfbench/layers.py RESULTS.jsonl TRACE.json...

TRACE files are the span dumps run.py keeps from --trace 1 runs
(.bench_build/perfbench/traces/<workload>-<seed>.json); RESULTS is the
run record file (.bench_build/perfbench/results.jsonl).  Per workload it
prints, for every span name, the median over runs of its per-pass self
time and of the listener counters recorded while it was the innermost
open span, and the tracing overhead: the median pass time of the traced
runs minus that of the untraced runs in RESULTS.
"""
import json
import statistics
import sys
from collections import defaultdict

COUNTERS = [("jobs", "jobs", 1), ("tasks", "tasks", 1), ("task_ms", "task s", 1e-3),
            ("shuffle_write_bytes", "shuffle write KiB", 1 / 1024),
            ("batches", "batches", 1), ("max_join_rows", "max join rows", 1)]


def per_pass(trace):
    """{span name: {"self_s": x, counter: y}} averaged over the passes."""
    spans = trace["spans"]
    passes = sum(1 for s in spans if s["name"] == "pass") or 1
    acc = defaultdict(lambda: defaultdict(float))
    for s in spans:
        a = acc[s["name"]]
        a["self_s"] += s["self_s"] / passes
        for key, _, _ in COUNTERS:
            if key == "max_join_rows":
                a[key] = max(a[key], s["counters"][key])
            else:
                a[key] += s["counters"][key] / passes
    return acc


def main():
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    passes = defaultdict(lambda: {0: [], 1: []})
    with open(sys.argv[1]) as f:
        for line in f:
            r = json.loads(line)
            passes[r["workload"]][r["trace"]].append(statistics.median(r["passes_s"]))
    by_workload = defaultdict(list)
    for path in sys.argv[2:]:
        with open(path) as f:
            t = json.load(f)
        by_workload[t["workload"]].append(per_pass(t))
    for w in sorted(by_workload):
        runs = by_workload[w]
        names = list(dict.fromkeys(n for r in runs for n in r))
        print(f"## {w} ({len(runs)} traced runs)\n")
        traced, plain = passes[w][1], passes[w][0]
        if traced and plain:
            t, p = statistics.median(traced), statistics.median(plain)
            print(f"Pass wall time: traced {t:.3f} s ({len(traced)} runs), untraced {p:.3f} s "
                  f"({len(plain)} runs); tracing overhead {t - p:+.3f} s ({(t - p) / p:+.1%}).\n")
        print("| span | self s/pass | " + " | ".join(h for _, h, _ in COUNTERS) + " |")
        print("|---|---:|" + "---:|" * len(COUNTERS))
        for n in names:
            med = lambda k: statistics.median(r[n][k] if n in r else 0.0 for r in runs)
            cells = [f"{med(k) * scale:.4g}" for k, _, scale in COUNTERS]
            print(f"| {n} | {med('self_s'):.3f} | " + " | ".join(cells) + " |")
        print()


if __name__ == "__main__":
    main()
