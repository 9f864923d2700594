#!/usr/bin/env python3
"""Dev-only: compute the >2x comparable-compute tail (the judge's
definition: ratio > 2 at medians-of-N AND graft median >= 0.9 s) from
certified bench pair archives, plus the full per-query medians table.

Usage: python3 tools/tail_table.py bench/runs/bench_r15_run{1,2,3}.json \
           bench/runs/duck_bench_r15_run{1,2,3}.json
(first half of args = graft records, second half = duckdb records)
"""
import json
import statistics
import sys


def load(path):
    d = json.load(open(path))
    return d.get("queries", d)


def main(argv):
    n = len(argv) // 2
    g = [load(f) for f in argv[:n]]
    d = [load(f) for f in argv[n:]]
    names = sorted(set(g[0]) & set(d[0]))
    totals_g = [sum(v for v in x.values() if v > 0) for x in g]
    totals_d = [sum(v for v in x.values() if v > 0) for x in d]
    pair_ratios = sorted(tg / td for tg, td in zip(totals_g, totals_d))
    print("pair totals graft:", [f"{t:.1f}" for t in totals_g])
    print("pair totals duck: ", [f"{t:.1f}" for t in totals_d])
    print("per-pair ratios:  ", [f"{r:.3f}" for r in pair_ratios],
          " median:", f"{pair_ratios[len(pair_ratios) // 2]:.3f}")
    rows = []
    for q in names:
        gm = statistics.median([x[q] for x in g if x.get(q, -1) > 0])
        dm = statistics.median([x[q] for x in d if x.get(q, -1) > 0])
        rows.append((q, gm, dm, gm / dm if dm > 0 else float("inf")))
    tail = [r for r in rows if r[3] > 2.0 and r[1] >= 0.9]
    tail.sort(key=lambda r: -r[3])
    print(f"\n>2x comparable tail ({len(tail)} rows, graft>=0.9s):")
    for q, gm, dm, r in tail:
        print(f"| {q} | {gm:.2f} | {dm:.2f} | {r:.1f}x |")
    print("\nworst absolute graft rows:")
    for q, gm, dm, r in sorted(rows, key=lambda x: -x[1])[:15]:
        print(f"  {q:34s} {gm:7.2f} vs {dm:7.2f} = {r:5.2f}x")


if __name__ == "__main__":
    main(sys.argv[1:])
