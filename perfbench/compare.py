#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent (A) against change (B).

Usage: python3 perfbench/compare.py <A> <B>

A and B are each a directory of run records (the .json files run.py keeps
under .bench_build/runs; traced runs are skipped) or a list of such files
separated by commas. Run the two sides alternately, the same number of
times, with the same --seconds. Runs pair up in the order they were made.
For each workload and end-to-end metric of BENCHMARK.json, and the ones
run.py records without a gate, it prints each side's median and quartiles, the
share of pairs the change won (ties count for neither), and a verdict by
choosing-metrics section 8 and the metric's bound:

  improved    B won at least 9/10 of the pairs and the medians differ by
              more than A's own quartile spread;
  worse       B's median is worse than A's by more than the metric's bound,
              and A's spread is within the bound;
  no worse    B's median is within the bound and A's spread is too;
  unresolved  A's spread is wider than the bound, unless every run of B
              reads better than every run of A (then: improved).
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(spec):
    paths = []
    for part in spec.split(","):
        if os.path.isdir(part):
            paths += [os.path.join(part, f) for f in sorted(os.listdir(part))
                      if f.endswith(".json")]
        else:
            paths.append(part)
    runs = {}
    for p in sorted(paths, key=os.path.getmtime):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    sign = 1 if better == "lower" else -1     # > 0: B is better
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    aq1, amed, aq3 = quartiles(a)
    bmed = quartiles(b)[1]
    spread = (aq3 - aq1) / amed if amed else float("inf")
    worse_by = sign * (bmed - amed) / amed if amed else 0.0
    if ((pairs and wins >= 0.9 * len(pairs)
         and sign * (amed - bmed) > aq3 - aq1)
            or all(sign * (x - y) > 0 for x in a for y in b)):
        return "improved", wins, len(pairs)
    if spread > bound:
        return "unresolved", wins, len(pairs)
    if worse_by > bound:
        return "worse", wins, len(pairs)
    return "no worse", wins, len(pairs)


def reported(runs, gated):
    """End-to-end metrics the runs recorded without a gate, compared by the
    same rule with the largest bound."""
    names = sorted(set(runs[0]["metrics"]) - {m["name"] for m in gated})
    return [{"name": n, "better": "lower", "bound": 0.25} for n in names]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    A, B = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':15} {'metric':17} {'A median [q1, q3]':>28} "
          f"{'B median [q1, q3]':>28} {'B won':>7} {'B/A-1':>7}  verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        if w not in A or w not in B:
            print(f"{w:15} (no runs on {'A' if w not in A else 'B'})")
            continue
        for m in spec["end_to_end"] + reported(A[w], spec["end_to_end"]):
            a = [r["metrics"][m["name"]] for r in A[w]]
            b = [r["metrics"][m["name"]] for r in B[w]]
            v, wins, n = verdict(a, b, m["better"], m["bound"])
            aq, bq = quartiles(a), quartiles(b)
            note = "" if m in spec["end_to_end"] else " (not gated)"
            print(f"{w:15} {m['name']:17} "
                  f"{aq[1]:10.4f} [{aq[0]:.4f}, {aq[2]:.4f}] "
                  f"{bq[1]:10.4f} [{bq[0]:.4f}, {bq[2]:.4f}] "
                  f"{wins:>3}/{n:<3} {bq[1] / aq[1] - 1:+7.1%}  {v}{note}")


if __name__ == "__main__":
    main()
