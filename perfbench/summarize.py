#!/usr/bin/env python3
"""Per-layer self time along the blocking path of a traced run, and blame
for the difference between two traced runs.

Usage:
  python3 perfbench/summarize.py RUN.spans.jsonl
  python3 perfbench/summarize.py PARENT.spans.jsonl CHANGE.spans.jsonl

A traced run (run.py --trace 1) keeps its spans beside its record under
.bench_build/runs. Within each op, every instant is charged to the deepest
span open at that instant, so a layer's self time is its spans' time not
covered by a child span, and parallel stages count once:

  bench     the harness between the calls it makes
  queries   registry construction before the action (ext: the same for
            the ext registry), not counting the jobs it runs
  action    the action's driver side outside catalyst phases and jobs
  catalyst  analysis, optimization and planning
  scheduler time a job runs with none of its stages running
  executor  time at least one stage of the job runs
  tables    the Tables.load probe
  io, catalog.write, catalog.ddl, parity
            scorecard_etl's CSV load, input-table write, sink truncation
            and reference queries
  streaming doc_stream's drop: landing it and waiting for the stream, the
            time no trigger of the stream runs
  streaming.trigger
            a trigger of the stream outside the jobs it runs
  streaming.start
            starting a doc_stream consumer (untimed in the end-to-end
            metrics)

Times are per pass, for cold and warm passes separately (traced passes
only). With two runs it prints both and names the layer whose self time
moved most, with its share of the total change in warm-pass time.
"""
import collections
import json
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """{(kind, layer): seconds per pass}, kind = cold | warm."""
    by_id = {s["id"]: s for s in spans}
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    totals = collections.Counter()
    npasses = collections.Counter()
    for p in spans:
        if p["layer"] != "bench" or not p["name"].startswith("pass "):
            continue
        kind = p["name"].split()[-1]
        npasses[kind] += 1
        for op in kids[p["id"]]:
            tree, todo = [], [op]
            while todo:
                s = todo.pop()
                tree.append(s)
                todo += kids[s["id"]]
            tree = [(s, depth(s)) for s in tree
                    if s["end"] > s["start"]]
            cuts = sorted({t for s, _ in tree for t in (s["start"], s["end"])
                           if op["start"] <= t <= op["end"]})
            for a, b in zip(cuts, cuts[1:]):
                mid = (a + b) / 2
                open_ = [(d, s) for s, d in tree if s["start"] <= mid < s["end"]]
                if open_:
                    layer = max(open_, key=lambda x: x[0])[1]["layer"]
                    totals[(kind, layer)] += (b - a) / 1e3
    for s in spans:
        if s["layer"] == "tables" and s["parent"] not in by_id:
            totals[("probe", "tables")] += (s["end"] - s["start"]) / 1e3
    npasses["probe"] = 1
    return {k: v / npasses[k[0]] for k, v in totals.items()}


def show(t, label):
    for kind in ("cold", "warm", "probe"):
        rows = sorted(((v, l) for (k, l), v in t.items() if k == kind),
                      reverse=True)
        if rows:
            total = sum(v for v, _ in rows)
            print(f"{label} {kind} pass: {total:.3f} s")
            for v, layer in rows:
                print(f"  {layer:18} {v:9.3f} s  {v / total:6.1%}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    a = self_times(load(sys.argv[1]))
    show(a, "A")
    if len(sys.argv) == 2:
        return
    b = self_times(load(sys.argv[2]))
    show(b, "B")
    layers = {l for (k, l) in list(a) + list(b) if k == "warm"}
    delta = {l: b.get(("warm", l), 0.0) - a.get(("warm", l), 0.0)
             for l in layers}
    total = sum(delta.values())
    print(f"warm pass change B - A: {total:+.3f} s")
    for layer, d in sorted(delta.items(), key=lambda x: -abs(x[1])):
        print(f"  {layer:18} {d:+9.3f} s")
    if delta:
        top = max(delta, key=lambda l: abs(delta[l]))
        share = delta[top] / total if total else float("nan")
        print(f"blame: {top} ({delta[top]:+.3f} s, {share:.0%} of the change)")


if __name__ == "__main__":
    main()
