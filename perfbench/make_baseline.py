#!/usr/bin/env python3
"""Write perfbench/baseline/<workload>.json from kept run records.

Usage (from the repository root):
  python3 perfbench/make_baseline.py RUNS SET_A SET_B [NOTE]

RUNS is a directory of run records (run.py keeps them under
.bench_build/runs). SET_A and SET_B are two seed ranges, as FIRST-LAST, of
untraced runs of the same code; each workload also needs a traced run, the
latest of which is taken. Per workload the file holds the end-to-end
medians and quartiles over both sets, each set's spread (quartile distance
over the median) and median, the host record of every run, and the traced
run's per-layer numbers: only those that apply to the workload
(layers.json).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(rng):
    a, b = rng.split("-")
    return range(int(a), int(b) + 1)


def latest(paths):
    return json.load(open(max(paths, key=os.path.getmtime))) if paths else None


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "spread": round((q3 - q1) / med, 4)}


def main():
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    runs, set_a, set_b = sys.argv[1:4]
    note = sys.argv[4] if len(sys.argv) == 5 else ""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    gated = [m["name"] for m in spec["end_to_end"]]
    for w in [x["name"] for x in spec["workloads"]]:
        sets = {}
        for rng in (set_a, set_b):
            sets[rng] = [latest(glob.glob(os.path.join(runs, f"{w}-s{s}-t0-*.json")))
                         for s in seeds(rng)]
            if None in sets[rng]:
                sys.exit(f"{w}: set {rng} is incomplete")
        both = sets[set_a] + sets[set_b]
        names = gated + sorted(set(both[0]["metrics"]) - set(gated))
        e2e = {}
        for n in names:
            e2e[n] = dict(summary([r["metrics"][n] for r in both]),
                          gated=n in gated,
                          by_set={k: summary([r["metrics"][n] for r in v])
                                  for k, v in sets.items()})
            del e2e[n]["spread"]
        t = latest(glob.glob(os.path.join(runs, f"{w}-s*-t1-*.json")))
        if t is None:
            sys.exit(f"{w}: no traced run")
        out = {"workload": w,
               "command": f"python3 perfbench/run.py --workload {w} --seed <n> "
                          f"--seconds {spec['run_seconds']} --trace 0|1",
               "host": note,
               "end_to_end": {
                   "seed_sets": list(sets),
                   "attempted": sum(r["attempted"] for r in both),
                   "failed": sum(r["failed"] for r in both),
                   "host": [dict(r["host"], seed=r["seed"]) for r in both],
                   "metrics": e2e},
               "traced": {
                   "seed": t["seed"], "attempted": t["attempted"],
                   "failed": t["failed"], "host": t["host"],
                   "per_layer": {k: round(v, 4) for k, v in t["metrics"].items()
                                 if w in layers.get(k, {}).get("workloads", [])}}}
        path = os.path.join(HERE, "baseline", f"{w}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(w, {n: (e2e[n]["median"], [s["spread"] for s in e2e[n]["by_set"].values()])
                  for n in gated})


if __name__ == "__main__":
    main()
