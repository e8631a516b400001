#!/usr/bin/env python3
"""Pick the query mixes of star_sql and corpus_kernels from measured
per-query costs, and print what share of their registry each mix stands
for.

Usage (from the repository root):
  python3 perfbench/pick_mix.py [--write]

The costs are the warm per-query seconds of bench_history/bench_r16_c8.json
(graft.Bench at sf0.1, local[8]). A registry is the set of queries the
Scala sources under src/main/scala/graft/<registry>/ list as
`"qNN_name" -> ...`. The queries of a registry are ranked by cost and cut
into as many strata of equal count as the mix has queries; the mix takes
the median-ranked query of each stratum. So the mix follows the registry's
cost distribution, from its cheap queries to its expensive ones, and
registry size / mix size times the mix's cost estimates the registry's.
With --write the picks replace the mixes in perfbench/mixes.json; run
perfbench/golden.py afterwards.
"""
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COSTS = os.path.join(ROOT, "bench_history", "bench_r16_c8.json")
MIXES = {"star_sql": ("queries", 2), "corpus_kernels": ("ext", 2)}


def registry(package):
    """{query: module} of the registry under src/main/scala/graft/<package>."""
    out = {}
    for path in sorted(glob.glob(
            os.path.join(ROOT, "src", "main", "scala", "graft", package,
                         "*.scala"))):
        with open(path) as f:
            for name in re.findall(r'"(q\d+_\w+)"\s*->', f.read()):
                out[name] = os.path.basename(path)[:-len(".scala")]
    return out


def pick(costs, k):
    ranked = sorted(costs, key=lambda q: (costs[q], q))
    n = len(ranked)
    return [ranked[(2 * i + 1) * n // (2 * k)] for i in range(k)]


def main():
    with open(COSTS) as f:
        measured = json.load(f)["queries"]
    mixes_path = os.path.join(HERE, "mixes.json")
    with open(mixes_path) as f:
        mixes = json.load(f)
    for wl, (package, k) in MIXES.items():
        reg = registry(package)
        costs = {q: measured[q] for q in reg if q in measured}
        missing = sorted(set(reg) - set(costs))
        mix = pick(costs, k)
        total = sum(costs.values())
        part = sum(costs[q] for q in mix)
        print(f"{wl}: {len(costs)} queries of graft.{package}, "
              f"{total:.1f} s warm"
              + (f" ({len(missing)} without a cost: {missing})" if missing
                 else ""))
        for q in mix:
            print(f"  {q:32} {reg[q]:12} {costs[q]:6.3f} s")
        print(f"  mix {part:.2f} s = {part / total:.1%} of the registry; "
              f"{len(costs)}/{k} x mix = {len(costs) / k * part:.1f} s "
              f"({len(costs) / k * part / total - 1:+.1%})")
        mixes[wl] = mix
    if "--write" in sys.argv:
        with open(mixes_path, "w") as f:
            json.dump(mixes, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
