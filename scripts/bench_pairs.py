#!/usr/bin/env python3
"""Run the benchmark in alternating parent/change pairs and compare them.

Usage (from the repository root):

    python3 scripts/bench_pairs.py --parent <git ref> \\
        --workloads corpus_kernels,star_sql --pairs 10 --seed 301 \\
        [--seconds 1] [--out <dir>]

The parent ref is extracted with `git archive` into a temp directory, so
the repository's `.git` and working tree are not touched. Side A is the
parent, side B this working tree. Each side builds into its own
`CARGO_TARGET_DIR` under the output directory. Pair i uses seed
`--seed + i` for both sides and alternates which side runs first. Each
untraced run record is copied into `<out>/<workload>/A` or `.../B`, and
`perfbench/compare.py A B` is printed per workload.

The output directory defaults to a new temp directory; it is kept, so the
records can be compared again or summed over several invocations.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(ref, dest):
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", ref],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"git archive {ref} failed")


def run_once(tree, target, workload, seed, seconds, dest):
    """One untraced run in `tree`; copies its record into `dest`."""
    runs = os.path.join(target, "runs")
    before = set(glob.glob(os.path.join(runs, "*.json")))
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        sys.exit(f"run failed in {tree}: {' '.join(cmd)}")
    new = sorted(set(glob.glob(os.path.join(runs, "*.json"))) - before,
                 key=os.path.getmtime)
    if len(new) != 1:
        sys.exit(f"expected one new run record in {runs}, found {len(new)}")
    os.makedirs(dest, exist_ok=True)
    # copy2 keeps the mtime compare.py pairs runs by
    shutil.copy2(new[0], dest)
    res = json.loads(r.stdout.splitlines()[-1])
    print(f"  {os.path.basename(dest)} seed {seed}: "
          f"{res['attempted'] - res['failed']}/{res['attempted']} ops correct",
          flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of side A")
    ap.add_argument("--workloads", required=True,
                    help="comma-separated workload names")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True,
                    help="first seed; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--out", help="output directory (default: a temp dir)")
    args = ap.parse_args()

    out = os.path.abspath(args.out or tempfile.mkdtemp(prefix="bench_pairs_"))
    parent = os.path.join(out, "parent")
    if not os.path.isdir(parent):
        extract(args.parent, parent)
    sides = {"A": (parent, os.path.join(out, "target-A")),
             "B": (ROOT, os.path.join(out, "target-B"))}
    workloads = args.workloads.split(",")
    print(f"records under {out}", flush=True)
    for w in workloads:
        print(f"{w}:", flush=True)
        for i in range(args.pairs):
            order = "AB" if i % 2 == 0 else "BA"
            for side in order:
                tree, target = sides[side]
                run_once(tree, target, w, args.seed + i, args.seconds,
                         os.path.join(out, w, side))
    for w in workloads:
        print(f"== {w}", flush=True)
        subprocess.run([sys.executable,
                        os.path.join(ROOT, "perfbench", "compare.py"),
                        os.path.join(out, w, "A"), os.path.join(out, w, "B")],
                       check=True)


if __name__ == "__main__":
    main()
