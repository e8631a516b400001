#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program if needed (perfbench/build.py),
makes the run's inputs from the seed, runs perfbench.Main in one JVM, checks every
op's answer, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The lines before it give failed_frac with its counts, the tail
percentile, the end-to-end metrics without a gate, and the host-noise
record. The full run record is kept under
$CARGO_TARGET_DIR/runs (default .bench_build/runs) for compare.py and
summarize.py. Exits non-zero, printing no result, when the build, the run
or an output check cannot complete.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(HERE, "data", "sf0.01")
# workloads that leave data on disk: space_amp applies to them
INGEST = ("scorecard_etl", "doc_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_snapshot():
    """Whole-machine CPU ticks (busy and steal) from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    v = [int(x) for x in cpu]
    # user nice system idle iowait irq softirq steal
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return {"busy": busy, "steal": v[7] if len(v) > 7 else 0,
            "time": time.time()}


def host_noise(before, after, own_cpu_s):
    hz = os.sysconf("SC_CLK_TCK")
    busy = (after["busy"] - before["busy"]) / hz
    return {"steal_s": round((after["steal"] - before["steal"]) / hz, 3),
            "other_cpu_s": round(max(0.0, busy - own_cpu_s), 3),
            "own_cpu_s": round(own_cpu_s, 3),
            "wall_s": round(after["time"] - before["time"], 3),
            "loadavg": list(os.getloadavg()),
            "ncpu": os.cpu_count()}


def run_jvm(cmd, cwd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest whole percentile with at least 10 of n ops beyond it. With
    fewer than 20 ops that percentile would sit below the median; the tail
    is then the slowest op (100, with no op beyond it)."""
    return int(100 * (1 - 10 / n)) if n >= 20 else 100


def end_to_end(rec, workload):
    """Run-level metrics. Pass and op costs come twice: as wall seconds,
    and as CPU seconds of the whole JVM process (all its threads, collector
    and compiler threads included), which the host's steal does not
    inflate."""
    cold = [p for p in rec["passes"] if p["kind"] == "cold"]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    ops = rec["ops"]
    pct = tail_percentile(len(ops))
    m = {"setup_s": rec["setup_s"],
         "retained_heap_mb": rec["retained_heap_mb"]}
    for suffix, key in (("s", "seconds"), ("cpu_s", "cpuSeconds")):
        xs = [o[key] for o in ops]
        m[f"cold_pass_{suffix}"] = statistics.median(p[key] for p in cold)
        m[f"warm_pass_{suffix}"] = statistics.median(p[key] for p in warm)
        m[f"op_p50_{suffix}"] = quantile(xs, 0.5)
        m[f"op_tail_{suffix}"] = quantile(xs, pct / 100)
    if workload in INGEST:
        ex = rec["extras"]
        m["space_amp"] = ex["disk_bytes"] / ex["input_bytes"]
    return m, {"percentile": pct, "ops": len(ops),
               "ops_beyond": len(ops) - int(len(ops) * pct / 100)}


def stream_drops(rec):
    """{carry: [wall seconds of its warm drops, in landing order]}."""
    warm = {p["pass"] for p in rec["passes"] if p["kind"] == "warm"}
    out = {}
    for o in sorted(rec["ops"], key=lambda o: (o["pass"], o["name"])):
        if o["pass"] in warm and o["ok"]:
            out.setdefault(o["name"].split(":")[0], []).append(o["seconds"])
    return out


def per_layer(rec, workload):
    """The per-layer metrics of a traced run that apply to its workload
    (layers.json): medians over its traced cold passes and over its traced
    warm passes."""
    cold = [p for p in rec["passes"] if p["kind"] == "cold"]
    tw = [p for p in rec["passes"] if p["kind"] == "warm" and p["traced"]]
    uw = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]

    def med(ps, k):
        return statistics.median(p["layers"].get(k, 0.0) for p in ps)

    def warm(k):
        return med(tw, k)

    m = dict(rec["tables_probe"])
    for reg in ("queries", "ext"):
        m[f"{reg}.build_s.cold"] = med(cold, f"{reg}.span_s")
        m[f"{reg}.build_s.warm"] = warm(f"{reg}.span_s")
        m[f"{reg}.build_jobs.cold"] = med(cold, f"{reg}.jobs")
        m[f"{reg}.build_jobs.warm"] = warm(f"{reg}.jobs")
    for k in ("catalyst.analysis_s", "catalyst.optimization_s",
              "catalyst.planning_s", "scheduler.jobs", "scheduler.stages",
              "scheduler.tasks", "scheduler.driver_gap_s",
              "scheduler.idle_core_s", "executor.run_s", "executor.cpu_s",
              "executor.gc_s", "executor.deser_s", "executor.input_mb",
              "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
              "shuffle.spill_mb", "storage.rdd_blocks_written",
              "storage.rdd_mb_written", "streaming.trigger_s",
              "streaming.add_batch_s", "streaming.plan_s",
              "streaming.offsets_s", "streaming.wal_commit_s"):
        m[k] = warm(k)
    m["storage.rdd_mb_held"] = tw[-1]["layers"].get("storage.rdd_mb_held", 0.0)
    m["io.csv_load_s"] = warm("io.span_s")
    m["io.csv_load_jobs"] = warm("io.jobs")
    m["catalog.ddl_s"] = warm("catalog.ddl.span_s")
    m["catalog.orc_mb_written"] = (warm("catalog.write.output_mb")
                                   + warm("parity.output_mb"))
    m["parity.query_s"] = warm("parity.span_s")
    ex = rec["extras"]
    if workload in INGEST:
        m["disk.space_amp"] = ex["disk_bytes"] / ex["input_bytes"]
    if workload == "doc_stream":
        m["streaming.ckpt_mb"] = ex["ckpt_bytes"] / (1024 * 1024)
        ratios = []
        for carry, xs in stream_drops(rec).items():
            m[f"streaming.{carry}.drop_s"] = statistics.mean(xs)
            q = max(1, len(xs) // 4)
            ratios.append(statistics.mean(xs[-q:]) / statistics.mean(xs[:q]))
        m["streaming.late_over_early"] = statistics.mean(ratios)
    m["trace.overhead"] = (statistics.median(p["seconds"] for p in tw)
                           / statistics.median(p["seconds"] for p in uw))
    applies = layers()
    return {k: v for k, v in m.items()
            if k in applies and workload in applies[k]["workloads"]}


def layers():
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        sys.exit(f"unknown workload {args.workload}; known: {names}")
    build.build()

    bdir = build.build_dir()
    work = os.path.join(bdir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    ins = os.path.join(work, "inputs")
    inputs.make(args.workload, args.seed, ins)
    record_path = os.path.join(work, "record.json")
    cores = min(4, os.cpu_count() or 1)

    before = host_snapshot()
    cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    launch_ms = time.time() * 1000
    cmd = (["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log"]
           + [x for p in ADD_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), work, DATA,
              ins, f"{launch_ms:.0f}", str(cores), record_path])
    rc = run_jvm(cmd, work, os.path.join(work, "jvm.log"))
    cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    own = (cpu1.ru_utime - cpu0.ru_utime) + (cpu1.ru_stime - cpu0.ru_stime)
    noise = host_noise(before, host_snapshot(), own)
    if rc != 0 or not os.path.exists(record_path):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
        sys.stderr.write(tail + "\n")
        sys.exit(f"benchmark JVM failed (exit {rc})")
    with open(record_path) as f:
        rec = json.load(f)

    verdicts = checks.check(args.workload, rec, ins)
    failed = sum(1 for v in verdicts if not v["ok"])
    attempted = len(verdicts)
    for v in verdicts:
        if not v["ok"]:
            print(f"FAILED op {v['op']}: {v['why']}")

    if args.trace:
        metrics = per_layer(rec, args.workload)
        wanted = spec["per_layer"]
        tail = None
    else:
        metrics, tail = end_to_end(rec, args.workload)
        wanted = spec["end_to_end"]
    # every metric BENCHMARK.json names is in the result; a per-layer one
    # that does not apply to this workload (layers.json) reads 0, since the
    # workload spends nothing in that layer
    out = {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
           for m in wanted}
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted} ops "
          f"threw or answered wrong)")
    gated = {m["name"] for m in wanted}
    if tail:
        print(f"op tails are p{tail['percentile']} of the run's {tail['ops']} "
              f"ops ({tail['ops_beyond']} beyond it)")
    rest = [f"{k} {v:.4g}" for k, v in sorted(metrics.items()) if k not in gated]
    if rest:
        print("not gated: " + ", ".join(rest))
    print("host " + json.dumps(noise))

    runs = os.path.join(bdir, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}")
    with open(base + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "metrics": metrics,
                   "attempted": attempted, "failed": failed, "tail": tail,
                   "host": noise, "setup_s": rec["setup_s"],
                   "passes": rec["passes"]}, f, indent=1)
    spans = record_path[:-len(".json")] + ".spans.jsonl"
    if os.path.exists(spans):
        shutil.copy(spans, base + ".spans.jsonl")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
