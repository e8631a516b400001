#!/usr/bin/env python3
"""Count the processes a JVM forked, from a JFR recording.

Usage:

    python3 scripts/jfr_forks.py <recording.jfr> [<recording.jfr> ...]

Reads the `jdk.ProcessStart` events with `jfr print --json` (the JDK's
`jfr` tool must be on PATH) and prints their total, then the counts by
command and by the first stack frame in `org.apache.spark` or `graft`
code (the engine or Spark call that asked for the fork). A command is
its program name and the arguments that are not paths, so `chmod 644
/a` and `chmod 644 /b` count as one.

To record a run, start its JVM with for example

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run-%p.jfr"

(`jdk.ProcessStart` is on, with stack traces, in the default settings).
Several recordings are summed.
"""
import collections
import json
import os
import subprocess
import sys

OWN = ("org.apache.spark.", "graft.")


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256",
         "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(cmd):
    words = cmd.split()
    if not words:
        return "(empty)"
    return " ".join([os.path.basename(words[0])] +
                    [w for w in words[1:] if "/" not in w])


def caller(ev):
    trace = ev["values"].get("stackTrace") or {}
    for f in trace.get("frames", []):
        m = f.get("method") or {}
        cls = (m.get("type") or {}).get("name", "").replace("/", ".")
        if cls.startswith(OWN):
            return f"{cls}.{m.get('name', '?')}"
    return "(no spark or graft frame)"


def table(title, counts):
    print(f"\n{title}")
    for k, n in counts.most_common():
        print(f"{n:6d}  {k}")


def main(paths):
    if not paths:
        sys.exit(__doc__)
    by_cmd = collections.Counter()
    by_caller = collections.Counter()
    for p in paths:
        for ev in events(p):
            by_cmd[command(ev["values"].get("command", ""))] += 1
            by_caller[caller(ev)] += 1
    print(f"jdk.ProcessStart events: {sum(by_cmd.values())} "
          f"in {len(paths)} recording(s)")
    table("by command:", by_cmd)
    table("by first org.apache.spark / graft frame:", by_caller)


if __name__ == "__main__":
    main(sys.argv[1:])
