#!/usr/bin/env python3
"""Print the design counts ROADMAP aim 2 tracks, as one JSON line.

Counts over the Scala sources under src/main (or the root given as the
first argument):
  scala_lines           every line of every .scala file
  localcheckpoint_lines lines that mention `localCheckpoint`
  par_fan_lines         lines that mention `Par.fan`
  session_memos         `new ...SessionMemo` instances

Usage: python3 scripts/design_counts.py [src/main]
"""
import json
import os
import re
import sys

MEMO = re.compile(r"\bnew\s+(?:[\w.]+\.)?SessionMemo\b")


def counts(root):
    out = {"scala_lines": 0, "localcheckpoint_lines": 0,
           "par_fan_lines": 0, "session_memos": 0}
    for base, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(base, name), encoding="utf-8") as f:
                for line in f:
                    out["scala_lines"] += 1
                    out["localcheckpoint_lines"] += "localCheckpoint" in line
                    out["par_fan_lines"] += "Par.fan" in line
                    out["session_memos"] += len(MEMO.findall(line))
    return out


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, os.pardir, "src", "main")
    print(json.dumps(counts(root), sort_keys=True))
