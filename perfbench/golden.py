#!/usr/bin/env python3
"""Regenerate perfbench/golden.json: for every query in mixes.json, the
hash, row count and column names of the DuckDB oracle's answer over the
benchmark corpus (perfbench/data/sf0.01), in scripts/check.py's canonical
form (row order kept for SparkEntry.ordered queries).

Usage (from the repository root): python3 perfbench/golden.py

The oracle SQL and the ordered set come from graft.Verify in SQL-only mode.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
from run import ADD_OPENS, DATA  # noqa: E402

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    build.build()
    with tempfile.TemporaryDirectory(dir=build.build_dir()) as out:
        env = dict(os.environ, SPARK_GRAFT_SQL_ONLY="1")
        cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}"]
               + [x for p in ADD_OPENS
                  for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", build.classpath(), "graft.Verify", DATA, out])
        subprocess.run(cmd, env=env, cwd=out, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        ordered = set(json.load(open(os.path.join(out, "ordered.json"))))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    golden = {}
    for wl in ("star_sql", "corpus_kernels"):
        for name in inputs.mixes()[wl]:
            df = con.execute(oracle[name]).df()
            rows, h = checks.canon(df, keep_order=name in ordered)
            golden[name] = {"hash": h, "rows": len(rows),
                            "columns": sorted(df.columns),
                            "ordered": name in ordered}
            print(f"{wl} {name}: {len(rows)} rows {h}")
    with open(checks.GOLDEN, "w") as f:
        json.dump({"regenerate": "python3 perfbench/golden.py",
                   "corpus": "perfbench/data/sf0.01",
                   "queries": dict(sorted(golden.items()))}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
