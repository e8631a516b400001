"""Answer checks of a benchmark run, made outside the timed region.

Every op of the run gets one verdict {"op", "ok", "why"}. An op that threw,
or whose answer differs from the oracle, fails. A check that cannot run at
all (a missing answer, an oracle error) raises, and run.py then exits
non-zero without a result.

- star_sql, corpus_kernels: the op's answer (one parquet file, row order
  kept) is hashed as scripts/check.py does and compared with golden.json,
  the DuckDB oracle's hashes over the benchmark corpus.
- scorecard_etl: the ingested input table (its row count, UNITID sum and
  non-null counts) and each ORC sink table, as the benchmark read them
  back into the record after the pass's last op, are compared with DuckDB
  running the reference's queries on the same CSV drop, doubles rounded to
  2 places as the reference's tests do.
- doc_stream: after the last pass the benchmark compared each consumer's
  final state with a batch rebuild over the initial slice and every drop it
  was given; a mismatch fails every drop of that consumer.
"""
import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")


def canon(df, keep_order=False):
    """scripts/check.py's canonical form: columns sorted by name, values
    stringified, rows sorted unless their order is part of the contract."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or v != v:
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    if not keep_order:
        rows.sort()
    return rows, hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]


def answer_of(con, path):
    if not os.path.isdir(path):
        raise RuntimeError(f"answer {path} is missing")
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").df()


def check_queries(rec):
    with open(GOLDEN) as f:
        golden = json.load(f)["queries"]
    con = duckdb.connect()
    out = []
    seen = {}   # answer file -> (rows, hash, columns)
    for o in rec["ops"]:
        op = f"p{o['pass']}.{o['index']}.{o['name']}"
        if not o["ok"]:
            out.append({"op": op, "ok": False, "why": o["error"]})
            continue
        if o["check"].startswith("CHECK-FAILED"):
            raise RuntimeError(f"{op}: {o['check']}")
        g = golden.get(o["name"])
        if g is None:
            raise RuntimeError(f"{op}: no golden hash for {o['name']}")
        if o["check"] not in seen:
            got = answer_of(con, o["check"])
            seen[o["check"]] = (*canon(got, keep_order=g["ordered"]),
                                sorted(got.columns))
        rows, h, cols = seen[o["check"]]
        why = ("" if (h, len(rows), cols) == (g["hash"], g["rows"], g["columns"])
               else f"hash {h} rows {len(rows)} vs golden {g['hash']} "
                    f"rows {g['rows']}")
        out.append({"op": op, "ok": not why, "why": why})
    return out


SCORECARD_SQL = {
    "ingest": "SELECT count(*), sum(UNITID), count(OPEID), count(COSTT4_A), "
              "count(DEBT_MDN), count(C100_4), count(C150_4) FROM t",
    "q1": "SELECT STABBR, avg(COSTT4_A) AS COSTT4_A_MEAN FROM t "
          "GROUP BY STABBR ORDER BY COSTT4_A_MEAN DESC NULLS LAST LIMIT 5",
    "q2": "SELECT UNITID, OPEID, INSTNM, CITY, STABBR, DEBT_MDN FROM t "
          "WHERE DEBT_MDN IS NOT NULL AND STABBR = 'TX' "
          "ORDER BY DEBT_MDN DESC LIMIT 5",
    "q3": "SELECT CITY, avg(C100_4) AS C100_4_MEAN, "
          "stddev_samp(C100_4) AS C100_4_STDDEV, count(*) AS COUNT FROM t "
          "WHERE STABBR = 'TX' AND C100_4 IS NOT NULL GROUP BY CITY "
          "HAVING count(*) > 1 ORDER BY C100_4_MEAN DESC",
}
def rounded(rows):
    return sorted(tuple(round(v, 2) if isinstance(v, float) else v for v in r)
                  for r in rows)


def check_scorecard(rec, inputs):
    con = duckdb.connect()
    readback = {}
    for o in rec["ops"]:
        if o["check"].startswith("CHECK-FAILED"):
            raise RuntimeError(f"p{o['pass']}.{o['name']}: {o['check']}")
        if o["check"].startswith("ROWS:"):
            readback[o["pass"]] = json.loads(o["check"][len("ROWS:"):])
    expected = {}
    out = []
    for o in rec["ops"]:
        op = f"p{o['pass']}.{o['index']}.{o['name']}"
        kind, drop = o["name"].split(":")
        if not o["ok"]:
            out.append({"op": op, "ok": False, "why": o["error"]})
            continue
        if o["pass"] not in readback:
            out.append({"op": op, "ok": False,
                        "why": "a later op of the pass failed: no readback"})
            continue
        if drop not in expected:
            csv = os.path.join(inputs, "scorecard", f"{drop}.csv.gz")
            con.execute(
                f"CREATE OR REPLACE TABLE t AS SELECT * FROM read_csv('{csv}', "
                "header = true, nullstr = 'NULL', types = {'UNITID': 'INTEGER', "
                "'OPEID': 'INTEGER', 'COSTT4_A': 'INTEGER', "
                "'DEBT_MDN': 'DOUBLE', 'C100_4': 'DOUBLE', 'C150_4': 'DOUBLE'})")
            expected[drop] = {k: rounded(con.execute(q).fetchall())
                              for k, q in SCORECARD_SQL.items()}
        got = [json.loads(j) for j in readback[o["pass"]].get(kind, [])]
        got = [r if isinstance(r, list) else list(r.values()) for r in got]
        ok = rounded(got) == expected[drop][kind]
        out.append({"op": op, "ok": ok,
                    "why": "" if ok else f"{kind} answer differs from DuckDB"})
    return out


def check_stream(rec):
    final = rec["extras"]["stream_checks"]
    for consumer, verdict in final.items():
        if verdict.startswith("CHECK-FAILED"):
            raise RuntimeError(f"{consumer}: {verdict}")
    out = []
    for o in rec["ops"]:
        op = f"p{o['pass']}.{o['index']}.{o['name']}"
        consumer = o["name"].split(":")[0]
        if not o["ok"]:
            out.append({"op": op, "ok": False, "why": o["error"]})
        elif consumer not in final:
            raise RuntimeError(f"{op}: the stream's final check did not run")
        else:
            ok = final[consumer] == "OK"
            out.append({"op": op, "ok": ok,
                        "why": "" if ok else f"{consumer} {final[consumer]}"})
    return out


def check(workload, rec, inputs):
    if workload == "scorecard_etl":
        return check_scorecard(rec, inputs)
    if workload == "doc_stream":
        return check_stream(rec)
    return check_queries(rec)
