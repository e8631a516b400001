"""Seed-driven inputs of a benchmark run.

- star_sql, corpus_kernels: mix.txt, the fixed query mix of mixes.json (the
  seed orders it per pass, inside the JVM).
- scorecard_etl: SCORECARD_DROPS reference-shaped College Scorecard CSV drops (gzip,
  header, literal NULL for nulls, the 9 contract columns among filler).
- doc_stream: carries.txt and per_pass.txt, the consumers and the drops per
  pass of mixes.json, and a seed split of the corpus documents and
  embeddings: half the rows (drawn by the seed) in initial.parquet, the
  rest dealt into the drops of mixes.json, drop00.parquet onwards.
"""
import csv
import gzip
import io
import json
import os
import random

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SCORECARD_DROPS = 2
CORPUS = os.path.join(HERE, "data", "sf0.01")
SCORECARD_ROWS = 4000
FILLER = 60

STATES = ("AL AK AZ AR CA CO CT DE DC FL GA HI ID IL IN IA KS KY LA ME MD MA "
          "MI MN MS MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX "
          "UT VT VA WA WV WI WY").split()
TX_CITIES = ["Houston", "Dallas", "Austin", "San Antonio", "Fort Worth",
             "El Paso", "Irving", "Tyler", "Lubbock", "Waco", "Denton",
             "Abilene", "Beaumont", "Laredo", "Amarillo", "Killeen"]
OTHER_CITIES = [f"City {i}" for i in range(400)]


def mixes():
    with open(os.path.join(HERE, "mixes.json")) as f:
        return json.load(f)


def scorecard_header():
    contract = ["UNITID", "OPEID", "INSTNM", "CITY", "STABBR", "COSTT4_A",
                "DEBT_MDN", "C100_4", "C150_4"]
    cols = []
    for i in range(FILLER + len(contract)):
        # the contract columns sit spread among the filler, as in the
        # reference's ~1,900-column file
        if i % 8 == 0 and contract:
            cols.append(contract.pop(0))
        else:
            cols.append(f"FILLER_{i:03d}")
    return cols + contract


def scorecard_drop(rng, n):
    header = scorecard_header()
    unitids = rng.sample(range(100000, 999999), n)
    debts = rng.sample(range(20000, 800000), n)   # distinct: no ties in q2
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)

    # (column, filler kind), kind None for a contract column
    cols = [(c, int(c[-3:]) % 3 if c.startswith("FILLER_") else None)
            for c in header]

    def maybe(v, p_null):
        return "NULL" if rng.random() < p_null else v

    for i in range(n):
        tx = rng.random() < 0.08
        st = "TX" if tx else rng.choice(STATES)
        city = rng.choice(TX_CITIES) if tx else rng.choice(OTHER_CITIES)
        row = {
            "UNITID": unitids[i],
            "OPEID": rng.randrange(1000000, 9999999),
            "INSTNM": f"Institution {unitids[i]} of {city}",
            "CITY": city,
            "STABBR": st,
            "COSTT4_A": maybe(rng.randrange(5000, 60000), 0.4),
            "DEBT_MDN": maybe(f"{debts[i] / 20:.2f}", 0.3),
            "C100_4": maybe(f"{rng.random():.4f}", 0.5),
            "C150_4": maybe(f"{rng.random():.4f}", 0.5),
        }
        out = []
        for c, k in cols:
            if k is None:
                out.append(row[c])
                continue
            r = rng.random()
            out.append("NULL" if r < 0.3 else int(r * 10 ** 6) if k == 0 else
                       f"{r * 100:.3f}" if k == 1 else f"code{int(r * 50)}")
        w.writerow(out)
    return buf.getvalue().encode()


def stream_split(rng, table, key, drops, out):
    """Deal the rows of a corpus table into initial.parquet and the
    drops, one parquet file each, rows in key order."""
    src = os.path.join(CORPUS, f"{table}.parquet")
    os.makedirs(out)
    con = duckdb.connect()
    ids = [r[0] for r in
           con.execute(f"SELECT {key} FROM '{src}' ORDER BY {key}").fetchall()]
    rng.shuffle(ids)
    half = len(ids) // 2
    part = {i: "initial" for i in ids[:half]}
    for k, i in enumerate(ids[half:]):
        part[i] = f"drop{k % drops:02d}"
    con.execute("CREATE TABLE part (id BIGINT, name VARCHAR)")
    con.executemany("INSERT INTO part VALUES (?, ?)", list(part.items()))
    for name in sorted(set(part.values())):
        con.execute(
            f"COPY (SELECT t.* FROM '{src}' t JOIN part ON t.{key} = part.id "
            f"WHERE part.name = '{name}' ORDER BY t.{key}) "
            f"TO '{os.path.join(out, name + '.parquet')}' (FORMAT parquet)")


def make(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload in ("star_sql", "corpus_kernels"):
        with open(os.path.join(out, "mix.txt"), "w") as f:
            f.write("\n".join(mixes()[workload]) + "\n")
    elif workload == "scorecard_etl":
        rng = random.Random(seed)
        d = os.path.join(out, "scorecard")
        os.makedirs(d)
        for k in range(SCORECARD_DROPS):
            with open(os.path.join(d, f"drop{k}.csv.gz"), "wb") as f:
                f.write(gzip.compress(scorecard_drop(rng, SCORECARD_ROWS),
                                      compresslevel=6, mtime=0))
    elif workload == "doc_stream":
        conf = mixes()[workload]
        with open(os.path.join(out, "carries.txt"), "w") as f:
            f.write("\n".join(conf["carries"]) + "\n")
        with open(os.path.join(out, "per_pass.txt"), "w") as f:
            f.write(f"{conf['per_pass']}\n")
        rng = random.Random(seed)
        stream_split(rng, "documents", "doc_id", conf["drops"],
                     os.path.join(out, "documents"))
        stream_split(rng, "embeddings", "vec_id", conf["drops"],
                     os.path.join(out, "embeddings"))
    else:
        raise SystemExit(f"unknown workload {workload}")
