#!/usr/bin/env python3
"""Derive the expected digests of the registry workloads from DuckDB.

    python3 perfbench/oracle.py

Runs each op's `SparkEntry.oracleSql` on DuckDB over each perfbench/data/<sf>
and writes `name rows hash` lines to perfbench/expected/<sf>.txt. The
digest is the order-insensitive content hash of `perfbench.Canon`. Run it
again only when the data or an op's oracle changes; the benchmark reads the
file and never runs DuckDB itself.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb

import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EPOCH = datetime.datetime(1970, 1, 1)


def num(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    if math.isnan(x):
        x = float("nan")
    bits = struct.unpack(">q", struct.pack(">d", x))[0]
    return "n" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(value(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(v[k]) for k in sorted(v)) + "}"
    raise TypeError(f"no canonical form for {type(v)}")


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(cur):
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(sha("\u0001".join(value(r[i]) for i in order)) for r in cur.fetchall())
    return len(rows), sha("\n".join(rows))


def main():
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    cp = run.build()
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    run.launch(cp, ["--setup-only", "--dump-oracles", sql_file])
    with open(sql_file) as fh:
        oracles = json.load(fh)
    for scale in sorted(os.listdir(os.path.join(run.HERE, "data"))):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.HERE}/data/{scale}/{t}.parquet'")
        lines = [f"# name rows sha256 -- written by perfbench/oracle.py from DuckDB "
                 f"{duckdb.__version__} over data/{scale}"]
        for name in oracles:
            rows, h = digest(con.execute(oracles[name]))
            lines.append(f"{name} {rows} {h}")
            print(scale, lines[-1])
        with open(os.path.join(run.HERE, "expected", scale + ".txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
