#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read each query's parquet
dump from Verify.scala, run the matching oracle SQL in DuckDB over the same
testdata tables, and compare (rows / schema / values).

Usage: python3 tools/local_verify.py <sfDir> <outDir> [prefixes]
`prefixes` is the comma-separated name-prefix list also given to
graft.Verify's third argument: only queries whose names start with one of
them are compared, so a dump of a subset is checked as that subset.
Exits 1 unless every compared query is exact-green (and at least one was).
(Driver-side tooling only — not part of the Spark library.)
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True,
                        na_position="first")
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    prefixes = sys.argv[3].split(",") if len(sys.argv) > 3 else [""]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        if not any(name.startswith(p) for p in prefixes):
            continue
        entry = {"rows": False, "schema": False, "values": False}
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            if not files:
                entry["error"] = "no spark output"
                results[name] = entry; continue
            spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            duck_df = con.sql(sql).df()
            entry["rows"] = len(spark_df) == len(duck_df)
            s, d = norm(spark_df), norm(duck_df)
            entry["schema"] = list(s.columns) == list(d.columns)
            if entry["rows"] and entry["schema"]:
                try:
                    pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                                  check_exact=True)
                    entry["values"] = True
                except AssertionError as e:
                    # retry with tolerance to distinguish float-noise from logic bugs
                    try:
                        pd.testing.assert_frame_equal(s, d, check_dtype=False,
                                                      rtol=1e-9, atol=1e-12)
                        entry["values"] = "approx-only"
                    except AssertionError:
                        entry["values"] = False
                    entry["detail"] = str(e).split("\n")[0][:200]
            else:
                entry["detail"] = (f"rows spark={len(spark_df)} duck={len(duck_df)}; "
                                   f"cols spark={list(s.columns)} duck={list(d.columns)}")
        except Exception as e:
            entry["error"] = str(e)[:300]
        results[name] = entry
    ok = sum(1 for v in results.values() if v.get("values") is True)
    for name, v in results.items():
        flag = "OK " if v.get("values") is True else ("~~ " if v.get("values") == "approx-only" else "FAIL")
        print(f"{flag} {name}: {json.dumps(v)}")
    print(f"\n{ok}/{len(results)} exact-green")
    return 0 if results and ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main())
