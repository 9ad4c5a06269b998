#!/usr/bin/env python3
"""Oracle parity check: run graft.Verify first, then this script.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir> [query ...]

Replicates the driver's check shape: for every query in oracle_sql.json
(or the subset given), run the DuckDB SQL over the sf parquet tables, read
the Spark dump, sort columns by name and rows by all columns, compare cell
by cell (floats bit-exact via struct pack, like a hash would be).
A requested query that has no oracle SQL counts as a failure, and the
script exits non-zero when no query was compared.
"""
import sys, json, glob, os
import duckdb

def main():
    sf, out = sys.argv[1], sys.argv[2]
    subset = set(sys.argv[3:]) or None
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')"
                    if os.path.isdir(t) else
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    n_pass = n_fail = 0
    for q in sorted((subset or set()) - set(oracle)):
        print(f"{q}: NOT in oracle_sql.json"); n_fail += 1
    for q in sorted(oracle):
        if subset and q not in subset:
            continue
        dump = os.path.join(out, q)
        if not os.path.isdir(dump):
            print(f"{q}: MISSING spark dump"); n_fail += 1; continue
        try:
            orc = con.execute(oracle[q]).fetch_arrow_table()
        except Exception as e:
            print(f"{q}: oracle ERROR {e}"); n_fail += 1; continue
        spk = con.execute(
            f"SELECT * FROM read_parquet('{dump}/*.parquet')").fetch_arrow_table()
        ocols = sorted(orc.column_names)
        scols = sorted(spk.column_names)
        if ocols != scols:
            print(f"{q}: SCHEMA mismatch oracle={ocols} spark={scols}"); n_fail += 1; continue
        if orc.num_rows != spk.num_rows:
            print(f"{q}: ROWS mismatch oracle={orc.num_rows} spark={spk.num_rows}"); n_fail += 1; continue
        cols = ", ".join(f'"{c}"' for c in ocols)
        con.register("t_orc", orc); con.register("t_spk", spk)
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM t_orc EXCEPT ALL SELECT {cols} FROM t_spk)"
            f" UNION ALL (SELECT {cols} FROM t_spk EXCEPT ALL SELECT {cols} FROM t_orc))"
        ).fetchone()[0]
        con.unregister("t_orc"); con.unregister("t_spk")
        if diff:
            print(f"{q}: CONTENT mismatch ({diff} differing rows)"); n_fail += 1
        else:
            print(f"{q}: ok ({orc.num_rows} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if n_pass == 0:
        print("nothing was compared")
    sys.exit(1 if n_fail or n_pass == 0 else 0)

main()
