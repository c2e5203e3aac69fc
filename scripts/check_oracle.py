#!/usr/bin/env python3
"""Builder-side oracle parity check (mirrors the driver's DuckDB compare).

Usage: check_oracle.py <sfdir> <verify_out_dir> [q_a q_b ...]

Registers every parquet in <sfdir> as a DuckDB view named after the file
basename, runs each oracle SQL from <verify_out_dir>/oracle_sql.json, and
compares row count + sorted full-row multiset against the Spark dump in
<verify_out_dir>/<query>/. A query with no Spark dump is MISSING and
counts as a failure: graft.Verify logs and skips a query that throws, so
an absent dump is a crashed query. Naming queries checks only those.
Ends with an "N/M OK" summary; exits 1 unless every checked query is OK.
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:]) or None

con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
fail = checked = 0
for q, sql in sorted(oracle.items()):
    if only and q not in only:
        continue
    checked += 1
    spark_dir = os.path.join(outdir, q)
    if not os.path.isdir(spark_dir):
        print(f"{q}: MISSING (no spark dump)")
        fail += 1
        continue
    try:
        o = con.execute(sql).fetch_df()
    except Exception as e:
        print(f"{q}: ORACLE ERROR {e}")
        fail += 1
        continue
    s = con.execute(
        f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetch_df()
    ok_rows = len(o) == len(s)
    # compare as sorted multiset of stringified rows (column order from each)
    o2 = o.reindex(sorted(o.columns), axis=1)
    s2 = s.reindex(sorted(s.columns), axis=1)
    ok_schema = list(o2.columns) == list(s2.columns)
    def canon(df):
        return sorted(df.astype(str).itertuples(index=False, name=None))
    ok_hash = ok_rows and ok_schema and canon(o2) == canon(s2)
    status = "OK" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
    if status != "OK":
        fail += 1
    print(f"{q}: {status} rows spark={len(s)} oracle={len(o)} "
          f"schema={ok_schema} hash={ok_hash}")
if only:
    for q in sorted(only - oracle.keys()):
        print(f"{q}: MISSING (no oracle sql)")
        checked += 1
        fail += 1
print(f"{checked - fail}/{checked} OK")
sys.exit(1 if fail or not checked else 0)
