#!/usr/bin/env python3
"""Dev-only self-check mirroring the driver's t2 gate: run each oracle SQL
in DuckDB over the same parquet tables and compare against the Verify
output parquet (sorted columns, sorted rows, value-level equality).
Usage: selfcheck.py <sfDir> <verifyOutDir>

Ends with `checked N, failed M`. Exits 0 when every checked query
matches, 1 when one fails, and 2 when nothing was checked (an output
whose queries have no oracle SQL, such as a q41-only Verify run)."""
import sys, json, glob, os
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
fail = 0
for name, sql in sorted(oracle.items()):
    try:
        rel = con.sql(sql)
        # dtype guard: a HUGEINT/UHUGEINT oracle column passes the
        # value-level compare here but fails the driver's hash (it
        # hashes raw DuckDB output, int128 != Spark's int64) — the
        # exact class that bit q181/q211 in round 12. Catch it locally.
        wide = [c for c, t in zip(rel.columns, rel.types)
                if str(t).upper() in ("HUGEINT", "UHUGEINT")]
        if wide:
            print(f"FAIL {name}: oracle emits int128 column(s) {wide} — "
                  f"wrap in CAST(... AS BIGINT)")
            fail += 1
            continue
        want = rel.df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fail += 1
        continue
    try:
        got = pd.read_parquet(os.path.join(out, name))
    except Exception as e:
        print(f"FAIL {name}: missing spark output: {e}")
        fail += 1
        continue

    def canon(df):
        df = df[sorted(df.columns)]
        # normalize datetimes to ns, ints to int64
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
            elif df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
            elif df[c].dtype == object and len(df) > 0:
                import datetime
                v = df[c].dropna()
                if len(v) and isinstance(v.iloc[0], (datetime.date, datetime.datetime)):
                    df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    w, g = canon(want), canon(got)
    if list(w.columns) != list(g.columns):
        print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
        fail += 1
        continue
    if len(w) != len(g):
        print(f"FAIL {name}: rows {len(g)} != {len(w)}")
        fail += 1
        continue
    try:
        pd.testing.assert_frame_equal(w, g, check_dtype=False, check_exact=True)
        print(f"ok   {name} ({len(w)} rows)")
    except AssertionError as e:
        print(f"FAIL {name}: {str(e).splitlines()[-1] if str(e) else e}")
        fail += 1
checked = len(oracle)
print(f"checked {checked}, failed {fail}")
sys.exit(2 if checked == 0 else 1 if fail else 0)
