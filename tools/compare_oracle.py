#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare: for each query
output parquet under OUTDIR, run the oracle SQL from oracle_sql.json in
DuckDB over the same sf tables and compare (rows, schema names, values).
Values are compared column-name-sorted, row-sorted, with float tolerance.
"""
import duckdb, json, sys, math, os
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = pd.read_parquet(f"{outdir}/{name}")
        exp = con.execute(sql).fetchdf()
        # Encoding-faithfulness check (round-5 VERDICT "What's wrong"
        # #3): the driver's comparator hashes value ENCODINGS, so a
        # DuckDB output column that arrives as HUGEINT (e.g. an uncast
        # integer sum()) hash-fails against Spark's BIGINT even when
        # every value matches — and the value compare below cannot see
        # it. A hard failure; DECIMAL columns are left alone, since an
        # oracle may emit one on purpose where both engines agree.
        try:
            hug = [d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()
                   if d[1].upper().startswith("HUGEINT")]
        except Exception:
            hug = []  # DESCRIBE rejects some set-op shapes
        if hug:
            print(f"FAIL {name}: DuckDB emits HUGEINT for {hug} — values may match "
                  "while the driver's encoding-sensitive hash fails (cast to BIGINT "
                  "in the oracle)")
            fails += 1
            continue
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        print(f"FAIL {name}: schema {gc} vs {ec}")
        fails += 1
        continue
    got = got[gc].sort_values(gc).reset_index(drop=True)
    exp = exp[ec].sort_values(ec).reset_index(drop=True)
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
        fails += 1
        continue
    ok = True
    for c in gc:
        a, b = got[c], exp[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            bad = [(x, y) for x, y in zip(a, b)
                   if not (x == y or (isinstance(x, float) and isinstance(y, float)
                                      and (math.isnan(x) and math.isnan(y)
                                           or abs(x - y) <= 1e-9 * max(1, abs(x), abs(y))))) ]
        else:
            bad = [(x, y) for x, y in zip(a.astype(str), b.astype(str)) if x != y]
        if bad:
            print(f"FAIL {name}: col {c} first diffs {bad[:3]}")
            ok = False
            fails += 1
            break
    if ok:
        print(f"OK   {name}: {len(got)} rows")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
