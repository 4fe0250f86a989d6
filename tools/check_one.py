#!/usr/bin/env python3
"""Compare ONE query's Spark parquet output against its oracle SQL run in
DuckDB — same canonicalization as check_correctness.py. The Spark side is
`graft.Verify <sfdir> <outdir> --only=<name>`, which writes the query's
parquet dir and the oracle_sql.json the SQL is read from.

Usage: python3 tools/check_one.py <name> [sfdir] [outdir] [--skip-spark]
"""
import json, sys, os, math, subprocess
import duckdb
import pyarrow.parquet as pq

args = [a for a in sys.argv[1:] if a != "--skip-spark"]
name = args[0]
sfdir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
outdir = args[2] if len(args) > 2 else "/tmp/check_one"
TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

if "--skip-spark" not in sys.argv:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(["sbt","-batch",f"runMain graft.Verify {sfdir} {outdir} --only={name}"],
                       cwd=repo, capture_output=True, text=True, timeout=1200)
    out = (r.stdout+r.stderr).splitlines()
    if r.returncode != 0 or any(f"[verify] {name} failed" in l for l in out):
        tail = [l for l in out if "error" in l.lower() or "[verify]" in l][-30:]
        print("SPARK RUN FAILED:\n" + "\n".join(tail)); sys.exit(2)

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
if name not in oracle:
    print(f"no oracle SQL for {name} (rows-only query)"); sys.exit(1)
sql = oracle[name]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

def canon(rows, colnames):
    # EXACT float compare + HUGEINT guard, matching check_correctness.py
    # (the driver's hasher is bit-exact; 9-dp rounding hid a real red)
    idx = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [colnames[i] for i in idx], out

t = pq.read_table(os.path.join(outdir, name))
scols, srows = canon([list(r) for r in zip(*[c.to_pylist() for c in t.columns])]
                     if t.num_columns else [], t.column_names)
huge = [(c, ty) for c, ty, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if "HUGEINT" in str(ty).upper()]
if huge:
    print(f"HUGEINT ORACLE COLUMNS {huge}: driver hasher renders int128 != int64 — CAST AS BIGINT")
    sys.exit(1)
res = con.execute(sql)
ocols, orows = canon(res.fetchall(), [d[0] for d in res.description])

print(f"spark rows={len(srows)} cols={scols}")
print(f"oracle rows={len(orows)} cols={ocols}")
if scols != ocols: print("SCHEMA MISMATCH"); sys.exit(1)
if srows == orows: print("OK: exact match"); sys.exit(0)
print("VALUE MISMATCH; first diffs:")
shown = 0
for a, b in zip(srows, orows):
    if a != b:
        print(f"  spark={a}\n  oracle={b}"); shown += 1
        if shown >= 5: break
if len(srows) != len(orows): print(f"  row count differs: {len(srows)} vs {len(orows)}")
sys.exit(1)
