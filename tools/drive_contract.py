"""Driver simulation: exercises __spark_entry__.py exactly like the
harness (entry() smoke + per-query DuckDB-oracle compare).

Usage: python tools/drive_contract.py [sf_dir] [key ...]
  default sf_dir /root/testdata/sf0.01; ALWAYS also run with
  /root/testdata/sf0.1 — float-accumulation bugs only show at larger SF.
  With keys, only those registry keys are compared; a mismatching key
  prints its Spark types and up to 5 rows of each side.
"""
import hashlib
import math
import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as e
from big_data_project_spark.session import get_spark

args = sys.argv[1:]
# a path has a "/" or names a directory; a registry key has neither
is_dir = bool(args) and ("/" in args[0] or os.path.isdir(args[0]))
SF = args.pop(0) if is_dir else "/root/testdata/sf0.01"
KEYS = args

spark = get_spark("drive")

# 1. smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): rows={len(rows)} schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# 2. t2 gate
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def vhash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None: vals.append("NULL")
            elif isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{round(v,6):.6f}")
            elif hasattr(v, "isoformat"): vals.append(v.isoformat())
            else: vals.append(str(v))
        norm.append("|".join(vals))
    return hashlib.md5("\n".join(sorted(norm)).encode()).hexdigest()

import time

qs, os_ = e.queries(), e.oracle_sql()
fails = []
timings = {}
for name in KEYS or qs:  # else registry insertion order, as the driver walks
    t0 = time.monotonic()
    sdf = qs[name](spark, SF)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    timings[name] = time.monotonic() - t0
    if name not in os_:
        print(f"{name}: rows-only rows={len(srows)} t={timings[name]:.2f}s")
        continue
    res = con.execute(os_[name])
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    ok_schema = sorted(scols) == sorted(dcols)
    ok_rows = len(srows) == len(drows)
    ok_hash = vhash(srows, scols) == vhash(drows, dcols)
    status = "OK" if (ok_schema and ok_rows and ok_hash) else "MISMATCH"
    if status != "OK":
        fails.append(name)
        if KEYS:
            print(f"  spark types: {[(f.name, f.dataType.simpleString()) for f in sdf.schema.fields]}")
            print(f"  spark rows (<=5): {srows[:5]}")
            print(f"  duck  rows (<=5): {drows[:5]}")
    print(f"{name}: {status} rows={len(srows)}/{len(drows)} schema={ok_schema} hash={ok_hash} t={timings[name]:.2f}s")

slow = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
print("slowest:", ", ".join(f"{n}={t:.2f}s" for n, t in slow))
print(f"total spark wall: {sum(timings.values()):.1f}s over {len(timings)} queries")
print("RESULT:", "ALL MATCH" if not fails else f"FAILS: {fails}")
spark.stop()
sys.exit(1 if fails else 0)
