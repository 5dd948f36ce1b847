"""Simulate the correctness driver: plain SparkSession (no engine confs),
entry() smoke, then every queries()[name] vs oracle_sql()[name] via DuckDB
at the given sf dir, comparing column-sorted row multisets.

    python tools/drive_contract.py <sf_dir> [q_name,q_name,...]

Exit status 0 when every query matches its oracle."""

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
from pyspark.sql import SparkSession

# the checkout root (this file lives in <root>/tools/)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e  # noqa: E402

if len(sys.argv) < 2:
    sys.exit(__doc__)
SF = sys.argv[1]
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

# driver-style session: defaults only, no memvid_spark confs
spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
         .config("spark.ui.enabled", "false").getOrCreate())

print("== entry() smoke ==")
df = e.entry(spark)
rows = df.collect()
print(f"entry: {len(rows)} rows, schema={df.columns}")
print(rows[:3])

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if isinstance(v, Decimal): return float(v)
    if isinstance(v, (datetime, date)): return v.isoformat()
    if isinstance(v, float) and math.isnan(v): return "NaN"
    if isinstance(v, list): return tuple(norm(x) for x in v)
    return v

qs, os_ = e.queries(), e.oracle_sql()
fail = 0
names = ONLY or list(qs)
for name in names:
    sdf = qs[name](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if name not in os_:
        print(f"{name}: rows-only check, {len(srows)} rows")
        continue
    res = con.sql(os_[name]); dcols = res.columns; drows = res.fetchall()
    if sorted(scols) != sorted(dcols):
        print(f"FAIL {name}: cols {sorted(scols)} vs {sorted(dcols)}"); fail += 1; continue
    oi = sorted(range(len(scols)), key=lambda i: scols[i])
    di = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sk = sorted(tuple(norm(r[i]) for i in oi) for r in srows)
    dk = sorted(tuple(norm(r[i]) for i in di) for r in drows)
    if sk == dk:
        print(f"ok   {name}: {len(sk)} rows hash-match")
    else:
        fail += 1
        bad = next((i for i, (a, b) in enumerate(zip(sk, dk)) if a != b), None)
        print(f"FAIL {name}: rows {len(sk)}/{len(dk)} first-diff@{bad}")
        if bad is not None:
            print("  spark :", sk[bad]); print("  duckdb:", dk[bad])
print(f"== {len(names)-fail}/{len(names)} match ==")
spark.stop()
sys.exit(1 if fail else 0)
