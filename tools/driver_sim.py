"""Simulate the driver's correctness gate through the public __spark_entry__ surface.

Usage: python tools/driver_sim.py [--sf DIR]
Default DIR is /root/testdata/sf0.01 (the driver's own gate). Passing
--sf /root/testdata/sf0.1 runs the SAME rows+schema+value-multiset
compare at 10x the data — the at-scale certification the round-11
VERDICT asked for (task 2): naturally-dispatched plans, not the
FORCE-pinned small-SF twins, produce oracle-identical answers.
"""
import os, sys, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from flights_data_pipeline_spark.session import get_spark
import duckdb
from collections import Counter
from decimal import Decimal
import datetime as dt, math

SF = "/root/testdata/sf0.01"
if "--sf" in sys.argv:
    SF = sys.argv[sys.argv.index("--sf") + 1]
spark = get_spark("driver-sim", cpus=8, shuffle_partitions=8, driver_memory="8g")

# 1. smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0

# 2. side-by-side at sf0.01 for every query with an oracle
qs, os_ = e.queries(), e.oracle_sql()
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if isinstance(v, Decimal): return ("d", str(v))  # RAW — scale-sensitive, like the driver
    if isinstance(v, dt.datetime): return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date): return ("D", v.isoformat())
    if isinstance(v, float): return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, list): return ("l", tuple(norm(x) for x in v))
    return v

status = {}
for name, fn in sorted(qs.items()):
    sdf = fn(spark, SF)
    scols = sdf.columns
    # The REAL driver canonicalizes via a pandas sort over every column,
    # which dies on array/map/struct cells (r7: pq_encode TypeError) and
    # renders high-precision decimals differently per engine (r8: the
    # checksum pair — DuckDB .df() → float64, Spark toPandas → Decimal)
    # — flag both classes of oracle surface as acceptance failures here.
    complex_cols = [
        f.name for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
        or (f.dataType.typeName() == "decimal" and f.dataType.precision > 18)
    ]
    if complex_cols and name in os_:
        status[name] = f"COMPLEX-TYPE-MISMATCH cols={complex_cols}"
        continue
    srows = [tuple(r) for r in sdf.collect()]
    if name not in os_:
        status[name] = f"rows-only:{len(srows)}"
        continue
    cur = con.execute(os_[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if sorted(scols) != sorted(ocols):
        status[name] = f"SCHEMA-MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"
        continue
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sm = Counter(tuple(norm(r[i]) for i in so) for r in srows)
    om = Counter(tuple(norm(r[i]) for i in oo) for r in orows)
    status[name] = f"MATCH:{len(srows)}" if sm == om else f"VALUE-MISMATCH s={len(srows)} o={len(orows)}"

bad = {k: v for k, v in status.items() if "MISMATCH" in v}
print(json.dumps(status, indent=1))
print("RESULT:", "ALL-MATCH" if not bad else f"FAILURES={list(bad)}")
