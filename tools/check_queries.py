"""Spot-check named queries against their DuckDB oracles (driver methodology).

Usage: python tools/check_queries.py q1 q2 ... [--sf /root/testdata/sf0.01]
Runs each named query through the same normalize-sort-multiset compare
as tools/driver_sim.py, at one or more scale factors.
"""
import os, sys, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from flights_data_pipeline_spark.session import get_spark
import duckdb
from collections import Counter
from decimal import Decimal
import datetime as dt, math

args = sys.argv[1:]
sfs = []
names = []
i = 0
while i < len(args):
    if args[i] == "--sf":
        sfs.append(args[i + 1]); i += 2
    else:
        names.append(args[i]); i += 1
if not sfs:
    sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

spark = get_spark("check-queries", cpus=8, shuffle_partitions=8, driver_memory="8g")
qs, os_ = e.queries(), e.oracle_sql()


def norm(v):
    if isinstance(v, Decimal): return ("d", str(v))
    if isinstance(v, dt.datetime): return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date): return ("D", v.isoformat())
    if isinstance(v, float): return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, list): return ("l", tuple(norm(x) for x in v))
    return v


fail = False
for SF in sfs:
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name in names:
        fn = qs[name]
        sdf = fn(spark, SF)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in os_:
            print(f"{SF} {name}: rows-only:{len(srows)}")
            continue
        cur = con.execute(os_[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(scols) != sorted(ocols):
            print(f"{SF} {name}: SCHEMA-MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}")
            fail = True
            continue
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
        sm = Counter(tuple(norm(r[i]) for i in so) for r in srows)
        om = Counter(tuple(norm(r[i]) for i in oo) for r in orows)
        if sm == om:
            print(f"{SF} {name}: MATCH:{len(srows)}")
        else:
            fail = True
            only_s = list((sm - om).items())[:3]
            only_o = list((om - sm).items())[:3]
            print(f"{SF} {name}: VALUE-MISMATCH s={len(srows)} o={len(orows)}")
            print("  spark-only:", only_s)
            print("  oracle-only:", only_o)
sys.exit(1 if fail else 0)
