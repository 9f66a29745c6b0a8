"""Invariance soak: run every gated query vs its oracle under a HOSTILE
session config — DST session timezone, odd shuffle partition count, small
Arrow batches, AQE off — any layout/timezone/batch-size dependence in a
result would surface as a MISMATCH here before it surfaces in the
driver's window."""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

from tools.check_oracles import TABLES, norm

import __spark_entry__ as e
spark = (SparkSession.builder.master("local[5]")
         .appName("soak-invariance")
         .config("spark.sql.shuffle.partitions", "7")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1111")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
fails = 0
for name, fn in e.queries().items():
    df = fn(spark, sf)
    a = norm([tuple(r) for r in df.collect()], df.columns)
    res = con.execute(e.oracle_sql()[name])
    b = norm(res.fetchall(), [d[0] for d in res.description])
    if a == b:
        print(f"{name:38s} OK ({len(a)})")
    else:
        fails += 1
        print(f"{name:38s} MISMATCH {len(a)}/{len(b)}")
        for x, y in list(zip(a, b))[:3]:
            if x != y:
                print("  spark:", x)
                print("  duck :", y)
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
