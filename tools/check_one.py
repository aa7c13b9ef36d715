"""Oracle-check a subset of queries: python tools/check_one.py name [name...]

Same compare as driver_sim.py (rows + columns + normalized value multiset)
but only for the named queries — the fast loop while building an operator.
"""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("check-one")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from oracle_rows import canonical_rows, duck_con

SF = "/root/testdata/sf0.01"
con = duck_con(SF)


qs, os_ = E.queries(), E.oracle_sql()
fail = 0
for name in sys.argv[1:]:
    fn = qs[name]
    t0 = time.time()
    sdf = fn(spark, SF).toPandas()
    if name not in os_:
        print(f"  {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
        continue
    ddf = con.execute(os_[name]).df()
    ok_rows = len(sdf) == len(ddf)
    ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
    ok_vals = ok_rows and ok_cols and canonical_rows(sdf) == canonical_rows(ddf)
    status = "OK" if ok_vals else "MISMATCH"
    if status != "OK":
        fail += 1
        if ok_rows and ok_cols:
            a, b = canonical_rows(sdf), canonical_rows(ddf)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diffs:
                print(f"    spark={x}\n    duck ={y}")
        else:
            print(f"    cols spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
    print(f"  {name}: {status} rows={len(sdf)}/{len(ddf)} ({time.time()-t0:.1f}s)")
print(f"RESULT: {len(sys.argv)-1} checked, {fail} mismatches")
sys.exit(1 if fail else 0)
