"""Simulate the correctness driver against this checkout's __spark_entry__.py."""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-sim")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    # 8 concurrent sf0.1 queries' broadcasts overflow the 1g default
    # (r13: BroadcastExchange "not enough memory" at sf0.1, a tool
    # limit, not an engine one — the bench/driver sessions run 16g)
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from oracle_rows import canonical_rows, duck_con

# --- t1 smoke: entry() twice, schema stability ---
df1 = E.entry(spark)
rows1 = df1.collect()
df2 = E.entry(spark)
assert df2.schema == df1.schema, "entry schema unstable"
print(f"SMOKE: entry -> {len(rows1)} rows, schema stable: {df1.schema.simpleString()}")
assert len(rows1) > 0

# --- t2 correctness at sf0.01 ---
SF = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")

qs, os_ = E.queries(), E.oracle_sql()


def check(name):
    """One query's line + pass/fail. Runs on a worker thread — Spark
    job submission is thread-safe and each call opens its own DuckDB
    connection (a DuckDB connection is NOT thread-safe).

    CONSTRAINT (ADVICE r06): all workers share ONE SparkSession, so
    session-scoped temp views are a cross-thread hazard. Operators
    that register fixed-name views (graphs.py __spread_pairs/
    __spread_seeds, corpus.py __udtf_docs) are safe today only
    because each name is used by exactly one query, run once per
    process. Any NEW temp view must be uniquely named per query (or
    per call), or the operator must use DataFrame APIs instead."""
    t0 = time.time()
    sdf = qs[name](spark, SF).toPandas()
    if name not in os_:
        return f"  {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)", True
    c = duck_con(SF)
    try:
        ddf = c.execute(os_[name]).df()
    finally:
        c.close()
    ok = (
        len(sdf) == len(ddf)
        and sorted(sdf.columns) == sorted(ddf.columns)
        and canonical_rows(sdf) == canonical_rows(ddf)
    )
    status = "OK" if ok else "MISMATCH"
    return f"  {name}: {status} rows={len(sdf)}/{len(ddf)} ({time.time()-t0:.1f}s)", ok


from concurrent.futures import ThreadPoolExecutor

names = sorted(qs)
with ThreadPoolExecutor(max_workers=8) as pool:
    results = list(pool.map(check, names))
fail = 0
for line, ok in results:  # deterministic name order, whatever finished first
    if not ok:
        fail += 1
    print(line)
print(f"RESULT: {len(qs)} queries, {fail} mismatches")
sys.exit(1 if fail else 0)
