"""Simulates the driver's verify: vanilla SparkSession (driver's own conf,
NOT ours), import __spark_entry__, smoke entry(), then run every query at
sf0.01 (override: SPARK_GRAFT_SIM_SF_DIR) vs oracle_sql() through DuckDB,
compared by `tests/oracle_harness.compare`. Run from the repository root
so Python workers can import the package."""
import os, sys, time
ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
from pyspark.sql import SparkSession

from tests.oracle_harness import compare, duck_connection

spark = (SparkSession.builder.master("local[8]")
         .appName("driver_sim")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

# t1 smoke
df = E.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

qs, oracles = E.queries(), E.oracle_sql()
print(f"{len(qs)} queries, {len(oracles)} with oracle")
assert set(oracles) <= set(qs)

sf = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", os.path.join(os.path.dirname(ROOT), "testdata", "sf0.01"))
con = duck_connection(sf)

fails = []
for name in (sys.argv[1:] or sorted(qs)):
    t0 = time.time()
    try:
        sp = qs[name](spark, sf).toPandas()
    except Exception as ex:
        fails.append((name, f"SPARK ERROR: {ex}")); print(f"FAIL {name}: spark error {ex}"); continue
    if name not in oracles:
        print(f"rows-only {name}: {len(sp)} rows  ({time.time()-t0:.1f}s)"); continue
    issues = compare(sp, con.execute(oracles[name]).fetchdf())
    status = "OK  " if not issues else "FAIL"
    if issues: fails.append((name, issues[0]))
    print(f"{status} {name}: {len(sp)} rows  ({time.time()-t0:.1f}s)")

print(f"\n{'ALL PASS' if not fails else 'FAILURES: ' + str(fails)}")
sys.exit(1 if fails else 0)
