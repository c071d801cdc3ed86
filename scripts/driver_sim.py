"""Driver simulation: exercise the contract exactly as the harness would —
plain SparkSession (no engine defaults), import __spark_entry__, run entry(),
then every queries() entry at sf0.01 side-by-side with oracle_sql() in DuckDB,
order-insensitive value compare."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# deliberately bare session — like the driver would build, no engine configs
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as ep

# 1) smoke: entry() on sf0.001
df = ep.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema: {[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# 2) full contract at sf0.01 vs duckdb
from crystal_parquet_database_spark.testing import duckdb_connection

SF = "/root/testdata/sf0.01"
con = duckdb_connection(SF)

# ONE comparison protocol, shared with the in-package harness: schema
# guard, column check, canon, and equality all live in
# testing.compare_query — a hand copy of the canon here drifted once (no
# bytes→hex branch, no NaT-as-NULL), and a hand copy of the surrounding
# protocol could drift the same way. The sim still exercises the REAL
# contract module by injecting __spark_entry__'s entries as
# query_fn/oracle rather than letting compare_query hit the registries.
from crystal_parquet_database_spark.testing import canon_frame as canon
from crystal_parquet_database_spark.testing import compare_query

qs, os_ = ep.queries(), ep.oracle_sql()
fails = []
for name in sorted(qs):
    if name in os_:
        ok, msg = compare_query(
            spark, name, SF, con=con, query_fn=qs[name], oracle=os_[name]
        )
        if not ok:
            fails.append(name)
        print(f"{'MATCH' if ok else 'FAIL ':5s} {msg}")
    else:
        sdf = qs[name](spark, SF).toPandas()
        print(f"rows-only {name} rows={len(sdf)}")
    # between-queries hygiene, mirroring bench.py: release each query's
    # eager-localCheckpoint blocks deterministically so a 150-query sweep
    # doesn't accumulate session-lifetime block-manager pressure
    from crystal_parquet_database_spark.runtime import release_all_session_blocks

    release_all_session_blocks(spark)

# 3) probes
# re-run a query twice on the same session (idempotence)
r1 = qs["q1_pricing_summary"](spark, SF).toPandas()
r2 = qs["q1_pricing_summary"](spark, SF).toPandas()
print("repeat-run identical:", canon(r1) == canon(r2))
# run against a different sf dir
r3 = qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001").toPandas()
print("sf0.001 run rows:", len(r3))
# bogus sf dir -> should raise cleanly
try:
    qs["q1_pricing_summary"](spark, "/root/testdata/nope").toPandas()
    print("bogus dir: NO ERROR (unexpected)")
except Exception as e:
    print("bogus dir raises:", type(e).__name__, str(e).splitlines()[0][:100])

print("FAILS:", fails if fails else "none")
sys.exit(1 if fails else 0)
