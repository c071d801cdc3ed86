#!/usr/bin/env python3
"""Spot-check named queries against their DuckDB oracles at sf0.01 — the
same compare_query protocol driver_sim runs, restricted to argv names so a
targeted change can be verified in seconds instead of a 150-query sweep.

Usage: python3 scripts/check_queries.py <query>...
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from crystal_parquet_database_spark.surface import ORACLES, QUERIES
from crystal_parquet_database_spark.testing import compare_query, duckdb_connection

SF = "/root/testdata/sf0.01"


def main() -> None:
    names = sys.argv[1:]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("check-queries")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(SF)
    fails = []
    for name in names:
        if name not in ORACLES or ORACLES[name] is None:
            sdf = QUERIES[name](spark, SF).toPandas()
            print(f"rows-only {name} rows={len(sdf)}")
            continue
        ok, msg = compare_query(spark, name, SF, con=con)
        if not ok:
            fails.append(name)
        print(f"{'MATCH' if ok else 'FAIL ':5s} {msg}")
    print("FAILS:", fails if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
