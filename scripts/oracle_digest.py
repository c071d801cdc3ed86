#!/usr/bin/env python3
"""Print one line per registered query, ``name sha256(raw) sha256(normalized)``
of its DuckDB oracle SQL (whitespace runs collapsed to one space, ends
stripped; ``-`` for a query without an oracle), then the two totals over all
queries. Diff two runs (e.g. two checkouts) to see which oracle strings a
change touched: ``python3 scripts/oracle_digest.py > digest.txt``."""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crystal_parquet_database_spark.surface import ORACLES, QUERIES  # noqa: E402

totals = [hashlib.sha256(), hashlib.sha256()]
for name in QUERIES:
    sql = ORACLES.get(name)
    digests = ["-", "-"] if sql is None else [
        hashlib.sha256(t.encode()).hexdigest() for t in (sql, " ".join(sql.split()))
    ]
    for total, d in zip(totals, digests):
        total.update(f"{name} {d}\n".encode())
    print(name, *digests)
print("TOTAL", *(t.hexdigest() for t in totals))
