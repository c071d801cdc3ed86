"""crystal_parquet_database_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo lllangWV/Crystal-Parquet-Database (an ELT library over nested
Parquet delegating storage/query to parquetdb), rebuilt Spark-first:

- ``db.PqDB``          — Parquet dataset wrapper (create/read/normalize/stats),
                         the Spark re-expression of parquetdb's CRUD surface.
- ``schema``           — canonical nested crystal schema + permissive
                         unify/cast helpers (reference: crystpqdb/db.py).
- ``sources``          — loader framework (reference: crystpqdb/loaders/).
- ``operators``        — declared relational + LLM-pipeline query surface.
- ``functions``        — reusable column-level helpers (vector math, nested
                         extraction, portable hashing).
- ``streaming``        — Structured Streaming recipes over event tables.
- ``plans``            — plan inspection, layout normalization, footer stats.
- ``surface``          — the registry of (query, oracle-SQL) pairs consumed by
                         ``__spark_entry__.py`` and ``bench.py``.
"""

import importlib

# The exports load on first use (PEP 562): importing the package imports no
# pyspark, so the worker daemon (``pydaemon``) can fix ``sys.path`` first.
_EXPORTS = {
    "PqDB": "db",
    "crystal_schema": "schema",
    "to_canonical": "schema",
    "get_spark": "session",
    "TABLE_NAMES": "tables",
    "load_table": "tables",
    "register_views": "tables",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
