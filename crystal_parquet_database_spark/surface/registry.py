"""Registry for the declared query surface."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def assert_driver_safe_schema(name: str, df: DataFrame) -> None:
    """Fail fast if a driver-gated query's output schema would crash the
    driver's canonicalizer.

    The driver sorts result rows with pandas ``sort_values`` over RAW cell
    values, so a top-level Array/Map/Struct column dies with ``TypeError:
    unhashable type: 'list'`` before any comparison happens (it broke
    ``agg_collect_sorted_list``, ``cif_parse_real`` and
    ``nested_struct_ops_real`` before this guard existed) — serialize complex
    outputs with ``F.array_join``/``F.to_json`` and mirror with
    ``array_to_string``/``to_json`` in the DuckDB oracle instead.
    """
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if bad:
        raise TypeError(
            f"query {name!r} returns complex-typed top-level columns "
            f"({'; '.join(bad)}) — the driver's canonicalizer cannot sort "
            "these; serialize with "
            "array_join/to_json on BOTH the Spark and oracle sides"
        )


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the DuckDB-equivalent SQL (omit only
    for genuinely non-SQL-expressible operators — the driver then records a
    weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
