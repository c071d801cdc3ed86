"""Nested-schema flatten/unflatten compatibility utilities.

The reference's storage engine flattens nested structs to dotted columns on
write and rebuilds them on read (parquetdb's ``rebuild_nested_struct``,
loaders/base.py:190-191). This engine stores nested data natively — Spark's
Parquet path handles structs/lists directly — so these exist purely for
interchange with systems that expect the flat layout (or to round-trip data
produced by the reference engine).

Only struct nesting flattens (arrays stay opaque values, matching the
reference's behavior of leaving list offsets intact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from crystal_parquet_database_spark.schema import sql_ident, sql_str

SEP = "."


def _leaf_paths(schema: T.StructType, prefix: str = "") -> list[str]:
    out: list[str] = []
    for f in schema.fields:
        if SEP in f.name and prefix:
            # a NESTED field whose name itself contains '.' cannot survive
            # the dotted flat layout: its leaf path would split into the
            # wrong getField chain (crash), or — if a real nesting of the
            # same shape also exists — silently alias the wrong data. Same
            # contract as the top-level dotted-name guard in flatten_structs.
            raise ValueError(
                f"nested field {prefix}{f.name!r} contains {SEP!r} in its "
                "name — the dotted flat layout cannot represent it"
            )
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaf_paths(f.dataType, prefix=f"{path}{SEP}"))
        else:
            out.append(path)
    return out


def flatten_structs(df: DataFrame) -> DataFrame:
    """Struct fields → top-level dotted columns (`lattice.a`, ...), as one
    SQL expression per column (schema.py's rule for generated trees).

    Input must be the NESTED layout: a top-level column whose name itself
    contains ``.`` (i.e. already-flat data) would be mis-split into a struct
    path, so that case raises instead of producing a wrong projection —
    already-flat frames simply don't need this call.
    """
    dotted = [c for c in df.columns if SEP in c]
    if dotted:
        raise ValueError(
            f"input already has dotted top-level columns {dotted[:3]} — it is "
            "in the flat layout; flatten_structs expects the nested layout"
        )
    def ref(path: str) -> str:
        top, *fields = path.split(SEP)
        return sql_ident(top) + "".join(f"[{sql_str(f)}]" for f in fields)

    return df.selectExpr(*[f"{ref(p)} AS {sql_ident(p)}" for p in _leaf_paths(df.schema)])


def unflatten_structs(df: DataFrame) -> DataFrame:
    """Rebuild structs from dotted columns (inverse of ``flatten_structs``).

    Caveat inherent to the flat layout (and shared by the reference engine):
    a struct that was entirely NULL round-trips as a struct of NULL fields —
    the flat form cannot distinguish the two.
    """
    tree: dict = {}
    for name in df.columns:
        parts = name.split(SEP)
        node = tree
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if isinstance(node, str):  # 'a' exists alongside 'a.b'
                raise ValueError(
                    f"column {name!r} conflicts with plain column {node!r} — "
                    "a name cannot be both a leaf and a struct prefix"
                )
        if isinstance(node.get(parts[-1]), dict):
            raise ValueError(
                f"column {name!r} conflicts with nested columns under the "
                "same prefix — a name cannot be both a leaf and a struct"
            )
        node[parts[-1]] = name

    def build(node) -> str:
        if isinstance(node, str):
            return sql_ident(node)
        return "struct(" + ", ".join(f"{build(v)} AS {sql_ident(k)}" for k, v in node.items()) + ")"

    return df.selectExpr(*[f"{build(v)} AS {sql_ident(k)}" for k, v in tree.items()])
