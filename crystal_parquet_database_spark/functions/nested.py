"""Nested restructuring operators (reference parity: SURVEY.md §2A A9-A17).

The reference implements these with pyarrow.compute kernels + manual offset
arithmetic (struct_field, list_flatten, ListArray.from_arrays); in Spark every
one is a built-in column expression or higher-order function — JVM-side,
codegen'd, no offset bookkeeping. Column arguments are dotted paths
(``"structure.sites"``); lambdas are SQL text, per schema.py's rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crystal_parquet_database_spark.schema import sql_ident, sql_str


def struct_field(col: Column | str, *path: str) -> Column:
    """A9: nested struct field projection.
    (Reference: pc.struct_field — loaders/alexandria.py:145-163.)"""
    c = F.col(col) if isinstance(col, str) else col
    for p in path:
        c = c.getField(p)
    return c


def list_struct_field_sql(list_col: str, field: str) -> str:
    """SQL text of ``list_struct_field``, for a caller's ``selectExpr``."""
    return f"transform({sql_ident(*list_col.split('.'))}, s -> s[{sql_str(field)}])"


def list_struct_field(list_col: str, field: str) -> Column:
    """A10: list<struct> → list<field>, offsets preserved per row.
    (Reference: get_listArray_struct_fields — utils/pyarrow_utils.py:5-19.)"""
    return F.expr(list_struct_field_sql(list_col, field))


def site_elements_sql(sites_col: str) -> str:
    """SQL text of ``site_elements``, for a caller's ``selectExpr``."""
    sites = sql_ident(*sites_col.split("."))
    return f"transform({sites}, s -> try_element_at(s['species'], 1)['element'])"


def site_elements(sites_col: str) -> Column:
    """A11: per-site element symbol from sites[].species[].element.

    The reference extracts this by recursively flattening
    ``list<list<struct{element,occu}>>`` and re-wrapping with the *outer*
    offsets (loaders/alexandria.py:155-158) — correct only when every site
    has exactly one species entry (occu=1), which holds for its sources.
    This implements the *intended* semantics (first species entry per site)
    directly; divergence for ragged species lists is deliberate and
    documented (SURVEY.md §7). See ``site_elements_flat`` for the full
    flatten.

    try_element_at, not element_at: under Spark 4's default ANSI mode a
    site with an EMPTY species list makes element_at throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT and abort the whole loader job —
    the documented graceful divergence is a NULL element for that site.
    """
    return F.expr(site_elements_sql(sites_col))


def site_elements_flat(sites_col: str) -> Column:
    """All species elements across all sites, fully flattened (what the
    reference's recursive list_flatten actually produces before re-wrapping)."""
    sites = sql_ident(*sites_col.split("."))
    return F.expr(f"flatten(transform({sites}, s -> transform(s['species'], sp -> sp['element'])))")


def pack_struct(df: DataFrame, cols: list[str], name: str, drop: bool = True) -> DataFrame:
    """A14: pack columns into a struct column.
    (Reference: Table.to_struct_array — loaders/alexandria.py:187.)"""
    if drop and name in cols:
        # withColumn(name, ...) REPLACES the packed column, then drop(*cols)
        # removes the struct it just built — the output would silently hold
        # neither the inputs nor the pack
        raise ValueError(
            f"pack name {name!r} is one of the packed columns; with drop=True "
            "the struct would be dropped with its inputs — pick another name"
        )
    out = df.withColumn(name, F.struct(*[F.col(c) for c in cols]))
    return out.drop(*cols) if drop else out


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """A13: bulk column rename (source → canonical field names).

    All renames apply SIMULTANEOUSLY in one projection — sequential
    withColumnRenamed would cascade (mapping {"a": "b", "b": "c"} renames a's
    output again; a swap mapping collapses both columns to one name)."""
    from collections import Counter

    out_names = [mapping.get(c, c) for c in df.columns]
    dup = {n for n, k in Counter(out_names).items() if k > 1}
    if dup:
        raise ValueError(f"rename produces duplicate column names {sorted(dup)}")
    return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def constant_column(df: DataFrame, name: str, value) -> DataFrame:
    """A12: broadcast a constant column."""
    return df.withColumn(name, F.lit(value))
