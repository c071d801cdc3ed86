"""Canonical crystal-structure schema + permissive unification/cast.

Mirrors the reference's canonical PyArrow schema 1:1 as a Spark StructType
(reference: crystpqdb/db.py:5-124 — lattice_struct db.py:23-34, site/sites
db.py:5-21, symmetry db.py:36-44, has_props db.py:47-69, data db.py:71-101,
structure db.py:103-109, top level db.py:112-124). Nested data stays natively
nested — Spark's Parquet reader/writer handles structs/lists directly, so the
reference engine's flatten-on-write / rebuild_nested_struct-on-read round trip
(parquetdb behavior, loaders/base.py:190-191) has no equivalent here by design.

The unification helpers re-express the reference's permissive schema merge
(loaders/base.py:210-216: unify_schemas(promote_options="permissive") +
table_schema_cast): missing canonical fields are null-padded, extra source
fields survive, and numeric widening (int → long → double) is applied — all
recursively through structs and arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- struct types (db.py:5-109) ------------------------------------------------------

lattice_struct = T.StructType(
    [
        T.StructField("matrix", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("c", T.DoubleType()),
        T.StructField("alpha", T.DoubleType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("gamma", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("pbc", T.ArrayType(T.BooleanType())),
    ]
)

site_properties_struct = T.StructType(
    [
        T.StructField("magmom", T.DoubleType()),
        T.StructField("charge", T.DoubleType()),
        T.StructField("forces", T.ArrayType(T.DoubleType())),
    ]
)

site_species_struct = T.StructType(
    [
        T.StructField("element", T.StringType()),
        T.StructField("occu", T.LongType()),
    ]
)

site_struct = T.StructType(
    [
        T.StructField("species", T.ArrayType(site_species_struct)),
        T.StructField("abc", T.ArrayType(T.DoubleType())),
        T.StructField("xyz", T.ArrayType(T.DoubleType())),
        T.StructField("properties", site_properties_struct),
        T.StructField("label", T.StringType()),
    ]
)

structure_struct = T.StructType(
    [
        T.StructField("@module", T.StringType()),
        T.StructField("@class", T.StringType()),
        T.StructField("lattice", lattice_struct),
        T.StructField("sites", T.ArrayType(site_struct)),
        T.StructField("charge", T.DoubleType()),
    ]
)

symmetry_struct = T.StructType(
    [
        T.StructField("crystal_system", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("number", T.IntegerType()),
        T.StructField("point_group", T.StringType()),
        T.StructField("symprec", T.DoubleType()),
        T.StructField("angle_tolerance", T.DoubleType()),
        T.StructField("version", T.StringType()),
    ]
)

_DATA_DOUBLE_FIELDS = [
    "band_gap",
    "band_gap_ind",
    "band_gap_dir",
    "dos_ef",
    "energy_total",
    "energy_corrected",
    "energy_uncorrected",
    "energy_formation",
    "energy_above_hull",
    # reference spelling kept verbatim (db.py:79 'energy_phase_seperation')
    "energy_phase_seperation",
    "n",
    "piezoelectric_modulus",
    "e_electronic",
    "e_ionic",
    "e_total",
    "g_reuss",
    "g_voigt",
    "g_vrh",
    "k_reuss",
    "k_voigt",
    "k_vrh",
    "poisson_ratio",
    "surface_energy_anisotropy",
    "weighted_work_function",
    "weighted_surface_energy",
    "total_magnetization",
]

data_struct = T.StructType(
    [T.StructField(f, T.DoubleType()) for f in _DATA_DOUBLE_FIELDS]
    + [
        T.StructField("magnetic_ordering", T.StringType()),
        T.StructField("stress", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("is_stable", T.BooleanType()),
    ]
)

HAS_PROPS_FLAGS = [
    "materials",
    "thermo",
    "xas",
    "grain_boundaries",
    "chemenv",
    "electronic_structure",
    "absorption",
    "bandstructure",
    "dos",
    "magnetism",
    "elasticity",
    "dielectric",
    "piezoelectric",
    "surface_properties",
    "oxi_states",
    "provenance",
    "charge_density",
    "eos",
    "phonon",
    "insertion_electrodes",
    "substrates",
]

has_props_struct = T.StructType([T.StructField(f, T.BooleanType()) for f in HAS_PROPS_FLAGS])

# --- canonical top-level schema (db.py:112-124) ---------------------------------------

crystal_schema = T.StructType(
    [
        T.StructField("source_database", T.StringType()),
        T.StructField("source_dataset", T.StringType()),
        T.StructField("source_id", T.StringType()),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("cart_coords", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("frac_coords", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("lattice", lattice_struct),
        T.StructField("structure", structure_struct),
        T.StructField("data", data_struct),
        T.StructField("symmetry", symmetry_struct),
        T.StructField("has_props", has_props_struct),
    ]
)

# --- permissive unification ------------------------------------------------------------

_NUMERIC_RANK = {
    "byte": 0,
    "short": 1,
    "integer": 2,
    "long": 3,
    "float": 4,
    "double": 5,
}


def promote_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """Permissive promotion of two types (Arrow promote_options='permissive'
    equivalent): null yields the other side, numerics widen, structs merge
    field-wise (union of fields), arrays promote element types. Two SCALAR
    types with no numeric promotion fall back to the left (canonical) side —
    scalars are mutually castable, so the evolution cast succeeds. SHAPE
    conflicts (struct vs scalar, array vs scalar, map vs anything else)
    raise immediately with the offending field path: falling back to the
    left used to send create() into an invalid cast (e.g. string→struct)
    that died deep inside Spark with no hint of which input column
    conflicted."""
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _NUMERIC_RANK and bn in _NUMERIC_RANK:
        # Mixing an INTEGER family with a FLOATING family promotes to DOUBLE
        # (verified Arrow promote_options='permissive' behavior: int64+float32
        # and int32+float32 both yield double). Rank order alone would pick
        # float over long — and casting stored longs to float silently
        # corrupts any integer above 2^24 during the evolution rewrite.
        a_int = _NUMERIC_RANK[an] <= 3
        b_int = _NUMERIC_RANK[bn] <= 3
        if a_int != b_int:
            return T.DoubleType()
        return a if _NUMERIC_RANK[an] >= _NUMERIC_RANK[bn] else b
    dec_a, dec_b = isinstance(a, T.DecimalType), isinstance(b, T.DecimalType)
    if dec_a and dec_b:
        # widen to cover both: max integer digits + max scale. When that
        # exceeds 38 there is NO exact decimal supertype; the loss rules
        # are chosen around which side the evolution rewrite ANSI-casts:
        # the LEFT (canonical/stored) side must survive the cast EXACTLY —
        # so scale never drops below a.scale (stored fractional digits are
        # never silently rounded) and a's integer digits always fit
        # (a.precision <= 38 guarantees intd_a <= 38 - a.scale). The
        # remaining loss lands on INCOMING data only, in the SQL-standard
        # directions: fractional digits beyond the promoted scale round at
        # the write cast; integer digits beyond 38 - scale abort loudly at
        # the write cast, value-dependently (a wide incoming TYPE with
        # small actual values still ingests). The old flat precision cap
        # sent decimal(38,0)+decimal(10,6) to decimal(38,6) = 32 integer
        # digits, and the rewrite then aborted on already-stored values.
        sc = max(a.scale, b.scale)
        intd = max(a.precision - a.scale, b.precision - b.scale)
        if intd + sc > 38:
            sc = max(38 - intd, a.scale)
            intd = 38 - sc
        return T.DecimalType(intd + sc, sc)
    if (dec_a and bn in _NUMERIC_RANK) or (dec_b and an in _NUMERIC_RANK):
        # decimal + float/double -> double (Arrow permissive); the old
        # fall-back-to-left kept decimal(p,s) and the evolution cast then
        # silently ROUNDED every new double to s places (verified:
        # 1.23456 -> 1.23). decimal + integer widens the decimal so the
        # integer domain fits.
        if _NUMERIC_RANK[bn if dec_a else an] >= 4:
            return T.DoubleType()
        d = a if dec_a else b
        return T.DecimalType(min(38, max(d.precision - d.scale, 20) + d.scale), d.scale)
    # date + timestamp -> timestamp: a date is midnight of its day; keeping
    # date would silently drop time-of-day from every evolved row
    if isinstance(a, T.DateType) and isinstance(b, (T.TimestampType, T.TimestampNTZType)):
        return b
    if isinstance(b, T.DateType) and isinstance(a, (T.TimestampType, T.TimestampNTZType)):
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = []
        b_by_name = {f.name: f for f in b.fields}
        for f in a.fields:
            if f.name in b_by_name:
                try:
                    promoted = promote_type(f.dataType, b_by_name[f.name].dataType)
                except ValueError as e:
                    # prepend the field name so nested conflicts surface as
                    # a dotted path to the offending column
                    raise ValueError(f"{f.name}: {e}") from None
                fields.append(T.StructField(f.name, promoted))
            else:
                fields.append(f)
        a_names = {f.name for f in a.fields}
        fields.extend(f for f in b.fields if f.name not in a_names)
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        try:
            return T.ArrayType(promote_type(a.elementType, b.elementType))
        except ValueError as e:
            raise ValueError(f"[]: {e}") from None

    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        # traverse map types like arrays — the fall-back-to-left would
        # silently narrow a map<string,double> batch to a stored
        # map<string,int> through the evolution cast
        try:
            return T.MapType(
                promote_type(a.keyType, b.keyType),
                promote_type(a.valueType, b.valueType),
            )
        except ValueError as e:
            raise ValueError(f"{{}}: {e}") from None

    def _shape(t: T.DataType) -> str:
        if isinstance(t, T.StructType):
            return "struct"
        if isinstance(t, T.ArrayType):
            return "array"
        if isinstance(t, T.MapType):
            return "map"
        return "scalar"

    if _shape(a) != _shape(b):
        raise ValueError(
            f"cannot unify {a.simpleString()} with {b.simpleString()} — "
            "incompatible shapes; fix the input batch (schema evolution "
            "widens types, it does not restructure columns)"
        )
    return a


def unify_schemas(schemas: list[T.StructType]) -> T.StructType:
    """Permissive union of schemas: union of columns, promoted types.
    (Reference: pyarrow_utils.unify_schemas at loaders/base.py:210-214.)"""
    out: T.StructType = schemas[0]
    for s in schemas[1:]:
        merged = promote_type(out, s)
        assert isinstance(merged, T.StructType)
        out = merged
    return out


def leaf_types(schema: T.DataType, prefix: str = "") -> dict[str, str]:
    """Dotted-path → typeName map across struct/array nesting (for schema
    comparisons that must ignore nullability/metadata and field additions)."""
    out: dict[str, str] = {}
    if isinstance(schema, T.StructType):
        for f in schema.fields:
            out.update(leaf_types(f.dataType, f"{prefix}{f.name}."))
    elif isinstance(schema, T.ArrayType):
        out.update(leaf_types(schema.elementType, f"{prefix}[]."))
    else:
        out[prefix.rstrip(".")] = schema.typeName()
    return out


def sql_ident(*parts: str) -> str:
    """SQL text for a column path: backtick-quoted parts joined by dots."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def sql_str(text: str) -> str:
    """A SQL string literal, e.g. the field name in ``ref['name']``."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: T.DataType) -> str:
    """DDL text for ``dt``, NOT NULL on non-nullable struct fields. SQL cannot
    say ``containsNull``/``valueContainsNull`` false: both read back true."""
    if isinstance(dt, T.StructType):
        fields = (
            f"{sql_ident(f.name)}: {sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
            for f in dt.fields
        )
        return f"STRUCT<{', '.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def _cast_sql(ref: str, src: T.DataType | None, dst: T.DataType, depth: int = 0) -> str:
    """SQL text casting ``ref`` (a column, field or lambda variable) from
    ``src`` to ``dst``; ``src`` None means the field is missing."""
    if src is None:
        return f"CAST(NULL AS {sql_type(dst)})"
    if src == dst:
        return ref
    if isinstance(dst, T.StructType) and isinstance(src, T.StructType):
        src_types = {f.name: f.dataType for f in src.fields}
        parts = ", ".join(
            f"{_cast_sql(f'{ref}[{sql_str(f.name)}]', src_types.get(f.name), f.dataType, depth)}"
            f" AS {sql_ident(f.name)}"
            for f in dst.fields
        )
        # the struct itself stays NULL when the source struct is NULL
        return f"CASE WHEN {ref} IS NOT NULL THEN struct({parts}) ELSE {_cast_sql(ref, None, dst)} END"
    if isinstance(dst, T.ArrayType) and isinstance(src, T.ArrayType):
        v = f"x{depth}"
        return f"transform({ref}, {v} -> {_cast_sql(v, src.elementType, dst.elementType, depth + 1)})"
    return f"CAST({ref} AS {sql_type(dst)})"


def cast_to_schema(df: DataFrame, target: T.StructType, keep_extra: bool = True) -> DataFrame:
    """Cast a DataFrame to ``target``: missing columns (at any nesting depth)
    become nulls, matching columns are recursively cast, extra columns are
    kept (permissive) or dropped. (Reference: table_schema_cast semantics at
    loaders/base.py:215-216.)

    Generated expression trees are one SQL string per tree, here one per
    top-level column in one ``selectExpr``: a Column tree costs a py4j
    round trip per node (SCALE.md, "py4j round-trip tax")."""
    src_types = {f.name: f.dataType for f in df.schema.fields}
    exprs = [
        f"{_cast_sql(sql_ident(f.name), src_types.get(f.name), f.dataType)} AS {sql_ident(f.name)}"
        for f in target.fields
    ]
    if keep_extra:
        exprs += [sql_ident(n) for n in df.columns if n not in target.fieldNames()]
    return df.selectExpr(*exprs)


def to_canonical(df: DataFrame) -> DataFrame:
    """Permissively unify with the canonical crystal schema: null-pad missing
    canonical fields, keep extra source fields (the reference's real contract
    — 'superset of canonical, null-padded', loaders/base.py:210-216)."""
    merged = unify_schemas([crystal_schema, df.schema])
    return cast_to_schema(df, merged, keep_extra=False)
