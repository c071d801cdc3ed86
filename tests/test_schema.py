"""Canonical schema + permissive unification tests (reference:
crystpqdb/db.py:112-124 schema; loaders/base.py:210-216 unify/cast)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from crystal_parquet_database_spark.schema import (
    HAS_PROPS_FLAGS,
    cast_to_schema,
    crystal_schema,
    promote_type,
    sql_type,
    to_canonical,
    unify_schemas,
)


def test_canonical_shape():
    names = [f.name for f in crystal_schema.fields]
    assert names == [
        "source_database",
        "source_dataset",
        "source_id",
        "species",
        "cart_coords",
        "frac_coords",
        "lattice",
        "structure",
        "data",
        "symmetry",
        "has_props",
    ]
    data = crystal_schema["data"].dataType
    assert isinstance(data, T.StructType) and len(data.fields) == 29
    hp = crystal_schema["has_props"].dataType
    assert isinstance(hp, T.StructType) and len(hp.fields) == len(HAS_PROPS_FLAGS) == 21
    sites = crystal_schema["structure"].dataType["sites"].dataType
    assert isinstance(sites, T.ArrayType)
    # 4-level nesting: structure → sites[] → species[] → element
    species = sites.elementType["species"].dataType
    assert species.elementType["element"].dataType == T.StringType()


def test_promote_numeric_and_null():
    assert promote_type(T.IntegerType(), T.DoubleType()) == T.DoubleType()
    assert promote_type(T.LongType(), T.IntegerType()) == T.LongType()
    assert promote_type(T.NullType(), T.StringType()) == T.StringType()


def test_promote_shape_conflict_raises_with_field_path():
    """Regression (round-7 review): a shape conflict (struct vs scalar,
    array vs scalar) used to fall back to the left side, sending create()
    into an invalid Spark cast (e.g. string→struct) that died deep inside
    AnalysisException with no hint of WHICH column conflicted. It must
    raise immediately, naming the offending (possibly nested) field."""
    import pytest

    good = T.StructType([T.StructField("x", T.StructType([T.StructField("a", T.LongType())]))])
    bad = T.StructType([T.StructField("x", T.StringType())])
    with pytest.raises(ValueError, match=r"x: cannot unify"):
        promote_type(good, bad)
    nested = T.StructType(
        [T.StructField("outer", T.StructType([T.StructField("xs", T.ArrayType(T.LongType()))]))]
    )
    nested_bad = T.StructType(
        [T.StructField("outer", T.StructType([T.StructField("xs", T.LongType())]))]
    )
    with pytest.raises(ValueError, match=r"outer: xs: cannot unify"):
        promote_type(nested, nested_bad)
    # scalar-vs-scalar stays permissive (mutually castable): left wins
    assert promote_type(T.StringType(), T.LongType()) == T.StringType()
    # array element conflicts carry the [] marker
    with pytest.raises(ValueError, match=r"\[\]: cannot unify"):
        promote_type(T.ArrayType(T.StructType([])), T.ArrayType(T.StringType()))


def test_promote_struct_union():
    a = T.StructType([T.StructField("x", T.IntegerType())])
    b = T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.StringType())])
    m = promote_type(a, b)
    assert isinstance(m, T.StructType)
    assert m["x"].dataType == T.DoubleType()
    assert m["y"].dataType == T.StringType()


def test_unify_keeps_extra_and_pads_missing(spark):
    df = spark.createDataFrame(
        [("alex", "my-extra", 3)],
        schema="source_database string, extra_field string, n_sites int",
    )
    out = to_canonical(df)
    names = [f.name for f in out.schema.fields]
    # canonical fields first, extra source fields survive (permissive)
    assert names[:11] == [f.name for f in crystal_schema.fields]
    assert "extra_field" in names and "n_sites" in names
    row = out.collect()[0]
    assert row["source_database"] == "alex"
    assert row["source_dataset"] is None
    assert row["lattice"] is None
    assert row["extra_field"] == "my-extra"


def test_cast_to_schema_nested_nullpad(spark):
    target = T.StructType(
        [
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("a", T.DoubleType()),
                        T.StructField("b", T.StringType()),
                    ]
                ),
            ),
            T.StructField("arr", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame([((1,), [1, 2])], schema="s struct<a:int>, arr array<int>")
    out = cast_to_schema(df, target, keep_extra=False)
    assert out.schema == target
    row = out.collect()[0]
    assert row["s"]["a"] == 1.0 and row["s"]["b"] is None
    assert row["arr"] == [1.0, 2.0]


def test_cast_preserves_null_structs(spark):
    target = T.StructType(
        [T.StructField("s", T.StructType([T.StructField("a", T.DoubleType()), T.StructField("b", T.StringType())]))]
    )
    df = spark.createDataFrame([(None,)], schema="s struct<a:int>")
    out = cast_to_schema(df, target, keep_extra=False)
    assert out.collect()[0]["s"] is None


def test_roundtrip_canonical_record(spark):
    """A full crystal-shaped record survives canonical cast + parquet."""
    site = {
        "species": [{"element": "Si", "occu": 1}],
        "abc": [0.0, 0.5, 0.5],
        "xyz": [1.0, 2.0, 3.0],
        "properties": {"magmom": 0.1, "charge": 0.0, "forces": [0.0, 0.0, 0.0]},
        "label": "Si",
    }
    rec = {
        "source_database": "alex",
        "source_dataset": "3d",
        "source_id": "alex-1",
        "species": ["Si"],
        "cart_coords": [[1.0, 2.0, 3.0]],
        "frac_coords": [[0.0, 0.5, 0.5]],
        "structure": {
            "@module": "pymatgen.core.structure",
            "@class": "Structure",
            "lattice": {
                "matrix": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]],
                "a": 1.0,
                "b": 1.0,
                "c": 1.0,
                "alpha": 90.0,
                "beta": 90.0,
                "gamma": 90.0,
                "volume": 1.0,
                "pbc": [True, True, True],
            },
            "sites": [site],
            "charge": 0.0,
        },
    }
    sub = T.StructType([f for f in crystal_schema.fields if f.name in rec])
    df = spark.createDataFrame([rec], schema=sub)
    out = to_canonical(df)
    row = out.collect()[0]
    assert row["structure"]["sites"][0]["species"][0]["element"] == "Si"
    assert row["data"] is None and row["symmetry"] is None and row["has_props"] is None


def test_int_float_mix_promotes_to_double(spark, db=None):
    """Regression: long+float resolved to FLOAT by rank, and the evolution
    rewrite cast stored longs to float — silently corrupting integers above
    2^24. Arrow's permissive promotion (which this module mirrors) yields
    DOUBLE for any int/float mix."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.schema import promote_type

    assert promote_type(T.LongType(), T.FloatType()) == T.DoubleType()
    assert promote_type(T.FloatType(), T.LongType()) == T.DoubleType()
    assert promote_type(T.IntegerType(), T.FloatType()) == T.DoubleType()
    # same-family promotions keep rank semantics
    assert promote_type(T.IntegerType(), T.LongType()) == T.LongType()
    assert promote_type(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert promote_type(T.LongType(), T.DoubleType()) == T.DoubleType()


def test_db_long_plus_float_keeps_precision(spark, tmp_path):
    """End-to-end: appending a float batch to a long column widens to double
    and the rewritten history keeps 2^24+1 exact."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "widen"))
    db.create(spark.createDataFrame([(16777217,)], "v long"))
    f = spark.createDataFrame([(0.5,)], "v double").select(
        F.col("v").cast(T.FloatType()).alias("v")
    )
    db.create(f)
    assert dict(db.read().dtypes)["v"] == "double"
    vals = sorted(r["v"] for r in db.read(columns=["v"]).collect())
    assert vals == [0.5, 16777217.0]  # float would have rounded to 16777216


def test_promote_type_decimal_and_temporal_widening():
    """Round-8 review (empirically confirmed): the fall-back-to-left kept
    decimal(18,2) against a double batch, and the evolution cast silently
    ROUNDED 1.23456 -> 1.23; date+timestamp kept date (dropping
    time-of-day); map value types were never traversed."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.schema import promote_type

    assert promote_type(T.DecimalType(18, 2), T.DoubleType()) == T.DoubleType()
    assert promote_type(T.FloatType(), T.DecimalType(18, 2)) == T.DoubleType()
    assert promote_type(T.DecimalType(18, 2), T.DecimalType(10, 5)) == T.DecimalType(21, 5)
    widened = promote_type(T.DecimalType(18, 2), T.LongType())
    assert isinstance(widened, T.DecimalType) and widened.scale == 2
    assert widened.precision - widened.scale >= 19  # full long domain fits
    # round-9 advice + review: over-38 widening must keep the LEFT
    # (canonical/stored) side exact — the old flat precision cap gave
    # decimal(38,0)+decimal(10,6) -> decimal(38,6) = 32 integer digits, and
    # the evolution rewrite's ANSI cast then aborted on already-stored
    # 33+-digit values. Loss lands on the incoming side only: its extra
    # fractional digits round at the write cast, its oversized integers
    # abort there value-dependently.
    assert promote_type(T.DecimalType(38, 0), T.DecimalType(10, 6)) == T.DecimalType(38, 0)
    assert promote_type(T.DecimalType(35, 0), T.DecimalType(10, 6)) == T.DecimalType(38, 3)
    # the mirror direction: stored fractions are NEVER rounded away — scale
    # floors at the stored side's own scale even when integer capacity
    # must shrink (incoming 33+-digit integers then abort at the write
    # cast, which only fires on actual overflowing values)
    assert promote_type(T.DecimalType(10, 6), T.DecimalType(38, 0)) == T.DecimalType(38, 6)
    assert promote_type(T.DecimalType(38, 38), T.DecimalType(38, 0)) == T.DecimalType(38, 38)
    assert promote_type(T.DateType(), T.TimestampType()) == T.TimestampType()
    assert promote_type(T.TimestampNTZType(), T.DateType()) == T.TimestampNTZType()
    assert promote_type(
        T.MapType(T.StringType(), T.IntegerType()),
        T.MapType(T.StringType(), T.DoubleType()),
    ) == T.MapType(T.StringType(), T.DoubleType())


def test_create_evolution_decimal_to_double_preserves_precision(spark, tmp_path):
    from decimal import Decimal

    from pyspark.sql import types as T

    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "dec_evo"))
    db.create(
        spark.createDataFrame(
            [(1, Decimal("1.25"))],
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("v", T.DecimalType(18, 2)),
                ]
            ),
        )
    )
    db.create(spark.createDataFrame([(2, 1.23456)], "k long, v double"))
    got = {r["k"]: r["v"] for r in db.read(columns=["k", "v"]).collect()}
    assert got[2] == 1.23456  # NOT silently rounded to 1.23
    assert got[1] == 1.25


def test_pack_struct_rejects_name_collision(spark):
    import pytest as _pytest

    from crystal_parquet_database_spark.functions.nested import pack_struct

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with _pytest.raises(ValueError, match="packed columns"):
        pack_struct(df, ["a", "b"], name="a", drop=True)
    ok = pack_struct(df, ["a", "b"], name="a", drop=False)  # keep-mode fine
    assert set(ok.columns) == {"a", "b"}


# --- the SQL-text cast: schemas (nullability included) and rows -------------------------


def _cast(spark, rows, ddl, target, keep_extra=False):
    df = spark.createDataFrame(rows, ddl)
    out = cast_to_schema(df, target, keep_extra=keep_extra)
    return out.schema, [r.asDict(recursive=True) for r in out.collect()]


def _st(*fields):
    return T.StructType([T.StructField(n, t) for n, t in fields])


def test_cast_widens_numeric_decimal_and_temporal(spark):
    import datetime
    from decimal import Decimal

    target = _st(
        ("i", T.LongType()),
        ("l", T.DoubleType()),
        ("d", T.DoubleType()),
        ("dt", T.TimestampType()),
    )
    schema, rows = _cast(
        spark,
        [(7, 2**53, Decimal("1.25"), datetime.date(2020, 1, 2)), (None, None, None, None)],
        "i int, l long, d decimal(10,2), dt date",
        target,
    )
    assert schema == target
    assert rows == [
        {"i": 7, "l": float(2**53), "d": 1.25, "dt": datetime.datetime(2020, 1, 2)},
        {"i": None, "l": None, "d": None, "dt": None},
    ]


def test_cast_map_values(spark):
    target = _st(("m", T.MapType(T.StringType(), T.DoubleType())))
    schema, rows = _cast(spark, [({"a": 1, "b": None},), (None,)], "m map<string,int>", target)
    assert schema == target
    assert rows == [{"m": {"a": 1.0, "b": None}}, {"m": None}]


def test_cast_arrays_of_structs_three_deep(spark):
    def level(inner_name, inner_type):
        return T.ArrayType(_st((inner_name, inner_type), ("pad", T.StringType())))

    target = _st(("deep", level("a", level("b", level("c", T.DoubleType())))))
    ddl = "deep array<struct<a: array<struct<b: array<struct<c: int>>>>>>"
    deep = [{"a": [{"b": [{"c": 1}, None, {"c": None}]}, {"b": None}]}, None]
    schema, rows = _cast(spark, [(deep,), (None,)], ddl, target)
    assert schema == target
    assert rows == [
        {
            "deep": [
                {
                    "a": [
                        {"b": [{"c": 1.0, "pad": None}, None, {"c": None, "pad": None}], "pad": None},
                        {"b": None, "pad": None},
                    ],
                    "pad": None,
                },
                None,
            ]
        },
        {"deep": None},
    ]


def test_cast_null_structs_stay_null_and_missing_fields_pad(spark):
    inner = _st(("x", T.DoubleType()), ("missing", T.ArrayType(T.StringType())))
    target = _st(("s", _st(("inner", inner), ("b", T.StringType()))), ("absent", inner))
    schema, rows = _cast(
        spark,
        [({"inner": {"x": 1}},), ({"inner": None},), (None,)],
        "s struct<inner: struct<x: int>>",
        target,
    )
    assert schema == target
    assert rows == [
        {"s": {"inner": {"x": 1.0, "missing": None}, "b": None}, "absent": None},
        {"s": {"inner": None, "b": None}, "absent": None},
        {"s": None, "absent": None},
    ]


def test_cast_keeps_declared_non_nullable_fields(spark):
    """A struct field declared NOT NULL keeps the flag through the
    null-padding ELSE branch (DDL ``NOT NULL``)."""
    target = T.StructType(
        [
            T.StructField(
                "s",
                T.StructType(
                    [T.StructField("a", T.LongType(), False), T.StructField("b", T.StringType())]
                ),
            )
        ]
    )
    out = cast_to_schema(spark.sql("SELECT named_struct('a', 1) AS s"), target)
    assert out.schema == target
    assert out.collect()[0]["s"].asDict() == {"a": 1, "b": None}


def test_cast_extra_columns_follow_keep_extra(spark):
    target = _st(("a", T.LongType()), ("new", T.StringType()))
    ddl = "a int, `extra col` string, z double"
    schema, rows = _cast(spark, [(1, "e", 2.5)], ddl, target, keep_extra=True)
    assert schema == _st(
        ("a", T.LongType()), ("new", T.StringType()), ("extra col", T.StringType()), ("z", T.DoubleType())
    )
    assert rows == [{"a": 1, "new": None, "extra col": "e", "z": 2.5}]
    schema, rows = _cast(spark, [(1, "e", 2.5)], ddl, target, keep_extra=False)
    assert schema == target
    assert rows == [{"a": 1, "new": None}]


_HOSTILE = ["back`tick", "it's", "back\\slash", "dot.ted", "sp ace", "@module", "caf\u00e9 \u7d50\u6676"]


def test_cast_hostile_field_names(spark):
    """Names are backtick-quoted identifiers, and field lookups are escaped
    string literals: every hostile name survives as a top-level column, a
    cast struct field, a null-padded struct field and an extra column."""
    src_fields = [T.StructField(n, T.IntegerType()) for n in _HOSTILE]
    src = T.StructType(
        [T.StructField(n, T.IntegerType()) for n in _HOSTILE]
        + [T.StructField("s", T.StructType(src_fields)), T.StructField("extra " + _HOSTILE[0], T.StringType())]
    )
    wide = T.StructType(
        [T.StructField(n, T.LongType()) for n in _HOSTILE]
        + [T.StructField("new " + n, T.StringType()) for n in _HOSTILE]
    )
    target = T.StructType(
        [T.StructField(n, T.LongType()) for n in _HOSTILE]
        + [T.StructField("s", wide), T.StructField("absent", wide)]
    )
    values = list(range(len(_HOSTILE)))
    df = spark.createDataFrame([(*values, tuple(values), "x")], src)
    out = cast_to_schema(df, target, keep_extra=True)
    assert out.schema == T.StructType(target.fields + [src.fields[-1]])
    row = out.collect()[0].asDict(recursive=True)
    s = {n: v for n, v in zip(_HOSTILE, values)}
    s.update({"new " + n: None for n in _HOSTILE})
    assert row == {**dict(zip(_HOSTILE, values)), "s": s, "absent": None, "extra " + _HOSTILE[0]: "x"}
    # the DDL text round-trips through Spark's parser with every name intact
    ddl = sql_type(target)
    assert spark.sql(f"SELECT CAST(NULL AS {ddl}) AS t").schema["t"].dataType == target


def test_cast_ansi_invalid_value_still_raises(spark):
    import pytest

    df = spark.createDataFrame([("abc",)], "v string")
    out = cast_to_schema(df, _st(("v", T.IntegerType())))
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        out.collect()


def _widen(dt, n):
    """``dt`` with every struct repeated ``n`` times wider (fields
    ``f``, ``f_1``, … ``f_{n-1}``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name + (f"_{i}" if i else ""), _widen(f.dataType, n))
                for f in dt.fields
                for i in range(n)
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_widen(dt.elementType, n))
    return dt


def _narrow(dt):
    """``dt`` with doubles as floats and each struct's last field gone, so
    a cast back to ``dt`` both converts and null-pads at every level."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _narrow(f.dataType)) for f in dt.fields[:-1]])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_narrow(dt.elementType))
    return T.FloatType() if isinstance(dt, T.DoubleType) else dt


def test_cast_construction_py4j_round_trips(spark, py4j_commands):
    """``to_canonical`` and ``cast_to_schema`` build their projection as one
    SQL string per top-level column: the py4j commands they send do not
    grow with the nesting width (the Column-API cast sent one command or
    more per leaf — thousands for the crystal schema)."""
    wide = T.StructType(
        [T.StructField(f.name, _widen(f.dataType, 2)) for f in crystal_schema.fields]
    )
    counts = {}
    for name, target in (("crystal", crystal_schema), ("wide", wide)):
        top = T.StructType([T.StructField(f.name, _narrow(f.dataType)) for f in target.fields])
        df = spark.createDataFrame([], top)
        df.schema  # fetched once; not construction work
        counts[name, "cast"] = py4j_commands(lambda: cast_to_schema(df, target))
        counts[name, "canonical"] = py4j_commands(lambda: to_canonical(df))
    assert counts["crystal", "cast"] == counts["wide", "cast"] <= 20, counts
    assert counts["crystal", "canonical"] == counts["wide", "canonical"] <= 20, counts
