"""tables.read_parquet reads the schema from the footers on the driver
through Spark's own converter. These tests pin it to Spark's inference
(``spark.read.parquet``, with ``mergeSchema`` for PqDB datasets), so a
Spark upgrade that changes either side fails here, and they keep every
open in the package on that path."""

from __future__ import annotations

import ast
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

import crystal_parquet_database_spark as pkg
from crystal_parquet_database_spark.db import PqDB
from crystal_parquet_database_spark.tables import TABLE_NAMES, data_files, read_parquet


def _inferred(spark, path, merge=False):
    reader = spark.read.option("mergeSchema", "true") if merge else spark.read
    return reader.parquet(path)


def _plan(df) -> str:
    return re.sub(r"#\d+", "#N", df._jdf.queryExecution().executedPlan().toString())


@pytest.fixture()
def conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
def test_fixture_tables_match_inference(spark, sf_dir, conf, nanos_as_long):
    conf("spark.sql.legacy.parquet.nanosAsLong", nanos_as_long)
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        got = read_parquet(spark, path, data_files(path))
        want = _inferred(spark, path)
        assert got.schema == want.schema, name
        assert _plan(got) == _plan(want), name


def _assert_pqdb_matches(spark, db):
    got = db._df()
    want = _inferred(spark, db.path, merge=True)
    assert got.schema == want.schema
    assert _plan(got) == _plan(want)
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_pqdb_plain_and_evolved_match_inference(spark, tmp_path):
    db = PqDB(spark, str(tmp_path / "plain"))
    db.create([{"x": i, "s": Row(a=i)} for i in range(5)])
    _assert_pqdb_matches(spark, db)
    # a new top-level column, then a new nested field: older files are
    # read null-padded under the merged schema
    db.create([{"x": 5, "s": Row(a=5), "y": "top"}])
    db.create([{"x": 6, "s": Row(a=6, b=2.5), "y": "nested"}])
    assert len(db._data_files()) == 3
    _assert_pqdb_matches(spark, db)
    assert [f.name for f in db.get_schema()["s"].dataType.fields] == ["a", "b"]


def test_pqdb_partitioned_and_marker_match_inference(spark, tmp_path):
    db = PqDB(spark, str(tmp_path / "hive"), partition_by=["lang"])
    db.create([{"k": i, "lang": ["en", "de"][i % 2]} for i in range(6)])
    db.create([{"k": 6, "lang": "fr", "extra": 1}])
    _assert_pqdb_matches(spark, db)
    assert db.get_schema().fieldNames()[-1] == "lang"  # discovered, appended
    assert "PartitionFilters: [isnotnull(lang" in _plan(db.read(filters="lang = 'fr'"))
    db.delete(where="true")  # leaves the unpartitioned zero-row marker
    assert db._has_root_data_files()
    _assert_pqdb_matches(spark, db)


@pytest.mark.parametrize("case_sensitive", ["false", "true"])
def test_case_variant_columns_fold_like_inference(spark, tmp_path, conf, case_sensitive):
    """Files with columns ``A`` and ``a``: case-insensitive sessions get
    ``A`` alone, as Spark's inference does; a case-sensitive fold would
    give both and fail the open with COLUMN_ALREADY_EXISTS."""
    conf("spark.sql.caseSensitive", case_sensitive)
    pq.write_table(pa.table({"A": pa.array([1], pa.int64())}), str(tmp_path / "p0.parquet"))
    pq.write_table(pa.table({"a": pa.array([2], pa.int64())}), str(tmp_path / "p1.parquet"))
    path = str(tmp_path)
    got = read_parquet(spark, path, data_files(path))
    want = _inferred(spark, path, merge=True)
    assert got.schema == want.schema
    assert got.columns == (["A"] if case_sensitive == "false" else ["A", "a"])
    assert got.count() == 2


def test_data_files_skip_what_spark_skips(tmp_path):
    (tmp_path / "_temporary").mkdir()
    (tmp_path / "k=1").mkdir()
    for f in ("_temporary/p.parquet", ".hidden.parquet", "_meta.parquet", "k=1/p.parquet", "p.parquet"):
        (tmp_path / f).write_bytes(b"")
    assert data_files(str(tmp_path)) == [str(tmp_path / "k=1/p.parquet"), str(tmp_path / "p.parquet")]
    assert data_files(str(tmp_path / "p.parquet")) == [str(tmp_path / "p.parquet")]


def _chain(node):
    """Attribute names and calls along a method chain, outermost first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
        node = node.func if isinstance(node, ast.Call) else node.value
    return names


def _unschema_opens(source: str, allow: str | None = None) -> list[int]:
    """Lines of ``source`` that open Parquet without a schema or set
    ``mergeSchema``, outside the function named ``allow``."""
    tree = ast.parse(source)
    allowed = set()
    for fn in tree.body:
        if allow and getattr(fn, "name", "") == allow:
            allowed = {id(n) for n in ast.walk(fn)}
    lines = []
    for node in ast.walk(tree):
        if id(node) in allowed:
            continue
        if isinstance(node, ast.Constant) and node.value == "mergeSchema":
            lines.append(node.lineno)
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if any(k.arg == "mergeSchema" for k in node.keywords):
            lines.append(node.lineno)
        chain = _chain(node.func)
        parquet = chain[0] == "parquet" or (
            chain[0] == "load"
            and any(
                isinstance(c, ast.Call)
                and _chain(c.func)[:1] == ["format"]
                and any(isinstance(a, ast.Constant) and a.value == "parquet" for a in c.args)
                for c in ast.walk(node)
            )
        )
        if parquet and {"read", "readStream"} & set(chain) and "schema" not in chain:
            lines.append(node.lineno)
    return sorted(set(lines))


def test_open_guard_flags_inferring_reads():
    src = """
def f(spark, p, s):
    spark.read.parquet(p)
    spark.read.option("mergeSchema", "true").parquet(p)
    spark.read.format("parquet").load(p)
    spark.read.parquet(p, mergeSchema=True)
    spark.read.schema(s).parquet(p)
    df.write.parquet(p)
"""
    assert _unschema_opens(src) == [3, 4, 5, 6]
    assert _unschema_opens(src, allow="f") == []


def test_every_open_goes_through_read_parquet():
    """No Parquet read without a schema and no ``mergeSchema`` option
    outside ``tables.read_parquet``: either brings the schema-inference
    job back."""
    root = os.path.dirname(pkg.__file__)
    found = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, root)
                with open(path) as fh:
                    bad = _unschema_opens(fh.read(), "read_parquet" if rel == "tables.py" else None)
                if bad:
                    found[rel] = bad
    assert not found, found
