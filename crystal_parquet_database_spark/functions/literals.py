"""Driver-side constants as JVM literals.

Every builder here serializes its value to ONE JSON string literal and lets
the JVM decode it with a FAILFAST ``from_json``. ``from_json`` of a literal
is foldable, so the optimizer turns it into one ``Literal``: plans show a
constant, never a per-row parse. ``json.dumps`` writes Python's shortest
round-trip decimal (and ``NaN``/``Infinity``, which Spark's JSON reader
accepts) and Jackson parses it correctly rounded, so every double is
bit-identical. FAILFAST makes a value that does not decode raise instead of
becoming NULL.

``lit_frame`` is the table form. ``spark.createDataFrame(<list>, ddl)`` ships
the rows to the executors as a PythonRDD: ``defaultParallelism`` Python
tasks, each paying the worker's per-task set-up (about 0.2 s of CPU, see
SCALE.md "Python worker tax"), for a handful of constant rows. ``lit_frame``
builds the same rows on the JVM.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FAILFAST = {"mode": "FAILFAST"}


def lit_array(value: list, ddl: str) -> Column:
    """A constant array of type ``ddl`` as one folded literal, instead of
    one py4j ``lit()`` per element or one SQL-parser token per element."""
    return F.from_json(F.lit(json.dumps(value)), ddl, _FAILFAST)


def lit_vector(vec: list[float]) -> Column:
    """array<double> literal."""
    return lit_array([float(v) for v in vec], "array<double>")


def lit_matrix(mat: list[list[float]]) -> Column:
    """array<array<double>> literal — the shape every inlined centroid
    table / PQ codebook uses."""
    return lit_array([[float(v) for v in row] for row in mat], "array<array<double>>")


def lit_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A DataFrame of constant ``rows`` (tuples in ``ddl`` field order) with
    exactly the schema ``spark.createDataFrame(rows, ddl)`` gives, built as
    one folded array-of-struct literal expanded by ``inline`` over a
    one-row, one-partition range. Construction runs no Spark job and
    execution runs no Python task. An empty ``rows`` gives zero rows with
    the same schema. A row of the wrong width raises ``ValueError`` here; a
    value its field cannot hold raises when the frame executes."""
    schema = T.StructType.fromDDL(ddl)
    records = [dict(zip(schema.names, row, strict=True)) for row in rows]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(json.dumps(records)), T.ArrayType(schema), _FAILFAST))
    )
