"""functions.literals.lit_frame: constant rows built on the JVM as one folded
array-of-struct literal, with ``createDataFrame``'s schema and values."""

from __future__ import annotations

import math

import pytest

from crystal_parquet_database_spark.functions.literals import lit_frame

DDL = "s string, i int, l bigint, d double, b boolean"

ROWS = [
    ("it's \"quoted\"", 1, -(2**63), float("nan"), True),
    ("back\\slash \\n \\u0041", -(2**31), 2**63 - 1, float("inf"), False),
    ("ünïcödé 日本語 😀 ‏", 2**31 - 1, 0, float("-inf"), None),
    (None, None, None, None, None),
    ("", 0, -1, -0.0, True),
    ("x", 7, 42, 5e-324, False),
    ("y", -7, -42, 1.7976931348623157e308, True),
    ("z", 3, 3, 0.1, True),
]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return type(a) is type(b) and a == b


def test_lit_frame_round_trips_values(spark):
    got = [tuple(r) for r in lit_frame(spark, ROWS, DDL).collect()]
    assert len(got) == len(ROWS)
    for want, row in zip(ROWS, got):
        assert all(_same(w, g) for w, g in zip(want, row)), (want, row)


def test_lit_frame_schema_equals_create_dataframe(spark):
    for ddl in (DDL, "query_id string, term string, idx int", "qid string, qvid long"):
        assert lit_frame(spark, [], ddl).schema == spark.createDataFrame([], ddl).schema
    assert lit_frame(spark, ROWS, DDL).schema == spark.createDataFrame(ROWS, DDL).schema


def test_lit_frame_empty_has_zero_rows_and_the_schema(spark):
    empty = lit_frame(spark, [], DDL)
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame([], DDL).schema


def test_lit_frame_construction_runs_no_job(spark):
    sc = spark.sparkContext
    group = "lit-frame-construction"
    try:
        sc.setJobGroup(group, group)
        frames = [lit_frame(spark, ROWS, DDL), lit_frame(spark, [], DDL)]
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe is live: executing in the same group does show a job
        frames[0].collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


@pytest.mark.parametrize(
    "row",
    [
        ("a", 2**31, 0, 0.0, True),   # int overflow
        ("a", 1, 2**63, 0.0, True),   # bigint overflow
        ("a", 1.5, 0, 0.0, True),     # fraction in an int field
        ("a", "7", 0, 0.0, True),     # string in an int field
        ("a", 1, 0, "x", True),       # non-numeric string in a double field
        ("a", 1, 0, 0.0, 1),          # number in a boolean field
    ],
)
def test_lit_frame_value_the_ddl_cannot_hold_raises(spark, row):
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        lit_frame(spark, [row], DDL).collect()


def test_lit_frame_row_of_wrong_width_raises(spark):
    with pytest.raises(ValueError):
        lit_frame(spark, [("a", 1, 2)], DDL)
