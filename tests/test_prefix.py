"""operators/prefix.exclusive_prefix against the single-window definition it
replaces: ``sum(value) OVER (PARTITION BY group ORDER BY … ROWS BETWEEN
UNBOUNDED PRECEDING AND 1 PRECEDING)`` (0 for the first row) and the group's
``sum(value)``."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators.prefix import exclusive_prefix

DDL = "id long, g string, k int, v int"


def _rows(n):
    # k repeats (ties broken by id), k and v are sometimes NULL, and group
    # "big" holds most rows; g is NULL on every 7th row
    return [
        (
            i,
            None if i % 7 == 0 else ("big" if i % 5 else f"s{i % 3}"),
            None if i % 11 == 0 else i % 13,
            None if i % 9 == 0 else i % 17,
        )
        for i in range(n)
    ]


def _reference(df, order, value, group):
    part = W.partitionBy(group) if group else W.partitionBy()
    return df.select(
        "id",
        F.coalesce(
            F.sum(value).over(part.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__before"),
        F.sum(value).over(part).alias("__total"),
    )


def _assert_matches(df, order, value, group=None):
    got = exclusive_prefix(df, order, value, group)
    assert got.columns == [*df.columns, "__total", "__before"]
    want = _reference(df, order, value, group)
    key = ["id", "__before", "__total"]
    assert sorted(map(tuple, got.select(key).collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize("nulls_last", [True, False])
@pytest.mark.parametrize("group", [None, "g"])
def test_matches_single_window(spark, nulls_last, group):
    df = spark.createDataFrame(_rows(240), DDL)
    k = F.col("k").asc_nulls_last() if nulls_last else F.col("k").asc()
    _assert_matches(df, [k, F.col("id")], F.col("v"), group)


def test_a_group_spans_several_range_partitions(spark):
    """The grouped case must carry a base across partitions of ONE group:
    the data shape puts group "big" in more than one range partition."""
    df = spark.createDataFrame(_rows(240), DDL)
    n = spark.sparkContext.defaultParallelism
    spans = (
        df.repartitionByRange(n, "g", F.col("k").asc_nulls_last(), "id")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("g")
        .agg(F.count_distinct("pid").alias("n"))
        .filter(F.col("g") == "big")
        .first()["n"]
    )
    assert n > 1 and spans > 1
    _assert_matches(df, [F.col("k").asc_nulls_last(), F.col("id")], F.col("v"), "g")


def test_count_is_row_number_minus_one(spark):
    df = spark.createDataFrame(_rows(120), DDL)
    order = [F.col("k").asc_nulls_last(), F.col("id")]
    got = exclusive_prefix(df, order, F.lit(1)).select("id", "__before", "__total")
    want = df.select(
        "id", (F.row_number().over(W.orderBy(*order)) - 1).alias("__before")
    )
    assert sorted((r["id"], r["__before"]) for r in got.collect()) == sorted(
        map(tuple, want.collect())
    )
    assert {r["__total"] for r in got.collect()} == {120}


@pytest.mark.parametrize("n", [0, 2])
@pytest.mark.parametrize("group", [None, "g"])
def test_empty_and_fewer_rows_than_partitions(spark, n, group):
    assert n < spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(_rows(n), DDL)
    _assert_matches(df, [F.col("k").asc_nulls_last(), F.col("id")], F.col("v"), group)
