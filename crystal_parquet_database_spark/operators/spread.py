"""The package's one operator-entry spread.

A small Parquet file is one row group, and Spark cannot split a row group, so
it arrives as one or two partitions. Every stage between that scan and the
first shuffle then runs on one core. CPU-bound operators (tokenizing, regex,
hashing, vector folds) repartition their input round-robin to
``defaultParallelism`` first. At 100 TB the input already has thousands of
partitions, and the repartition only evens skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned round-robin to ``defaultParallelism``."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
