"""The package's one distributed exclusive prefix sum (a running total over a
global order), shared by sequence packing, token budgets, the shuffle rank
and the classifier evaluations.

A bare ``Window.orderBy`` running sum plans a single-partition exchange: the
whole input through one task. This is the two-phase form instead (reduce,
then scan): range-partition by the order, take the running sum WITHIN each
partition, and add a base offset per partition computed from the tiny
one-row-per-(partition, group) partial-sum table broadcast back. The only
single-task step is that table's own window, bounded by the partition count
(times the groups that cross partition boundaries), not by the data. The
values do not depend on where the range boundaries land, so the result is
deterministic although range sampling is not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def exclusive_prefix(
    df: DataFrame, order: list[Column], value: Column, group: str | None = None
) -> DataFrame:
    """``df``'s rows plus ``__before``, the sum of ``value`` over the rows
    strictly earlier in ``order`` within the same ``group`` (0 for the first
    row; NULL values add nothing), and ``__total``, the group's SQL ``sum``.

    ``order`` carries the caller's null ordering (``asc_nulls_last`` where
    NULLs must sort last) and should be a total order: rows tied on it come
    before one another in an arbitrary order. ``value`` must be
    deterministic (it is evaluated twice). A NULL ``group`` is a group of
    its own.
    Not lazy: the range-partitioned input is ``localCheckpoint``ed eagerly,
    one job, and its blocks stay held until the caller releases them
    (``runtime.release_all_session_blocks``)."""
    grp = [group] if group else []
    d = (
        df.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism, *grp, *order
        )
        .withColumn("__pid", F.spark_partition_id())
        # pin the partitioning: the running sums and the partial sums below
        # must see the same rows in the same partitions
        .localCheckpoint(eager=True)
    )
    within = F.sum(value).over(
        W.partitionBy("__pid", *grp)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pgrp = ["__pgrp"] if group else []
    across = W.partitionBy(*pgrp).orderBy("__ppid")
    bases = (
        d.groupBy(F.col("__pid").alias("__ppid"), *[F.col(g).alias("__pgrp") for g in grp])
        .agg(F.sum(value).alias("__psum"))
        .select(
            "__ppid",
            *pgrp,
            F.coalesce(
                F.sum("__psum").over(across.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("__base"),
            F.sum("__psum")
            .over(across.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias("__total"),
        )
    )
    on = F.col("__pid") == F.col("__ppid")
    if group:
        # NULL-safe: the windows and the aggregate treat a NULL group as its
        # own group, but plain equality never matches NULL, and every row of
        # the NULL group would drop out of the join
        on = on & F.col(group).eqNullSafe(F.col("__pgrp"))
    return (
        d.withColumn("__w", within)
        .join(F.broadcast(bases), on)
        .withColumn("__before", F.coalesce(F.col("__w"), F.lit(0)) + F.col("__base"))
        .drop("__pid", "__ppid", "__pgrp", "__w", "__base")
    )
