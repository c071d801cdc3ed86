"""Driver-gated physical-layout surface: drive the B3 layout operators —
``zorder_key`` (Morton interleave data-skipping key, operators/skew.py),
``write_bucketed`` / ``bucketed_join`` (shuffle-free co-bucketed joins) —
through REAL on-disk execution under the correctness gate, not just the
pytest footer-stat and plan asserts.

Reference parity: ParquetDB's ``normalize`` physical-layout rewrite
(/root/reference/crystpqdb/loaders/base.py:184-186) is the ancestor of this
surface; bucketing and z-ordering are the Spark-native layout levers the
reference lacks.

The query z-orders the orders table over (o_orderdate, o_totalprice) — the
date dimension exercises the datetime normalization added in round 6 —
rewrites it to scratch parquet, reads it back, bucket-writes both join sides
on the customer key, runs the shuffle-free bucketed join, and aggregates to
plain decimal-exact values the oracle recomputes directly from the fixtures.
A wrong Morton scale, a dropped row in the rewrite, a bucket-pruned mismatch
between sides, or a broken read-back all flip the hash; the layout-specific
properties (narrow per-file stats, zero exchanges in the join plan) stay
asserted in tests/test_db.py and tests/test_plans.py where plans are
inspectable.

100 TB shape: the bucketed write pre-pays the join exchange once — every
later fact⋈fact join on the bucket key is exchange-free; the z-order rewrite
is one extra sort-shuffle whose payoff is row-group min/max pruning on BOTH
dimensions at scan time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.exact import dsum, money
from crystal_parquet_database_spark.operators.skew import (
    bucketed_join,
    write_bucketed,
    zorder_key,
)
from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.surface.scratch import fresh_dir
from crystal_parquet_database_spark.tables import data_files, load_table, read_parquet

_BUCKETED_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
       COUNT(*) AS n_orders,
       MIN(o_orderdate) AS first_order
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# NULLIF(lang, ''): hive layout cannot represent an empty-string partition
# value (Spark writes '' and NULL both as __HIVE_DEFAULT_PARTITION__, so ''
# silently reads back as NULL — caught by the degenerate-corpus sweep).
# PqDB refuses '' partition values loudly; the documented pattern is to
# normalize explicitly before partitioning, which this query does on BOTH
# sides so the coercion is visible, never silent.
_NORMALIZE_ORACLE = """
SELECT NULLIF(lang, '') AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE doc_id < 600 AND n_chars > 100
GROUP BY 1
"""


@query("pqdb_normalize_compaction", _NORMALIZE_ORACLE)
def pqdb_normalize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ``normalize()`` compaction under the driver gate
    (reference: parquetdb normalize, /root/reference/crystpqdb/loaders/
    base.py:184-186).

    Builds a hive-partitioned PqDB (partition_by=lang) from three separate
    ``create()`` appends — each append lays down its own files per partition
    value, so the dataset starts fragmented the way an incrementally loaded
    corpus does — then runs the partitioned compaction path (``_rewrite``
    hash-clusters on the partition columns so each value lands in ONE task;
    a round-robin repartition would emit n_files×n_values tiny files), and
    reads back through the pushdown read. A compaction that
    drops/duplicates rows, mixes partition values across dirs, or mangles
    the partition-column read-back flips the hash. The file-count and
    per-partition-layout asserts stay in tests/test_db.py; here only a
    cheap did-it-compact sanity check runs driver-side.

    100 TB shape: compaction is the steady-state maintenance job of an
    append-heavy corpus — one shuffle keyed on the partition columns, no
    driver data movement, output files bounded by max_rows_per_file.
    """
    from crystal_parquet_database_spark.db import PqDB

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # explicit hive-partition normalization (see _NORMALIZE_ORACLE): an
        # empty-string lang cannot round-trip the hive layout, and PqDB
        # fails loudly on it rather than silently returning NULL
        F.nullif(F.col("lang"), F.lit("")).alias("lang"),
        "source",
        "n_chars",
    )
    slice_ = docs.filter(F.col("doc_id") < 600)
    db = PqDB(spark, os.path.join(fresh_dir("pqdb_normalize"), "db"), partition_by=["lang"])
    for k in range(3):
        db.create(slice_.filter(F.col("doc_id") % 3 == k))
    files_before = len(db.get_file_sizes())
    db.normalize(max_rows_per_file=1_000_000)
    files_after = len(db.get_file_sizes())
    if db.n_rows > 0 and not files_after < files_before:
        # zero-row corpora legitimately hold one schema marker before AND
        # after — only a populated dataset must actually compact
        raise AssertionError(
            f"normalize() did not compact: {files_before} files -> {files_after}"
        )
    read = db.read(columns=["doc_id", "lang", "n_chars"], filters=[("n_chars", ">", 100)])
    return read.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query("layout_zorder_bucketed_join", _BUCKETED_ORACLE)
def layout_zorder_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite + bucketed co-located join, oracle-checked end to end.

    1. ``zorder_key(orders, [o_orderdate, o_totalprice])`` — real min/max
       scan, date normalization, bit interleave — then a range-partitioned
       sort on the key and a scratch parquet rewrite (the ZORDER layout job).
    2. Read the rewrite back (any lost/duplicated/mangled row flips the
       hash), bucket-write it and the customer dimension on the shared
       customer key.
    3. ``bucketed_join`` the two catalog tables — exchange-free by layout —
       and aggregate spend per market segment with the decimal-exact shape
       the oracle mirrors.
    """
    base = fresh_dir("layout_gate")
    # per-invocation catalog names too: the scratch DIR is invocation-unique,
    # and the table registrations must match — a fixed name would let a
    # second invocation DROP + re-register the first's tables out from under
    # a still-unexecuted frame
    tag = os.path.basename(base)
    orders_tbl = f"gate_orders_bucketed_{tag}"
    customer_tbl = f"gate_customer_bucketed_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice", "o_orderdate"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )

    zo, zkey = zorder_key(orders, ["o_orderdate", "o_totalprice"])
    zdir = os.path.join(base, "orders_zordered")
    zo.repartitionByRange(4, zkey).sortWithinPartitions(zkey).drop(zkey).write.mode(
        "overwrite"
    ).parquet(zdir)

    rewritten = read_parquet(spark, zdir, data_files(zdir))
    write_bucketed(
        rewritten,
        orders_tbl,
        "custkey",
        n_buckets=8,
        sort_by="custkey",
        path=os.path.join(base, "orders_bucketed"),
    )
    write_bucketed(
        customer,
        customer_tbl,
        "custkey",
        n_buckets=8,
        sort_by="custkey",
        path=os.path.join(base, "customer_bucketed"),
    )

    joined = bucketed_join(spark, orders_tbl, customer_tbl, "custkey")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        dsum(money("o_totalprice")).alias("total_spend"),
        F.count("*").alias("n_orders"),
        F.min("o_orderdate").alias("first_order"),
    )
