"""Relational query surface: scans, joins (all flavors), aggregations,
grouping sets, windows, sorts/top-k, set ops.

Reference parity note: the reference repo implements no relational operators
of its own (SURVEY.md §2 — its only compute is nested projection via
pyarrow.compute struct_field/list_flatten); this module is the declared
query surface (SURVEY.md §2C) the new engine adds, each entry verified
against a DuckDB oracle. Spark side is DataFrame API (Catalyst handles
pushdown, join strategy selection, partial aggregation); oracle side is the
same logical query in portable SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.exact import (
    DISC_PRICE_SQL,
    ONE_SQL,
    disc_price,
    dsum,
    money,
    rate,
)
from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- TPC-H-style analytical queries -------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({DISC_PRICE_SQL}) AS DOUBLE)
           AS sum_disc_price,
       CAST(SUM({DISC_PRICE_SQL}
                * ({ONE_SQL} + CAST(l_tax AS DECIMAL(5,2)))) AS DOUBLE)
           AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(5,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with partial (map-side) aggregation.

    The filter and the 7-column projection both push down to the parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(5,2)")
    dp = disc_price()
    charge = dp * (one + rate("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_base_price"),
            dsum(dp).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(money("l_quantity")) / F.count("*")).alias("avg_qty"),
            (dsum(money("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (dsum(rate("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
       CAST(SUM({DISC_PRICE_SQL}) AS DOUBLE)
           AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join → agg → top-k.

    customer is tiny relative to lineitem — Catalyst broadcast-joins it
    (verified in bench plan checks); the order is fully tie-broken so the
    LIMIT is deterministic.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name,
       CAST(SUM({DISC_PRICE_SQL}) AS DOUBLE)
           AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@query("q5_local_supplier_volume", _Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with a same-nation theta condition.

    All dimensions (region, nation, customer, supplier) broadcast; only the
    orders⋈lineitem edge shuffles on orderkey.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_revenue_forecast", _Q6_ORACLE)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushdown filter + global aggregate (no shuffle of
    data rows at all — partial aggs reduce to one row per partition)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(money("l_extendedprice") * rate("l_discount")).alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --- join flavors --------------------------------------------------------------------

_FULL_JOIN_ORACLE = """
WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_balance
           FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers,
                  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS supp_balance
           FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(cust_balance, CAST(0 AS DOUBLE)) AS cust_balance,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       COALESCE(supp_balance, CAST(0 AS DOUBLE)) AS supp_balance
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


@query("join_full_nation_accounts", _FULL_JOIN_ORACLE)
def join_full_nation_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides with null-filling."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"), dsum(money("c_acctbal")).alias("cust_balance"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"), dsum(money("s_acctbal")).alias("supp_balance"))
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("cust_balance", F.lit(0.0)).alias("cust_balance"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.coalesce("supp_balance", F.lit(0.0)).alias("supp_balance"),
    )


_RIGHT_JOIN_ORACLE = """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


@query("join_right_customer_orders", _RIGHT_JOIN_ORACLE)
def join_right_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving customers with zero orders (COUNT of a
    nullable key counts only matched rows)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
"""


@query("join_semi_recent_customers", _SEMI_ORACLE)
def join_semi_recent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with a recent order."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
"""


@query("join_anti_customers_without_orders", _ANTI_ORACLE)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no recent order.

    (Scoped to recent orders so the result is non-empty at every sf — every
    customer has *some* order in the fixtures.)
    """
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_CROSS_ORACLE = """
SELECT r_name, p.o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
"""


@query("join_cross_region_priority", _CROSS_ORACLE)
def join_cross_region_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small inputs."""
    region = _t(spark, sf_dir, "region").select("r_name")
    prio = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return region.crossJoin(prio)


# --- grouping sets / windows / sorts -------------------------------------------------

_ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
-- HAVING COUNT(*) > 0 pins the one cross-engine divergence an EMPTY
-- input exposes: ANSI (and DuckDB) emit the grand-total grouping-set row
-- over an empty relation; Spark's rollup/cube/grouping-sets emit nothing.
-- Every populated grouping row has COUNT(*) >= 1, so this is value-
-- identical on any non-empty input (scripts/empty_sweep.py checks it).
HAVING COUNT(*) > 0
"""


@query("agg_rollup_order_stats", _ROLLUP_ORACLE)
def agg_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with exact sums and distinct counts."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(money("o_totalprice")).alias("total_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
-- HAVING COUNT(*) > 0 pins the one cross-engine divergence an EMPTY
-- input exposes: ANSI (and DuckDB) emit the grand-total grouping-set row
-- over an empty relation; Spark's rollup/cube/grouping-sets emit nothing.
-- Every populated grouping row has COUNT(*) >= 1, so this is value-
-- identical on any non-empty input (scripts/empty_sweep.py checks it).
HAVING COUNT(*) > 0
"""


@query("agg_cube_lineitem", _CUBE_ORACLE)
def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over the fact table."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), dsum(money("l_quantity")).alias("sum_qty"))
    )


_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
WHERE rn <= 3
"""


@query("window_topk_orders_per_customer", _TOPK_ORACLE)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k pattern (no global
    sort; one shuffle on the partition key)."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend,
       LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS prev_price,
       LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS next_price,
       CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
            AS INTEGER) AS price_rank
FROM orders
"""


@query("window_running_spend", _RUNNING_ORACLE)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame aggregation (running sum) + lag/lead + rank, one shuffle."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.sum(money("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(wr).cast("int").alias("price_rank"),
    )


_SORT_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
FROM part
ORDER BY p_size DESC, p_retailprice ASC, p_partkey
LIMIT 50
"""


@query("sort_multikey_limit", _SORT_ORACLE)
def sort_multikey_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort + limit (Spark executes as TakeOrderedAndProject
    — no full global sort materialization)."""
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .orderBy(F.desc("p_size"), F.asc("p_retailprice"), F.asc("p_partkey"))
        .limit(50)
    )


# --- set operations ------------------------------------------------------------------

_SETOP_ORACLE = """
SELECT nationkey, 'both' AS tag
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS tag
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'supplier_only' AS tag
FROM (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
      EXCEPT
      SELECT DISTINCT c_nationkey AS nationkey FROM customer)
"""


@query("setop_nation_coverage", _SETOP_ORACLE)
def setop_nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over distinct key sets."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    c_only = c.exceptAll(s).withColumn("tag", F.lit("customer_only"))
    s_only = s.exceptAll(c).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(c_only).unionByName(s_only)


_UNION_DISTINCT_ORACLE = """
SELECT nationkey FROM
  (SELECT c_nationkey AS nationkey FROM customer
   UNION
   SELECT s_nationkey AS nationkey FROM supplier)
"""


@query("setop_union_distinct_nations", _UNION_DISTINCT_ORACLE)
def setop_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key columns."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# --- distinct / approximate aggregates ------------------------------------------------

_DISTINCT_ORACLE = """
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS n_rows
FROM lineitem
"""


@query("agg_distinct_counts", _DISTINCT_ORACLE)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact distinct counts in one aggregation (expand + two-phase)."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


_APPROX_CD_ORACLE = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_3pct
FROM lineitem
"""


@query("agg_approx_count_distinct", _APPROX_CD_ORACLE)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the sketch-based scale path for distinct counts
    (single pass, fixed memory, no expand). The estimate itself stays out of
    the output (HLL internals are engine-specific), but it is CHECKED: at
    rsd=0.01 the relative standard error is ~1%, so the emitted boolean
    asserts the 3-sigma bound |approx − exact| / exact ≤ 3% against the
    exact count the oracle recomputes — drift flips the row red."""
    return (
        _t(spark, sf_dir, "lineitem")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("__approx"),
            F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
        )
        .select(
            "exact_parts",
            # exact=0 (empty relation) ⇒ the sketch cannot be off: TRUE,
            # matching the oracle's literal — and the CASE guards the ANSI
            # division (when() short-circuits per row, so the divide never
            # evaluates for the zero row; scripts/empty_sweep.py)
            F.when(
                F.col("exact_parts") == 0, F.col("__approx") == 0
            ).otherwise(
                F.abs(F.col("__approx").cast("double") - F.col("exact_parts").cast("double"))
                / F.col("exact_parts").cast("double")
                <= F.lit(0.03)
            ).alias("within_3pct"),
        )
    )


_COLLECT_ORACLE = """
SELECT n_regionkey,
       ARRAY_TO_STRING(LIST(DISTINCT n_name ORDER BY n_name), ',') AS nations,
       COUNT(*) AS n_nations
FROM nation
GROUP BY n_regionkey
"""


@query("agg_collect_sorted_list", _COLLECT_ORACLE)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted list, joined to a string (deterministic list
    aggregation). Emitted as a comma-joined string rather than array<string>
    because order-insensitive result comparison needs hashable cells; the
    list semantics are identical."""
    return (
        _t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )
