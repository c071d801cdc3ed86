"""Extended relational surface: pivot/unpivot, as-of and range joins,
subqueries, percentiles, argmax, deterministic sampling, lateral explode.

The as-of and range joins are the two operators Spark lacks natively; both
are expressed in their scalable composite form (window-based as-of; bucketized
range join) rather than a naive theta join — the oracle states the same
semantics declaratively, which also documents the equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.exact import (
    DISC_PRICE_SQL,
    DSUM_DOUBLE_SQL,
    dsum,
    money,
)
from crystal_parquet_database_spark.functions.portable_hash import spark_hash64, sql_hash64
from crystal_parquet_database_spark.operators.sessionize import sql_session_cte
from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.tables import load_table, register_views

_GROUPING_SETS_TEXT = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
-- HAVING COUNT(*) > 0 pins the one cross-engine divergence an EMPTY
-- input exposes: ANSI (and DuckDB) emit the grand-total grouping-set row
-- over an empty relation; Spark's rollup/cube/grouping-sets emit nothing.
-- Every populated grouping row has COUNT(*) >= 1, so this is value-
-- identical on any non-empty input (scripts/empty_sweep.py checks it).
HAVING COUNT(*) > 0
"""


@query("agg_grouping_sets_explicit", _GROUPING_SETS_TEXT)
def agg_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() indicators (beyond rollup/cube).
    Same SQL text runs on both engines."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_GROUPING_SETS_TEXT)


# One query exercised through the SQL API itself (views + spark.sql): the
# engine treats DataFrame and SQL text as the same logical-plan front end, so
# the oracle string IS the Spark query.
_SQL_API_TEXT = f"""
SELECT n_name,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CAST(SUM({DISC_PRICE_SQL}) AS DOUBLE)
           AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@query("sql_api_revenue_by_nation", _SQL_API_TEXT)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "orders", "customer", "nation"])
    return spark.sql(_SQL_API_TEXT)

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {', '.join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
"""


@query("pivot_event_type_counts", _PIVOT_ORACLE)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per event type. Explicit value list keeps the plan
    single-pass (no distinct-values pre-query)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        # fill scoped to the pivoted count columns: an unscoped na.fill(0)
        # would also rewrite a NULL group KEY (user_id) to 0, merging it with
        # a legitimate user 0 while the oracle's GROUP BY keeps NULL apart
        ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
        .na.fill(0, _EVENT_TYPES)
    )


_UNPIVOT_ORACLE = """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
"""


@query("unpivot_part_metrics", _UNPIVOT_ORACLE)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide → long."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_ASOF_ORACLE = """
SELECT event_id, user_id, ts, last_view_ts FROM (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM events
) WHERE event_type = 'purchase'
"""


@query("join_asof_purchase_attribution", _ASOF_ORACLE)
def join_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (merge_asof semantics): each purchase attributed to the most
    recent prior view by the same user. One shuffle on the partition key —
    the scalable form of an as-of join when both sides share a stream."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        # asc_nulls_last mirrors DuckDB's default NULL ordering — a NULL-ts
        # purchase must see all real prior views in its frame, not none
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "last_view_ts",
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_ts")
    )


_RANGE_ORACLE = """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND (epoch_us(a.ts) < epoch_us(b.ts)
      OR (epoch_us(a.ts) = epoch_us(b.ts) AND a.event_id < b.event_id))
 AND epoch_us(b.ts) - epoch_us(a.ts) <= 120000000
"""


@query("join_range_bucketized_event_pairs", _RANGE_ORACLE)
def join_range_bucketized_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bucketing — the scale pattern for interval joins.

    Each left row probes its 2-minute bucket and the next one; the equi-join
    on (user, bucket) replaces the naive O(n²)-per-user theta join, then the
    exact range predicate filters. The bucketization is lossless, so the
    oracle can state the plain theta-join semantics.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    width = 120_000_000  # 2 minutes in µs
    left = ev.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("us").alias("us_a"),
        F.explode(
            F.array(
                (F.col("us") / width).cast("bigint"),
                (F.col("us") / width).cast("bigint") + 1,
            )
        ).alias("bucket"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("us").alias("us_b"),
        (F.col("us") / width).cast("bigint").alias("bucket"),
    )
    return (
        left.join(right, ["user_id", "bucket"])
        .filter(
            (
                (F.col("us_a") < F.col("us_b"))
                | ((F.col("us_a") == F.col("us_b")) & (F.col("id_a") < F.col("id_b")))
            )
            & (F.col("us_b") - F.col("us_a") <= width)
        )
        .select("user_id", "id_a", "id_b", (F.col("us_b") - F.col("us_a")).alias("gap_us"))
        # no .distinct(): each qualifying pair joins exactly once — the right
        # side carries ONE bucket and the left row's two exploded buckets are
        # distinct values, so at most one satisfies the equi-join; a dedup
        # here would re-shuffle the whole O(pairs) output for nothing
    )


_SUBQ_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   FROM customer)
"""


@query("subquery_above_avg_customers", _SUBQ_ORACLE)
def subquery_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: compare each row against a global aggregate. The
    1-row aggregate is broadcast — no shuffle of the big side."""
    c = load_table(spark, sf_dir, "customer")
    avg_df = c.agg((dsum(money("c_acctbal")) / F.count("*")).alias("__avg"))
    return (
        c.crossJoin(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


_HAVING_ORACLE = """
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM part
GROUP BY p_brand
HAVING COUNT(*) > 70
"""


@query("agg_having_brands", _HAVING_ORACLE)
def agg_having_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"), dsum(money("p_retailprice")).alias("total_price"))
        .filter(F.col("n_parts") > 70)
    )


_PCT_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_percentiles_by_flag", _PCT_ORACLE)
def agg_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same linear
    interpolation on sorted values — verified bit-identical). The at-scale
    variant is approx_percentile; exact percentile shuffles values per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.9).alias("p90"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
    )


# key uniqueness requires the custkey term to stay below the balance
# multiplier: 10^10 covers TPC-H custkeys past sf1000 (a 100000 multiplier
# collided once custkey reached 100000 — two keys one balance-cent apart
# could produce the same bigint and make arg_max engine-defined).
# bal_cents ≤ ~10^8, so the product stays far under 2^63.
_ARGMAX_ORACLE = """
SELECT c_nationkey,
       arg_max(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey)
           AS top_customer,
       MAX(c_acctbal) AS top_balance
FROM customer GROUP BY c_nationkey
"""


@query("agg_argmax_customer_per_nation", _ARGMAX_ORACLE)
def agg_argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max with a tie-proof key: balances carry 2 decimals, so
    (balance×100)·10¹⁰ + custkey is an exact bigint with a unique max (the
    multiplier bounds custkey — see comment above the oracle)."""
    c = load_table(spark, sf_dir, "customer")
    key = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * F.lit(10_000_000_000)
        + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("top_customer"),
        F.max("c_acctbal").alias("top_balance"),
    )


# paired unnests, NOT a generate_series(1,64) cross join: posexplode emits
# ZERO rows for a NULL embedding (and exactly len rows for a ragged one),
# where the fixed-width cross join manufactured 64 NULL-component rows —
# a hash mismatch the moment a NULL embedding lands in the id range
_EXPLODE_ORACLE = """
SELECT vec_id, pos - 1 AS pos, CAST(e AS DOUBLE) AS component
FROM (
  SELECT vec_id, unnest(embedding) AS e,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings WHERE vec_id < 5
)
"""


@query("explode_embedding_components", _EXPLODE_ORACLE)
def explode_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array → (position, value) rows."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return e.select(
        "vec_id", F.posexplode("embedding")
    ).select(
        "vec_id", F.col("pos"), F.col("col").cast("double").alias("component")
    )


_APPROX_PCT_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       quantile_cont(l_extendedprice, 0.9) AS exact_p90,
       TRUE AS p50_within_1pct,
       TRUE AS p90_within_1pct
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_approx_percentiles", _APPROX_PCT_ORACLE)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the single-pass fixed-memory scale path for
    quantiles (exact percentile shuffles all values per group). The sketch
    values are engine-specific so they stay out of the output; instead each
    group emits the exact percentiles (quantile_cont parity proven by
    agg_percentiles_by_flag) plus booleans asserting the sketch landed
    within 1% of them — accuracy=10000 bounds rank error at n/10000, far
    tighter than 1% in value on this distribution, and a regression flips
    the row red instead of going unnoticed."""
    li = load_table(spark, sf_dir, "lineitem")
    ap = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("__a50"),
        F.approx_percentile("l_extendedprice", 0.9, 10000).alias("__a90"),
        F.percentile("l_extendedprice", 0.5).alias("exact_p50"),
        F.percentile("l_extendedprice", 0.9).alias("exact_p90"),
    )
    # guarded like agg_hll_error_bound's bound: an all-zero group divides by
    # zero (ANSI abort) and an all-NULL group yields NULL — the oracle pins
    # TRUE, so zero-exact groups pass iff the sketch agrees exactly and
    # NULL-exact groups pass iff the sketch is NULL too
    def within(a, e):
        ec = F.col(e)
        return (
            F.when(ec.isNull(), a.isNull())
            .when(ec == 0, a == ec)
            .otherwise(F.abs(a - ec) / F.abs(ec) <= F.lit(0.01))
        )

    return ap.select(
        "l_returnflag",
        "exact_p50",
        "exact_p90",
        within(F.col("__a50"), "exact_p50").alias("p50_within_1pct"),
        within(F.col("__a90"), "exact_p90").alias("p90_within_1pct"),
    )


_RANGE_FRAME_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY DATEDIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
FROM orders
"""


@query("window_range_frame_spend_30d", _RANGE_FRAME_ORACLE)
def window_range_frame_spend_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window): rolling 30-day spend per customer.
    Range frames include all order-date ties, so no tiebreak is needed."""
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = W.partitionBy("o_custkey").orderBy(days).rangeBetween(-30, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


_DIST_WINDOW_ORACLE = """
SELECT c_custkey, c_nationkey,
       CAST(NTILE(4) OVER w AS INTEGER) AS balance_quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@query("window_distribution_functions", _DIST_WINDOW_ORACLE)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist — distribution window functions
    (rank-formula doubles are engine-identical given the same total order)."""
    c = load_table(spark, sf_dir, "customer")
    # asc_nulls_last: DuckDB's ASC default is NULLS LAST, Spark's is NULLS
    # FIRST — fixture acctbals are never NULL, but the convention holds
    # everywhere so one fixture change can't flip every rank
    w = W.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_NTH_ORACLE = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
       LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query("window_positional_values", _NTH_ORACLE)
def window_positional_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value over an unbounded frame."""
    o = load_table(spark, sf_dir, "orders")
    # asc_nulls_last on the date: same NULLS-LAST convention as the
    # distribution windows above (latent until a NULL o_orderdate exists)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


# element-level NULL contract (both sides identical): doubled_sum is the
# SQL sum — NULL elements are SKIPPED, all-skipped/whole-NULL/empty sum to
# NULL (the raw Spark fold would NULL-poison on the first NULL element
# while DuckDB's list_aggregate('sum') skips it); any_large is FALSE when
# nothing exceeds the threshold even if NULL elements exist (three-valued
# EXISTS says NULL there), NULL only for a NULL array; head_nonneg uses
# out-of-bounds-safe element access (F.get / [i]) so a ragged array yields
# NULL instead of an ANSI abort.
_HOF_ORACLE = f"""
SELECT vec_id,
       list_aggregate(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) + CAST(x AS DOUBLE)),
                      'sum') AS doubled_sum,
       len(list_filter(embedding, x -> x > 0.1)) > 0 AS any_large,
       CAST(embedding[1] AS DOUBLE) >= 0 AND CAST(embedding[2] AS DOUBLE) >= 0 AS head_nonneg
FROM embeddings WHERE vec_id < 50
"""


@query("scalar_higher_order_functions", _HOF_ORACLE)
def scalar_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip_with / exists / filter / aggregate higher-order functions over
    array columns, with the element-NULL contract above."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    nn = F.filter(
        F.zip_with(
            F.col("embedding"),
            F.col("embedding"),
            lambda x, y: x.cast("double") + y.cast("double"),
        ),
        lambda v: v.isNotNull(),
    )
    doubled = F.when(
        F.col("embedding").isNotNull() & (F.size(nn) > 0),
        F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x),
    )
    return e.select(
        "vec_id",
        doubled.alias("doubled_sum"),
        F.when(
            F.col("embedding").isNotNull(),
            F.coalesce(F.exists("embedding", lambda x: x > 0.1), F.lit(False)),
        ).alias("any_large"),
        (
            (F.get("embedding", 0).cast("double") >= 0)
            & (F.get("embedding", 1).cast("double") >= 0)
        ).alias("head_nonneg"),
    )


_SAMPLE_ORACLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {sql_hash64('CAST(doc_id AS VARCHAR)')}, doc_id) AS rn
  FROM documents
) WHERE rn <= 20
"""


@query("sample_deterministic_stratified", _SAMPLE_ORACLE)
def sample_deterministic_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling — 20 docs per language, chosen by
    portable hash order. Unlike rand()-based sampling this is stable across
    engines, retries, and partitionings (the property a 100 TB training-data
    pipeline actually needs)."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        spark_hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# ----------------------------------------------------------------------------
# statistical moments: corr / covar_pop / stddev_pop from exact power sums
# ----------------------------------------------------------------------------

# The scale-4 PRODUCT sums (x², y², xy) can exceed the 2^53 scaled-
# significand line as low as sf0.001, where DuckDB's direct DECIMAL→DOUBLE
# cast double-rounds 1 ulp away from Spark's correctly-rounded cast
# (confirmed: syy for flag A at sf0.001 is exactly ...835.8685, which
# DuckDB cast to ...835.869 and Spark to ...835.868) — every sum here
# routes through DSUM_DOUBLE_SQL's VARCHAR round-trip, which is
# correctly rounded at any magnitude (functions/exact.py).
_MOM = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS DOUBLE) AS n,
       {DSUM_DOUBLE_SQL("CAST(l_quantity AS DECIMAL(18,2))")} AS sx,
       {DSUM_DOUBLE_SQL("CAST(l_extendedprice AS DECIMAL(18,2))")} AS sy,
       {DSUM_DOUBLE_SQL(
           "CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))"
       )} AS sxx,
       {DSUM_DOUBLE_SQL(
           "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"
       )} AS syy,
       {DSUM_DOUBLE_SQL(
           "CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"
       )} AS sxy
FROM lineitem GROUP BY l_returnflag
"""

_MOMENTS_ORACLE = f"""
SELECT l_returnflag,
       (sxy - sx * sy / n) / n AS covar_pop,
       CASE WHEN sxx - sx * sx / n > 0
            THEN SQRT((sxx - sx * sx / n) / n) ELSE 0.0 END AS stddev_qty,
       CASE WHEN sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
            THEN (sxy - sx * sy / n)
                 / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
            ELSE NULL END AS corr_qty_price
FROM ({_MOM.strip()})
"""


@query("agg_stats_moments", _MOMENTS_ORACLE)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlation / covariance / stddev built from exact decimal
    power sums (n, Σx, Σy, Σx², Σy², Σxy) — one pass over the fact with
    map-side partials (the identical shuffle shape as any groupBy sum),
    then the moment formulas evaluated in double with the exact same
    expression tree as the oracle, so results are bit-identical. Spark's
    built-in corr/stddev are also single-pass but their merge order leaks
    into the low bits, which is why they can't be oracle-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    x = money("l_quantity")
    y = money("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # zero/negative-variance guard, mirrored as CASE WHEN in the oracle: a
    # constant-valued group makes the centered sum exactly 0 (or, via double
    # cancellation, a tiny negative — IDENTICAL on both engines because the
    # operands and operation order are identical doubles). Unguarded, Spark
    # emits NaN (0/0, sqrt(-ε)) where DuckDB returns NULL (x/0.0) or hard-
    # errors (SQRT of a negative), so the guard must fire on both sides.
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    return g.select(
        "l_returnflag",
        ((sxy - sx * sy / n) / n).alias("covar_pop"),
        F.when(varx > 0, F.sqrt(varx / n)).otherwise(F.lit(0.0)).alias("stddev_qty"),
        F.when(
            (varx > 0) & (vary > 0),
            (sxy - sx * sy / n) / F.sqrt(varx * vary),
        ).alias("corr_qty_price"),
    )


# ----------------------------------------------------------------------------
# skew-mitigated join: salted fact⋈dim, result identical to the plain join
# ----------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


@query("join_salted_skew_agg", _SALTED_ORACLE)
def join_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-mitigation path (operators/skew.py) as a verified
    query: orders⋈customer through a salted join — the big side salted by row
    position, the small side replicated per salt, so a hot customer key
    spreads over n_salts reducers — then aggregated. The result is identical
    to the unsalted join (that is the point), so the oracle is the plain SQL
    join; at fixture scale salting costs a little, at a skewed 100 TB it is
    the difference between a straggler-free run and one stuck reducer."""
    from crystal_parquet_database_spark.operators.skew import salted_join

    # o_orderkey rides along solely as the salt's entropy column: the frame
    # is otherwise projected to (key, totalprice), and two orders of a hot
    # customer with byte-identical totalprice would hash to the same salt —
    # re-collapsing the hot key onto one reducer, exactly what skew.py's
    # docstring warns about. A unique id spreads them uniformly.
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return (
        salted_join(o, c, "o_custkey", n_salts=8, entropy_cols=["o_orderkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(money("o_totalprice")).alias("sum_price"),
        )
    )


# ----------------------------------------------------------------------------
# sessionization: per-event session ids (gaps-and-islands)
# ----------------------------------------------------------------------------

_SESSIONIZE_ORACLE = f"""
SELECT event_id, user_id, ts, CAST(session_seq AS INTEGER) AS session_seq
FROM {sql_session_cte(30, cols="event_id, user_id, ts")}
"""


@query("window_sessionize_events", _SESSIONIZE_ORACLE)
def window_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level session assignment (the labeled-output sibling of the
    aggregated stream_session_windows): a gap >= 30 min opens a new session;
    the running sum of the new-session flag numbers sessions per user. Both
    windows share one (user_id) shuffle — per-user event counts are bounded,
    so no skew; the output feeds per-session feature generation downstream."""
    from crystal_parquet_database_spark.operators.sessionize import with_session_seq

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return with_session_seq(e, gap_minutes=30).withColumn(
        "session_seq", F.col("session_seq").cast("int")
    )


# ----------------------------------------------------------------------------
# mode per group (deterministic tie-break)
# ----------------------------------------------------------------------------

_MODE_ORACLE = """
SELECT user_id, event_type AS mode_event, n FROM (
  SELECT user_id, event_type, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


@query("agg_mode_per_group", _MODE_ORACLE)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent event type per user with a deterministic tie-break
    (count desc, then lexicographic) — F.mode() leaves ties engine-defined,
    so the portable form is count + row_number; the count partial-aggregates
    map-side and both windows ride the (user_id) shuffle."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    rn = F.row_number().over(
        # asc_nulls_last: a NULL event_type tying for the top would win in
        # Spark (NULLS FIRST) and lose in DuckDB (NULLS LAST)
        W.partitionBy("user_id").orderBy(F.desc("n"), F.asc_nulls_last("event_type"))
    )
    return (
        c.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "n")
    )


# No oracle: Apache DataSketches HLL internals are engine-specific (DuckDB
# has no compatible sketch); the estimate is validated against the exact
# distinct counts in tests, and its error bound is driver-CHECKED by the
# companion query agg_hll_error_bound below.
@query("agg_hll_sketch_distinct")
def agg_hll_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (DataSketches HLL): per-group
    sketches built with hll_sketch_agg, merged across groups with
    hll_union_agg — the 100 TB pattern where per-partition/per-day sketches
    are persisted once and re-aggregated endlessly without rescanning. The
    sketch column is bytes; only estimates are returned."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey", 14).alias("sk")
    )
    est = per_flag.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("approx_orders")
    )
    total = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_orders")
    ).select(F.lit("ALL").alias("l_returnflag"), "approx_orders")
    return est.unionByName(total)


_HLL_BOUND_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_5pct
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'ALL' AS l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_5pct
FROM lineitem
"""


@query("agg_hll_error_bound", _HLL_BOUND_ORACLE)
def agg_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKED companion to agg_hll_sketch_distinct: emits the exact distinct
    count per group plus a boolean asserting the HLL estimate (lgK=14,
    theoretical RSE ~0.8%) lands within 5% of it. The oracle recomputes the
    exact counts and pins the boolean TRUE — if the sketch ever drifted past
    the bound the row would flip false and hash-mismatch, upgrading the
    sketch family from a rows-only claim to a driver-checked one. (The
    estimates themselves stay out of the output: sketch internals are
    engine-specific.)

    One-scan shape: an HLL sketch of a multiset equals the sketch of its
    distinct set (duplicate inserts hit the same register), so lineitem is
    pre-distincted on (flag, orderkey) once — one scan, one shuffle with
    map-side partial distinct — and the per-flag exacts, the per-flag
    sketches, AND the global exact all derive from that small checkpointed
    frame instead of three separate lineitem scans."""
    li = load_table(spark, sf_dir, "lineitem")
    dp = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    per_flag = dp.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey", 14).alias("sk"),
        F.count("*").cast("bigint").alias("exact_orders"),
    )
    bound = lambda approx, exact: (  # noqa: E731
        # exact=0 (empty relation) ⇒ sketch can't be off: TRUE per the
        # oracle's literal; when() short-circuits so the ANSI division
        # never evaluates for the zero row (scripts/empty_sweep.py)
        F.when(exact == 0, F.coalesce(approx, F.lit(0.0)) == 0.0).otherwise(
            F.abs(approx - exact.cast("double")) / exact.cast("double") <= F.lit(0.05)
        )
    )
    per = per_flag.select(
        "l_returnflag",
        "exact_orders",
        bound(F.hll_sketch_estimate("sk").cast("double"), F.col("exact_orders")).alias(
            "within_5pct"
        ),
    )
    # The ALL row merges per-group sketches (hll_union_agg) but needs the true
    # global distinct for the bound — an order ships under several return
    # flags, so per-group exacts don't sum. Two 1-row aggregates crossJoined:
    # the scalar-subquery pattern, not a data-sized cartesian.
    total_exact = dp.agg(F.count_distinct("l_orderkey").cast("bigint").alias("exact_orders"))
    total = (
        per_flag.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("double").alias("__approx")
        )
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit("ALL").alias("l_returnflag"),
            "exact_orders",
            bound(F.col("__approx"), F.col("exact_orders")).alias("within_5pct"),
        )
    )
    return per.unionByName(total)


# ----------------------------------------------------------------------------
# KLL quantile sketch with a driver-checked rank bound
# ----------------------------------------------------------------------------

_KLL_BOUND_ORACLE = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS median_rank_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_kll_quantile_bound", _KLL_BOUND_ORACLE)
def agg_kll_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (DataSketches KLL), driver-checked: build
    per-(flag, month) sub-sketches, MERGE them up to per-flag — the 100 TB
    rollup where per-partition sketches are persisted once and re-merged
    endlessly — then assert the merged sketch's median really sits near the
    exact middle. KLL is a randomized sketch (estimates vary run to run), so
    the output carries only deterministic columns: the exact group count and
    a boolean that the sketch median's EXACT rank lands in [0.45, 0.55]
    (default k=200 ⇒ ~1.65% single-sided rank error at 99% confidence; the
    ±5% band is a ≳3σ margin). The rank of a data-dependent value needs a
    second pass by definition: the 3-row medians frame broadcasts back onto
    the scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("__p"),
        F.month("l_shipdate").alias("__m"),
    )
    sub = li.groupBy("l_returnflag", "__m").agg(
        F.kll_sketch_agg_double("__p").alias("sk"),
        F.count("*").alias("n"),
        F.count("__p").alias("nn"),  # non-NULL prices: the rank denominator
    )
    # kll_sketch_merge_double is a binary scalar: fold it over the collected
    # per-month sketches (≤ 12 per flag — a bounded list, not data-sized).
    # collect_list SKIPS NULL sketches (an all-NULL-price month), so the
    # list can be short or EMPTY: F.get (NULL out of bounds) seeds the fold,
    # where element_at would ANSI-abort on the empty list.
    per_flag = sub.groupBy("l_returnflag").agg(
        F.collect_list("sk").alias("__sks"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("nn").cast("bigint").alias("__nn"),
    )
    merged = F.aggregate(
        F.slice(F.col("__sks"), 2, F.greatest(F.size("__sks") - 1, F.lit(0))),
        F.get("__sks", 0),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    med = per_flag.select(
        "l_returnflag",
        "n_rows",
        "__nn",
        F.when(
            F.size("__sks") > 0,
            F.kll_sketch_get_quantile_double(merged, F.lit(0.5)),
        ).alias("__med"),
    )
    # NULL-safe re-join: a NULL-returnflag group exists in both frames, and
    # a plain equi-join would silently drop it while the oracle's GROUP BY
    # emits it (the same NULL-key-join trap as eqNullSafe elsewhere)
    jk = F.coalesce(F.col("l_returnflag"), F.lit("\x00nullflag"))
    ranked = (
        li.withColumn("__jk", jk)
        .join(F.broadcast(med.withColumn("__jk", jk).drop("l_returnflag")), "__jk")
        .groupBy("l_returnflag", "n_rows", "__nn")
        .agg(F.sum(F.when(F.col("__p") <= F.col("__med"), 1).otherwise(0)).alias("__le"))
    )
    # rank over the NON-NULL count: NULL prices are invisible to the sketch,
    # so counting them in the denominator deflates the rank (20% NULLs put
    # a perfect median at 0.40 — a spurious gate failure). A group with NO
    # non-NULL prices has no median to rank: vacuously TRUE, as the oracle
    # pins.
    frac = F.col("__le").cast("double") / F.col("__nn").cast("double")
    return ranked.select(
        "l_returnflag",
        "n_rows",
        F.when(F.col("__nn") == 0, F.lit(True))
        .otherwise((frac >= 0.45) & (frac <= 0.55))
        .alias("median_rank_within_5pct"),
    )


# ----------------------------------------------------------------------------
# Count-Min sketch heavy hitters — mergeable frequency estimation, exact-
# checked end to end (the frequency sibling of the HLL/KLL sketch queries)
# ----------------------------------------------------------------------------

_CMS_D = 4        # hash rows
_CMS_W = 1024     # buckets per row
_CMS_TOPN = 20    # heavy-hitter candidates = exact top-N terms

_CMS_BUCKET_SQL = [
    f"({sql_hash64(chr(39) + str(_i) + '#' + chr(39) + ' || term')} % {_CMS_W})"
    for _i in range(_CMS_D)
]
_CMS_BUCKET_CASE = " ".join(
    f"WHEN g.i = {_i} THEN {_b}" for _i, _b in enumerate(_CMS_BUCKET_SQL)
)

_CMS_ORACLE = rf"""
WITH tok AS (
  SELECT unnest(string_split_regex(TRIM(text, ' '), '\s+')) AS term FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY term),
top AS (
  SELECT term, exact_n FROM (
    SELECT term, exact_n,
           ROW_NUMBER() OVER (ORDER BY exact_n DESC, term) AS rk
    FROM exact
  ) WHERE rk <= {_CMS_TOPN}
),
sk AS (
  SELECT g.i AS row_i,
         CASE {_CMS_BUCKET_CASE} END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM tok, generate_series(0, {_CMS_D - 1}) g(i)
  GROUP BY 1, 2
),
est AS (
  SELECT t.term, t.exact_n, MIN(sk.c) AS cms_est
  FROM top t, generate_series(0, {_CMS_D - 1}) g(i)
  JOIN sk ON sk.row_i = g.i
         AND sk.bucket = (CASE {_CMS_BUCKET_CASE} END)
  GROUP BY t.term, t.exact_n
)
SELECT term, exact_n, cms_est,
       cms_est >= exact_n AS is_overestimate,
       (cms_est - exact_n) * {_CMS_W} <= 2 * n AS within_eps
FROM est CROSS JOIN tot
"""


@query("agg_cms_heavy_hitters", _CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, exact-checked: build a d×w CMS
    over the corpus token stream, then for the exact top-N heavy hitters
    emit (exact count, CMS estimate, the one-sided-overcount invariant, and
    the ε=2/w error bound as integer arithmetic). The sketch uses the
    portable md5 hash with the row index baked into the key, so the DuckDB
    oracle rebuilds the ENTIRE sketch bit-for-bit — the whole sketch family
    is hash-exact, not rows-only.

    100 TB shape: the sketch is d·w bounded cells — a groupBy over (row,
    bucket) with map-side partials that never grows with the corpus, and
    per-partition sketches merge by cell-wise addition (the production
    pattern: persist per-day sketches, fold them forever without rescans).
    Candidate probing touches d rows per candidate against the tiny sketch
    table."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    from crystal_parquet_database_spark.operators.text import ws_tokens

    tok = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .localCheckpoint(eager=True)  # feeds exact counts, sketch, and total
    )
    tot = tok.agg(F.count("*").cast("bigint").alias("n"))
    exact = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("exact_n"))
    # deterministic global top-N via orderBy+limit → TakeOrderedAndProject
    # (per-partition partial top-N, no single-partition window over the
    # vocabulary)
    top = exact.orderBy(F.desc("exact_n"), F.col("term")).limit(_CMS_TOPN)

    def bucket(i: int) -> F.Column:
        return spark_hash64(F.concat(F.lit(f"{i}#"), F.col("term"))) % _CMS_W

    entries = F.array(
        *[
            F.struct(F.lit(i).alias("row_i"), bucket(i).alias("bucket"))
            for i in range(_CMS_D)
        ]
    )
    sk = (
        tok.select(F.explode(entries).alias("e"))
        .groupBy(F.col("e.row_i").alias("row_i"), F.col("e.bucket").alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    probes = top.select("term", "exact_n", F.explode(entries).alias("e")).select(
        "term", "exact_n", F.col("e.row_i").alias("row_i"), F.col("e.bucket").alias("bucket")
    )
    est = (
        F.broadcast(probes)
        .join(sk, ["row_i", "bucket"])
        .groupBy("term", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.crossJoin(F.broadcast(tot)).select(
        "term",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("is_overestimate"),
        (
            (F.col("cms_est") - F.col("exact_n")) * F.lit(_CMS_W)
            <= F.lit(2) * F.col("n")
        ).alias("within_eps"),
    )
