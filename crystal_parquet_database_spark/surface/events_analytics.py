"""Event-analytics query surface: funnel conversion and retention cohorts —
the two canonical product-analytics shapes over an append-only event log
(reference scope: crystpqdb serves batch tables; these are the query forms a
warehouse layered on it runs — same declarative DataFrame surface).

Both queries shuffle exclusively on ``user_id`` (conditional aggregation /
sequential joins share the key, so AQE coalesces into one exchange family)
and end in a tiny global rollup — the shape that survives a 1000-executor
cluster: per-user state is bounded by that user's events, never by corpus
size, and there is no window wider than one user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from crystal_parquet_database_spark.functions.exact import (
    MISSING_OUTSIDE_DOMAIN_SQL,
    missing_outside_domain,
)
from crystal_parquet_database_spark.operators.sessionize import sql_session_cte
from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.tables import load_table

# ----------------------------------------------------------------------------
# funnel: view → signup → purchase, strictly ordered per user
# ----------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'signup' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.t2
    AND e.ts <= s.t2 + INTERVAL 168 HOUR
  GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT 1 AS stage_ord, 'view' AS stage, COUNT(*) AS n_users FROM v
  UNION ALL
  SELECT 2, 'signup_after_view', COUNT(*) FROM s
  UNION ALL
  SELECT 3, 'purchase_after_signup', COUNT(*) FROM p
) ORDER BY stage_ord
"""


@query("events_funnel_conversion", _FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order, time-bounded funnel: users who viewed, then signed up
    within 24 hours of their first view, then purchased within 7 days of
    that signup. Each stage is a conditional-min aggregation joined to the
    previous stage on user_id — three shuffles on the same key
    (co-partitioned, AQE-coalesced), then a three-row rollup. Event-time
    ordering is enforced with the actual timestamps, not event ids, so
    out-of-order ingestion can't fake a conversion."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 168 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = (
        v.agg(F.count("*").alias("n_users")).select(
            F.lit(1).alias("stage_ord"), F.lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            s.agg(F.count("*").alias("n_users")).select(
                F.lit(2).alias("stage_ord"),
                F.lit("signup_after_view").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).select(
                F.lit(3).alias("stage_ord"),
                F.lit("purchase_after_signup").alias("stage"),
                "n_users",
            )
        )
    )
    return stages.orderBy("stage_ord").select("stage", "n_users")


# ----------------------------------------------------------------------------
# sessionized funnel: strict-order funnel confined to one visit session
# ----------------------------------------------------------------------------

_SFUNNEL_GAP_MIN = 480  # visit-granularity sessions (see docstring)

_SFUNNEL_ORACLE = f"""
WITH sess AS {sql_session_cte(_SFUNNEL_GAP_MIN)},
v AS (SELECT user_id, session_seq, MIN(ts) AS tv FROM sess
      WHERE event_type = 'view' GROUP BY user_id, session_seq),
c AS (SELECT s.user_id, s.session_seq, MIN(s.ts) AS tc
      FROM sess s JOIN v ON s.user_id = v.user_id AND s.session_seq = v.session_seq
      WHERE s.event_type = 'click' AND s.ts > v.tv
      GROUP BY s.user_id, s.session_seq),
p AS (SELECT s.user_id, s.session_seq, MIN(s.ts) AS tp
      FROM sess s JOIN c ON s.user_id = c.user_id AND s.session_seq = c.session_seq
      WHERE s.event_type = 'purchase' AND s.ts > c.tc
      GROUP BY s.user_id, s.session_seq)
SELECT stage, n_sessions FROM (
  SELECT 1 AS stage_ord, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM v
  UNION ALL
  SELECT 2, 'click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
  UNION ALL
  SELECT 3, 'purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
) ORDER BY stage_ord
"""


@query("events_funnel_sessionized", _SFUNNEL_ORACLE)
def events_funnel_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized strict-order funnel: view → click → purchase must all
    happen inside ONE session, each stage strictly after the previous
    stage's first occurrence. Combines the gaps-and-islands sessionizer
    (same recipe as window_sessionize_events, microsecond-exact) with the
    staged conditional-min funnel, now keyed by (user_id, session_seq): the sessionizer windows and
    all three stage aggregations ride the same user_id-rooted shuffle
    family, and per-session state is bounded by one user's events — no
    corpus-wide window anywhere."""
    from crystal_parquet_database_spark.operators.sessionize import with_session_seq

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    # visit granularity: an 8h inactivity gap opens a session. The fixture's
    # per-user event density makes 30-min product sessions almost never hold
    # a full 3-stage funnel (last stage = 0 rows — no evidence); 8h exercises
    # identical machinery with every stage populated.
    sess = with_session_seq(e, gap_minutes=_SFUNNEL_GAP_MIN).select(
        "user_id", "session_seq", "event_type", "ts"
    )
    key = ["user_id", "session_seq"]
    v = (
        sess.filter(F.col("event_type") == "view")
        .groupBy(*key)
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        sess.filter(F.col("event_type") == "click")
        .join(v, key)
        .filter(F.col("ts") > F.col("tv"))
        .groupBy(*key)
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        sess.filter(F.col("event_type") == "purchase")
        .join(c, key)
        .filter(F.col("ts") > F.col("tc"))
        .groupBy(*key)
        .agg(F.min("ts").alias("tp"))
    )

    def stage(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_sessions")).select(
            F.lit(ord_).alias("stage_ord"), F.lit(name).alias("stage"), "n_sessions"
        )

    stages = (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click_after_view"))
        .unionByName(stage(p, 3, "purchase_after_click"))
    )
    return stages.orderBy("stage_ord").select("stage", "n_sessions")


# ----------------------------------------------------------------------------
# retention cohorts: weekly cohort × week offset active-user matrix
# ----------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER)
         AS week_offset,
       COUNT(*) AS n_users
FROM f JOIN a ON f.user_id = a.user_id
GROUP BY 1, 2
"""


@query("events_retention_cohorts", _RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users cohorted by the week of their first
    event; each (cohort_week, week_offset) cell counts users active that many
    weeks later. Both engines truncate weeks to Monday, and both sides'
    offsets divide an exact whole-week day difference, so the matrix is
    hash-exact. Scale: first-event and distinct-active are both user_id
    shuffles (bounded per-user state); the final cell aggregation is
    cohort-sized — tiny."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    f = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    a = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("active_week")).distinct()
    return (
        f.join(a, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


# ----------------------------------------------------------------------------
# multi-resolution time rollup (continuous-aggregate / hypertable pattern)
# ----------------------------------------------------------------------------

# value rides through the missing-value guard on BOTH sides (NaN/±inf/
# |v| >= 1e12 are outside the decimal(18,6) domain — see functions/exact.py)
_MULTIRES_ORACLE = f"""
WITH m AS (
  SELECT date_trunc('minute', ts) AS b,
         COUNT(*) AS n,
         SUM(CAST({MISSING_OUTSIDE_DOMAIN_SQL('value')} AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1
)
SELECT 'minute' AS level, b AS bucket_start,
       CAST(n AS BIGINT) AS n_events, CAST(s AS DOUBLE) AS sum_value
FROM m
UNION ALL
SELECT 'hour', date_trunc('hour', b),
       CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', b),
       CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY 2
"""


@query("events_multires_rollup", _MULTIRES_ORACLE)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute/hour/day rollup from ONE raw scan — the continuous-aggregate
    (hypertable) pattern: raw events aggregate once to minute-level mergeable
    partials (exact decimal sums + counts); each minute partial then fans out
    to its three (level, bucket) assignments and ONE re-aggregation merges
    them per level. At 100 TB the raw table is read once and everything past
    the first aggregation is minute-cardinality (tiny); incremental refresh
    is the same motion — merge new minute partials upward, never rescan raw
    history. Decimal sums keep every level bit-exact against the oracle
    (floats would drift under re-aggregation order).

    Plan shape (measured, see SCALE.md): two shuffles, no cache.
    The previous ladder (minute → hour → day as three cached frames under a
    3-way union) needed the minute partials materialized for its three
    consumers; both materialization forms measurably cost more than they
    save at this size — eager localCheckpoint ran an extra job at build
    (r6), and persist() paid columnar cache construction inside the first
    action (r7, the 0.84→1.24 s warm regression the isolated A/B
    confirmed). The fan-out form has ONE consumer of the minute partials,
    so nothing needs caching, and the explode happens at minute
    cardinality, not raw."""
    e = load_table(spark, sf_dir, "events").select("ts", "value")
    minute = e.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        F.count("*").alias("n"),
        # missing-value guard: one 1.7e308 sensor-garbage row must not
        # ANSI-abort the whole rollup (see functions/exact.py)
        F.sum(missing_outside_domain("value").cast("decimal(18,6)")).alias("__s"),
    )
    fanned = minute.select(
        F.explode(
            F.array(
                F.struct(F.lit("minute").alias("level"), F.col("m").alias("bucket_start")),
                F.struct(
                    F.lit("hour").alias("level"),
                    F.date_trunc("hour", F.col("m")).alias("bucket_start"),
                ),
                F.struct(
                    F.lit("day").alias("level"),
                    F.date_trunc("day", F.col("m")).alias("bucket_start"),
                ),
            )
        ).alias("lb"),
        "n",
        "__s",
    )
    return fanned.groupBy(F.col("lb.level").alias("level"), F.col("lb.bucket_start").alias("bucket_start")).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("__s").cast("double").alias("sum_value"),
    )


# ----------------------------------------------------------------------------
# data-quality profile (deequ-style single-pass column audit)
# ----------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_custkey) AS BIGINT) AS custkey_nonnull,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS status_distinct,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS orderdate_min,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS orderdate_max,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS totalprice_min,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS totalprice_max,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS totalprice_nonpositive
FROM orders
"""


@query("quality_profile_orders", _PROFILE_ORACLE)
def quality_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile of a table (the deequ/Great-
    Expectations shape): row count, per-column non-null and distinct counts,
    min/max ranges, and a constraint violation count — ONE aggregation over
    ONE scan, so profiling a 100 TB table costs exactly one pass. Distinct
    counts use Spark's exact two-phase expand plan; swap in
    approx_count_distinct at scale for fixed memory."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("o_custkey").cast("bigint").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").cast("bigint").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("status_distinct"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("orderdate_min"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("orderdate_max"),
        F.min(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("totalprice_min"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("totalprice_max"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).cast("bigint").alias("totalprice_nonpositive"),
    )


# ----------------------------------------------------------------------------
# trending: top event types per hour bucket (windowed group top-k)
# ----------------------------------------------------------------------------

_TRENDING_K = 3

_TRENDING_ORACLE = f"""
-- rank via correlated count, NOT ROW_NUMBER: DuckDB 1.0's parallel window
-- executor is NONDETERMINISTIC when the partition/order input carries NULL
-- rows (observed on a NULL-injected corpus: the NULL-ts bucket
-- intermittently split into singleton partitions and tie ranks flipped
-- between runs; threads=1 was stable, but the harness's connection
-- settings are not ours to control). The (n_events DESC, event_type ASC
-- NULLS LAST) key is unique per bucket, so count-of-predecessors + 1 IS
-- row_number, computed by plain aggregation that cannot flake.
WITH cells AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT * FROM (
  SELECT a.bucket, a.event_type, a.n_events,
         CAST(1 + (SELECT COUNT(*) FROM cells b
                   WHERE b.bucket IS NOT DISTINCT FROM a.bucket
                     AND (b.n_events > a.n_events
                          OR (b.n_events = a.n_events
                              AND b.event_type IS NOT NULL
                              AND (a.event_type IS NULL
                                   OR b.event_type < a.event_type))))
              AS INTEGER) AS rank
  FROM cells a
) WHERE rank <= {_TRENDING_K}
"""


@query("events_trending_types_hourly", _TRENDING_ORACLE)
def events_trending_types_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard: top event types per hour bucket — aggregate
    first (map-side partials shrink the corpus to bucket×type cells), then a
    per-bucket top-k window over the TINY aggregate, never the raw events.
    Deterministic (count desc, type) tie-break keeps both engines identical."""
    e = load_table(spark, sf_dir, "events").select("ts", "event_type")
    cells = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), F.col("event_type")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    # asc_nulls_last on the tie-break: Spark NULLS FIRST vs DuckDB NULLS
    # LAST would flip the kept top-k rows when a NULL type ties at rank K
    w = W.partitionBy("bucket").orderBy(F.desc("n_events"), F.asc_nulls_last("event_type"))
    return (
        cells.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TRENDING_K)
    )


# ----------------------------------------------------------------------------
# engagement: DAU / rolling 7-day WAU per day
# ----------------------------------------------------------------------------

_DAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
contrib AS (
  SELECT user_id, d + CAST(g.i AS INTEGER) AS wd, d, g.i
  FROM ud, generate_series(0, 6) g(i)
),
wau AS (
  SELECT wd, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY wd
),
dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau
FROM dau JOIN wau ON wau.wd = dau.d
"""


@query("events_dau_wau", _DAU_ORACLE)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + rolling 7-day weekly actives per day. A
    COUNT(DISTINCT) over a sliding date range can't partial-aggregate, so
    the scalable form is contribution-explode: each distinct (user, day)
    emits the 7 window-days it contributes to (bounded 7× expansion of the
    already-aggregated pair set, not raw events), then a plain distinct
    count per window-day — every stage partial-aggregates map-side. Days
    with zero activity in the trailing week simply have no row (dau drives
    the output domain)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    dau = e.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    contrib = e.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d"
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("wd"))
    wau = contrib.groupBy("wd").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, dau.d == wau.wd)
        .select(
            F.date_format(F.col("d"), "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
        )
    )


# ----------------------------------------------------------------------------
# histogram: fixed-width value distribution
# ----------------------------------------------------------------------------

_HIST_WIDTH = 50
# bucket ids live in INT32; a value whose bucket would overflow it (or NaN,
# or ±inf) lands in ONE shared NULL "unbucketable" bin instead of
# ANSI-aborting the job — the monitoring semantic a garbage-bearing feed
# needs (scripts/extreme_sweep.py crashed this on a 1.7e308 row:
# floor() saturated to LONG MAX and the int cast overflowed)
_HIST_BUCKETABLE = float(_HIST_WIDTH) * 2.0**31

_HIST_ORACLE = f"""
WITH b AS (
  SELECT CAST(FLOOR(
           CAST({MISSING_OUTSIDE_DOMAIN_SQL('value', repr(_HIST_BUCKETABLE))} AS DOUBLE)
           / {_HIST_WIDTH}) AS INTEGER) AS bucket
  FROM events
)
SELECT bucket,
       -- derive bucket_low from the INTEGER bucket, not the double floor:
       -- FLOOR(-0.0/{_HIST_WIDTH}) is the double -0.0 in DuckDB and
       -- (-0.0)*{_HIST_WIDTH} stays -0.0, while the integer path emits 0.0
       -- on both engines. Multiply as BIGINT: bucket*width overflows INT32
       -- for legitimately bucketable values (bucket 6e7 * 50 = 3e9)
       CAST(CAST(bucket AS BIGINT) * {_HIST_WIDTH} AS DOUBLE) AS bucket_low,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b
GROUP BY 1, 2
"""


@query("agg_value_histogram", _HIST_ORACLE)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values — the one-pass, map-side-partial
    distribution sketch every monitoring dashboard needs (bucket id is a
    row-local expression, so the only shuffle carries bucket×count cells).
    NaN/±inf/|v| beyond the int32 bucket range group under one NULL
    "unbucketable" bin (see _HIST_BUCKETABLE above)."""
    e = load_table(spark, sf_dir, "events").select("value")
    # the shared missing-class guard with the histogram's own bound — NOT a
    # hand-rolled copy, so a future fix to the predicate reaches this query
    v = missing_outside_domain(F.col("value").cast("double"), _HIST_BUCKETABLE)
    bucket = F.floor(v / _HIST_WIDTH).cast("int")
    return (
        e.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "bucket",
            # multiply as LONG: int32 bucket * width ANSI-overflows for
            # legitimately bucketable values (bucket 6e7 * 50 = 3e9)
            (F.col("bucket").cast("long") * _HIST_WIDTH).cast("double").alias("bucket_low"),
            "n",
        )
    )


# ----------------------------------------------------------------------------
# path analysis: per-user event-sequence regex (MATCH_RECOGNIZE-lite)
# ----------------------------------------------------------------------------

_PATH_ORACLE = """
WITH p AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         COALESCE(STRING_AGG(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                  FILTER (WHERE event_type IS NOT NULL AND ts IS NOT NULL),
                  '') AS path
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, path,
       regexp_matches(path, 'v.*p') AS view_then_purchase,
       regexp_matches(path, 's.*p') AS signup_then_purchase
FROM p
"""


@query("events_path_regex_match", _PATH_ORACLE)
def events_path_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/path analysis (the MATCH_RECOGNIZE shape): each user's
    time-ordered event-type initials become one path string, and behavioral
    patterns are regexes over it — 'ever purchased after viewing'
    (``v.*p``), 'ever purchased after signup' (``s.*p``). Arbitrary ordered
    patterns (loops, negations, k-fold repeats) are the same one-liner,
    which is why path strings beat hand-built sequential joins once the
    pattern grows past two steps.

    One shuffle on user_id; the per-user path is bounded by that user's
    event count (order by (ts, event_id) makes the string deterministic).
    For unbounded histories at 100 TB, bound the path per (user, month) —
    same plan with a composite key.

    NULL hygiene (engine-identical by construction): rows with NULL
    event_type or NULL ts contribute to n_events but NOT to the path —
    collect_list drops the NULL struct Spark-side, the FILTER clause drops
    the same rows oracle-side. Without this, an all-NULL-event_type user
    diverged ('' vs STRING_AGG's NULL → rlike false vs regexp NULL), and a
    NULL ts sorted FIRST in Spark's struct ordering but LAST under DuckDB's
    default ORDER BY — both sides now order only non-NULL (ts, event_id),
    and a user with no qualifying events gets path '' on both."""
    ev = load_table(spark, sf_dir, "events")
    c = F.substring("event_type", 1, 1)
    entry = F.when(
        F.col("ts").isNotNull() & c.isNotNull(),
        F.struct("ts", "event_id", c.alias("c")),
    )
    paths = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(entry)), lambda x: x["c"]),
            "",
        ).alias("path"),
    )
    return paths.select(
        "user_id",
        "n_events",
        "path",
        F.col("path").rlike("v.*p").alias("view_then_purchase"),
        F.col("path").rlike("s.*p").alias("signup_then_purchase"),
    )


# ----------------------------------------------------------------------------
# anomaly detection: hourly volume z-score per event type (integer-exact)
# ----------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS DECIMAL(19,0)) AS k,
         CAST(SUM(n) AS DECIMAL(19,0)) AS s,
         SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS q
  FROM h GROUP BY event_type
),
e AS (
  SELECT h.event_type, h.hour_ts, h.n,
         CAST(h.n AS DECIMAL(19,0)) * s.k - s.s AS dev,
         s.q * s.k - s.s * s.s AS var_num
  FROM h JOIN s USING (event_type)
)
SELECT event_type, hour_ts, n,
       CASE WHEN var_num > 0
            THEN CAST(dev AS DOUBLE) / SQRT(CAST(var_num AS DOUBLE))
            END AS z,
       dev * dev > 4 * var_num AS is_anomaly
FROM e
"""


@query("events_anomaly_hourly_zscore", _ANOMALY_ORACLE)
def events_anomaly_hourly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count sits more than 2σ
    from that event type's hourly mean. The z-score test is done entirely in
    INTEGER arithmetic — |n−μ|>2σ ⟺ (nk−S)² > 4(Qk−S²) with S=Σn, Q=Σn²
    over k hours — so the anomaly boolean is exact and order-independent
    (the reported z itself divides in double with the identical expression
    shape on both sides).

    Shape: one scan → (type, hour) count (map-side partials), a per-type
    stats rollup over the tiny hourly frame, broadcast back. Per-type state
    is 3 integers — at 100 TB the hourly frame is days×24×types rows
    regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count("*").cast("bigint").alias("n"))
    # The products run in DECIMAL, not BIGINT: s*s overflows int64 once an
    # event type totals ~3e9 events — i.e. exactly at the 100 TB scale this
    # query targets, where ANSI mode aborts the whole report. DECIMAL(19,0)
    # operands give DECIMAL(38,0) products on BOTH engines (Spark caps
    # 19+19+1→38, DuckDB caps 19+19→38, verified), exact to 1e38: s ≤ int64
    # max ⇒ s² ≤ 8.5e37 always fits; q·k and dev² fit for every realistic
    # regime (1e12 events/type over 1e5 hours ⇒ dev² ~ 1e34).
    d19 = "decimal(19,0)"
    s = h.groupBy("event_type").agg(
        F.count("*").cast(d19).alias("k"),
        F.sum("n").cast(d19).alias("s"),
        F.sum(F.col("n").cast(d19) * F.col("n").cast(d19)).alias("q"),
    )
    dev = F.col("n").cast(d19) * F.col("k") - F.col("s")
    var_num = F.col("q") * F.col("k") - F.col("s") * F.col("s")
    return h.join(F.broadcast(s), "event_type").select(
        "event_type",
        "hour_ts",
        "n",
        # zero variance (constant hourly counts, or a single observed hour)
        # → z undefined → NULL, NOT a division: under the session's default
        # ANSI mode x/0.0 is a hard SparkArithmeticException that would
        # abort the whole report over one degenerate event type
        F.when(
            var_num > 0, dev.cast("double") / F.sqrt(var_num.cast("double"))
        ).alias("z"),
        (dev * dev > 4 * var_num).alias("is_anomaly"),
    )


# ----------------------------------------------------------------------------
# session Markov transition matrix (behavior model over event sequences)
# ----------------------------------------------------------------------------

_TRANS_GAP_MIN = 30

_TRANS_ORACLE = f"""
WITH sess AS {sql_session_cte(_TRANS_GAP_MIN, cols="user_id, event_type, ts, event_id")},
pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts, event_id) AS to_type
  FROM sess
),
m AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM m GROUP BY from_type)
SELECT m.from_type, m.to_type, m.n,
       CAST(m.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM m JOIN tot t ON m.from_type = t.from_type
"""


@query("events_session_transitions", _TRANS_ORACLE)
def events_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over event sequences WITHIN sessions: for
    every consecutive in-session pair, count (from_type → to_type) and emit
    the conditional transition probability — the behavior model behind
    next-action prediction and anomalous-flow detection, and the event-log
    sibling of the text bigram LM. Counts are exact int64; the probability
    is one final division (oracle bit-exact). Row totals derive from the
    transition MATRIX (type²-bounded), not a second pass over events.

    Scale shape: the sessionizer window, the LEAD, and the pair counting all
    ride one user_id-rooted shuffle family with map-side partials; no window
    wider than one user, output bounded at |event_type|² rows."""
    from crystal_parquet_database_spark.operators.sessionize import with_session_seq

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    sess = with_session_seq(e, gap_minutes=_TRANS_GAP_MIN)
    w2 = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    pairs = (
        sess.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w2).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    m = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = m.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return m.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
    )
