"""Stream-stream join recipe — one logical plan for batch AND streaming.

Spark's stream-stream inner join keeps both sides' state until the watermark
plus the join's event-time bound passes, so the builder REQUIRES a time-range
condition: without it, state grows forever (the 100 TB/day concern). The same
builder over batch frames is the replay/backfill path — identical results by
construction, asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crystal_parquet_database_spark.streaming import with_watermark


def view_purchase_pairs(
    df: DataFrame,
    ts_col: str = "ts",
    watermark: str | None = "1 hour",
    horizon_sql: str = "INTERVAL 1 HOUR",
    how: str = "inner",
) -> DataFrame:
    """Purchase attribution as a stream-stream self-join: every (view,
    purchase) pair for the same user where the purchase happens within
    ``horizon_sql`` AFTER the view.

    Both derived sides carry their own watermark, and the join condition
    bounds purchase_ts relative to view_ts — together these let Spark expire
    view-side state ``horizon + watermark`` behind the stream and
    purchase-side state at the watermark, so state is bounded regardless of
    stream length. Batch semantics are the plain time-range join (the DuckDB
    oracle mirrors it exactly).
    """
    v = with_watermark(
        df.filter(F.col("event_type") == "view"), ts_col, watermark
    ).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col(ts_col).alias("view_ts"),
    )
    p = with_watermark(
        df.filter(F.col("event_type") == "purchase"), ts_col, watermark
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("__p_user"),
        F.col(ts_col).alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("__p_user"))
            & (F.col("purchase_ts") > F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(horizon_sql)),
            how,
        )
        # coalesce so outer rows from EITHER side keep their user key (for
        # inner/left the view side is always present and this is a no-op)
        .select(
            "view_id",
            "purchase_id",
            F.coalesce(F.col("user_id"), F.col("__p_user")).alias("user_id"),
            "view_ts",
            "purchase_ts",
        )
    )


def enrich_with_customer(
    events: DataFrame,
    customer: DataFrame,
    event_cols: tuple[str, ...] | None = ("event_id", "user_id", "event_type", "ts"),
) -> DataFrame:
    """Stream-static enrichment join: each event picks up the customer row
    whose key equals its user_id. The static side is batch (broadcast by
    Catalyst — it re-reads per micro-batch, so dimension updates are picked
    up); the stream side needs NO watermark because stream-static joins keep
    no state. Works identically when ``events`` is a batch frame — the
    backfill path.

    ``event_cols`` is the event-side projection (the default is the compact
    analytic shape the registered query pins). Pass ``None`` to keep EVERY
    event column — an enrichment that silently dropped the payload it was
    meant to enrich (``value``, ``props``) is the trap this parameter
    closes; only ``user_id`` is actually required."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name"),
        F.col("c_nationkey"),
    )
    ev = events if event_cols is None else events.select(*event_cols)
    # LEFT join: enrichment must never DROP events — an id outside the
    # dimension keeps its event row with null customer columns (an inner
    # join would silently shrink the stream)
    return ev.join(F.broadcast(dim), "user_id", "left")
