"""Windowed event aggregation — one logical plan for batch AND streaming.

Every builder takes any DataFrame (batch or ``readStream``) and returns the
transformed frame; when the input is streaming, an event-time watermark is
attached so state for late data is bounded (the 100 TB/day concern: without a
watermark, streaming window state grows forever). Batch runs of the same
builder are the replay/backfill path — identical results by construction,
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.exact import (
    dsum_of_double,
    missing_outside_domain,
)

from crystal_parquet_database_spark.streaming import with_watermark


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    width: str = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts + exact value sums per key.

    Missing-value contract (same as stateful.running_user_stats): NaN, ±inf
    AND huge-finite values outside the decimal(18,6) domain (|v| >= 1e12)
    become NULL before the decimal-routed sum — under ANSI mode the cast
    would otherwise abort the whole streaming query on the first bad
    upstream value (``scripts/extreme_sweep.py`` crashed this on a single
    1.7e308 row)."""
    df = with_watermark(df, ts_col, watermark)
    df = df.withColumn("value", missing_outside_domain("value"))
    return (
        df.groupBy(F.window(ts_col, width).alias("w"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            dsum_of_double("value", "decimal(18,6)").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding-window event counts (each event lands in width/slide windows)."""
    df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Session windows per key: a session ends after ``gap`` of inactivity.

    Spark's session_window end = last event + gap (the batch/SQL mirror is
    max(ts) + gap over gaps-and-islands groups).
    """
    df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def first_event_per_key(
    df: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id", "event_type"),
    id_col: str = "event_id",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming dedup: keep the first event per key.

    Streaming path uses ``dropDuplicatesWithinWatermark`` so the state store
    evicts keys once the watermark passes them — plain ``dropDuplicates`` on
    keys that exclude the event-time column would grow state forever. The
    trade-off is at-least-once dedup semantics: duplicates separated by more
    than the watermark delay can re-emit. Batch path takes the true first by
    (ts, id) — the replay/backfill form.
    """
    if df.isStreaming:
        dfw = with_watermark(df, ts_col, watermark)
        if watermark is not None:
            return dfw.dropDuplicatesWithinWatermark(list(keys))
        return dfw.dropDuplicates(list(keys))
    # asc_nulls_last: a NULL-ts event must not win "first" (Spark's plain
    # asc is NULLS FIRST; the oracle's DuckDB default is NULLS LAST)
    w = W.partitionBy(*keys).orderBy(F.col(ts_col).asc_nulls_last(), id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def windowed_distinct_keys(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    width: str = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Distinct-key counts per tumbling window via streaming-legal dedup.

    COUNT(DISTINCT ...) is not allowed in a streaming aggregation, so the
    canonical plan is dropDuplicates on (window, keys) — bounded state once a
    watermark is attached (Spark evicts window state past the watermark) —
    followed by a plain count. Chained stateful operators (dedup → agg) are
    supported for append output with event-time watermarks. The identical
    plan runs in batch for replay/backfill.
    """
    df = with_watermark(df, ts_col, watermark)
    deduped = df.select(
        F.window(ts_col, width).alias("w"), *key_cols
    ).dropDuplicates(["w", *key_cols])
    return (
        deduped.groupBy("w")
        .agg(F.count("*").alias("n_distinct_keys"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_distinct_keys",
        )
    )


def windowed_approx_distinct(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    width: str = "5 minutes",
    watermark: str | None = "10 minutes",
    lg_k: int = 14,
) -> DataFrame:
    """Approximate distinct keys per tumbling window via an HLL sketch —
    the BOUNDED-STATE answer when key cardinality is too large for
    ``windowed_distinct_keys``'s per-key dedup state: state is
    O(windows × 2^lg_k registers) regardless of how many distinct keys flow
    through. ``hll_sketch_agg`` is a deterministic function of the window's
    key multiset, so the batch replay of the same data produces the exact
    same estimates (asserted in tests/test_streaming.py).

    100 TB / infinite-stream shape: per-partition partial sketches merge
    associatively (the same property that makes the batch sketch mergeable
    across days), watermark evicts window state, and the output row is one
    bigint per window."""
    df = with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, width).alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg(key_col, lg_k)).alias("approx_keys")
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "approx_keys",
        )
    )
