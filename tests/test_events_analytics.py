"""Event-analytics (funnel, retention) and LLM-op tests: oracle
equivalence lives in tests/test_oracle.py's registry sweep; these check the
semantics and the scale-shape properties directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators import similarity as S
from crystal_parquet_database_spark.operators import text as T
from crystal_parquet_database_spark.surface import QUERIES
from crystal_parquet_database_spark.tables import load_table


def test_funnel_stages_monotone(spark, sf_dir):
    rows = {r["stage"]: r["n_users"] for r in QUERIES["events_funnel_conversion"](spark, sf_dir).collect()}
    assert set(rows) == {"view", "signup_after_view", "purchase_after_signup"}
    # a funnel can only narrow
    assert rows["view"] >= rows["signup_after_view"] >= rows["purchase_after_signup"]
    # fixture has dense per-user activity: stages must not be degenerate
    assert rows["view"] > 0 and rows["signup_after_view"] > 0


def test_retention_cohort_zero_offset_covers_everyone(spark, sf_dir):
    """Every user is active in their own cohort week, so summing the
    offset-0 cells equals the number of distinct users."""
    df = QUERIES["events_retention_cohorts"](spark, sf_dir)
    rows = df.collect()
    assert all(r["week_offset"] >= 0 for r in rows)
    at0 = sum(r["n_users"] for r in rows if r["week_offset"] == 0)
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert at0 == n_users


def test_token_budget_respected_per_group(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = T.token_budget_per_group(docs, "text", "doc_id", "source", budget=1000)
    pdf = out.toPandas()
    # every kept doc started under budget, and each group's pre-doc running
    # totals are consistent: cum_before values must be distinct and the
    # smallest must be 0 for every non-empty group
    assert (pdf["cum_before"] < 1000).all()
    for _, g in pdf.groupby("source"):
        assert g["cum_before"].min() == 0
        assert g["cum_before"].is_unique


def test_sorted_packing_homogenizes_bin_lengths(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plain = T.pack_sequences(docs, "text", "doc_id", capacity=512)
    srt = T.pack_sequences_sorted(docs, "text", "doc_id", capacity=512)

    def mean_bin_spread(df):
        per_bin = df.groupBy("bin_id").agg(
            (F.max("n_tokens") - F.min("n_tokens")).alias("spread"),
            F.count("*").alias("n"),
        )
        row = per_bin.filter(F.col("n") > 1).agg(F.avg("spread")).first()
        return row[0]

    # sorting's payoff: bins hold near-identical-length documents
    assert mean_bin_spread(srt) < mean_bin_spread(plain)
    # token totals are invariant under reordering
    assert (
        plain.agg(F.sum("n_tokens")).first()[0]
        == srt.agg(F.sum("n_tokens")).first()[0]
    )


def test_centroid_outliers_shape_and_rank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.label_centroid_outliers(emb, "vec_id", "embedding", "label", top_k=3)
    pdf = out.toPandas()
    n_labels = emb.select("label").distinct().count()
    assert len(pdf) == 3 * n_labels
    for _, g in pdf.groupby("label"):
        assert sorted(g["rank"]) == [1, 2, 3]
        # rank 1 is the farthest
        assert g.sort_values("rank")["dist2"].is_monotonic_decreasing
    assert (pdf["dist2"] >= 0).all()


def test_centroid_outliers_invariant_to_partitioning(spark, sf_dir):
    """Fixed-point quantization makes the score independent of aggregation
    order — repartitioning must not move a single bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = S.label_centroid_outliers(emb, "vec_id", "embedding", "label").toPandas()
    b = S.label_centroid_outliers(emb.repartition(13), "vec_id", "embedding", "label").toPandas()
    ka = sorted(map(tuple, a[["vec_id", "label", "dist2", "rank"]].values.tolist()))
    kb = sorted(map(tuple, b[["vec_id", "label", "dist2", "rank"]].values.tolist()))
    assert ka == kb


def test_token_budget_invariant_to_partitioning(spark, sf_dir):
    """The grouped two-phase prefix sum must give identical results no matter
    how the input arrives partitioned (the determinism retries/AQE need)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    a = T.token_budget_per_group(docs, "text", "doc_id", "source", budget=1000).toPandas()
    b = T.token_budget_per_group(
        docs.repartition(17), "text", "doc_id", "source", budget=1000
    ).toPandas()
    key = ["doc_id", "source", "n_tokens", "cum_before"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_chunk_windows_is_map_only(spark, sf_dir):
    """The RAG chunker must be a pure map stage (explode + project): any
    shuffle would mean it can't stream through a 100 TB corpus."""
    from crystal_parquet_database_spark.plans.inspect import num_shuffles

    assert num_shuffles(QUERIES["text_chunk_windows"](spark, sf_dir)) == 0


def test_enrich_static_join_broadcasts_no_shuffle(spark, sf_dir):
    """Stream-static enrichment must broadcast the dimension: zero exchanges
    on the event side (stateless map-side join at any scale)."""
    from crystal_parquet_database_spark.plans.inspect import (
        join_strategies,
        num_shuffles,
    )

    df = QUERIES["stream_enrich_static_join"](spark, sf_dir)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert num_shuffles(df) == 0


def test_incremental_dedup_broadcasts_history_index(spark, sf_dir):
    """The historical digest index joins broadcast — the new batch must never
    shuffle against corpus history."""
    from crystal_parquet_database_spark.plans.inspect import join_strategies

    df = QUERIES["dedup_incremental_new_vs_index"](spark, sf_dir)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_sessionized_funnel_populated_and_monotone(spark, sf_dir):
    """Every stage must be populated at fixture scale (the gap constant is
    chosen so the last stage isn't vacuously zero) and counts must shrink
    monotonically — a session can't convert a later stage without the
    earlier one."""
    rows = QUERIES["events_funnel_sessionized"](spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [
        "view", "click_after_view", "purchase_after_click"
    ]
    counts = [r["n_sessions"] for r in rows]
    assert counts[0] >= counts[1] >= counts[2]
    assert counts[2] > 0


def test_sessionized_funnel_single_exchange_family(spark, sf_dir):
    """Sessionizer windows + all three stage aggregations must shuffle on the
    user_id-rooted key only — no corpus-wide exchange."""
    from crystal_parquet_database_spark.plans.inspect import num_shuffles

    df = QUERIES["events_funnel_sessionized"](spark, sf_dir)
    # Static-plan exchange census: the user_id window exchange appears once
    # per stage reuse of `sess` (identical subtree — runtime AQE dedupes to a
    # ReusedExchange), plus (user_id, session_seq) stage aggregations and the
    # three 1-row rollup collects. All key-rooted at user_id or single-row —
    # nothing corpus-wide. Bound guards against a structural regression
    # (e.g. an accidental global window would add an un-keyed exchange).
    assert num_shuffles(df) <= 9


def test_path_regex_match_path_semantics(spark, sf_dir):
    """Each user's path has exactly one char per event, and the regex flags
    agree with a Python recheck of the path string."""
    import re

    rows = QUERIES["events_path_regex_match"](spark, sf_dir).collect()
    ev_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["user_id"] for r in rows} == set(ev_counts)
    for r in rows:
        assert len(r["path"]) == ev_counts[r["user_id"]] == r["n_events"]
        assert set(r["path"]) <= set("vcpse")  # view/click/purchase/signup/error
        assert r["view_then_purchase"] == bool(re.search("v.*p", r["path"]))
        assert r["signup_then_purchase"] == bool(re.search("s.*p", r["path"]))


def test_anomaly_zscore_integer_rule_matches_float_rule(spark, sf_dir):
    """The integer 2σ test must agree with the float z-score it mirrors, and
    anomalies must exist both ways or neither (fixture has uniform-ish
    traffic, so most hours are normal)."""
    rows = QUERIES["events_anomaly_hourly_zscore"](spark, sf_dir).collect()
    assert rows
    n_anom = 0
    for r in rows:
        assert r["is_anomaly"] == (abs(r["z"]) > 2.0) or abs(abs(r["z"]) - 2.0) < 1e-9
        n_anom += bool(r["is_anomaly"])
    # the 2σ tail of ~3k hourly buckets is non-empty but small
    assert 0 < n_anom < len(rows) * 0.2


def test_session_transitions_matrix_properties(spark, sf_dir):
    """Transition matrix invariants: probabilities per from_type sum to 1
    (exact ratios over a common denominator), all counts positive, matrix
    bounded by |event_type|^2."""
    from crystal_parquet_database_spark.surface import QUERIES

    rows = QUERIES["events_session_transitions"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    from collections import defaultdict
    sums = defaultdict(float)
    for r in rows:
        assert r["n"] > 0 and 0 < r["p"] <= 1
        sums[r["from_type"]] += r["p"]
    for s in sums.values():
        assert abs(s - 1.0) < 1e-9


def test_anomaly_zscore_zero_variance_is_null_not_error(spark, tmp_path):
    """Regression: an event type with constant hourly counts (variance 0)
    must yield NULL z — under ANSI mode the unguarded division was a hard
    SparkArithmeticException that killed the whole report."""
    import datetime as dt

    from crystal_parquet_database_spark.surface import QUERIES

    rows = []
    eid = 0
    for h in range(3):  # 'steady' fires exactly twice every hour → var 0
        for i in range(2):
            rows.append((eid, dt.datetime(2024, 1, 1, h, i), 1, "steady", 1.0))
            eid += 1
    for h in range(9):  # 9 quiet hours, then a 20-event spike hour
        rows.append((eid, dt.datetime(2024, 1, 1, h, 30), 2, "spiky", 1.0)); eid += 1
    for i in range(20):
        rows.append((eid, dt.datetime(2024, 1, 1, 9, i), 2, "spiky", 1.0)); eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    d = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(d + "/events.parquet")
    out = QUERIES["events_anomaly_hourly_zscore"](spark, d).collect()
    steady = [r for r in out if r["event_type"] == "steady"]
    spiky = [r for r in out if r["event_type"] == "spiky"]
    assert steady and all(r["z"] is None and not r["is_anomaly"] for r in steady)
    assert any(r["z"] is not None for r in spiky)
    assert any(r["is_anomaly"] for r in spiky)
