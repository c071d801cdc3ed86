"""Scale-property assertions on physical plans: pushdown, pruning, broadcast.
These are the checks that keep the engine honest at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crystal_parquet_database_spark.plans.inspect import (
    join_strategies,
    num_shuffles,
    pushed_filters,
    scan_read_schemas,
)
from crystal_parquet_database_spark.surface import QUERIES
from crystal_parquet_database_spark.tables import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select("l_orderkey")
    )
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_read_schemas(df)
    assert schemas and all(
        "l_orderkey" in s and "l_quantity" in s and "l_extendedprice" not in s
        for s in schemas
    )


def test_q3_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies


def test_q5_single_fact_shuffle(spark, sf_dir):
    """All dimension joins broadcast: no SortMergeJoin anywhere in Q5."""
    df = QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in strategies


def test_q1_shuffle_budget(spark, sf_dir):
    """Scan → partial agg → single exchange → final agg (+ sort exchange)."""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    assert num_shuffles(df) <= 2


def test_global_topk_avoids_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a global sort."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    df = QUERIES["sort_multikey_limit"](spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The window-based as-of join shuffles once (on the partition key)."""
    df = QUERIES["join_asof_purchase_attribution"](spark, sf_dir)
    assert num_shuffles(df) == 1


def test_similarity_broadcasts_queries(spark, sf_dir):
    """Brute-force top-k must broadcast the query side, never shuffle the corpus."""
    df = QUERIES["sim_cosine_topk_bruteforce"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies or "BroadcastNestedLoopJoin" in strategies
    assert "SortMergeJoin" not in strategies


def test_q8_dimensions_broadcast(spark, sf_dir):
    """Q8's 7-way join: the six hint-forced dimensions must broadcast at any
    scale. The lineitem⨝orders fact-fact join is deliberately declarative —
    broadcast at fixture scale, shuffle join at real scale — so only the
    hinted joins are asserted (no shuffle-count bound: it would encode the
    fixture-size auto-broadcast of orders, not a plan property)."""
    df = QUERIES["q8_national_market_share"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 6


def test_q20_broadcast_semi_no_expand(spark, sf_dir):
    """Q20: the post-HAVING pair list broadcasts into the semi join, and the
    conditional-sum HAVING avoids Expand — one fact shuffle total."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    df = QUERIES["q20_potential_promotion"](spark, sf_dir)
    assert "SortMergeJoin" not in join_strategies(df)
    assert num_shuffles(df) <= 2
    assert "Expand" not in formatted_plan(df)


def test_q21_two_level_distinct_no_expand(spark, sf_dir):
    """Q21: distinct supplier counts via two-level aggregation — the plan
    must NOT contain the Expand node countDistinct x2 would introduce."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    df = QUERIES["q21_suppliers_kept_waiting"](spark, sf_dir)
    assert "Expand" not in formatted_plan(df)


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set must broadcast; no cartesian anywhere."""
    df = QUERIES["text_decontaminate_overlap"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_mixture_and_split_are_pure_map_stages(spark, sf_dir):
    """Hash-based sampling/splitting must not shuffle at any scale."""
    assert num_shuffles(QUERIES["sample_language_mixture"](spark, sf_dir)) == 0
    assert num_shuffles(QUERIES["sample_train_val_test_split"](spark, sf_dir)) == 0


@pytest.mark.parametrize(
    "query, max_single",
    [
        ("text_pack_sequences", 1),
        ("text_pack_sequences_sorted", 1),
        ("sample_token_budget_mixture", 1),
        ("llm_corpus_pipeline", 0),
        ("sample_global_shuffle", 1),
        ("eval_classifier_auc", 4),
        ("eval_classifier_calibration", 1),
    ],
)
def test_prefix_sum_queries_no_single_partition_corpus_window(
    spark, sf_dir, query, max_single
):
    """Running sums and ranks must come from the two-phase prefix sum
    (operators/prefix.py), never a bare global Window.orderBy that sends the
    whole corpus through one partition. Allowed SinglePartition exchanges:
    the one-row-per-partition base table and, for the AUC, the one-row
    aggregates joined at the end — each reads an aggregate, never rows."""
    import re

    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES[query](spark, sf_dir))
    # explain("formatted") names an exchange's partitioning in the node's
    # detail block, and the operator it reads on the next line of the tree
    single = re.findall(r"^\((\d+)\) Exchange\n.*\nArguments: SinglePartition", plan, re.M)
    assert len(single) <= max_single
    tree = plan.splitlines()
    for node in single:
        at = next(i for i, line in enumerate(tree) if line.endswith(f"- Exchange ({node})"))
        assert re.search(r"- HashAggregate \(\d+\)$", tree[at + 1]), tree[at + 1]
    if query == "eval_classifier_auc":
        # the top-k must be TakeOrderedAndProject, not a global Sort
        assert "TakeOrderedAndProject" in plan


def test_capture_plans_normalizes_rdd_call_sites():
    """A checkpoint RDD's creation-site label depends on the thread that
    made it, not on the plan: the three labels seen for the same
    localCheckpoint normalize to one text, and the op name survives."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "capture_plans",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "capture_plans.py"),
    )
    capture_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(capture_plans)

    line = "Arguments: [id#7L], MapPartitionsRDD[{}] at {}, ExistingRDD, UnknownPartitioning(0)"
    sites = [
        "localCheckpoint at NativeMethodAccessorImpl.java:0",
        "localCheckpoint at <unknown>:0",
        "wrapped at /usr/lib/python3.11/concurrent/futures/thread.py:58",
    ]
    got = {capture_plans.normalize(line.format(i, s)) for i, s in enumerate(sites)}
    assert len(got) == 1 and "at localCheckpoint at" in got.pop()
    other = capture_plans.normalize(
        line.format(3, "applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0")
    )
    assert "at applySchemaToPythonRDD at" in other


def test_upsample_is_pure_map_stage(spark, sf_dir):
    """Epoch replication is explode over a row-local multiplier: no shuffle."""
    assert num_shuffles(QUERIES["sample_upsample_by_weight"](spark, sf_dir)) == 0


def test_chunk_dedup_no_cartesian(spark, sf_dir):
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["text_chunk_dedup_ratio"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_decontaminate_embeddings_broadcasts_eval_side(spark, sf_dir):
    """The train side must stream (map-only score stage); only the bounded
    eval set is broadcast."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["sim_decontaminate_embeddings"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_join_is_broadcast(spark, sf_dir):
    from crystal_parquet_database_spark.plans.inspect import join_strategies

    df = QUERIES["sim_ivf_topk"](spark, sf_dir)
    strats = join_strategies(df)
    assert any("Broadcast" in s for s in strats)


def test_containment_stop_filter_is_broadcast_anti(spark, sf_dir, monkeypatch):
    """The stop-shingle filter must be a broadcast LEFT ANTI join (map-side),
    and the whole plan must contain no cartesian product. The operator
    checkpoints mid-plan (hiding earlier stages from the final plan), so the
    checkpoint is stubbed to identity for the inspection."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    monkeypatch.setattr(ClassicDF, "localCheckpoint", lambda self, eager=True: self)
    plan = formatted_plan(QUERIES["dedup_containment_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_semdedup_seeds_broadcast_no_cartesian(spark, sf_dir, monkeypatch):
    """SemDeDup's centroid assignment must broadcast the seed set (the only
    nested-loop join allowed) — no data-sized cartesian anywhere. Checkpoint
    stubbed to identity so the assignment stage is visible in the plan."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    monkeypatch.setattr(ClassicDF, "localCheckpoint", lambda self, eager=True: self)
    plan = formatted_plan(QUERIES["dedup_semantic_semdedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_map_only(spark, sf_dir):
    """Model-scored filtering with a linear model must not shuffle at all
    beyond the deliberate round-robin spread."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["text_quality_classifier"](spark, sf_dir))
    assert "hashpartitioning" not in plan.lower()


def test_bm25_broadcasts_stats_and_queries(spark, sf_dir):
    """BM25: the scalar stats, df-per-term, and query-term frames are all
    broadcast — the only real shuffles key on the token/doc aggregations; no
    SortMergeJoin against the tiny sides."""
    df = QUERIES["text_bm25_topk"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in strategies or "CartesianProduct" not in strategies


def test_minhash_incremental_broadcasts_new_batch(spark, sf_dir):
    """Incremental near-dup: the new batch's band keys broadcast against the
    corpus index — NO old×old self-join shape (the whole point)."""
    df = QUERIES["dedup_minhash_incremental"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_bigram_fluency_no_cartesian_and_map_side_model(spark, sf_dir):
    """Bigram LM: model and context joins are equi-joins on the gram key —
    no cartesian anywhere; the final per-doc reduce is a plain groupBy."""
    df = QUERIES["text_bigram_fluency"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_cms_sketch_bounded_and_distributed_topn(spark, sf_dir):
    """CMS heavy hitters: global top-N plans as TakeOrderedAndProject (no
    single-partition vocabulary window); probe side broadcasts; no
    cartesian."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    df = QUERIES["agg_cms_heavy_hitters"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in join_strategies(df)


def test_pqdb_crud_readback_pushdown(spark, tmp_path):
    """The CRUD cycle's final read must push BOTH the residual filter and the
    3-column projection into the parquet scan — at 100 TB the read-back is
    the hot path, not the (bounded) mutation bookkeeping."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "crud_plan"))
    db.create(
        spark.createDataFrame(
            [(i, "en", 100 + i, f"t{i}") for i in range(50)],
            "doc_id long, lang string, n_chars long, extra string",
        )
    )
    out = db.read(columns=["doc_id", "lang", "n_chars"], filters=[("n_chars", ">", 120)])
    assert any("n_chars" in f for f in pushed_filters(out))
    schemas = scan_read_schemas(out)
    assert schemas and all("extra" not in s for s in schemas)


def test_scd2_asof_read_pushdown(spark, tmp_path):
    """read_asof's validity-interval predicate must reach the scan as pushed
    filters on valid_from/valid_to (partition- and footer-prunable at scale)."""
    from crystal_parquet_database_spark.db import PqDB

    db = PqDB(spark, str(tmp_path / "asof_plan"))
    db.create_versioned(
        [{"k": i, "v": float(i)} for i in range(20)], effective_ts="2024-01-01 00:00:00"
    )
    out = db.read_asof("2024-06-01 00:00:00")
    fs = pushed_filters(out)
    assert any("valid_from" in f for f in fs)
    assert any("valid_to" in f for f in fs)


def test_pushed_filters_survives_stray_paren_in_value():
    """Regression: filter VALUES are printed unquoted, so a
    stray ')' inside a value used to close the whole PushedFilters list and
    silently drop every later filter — a pushed-filter assertion then fails
    spuriously (or a count assertion passes against the wrong list)."""
    from crystal_parquet_database_spark.plans.inspect import pushed_filters

    plan = "PushedFilters: [EqualTo(c_name,foo)bar), IsNotNull(c_custkey)], "
    got = pushed_filters(None, plan=plan)
    assert got == ["EqualTo(c_name,foo)bar)", "IsNotNull(c_custkey)"]
    # balanced nested brackets still parse as one entry each
    plan2 = "PushedFilters: [In(p_size, [1,10,5]), IsNotNull(p_partkey)]"
    assert pushed_filters(None, plan=plan2) == [
        "In(p_size, [1,10,5])",
        "IsNotNull(p_partkey)",
    ]


def test_scan_read_schemas_raises_on_truncation():
    """Regression: Spark clips scan metadata at
    spark.sql.maxMetadataStringLength, and a clipped ReadSchema makes
    'col not in schema' pruning assertions pass because the column was cut
    off, not pruned. Truncated schemas must raise instead."""
    from crystal_parquet_database_spark.plans.inspect import scan_read_schemas

    ok = "ReadSchema: struct<a:int,b:string>"
    assert scan_read_schemas(None, plan=ok) == ["struct<a:int,b:string>"]
    for bad in (
        "ReadSchema: struct<a:int,b:str...",
        "ReadSchema: struct<a:int,b:string",
    ):
        with pytest.raises(ValueError, match="truncated"):
            scan_read_schemas(None, plan=bad)


def test_round11_dedup_ops_plan_no_cartesian(spark, sf_dir):
    """The span and edit-distance dedup operators must keep their banded
    equi-join shape: the edit-distance op's FIRST design degenerated to an
    effective all-pairs join at 10x (length-bucketed truncated heads all
    landed in one bucket) — this asserts the replacement (block banding +
    df cap) and the span op's gram join never regress to a
    cartesian/broadcast-nested plan, the same guard the LSH family
    carries."""
    from crystal_parquet_database_spark.operators.dedup import (
        duplicate_token_spans,
        edit_distance_near_dup_pairs,
    )
    from crystal_parquet_database_spark.plans.inspect import formatted_plan
    from crystal_parquet_database_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    from crystal_parquet_database_spark.surface import QUERIES

    for df in (
        duplicate_token_spans(docs, "doc_id", "text"),
        edit_distance_near_dup_pairs(docs, "doc_id", "text"),
        edit_distance_near_dup_pairs(docs, "doc_id", "text", full_text=True),
        QUERIES["text_duplication_fraction"](spark, sf_dir),
    ):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_trained_quantizer_queries_no_cartesian(spark, sf_dir):
    """The trained compositions (k-means -> IVF / PQ / IVF-PQ
    search): training is the kmeans broadcast loop, search is the proven
    inlined-literal machinery — no CartesianProduct may appear anywhere in
    the final (post-checkpoint) search+recall plan."""
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    for name in (
        "sim_ivf_trained_recall_at_k",
        "sim_pq_trained_recall_at_k",
        "sim_ivfpq_trained_recall_at_k",
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_round14_trained_compositions_plan_shape(spark, sf_dir, monkeypatch):
    """Trained SemDeDup's assignment must broadcast
    the TRAINED centroid frame (BroadcastNestedLoopJoin, never a data-sized
    CartesianProduct), and the trained-hybrid RRF's probe/candidate joins
    stay equi-joins like the trained trio. Checkpoint stubbed to identity
    so the assignment stage is visible in the plan."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    monkeypatch.setattr(ClassicDF, "localCheckpoint", lambda self, eager=True: self)
    plan = formatted_plan(
        QUERIES["dedup_semantic_semdedup_trained"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    plan = formatted_plan(QUERIES["text_hybrid_rrf_trained"](spark, sf_dir))
    assert "CartesianProduct" not in plan
