"""ANN quality gates: approximate paths (hyperplane-LSH, IVF) must recover
most of the exact brute-force top-k on the fixture embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    ivf_topk,
    kmeans_lloyd_centroids,
)
from crystal_parquet_database_spark.tables import load_table


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["match_id"])
    return out


def _trained_cells(corpus, n_cells=16, dim=64):
    """An IVF codebook: ``kmeans_lloyd_centroids`` over ``corpus`` from the
    seed rows vec_id 100..100+n_cells, in cell order."""
    seeds = corpus.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + n_cells)
    ).select(
        (F.col("vec_id") - 100).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    trained = kmeans_lloyd_centroids(corpus, "vec_id", "embedding", seeds, dim=dim)
    return [list(r["cvec"]) for r in sorted(trained.collect(), key=lambda r: r["cell_id"])]


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(cosine_topk(q, emb, "vec_id", "embedding", k=10))
    approx = _topk_sets(
        ivf_topk(q, emb, "vec_id", "embedding", _trained_cells(emb), k=10, n_probe=8)
    )
    recalls = [len(exact[qid] & approx.get(qid, set())) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.5  # n_probe=8/16 cells → decent recall


def test_ivf_is_deterministic(spark, sf_dir):
    """The trained codebook does not depend on partitioning, and a search
    over it is reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cent = _trained_cells(emb)
    assert _trained_cells(emb.repartition(7)) == cent

    def run():
        out = ivf_topk(q, emb, "vec_id", "embedding", cent, k=5)
        return sorted(map(tuple, out.select("query_id", "match_id", "rank").collect()))

    assert run() == run()


def test_lsh_returns_bucket_constrained_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    res = ann_lsh_topk(q, emb, "vec_id", "embedding", k=10)
    got = _topk_sets(res)
    assert got and all(len(v) <= 10 for v in got.values())


def test_lsh_near_dup_subset_of_bruteforce(spark, sf_dir):
    """Banded-LSH near-dup pairs must be a subset of the brute-force pairs
    (the cosine filter is exact; banding only prunes candidates)."""
    from crystal_parquet_database_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_lsh(emb, "vec_id", "embedding", 0.4).collect()
    }
    assert lsh <= brute
    # At this deliberately-low threshold (cos 0.4 ⇒ per-plane agreement
    # ~0.63 ⇒ theoretical recall ~0.12 with two 6-bit bands) recall is low
    # by design; the high-threshold regime the operator targets is covered by
    # test_lsh_near_dup_recall_on_true_near_dups.
    if brute:
        assert len(lsh) / len(brute) >= 0.03


def test_lsh_near_dup_recall_on_true_near_dups(spark):
    """True near-duplicates (cos ≥ 0.95) agree on nearly every hyperplane, so
    banded LSH must recover most of them."""
    import random

    from crystal_parquet_database_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    rng = random.Random(7)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(64)]
        noisy = [x + rng.gauss(0, 0.02) for x in v]  # cos ≈ 0.9998
        rows.append((2 * i, v))
        rows.append((2 * i + 1, noisy))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_lsh(df, "vec_id", "embedding", 0.95).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(60)}
    assert len(got & planted) / len(planted) >= 0.8


def test_lsh_near_dup_plans_equi_join(spark, sf_dir):
    from crystal_parquet_database_spark.operators.similarity import embedding_near_dup_lsh
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(embedding_near_dup_lsh(emb, "vec_id", "embedding", 0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_explicit_centroids_skip_training(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cent = [
        list(r[0])
        for r in emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    out = ivf_topk(q, emb, "vec_id", "embedding", centroids=cent, k=5, n_probe=4)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 5 for r in rows)
    # caller-owned codebook ⇒ identical output on rerun and across repartition
    again = ivf_topk(
        q.repartition(5), emb.repartition(7), "vec_id", "embedding",
        centroids=cent, k=5, n_probe=4,
    )
    assert sorted(map(tuple, out.select("query_id", "match_id", "rank").collect())) == \
        sorted(map(tuple, again.select("query_id", "match_id", "rank").collect()))


def test_registered_ivf_recall_query_quality(spark, sf_dir):
    from crystal_parquet_database_spark.surface import QUERIES

    rows = QUERIES["sim_ivf_recall_at_k"](spark, sf_dir).collect()
    assert len(rows) == 10
    # 4/16 probed cells must recover a meaningful share of the true top-10
    mean_recall = sum(r["recall_ivf"] for r in rows) / len(rows)
    assert mean_recall >= 0.3
    assert all(r["n_true"] == 10 for r in rows)
    assert all(0 <= r["n_hit_ivf"] <= 10 for r in rows)


def test_semdedup_invariants(spark, sf_dir):
    """SemDeDup: every vector assigned exactly once; each above-threshold
    within-cell pair has its centroid-farther member removed; removal is a
    subset of vectors that actually have an above-threshold neighbor."""
    from crystal_parquet_database_spark.operators.similarity import cosine, semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 208)).select(
        (F.col("vec_id") - 200).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    out = semdedup(emb, "vec_id", "embedding", seeds, threshold=0.4)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == emb.count()  # one verdict per vector

    # recompute above-threshold within-cell pairs and check the rule
    asg = out.select("vec_id", "cell_id", "cos_centroid")
    withvec = asg.join(emb.select("vec_id", "embedding"), "vec_id")
    a = withvec.selectExpr("vec_id AS ia", "cell_id", "cos_centroid AS ca", "embedding AS va")
    b = withvec.selectExpr("vec_id AS ib", "cell_id", "cos_centroid AS cb", "embedding AS vb")
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") > 0.4)
        .collect()
    )
    assert pairs, "fixture should contain above-threshold semantic pairs"
    flagged = {v for v, r in rows.items() if r["is_removed"]}
    expect_removed = set()
    for p in pairs:
        expect_removed.add(p["ia"] if p["ca"] < p["cb"] else p["ib"])
    assert flagged == expect_removed


def test_semdedup_giant_cell_cap_subset_and_bounded(spark):
    """Skew stress for SemDeDup's giant-cell path: one cell attracts ~30% of
    all vectors. With ``max_cell_size`` set, (a) the pair stage still
    completes, (b) the capped removed-set is a strict SUBSET of the uncapped
    one (cap can only MISS cross-sub-cell pairs, never invent removals), and
    (c) recall within the giant cell stays non-trivial."""
    import math
    import random

    from crystal_parquet_database_spark.operators.similarity import semdedup

    rnd = random.Random(7)
    dim = 8
    rows = []
    # giant cell: 300 vectors in a tight cone around axis 0 (many dup pairs)
    for i in range(300):
        v = [1.0] + [rnd.uniform(-0.05, 0.05) for _ in range(dim - 1)]
        rows.append((i, v))
    # 7 normal cells: 100 spread vectors each around other axes
    for c in range(1, 8):
        for j in range(100):
            v = [rnd.uniform(-0.3, 0.3) for _ in range(dim)]
            v[c] = 1.0
            rows.append((1000 * c + j, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(c, [1.0 if d == c else 0.0 for d in range(dim)]) for c in range(8)],
        "cell_id int, cvec array<double>",
    )

    uncapped = semdedup(emb, "vec_id", "embedding", seeds, threshold=0.9)
    removed_full = {r["vec_id"] for r in uncapped.filter("is_removed").collect()}
    sizes = {r["cell_id"]: r["n"] for r in uncapped.groupBy("cell_id").agg(
        F.count("*").alias("n")).collect()}
    assert sizes[0] >= 300  # the skew premise: cell 0 holds >= 30% of 1000

    capped = semdedup(
        emb, "vec_id", "embedding", seeds, threshold=0.9, max_cell_size=64
    )
    removed_capped = {r["vec_id"] for r in capped.filter("is_removed").collect()}
    # subset: the cap only drops cross-sub-cell pairs
    assert removed_capped <= removed_full
    # recall stays non-trivial: each 64-vector sub-cell of a near-duplicate
    # cone still removes all but ~1 member, so ~(300 - ceil(300/64)) of the
    # ~299 uncapped removals survive
    n_sub = math.ceil(300 / 64)
    giant_removed_capped = {v for v in removed_capped if v < 1000}
    assert len(giant_removed_capped) >= 300 - n_sub - 5
    # assignment columns unchanged by the cap
    assert capped.count() == uncapped.count() == 1000


def test_pq_encode_and_adc_recall(spark, sf_dir):
    """PQ invariants: codes in [0, ksub); ADC recall@10 beats random (the
    pinned-seed codebook is crude, but near neighbors still collide in code
    space); encoding is deterministic across repartitioning."""
    from crystal_parquet_database_spark.operators.similarity import (
        pq_adc_topk, pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 216))
        .orderBy("vec_id").select("embedding").collect()
    )
    codebooks = [
        [list(r[0])[j * 16 : (j + 1) * 16] for r in seed_rows] for j in range(4)
    ]
    codes = pq_encode(emb, "vec_id", "embedding", codebooks)
    rows = codes.collect()
    assert all(0 <= r[f"code{j}"] < 16 for r in rows for j in range(4))
    again = {r["vec_id"]: tuple(r[f"code{j}"] for j in range(4))
             for r in pq_encode(emb.repartition(7), "vec_id", "embedding", codebooks).collect()}
    assert {r["vec_id"]: tuple(r[f"code{j}"] for j in range(4)) for r in rows} == again

    out = pq_adc_topk(emb.filter("vec_id < 10"), codes, "vec_id", "embedding",
                      codebooks, k=10).collect()
    assert {r["query_id"] for r in out} == set(range(10))
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())

    # recall sanity via the registered measurement query
    from crystal_parquet_database_spark.surface import QUERIES
    rec = QUERIES["sim_pq_recall_at_k"](spark, sf_dir).collect()
    n = emb.count()
    avg_recall = sum(r["recall_pq"] for r in rec) / len(rec)
    assert avg_recall > 10.0 / n * 3  # comfortably above random top-10 overlap


def test_pq_invalid_vector_excluded_and_ranks_stay_real(spark):
    """Round-7 found a NULL-embedding corpus row winning rank 1 for every
    query via NULL codes + NULLS-FIRST ranking; round 9's invalid-vector
    contract now excludes such a row from pq_encode ENTIRELY (its codes
    were engine-ambiguous), so it can neither rank nor eat a top-k slot.
    The NULLS-LAST _topk ordering stays as defense in depth for NULL
    distances arising any other way."""
    from crystal_parquet_database_spark.operators.similarity import (
        pq_adc_topk, pq_encode,
    )

    dim, m = 8, 2
    base = [
        (1, [1.0] * dim), (2, [0.9] * dim), (3, [0.5] * dim),
        (4, None),           # failed row
        (5, [None] * dim),   # failed DIMENSIONS (element NULLs)
    ]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    codebooks = [
        [[0.0] * (dim // m), [1.0] * (dim // m)] for _ in range(m)
    ]
    codes = pq_encode(emb, "vec_id", "embedding", codebooks)
    coded_ids = {r["vec_id"] for r in codes.collect()}
    assert coded_ids == {1, 2, 3}  # invalid vectors never encoded
    out = pq_adc_topk(
        emb.filter("vec_id = 1"), codes, "vec_id", "embedding", codebooks, k=2
    ).collect()
    got = {r["rank"]: (r["match_id"], r["approx_d2"]) for r in out}
    assert got[1][1] is not None, "rank 1 must be a real distance, not NULL"
    assert all(v[0] not in (4, 5) for v in got.values())


def test_ivf_empty_corpus_returns_empty_not_crash(spark):
    """An empty corpus trains an empty codebook; searching it (or any
    codebook) over the empty corpus returns the empty frame the exact
    siblings produce instead of failing analysis on a zero-arm cell
    expression."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    cent = _trained_cells(empty, dim=2)
    assert cent == []
    for codebook in (cent, [[1.0, 0.0]]):
        out = ivf_topk(q, empty, "vec_id", "embedding", codebook, k=3)
        assert out.count() == 0
        assert set(out.columns) == {"query_id", "match_id", "cos", "rank"}


def test_zero_norm_vector_nulls_out_instead_of_crashing(spark):
    """Regression: one all-zero embedding (failed/padded row) must NULL out
    of cosine comparisons (SQL division semantics), not abort the job with
    ANSI DIVIDE_BY_ZERO."""
    from crystal_parquet_database_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 0.0]),  # 3 = zero norm
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(corpus, corpus, "vec_id", "embedding", k=2).collect()
    assert {r["query_id"] for r in out} == {1, 2, 3}  # job completed
    # every pairing that involves the zero vector has NULL cos (undefined),
    # and NULL never outranks a real similarity
    for r in out:
        if r["match_id"] == 3 or r["query_id"] == 3:
            assert r["cos"] is None
    best_1 = min(out, key=lambda r: r["rank"] if r["query_id"] == 1 else 99)
    assert best_1["match_id"] == 2 and best_1["cos"] is not None


def test_ivf_tolerates_null_and_ragged_embeddings(spark, sf_dir):
    """NULL, empty and wrong-length embeddings in the corpus (failed-encoder
    rows, which the _cos_div contract says must degrade, not abort) are
    left out of both the codebook training and the search."""
    from pyspark.sql import types as T

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 200)
    )
    bad = spark.createDataFrame(
        [(90001, None), (90002, []), (90003, [1.0, 2.0])],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    corpus = emb.unionByName(bad)
    q = emb.filter(F.col("vec_id") < 3)
    cent = _trained_cells(corpus, n_cells=4)
    assert len(cent) == 4 and all(len(c) == 64 for c in cent)
    out = ivf_topk(q, corpus, "vec_id", "embedding", cent, k=5, n_probe=2)
    got = out.collect()  # must not raise
    assert len(got) > 0
    assert all(r["match_id"] not in (90001, 90002, 90003) for r in got)


def test_embedding_near_dup_lsh_null_vectors_no_pairs(spark):
    """Round-8 review: NULL embeddings all banded to key 0 — one giant
    self-join bucket, C(m,2) candidate pairs of nothing. No content, no
    fingerprint, no pairs (the package-wide contract)."""
    from pyspark.sql import types as T

    from crystal_parquet_database_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    rows = [(1, [1.0] * 64), (2, [1.0] * 64)] + [(i, None) for i in range(10, 40)]
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    pairs = embedding_near_dup_lsh(df, "vec_id", "embedding", threshold=0.9).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert ids <= {1, 2}  # no NULL-vector row participates in any pair


def test_ann_lsh_topk_rejects_mismatched_index(spark, sf_dir):
    """Round-8 review: an index built with different hyperplanes would
    equi-join unrelated buckets and silently return garbage."""
    import pytest as _pytest

    from crystal_parquet_database_spark.operators.similarity import (
        ann_lsh_topk,
        build_lsh_index,
    )
    from crystal_parquet_database_spark.runtime import release_local_checkpoint

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    idx = build_lsh_index(emb, "vec_id", "embedding", n_planes=16)
    try:
        q = emb.filter(F.col("vec_id") < 3)
        with _pytest.raises(ValueError, match="bucket keys would not align"):
            ann_lsh_topk(q, emb, "vec_id", "embedding", n_planes=8, corpus_index=idx)
        ok = ann_lsh_topk(
            q, emb, "vec_id", "embedding", n_planes=16, corpus_index=idx,
            exclude_self=False,  # 2^16 buckets over 50 rows: self-match is
            # the only guaranteed co-bucket row
        )
        assert ok.count() > 0  # matching params still work
    finally:
        release_local_checkpoint(idx)


def test_valid_vectors_excludes_element_nulls(spark):
    """The round-9 invalid-vector contract: NULL, EMPTY, and NULL-ELEMENT
    vectors (one failed encoder dimension) are all excluded up front —
    the engines disagree on where a NULL-element vector lands in dot
    products, quantizer cells and LSH buckets, so it must land nowhere."""
    from crystal_parquet_database_spark.operators.similarity import valid_vectors

    rows = [(1, [1.0, 2.0]), (2, [1.0, None]), (3, None), (4, [])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    assert [r["id"] for r in valid_vectors(df, "v").collect()] == [1]


def test_cosine_topk_element_null_vector_invisible(spark):
    """A NULL-element vector is neither a query nor a match anywhere in
    cosine_topk — before the contract it NULL-poisoned its dot products
    and the engines ranked it differently."""
    from crystal_parquet_database_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [None, 1.0]), (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(df, df, "vec_id", "embedding", k=10)
    ids = set(
        r["query_id"] for r in out.collect()
    ) | set(r["match_id"] for r in out.collect())
    assert 3 not in ids
    assert {1, 2, 4} <= ids


def test_valid_vectors_dim_excludes_ragged(spark):
    """Round-11: the dim-extended invalid-vector contract (round 10's
    disclosed mixed-encoder class). With dim given, a vector of any other
    length is invalid; with dim=None the legacy length-agnostic contract
    holds."""
    from crystal_parquet_database_spark.operators.similarity import (
        VALID_VEC_SQL,
        valid_vectors,
    )

    rows = [
        (1, [1.0] * 64), (2, [0.5] * 32), (3, [0.25] * 96), (4, [2.0] * 64),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    assert sorted(r["id"] for r in valid_vectors(df, "v", 64).collect()) == [1, 4]
    assert sorted(r["id"] for r in valid_vectors(df, "v").collect()) == [1, 2, 3, 4]
    assert "len(v) = 64" in VALID_VEC_SQL("v", 64)
    assert "len(v) =" not in VALID_VEC_SQL("v")


def test_semdedup_ragged_vector_excluded_consistently(spark):
    """The disclosed r10 probe shape: one 32-dim vector in a 64-dim corpus
    diverged dedup_semantic_semdedup 445/500 rows (Spark's zip_with pads ->
    NULL centroid distance; DuckDB's indexed fold skips the NULL tail -> a
    partial NUMBER -> different cell). With dim passed, the ragged row gets
    NO verdict at all — deterministically, on any partitioning — and valid
    rows' verdicts are unchanged by its presence."""
    from crystal_parquet_database_spark.operators.similarity import semdedup

    rows = [(i, [1.0 if d == (i % 2) else 0.1 * i for d in range(64)])
            for i in range(12)]
    rows.append((99, [1.0] * 32))  # the ragged mixed-encoder row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(c, [1.0 if d == c else 0.0 for d in range(64)]) for c in range(2)],
        "cell_id int, cvec array<double>",
    )
    out = semdedup(emb, "vec_id", "embedding", seeds, threshold=0.9, dim=64)
    got = {r["vec_id"] for r in out.collect()}
    assert 99 not in got
    assert got == set(range(12))
    clean = semdedup(
        emb.filter("vec_id < 99"), "vec_id", "embedding", seeds,
        threshold=0.9, dim=64,
    )
    key = lambda df: sorted(
        (r["vec_id"], r["cell_id"], r["is_removed"]) for r in df.collect()
    )
    assert key(out) == key(clean)


def test_semdedup_seed_contract_inside_operator(spark):
    """The round-11 ADVICE medium: the invalid-vector contract must bind the
    SEEDS inside the operator, not only at the llm.py call site — a ragged
    or NULL-element seed gives NULL cosc in Spark but a partial NUMBER in
    DuckDB for every corpus vector scored against that cell. Raw seeds
    (ragged + NULL-element rows mixed in) must now yield the identical
    result to pre-filtered seeds — proving (a) the operator is safe by
    construction and (b) the change is behavior-identical where call sites
    already filter (the gated dedup_semantic_semdedup keeps its r11 row)."""
    from crystal_parquet_database_spark.operators.similarity import (
        semdedup,
        valid_vectors,
    )

    rows = [(i, [1.0 if d == (i % 2) else 0.1 * i for d in range(64)])
            for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed_rows = [
        (c, [1.0 if d == c else 0.0 for d in range(64)]) for c in range(2)
    ]
    seed_rows.append((7, [1.0] * 32))                      # ragged seed
    seed_rows.append((8, [1.0] * 32 + [None] * 32))        # NULL-element seed
    raw = spark.createDataFrame(seed_rows, "cell_id int, cvec array<double>")
    key = lambda df: sorted(
        (r["vec_id"], r["cell_id"], r["is_removed"]) for r in df.collect()
    )
    with_raw = semdedup(emb, "vec_id", "embedding", raw, threshold=0.9, dim=64)
    with_filtered = semdedup(
        emb, "vec_id", "embedding", valid_vectors(raw, "cvec", 64),
        threshold=0.9, dim=64,
    )
    assert key(with_raw) == key(with_filtered)
    assert {r[1] for r in key(with_raw)} <= {0, 1}  # bad cells never assigned


def test_pq_encode_derives_dim_from_codebooks_excludes_ragged(spark):
    """PQ's expected dimension is m*dsub by construction — a ragged vector's
    codes were engine-ambiguous (partial sub-distances), now it is simply
    never encoded."""
    from crystal_parquet_database_spark.operators.similarity import pq_encode

    dim, m = 8, 2
    rows = [(1, [1.0] * dim), (2, [0.4] * dim), (3, [1.0] * 6), (4, [1.0] * 12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebooks = [[[0.0] * (dim // m), [1.0] * (dim // m)] for _ in range(m)]
    coded = {r["vec_id"] for r in pq_encode(emb, "vec_id", "embedding", codebooks).collect()}
    assert coded == {1, 2}


def test_kmeans_lloyd_recovers_separated_clusters(spark):
    """Two tight clusters at opposite corners, both seeds started INSIDE
    cluster A: after one update round the second centroid must migrate and
    the final assignment must split the clusters correctly — i.e. the
    update step demonstrably moves centroids (iters=1 vs iters=2 differ)."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
    )

    dim = 8
    a = [[1.0 + 0.01 * i] * dim for i in range(5)]           # cluster A ~1.0
    b = [[-1.0 - 0.01 * i] * dim for i in range(5)]          # cluster B ~-1.0
    rows = [(i, v) for i, v in enumerate(a)] + [
        (10 + i, v) for i, v in enumerate(b)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # both seeds near cluster A, one slightly toward B
    seeds = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [0.5] * dim)],
        "cell_id int, cvec array<double>",
    )
    one = {
        r["vec_id"]: (r["cell_id"], r["dist2"])
        for r in kmeans_lloyd_assign(
            emb, "vec_id", "embedding", seeds, iters=1, dim=dim
        ).collect()
    }
    two = {
        r["vec_id"]: (r["cell_id"], r["dist2"])
        for r in kmeans_lloyd_assign(
            emb, "vec_id", "embedding", seeds, iters=2, dim=dim
        ).collect()
    }
    # iters=1 is the pure seed assignment — it already splits A=0/B=1
    # (seed 0.5 is nearer every B point than seed 1.0), but cell 1's
    # centroid still sits at 0.5; the update must move it to B's mean,
    # collapsing every B member's dist2
    assert {c for c, _ in two.values()} == {0, 1}
    assert {two[i][0] for i in range(5)} == {0}
    assert {two[10 + i][0] for i in range(5)} == {1}
    for i in range(5):
        assert two[10 + i][1] < one[10 + i][1] / 100  # centroid moved to B


def test_kmeans_empty_cell_keeps_seed_centroid(spark):
    """A seed with no members after assignment must keep its previous
    centroid (the FAISS behavior), not vanish or go NULL — asserted by the
    cell staying assignable in the final round."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
    )

    dim = 4
    emb = spark.createDataFrame(
        [(i, [1.0] * dim) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [900.0] * dim)],  # seed 1 in-domain but far
        "cell_id int, cvec array<double>",
    )
    out = kmeans_lloyd_assign(emb, "vec_id", "embedding", seeds, iters=3, dim=dim)
    rows = out.collect()
    assert len(rows) == 4
    assert {r["cell_id"] for r in rows} == {0}
    assert all(r["dist2"] == 0.0 for r in rows)  # centroid converged exactly


def test_kmeans_invalid_vector_contract(spark):
    """Ragged / NULL-element / NaN-component / out-of-domain vectors and
    seeds are excluded by the operator itself (valid_vectors + the
    label_centroid_outliers int64-grid domain guard — one 1e18 component
    would overflow the fixed-point update sums)."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
    )

    dim = 4
    rows = [
        (1, [1.0] * dim),
        (2, [1.1] * dim),
        (3, [1.0] * 2),                      # ragged
        (4, [1.0, None, 1.0, 1.0]),          # NULL element
        (5, [float("nan")] * dim),           # NaN component
        (6, [1e18] * dim),                   # out of int64-grid domain
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [1e18] * dim)],  # second seed out of domain
        "cell_id int, cvec array<double>",
    )
    out = kmeans_lloyd_assign(emb, "vec_id", "embedding", seeds, iters=2, dim=dim)
    got = {r["vec_id"]: r["cell_id"] for r in out.collect()}
    assert set(got) == {1, 2}
    assert set(got.values()) == {0}


def test_kmeans_plan_no_cartesian_and_bounded_shuffles(spark):
    """Centroids must reach the corpus via broadcast (BroadcastNestedLoop
    over the tiny seed frame is the semdedup pattern), never a
    CartesianProduct; the update shuffles key on (cell, pos) only."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
    )
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    dim = 4
    emb = spark.createDataFrame(
        [(i, [float(i)] * dim) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, [0.0] * dim), (1, [5.0] * dim)],
        "cell_id int, cvec array<double>",
    )
    plan = formatted_plan(
        kmeans_lloyd_assign(emb, "vec_id", "embedding", seeds, iters=2, dim=dim)
    )
    assert "CartesianProduct" not in plan


def test_kmeans_requires_dim(spark):
    """dim=None is a contract error, not a latent footgun (round-12 ADVICE):
    without it ragged vectors pass valid_vectors and the mixed-length
    centroid update makes sqdist NULL with an undefined argmin."""
    import pytest

    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
        kmeans_lloyd_centroids,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0])], "cell_id int, cvec array<double>"
    )
    with pytest.raises(ValueError, match="dim is required"):
        kmeans_lloyd_assign(emb, "vec_id", "embedding", seeds)
    with pytest.raises(ValueError, match="dim is required"):
        kmeans_lloyd_centroids(emb, "vec_id", "embedding", seeds)


def test_kmeans_centroids_are_the_assignments_codebook(spark):
    """kmeans_lloyd_centroids exposes the exact codebook kmeans_lloyd_assign
    assigns against: re-running a single pure-assignment round (iters=1)
    from the TRAINED centroids as seeds must reproduce the trained
    assignment bit-for-bit — the property the trained-IVF/PQ compositions
    rely on."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_assign,
        kmeans_lloyd_centroids,
    )

    dim = 4
    rows = [(i, [float(i % 3) + 0.1 * i] * dim) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [0.0] * dim), (1, [2.0] * dim)],
        "cell_id int, cvec array<double>",
    )
    trained = kmeans_lloyd_centroids(
        emb, "vec_id", "embedding", seeds, iters=3, dim=dim
    )
    cent_rows = {r["cell_id"]: list(r["cvec"]) for r in trained.collect()}
    assert set(cent_rows) == {0, 1}
    # the update must have moved at least one centroid off its seed
    assert cent_rows[0] != [0.0] * dim or cent_rows[1] != [2.0] * dim
    want = {
        (r["vec_id"], r["cell_id"], r["dist2"])
        for r in kmeans_lloyd_assign(
            emb, "vec_id", "embedding", seeds, iters=3, dim=dim
        ).collect()
    }
    got = {
        (r["vec_id"], r["cell_id"], r["dist2"])
        for r in kmeans_lloyd_assign(
            emb, "vec_id", "embedding", trained.select("cell_id", "cvec"),
            iters=1, dim=dim,
        ).collect()
    }
    assert got == want


def test_ivfpq_candidates_come_from_probed_cells_only(spark):
    """IVF-PQ must never rank a candidate outside the query's probed cells —
    the probe restriction IS the operator (vs a full-corpus ADC scan)."""
    from crystal_parquet_database_spark.operators.similarity import (
        ivfpq_adc_topk,
        pq_adc_topk,
        pq_encode,
    )

    dim, m, dsub = 8, 2, 4
    # two far-apart blobs; centroids on each blob → n_probe=1 restricts the
    # scan to the query's own blob
    rows = [(i, [0.0 + 0.01 * i] * dim) for i in range(10)]
    rows += [(100 + i, [50.0 + 0.01 * i] * dim) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [[0.0] * dim, [50.0] * dim]
    codebooks = [
        [[0.0] * dsub, [50.0] * dsub],
        [[0.0] * dsub, [50.0] * dsub],
    ]
    got = ivfpq_adc_topk(
        emb.filter(F.col("vec_id") == 0), emb, "vec_id", "embedding",
        centroids, codebooks, k=20, n_probe=1,
    ).collect()
    # every match sits in blob 0 (the probed cell); blob 1 is invisible
    assert got and all(r["match_id"] < 100 for r in got)
    # with both cells probed the result equals the full ADC scan
    full = pq_adc_topk(
        emb.filter(F.col("vec_id") == 0),
        pq_encode(emb, "vec_id", "embedding", codebooks),
        "vec_id", "embedding", codebooks, k=20,
    )
    both = ivfpq_adc_topk(
        emb.filter(F.col("vec_id") == 0), emb, "vec_id", "embedding",
        centroids, codebooks, k=20, n_probe=2,
    )
    assert {(r["query_id"], r["match_id"], r["rank"]) for r in both.collect()} == {
        (r["query_id"], r["match_id"], r["rank"]) for r in full.collect()
    }


def test_ivfpq_plan_no_cartesian_and_codes_only_scan(spark):
    """The candidate join must be a cell-key equi-join over broadcast probes
    (never CartesianProduct), per the ivf_topk/pq_adc_topk contracts."""
    from crystal_parquet_database_spark.operators.similarity import ivfpq_adc_topk
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    dim, dsub = 8, 4
    emb = spark.createDataFrame(
        [(i, [float(i)] * dim) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    plan = formatted_plan(
        ivfpq_adc_topk(
            emb.filter(F.col("vec_id") < 2), emb, "vec_id", "embedding",
            [[0.0] * dim, [5.0] * dim],
            [[[0.0] * dsub, [5.0] * dsub], [[0.0] * dsub, [5.0] * dsub]],
            k=3, n_probe=1,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_trained_quantizers_all_seeds_invalid_matches_oracle(spark):
    """The review-caught degenerate class (round 13): when EVERY seed row of
    a training window is invalid (here: truncated to 32 dims), the three
    trained-quantizer queries must reproduce their oracles' exact degenerate
    shapes — trained-IVF emits ZERO rows (its oracle's truth ranks only the
    assigned corpus, which is empty without centroids), while trained-PQ and
    trained-IVFPQ emit the full truth rows with ZERO hits (their oracles'
    truth CTEs are training-independent)."""
    import os
    import shutil
    import tempfile

    from crystal_parquet_database_spark.testing import compare_query

    import pandas as pd

    src, dst = "/root/testdata/sf0.01", tempfile.mkdtemp(prefix="allbadseeds_")
    try:
        for f in os.listdir(src):
            shutil.copy(os.path.join(src, f), os.path.join(dst, f))
        emb = pd.read_parquet(os.path.join(dst, "embeddings.parquet"))
        mask = ((emb.vec_id >= 100) & (emb.vec_id < 116)) | (
            (emb.vec_id >= 200) & (emb.vec_id < 216)
        )
        emb.loc[mask, "embedding"] = emb.loc[mask, "embedding"].apply(
            lambda v: v[:32]
        )
        emb.to_parquet(os.path.join(dst, "embeddings.parquet"), index=False)
        for name in (
            "sim_ivf_trained_recall_at_k",
            "sim_pq_trained_recall_at_k",
            "sim_ivfpq_trained_recall_at_k",
            # MRR over the same degenerate class: every truth row must come
            # back found=false, rr=0.0 in BOTH engines (nn is
            # training-independent on both sides)
            "sim_ivfpq_trained_mrr",
            # round 14: trained SemDeDup seeds live in the [200,216) window
            # too (K = max(8, 4n/500) = 8 at this sf) — nothing trains, so
            # BOTH engines emit the EMPTY frame (assignment requires a
            # centroid); trained-hybrid RRF degrades to BM25-only (vector
            # arm empty, its RRF term coalesces to 0)
            "dedup_semantic_semdedup_trained",
            "text_hybrid_rrf_trained",
            # residual IVF-PQ: coarse seeds invalid ⇒ res is empty; PQ
            # seeds invalid ⇒ rcodes inner-join empties — truth rows with
            # zero hits on both sides (truth is training-independent)
            "sim_ivfpq_residual_recall_at_k",
        ):
            ok, msg = compare_query(spark, name, dst)
            assert ok, msg
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_kmeans_grouped_equals_sequential_trainings(spark):
    """group_col trains one INDEPENDENT k-means per group: the grouped
    single-pass result must be bit-identical to separate per-group calls
    (the PQ stacked-subspace contract)."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    dim = 4
    rows = [(g, i, [float(i % 3) + 0.5 * g + 0.01 * i] * dim)
            for g in range(3) for i in range(10)]
    df = spark.createDataFrame(rows, "g int, vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(g, c, [float(c) + 0.5 * g] * dim) for g in range(3) for c in range(2)],
        "g int, cell_id int, cvec array<double>",
    )
    grouped = {
        (r["g"], r["cell_id"]): list(r["cvec"])
        for r in kmeans_lloyd_centroids(
            df, "vec_id", "embedding", seeds, iters=3, dim=dim, group_col="g"
        ).collect()
    }
    for g in range(3):
        solo = {
            r["cell_id"]: list(r["cvec"])
            for r in kmeans_lloyd_centroids(
                df.filter(F.col("g") == g),
                "vec_id", "embedding",
                seeds.filter(F.col("g") == g).select("cell_id", "cvec"),
                iters=3, dim=dim,
            ).collect()
        }
        for c, v in solo.items():
            assert grouped[(g, c)] == v, (g, c)


def test_kmeans_grouped_equals_sequential_randomized(spark):
    """Randomized (seeded) grouped-vs-solo equivalence: for corpora with
    random vectors, random seed placements and deliberately colliding
    values across groups, the grouped single-pass training must stay
    bit-identical per group to separate calls — the delicate piece is the
    group key riding EVERY join and aggregation in the update loop."""
    import random

    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    rng = random.Random(13)
    dim, n_groups, k = 3, 3, 2
    rows, seeds = [], []
    for g in range(n_groups):
        for i in range(rng.randint(5, 14)):
            rows.append((g, i, [round(rng.uniform(-5, 5), 3) for _ in range(dim)]))
        for c in range(k):
            seeds.append((g, c, [round(rng.uniform(-5, 5), 3) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "g int, vec_id long, embedding array<double>")
    sf = spark.createDataFrame(seeds, "g int, cell_id int, cvec array<double>")
    grouped = {
        (r["g"], r["cell_id"]): list(r["cvec"])
        for r in kmeans_lloyd_centroids(
            df, "vec_id", "embedding", sf, iters=3, dim=dim, group_col="g"
        ).collect()
    }
    for g in range(n_groups):
        solo = {
            r["cell_id"]: list(r["cvec"])
            for r in kmeans_lloyd_centroids(
                df.filter(F.col("g") == g),
                "vec_id", "embedding",
                sf.filter(F.col("g") == g).select("cell_id", "cvec"),
                iters=3, dim=dim,
            ).collect()
        }
        assert solo == {c: grouped[(g, c)] for c in solo}, g


def test_kmeans_grouped_null_group_rows_excluded(spark):
    """Round-13 ADVICE: NULL-group SEEDS must be excluded in grouped mode,
    not ride through the update loop untouched and surface with a NULL
    group — the documented contract is 'NULL group rows are excluded' on
    BOTH sides of the training."""
    from crystal_parquet_database_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    dim = 3
    df = spark.createDataFrame(
        [(0, 1, [1.0] * dim), (0, 2, [2.0] * dim),
         (None, 3, [9.0] * dim)],  # NULL-group corpus row: excluded
        "g int, vec_id long, embedding array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, 0, [0.0] * dim), (None, 1, [5.0] * dim)],  # NULL-group seed
        "g int, cell_id int, cvec array<double>",
    )
    out = kmeans_lloyd_centroids(
        df, "vec_id", "embedding", seeds, iters=3, dim=dim, group_col="g"
    ).collect()
    assert all(r["g"] is not None for r in out)
    assert {r["cell_id"] for r in out} == {0}
    # the surviving group-0 training is unaffected by the excluded rows:
    # mean of [1,2] on the fixed-point grid = 1.5 per component
    assert list(out[0]["cvec"]) == [1.5] * dim


def test_ivfpq_residual_zero_coarse_equals_raw_pq(spark):
    """With a single all-zero coarse centroid the residual IS the vector
    (x - 0), so residual IVF-PQ with n_probe=1 must reproduce the raw
    full-scan ADC ranking exactly — the equivalence oracle for the
    by_residual read path."""
    from crystal_parquet_database_spark.operators.similarity import (
        ivfpq_residual_adc_topk,
        pq_adc_topk,
        pq_encode,
    )

    dim, dsub = 8, 4
    rows = [(i, [float(i % 5) + 0.1 * i, -0.3 * i] * (dim // 2)) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebooks = [
        [[0.0] * dsub, [3.0] * dsub, [-2.0] * dsub],
        [[0.0] * dsub, [-1.5] * dsub, [2.5] * dsub],
    ]
    q = emb.filter(F.col("vec_id") < 3)
    res = ivfpq_residual_adc_topk(
        q, emb, "vec_id", "embedding", [[0.0] * dim], codebooks,
        k=12, n_probe=1,
    )
    raw = pq_adc_topk(
        q, pq_encode(emb, "vec_id", "embedding", codebooks),
        "vec_id", "embedding", codebooks, k=12,
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["match_id"], r["rank"], r["approx_d2"])
        for r in df.collect()
    }
    assert key(res) == key(raw)


def test_ivfpq_residual_probe_restriction(spark):
    """Residual IVF-PQ must never rank a candidate outside the query's
    probed cells; residual encoding moves both blobs onto the SAME
    codebook (their residuals coincide), which is by_residual's point."""
    from crystal_parquet_database_spark.operators.similarity import (
        ivfpq_residual_adc_topk,
    )

    dim, dsub = 8, 4
    rows = [(i, [0.0 + 0.01 * i] * dim) for i in range(10)]
    rows += [(100 + i, [50.0 + 0.01 * i] * dim) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [[0.0] * dim, [50.0] * dim]
    # residuals in BOTH cells land near [0, 0.1] — one shared codebook
    codebooks = [
        [[0.0] * dsub, [0.05] * dsub],
        [[0.0] * dsub, [0.05] * dsub],
    ]
    got = ivfpq_residual_adc_topk(
        emb.filter(F.col("vec_id") == 0), emb, "vec_id", "embedding",
        centroids, codebooks, k=20, n_probe=1,
    ).collect()
    assert got and all(r["match_id"] < 100 for r in got)


def test_ivfpq_residual_plan_no_cartesian(spark):
    from crystal_parquet_database_spark.operators.similarity import (
        ivfpq_residual_adc_topk,
    )
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    dim, dsub = 8, 4
    emb = spark.createDataFrame(
        [(i, [float(i)] * dim) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    plan = formatted_plan(
        ivfpq_residual_adc_topk(
            emb.filter(F.col("vec_id") < 2), emb, "vec_id", "embedding",
            [[0.0] * dim, [5.0] * dim],
            [[[0.0] * dsub, [5.0] * dsub], [[0.0] * dsub, [5.0] * dsub]],
            k=3, n_probe=1,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_lit_matrix_bitwise_equals_loop_form(spark):
    """lit_matrix/lit_vector (one string literal the JVM decodes, instead of
    k*dim py4j lit() round-trips) must produce element-wise bit-identical
    arrays to the F.array(F.lit(...)) loop form for round-trip-hostile
    values (long reprs, exponents, negatives, signed zero, NaN, infinities,
    the smallest denormal and the largest double), fold to a plain literal
    in the optimized plan, and raise on a literal that does not decode."""
    import random

    import pytest

    from crystal_parquet_database_spark.functions.literals import (
        lit_array,
        lit_matrix,
        lit_vector,
    )
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    rng = random.Random(20260817)
    mat = [
        [rng.uniform(-1e3, 1e3) for _ in range(7)] for _ in range(5)
    ] + [
        [1e-307, -1e307, 0.0, -0.0, 1.5e-5, 3.0, 0.1],
        [
            float("nan"), float("inf"), float("-inf"), 5e-324,
            1.7976931348623157e308, -5e-324, 2.0,
        ],
    ]
    loop_mat = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in mat]
    )
    loop_vec = F.array(*[F.lit(float(v)) for v in mat[-1]])

    # BIT-level equality, not Spark `==`: `==` treats -0.0 equal to 0.0.
    # Compare the IEEE-754 bit patterns via Double.doubleToLongBits — the
    # literal definition of "bit-identical".
    def bits_eq(x, y):
        return F.reflect(
            F.lit("java.lang.Double"), F.lit("doubleToLongBits"), x
        ).eqNullSafe(
            F.reflect(F.lit("java.lang.Double"), F.lit("doubleToLongBits"), y)
        )

    def vec_eq(a, b):
        return F.forall(F.zip_with(a, b, bits_eq), lambda v: v)

    row = (
        spark.range(1)
        .select(
            F.forall(
                F.zip_with(lit_matrix(mat), loop_mat, vec_eq), lambda v: v
            ).alias("m_eq"),
            vec_eq(lit_vector(mat[-1]), loop_vec).alias("v_eq"),
            # the sign check itself must be live: flipping the zero sign
            # on one side must FAIL the element-wise comparison
            vec_eq(
                lit_vector([0.0]), F.array(F.lit(-0.0))
            ).alias("zero_sign_differs"),
        )
        .first()
    )
    assert row["m_eq"] and row["v_eq"]
    assert row["zero_sign_differs"] is False

    # the JSON decode is constant-folded away: no per-row parse in the plan
    plan = formatted_plan(
        spark.range(1).select(
            lit_matrix(mat).alias("m"), lit_vector(mat[-1]).alias("v")
        )
    )
    assert "from_json" not in plan and "JsonToStructs" not in plan

    # FAILFAST: a literal that does not decode raises instead of becoming
    # a NULL array
    with pytest.raises(Exception):
        spark.range(1).select(lit_array(["oops"], "array<double>")).collect()


def test_km_assign_packed_ties_and_carry_vec(spark):
    """The packed-codebook argmin breaks an exact distance tie to the
    smallest cell and, with carry_vec, returns each row's own vector."""
    from crystal_parquet_database_spark.operators.similarity import (
        _km_assign,
        _km_frames,
    )

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 1.0]),
        (2, [0.5, 0.5]),   # exactly tied between both centroids
        (3, [10.0, -3.0]),
        (4, [0.2, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "cell_id int, cvec array<double>",
    )
    base, cent = _km_frames(emb, "vec_id", "embedding", seeds, 2, None)
    packed = {
        r["__id"]: (r["cell_id"], r["dist2"], list(r["__vec"]))
        for r in _km_assign(base, cent, carry_vec=True).collect()
    }
    assert packed[2][0] == 0  # tie broke to the smallest cell
    assert {i: v[0] for i, v in packed.items()} == {0: 0, 1: 1, 2: 0, 3: 1, 4: 1}
    assert {i: v[2] for i, v in packed.items()} == dict(rows)
