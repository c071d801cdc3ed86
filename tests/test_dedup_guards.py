"""Scale-safety tests for the dedup operators: the banded SimHash pair
search must match the brute-force oracle and plan as an equi-join, and the
LSH hot-bucket guards must keep a mass-duplicated corpus from going
quadratic."""

from __future__ import annotations

from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.portable_hash import P, minhash_coeffs
from crystal_parquet_database_spark.operators import dedup as D
from crystal_parquet_database_spark.plans.inspect import formatted_plan
from crystal_parquet_database_spark.tables import load_table


def test_banded_simhash_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = D.simhash(docs, "text", "doc_id", bits=60, k=3).localCheckpoint(eager=True)
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_pairs(fp, "doc_id", max_hamming=3, bits=60).collect()
    }
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_pairs_bruteforce(fp, "doc_id", max_hamming=3).collect()
    }
    # pigeonhole banding is recall-complete: exactly the brute-force pairs
    assert banded == brute
    assert brute, "fixture should contain at least one near-dup pair"


def test_banded_simhash_plans_equi_join(spark, sf_dir):
    """The at-scale property: candidate generation is a (band, value)
    equi-join, never a cartesian/nested-loop comparison."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = D.simhash(docs, "text", "doc_id", bits=60, k=3)
    plan = formatted_plan(D.simhash_near_pairs(fp, "doc_id", max_hamming=3, bits=60))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_banded_simhash_band_widths_cover_all_bits(spark):
    """Hamming radius that does not divide the bit width evenly: uneven
    bands must still cover all 32 bits exactly (fingerprints differing only
    in the top bit are found)."""
    rows = [(1, 0), (2, 1 << 31), (3, (1 << 31) | 1)]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(fp, "doc_id", max_hamming=1).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 1}


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """10k byte-identical docs: every doc lands in the same bucket in every
    band (a 10^8-pair join unguarded). The bucket-size cap must drop the hot
    buckets so the pipeline completes with zero candidates."""
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated everywhere forever").alias("text"),
    )
    out = D.minhash_lsh_dedup(
        docs, "text", "doc_id", threshold=0.8, max_bucket_size=64
    )
    assert out.count() == 0


def test_lsh_collapse_exact_keeps_near_dup_pairs(spark):
    """collapse_exact folds identical copies to one representative before LSH
    but must still find near-dup pairs between distinct texts."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base + "lambda"
    rows = [(i, base) for i in range(5_000)] + [(100_000, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_lsh_dedup(
        docs, "text", "doc_id", threshold=0.8, collapse_exact=True
    ).collect()
    # one pair: representative (min id 0) vs the near-dup text
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 100_000)}


def test_lsh_collapse_exact_partitions_on_null_safe_digest(spark, monkeypatch):
    """collapse_exact partitions its window on content_digest, not bare
    md5(text): md5(NULL) is NULL, which would send every NULL-text row to
    one reducer (the skew exact_dedup's per-row sentinel avoids). The
    collapsed frame is read where it enters the eager shingle checkpoint,
    since the returned plan starts after that checkpoint."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None)], "doc_id long, text string"
    )
    seen = []
    real = D.shingle_hashes

    def recording(df, *args, **kwargs):
        seen.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(D, "shingle_hashes", recording)
    D.minhash_lsh_dedup(docs, "text", "doc_id", collapse_exact=True)
    assert len(seen) == 1 and "nulltext:" in seen[0]


def test_connected_components_raises_on_nonconvergence(spark):
    """Regression: a chain longer than max_iter hops must RAISE, not return
    silently split clusters (duplicates kept with no error)."""
    import pytest

    from crystal_parquet_database_spark.operators.dedup import connected_components

    n = 12  # path graph 0-1-2-...-11: min label walks one hop per round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, "doc_id", max_iter=3)
    ok = connected_components(edges, nodes, "doc_id", max_iter=25)
    assert {r["cluster_id"] for r in ok.collect()} == {0}


def test_lsh_zero_row_bands_rejected(spark):
    """Regression guard: n_bands > n_hashes makes rows_per_band 0, every
    band key '' and the candidate join all-pairs — must raise, not
    silently degenerate to the quadratic join LSH exists to avoid. Both
    MinHash entry points raise before any Spark job (the eager shingle
    checkpoint), so a bad config costs nothing."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    group = "lsh-zero-row-bands"
    try:
        sc.setJobGroup(group, group)
        with pytest.raises(ValueError, match="n_bands"):
            D.minhash_lsh_dedup(docs, "text", "doc_id", n_hashes=16, n_bands=32)
        with pytest.raises(ValueError, match="n_bands"):
            D.minhash_lsh_incremental(
                docs, docs, "text", "doc_id", n_hashes=16, n_bands=32
            )
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    sig = D.minhash_signature(D.shingle_hashes(docs, "text", 3), 8)
    with pytest.raises(ValueError, match="rows_per_band"):
        D.lsh_candidate_pairs(sig, "doc_id", n_bands=4, rows_per_band=0)


def _minhash_bands_column_api(hs, id_col, n_hashes, n_bands, rows_per_band):
    """The Column-API construction of the MinHash signature and LSH band
    keys — the reference the SQL-string form must reproduce."""

    def affine_min(a, b):
        return F.array_min(
            F.transform("hs", lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(P))
        )

    sig = hs.withColumn(
        "sig", F.array(*[affine_min(a, b) for a, b in minhash_coeffs(n_hashes)])
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice("sig", i * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    "-",
                ).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    exploded = sig.select(F.col(id_col), F.explode(bands).alias("b"))
    return sig, exploded.select(id_col, "b.band", "b.key")


def _minhash_frame(spark):
    # non-empty, empty and NULL shingle sets, next to caller columns named
    # like the SQL lambda variables (h, x): a lambda that resolved to the
    # column instead of its own variable would change every value
    return spark.createDataFrame(
        [
            (1, [5, P - 1, 77, 123456789], 11, "q"),
            (2, [P - 2], 12, "r"),
            (3, [], 13, "s"),
            (4, None, None, None),
        ],
        "doc_id long, hs array<bigint>, h bigint, x string",
    )


def test_minhash_sql_string_matches_column_api(spark):
    hs = _minhash_frame(spark)
    ref_sig, ref_bands = _minhash_bands_column_api(hs, "doc_id", 32, 8, 4)
    sig = D.minhash_signature(hs, 32)
    bands = D._band_explode(sig, "doc_id", 8, 4)
    assert sig.schema.simpleString() == ref_sig.schema.simpleString()
    assert bands.schema.simpleString() == ref_bands.schema.simpleString()
    assert sorted(sig.collect()) == sorted(ref_sig.collect())
    assert sorted(bands.collect()) == sorted(ref_bands.collect())
    keys = {r["doc_id"]: r["key"] for r in bands.where("band = 0").collect()}
    assert keys[1].count("-") == 3 and keys[3] == "" and keys[4] == ""


def test_minhash_construction_py4j_round_trips(spark, py4j_commands):
    """Building the signature and band keys costs a fixed handful of py4j
    calls — the DataFrame plumbing — not a batch of calls per hash or band
    term (~80 per hash through the Column API, ~3,800 for 32 hashes and
    8 bands)."""
    hs = _minhash_frame(spark)
    small = py4j_commands(lambda: D._band_explode(D.minhash_signature(hs, 32), "doc_id", 8, 4))
    large = py4j_commands(lambda: D._band_explode(D.minhash_signature(hs, 64), "doc_id", 16, 4))
    assert large == small <= 25, (small, large)


def test_null_text_docs_never_pair(spark):
    """Regression (round-7 final sweep): NULL text's shingle fallback was
    [NULL], so every NULL-text doc got the SAME all-NULL MinHash signature —
    one LSH bucket holding all of them (quadratic pair explosion at corpus
    scale), each pair scoring "jaccard 1.0". An empty shingle-hash set is
    the correct value: NULL docs pair with nothing, on either engine
    (DuckDB's list_distinct drops NULLs the same way)."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    hs = D.shingle_hashes(docs, "text", 3)
    by_id = {r["doc_id"]: r["hs"] for r in hs.collect()}
    assert by_id[1] == [] and by_id[2] == [] and by_id[3] == []
    assert len(by_id[4]) > 0
    pairs = D.minhash_lsh_dedup(docs, "text", "doc_id", threshold=0.5)
    assert pairs.count() == 0


def test_simhash_null_text_docs_get_no_fingerprint(spark):
    """Regression (round-7 post-sweep review): the SimHash family had the
    NULL-text clique through a different door — the [NULL] fallback shingle
    hashes to one NULL row, every vote takes the otherwise(-1) branch, and
    every NULL-text doc got the IDENTICAL fingerprint 0: a hamming-0 LSH
    clique over all of them (C(m,2) pairs at corpus scale), consistent on
    both engines so no oracle caught it. No-content docs must get NO
    fingerprint and pair with nothing."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    fp = D.simhash(docs, "text", "doc_id", bits=32, k=3)
    rows = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert set(rows) == {4}, "NULL-text docs must be absent from the fingerprint frame"
    pairs = D.simhash_near_pairs(fp, "doc_id", max_hamming=4, bits=32)
    assert pairs.count() == 0


def test_shingle_hashes_distinct_values(spark):
    """The hs array must be a SET of hash values: distinct shingle strings
    colliding under the 31-bit mod-P hash would otherwise break the
    |A|+|B|-|A∩B| union identity the jaccard consumers rely on (and diverge
    from the multiset-free DuckDB oracle)."""
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c d")], "doc_id long, text string"
    )
    arr = D.shingle_hashes(docs, "text", 3).collect()[0]["hs"]
    assert len(arr) == len(set(arr))
    assert None not in arr
