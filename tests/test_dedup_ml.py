"""Behavior tests for the near-dup operators beyond MinHash/SimHash:
asymmetric containment and its stop-shingle cap, quality-aware cluster
representatives, prefix filtering (equal to the brute force, including the
ceil rounding boundary), exact-dedup NULL handling, duplicate token spans and
the duplication fraction, and edit-distance pairs (head and full-text modes,
codepoint semantics, cluster transitivity)."""

from __future__ import annotations


def test_containment_pairs_asymmetric(spark):
    """A short doc quoted whole inside a long one: containment flags it
    (a_in_b, cont=1.0) even though Jaccard is far below any dedup cut."""
    from crystal_parquet_database_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    other = "completely different text with other words entirely here now"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], ["doc_id", "text"]
    )
    rows = containment_pairs(df, "text", "doc_id", threshold=0.9, k=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["direction"]) == (1, 2, "a_in_b")
    assert r["cont_a_in_b"] == 1.0
    assert r["cont_b_in_a"] < 0.5


def test_containment_stop_shingle_cap(spark):
    """Shingles above the df cap are dropped from the index: with a cap of 1,
    every shared shingle is a stop-shingle and no pair survives."""
    from crystal_parquet_database_spark.operators.dedup import containment_pairs

    t = "one two three four five six"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    assert containment_pairs(df, "text", "doc_id", threshold=0.5, k=3, max_df=1).count() == 0
    got = containment_pairs(df, "text", "doc_id", threshold=0.5, k=3, max_df=2).collect()
    assert len(got) == 1 and got[0]["direction"] == "mutual"


def test_cluster_representatives_quality_argmax(spark, sf_dir):
    """Exactly one canonical per cluster; the canonical holds the cluster's
    max quality score (ties to smaller id); singletons are canonical."""
    from crystal_parquet_database_spark.surface import QUERIES

    rows = QUERIES["dedup_cluster_representatives"](spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert any(len(v) > 1 for v in by_cluster.values())  # real clusters exist
    for cid, members in by_cluster.items():
        canons = [m for m in members if m["is_canonical"]]
        assert len(canons) == 1
        best = max(members, key=lambda m: (m["quality_score"], -m["doc_id"]))
        assert canons[0]["doc_id"] == best["doc_id"]


def test_prefix_filter_equals_brute_force(spark, sf_dir):
    """Prefix filtering is LOSSLESS: its output must equal the quadratic
    exact baseline row for row (the prefix lemma), and candidates must be
    strictly fewer than all-pairs."""
    from crystal_parquet_database_spark.operators.dedup import (
        ngram_jaccard_pairs, prefix_filter_pairs,
    )
    from crystal_parquet_database_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7).collect()
    }
    pf = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_pairs(docs, "text", "doc_id", threshold=0.7).collect()
    }
    assert pf == brute and brute  # identical pairs AND identical values


def test_prefix_filter_random_corpus_property(spark):
    """Prefix lemma on a random corpus: exact equality with brute force at
    several thresholds."""
    import random

    from crystal_parquet_database_spark.operators.dedup import (
        ngram_jaccard_pairs, prefix_filter_pairs,
    )

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    base = [" ".join(rnd.choice(vocab) for _ in range(12)) for _ in range(20)]
    rows = []
    for i, t in enumerate(base):
        rows.append((2 * i, t))
        words = t.split()
        if i % 2 == 0:  # perturb one word -> a near-duplicate
            words[rnd.randrange(len(words))] = rnd.choice(vocab)
        rows.append((2 * i + 1, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for tau in (0.5, 0.7, 0.9):
        brute = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=tau).collect()
        }
        pf = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in prefix_filter_pairs(docs, "text", "doc_id", threshold=tau).collect()
        }
        assert pf == brute


def test_prefix_filter_ceil_rounding_boundary(spark):
    """Regression for the double-arithmetic ceil bias: ceil(0.07 * 100)
    evaluates to 8 in IEEE doubles (0.07*100 = 7.000000000000001), one MORE
    than the exact 7 — which would shorten the prefix below what the lemma
    requires. The tight witness is containment-shaped: B's 7 words are all
    inside A's 100, J = 7/100 = 0.07 exactly, and the shared tokens (freq 2)
    rank AFTER A's 93 unique tokens (freq 1) in the rarest-first order, so
    A's prefix must reach exactly position 94 = 100 - ceil(7.0) + 1 to index
    a single shared token. An unbiased ceil indexes zero and silently drops
    the qualifying pair."""
    from crystal_parquet_database_spark.operators.dedup import prefix_filter_pairs

    a_words = [f"u{i}" for i in range(93)] + [f"s{i}" for i in range(7)]
    b_words = [f"s{i}" for i in range(7)]
    docs = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_words))], "doc_id long, text string"
    )
    got = prefix_filter_pairs(
        docs, "text", "doc_id", threshold=0.07, k=1
    ).collect()
    assert len(got) == 1
    assert (got[0]["id_a"], got[0]["id_b"]) == (0, 1)
    assert got[0]["jaccard"] == 0.07


def test_exact_dedup_null_text_pairs_with_nothing(spark):
    """Round-8 review: md5(NULL) is NULL and the digest window grouped every
    failed-scrape row into ONE duplicate set — pipeline.dedup_exact then
    silently deleted all but one. NULL content pairs with nothing (the
    package-wide contract), and each NULL row keeps its own partition key
    so a corpus-scale NULL cohort doesn't land on one reducer."""
    from crystal_parquet_database_spark.operators.dedup import exact_dedup
    from crystal_parquet_database_spark.operators.pipeline import TrainingDataPipeline

    rows = [(1, "same"), (2, "same"), (10, None), (11, None), (12, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out[2]["is_dup"] and out[2]["canonical_id"] == 1
    for i in (10, 11, 12):
        assert not out[i]["is_dup"] and out[i]["canonical_id"] == i

    kept = TrainingDataPipeline(df, id_col="doc_id", text_col="text").dedup_exact().df
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 10, 11, 12]


def test_duplicate_token_spans_inter_and_intra_doc(spark):
    """Lee-et-al-style span dedup: a shared 6-token license header surfaces
    as one span in BOTH carriers; a 400x-repeated token collapses to one
    whole-doc span; overlapping duplicated grams merge into ONE maximal
    span; a unique document reports nothing."""
    from crystal_parquet_database_spark.operators.dedup import (
        duplicate_token_spans,
    )

    header = "licensed under the apache license version two"  # 7 tokens
    rows = [
        (1, header + " alpha beta gamma delta unique one"),
        (2, header + " epsilon zeta eta theta unique two"),
        (3, ("spam " * 400).strip()),
        (4, "totally unique text with no repeated grams at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_token_spans(df, "doc_id", "text", k=5, min_count=2)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    # docs 1 and 2 share the 7-token header: duplicated 5-gram positions
    # 1..3, covered range [1, 7], merged into one span each
    assert spans[1] == [(1, 7, 7)]
    assert spans[2] == [(1, 7, 7)]
    # doc 3 is one giant self-repetition: every 5-gram identical
    assert spans[3] == [(1, 400, 400)]
    assert 4 not in spans


def test_duplicate_token_spans_split_islands(spark):
    """Two duplicated regions separated by enough unique tokens must NOT
    merge: the island break fires exactly when covered ranges neither touch
    nor overlap."""
    from crystal_parquet_database_spark.operators.dedup import (
        duplicate_token_spans,
    )

    shared_a = "one two three four five"            # 5 tokens
    shared_b = "six seven eight nine ten"           # 5 tokens
    gap = "u1 u2 u3 u4 u5 u6 u7 u8"                 # 8 unique tokens
    rows = [
        (1, f"{shared_a} {gap} {shared_b}"),
        (2, f"{shared_a} w1 w2 w3 w4 w5 w6 w7 w8 {shared_b}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_token_spans(df, "doc_id", "text", k=5, min_count=2)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert sorted(spans[1]) == [(1, 5), (14, 18)]
    assert sorted(spans[2]) == [(1, 5), (14, 18)]


def test_edit_distance_near_dup_finds_typos_and_excludes_unicode(spark):
    """Typo-level near-dups that hashing misses; non-ASCII docs are excluded
    by contract (Spark levenshtein counts codepoints, DuckDB bytes — pinned
    in test_tokenizer_parity); the length-bucket banding must not lose a
    cross-bucket pair within max_dist."""
    from crystal_parquet_database_spark.operators.dedup import (
        edit_distance_near_dup_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps ovr the lazy dog today"),   # 2 edits
        (3, "a completely different document body text here now"),
        (4, "thé quick brown fox jumps over the lazy dog today"),  # non-ASCII
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_near_dup_pairs(
            df, "doc_id", "text", max_dist=8, head_len=48
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] <= 2
    assert all(4 not in pair for pair in out)  # unicode doc excluded
    assert all(3 not in pair for pair in out)  # distant doc not paired


def test_edit_distance_full_text_mode(spark):
    """full_text=True (round-12): the head stays the blocking key, but
    verification runs on the FULL trimmed text with Spark's thresholded
    levenshtein — a pair identical in the head but divergent past it must
    flip from near-dup (head mode) to excluded (full mode), and a pair
    whose only edits sit inside the head must carry the SAME distance in
    both modes when the tails are identical."""
    from crystal_parquet_database_spark.operators.dedup import (
        edit_distance_near_dup_pairs,
    )

    same_head = "the quick brown fox jumps over the lazy dog okay"  # 48 chars
    rows = [
        # identical 48-char heads, wildly different tails
        (1, same_head + " and then a very long common tail follows here"),
        (2, same_head + " but everything after the head is unrelated text"),
        # 2 head SUBSTITUTIONS (same length — an indel would shift the
        # 48-char truncation boundary and legitimately change the head
        # distance), identical tails
        (3, "the quick brown fox jumps ovur the lazy dug okay" + " shared tail"),
        (4, "the quick brown fox jumps over the lazy dog okay" + " shared tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(max_dist=7, head_len=48, block_w=8)
    head_out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_near_dup_pairs(df, "doc_id", "text", **kw).collect()
    }
    full_out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_near_dup_pairs(
            df, "doc_id", "text", full_text=True, **kw
        ).collect()
    }
    assert (1, 2) in head_out and head_out[(1, 2)] == 0  # heads identical
    assert (1, 2) not in full_out                        # tails diverge > 7
    assert head_out.get((3, 4)) == full_out.get((3, 4))  # edits in head only
    assert full_out[(3, 4)] <= 2
    # thresholded levenshtein semantics the full mode rests on: exact
    # distance at/below the threshold, -1 past it — pinned so a Spark
    # upgrade changing the contract fails loudly here, not in the oracle
    from pyspark.sql import functions as F

    r = spark.range(1).select(
        F.levenshtein(F.lit("abcdef"), F.lit("abcxyz"), 3).alias("at"),
        F.levenshtein(F.lit("abcdef"), F.lit("xyzxyz"), 3).alias("past"),
    ).collect()[0]
    assert r["at"] == 3 and r["past"] == -1


def test_edit_distance_codepoint_semantics_spark_side(spark):
    """The Spark-only codepoint path (what the operator would do WITHOUT
    the ASCII oracle guard): one accented substitution is ONE edit — the
    byte-counting engine would say two. Asserted here because the oracle
    cannot check it."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        F.levenshtein(F.lit("héllo"), F.lit("hello")).alias("d")
    ).collect()[0]
    assert row["d"] == 1


def test_edit_distance_clusters_chain_transitivity(spark):
    """A~B and B~C must land in ONE cluster even when A-C alone exceeds
    max_dist (the pair list cannot express this); non-ASCII docs are
    outside the node set entirely; untouched docs label themselves."""
    from crystal_parquet_database_spark.operators.dedup import (
        connected_components,
        edit_distance_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog okay"
    rows = [
        (1, base),
        (2, base.replace("quick", "quack").replace("lazy", "hazy")),   # ~2 of A
        (3, base.replace("quick", "quack").replace("lazy", "hazy")
               .replace("brown", "braun").replace("jumps", "bumps")),  # ~2 of B, 4 of A
        (4, "a completely different unrelated document body here"),
        (5, "thé quick brown fox jumps over the lazy dog okay"),       # non-ASCII
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = edit_distance_near_dup_pairs(
        df, "doc_id", "text", max_dist=3, head_len=48, block_w=8
    ).select("id_a", "id_b")
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (2, 3) in got_pairs
    assert (1, 3) not in got_pairs  # 4 edits > max_dist: only the chain links
    from pyspark.sql import functions as F

    t = F.col("text")
    nodes = df.where(t.isNotNull() & (F.octet_length(t) == F.length(t))).select(
        "doc_id"
    )
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes, "doc_id").collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1  # chained into one cluster
    assert comp[4] == 4                        # singleton labels itself
    assert 5 not in comp                       # non-ASCII outside the node set


def test_duplication_fraction_signal(spark):
    """The Lee-et-al filter signal: a doc that is one big repeated span
    scores ~1.0, a unique doc scores 0.0, a NULL doc reports NULLs."""
    from crystal_parquet_database_spark.operators.dedup import (
        duplicate_token_spans,
    )
    from crystal_parquet_database_spark.operators.text import ws_tokens
    from pyspark.sql import functions as F

    lic = "permission is hereby granted free of charge to any person"
    rows = [
        (1, lic + " alpha unique tail one"),
        (2, lic + " beta different tail two"),
        (3, "entirely novel text with no repeats anywhere at all today"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_token_spans(df, "doc_id", "text", k=5, min_count=2)
    dup = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("d"))
    t = F.col("text")
    base = df.select(
        "doc_id", F.when(t.isNotNull(), F.size(ws_tokens(t))).alias("n")
    )
    out = {
        r["doc_id"]: (r["n"], r["d"])
        for r in base.join(dup, "doc_id", "left").collect()
    }
    # docs 1/2 share the 10-token license prefix; their unique tails are 4
    # tokens, so duplicated fraction = 10/14
    assert out[1] == (14, 10) and out[2] == (14, 10)
    assert out[3][1] is None      # no duplicated span at all
    assert out[4] == (None, None)
