"""UDF-surface equivalence: the pandas_udf quality scorer must agree with the
pure-expression version (same formula, different execution path)."""

import pytest
from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators.text import (
    quality_features,
    quality_score_pandas_udf,
)
from crystal_parquet_database_spark.tables import load_table

STOPWORDS = ["the", "a", "key", "value", "of", "and"]


def test_pandas_udf_matches_expression_scorer(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    # adversarial rows: null, empty, whitespace-only, non-ASCII whitespace,
    # punctuation-heavy — the cases where Python and JVM semantics diverge
    # unless carefully mirrored
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "   "),
            (100004, "a b the c"),
            (100005, "!!! ??? ... a"),
            # vertical tab: Java \s and Python-ASCII \s include it, RE2
            # excludes it — the spelled-out class in PUNCT_PATTERN makes it
            # punctuation in BOTH scorers (and the DuckDB oracle)
            (100007, "a\x0bb"),
            (100006, "a b the\tc"),  # NBSP (non-ASCII ws) + tab
        ],
        schema="doc_id long, text string",
    )
    docs = docs.unionByName(edge)
    expr = quality_features(docs, "text", STOPWORDS).select("doc_id", "quality_score")
    udf = quality_score_pandas_udf(docs, "text", STOPWORDS).select(
        "doc_id", F.col("quality_score_udf").alias("quality_score")
    )
    a = {r["doc_id"]: r["quality_score"] for r in expr.collect()}
    b = {r["doc_id"]: r["quality_score"] for r in udf.collect()}
    assert a.keys() == b.keys()
    for k in a:
        if a[k] is None or b[k] is None:
            assert a[k] is None and b[k] is None
        else:
            assert abs(a[k] - b[k]) < 1e-12, (k, a[k], b[k])


def test_repetition_features_known_values(spark):
    from crystal_parquet_database_spark.operators.text import repetition_features

    rows = [
        (1, "a a a a"),          # 4 words, 1 distinct; bigrams: 3 total 1 distinct
        (2, "a b c d"),          # no repetition
        (3, "x y x y x"),        # bigrams: "x y","y x","x y","y x" -> 2/4 dup
        (4, ""),                 # split('') -> [''] : 1 word, no n-grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_features(df, "text", "doc_id").collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["dup_word_frac"] == 0.75
    assert got[1]["dup_bigram_frac"] == 1.0 - 1.0 / 3.0
    assert got[1]["top_word_frac"] == 1.0
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["top_word_frac"] == 0.25
    assert got[3]["dup_bigram_frac"] == 0.5
    assert got[3]["top_word_frac"] == 3.0 / 5.0
    assert got[4]["n_words"] == 1
    assert got[4]["dup_bigram_frac"] == 0.0 and got[4]["dup_trigram_frac"] == 0.0


def test_connected_components_known_graph(spark):
    from crystal_parquet_database_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges, nodes, "doc_id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_path_graph_converges(spark):
    from crystal_parquet_database_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges, nodes, "doc_id").collect()}
    assert got == {i: 0 for i in range(10)}


def test_tfidf_known_values(spark):
    from crystal_parquet_database_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], "doc_id long, text string")
    rows = tfidf_top_terms(df, "text", "doc_id", top_k=2).collect()
    got = {(r["doc_id"], r["term"]): (r["tfidf"], r["rank"]) for r in rows}
    assert got[(1, "a")] == ((2 / 3) * (2 / 1), 1)
    assert got[(1, "b")] == ((1 / 3) * (2 / 2), 2)
    assert got[(2, "c")] == ((1 / 2) * (2 / 1), 1)
    assert got[(2, "b")] == ((1 / 2) * (2 / 2), 2)


def test_decontaminate_known_values(spark):
    from crystal_parquet_database_spark.operators.text import ngram_decontaminate

    ev = spark.createDataFrame([(100, "x y z w")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x y z q"), (2, "no overlap here at"), (3, "ab")],
        "doc_id long, text string",
    )
    rows = ngram_decontaminate(corpus, ev, "text", "doc_id", k=3).collect()
    got = {r["doc_id"]: r.asDict() for r in rows}
    assert got[1]["n_grams"] == 2 and got[1]["n_matched"] == 1
    assert got[1]["overlap_frac"] == 0.5 and got[1]["contaminated"] is True
    assert got[2]["n_matched"] == 0 and got[2]["contaminated"] is False
    # short text falls back to one whole-text shingle
    assert got[3]["n_grams"] == 1 and got[3]["n_matched"] == 0


def test_pack_sequences_prefix_sum_correct(spark):
    """The two-phase distributed prefix sum must equal the naive global one."""
    from crystal_parquet_database_spark.operators.text import pack_sequences

    rows = [(i, " ".join(["w"] * (7 + (i * 13) % 40))) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    got = {r["doc_id"]: r.asDict() for r in pack_sequences(df, "text", "doc_id", capacity=100).collect()}
    cum = 0
    for i in range(500):
        n = 7 + (i * 13) % 40
        assert got[i]["n_tokens"] == n
        assert got[i]["bin_id"] == cum // 100, (i, got[i], cum)
        assert got[i]["bin_offset"] == cum % 100
        assert got[i]["spans_boundary"] == (cum % 100 + n > 100)
        cum += n


def test_hll_sketch_estimates_close_to_exact(spark, sf_dir):
    from crystal_parquet_database_spark.surface import QUERIES
    from crystal_parquet_database_spark.tables import load_table
    from pyspark.sql import functions as F

    got = {r["l_returnflag"]: r["approx_orders"]
           for r in QUERIES["agg_hll_sketch_distinct"](spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {r["l_returnflag"]: r["n"]
             for r in li.groupBy("l_returnflag")
                        .agg(F.countDistinct("l_orderkey").alias("n")).collect()}
    exact["ALL"] = li.select("l_orderkey").distinct().count()
    for k, approx in got.items():
        assert abs(approx - exact[k]) / exact[k] < 0.05, (k, approx, exact[k])


def test_hll_sketch_estimates_golden(spark):
    """Pin the EXACT estimate values: the 5%-bound companion would pass a
    silent lgK/config regression forever, but for a fixed input and lgK=14
    DataSketches HLL is deterministic — so the estimates themselves are a
    golden. If this fails with values still within 5% of exact, the sketch
    config changed, not the data."""
    from crystal_parquet_database_spark.surface import QUERIES

    got = {
        r["l_returnflag"]: r["approx_orders"]
        for r in QUERIES["agg_hll_sketch_distinct"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert got == {"A": 10962, "ALL": 14790, "N": 11082, "R": 11044}


def test_chunk_dedup_stats_known_values(spark):
    # docs A and B share one 4-token chunk; C is too short for any chunk
    rows = [
        (1, "a b c d e f g h"),        # chunks: [a b c d], [e f g h]
        (2, "a b c d x y z w"),        # chunks: [a b c d], [x y z w]
        (3, "p q"),                    # no full chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from crystal_parquet_database_spark.operators.text import chunk_dedup_stats

    out = {
        r["doc_id"]: (r["n_chunks"], r["n_shared"], r["shared_ratio"])
        for r in chunk_dedup_stats(df, "text", "doc_id", width=4).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (0, 0, 0.0)


def test_ngram_topk_counts_occurrences_not_distinct(spark):
    # "x y" occurs twice inside one doc — occurrence counting must see both
    df = spark.createDataFrame([(1, "x y x y"), (2, "x y q")], "doc_id long, text string")
    from crystal_parquet_database_spark.operators.text import ngram_topk

    got = {r["gram"]: r["n_occurrences"] for r in ngram_topk(df, "text", n=2, k=10).collect()}
    assert got["x y"] == 3
    assert got["y x"] == 1


def test_pii_redact_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob@example.com or +1-555-1234 thanks"), (2, "no pii here")],
        "doc_id long, text string",
    )
    from crystal_parquet_database_spark.operators.text import pii_redact

    out = {r["doc_id"]: r for r in pii_redact(df, "text").collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)


def test_decontaminate_keeps_uncontaminated_evals(spark):
    from crystal_parquet_database_spark.operators.similarity import (
        decontaminate_by_similarity,
    )

    ev = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    tr = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [1.0, 0.2])], "vec_id long, embedding array<float>"
    )
    out = {
        r["eval_id"]: r
        for r in decontaminate_by_similarity(ev, tr, "vec_id", "embedding", 0.9).collect()
    }
    assert out[1]["n_contaminating"] == 2 and out[1]["nearest_train_id"] == 10
    assert out[2]["n_contaminating"] == 0 and out[2]["nearest_train_id"] is None


def test_dedup_chunks_keep_first_semantics(spark):
    # width=2: doc1 = [a b][c d], doc2 = [a b][e f], doc3 repeats [a b] twice
    rows = [
        (1, "a b c d"),
        (2, "a b e f"),
        (3, "a b a b x"),  # two full chunks + tail "x"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from crystal_parquet_database_spark.operators.text import dedup_chunks_keep_first
    from pyspark.sql import functions as F

    out = {
        r["doc_id"]: r
        for r in dedup_chunks_keep_first(df, "text", "doc_id", width=2).collect()
    }
    # doc1 keeps both chunks (first occurrence of [a b] globally)
    assert (out[1]["n_kept"], out[1]["n_removed"]) == (2, 0)
    # doc2 loses [a b], keeps [e f]
    assert (out[2]["n_kept"], out[2]["n_removed"]) == (1, 1)
    # doc3 loses both [a b] copies, tail x survives
    assert (out[3]["n_kept"], out[3]["n_removed"]) == (0, 2)
    md5_x = spark.range(1).select(F.md5(F.lit("x"))).first()[0]
    assert out[3]["cleaned_md5"] == md5_x
    md5_ef = spark.range(1).select(F.md5(F.lit("e f"))).first()[0]
    assert out[2]["cleaned_md5"] == md5_ef


def test_corpus_pipeline_stages_and_invariance(spark, sf_dir):
    """End-to-end pipeline: every reachable stage label populated (the
    fixture has no exact doc dups, so 'dup' is structurally empty), labels
    partition a doc exactly once, and the result is invariant to input
    partitioning (hash/digest-keyed stages, no RNG)."""
    from crystal_parquet_database_spark.surface import QUERIES

    out = QUERIES["llm_corpus_pipeline"](spark, sf_dir)
    rows = {r["doc_id"]: r["status"] for r in out.collect()}
    counts = {}
    for s in rows.values():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {"short", "cap", "budget", "kept"}
    assert all(v > 0 for v in counts.values())
    assert len(rows) == out.count()  # one label per doc


def test_quality_classifier_score(spark):
    """Hashed linear classifier: score is the exact token-weight sum (checked
    against a Python reimplementation of the hash), labels split on sign, and
    the plan is map-only (no shuffle)."""
    import hashlib

    from crystal_parquet_database_spark.operators.text import (
        CLF_DIM, CLF_MOD, CLF_MULT, CLF_OFF, quality_classifier_score,
    )

    def pyweight(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16)
        return (b % CLF_DIM) * CLF_MULT % CLF_MOD - CLF_OFF

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit amet"), (3, "x")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in quality_classifier_score(docs, "text", "doc_id").collect()}
    for did, text in [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit amet"), (3, "x")]:
        toks = text.split()
        want = sum(pyweight(t) for t in toks)
        assert out[did]["score_sum"] == want
        assert out[did]["n_tokens"] == len(toks)
        assert out[did]["quality_label"] == ("keep" if want >= 0 else "drop")
    # map-only: the only exchange is the deliberate round-robin spread —
    # no hash shuffle anywhere (scoring never aggregates across rows)
    plan = quality_classifier_score(docs, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan.lower()


def test_bm25_topk_known_ranking(spark):
    """BM25 invariants on a tiny corpus: a doc with more query-term hits and
    shorter length outranks; docs without the term never appear; rank is
    dense 1..k per query."""
    from crystal_parquet_database_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),          # tf=3, dl=5
            (2, "spark is a engine for data and more things here"),  # tf=1, long
            (3, "nothing relevant at all here"),
            (4, "spark spark"),                          # tf=2, dl=2
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "text", "doc_id", {"q": ["spark"]}, top_k=3).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 3 not in ranked                       # no query term -> excluded
    assert set(ranked) == {1, 2, 4}
    assert ranked[0] in (1, 4)                   # heavy-tf short docs lead
    assert ranked[-1] == 2                       # single hit in a long doc last
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]
    # multi-term: score is the explicit c0+c1 sum, so a doc hitting both
    # terms beats one hitting a single term with equal stats
    out2 = {r["doc_id"]: r for r in bm25_topk(
        docs, "text", "doc_id", {"q2": ["spark", "fast"]}, top_k=4).collect()}
    assert out2[1]["score"] > out2[4]["score"]


def test_bigram_fluency_bounds_and_short_docs(spark):
    """fluency in (0, 1] (each bigram's count <= its context count), novel
    ratio in [0, 1], and <2-token docs yield an explicit zero row."""
    from crystal_parquet_database_spark.operators.text import bigram_fluency

    docs = spark.createDataFrame(
        [
            (1, "a b c a b"),      # bigrams: ab, bc, ca, ab
            (2, "a b x y"),        # shares ab with doc 1
            (3, "only"),           # no bigrams
            (4, ""),               # no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_fluency(docs, "text", "doc_id").collect()}
    assert len(rows) == 4
    for d in (3, 4):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["fluency"] == 0.0 and rows[d]["novel_ratio"] == 0.0
    for d in (1, 2):
        assert 0.0 < rows[d]["fluency"] <= 1.0
        assert 0.0 <= rows[d]["novel_ratio"] <= 1.0
    # doc 1's "a b" occurs 3x corpus-wide -> not novel; "c a" occurs once
    assert rows[1]["n_bigrams"] == 4
    assert rows[1]["novel_ratio"] == 2 / 4      # "b c" and "c a" are unique
    # doc 2 has 3 bigrams, "a b" common, "b x"/"x y" unique
    assert rows[2]["novel_ratio"] == 2 / 3


def test_minhash_incremental_matches_full_cross_pairs(spark, sf_dir):
    """The incremental path must find exactly the new↔old pairs the full
    self-join dedup finds (restricted to cross pairs), with equal jaccard."""
    from crystal_parquet_database_spark.operators.dedup import (
        minhash_lsh_dedup, minhash_lsh_incremental,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter("doc_id % 10 = 0")
    old = docs.filter("doc_id % 10 <> 0")
    inc = {
        (r["id_new"], r["id_old"]): r["jaccard"]
        for r in minhash_lsh_incremental(
            new, old, "text", "doc_id", threshold=0.8).collect()
    }
    full = minhash_lsh_dedup(docs, "text", "doc_id", threshold=0.8).collect()
    cross = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if (a % 10 == 0) != (b % 10 == 0):
            nid, oid = (a, b) if a % 10 == 0 else (b, a)
            cross[(nid, oid)] = r["jaccard"]
    assert inc == cross
    assert inc, "fixture should contain at least one cross near-dup pair"


def test_hybrid_rrf_fusion_semantics(spark, sf_dir):
    """RRF invariants: a doc present in BOTH candidate lists outscores the
    same ranks seen singly; rank is dense 1..10 per query; scores equal the
    closed-form 1/(60+rb) + 1/(60+rv)."""
    from crystal_parquet_database_spark.surface import QUERIES

    rows = QUERIES["text_hybrid_rrf_search"](spark, sf_dir).collect()
    per_q: dict[str, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert len(per_q) == 4
    for members in per_q.values():
        ranks = sorted(m["rank"] for m in members)
        assert ranks == list(range(1, len(members) + 1))
        # scores are bounded by the best possible double-hit and the worst
        # single-hit in the candidate window
        for m in members:
            assert 0 < m["rrf_score"] <= 2 / 61


def test_repetition_features_keeps_null_and_empty_docs(spark):
    """Quality filters must KEEP every document: NULL-text and empty-text
    docs get their feature row (top_word_frac NULL over zero tokens) instead
    of silently vanishing through an inner join."""
    from crystal_parquet_database_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_features(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["top_word_frac"] == 2.0 / 3.0
    assert out[2]["n_words"] is None and out[2]["top_word_frac"] is None
    assert out[2]["dup_word_frac"] == 0.0
    # trim("") splits to [""] — one (empty) token, defined fractions
    assert out[3]["n_words"] == 1 and out[3]["top_word_frac"] == 1.0


def test_vertical_tab_tokenization_matches_duckdb(spark):
    """Regression: Java regex \\s includes vertical tab, RE2's (DuckDB) does
    not — the Spark side must use the explicit RE2-equivalent class (WS_RE)
    so 'a\\x0bb' tokenizes identically in both engines."""
    import duckdb

    from crystal_parquet_database_spark.operators.text import token_counts

    text = "alpha\x0bbeta gamma"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = token_counts(df, "text").collect()[0]
    duck = duckdb.connect().execute(
        r"SELECT len(string_split_regex(trim(?), '\s+'))", [text]
    ).fetchone()[0]
    assert row["n_ws_tokens"] == duck == 2  # 'alpha\x0bbeta' is ONE token


def test_bpe_pattern_vertical_tab_cross_engine(spark):
    """BPE_PATTERN runs under Java regex (Spark) and RE2 (DuckDB oracle),
    whose \\s classes disagree on vertical tab. The spelled-out whitespace
    class makes \\x0b a symbol token on BOTH engines; this pins the count
    equality on the exact character that used to diverge."""
    import duckdb

    from crystal_parquet_database_spark.operators.text import BPE_PATTERN, token_counts

    rows = [(1, "a\x0bb"), (2, "one two 3"), (3, "x,y;z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in token_counts(df, "text").select("doc_id", "n_bpe_tokens").collect()
    }
    con = duckdb.connect()
    want = {}
    for doc_id, text in rows:
        want[doc_id] = con.execute(
            "SELECT LEN(REGEXP_EXTRACT_ALL(?, ?))", [text, BPE_PATTERN]
        ).fetchone()[0]
    con.close()
    assert got == want
    assert got[1] == 3  # 'a', the \x0b symbol, 'b'


def test_null_text_counts_are_null_not_minus_one(spark):
    """Regression: size(split(NULL)) is -1 in Spark while LEN(NULL) is NULL in
    ANSI SQL — NULL text must yield NULL counts and ratios, not -1 / -1.0 (the
    documented size(NULL) trap, previously guarded only in
    repetition_features)."""
    from crystal_parquet_database_spark.operators.text import (
        quality_features,
        token_counts,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox")], "doc_id long, text string"
    )
    tc = {r["doc_id"]: r for r in token_counts(docs, "text").collect()}
    assert tc[1]["n_ws_tokens"] is None
    assert tc[1]["n_chars"] is None
    assert tc[1]["n_bpe_tokens"] is None
    assert tc[2]["n_ws_tokens"] == 4

    qf = {
        r["doc_id"]: r
        for r in quality_features(docs, "text", ["the", "a"]).collect()
    }
    assert qf[1]["n_words"] is None
    assert qf[1]["stopword_ratio"] is None
    assert qf[1]["quality_score"] is None
    assert qf[2]["n_words"] == 4


def test_language_id_null_text_has_null_scores_and_pred(spark):
    """Regression: language_id was the one text operator with no NULL-text
    guard — unguarded size(filter(split(NULL))) is -1 or NULL depending on the
    session's legacy/ANSI combo, and the oracle's CASE fell through to the
    ELSE language while Spark's when-chain fell through to NULL. NULL text has
    no language: all scores and lang_pred must be NULL, and real docs must be
    unaffected."""
    from crystal_parquet_database_spark.operators.text import LANG_ORDER, language_id

    docs = spark.createDataFrame(
        [(1, None), (2, "the and is of to the")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in language_id(docs, "text").collect()}
    for lang in LANG_ORDER:
        assert out[1][f"score_{lang}"] is None
    assert out[1]["lang_pred"] is None
    assert out[2]["lang_pred"] == "en"


def test_chunk_hashes_are_full_width(spark):
    """Regression: chunk identity used the 31-bit mod-P hash while the
    docstrings claimed 60-bit — collisions expected by ~2^16 distinct chunks
    silently corrupt keep-first rewrites. The chunk hash must now span the
    full 60-bit range (values above 2^31 appear)."""
    from crystal_parquet_database_spark.operators.text import chunk_dedup_stats

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(64))) for i in range(20)],
        "doc_id long, text string",
    )
    # reach into the exploded chunk hashes via the public stats op's input
    # contract: at least one of the 80 chunk hashes must exceed the 31-bit
    # mod-P ceiling if the full-width hash is in use (P(all < 2^31) ~ 2^-2320)
    from pyspark.sql import functions as F

    from crystal_parquet_database_spark.functions.portable_hash import spark_hash_raw60

    hashes = docs.select(
        spark_hash_raw60(F.col("text")).alias("h")
    ).collect()
    assert any(r["h"] > (1 << 31) for r in hashes)
    # and the stats op still reports zero sharing on an all-distinct corpus
    stats = chunk_dedup_stats(docs, "text", "doc_id", width=16)
    assert all(r["n_shared"] == 0 for r in stats.collect())


def test_sessionize_null_ts_gets_null_seq_and_shifts_nothing(spark):
    """Regression: Spark windows order NULLS FIRST, so a NULL-ts event sat at
    the HEAD of its user's window (becoming session 1 and shifting every real
    row), while DuckDB's mirror ordered it LAST and extended the final
    session. Both sides now sort NULL-ts rows last, give them a NULL session
    number, and open no session for them."""
    import datetime as dt

    from crystal_parquet_database_spark.operators.sessionize import with_session_seq

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (1, 100, None),
        (1, 101, t0),
        (1, 102, t0 + dt.timedelta(minutes=5)),
        (1, 103, t0 + dt.timedelta(hours=2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {r["event_id"]: r["session_seq"] for r in with_session_seq(df, 30).collect()}
    assert out == {100: None, 101: 1, 102: 1, 103: 2}


def test_sessionize_sql_mirror_null_ts_parity(spark):
    """The DuckDB CTE mirror must agree with with_session_seq row-for-row on
    a NULL-ts-bearing fixture, and must accept a cols request beyond the
    old hardcoded four (it used to binder-error on any other column)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from crystal_parquet_database_spark.operators.sessionize import (
        sql_session_cte,
        with_session_seq,
    )

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    pdf = pd.DataFrame(
        {
            "event_id": [100, 101, 102, 103, 104],
            "user_id": [1, 1, 1, 1, 2],
            "event_type": ["view"] * 5,
            "props": ["{}"] * 5,
            "ts": [
                None,
                t0,
                t0 + dt.timedelta(minutes=5),
                t0 + dt.timedelta(hours=2),
                None,
            ],
        }
    )
    con = duckdb.connect()
    con.register("events", pdf)
    duck = {
        r[0]: (int(r[1]) if r[1] is not None else None)
        for r in con.execute(
            f"SELECT event_id, session_seq FROM {sql_session_cte(30, cols='event_id, user_id, props, ts')}"
        ).fetchall()
    }
    sdf = spark.createDataFrame(pdf)
    got = {
        r["event_id"]: r["session_seq"] for r in with_session_seq(sdf, 30).collect()
    }
    assert got == duck == {100: None, 101: 1, 102: 1, 103: 2, 104: None}


def test_importance_reweight_separates_domains(spark):
    """DSIR-style reweighting on a corpus with two genuinely distinct
    vocabularies (unlike the shared-vocabulary fixture): target-domain
    docs must score near 1.0, off-domain docs near the smoothing floor,
    and the keep flag must split them at any tau in between."""
    from crystal_parquet_database_spark.operators.text import importance_reweight

    med = [f"patient dose trial symptom clinic{i % 3}" for i in range(6)]
    code = [f"compiler lambda pointer stack heap{i % 3}" for i in range(6)]
    rows = [(i, t, True) for i, t in enumerate(med)]
    rows += [(10 + i, t, False) for i, t in enumerate(code)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r
        for r in importance_reweight(df, "text", "doc_id", "tgt", tau=0.5).collect()
    }
    assert len(out) == 12
    # medical tokens appear ONLY in target docs -> num == den -> weight 1.0
    for i in range(6):
        assert out[i]["weight"] == 1.0 and out[i]["keep"] is True
    # code tokens never appear in target docs -> num 0, weight = 1/(den+1)
    for i in range(6):
        r = out[10 + i]
        assert r["num"] == 0 and r["weight"] < 0.2 and r["keep"] is False


def test_importance_reweight_no_content_and_null_target(spark):
    """No-content docs: n_feats 0, NULL weight, keep false. NULL target
    flags count as non-target (coalesced), not an error."""
    from crystal_parquet_database_spark.operators.text import importance_reweight

    rows = [
        (1, "alpha beta", True),
        (2, None, True),
        (3, "alpha gamma", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r
        for r in importance_reweight(df, "text", "doc_id", "tgt", tau=0.5).collect()
    }
    assert out[2]["n_feats"] == 0 and out[2]["weight"] is None
    assert out[2]["keep"] is False
    assert out[3]["is_target"] == 0 and out[3]["n_feats"] == 2
    # doc 1 is the only target: its own tokens dominate -> weight >= 1/2
    assert out[1]["keep"] is True


def test_importance_reweight_model_is_broadcast(spark):
    """The IR_DIM-bucket model must reach the scoring pass by broadcast —
    an equi-join shuffle on ~4k Zipf-hot bucket keys would re-shuffle the
    whole corpus occurrence stream on a skewed key."""
    from crystal_parquet_database_spark.operators.text import importance_reweight
    from crystal_parquet_database_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 7}", i % 2 == 0) for i in range(20)],
        "doc_id long, text string, tgt boolean",
    )
    plan = formatted_plan(importance_reweight(df, "text", "doc_id", "tgt"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_chunks_removes_every_occurrence(spark):
    """The cross-doc rule vs keep-first: a block shared by >= min_docs
    documents vanishes from ALL of them (including the first), while blocks
    repeated only WITHIN one document survive (df counts distinct docs)."""
    import hashlib

    from crystal_parquet_database_spark.operators.text import boilerplate_chunks

    w = 2
    rows = [
        (1, "a b u1 u2"),      # "a b" shared with doc 2 → removed from both
        (2, "a b v1 v2"),
        (3, "c d c d"),        # repeated within ONE doc only → kept (df=1)
        (4, "e f g"),          # unique block + tail
        (5, None),             # NULL text → NULL md5 (module convention)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in boilerplate_chunks(df, "text", "doc_id", width=w, min_docs=2).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1]["n_boiler"] == 1 and got[1]["cleaned_md5"] == md5("u1 u2")
    assert got[2]["n_boiler"] == 1 and got[2]["cleaned_md5"] == md5("v1 v2")
    assert got[3]["n_boiler"] == 0 and got[3]["cleaned_md5"] == md5("c d c d")
    assert got[4]["n_chunks"] == 1 and got[4]["cleaned_md5"] == md5("e f g")
    assert got[4]["boiler_fraction"] == 0.0
    assert got[5]["n_chunks"] == 0 and got[5]["cleaned_md5"] is None
    assert got[5]["boiler_fraction"] is None
    assert got[1]["boiler_fraction"] == 0.5


def test_temperature_mixture_upweights_low_resource(spark):
    """α = 1/2 flattens the distribution: the small group's weight share
    must exceed its raw token share; weights sum to ~1; NULL groups carry
    no weight; target_docs allocates the budget."""
    from crystal_parquet_database_spark.operators.text import temperature_mixture

    rows = [(i, "en", "w " * 99 + "w") for i in range(10)]     # 100 tokens ea
    rows += [(100, "mi", "w " * 3 + "w")]                       # 4 tokens
    rows += [(200, None, "w w w")]                              # unlabeled
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["lang"]: r for r in temperature_mixture(df, "lang", "text", "doc_id").collect()}
    assert set(got) == {"en", "mi"}
    en, mi = got["en"], got["mi"]
    assert en["n_tokens"] == 1000 and mi["n_tokens"] == 4
    raw_share = 4 / 1004
    assert mi["weight"] > raw_share                       # upweighted
    assert abs(en["weight"] + mi["weight"] - 1.0) < 1e-12
    assert en["target_docs"] + mi["target_docs"] <= 1000  # floor never overshoots
    # zero-token corpus: weights are NULL, not a crash or a div-by-zero inf
    z = spark.createDataFrame([(1, "en", None)], "doc_id long, lang string, text string")
    zr = temperature_mixture(z, "lang", "text", "doc_id").collect()
    assert len(zr) == 1 and zr[0]["weight"] is None and zr[0]["target_docs"] is None


def test_boilerplate_chunks_all_identical_corpus(spark):
    """Every full-width block shared by the whole corpus: all blocks
    removed everywhere, rebuilt text is the tail alone, fraction 1.0."""
    import hashlib

    from crystal_parquet_database_spark.operators.text import boilerplate_chunks

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(4)], "doc_id long, text string"
    )
    got = boilerplate_chunks(docs, "text", "doc_id", width=2, min_docs=2).collect()
    md5 = hashlib.md5(b"e").hexdigest()
    for r in got:
        assert r["n_chunks"] == 2 and r["n_boiler"] == 2
        assert r["boiler_fraction"] == 1.0
        assert r["cleaned_md5"] == md5  # tail "e" survives


def _py_rewrites(rows, width, min_docs):
    """Pure-Python block-chunk rewrites: tokens are the whitespace split of
    the space-trimmed text, blocks the full ``width``-token runs, the tail
    the rest; the rebuilt text is the kept blocks, then the tail. Returns
    {id: ((n_kept, n_removed, md5), (n_chunks, n_boiler, fraction, md5))}."""
    import hashlib
    import re

    from crystal_parquet_database_spark.functions.portable_hash import WS_RE

    split = {}
    for i, text in rows:
        if text is None:
            split[i] = None
            continue
        toks = re.split(WS_RE, text.strip(" "))
        nf = len(toks) // width
        blocks = [" ".join(toks[j * width:(j + 1) * width]) for j in range(nf)]
        split[i] = (blocks, " ".join(toks[nf * width:]))
    docs_with = {}
    for i, parts in split.items():
        for b in parts[0] if parts else []:
            docs_with.setdefault(b, set()).add(i)

    def md5(blocks, tail):
        kept = " ".join(blocks)
        return hashlib.md5(" ".join(x for x in (kept, tail) if x).encode()).hexdigest()

    seen, out = set(), {}
    for i in sorted(split):
        if split[i] is None:
            out[i] = ((0, 0, None), (0, 0, None, None))
            continue
        blocks, tail = split[i]
        first = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                first.append(b)
        common = [b for b in blocks if len(docs_with[b]) < min_docs]
        n, n_boiler = len(blocks), len(blocks) - len(common)
        out[i] = (
            (len(first), n - len(first), md5(first, tail)),
            (n, n_boiler, n_boiler / n if n else None, md5(common, tail)),
        )
    return out


@pytest.mark.parametrize("width", [1, 2, 3])
def test_block_chunk_rewrites_match_python_reference(spark, width):
    """Both rewrite operators share the block split, the tail and the
    rebuild (text._blocks/_rebuilt): on the edge cases of each they agree
    with a pure-Python reference, and keep-first's kept + removed blocks
    are boilerplate's block count."""
    from crystal_parquet_database_spark.operators.text import (
        boilerplate_chunks,
        dedup_chunks_keep_first,
    )

    rows = [
        (1, None),               # NULL text: zero counts, NULL md5
        (2, ""),                 # one empty token
        (3, "   "),              # whitespace-only: trims to ""
        (4, "a"),                # shorter than width: tail only
        (5, "a b c d e f"),      # a multiple of widths 1, 2 and 3: empty tail
        (6, "  a b x  "),        # leading/trailing spaces are trimmed
        (7, "c d a b"),          # blocks shared with docs 5 and 6
        (8, "\ta b"),            # a tab is not trimmed: an empty first token
        (9, "e f e f"),          # a block repeated within one document
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _py_rewrites(rows, width, min_docs=2)
    kf = {r["doc_id"]: r for r in dedup_chunks_keep_first(df, "text", "doc_id", width).collect()}
    bp = {
        r["doc_id"]: r
        for r in boilerplate_chunks(df, "text", "doc_id", width, min_docs=2).collect()
    }
    for i, (want_kf, want_bp) in want.items():
        k, b = kf[i], bp[i]
        assert (k["n_kept"], k["n_removed"], k["cleaned_md5"]) == want_kf, i
        got_bp = (b["n_chunks"], b["n_boiler"], b["boiler_fraction"], b["cleaned_md5"])
        assert got_bp == want_bp, i
        assert k["n_kept"] + k["n_removed"] == b["n_chunks"], i


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("text_chunk_dedup_ratio", 2),
        ("text_dedup_chunks_keep_first", 3),
        ("text_boilerplate_chunks", 3),
    ],
)
def test_block_chunk_construction_jobs(spark, sf_dir, jobs_run, name, jobs):
    """Constructing a block-chunk query runs its eager checkpoints and
    nothing more: one in chunk_dedup_stats, base and ch in the rewrites. A
    shared stage that adds a checkpoint or a job fails this count."""
    from crystal_parquet_database_spark.surface import QUERIES

    _, got = jobs_run(lambda: QUERIES[name](spark, sf_dir))
    assert got == jobs


def test_temperature_mixture_single_group_gets_everything(spark):
    from crystal_parquet_database_spark.operators.text import temperature_mixture

    df = spark.createDataFrame(
        [(1, "en", "w w w"), (2, "en", "w")], "doc_id long, lang string, text string"
    )
    [r] = temperature_mixture(df, "lang", "text", "doc_id", budget_docs=700).collect()
    assert r["weight"] == 1.0 and r["target_docs"] == 700
    assert r["n_tokens"] == 4 and r["n_docs"] == 2


def test_boilerplate_and_lsh_eval_plans_no_cartesian(spark, sf_dir):
    from crystal_parquet_database_spark.plans.inspect import formatted_plan
    from crystal_parquet_database_spark.surface import QUERIES

    for name in ("text_boilerplate_chunks", "eval_lsh_pair_recall"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        # eval_lsh's two 1-row count frames legitimately cross-join at the
        # very top (BroadcastNestedLoop over single rows); a raw
        # CartesianProduct node anywhere is still the forbidden shape
        assert "CartesianProduct" not in plan, name


def test_temperature_mixture_matches_python_oracle_randomized(spark):
    """Randomized (seeded) bit-exactness against a pure-Python oracle:
    exact int64 token sums, math.sqrt (IEEE-correctly-rounded like both
    engines), group-ordered left-fold denominator, one division — every
    weight must match Spark's to the last bit."""
    import math
    import random

    from crystal_parquet_database_spark.operators.text import temperature_mixture

    rng = random.Random(29)
    langs = ["aa", "bb", "cc", "dd"]
    rows, tok = [], {}
    for i in range(60):
        lang = rng.choice(langs + [None])
        n = rng.randint(0, 30)
        rows.append((i, lang, " ".join("w" for _ in range(n)) if n else None))
        if lang is not None:
            # empty text -> NULL text above; NULL text counts no tokens but
            # still counts the doc (the operator's SUM-skips-NULL contract)
            tok[lang] = tok.get(lang, 0) + n
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["lang"]: r for r in temperature_mixture(df, "lang", "text", "doc_id").collect()}
    sqrts = {g: math.sqrt(float(tok.get(g, 0))) for g in got}
    den = 0.0
    for g in sorted(sqrts):
        den = den + sqrts[g]
    for g, r in got.items():
        want = sqrts[g] / den if den > 0 else None
        assert r["weight"] == want, (g, r["weight"], want)


def test_ccnet_buckets_per_language_thirds_and_order(spark):
    """CCNet bucketing invariants: every doc labeled exactly once; within a
    language the three buckets differ in size by at most 1 (NTILE), and no
    tail doc outscores a head doc (monotone split on the fluency rank)."""
    from crystal_parquet_database_spark.surface import QUERIES

    out = QUERIES["text_ccnet_perplexity_buckets"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 500 and len({r["doc_id"] for r in out}) == 500
    bylang = {}
    for r in out:
        bylang.setdefault(r["lang"], []).append(r)
    for lang, rows in bylang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rows:
            counts[r["ppl_bucket"]] += 1
        assert max(counts.values()) - min(counts.values()) <= 1, (lang, counts)
        heads = [r["fluency"] for r in rows if r["ppl_bucket"] == "head"]
        tails = [r["fluency"] for r in rows if r["ppl_bucket"] == "tail"]
        if heads and tails:
            assert min(heads) >= max(tails), lang


def test_gopher_flags_hand_cases(spark):
    """Hand-built documents hitting each Gopher rule boundary."""
    from crystal_parquet_database_spark.operators.text import gopher_quality_flags

    good = " ".join(["the be to of and that have with"] + ["word also here"] * 20)
    bullets = "\n".join(f"- item {i}" for i in range(10))
    ells = "\n".join(f"line {i}..." for i in range(10))
    symbols = "# " * 30
    numeric = " ".join(str(i) for i in range(60))
    df = spark.createDataFrame(
        [
            (1, good),          # passes word-count/stopword/alpha rules
            (2, bullets),       # 100% bullet lines
            (3, ells),          # 100% ellipsis lines
            (4, symbols),       # symbol ratio 1.0
            (5, numeric),       # no alphabetic words
            (6, None),          # NULL text -> NULL everywhere
            (7, ""),            # empty text -> zero words, fails count rule
            (8, "tiny doc"),    # < 50 words
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality_flags(df, "text", "doc_id").collect()}
    assert got[1]["flag_word_count"] and got[1]["flag_stopwords"]
    assert got[1]["flag_alpha_words"] and got[1]["pass_gopher"] is not None
    assert got[2]["bullet_line_frac"] == 1.0 and not got[2]["flag_bullet_lines"]
    assert got[3]["ellipsis_line_frac"] == 1.0 and not got[3]["flag_ellipsis_lines"]
    assert got[4]["symbol_word_ratio"] == 1.0 and not got[4]["flag_symbol_ratio"]
    assert got[5]["alpha_word_frac"] == 0.0 and not got[5]["flag_alpha_words"]
    assert all(got[6][c] is None for c in got[6].asDict() if c != "doc_id")
    assert got[7]["n_words"] == 0 and not got[7]["flag_word_count"]
    assert got[7]["pass_gopher"] is False
    assert not got[8]["flag_word_count"] and got[8]["pass_gopher"] is False


def test_knn_label_vote_planted_clusters(spark, monkeypatch):
    """Two tight label clusters: every query's neighbors share its label, so
    the vote must be unanimous and correct."""
    import crystal_parquet_database_spark.surface.llm as L
    import os, tempfile

    rows = []
    for i in range(20):
        rows.append((i, [0.0 + 0.001 * i] * 8 + [1.0] * 56, 1))
        rows.append((100 + i, [50.0 + 0.001 * i] * 8 + [-1.0] * 56, 2))
    import pandas as pd
    dst = tempfile.mkdtemp(prefix="knn_vote_")
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        os.path.join(dst, "embeddings.parquet"), index=False
    )
    out = {r["query_id"]: r for r in L.sim_knn_label_vote(spark, dst).collect()}
    assert set(out) == set(range(20))  # vec_id < 50 queries present
    for qid, r in out.items():
        assert r["pred_label"] == 1 and r["correct"] and r["n_votes"] == 10


def test_concurrently_returns_results_in_argument_order(spark):
    import time

    from crystal_parquet_database_spark.runtime import concurrently

    # the first thunk finishes last: results still follow argument order
    assert concurrently(
        lambda: time.sleep(0.2) or "slow", lambda: "fast", lambda: 3
    ) == ("slow", "fast", 3)


def test_concurrently_propagates_a_thunk_exception(spark):
    import pytest

    from crystal_parquet_database_spark.runtime import concurrently

    def boom():
        raise ValueError("thunk failed")

    with pytest.raises(ValueError, match="thunk failed"):
        concurrently(lambda: 1, boom)


def _newest_job_id(sc) -> int:
    # drain the listener bus first: the status store is fed asynchronously
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def test_concurrently_jobs_carry_the_callers_session_tags(spark):
    """A session tag set by the caller (``spark.addTag``) reaches every job
    a ``concurrently`` thunk launches, so ``spark.interruptTag`` can cancel
    the helper threads' jobs too."""
    from crystal_parquet_database_spark.runtime import concurrently

    sc = spark.sparkContext
    before = _newest_job_id(sc)
    spark.addTag("concurrently-tag-test")
    try:
        concurrently(lambda: spark.range(10).count(), lambda: spark.range(5).collect())
    finally:
        spark.removeTag("concurrently-tag-test")
    _newest_job_id(sc)  # drains the listener bus
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    tags = {
        jobs.apply(i).jobId(): jobs.apply(i).jobTags().mkString("|").split("|")
        for i in range(jobs.size())
        if jobs.apply(i).jobId() > before
    }
    assert tags
    for job_id, job_tags in tags.items():
        assert any(t.endswith("-concurrently-tag-test") for t in job_tags), (job_id, job_tags)


def test_trained_queries_keep_every_job_in_the_job_group(spark, sf_dir):
    """Every Spark job a trained-quantizer query submits — including the
    truth/BM25 checkpoint and trainer jobs it overlaps on helper threads —
    belongs to the caller's job group, so cancelling the group stops all of
    it."""
    from crystal_parquet_database_spark.runtime import release_all_session_blocks
    from crystal_parquet_database_spark.surface import QUERIES

    sc = spark.sparkContext
    names = [
        "sim_ivf_trained_recall_at_k",
        "sim_pq_trained_recall_at_k",
        "sim_ivfpq_trained_recall_at_k",
        "sim_ivfpq_trained_mrr",
        "text_hybrid_rrf_trained",
        "sim_ivfpq_residual_recall_at_k",
    ]
    try:
        for name in names:
            group = f"jobgroup-test-{name}"
            before = _newest_job_id(sc)
            sc.setJobGroup(group, name)
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            window = set(range(before + 1, _newest_job_id(sc) + 1))
            in_group = set(sc.statusTracker().getJobIdsForGroup(group))
            assert window, name
            assert sorted(window - in_group) == [], name
            release_all_session_blocks(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
