"""Text analysis operators for training-data pipelines.

Everything is built-in column expressions (regexp_count, split, higher-order
filters) — JVM-side, whole-stage-codegen'd, no Python in the hot path. The
language-ID heuristic and quality score are deterministic formulas so the
DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.portable_hash import (
    WS_RE,
    spark_hash64,
    spark_hash_raw60,
    spark_shingles,
    spark_word_ngrams,
)

# BPE-ish tokenizer: letter runs, digit runs, single non-space symbols.
# The whitespace class is SPELLED OUT, never \s: the pattern runs under
# Java regex (Spark regexp_count), RE2 (the DuckDB oracle interpolates this
# exact string, llm.py), and Python re (the pandas_udf scorer), and their
# \s sets disagree on vertical tab (\x0b: Java/Python-ASCII include it, RE2
# does not). The explicit class makes \x0b a symbol/punct char everywhere,
# matching _ALNUM_WS below and functions/portable_hash.WS_RE.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"

# Shared by the expression scorer, the pandas_udf scorer, and BPE_PATTERN's
# symbol branch — must stay byte-identical or the pinned equivalence breaks.
PUNCT_PATTERN = r"[^A-Za-z0-9 \t\n\f\r]"

# The same character class as PUNCT_PATTERN's complement, spelled out for
# F.translate — counting punctuation by deleting alnum+whitespace and taking
# the remaining length is a per-char table lookup, measured ~8× faster than
# regexp_count on this corpus.
import string as _string

# \x0b deliberately EXCLUDED: the cross-engine whitespace set is RE2's \s
# (see functions/portable_hash.WS_RE) and RE2 counts vertical tab as
# punctuation — _ALNUM_WS must agree or punct ratios diverge from the oracle
_ALNUM_WS = _string.ascii_letters + _string.digits + " \t\n\f\r"

# Marker-word sets for the n-gram/stopword language heuristic. (The fixture
# corpus is synthetic; what matters is that the score is a pure function of
# the text, reproducible in SQL.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["data", "hash", "merge", "window"],
    "es": ["row", "query", "scan", "table"],
    "fr": ["key", "value", "sort", "filter"],
    "zh": ["spark", "batch", "stream", "agg"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # tie-break preference


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text."""
    return F.split(F.trim(text), WS_RE)  # explicit cross-engine class


def _spread(df: DataFrame) -> DataFrame:
    """Regex/tokenize stages are CPU-bound; spread small scans across cores
    (same pattern as operators/dedup.shingle_hashes — a small parquet file
    otherwise arrives as one or two partitions)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    df = _spread(df)
    t = F.col(text_col)
    # size(split(NULL)) is -1 in Spark while LEN(NULL) is NULL in ANSI SQL
    # (the documented size(NULL) trap, guarded in repetition_features) — a
    # NULL text must count NULL tokens, not -1
    return df.withColumns(
        {
            "n_chars": F.length(t).cast("int"),
            "n_ws_tokens": F.when(t.isNotNull(), F.size(ws_tokens(t))),
            "n_bpe_tokens": F.regexp_count(t, F.lit(BPE_PATTERN)).cast("int"),
        }
    )


def quality_features(df: DataFrame, text_col: str, stopwords: list[str]) -> DataFrame:
    """Length/punctuation/stopword features + a composite quality score.

    score = 0.4*stopword_ratio + 0.3*(1 - punct_ratio) + 0.3*min(n_words,100)/100,
    computed in double with an expression shape the oracle mirrors exactly.
    """
    t = F.col(text_col)
    # materialize tokens once — inlining the split into every consumer
    # re-splits the text per expression (see functions/portable_hash PERF note)
    df = _spread(df).withColumn("__toks", ws_tokens(t))
    toks = F.col("__toks")
    # NULL text → NULL counts/ratios (size(NULL) would give -1 and a
    # nonsense -1.0 stopword_ratio; the oracle's LEN(NULL) is NULL)
    n_words = F.when(t.isNotNull(), F.size(toks))
    # membership via array_contains on a literal array — Column.isin is not
    # supported on lambda variables inside higher-order functions
    sw_arr = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.when(
        t.isNotNull(), F.size(F.filter(toks, lambda x: F.array_contains(sw_arr, x)))
    )
    n_punct = F.length(F.translate(t, _ALNUM_WS, "")).cast("int")
    punct_ratio = n_punct.cast("double") / F.greatest(F.length(t), F.lit(1)).cast("double")
    stop_ratio = n_stop.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    cap_words = F.least(n_words, F.lit(100))
    score = (
        F.lit(0.4) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * (cap_words.cast("double") / F.lit(100.0))
    )
    return df.withColumns(
        {
            "n_words": n_words,
            "stopword_ratio": stop_ratio,
            "punct_ratio": punct_ratio,
            "quality_score": score,
        }
    ).drop("__toks")


def language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Marker-word language scoring with deterministic arg-max.

    Emits one count per language plus the predicted language (ties broken by
    LANG_ORDER preference).
    """
    # materialize tokens once (5 marker filters would otherwise each re-split)
    df = _spread(df).withColumn("__toks", ws_tokens(F.col(text_col)))
    toks = F.col("__toks")
    t = F.col(text_col)

    # closure factory, not lambda default-args (see operators/dedup.py note).
    # NULL text → NULL score, EXPLICITLY: unguarded size(filter(split(NULL)))
    # is -1 or NULL depending on the session's legacy-sizeOfNull/ANSI combo,
    # and the oracle's LEN over a NULL list is NULL — the when() pins the
    # one engine-identical value (same guard as quality_features above).
    def marker_count(ws: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in ws])
        return F.when(
            t.isNotNull(), F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
        )

    counts = {lang: marker_count(ws) for lang, ws in LANG_MARKERS.items()}
    out = df.withColumns({f"score_{lang}": c for lang, c in counts.items()}).drop("__toks")
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = None
    for lang in reversed(LANG_ORDER):
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, lang) if pred is None else F.when(cond, lang).otherwise(pred)
    # reversed+overwrite ⇒ the FIRST lang in LANG_ORDER achieving the max
    # wins. NULL text has no language: lang_pred NULL, mirrored by the
    # oracle's leading score-IS-NULL arm (an unguarded when-chain would
    # fall through to NULL here but to the ELSE language in SQL's CASE).
    return out.withColumn(
        "lang_pred", F.when(F.col(f"score_{LANG_ORDER[0]}").isNotNull(), pred)
    )


def quality_score_pandas_udf(df: DataFrame, text_col: str, stopwords: list[str]) -> DataFrame:
    """The same composite quality score as ``quality_features`` but through a
    vectorized @pandas_udf — the reference point for the UDF surface.

    Exists to (a) demonstrate the Arrow-batched scalar-UDF path and (b) pin
    its equivalence to the pure-expression version in tests. The expression
    version stays the production path (JVM codegen, no Python); reach for
    pandas_udf only when an operator genuinely can't be expressed in columns.
    """
    import re

    sw = set(stopwords)
    # PUNCT_PATTERN spells its whitespace class out (no \s), so Python's
    # Unicode-vs-ASCII \s question never arises and \x0b counts as
    # punctuation exactly as in the expression scorer's _ALNUM_WS.
    punct_re = re.compile(PUNCT_PATTERN)
    ws_re = re.compile("[ \t\n\f\r]+")  # same set as WS_RE

    @F.pandas_udf("double")
    def score(texts: pd.Series) -> pd.Series:
        def one(t) -> float | None:
            if t is None:
                return None  # expression version yields NULL for NULL text
            # F.trim strips the space char only; re.split('' ) -> [''] exactly
            # like Spark's split, so n_words for empty text matches (=1)
            toks = ws_re.split(t.strip(" "))
            n_words = len(toks)
            n_stop = sum(1 for x in toks if x in sw)
            n_punct = len(punct_re.findall(t))
            punct_ratio = n_punct / max(len(t), 1)
            stop_ratio = n_stop / max(n_words, 1)
            return 0.4 * stop_ratio + 0.3 * (1.0 - punct_ratio) + 0.3 * (min(n_words, 100) / 100.0)

        return texts.map(one)

    return df.withColumn("quality_score_udf", score(F.col(text_col)))


def repetition_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition quality signals (the Gopher-family filters): duplicate
    word / 2-gram / 3-gram fractions and the most-frequent-word share.

    Scale shape: the n-gram fractions are pure per-row column expressions;
    only the top-word share aggregates (explode → count per (doc, word) with
    map-side partial aggregation → max per doc), then joins back on the doc
    id. Every ratio is an int/int double division the SQL oracle mirrors
    bit-for-bit.
    """
    t = F.col(text_col)
    # token projection materialized ONCE: the per-row n-gram branch and the
    # top-word explode branch below both consume __toks — left lazy, each
    # branch re-runs the regex split over the whole corpus (A/B-measured,
    # see SCALE.md); only (id, tokens) is checkpointed, source
    # columns are projected away first
    df = (
        _spread(df)
        .select(F.col(id_col), ws_tokens(t).alias("__toks"))
        .localCheckpoint(eager=True)
    )
    toks = F.col("__toks")
    # size(NULL) is -1 in Spark; a NULL-text doc must report NULL word count
    # (what the SQL oracle's LEN(NULL) yields), not -1
    n = F.when(toks.isNotNull(), F.size(toks))

    def dup_frac(k: int) -> Column:
        """1 - distinct/total over word k-grams; 0.0 when fewer than k words.

        k-grams come from the ONE shared gram shape (portable_hash._gram via
        spark_word_ngrams) — byte-identical to the oracle's
        ``t[i] || ' ' || t[i+1]`` within bounds, and keeping it shared is
        what guarantees every word-level oracle keeps matching."""
        if k == 1:
            total, grams = n, toks
        else:
            total = n - (k - 1)
            grams = spark_word_ngrams(t, k, toks=toks)
        frac = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast(
            "double"
        )
        return F.when(total >= 1, frac).otherwise(F.lit(0.0))

    base = df.select(
        F.col(id_col),
        n.alias("n_words"),
        dup_frac(1).alias("dup_word_frac"),
        dup_frac(2).alias("dup_bigram_frac"),
        dup_frac(3).alias("dup_trigram_frac"),
    )
    top = (
        df.select(F.col(id_col), F.explode(toks).alias("__w"))
        .groupBy(id_col, "__w")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("__top_c"), F.sum("count").alias("__n"))
        .select(
            F.col(id_col),
            (F.col("__top_c").cast("double") / F.col("__n").cast("double")).alias(
                "top_word_frac"
            ),
        )
    )
    # LEFT join: a NULL-text doc produces no exploded token rows, and a
    # quality-filter stage must keep every document (an inner join would
    # silently drop such docs from the corpus); top_word_frac stays NULL
    # for NULL text only. An EMPTY-string doc is different: split(trim(''))
    # is [''], so it emits one ''-token row and gets top_word_frac = 1.0 —
    # on both engines (unnest emits the '' row too).
    return base.join(top, id_col, "left")


def fingerprint(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Document fingerprint: min of rolling k-gram hashes (MinHash with one
    hash function) — a compact content id robust to small reorderings.

    Hashing every char k-gram is CPU-bound → spread the input first (a small
    single-file table otherwise runs on one core)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    sh = spark_shingles(F.col(text_col), k)
    fp = F.array_min(F.transform(sh, lambda s: spark_hash64(s)))
    return df.repartition(n).select(F.col(id_col), fp.alias("fingerprint"))


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str, top_k: int = 5) -> DataFrame:
    """Top-k terms per document by TF-IDF, deterministic tie-break on term.

    Uses the rational idf variant N/df (no log): ranking within a document is
    what the op is for, log is monotone, and keeping every ratio an int/int
    double division makes the score bit-reproducible in any SQL oracle.

    Scale shape: explode → count per (doc, term) with map-side partial agg
    (shuffle 1, on the (doc, term) pair — high cardinality, no skew), window
    per-doc totals ride the same partitioning, document frequency is a window
    over term (shuffle 2), top-k a window over doc (shuffle 3). The corpus
    size N joins in as a broadcast 1-row frame. No stage is quadratic; at
    100 TB the (doc, term) aggregate dominates and partial aggregation keeps
    its shuffle proportional to distinct pairs, not tokens.
    """
    df = _spread(df)
    tc = df.select(F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term"))
    c = tc.groupBy(id_col, "term").agg(F.count("*").alias("tc"))
    n_doc = F.sum("tc").over(W.partitionBy(id_col))
    # Document frequency via groupBy, NOT a window over term: a window ships
    # every (doc, term) row of a hot term to one reducer (stop-words appear in
    # every doc — guaranteed skew at scale), while groupBy partial-aggregates
    # map-side so each term arrives as one row per upstream partition. The
    # join back is AQE's choice (broadcast for small vocabularies).
    dfreq = c.groupBy("term").agg(F.count("*").alias("__df"))
    n_docs = df.select(F.count("*").alias("__n_docs"))
    scored = (
        c.withColumn("__n", n_doc)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tc").cast("double") / F.col("__n").cast("double"))
            * (F.col("__n_docs").cast("double") / F.col("__df").cast("double")),
        )
    )
    rank = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    )
    return (
        scored.withColumn("rank", rank.cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tfidf", "rank")
    )


def ngram_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    k-gram with an evaluation set — the standard pre-training hygiene step
    (eval answers leaking into training data inflate benchmark scores).

    Returns (id, n_grams, n_matched, overlap_frac, contaminated) for every
    corpus document, including gram-less ones.

    Scale shape: the eval side (benchmark suites: thousands of docs) reduces
    to a distinct gram-hash set and BROADCASTS — the corpus streams past it
    with no shuffle for the probe; the only corpus shuffle is the per-doc
    match count on id. At 100 TB that asymmetry (tiny eval vs huge corpus)
    is exactly what makes broadcast the right plan; if the eval side ever
    outgrew broadcast range, the same pipeline with a shuffle join on the
    gram hash is the fallback.
    """
    from crystal_parquet_database_spark.functions.portable_hash import (
        spark_word_shingles,
    )
    from crystal_parquet_database_spark.operators.dedup import shingle_hashes

    # Eval side: explode the shingle STRINGS first, hash after, as scalars —
    # exploding a transform(..., md5) array re-evaluates the whole hash array
    # per emitted element (the O(grams²) pitfall documented on simhash;
    # measured ~15× slower here). The distinct gram set is tiny; materialize
    # it once so the two downstream consumers don't re-run the eval scan.
    t = F.col(text_col)
    ev_sh = eval_set.withColumn("__toks", ws_tokens(t)).select(
        F.explode(spark_word_shingles(t, k, toks=F.col("__toks"))).alias("__s")
    )
    # FULL-WIDTH 60-bit gram hashes on BOTH sides: contamination fires on
    # n_matched > 0, so a single mod-P cross-collision between a clean
    # corpus gram and ANY eval gram false-positives the whole document —
    # at ~10^6 eval grams in a 2^31 space a clean 2,000-gram document has
    # ~1 expected false match. The 60-bit space cuts that by ~2^29.
    ev = (
        ev_sh.select(spark_hash_raw60(F.col("__s")).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Corpus side: the hash stage feeds two consumers (per-doc gram count and
    # the exploded probe); materialize it once — same reasoning as
    # minhash_lsh_dedup.
    hs = shingle_hashes(corpus, text_col, k, full_width=True).localCheckpoint(
        eager=True
    )
    base = hs.select(F.col(id_col), F.size("hs").alias("n_grams"))
    matched = (
        hs.select(F.col(id_col), F.explode("hs").alias("g"))
        .join(F.broadcast(ev), "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched"))
    )
    out = base.join(matched, id_col, "left").withColumn(
        "n_matched", F.coalesce(F.col("n_matched"), F.lit(0)).cast("int")
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.col("n_matched").cast("double") / F.col("n_grams").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_grams",
        "n_matched",
        frac.alias("overlap_frac"),
        (F.col("n_matched") > 0).alias("contaminated"),
    )


def pack_sequences(
    df: DataFrame, text_col: str, id_col: str, capacity: int = 512
) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents in id order and
    chop into fixed-capacity token windows (the GPT-style pack-and-chunk).
    Emits per doc: token count, the bin it starts in, its offset there, and
    whether it spans a bin boundary.

    The core is a GLOBAL running token sum — the one window Spark cannot do
    scalably as `Window.orderBy` (that plans a single-partition exchange). The
    scalable form is the classic two-phase prefix sum: range-partition by id,
    run the window WITHIN each partition, and add per-partition base offsets
    computed from the (tiny, one row per partition) partial-sum table
    broadcast back. The only driver-side data is that partition-sum table —
    bounded by partition count, not data size. Values are independent of
    where the range boundaries land, so the op is deterministic even though
    range sampling isn't guaranteed to be.
    """
    return _pack_and_chop(df, text_col, id_col, capacity, order_keys=[id_col])


def pack_sequences_sorted(
    df: DataFrame, text_col: str, id_col: str, capacity: int = 512
) -> DataFrame:
    """Length-sorted sequence packing: same pack-and-chop as
    ``pack_sequences`` but documents are ordered by (token count, id) before
    packing, so every bin holds documents of near-identical length — the
    length-bucketing a curriculum schedule or a padding-free batcher wants.
    (Under chop semantics the boundary-span RATE is order-invariant — what
    sorting buys is within-bin length homogeneity, which the test asserts.)

    Scale shape is identical to ``pack_sequences``: range-partition by the
    sort key, per-partition window, broadcast per-partition base offsets —
    no single-partition global window anywhere.
    """
    return _pack_and_chop(df, text_col, id_col, capacity, order_keys=["n_tokens", id_col])


def _pack_and_chop(
    df: DataFrame, text_col: str, id_col: str, capacity: int, order_keys: list[str]
) -> DataFrame:
    """Shared two-phase-prefix-sum body of the pack variants: range-partition
    by ``order_keys``, per-partition running sum, broadcast per-partition
    base offsets, then chop the global cumulative position into bins. The
    variants differ ONLY in the global document order."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.select(
            F.col(id_col),
            # NULL-text guard (module convention): size(NULL) is -1 on a
            # legacy-sizeOfNull session — an unguarded -1 here shifts EVERY
            # later document's cumulative position corpus-wide
            F.when(
                F.col(text_col).isNotNull(), F.size(ws_tokens(F.col(text_col)))
            ).alias("n_tokens"),
        )
        # asc_nulls_last on EVERY order key (range partitioner AND window):
        # the sorted variant orders by the nullable n_tokens, and Spark's
        # plain asc puts a NULL-token (no-content) doc FIRST while the
        # oracle's DuckDB default puts it LAST — shifting every document's
        # bin assignment. NULLS LAST both sides: no-content docs pack at
        # the tail, consuming zero capacity.
        .repartitionByRange(n_part, *[F.col(k).asc_nulls_last() for k in order_keys])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: 3 consumers below
    )
    within = F.sum("n_tokens").over(
        W.partitionBy("__pid")
        .orderBy(*[F.col(k).asc_nulls_last() for k in order_keys])
        .rowsBetween(W.unboundedPreceding, -1)
    )
    psums = (
        d.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("__psum"))
        .withColumn(
            "__base",
            F.coalesce(
                F.sum("__psum").over(
                    W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__base")
    )
    cum = F.coalesce(F.col("__w"), F.lit(0)) + F.col("__base")
    return (
        d.withColumn("__w", within)
        .join(F.broadcast(psums), "__pid")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            # bigint: an int bin_id caps the packer at 2^31 bins (~1.1e12
            # tokens at capacity 512) — under ANSI the cast ABORTS past
            # that, and a 100 TB corpus holds ~25T tokens
            F.floor(cum / capacity).cast("bigint").alias("bin_id"),
            (cum % capacity).cast("int").alias("bin_offset"),
            ((cum % capacity) + F.col("n_tokens") > capacity).alias("spans_boundary"),
        )
    )


def token_budget_per_group(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    budget: int,
    salt: str = "budget:",
) -> DataFrame:
    """Keep a deterministic token-budgeted subset of each group: within every
    ``group_col`` value, order documents by a portable hash of their id (a
    stable shuffle) and keep documents while the running token total before
    them is under ``budget``. This is how a mixture is specified in TOKENS
    rather than document counts — the unit a pretraining recipe actually
    budgets.

    The running sum is a per-group prefix sum. A plain
    ``Window.partitionBy(group)`` would put one whole group on one task —
    with a handful of sources over 100 TB that's the worst skew possible. So
    the prefix sum is two-phase like ``pack_sequences``, generalized per
    group: range-partition by (group, hash, id) so each partition holds a
    contiguous slice of one-or-more groups' hash order, window WITHIN the
    partition, then add per-(partition, group) base offsets computed from the
    tiny partial-sum table (≤ partitions × groups-crossing-boundaries rows)
    broadcast back. Every group can span many partitions; no task ever sees
    more than ~1/n_part of a group.

    Output: (id, group, n_tokens, cum_before) for kept documents.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    h = spark_hash64(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    d = (
        df.select(
            F.col(id_col),
            F.col(group_col).alias("__grp"),
            # NULL-text guard: see _pack_and_chop (an unguarded size(NULL)
            # = -1 corrupts the budget prefix sums on legacy sessions)
            F.when(
                F.col(text_col).isNotNull(), F.size(ws_tokens(F.col(text_col)))
            ).alias("n_tokens"),
            h.alias("__h"),
        )
        .repartitionByRange(n_part, F.col("__grp"), F.col("__h"), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: 3 consumers below
    )
    within = F.sum("n_tokens").over(
        W.partitionBy("__pid", "__grp")
        .orderBy("__h", id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    psums = (
        d.groupBy("__pid", "__grp")
        .agg(F.sum("n_tokens").alias("__psum"))
        .withColumn(
            "__base",
            F.coalesce(
                F.sum("__psum").over(
                    W.partitionBy("__grp")
                    .orderBy("__pid")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__grp", "__base")
    )
    cum = F.coalesce(F.col("__w"), F.lit(0)) + F.col("__base")
    # NULL-SAFE group key in the re-join: the windows and the psums
    # aggregate all treat a NULL group as its own group, but a plain
    # ["__pid", "__grp"] equi-join never matches NULL — every NULL-group
    # document silently vanished from the output while the oracle's
    # PARTITION BY kept them (the same dropped-NULL-key trap as the
    # llm_corpus_pipeline digest join)
    p = F.broadcast(
        psums.select(
            F.col("__pid").alias("__ppid"),
            F.col("__grp").alias("__pgrp"),
            "__base",
        )
    )
    return (
        d.withColumn("__w", within)
        .join(
            p,
            (F.col("__pid") == F.col("__ppid"))
            & F.col("__grp").eqNullSafe(F.col("__pgrp")),
        )
        .withColumn("cum_before", cum)
        .filter(F.col("cum_before") < budget)
        .select(
            F.col(id_col),
            F.col("__grp").alias(group_col),
            F.col("n_tokens"),
            F.col("cum_before"),
        )
    )


def chunk_dedup_stats(
    df: DataFrame, text_col: str, id_col: str, width: int = 16
) -> DataFrame:
    """Cross-document chunk-level duplication: split each document into
    consecutive ``width``-token blocks, hash each block, and report per
    document how many blocks also occur in at least one OTHER document
    (sub-document dedup signal — catches boilerplate shared across pages
    that document-level dedup misses).

    Scale shape: explode → groupBy the 60-bit chunk hash (uniform shuffle
    key; partial agg collapses mass-duplicated chunks map-side) → sort-merge
    join back on the same key (both sides already hash-partitioned by it) →
    per-doc aggregate. A window over chunk_hash would ship every copy of a
    hot boilerplate chunk to one reducer — groupBy+join is deliberate, same
    reasoning as tfidf_top_terms' document-frequency stage.
    """
    df = _spread(df)
    d = df.select(F.col(id_col), ws_tokens(F.col(text_col)).alias("__t"))
    n_full = (F.size("__t") / width).cast("int")

    def chunk(i: Column) -> Column:
        # FULL-WIDTH 60-bit hash: chunk identity is collision-sensitive
        # (a collision inflates n_shared for unrelated documents), and
        # nothing here needs the mod-P reduction MinHash's affine
        # transforms require — the 31-bit space expects collisions by
        # ~2^16 distinct chunks (certain at corpus scale)
        return spark_hash_raw60(
            F.array_join(F.slice(F.col("__t"), i * width + 1, width), " ")
        )

    chunks = F.when(
        n_full >= 1, F.transform(F.sequence(F.lit(0), n_full - 1), chunk)
    ).otherwise(F.array().cast("array<bigint>"))
    # materialize the tokenize→slice→hash→explode stream ONCE: both the df
    # stage and the join probe consume it, and un-materialized it re-runs the
    # most expensive stage twice (same pattern as ngram_decontaminate /
    # bigram_fluency)
    ch = d.select(F.col(id_col), F.explode(chunks).alias("chunk_hash")).localCheckpoint(
        eager=True
    )
    freq = ch.groupBy("chunk_hash").agg(
        F.count_distinct(F.col(id_col)).alias("__dwc")
    )
    per_doc = (
        ch.join(freq, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("__dwc") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_chunks"), F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            F.when(
                F.coalesce(F.col("n_chunks"), F.lit(0)) > 0,
                F.col("n_shared").cast("double") / F.col("n_chunks").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("shared_ratio"),
        )
    )


def ngram_topk(df: DataFrame, text_col: str, n: int = 2, k: int = 20) -> DataFrame:
    """Top-k corpus word n-grams by occurrence count (deterministic
    tie-break on the gram itself) — the classic distributed word-count
    shape: explode → partial-agg groupBy (shuffle key is the gram; stop-word
    grams are collapsed map-side so no reducer hotspot) → global top-k via
    TakeOrdered (no full sort)."""
    # Materialize tokens as a real projected column — passing the ws_tokens
    # EXPRESSION as `toks` still re-splits the text per element_at inside the
    # gram lambda (no CSE across lambda scopes; visible in the plan). The
    # TEXT column rides along as c: the ngrams variant's short-text branch
    # happens not to read c today, but its shingles sibling trims c in the
    # same position — passing the token ARRAY as c is a latent type error.
    d = _spread(df).select(
        F.col(text_col).alias("__text"), ws_tokens(F.col(text_col)).alias("__t")
    )
    grams = spark_word_ngrams(F.col("__text"), n, toks=F.col("__t"))
    return (
        d.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


# PII patterns — deliberately simple enough to mean the same thing in Java
# regex (Spark) and RE2 (DuckDB): character classes, bounded repeats, no
# backrefs/lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+1-555-[0-9]{4}"


def pii_redact(df: DataFrame, text_col: str) -> DataFrame:
    """Count and redact email/phone PII via chained regexp_replace — pure
    column expressions, whole-stage-codegen'd; at 100 TB this is a map-only
    stage with zero shuffle.

    Counting contract: n_emails/n_phones count pattern occurrences in the
    RAW text, independently — a phone-shaped substring inside an email's
    local part counts under both even though the chained replacement only
    redacts it once (as part of [EMAIL]). The counts are per-pattern
    exposure metrics, not a ledger of replacements made."""
    df = _spread(df)
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "[EMAIL]"), PHONE_PATTERN, "[PHONE]"
    )
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t, F.lit(EMAIL_PATTERN)).cast("int"),
            "n_phones": F.regexp_count(t, F.lit(PHONE_PATTERN)).cast("int"),
            "redacted_md5": F.md5(redacted),
        }
    ).drop(text_col)


def global_shuffle_rank(df: DataFrame, id_col: str, salt: str = "shuffle:") -> DataFrame:
    """Deterministic global pretraining-order shuffle: every row ranked by a
    portable salted hash of its id (doc_id tie-break for collisions).

    A bare ``Window.orderBy`` global row_number plans a single-partition
    exchange — the whole corpus through one reducer. This is the scalable
    form (same two-phase prefix sum as ``pack_sequences``): range-partition
    by the sort key, rank WITHIN each partition, add per-partition base
    offsets from the one-row-per-partition count table broadcast back. The
    output is independent of where range boundaries land (the (hash, id) key
    is unique), so the rank is deterministic even though range sampling
    isn't guaranteed to be.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    h = spark_hash64(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    d = (
        df.select(F.col(id_col), h.alias("__h"))
        .repartitionByRange(n_part, F.col("__h"), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: two consumers below
    )
    rn = F.row_number().over(W.partitionBy("__pid").orderBy("__h", id_col))
    bases = (
        d.groupBy("__pid")
        .agg(F.count("*").alias("__cnt"))
        .withColumn(
            "__base",
            F.coalesce(
                F.sum("__cnt").over(
                    W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__base")
    )
    return (
        d.withColumn("__rn", rn)
        .join(F.broadcast(bases), "__pid")
        .select(
            F.col(id_col),
            (F.col("__rn") + F.col("__base")).cast("bigint").alias("shuffle_pos"),
        )
    )


def dedup_chunks_keep_first(
    df: DataFrame, text_col: str, id_col: str, width: int = 16
) -> DataFrame:
    """C4-style sub-document dedup with a rewrite: split each document into
    ``width``-token blocks, keep only the globally FIRST occurrence of each
    block (ordered by (doc_id, position) — repeats later in the same document
    are removed too), and rebuild the document from its surviving blocks plus
    its (always kept) tail remainder.

    Returns (id, n_kept, n_removed, cleaned_md5) — the md5 stands in for the
    rebuilt text so the output stays canonicalizer-safe; a write path would
    emit the text itself.

    Scale shape: same as ``chunk_dedup_stats`` — the 60-bit block hash is the
    one shuffle key (uniform; mass-duplicated boilerplate collapses in the
    map-side partial min) — plus a per-document collect_list for reassembly,
    bounded by document size, shuffled on the id.
    """
    df = _spread(df)
    toks = ws_tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("__t")).withColumn(
        "__nf", (F.size("__t") / width).cast("int")
    )

    def block(i: Column) -> Column:
        return F.array_join(F.slice(F.col("__t"), i * width + 1, width), " ")

    chunks = F.when(
        F.col("__nf") >= 1,
        F.transform(
            F.sequence(F.lit(0), F.col("__nf") - 1),
            lambda i: F.struct(i.alias("pos"), block(i).alias("ctext")),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,ctext:string>>"))
    tail = F.array_join(
        F.slice(F.col("__t"), F.col("__nf") * width + 1, F.greatest(F.size("__t") - F.col("__nf") * width, F.lit(0))),
        " ",
    )
    # base materialized: two consumers (the chunk explode below and the
    # final reassembly join) otherwise EACH re-run the tokenize→slice over
    # the raw corpus — the most expensive expression in the plan
    # (A/B-measured, see SCALE.md)
    base = d.select(
        F.col(id_col), tail.alias("__tail"), chunks.alias("__c")
    ).localCheckpoint(eager=True)

    ch = base.select(F.col(id_col), F.explode("__c").alias("c")).select(
        F.col(id_col),
        F.col("c.pos").alias("pos"),
        F.col("c.ctext").alias("ctext"),
        # FULL-WIDTH 60-bit chunk identity (see chunk_dedup_stats): a 31-bit
        # collision here doesn't just skew a statistic — it marks another
        # document's unrelated block __keep=false and silently REMOVES it
        # from the rebuilt text
    ).withColumn("chash", spark_hash_raw60(F.col("ctext")))
    # materialize the tokenize→slice→hash→explode stream ONCE (same
    # two-consumer shape chunk_dedup_stats materializes for): the
    # first-occurrence groupBy AND the flagged join probe both consume ch;
    # un-materialized, the most expensive stage runs twice per call
    ch = ch.localCheckpoint(eager=True)
    first = ch.groupBy("chash").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("__f")
    )
    flagged = ch.join(first, "chash").withColumn(
        "__keep",
        (F.col(id_col) == F.col("__f.d")) & (F.col("pos") == F.col("__f.p")),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct(F.col("pos"), F.col("ctext")))
                    )
                ),
                lambda s: s.getField("ctext"),
            ),
            " ",
        ).alias("__kept_text"),
    )
    joined = base.join(per_doc, id_col, "left")
    cleaned = F.when(
        F.coalesce(F.col("__kept_text"), F.lit("")) == "", F.col("__tail")
    ).otherwise(
        F.when(F.col("__tail") == "", F.col("__kept_text")).otherwise(
            F.concat(F.col("__kept_text"), F.lit(" "), F.col("__tail"))
        )
    )
    return joined.select(
        F.col(id_col),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


def boilerplate_chunks(
    df: DataFrame, text_col: str, id_col: str, width: int = 8, min_docs: int = 2
) -> DataFrame:
    """RefinedWeb/C4-style cross-corpus BOILERPLATE removal: split each
    document into ``width``-token blocks and remove EVERY occurrence of any
    block whose exact text appears in ≥ ``min_docs`` DISTINCT documents —
    the "discard any line occurring repeatedly across the corpus" rule
    (C4's three-sentence-span filter, RefinedWeb's line dedup), as opposed
    to ``dedup_chunks_keep_first`` where the first occurrence survives: a
    boilerplate header/footer should not survive even once.

    Returns (id, n_chunks, n_boiler, boiler_fraction, cleaned_md5) — counts
    per document, the removed-mass fraction (the per-doc filter signal), and
    the md5 of the rebuilt text (surviving blocks in order plus the always-
    kept tail remainder, the keep-first sibling's convention).

    Scale shape: one chunk-hash-keyed shuffle for the document-frequency
    count (countDistinct's two-phase partial aggregation — mass-duplicated
    boilerplate collapses map-side), one equi-join of the exploded chunks
    against the per-hash frequencies, one id-keyed reassembly aggregation.
    All linear; the 60-bit block hash is the full-width identity
    (``dedup_chunks_keep_first``'s collision argument: a 31-bit collision
    would delete another document's unrelated block).
    """
    df = _spread(df)
    toks = ws_tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("__t")).withColumn(
        "__nf", (F.size("__t") / width).cast("int")
    )

    def block(i: Column) -> Column:
        return F.array_join(F.slice(F.col("__t"), i * width + 1, width), " ")

    chunks = F.when(
        F.col("__nf") >= 1,
        F.transform(
            F.sequence(F.lit(0), F.col("__nf") - 1),
            lambda i: F.struct(i.alias("pos"), block(i).alias("ctext")),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,ctext:string>>"))
    tail = F.array_join(
        F.slice(
            F.col("__t"),
            F.col("__nf") * width + 1,
            F.greatest(F.size("__t") - F.col("__nf") * width, F.lit(0)),
        ),
        " ",
    )
    # materialized once for the same two consumers as the keep-first sibling
    # (chunk explode + reassembly join re-run tokenize→slice otherwise)
    base = d.select(
        F.col(id_col), tail.alias("__tail"), chunks.alias("__c")
    ).localCheckpoint(eager=True)

    ch = (
        base.select(F.col(id_col), F.explode("__c").alias("c"))
        .select(
            F.col(id_col),
            F.col("c.pos").alias("pos"),
            F.col("c.ctext").alias("ctext"),
        )
        .withColumn("chash", spark_hash_raw60(F.col("ctext")))
        .localCheckpoint(eager=True)
    )
    docfreq = ch.groupBy("chash").agg(
        F.countDistinct(F.col(id_col)).alias("__df")
    )
    flagged = ch.join(docfreq, "chash").withColumn(
        "__boiler", F.col("__df") >= int(min_docs)
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("__boiler"), 1).otherwise(0)).alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__boiler"),
                            F.struct(F.col("pos"), F.col("ctext")),
                        )
                    )
                ),
                lambda s: s.getField("ctext"),
            ),
            " ",
        ).alias("__kept_text"),
    )
    joined = base.join(per_doc, id_col, "left")
    cleaned = F.when(
        F.coalesce(F.col("__kept_text"), F.lit("")) == "", F.col("__tail")
    ).otherwise(
        F.when(F.col("__tail") == "", F.col("__kept_text")).otherwise(
            F.concat(F.col("__kept_text"), F.lit(" "), F.col("__tail"))
        )
    )
    n_chunks = F.coalesce(F.col("n_chunks"), F.lit(0)).cast("bigint")
    n_boiler = F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint")
    return joined.select(
        F.col(id_col),
        n_chunks.alias("n_chunks"),
        n_boiler.alias("n_boiler"),
        F.when(
            n_chunks > 0, n_boiler.cast("double") / n_chunks.cast("double")
        ).alias("boiler_fraction"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    text_col: str,
    id_col: str,
    budget_docs: int = 1000,
) -> DataFrame:
    """Temperature-resampled mixture weights over a grouping column (mT5 /
    multilingual-T5 α-sampling with α = 1/2): each group's sampling weight
    is sqrt(token_count) normalized over all groups, which upsamples
    low-resource groups relative to their raw token share. α = 1/2 is the
    one temperature that can be ORACLE-EXACT: IEEE 754 requires sqrt to be
    correctly rounded (unlike pow/exp/ln — the DSIR log-free argument), so
    sqrt over an exact int64 token sum is bit-identical cross-engine.

    The normalizing denominator is a SEQUENTIAL fold over the per-group
    sqrts in group order (collect_list sorted, then the left-fold sum the
    exactness contract uses everywhere) — a plain SUM() would be
    order-nondeterministic in double. Rows with a NULL group carry no
    sampling weight (unlabeled docs are not a mixture component).

    Output per group: token/doc counts (exact), weight (double), and
    target_docs = floor(weight · budget_docs) — the per-group allocation a
    sampler would draw.

    Scale shape: one groupBy on the group key (cardinality = #languages /
    #sources — tiny), one single-row fold over the group table, one
    broadcast join back. The corpus is touched exactly once.
    """
    toks = F.when(
        F.col(text_col).isNotNull(), F.size(ws_tokens(F.col(text_col)))
    )
    g = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("grp"), toks.alias("__n"))
        .groupBy("grp")
        .agg(
            F.sum("__n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        .withColumn(
            "__s", F.sqrt(F.coalesce(F.col("n_tokens"), F.lit(0)).cast("double"))
        )
    )
    den = g.select(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("grp"), F.col("__s").alias("s")))
                ),
                lambda x: x.getField("s"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("__den")
    )
    out = g.crossJoin(F.broadcast(den))
    weight = F.when(F.col("__den") > 0.0, F.col("__s") / F.col("__den"))
    return out.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "n_docs",
        weight.alias("weight"),
        F.floor(weight * F.lit(float(budget_docs))).cast("bigint").alias(
            "target_docs"
        ),
    )


# Hashed-linear-classifier constants: feature dim, multiplier (Knuth's
# 32-bit golden-ratio constant), weight modulus/offset. Shared with the
# oracle SQL in surface/llm.py so both engines score identically.
CLF_DIM = 64
CLF_MULT = 2654435761
CLF_MOD = 97
CLF_OFF = 48


def quality_classifier_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Model-scored quality filtering, fasttext/DCLM-style: a linear
    classifier over a hashed bag-of-words. Each whitespace token hashes to
    one of ``CLF_DIM`` feature buckets (first 16 bits of md5 — portable to
    any engine with md5); the "trained" weight vector is a fixed pseudo-random
    integer formula of the bucket so the whole score is deterministic and
    oracle-exact. Swapping in real learned weights = replacing one literal
    array; the plan is identical.

    Returns (<id_col>, n_tokens, score_sum, avg_score, quality_label) —
    ``keep`` iff the mean per-token weight is non-negative.

    100 TB shape: pure map-side — tokenize, hash, fold, label inside
    whole-stage codegen; no shuffle, no Python. This is the shape a real
    quality-classifier pass has when the model is linear (hash + dot with a
    broadcast weight vector); only transformer scorers need the Pandas-UDF
    escape hatch (see quality_score_pandas_udf)."""
    # materialize tokens and the fold once — inlining them re-runs the regex
    # split (3 consumers) and the md5 fold (3 consumers) per expression (see
    # the module's materialize-once notes above)
    weight = lambda t: (  # noqa: E731 — shape mirrors the SQL oracle 1:1
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint") % CLF_DIM
    ) * CLF_MULT % CLF_MOD - CLF_OFF
    d = (
        _spread(df)
        .withColumn("__toks", ws_tokens(F.col(text_col)))
        .withColumn(
            "__score",
            F.aggregate(
                F.transform(F.col("__toks"), weight),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
    )
    score, toks = F.col("__score"), F.col("__toks")
    # NULL-text guard (module convention): n_tokens NULL, not the -1 a
    # legacy-sizeOfNull session would report (and the oracle's NULL)
    n_tok = F.when(toks.isNotNull(), F.size(toks))
    return d.select(
        F.col(id_col),
        n_tok.cast("int").alias("n_tokens"),
        score.alias("score_sum"),
        (score.cast("double") / n_tok.cast("double")).alias("avg_score"),
        F.when(score >= 0, "keep").otherwise("drop").alias("quality_label"),
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict[str, list[str]],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword search: top-``top_k`` documents per query, ranked by the
    Okapi BM25 score with a RATIONAL idf — ``(N - df + 0.5)/(df + 0.5)``
    without the usual ln() wrapper. ln is not correctly-rounded-guaranteed
    across engines (libm vs JVM low-bit drift), while the rational form is
    pure IEEE arithmetic the oracle reproduces bit-for-bit; per term it is a
    strictly monotone transform of the standard idf, so single-term rankings
    are identical and multi-term rankings simply weight rare terms harder.

    Cross-term summation is ORDER-FIXED: per-term components pivot into
    columns via conditional max (exact — no rounding) and the score is an
    explicit left-to-right ``c0 + c1 + c2`` addition, the same association
    the SQL oracle writes. A groupBy-sum of doubles would be shuffle-order-
    dependent and hash-mismatch.

    100 TB shape: the token stream filters to QUERY terms before any
    aggregation (the vocabulary of interest is tiny), doc length needs no
    explode (``size(split())`` per row), corpus stats (N, total length, df
    per query-term) are scalar/tiny aggregates broadcast back, and the only
    per-doc shuffle keys on (query_id, doc_id) over docs that contain at
    least one query term.
    """
    max_terms = max(len(t) for t in queries.values())
    spark = df.sparkSession
    qrows = [
        (qid, term, idx)
        for qid, terms in queries.items()
        for idx, term in enumerate(terms)
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, term string, idx int")

    # tokens materialized ONCE: three consumers read base (the corpus-stats
    # agg, the tf explode, and the per-doc dl join) — left lazy, each one
    # re-runs the regex split over the whole corpus, so the checkpoint
    # trades one token-array materialization for two repeated full-corpus
    # tokenize passes (A/B-measured win, see SCALE.md)
    base = (
        _spread(df)
        .withColumn("__toks", ws_tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            F.col("__toks"),
            # NULL-text guard (module convention, see _pack_and_chop): an
            # unguarded size(NULL) is -1 on legacy-sizeOfNull sessions and
            # would shift avgdl — and through it EVERY document's score
            F.when(
                F.col("__toks").isNotNull(), F.size("__toks")
            ).cast("bigint").alias("dl"),
        )
    ).localCheckpoint(eager=True)
    stats = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_dl"),
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    tf = (
        base.select(F.col(id_col), F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(all_terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df_t"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = (F.col("n_docs").cast("double") - F.col("df_t").cast("double") + F.lit(0.5)) / (
        F.col("df_t").cast("double") + F.lit(0.5)
    )
    tfn = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    comp = (
        tf.join(base.select(id_col, "dl"), id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.col("term"), (idf * tfn).alias("comp"))
    )
    pivoted = (
        comp.join(F.broadcast(qdf), "term")
        .groupBy("query_id", id_col)
        .agg(
            *[
                F.max(F.when(F.col("idx") == i, F.col("comp"))).alias(f"c{i}")
                for i in range(max_terms)
            ]
        )
    )
    score = F.coalesce(F.col("c0"), F.lit(0.0))
    for i in range(1, max_terms):
        score = score + F.coalesce(F.col(f"c{i}"), F.lit(0.0))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        pivoted.select("query_id", F.col(id_col), score.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


def bigram_fluency(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rare_max_count: int = 1,
) -> DataFrame:
    """Corpus-trained bigram language-model signal, in exact integer
    arithmetic (the log-free stand-in for a KenLM perplexity filter):

    - ``fluency`` — pooled transition commonness: over the document's word
      bigrams (w1, w2), Σ corpus_count(w1, w2) / Σ corpus_count(w1·) — high
      when the document walks transitions the corpus takes often (fluent /
      boilerplate), low when transitions are unusual. Both sums are exact
      int64; ONE final double division keeps the oracle bit-exact where a
      per-bigram −ln P average would drift in libm's low bits.
    - ``novel_ratio`` — fraction of bigram OCCURRENCES whose corpus count is
      ≤ ``rare_max_count`` (i.e. essentially unique to this document) — the
      novelty/contamination complement.

    100 TB shape: the bigram model is a groupBy count over (w1, w2) with
    map-side partials (model size = distinct corpus bigrams — vocabulary-
    bounded, not corpus-bounded); scoring joins the document's bigram stream
    against the model on the bigram key (shuffle keyed on text n-grams —
    skew-safe, no single hot key) and reduces per doc. Documents with < 2
    tokens have no bigrams and report (0, 0.0, 0.0).
    """
    grams = _spread(df).select(
        F.col(id_col),
        F.explode(spark_word_ngrams(F.col(text_col), 2)).alias("bg"),
    )
    # materialize the exploded stream once — the model aggregation AND the
    # scoring join both consume it, and the explode/split lineage would
    # otherwise run twice (same pattern as dedup.shingle_hashes)
    occs = grams.localCheckpoint(eager=True)
    model = occs.groupBy("bg").agg(F.count("*").cast("bigint").alias("c2"))
    # context counts derive from the MODEL, not the occurrence stream:
    # Σ c2 over bigrams sharing w1 == occurrences with context w1, so the
    # (vocabulary-sized) model is aggregated/joined instead of re-shuffling
    # the corpus-sized stream a second time (measured ~25% faster at sf0.1)
    model = model.withColumn("w1", F.split(F.col("bg"), " ", 2).getItem(0))
    ctx = model.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    enriched = model.join(ctx, "w1").select("bg", "c2", "c1")
    scored = (
        occs.join(enriched, "bg")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("c2").cast("bigint").alias("__s2"),
            F.sum("c1").cast("bigint").alias("__s1"),
            F.sum(F.when(F.col("c2") <= rare_max_count, 1).otherwise(0))
            .cast("bigint")
            .alias("__rare"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (F.col("__s2").cast("double") / F.col("__s1").cast("double")).alias("fluency"),
            (F.col("__rare").cast("double") / F.col("n_bigrams").cast("double")).alias(
                "novel_ratio"
            ),
        )
    )
    # keep bigram-less docs (< 2 tokens) with a zero row
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce(F.col("fluency"), F.lit(0.0)).alias("fluency"),
            F.coalesce(F.col("novel_ratio"), F.lit(0.0)).alias("novel_ratio"),
        )
    )


IR_DIM = 4096  # hashed-feature buckets for importance reweighting (DSIR uses ~10k)


def importance_reweight(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    tau: float = 1.0,
    smooth: int = 1,
) -> DataFrame:
    """DSIR-style data selection via hashed-feature importance weights (Xie
    et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much its token distribution
    looks like a TARGET domain relative to the raw source pool, then keep
    the above-``tau`` slice. ``target_col`` is a boolean/0-1 column marking
    the target-domain exemplar documents (in production: a trusted
    high-quality subcorpus; here any labeled slice).

    Per document: features are md5-hashed token buckets (``IR_DIM``; the
    quality_classifier hash idiom), num = Σ over the doc's token
    occurrences of the TARGET corpus count of that bucket, den = the same
    against the WHOLE pool, weight = (num + smooth)/(den + smooth).
    LOG-FREE BY DESIGN: literal DSIR weights are products of per-feature
    probability ratios (a log-sum) — ln is not correctly-rounded across
    engines, so this uses the pooled rational form instead (the
    bigram_fluency / BM25 rational-idf precedent): both sums are exact
    int64, ONE final double division, oracle bit-exact. The pooled form
    preserves the decision DSIR needs — documents whose mass sits in
    target-heavy buckets score high — while trading the per-feature
    product's dynamic range for cross-engine exactness (trade documented
    here, mirrored in the registered oracle).

    Returns (<id_col>, is_target, n_feats, num, den, weight, keep):
    no-content documents (NULL text / no tokens) carry n_feats=0, NULL
    weight, keep=false — the package-wide no-content contract.

    100 TB shape: the feature model is ``IR_DIM`` rows — a groupBy with
    map-side partials whose exchange carries at most IR_DIM·partitions
    rows, then a BROADCAST to the scoring pass (hash buckets are few and
    Zipf-hot, so an equi-join on the bucket key would be a skewed
    corpus-stream shuffle; broadcasting the tiny model makes scoring
    map-side). One corpus shuffle total: the per-doc re-aggregation,
    keyed on the id.
    """
    bucket = lambda t: (  # noqa: E731 — mirrors the SQL oracle 1:1
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint") % IR_DIM
    )
    base = _spread(df).select(
        F.col(id_col),
        F.col(text_col).alias("__txt"),
        F.coalesce(F.col(target_col).cast("int"), F.lit(0)).alias("is_target"),
    )
    occ = (
        base.select(
            F.col(id_col),
            "is_target",
            F.explode(ws_tokens(F.col("__txt"))).alias("__tok"),
        )
        .withColumn("__f", bucket(F.col("__tok")))
        # model aggregation AND scoring both consume the exploded stream —
        # materialize once (the bigram_fluency pattern)
        .localCheckpoint(eager=True)
    )
    model = occ.groupBy("__f").agg(
        F.sum("is_target").cast("bigint").alias("__ct"),
        F.count("*").cast("bigint").alias("__cs"),
    )
    scored = (
        occ.join(F.broadcast(model), "__f")
        .groupBy(F.col(id_col))
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("__ct").cast("bigint").alias("num"),
            F.sum("__cs").cast("bigint").alias("den"),
        )
    )
    weight = (F.col("num") + F.lit(smooth)).cast("double") / (
        F.col("den") + F.lit(smooth)
    ).cast("double")
    return (
        base.join(scored, id_col, "left")
        .select(
            F.col(id_col),
            "is_target",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            "num",
            "den",
            F.when(F.col("n_feats") > 0, weight).alias("weight"),
            F.coalesce(
                F.when(F.col("n_feats") > 0, weight) >= F.lit(float(tau)),
                F.lit(False),
            ).alias("keep"),
        )
    )


# ----------------------------------------------------------------------------
# Gopher structural quality rules (Rae et al. 2021, Table A1)
# ----------------------------------------------------------------------------

# the Gopher paper's stop-word presence set ("must contain >= 2 of ...")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The Gopher/MassiveText STRUCTURAL document filters (Rae et al. 2021,
    Table A1) as per-document boolean flags plus the conjunction — the
    repetition-signal half already lives in ``repetition_features``; this is
    the other half of that paper's quality gate:

    * word count within [50, 100000]
    * mean word length within [3, 10]
    * symbol-to-word ratio ('#' chars + '...'/'…' runs) <= 0.1
    * <= 90% of (non-empty) lines start with a bullet ('-', '*', '•')
    * <= 30% of lines end with an ellipsis
    * >= 80% of words contain an alphabetic character
    * >= 2 distinct Gopher stop-words present

    Cross-engine exactness: tokenization is the established
    ``ws_tokens``/STRING_SPLIT_REGEX pair with empty tokens filtered; all
    counts are integers; every ratio is a single exact-integer division in
    double mirrored verbatim by the oracle; ellipsis counting uses
    REPLACE-based arithmetic (no regex engine in the hot predicate). NULL
    text yields NULL everywhere (the ``token_counts`` convention —
    ``size(split(NULL))`` is -1 in Spark but LEN(NULL) is NULL in SQL).

    100 TB shape: pure map stage — one pass over the text with no shuffle,
    joins or UDFs; every expression is whole-stage-codegen'd. The
    deliberate `_spread` repartition is the module's small-file pattern.
    """
    t = F.col(text_col)
    df = _spread(df).withColumn(
        "__w", F.filter(ws_tokens(t), lambda x: x != F.lit(""))
    )
    words = F.col("__w")
    letters = _string.ascii_letters
    n_words = F.when(t.isNotNull(), F.size(words))
    nw1 = F.greatest(F.coalesce(n_words, F.lit(0)), F.lit(1)).cast("double")
    mean_wlen = F.when(
        t.isNotNull(),
        F.aggregate(
            F.transform(words, lambda x: F.length(x)), F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / nw1,
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    ).cast("bigint")
    symbol_ratio = F.when(
        t.isNotNull(), (n_hash + n_ell).cast("double") / nw1
    )
    n_alpha = F.size(
        F.filter(
            words,
            lambda x: F.length(F.translate(x, letters, "")) < F.length(x),
        )
    )
    alpha_frac = F.when(t.isNotNull(), n_alpha.cast("double") / nw1)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.when(
        t.isNotNull(),
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
            )
        ).cast("double")
        / n_lines,
    )
    ell_line_frac = F.when(
        t.isNotNull(),
        F.size(
            F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
        ).cast("double")
        / n_lines,
    )
    sw_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.when(
        t.isNotNull(),
        F.size(F.filter(sw_arr, lambda s: F.array_contains(words, s))),
    )
    flags = {
        "flag_word_count": (F.col("n_words") >= 50) & (F.col("n_words") <= 100000),
        "flag_mean_word_length": (F.col("mean_word_length") >= 3.0)
        & (F.col("mean_word_length") <= 10.0),
        "flag_symbol_ratio": F.col("symbol_word_ratio") <= 0.1,
        "flag_bullet_lines": F.col("bullet_line_frac") <= 0.9,
        "flag_ellipsis_lines": F.col("ellipsis_line_frac") <= 0.3,
        "flag_alpha_words": F.col("alpha_word_frac") >= 0.8,
        "flag_stopwords": F.col("n_gopher_stopwords") >= 2,
    }
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_length"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_line_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_gopher_stopwords"),
    ).withColumns(flags)
    passes = None
    for name in flags:
        passes = out[name] if passes is None else (passes & out[name])
    return out.withColumn("pass_gopher", passes)
