"""Deduplication operators for large-scale text corpora.

Four families, each designed for the 100 TB regime:

- **exact**: hash-groupBy on a content digest. One shuffle on the digest;
  the digest (not the document body) is the shuffle key, so shuffle volume
  is O(rows × 16 bytes), not O(corpus).
- **MinHash + LSH**: shingle → minhash signature (all JVM-side higher-order
  functions, no UDF) → band → bucket self-join → exact-Jaccard verify of
  candidates only. Avoids the O(n²) all-pairs comparison; the only shuffle
  keys are (band, band_key) buckets.
- **SimHash**: per-doc 32-bit fingerprint via bitwise majority over shingle
  hashes; near-dup = small Hamming distance. Fingerprinting is a single
  aggregation; pair search can be banded the same way as MinHash.
- **exact n-gram Jaccard**: the brute-force baseline (quadratic) — used to
  verify the LSH path and for small candidate sets.

All hashing uses functions.portable_hash so results are reproducible in the
DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.portable_hash import (
    WS_RE,
    _gram,
    minhash_coeffs,
    P,
    spark_hash64,
    spark_hash_raw60,
    spark_word_shingles,
)
from crystal_parquet_database_spark.operators.spread import spread


def content_digest(text_col: str, id_col: str) -> Column:
    """md5 of the text; NULL text gets a per-row ``'nulltext:<id>'`` key
    instead (the prefix cannot collide with a 32-hex digest), so no-content
    rows pair with nothing and never share one partition key."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("nulltext:"), F.col(id_col).cast("string")),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Mark exact duplicates by content digest.

    Returns (id, canonical_id, is_dup): canonical is the min id per digest.

    NULL text pairs with NOTHING (the package-wide no-content contract the
    MinHash/SimHash paths follow): md5(NULL) is NULL and a digest-keyed
    window would otherwise group every failed-scrape row into one
    duplicate set — pipeline.dedup_exact would silently delete all but one
    of them — AND ship that whole corpus-scale NULL cohort to a single
    reducer. Each NULL-content row gets its own partition key instead
    (``content_digest``).

    Scale note: the window shuffles on the 32-hex digest — uniformly
    distributed, no skew; at 100 TB this is the standard dedup shuffle.
    """
    w = W.partitionBy(content_digest(text_col, id_col))
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


def shingle_hashes(
    df: DataFrame,
    text_col: str,
    k: int = 3,
    *,
    full_width: bool = False,
) -> DataFrame:
    """Append ``hs``: distinct k-gram shingle hashes (array<bigint> in [0,P);
    ``full_width=True`` uses the 60-bit hash instead — for collision-
    SENSITIVE consumers like decontamination membership tests, where a mod-P
    cross-collision false-positives a clean document. MinHash itself needs
    the mod-P reduction (affine transforms must not overflow int64), so the
    default stays 31-bit).

    Shingles are word n-grams — the scalable choice for document dedup: on
    a shared-vocabulary corpus, char k-gram sets give every pair ~0.2
    background Jaccard, which floods LSH with candidate pairs; word n-grams
    give ~0 background so candidates ≈ true near-dups.

    Hashing is CPU-bound, so the input is spread across the cores first
    (``operators.spread``).
    """
    df = spread(df)
    c = F.col(text_col)
    # tokens materialized once per row (see spark_word_shingles PERF note)
    df = df.withColumn("__toks", F.split(F.trim(c), WS_RE))
    sh = spark_word_shingles(c, k, toks=F.col("__toks"))
    # SET semantics on the hashed VALUES, not just the shingle strings:
    # distinct strings can collide under the 31-bit mod-P hash, and a
    # duplicate-bearing array breaks the |A|+|B|-|A∩B| union identity every
    # jaccard consumer relies on (array_intersect dedupes; a multiset count
    # would not match it). NULL hashes (NULL text's [NULL] shingle fallback)
    # are dropped too: hs=[NULL] gave every NULL-text doc the SAME MinHash
    # signature — one LSH bucket holding all of them, a quadratic pair
    # explosion at corpus scale, each pair "jaccard 1.0" — where an empty
    # set correctly pairs with nothing. DuckDB's list_distinct has exactly
    # this dedupe+NULL-drop behavior, so oracles mirror with one call.
    hasher = spark_hash_raw60 if full_width else spark_hash64
    hashed = F.transform(sh, lambda s: hasher(s))
    return df.withColumn(
        "hs", F.array_distinct(F.filter(hashed, lambda x: x.isNotNull()))
    ).drop("__toks")


def minhash_signature(df: DataFrame, n_hashes: int = 32) -> DataFrame:
    """Append ``sig``: MinHash signature (array<bigint>, length n_hashes).

    Pure JVM expression tree — one pass over the shingle array per hash
    function, no Python, no shuffle. The tree is built from ONE SQL string:
    through the Column API every hash term costs ~80 py4j round-trips on
    the driver, and the parsed tree is the same.
    """
    sig = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {P}))"
        for a, b in minhash_coeffs(n_hashes)
    )
    return df.withColumn("sig", F.expr(f"array({sig})"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    n_bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band key become a candidate pair.

    Explodes to (band, band_key, id) and self-joins on the bucket — the join
    key is a short string, so the shuffle is narrow. Output: (id_a, id_b)
    with id_a < id_b, distinct.

    ``max_bucket_size`` is the hot-bucket guard: a bucket holding m docs
    yields m² candidate pairs, so one mass-duplicated document (every copy
    identical ⇒ every copy in the same bucket in every band) turns the join
    quadratic. With the cap set, buckets larger than the cap are dropped
    before the self-join (a windowed count over the SAME (band, key) shuffle
    partitioning — no extra exchange). Pairs inside a dropped bucket are by
    construction near-exact duplicates; catch them with ``exact_dedup``
    (or ``collapse_exact=True`` upstream), which handles identical content
    linearly.
    """
    exploded = _band_explode(sig_df, id_col, n_bands, rows_per_band)
    if max_bucket_size is not None:
        bucket_n = F.count("*").over(W.partitionBy("band", "key"))
        exploded = exploded.withColumn("__n", bucket_n).filter(
            F.col("__n") <= max_bucket_size
        ).drop("__n")
    return (
        bucket_pairs(exploded, id_col, ["band", "key"])
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def bucket_pairs(exploded: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """Banded self-join: every two rows of ``exploded`` equal on all ``keys``
    (one bucket), the smaller ``id_col`` first; no keys is all pairs. The
    sides are aliased ``a`` and ``b``; callers select ``a.<col>``/``b.<col>``."""
    a, b = exploded.alias("a"), exploded.alias("b")
    conds = [F.col(f"a.{key}") == F.col(f"b.{key}") for key in keys]
    return a.join(b, reduce(operator.and_, [*conds, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]))


def _rows_per_band(n_hashes: int, n_bands: int) -> int:
    """Signature rows per LSH band; raises before any Spark job when a band
    would be empty (n_bands > n_hashes): empty bands put every document in
    one bucket and the candidate join turns all-pairs."""
    rows_per_band = n_hashes // n_bands
    if rows_per_band < 1:
        raise ValueError(
            f"n_bands={n_bands} exceeds n_hashes={n_hashes}: each band needs "
            "at least one signature row (empty bands put every document in "
            "one bucket and the candidate join turns all-pairs)"
        )
    return rows_per_band


def _lsh_sets(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Non-empty shingle sets (``hs``) of the MinHash LSH paths, computed once.

    Eager localCheckpoint: the CPU-bound shingle/hash stage has several
    consumers (signature → bands, both sides of the verify join) that would
    each recompute it — AQE does not reliably reuse the exchange here
    (measured 1.7× slower). Unlike a session-lifetime cache, the blocks are
    GC-cleaned once the result frame is dereferenced.

    Empty sets (NULL text) cannot reach a threshold Jaccard with anything,
    and left in they all share the identical all-NULL signature — one LSH
    bucket holding every NULL-text doc, a quadratic candidate explosion at
    scale. The filter sits AFTER the checkpoint: placed before it, Catalyst
    substitutes the whole shingle+hash expression into the pushed-down
    predicate and evaluates the pipeline twice per row (measured 5× on
    ``dedup_minhash_lsh`` at sf0.1); on checkpointed arrays it is a free scan.
    """
    hs = shingle_hashes(df, text_col, k).localCheckpoint(eager=True)
    return hs.filter(F.size("hs") > 0)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, as double.

    ``array_intersect`` builds a hash set (O(|a|+|b|)) where a filter +
    array_contains scan would be O(|a|·|b|); for distinct inputs both yield
    the same integer counts, so the single double division still matches any
    oracle implementation bit-for-bit.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    # try_divide, not a when(union > 0, ...) guard: two empty sets
    # (NULL-text docs) have union 0, and DuckDB's 0/0 is NULL — try_divide
    # is exactly that semantic (identical quotient otherwise), while a
    # conditional would re-evaluate the array_intersect in both the
    # condition and the lazily-evaluated branch (codegen cannot hoist a
    # common subexpression out of an If branch — measured 6.5× on the
    # minhash verify join at sf0.1). A NULL jaccard correctly fails every
    # >= threshold filter on both engines.
    return F.try_divide(inter.cast("double"), union.cast("double"))


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    max_bucket_size: int | None = None,
    collapse_exact: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH buckets → exact-Jaccard
    verification of candidates only. Returns (id_a, id_b, jaccard) pairs with
    jaccard >= threshold.

    Hot-bucket guards (both off by default to keep the unguarded semantics):

    - ``collapse_exact=True`` first collapses byte-identical texts to their
      min-id representative (one digest shuffle, linear), so a document with
      a million exact copies enters LSH once. Output pairs are then between
      representatives; within-class duplicate pairs are exact duplicates by
      definition — recover them with ``exact_dedup``.
    - ``max_bucket_size`` drops LSH buckets larger than the cap before the
      self-join (see ``lsh_candidate_pairs``).

    At 100 TB run with both: exact dedup first is the standard production
    recipe, and the cap bounds the worst bucket regardless of input shape.
    """
    if collapse_exact:
        w = W.partitionBy(content_digest(text_col, id_col))
        df = (
            df.withColumn("__canon", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("__canon"))
            .drop("__canon")
        )
    rows_per_band = _rows_per_band(n_hashes, n_bands)
    hs = _lsh_sets(df, text_col, k)
    sig = minhash_signature(hs, n_hashes)
    cand = lsh_candidate_pairs(sig, id_col, n_bands, rows_per_band, max_bucket_size)
    sets_ = hs.select(F.col(id_col), F.col("hs").alias("shset"))
    a = sets_.alias("a")
    b = sets_.alias("b")
    return (
        cand.join(a, cand.id_a == F.col(f"a.{id_col}"))
        .join(b, cand.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("a.shset"), F.col("b.shset")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float, k: int = 3
) -> DataFrame:
    """Brute-force exact n-gram Jaccard over all pairs (quadratic — the
    correctness baseline for the LSH path; restrict the input for scale)."""
    hs = shingle_hashes(df, text_col, k).select(F.col(id_col), F.col("hs").alias("shset"))
    return (
        bucket_pairs(hs, id_col, [])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard(F.col("a.shset"), F.col("b.shset")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32, k: int = 3
) -> DataFrame:
    """Per-document SimHash fingerprint: bitwise majority vote over shingle
    hashes. Explode + one aggregation (shuffle on id only). NULL-text docs
    get NO fingerprint row (no content to fingerprint — see the NULL filter
    below), mirroring the MinHash pipeline's empty-set semantics.

    PERF: shingles are exploded BEFORE hashing — md5 inside an array lambda
    that is then exploded gets re-evaluated per emitted element (measured
    ~30× slower); as a post-explode scalar it hashes each shingle once in
    plain codegen."""
    c = F.col(text_col)
    d = spread(df).withColumn("__toks", F.split(F.trim(c), WS_RE))
    sh = spark_word_shingles(c, k, toks=F.col("__toks"))
    # full-width hash: a mod-P (31-bit) hash would zero every vote above
    # bit 30, collapsing wide fingerprints (see spark_hash_raw60)
    exploded = (
        d.select(F.col(id_col), F.explode(sh).alias("__s"))
        .select(F.col(id_col), spark_hash_raw60(F.col("__s")).alias("h"))
        # NULL-text docs leave the pipeline HERE, exactly like the MinHash
        # path (shingle_hashes): their [NULL] shingle fallback hashes to one
        # NULL row (md5(NULL) = NULL on both engines), which an all-votes
        # take the otherwise(-1) branch would otherwise turn into the SAME
        # fingerprint 0 for every such doc — one hamming-0 LSH clique over
        # all NULL docs at corpus scale (C(m,2) pairs), and downstream
        # cluster_representatives would fold them into one "near-dup"
        # cluster. No real shingle hash is NULL, so only no-content docs
        # drop; they get NO fingerprint and pair with nothing.
        .filter(F.col("h").isNotNull())
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") >= 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 4, bits: int = 32
) -> DataFrame:
    """Pairs of fingerprints within a Hamming radius, via pigeonhole banding.

    Split the ``bits``-bit fingerprint into ``max_hamming + 1`` disjoint
    bands: two fingerprints within Hamming distance d ≤ max_hamming differ
    in at most d bands, so they agree EXACTLY on at least one band — an
    equi-join on (band index, band value) therefore finds every qualifying
    pair (banding loses nothing; it only prunes). The exact bit_count(xor)
    filter then discards band-collision false positives.

    Scale shape: one explode to rows×(d+1) band rows, one shuffle on the
    short (band, value) key, candidate-only verification — the same plan
    family as MinHash LSH, no quadratic stage. Degenerate-corpus caveat: a
    band value shared by m rows yields m² candidates within that bucket;
    run exact_dedup first if the corpus is mass-duplicated.
    """
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    bands, start = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        bands.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
        start += width
    exploded = sim_df.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "simhash", "b.band", "b.val")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        bucket_pairs(exploded, id_col, ["band", "val"])
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by min-label propagation: every node ends up
    labeled with the smallest node id reachable from it. This is the step that
    turns near-dup PAIRS into dedup GROUPS (keep one doc per component).

    ``edges`` is (id_a, id_b); ``nodes`` is the full id set (so singleton
    documents appear in the output labeled with themselves). Returns
    (<id_col>, cluster_id).

    Iterative by nature (the only driver-side loop in the package): each round
    every node takes the min of its own label and its neighbors' labels — a
    union + one groupBy shuffle on id — and the loop stops when a round changes
    nothing. Rounds needed = graph diameter; near-dup components are small and
    dense (diameter ≲ 3 in practice); this one-hop-per-round propagation
    needs O(diameter) rounds, and RAISES rather than silently returning
    split clusters if ``max_iter`` rounds don't converge (a ~100-version
    edit chain would otherwise shear into multiple cluster_ids with no
    error). Each round is localCheckpointed so
    lineage (and therefore plan size) stays constant. Convergence is detected
    from the total-label sum: labels only ever decrease (min of a set
    containing the old label), so an unchanged sum ⟺ an unchanged labeling —
    one cheap aggregate on the already-checkpointed frame instead of a
    join-and-compare against the previous round. At 100 TB this is the
    standard Spark CC recipe (GraphFrames/GraphX do the same rounds); the
    alternating large-star/small-star optimization only matters for
    adversarially long chains, which dedup graphs don't produce.
    """
    e = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # Not pre-partitioned on "src": the checkpointed LogicalRDD does not
    # surface a partitioning the propagation join can exploit, so an
    # upfront repartition only adds a shuffle of 2|E| rows (A/B-measured
    # slower, ~5.2-6.1 vs 4.7-5.6 s steady).
    e = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # Only edge-incident nodes can ever change label — propagate over that
    # (much smaller) set and re-attach the untouched singleton majority at
    # the end. On a lightly-duplicated 100 TB corpus this shrinks every
    # round from |corpus| to |docs with a near-dup|.
    #
    # Round 0 seeds each node with min(own id, min neighbor id) — the same
    # single groupBy shuffle the old identity seed spent on `distinct()`,
    # but it starts everyone one hop ahead, which removes a whole
    # join+groupBy round for the dominant diameter-≤2 dup clusters.
    lab = (
        e.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("id"), F.least(F.col("src"), F.col("mn")).alias("lab"))
        .localCheckpoint(eager=True)
    )
    # decimal(38,0): exact and overflow-free for any realistic id domain
    prev_sum = lab.agg(F.sum(F.col("lab").cast("decimal(38,0)"))).first()[0]
    converged = False
    for _ in range(max_iter):
        nbr = e.join(lab, e.src == lab.id).select(F.col("dst").alias("id"), F.col("lab"))
        lab = (
            lab.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
        cur_sum = lab.agg(F.sum(F.col("lab").cast("decimal(38,0)"))).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # an unconverged labeling is WRONG (one component reported as
        # several) — fail loudly instead of quietly keeping duplicates
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (graph diameter exceeds it — e.g. a long chain of "
            "incremental near-dup versions); raise max_iter"
        )
    singletons = (
        nodes.select(F.col(id_col).alias("id"))
        .join(lab.select("id"), "id", "left_anti")
        .withColumn("lab", F.col("id"))
    )
    return lab.unionByName(singletons).select(
        F.col("id").alias(id_col), F.col("lab").alias("cluster_id")
    )


def simhash_near_pairs_bruteforce(
    sim_df: DataFrame, id_col: str, max_hamming: int = 4
) -> DataFrame:
    """All-pairs Hamming comparison (quadratic) — the correctness oracle for
    the banded path; restrict the input for scale."""
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        bucket_pairs(sim_df, id_col, [])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    k: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT —
    |A∩B|/|A| — the relation Jaccard misses: a short document quoted whole
    inside a long one scores high containment but low Jaccard. This is the
    boilerplate/quotation/wrapper-page detector in a corpus-hygiene pass.

    Scale shape (NOT the quadratic baseline): an inverted index
    (shingle-hash → doc) drives candidate generation, so only pairs sharing
    at least one indexed shingle are ever enumerated. Shingles appearing in
    more than ``max_df`` documents are dropped from the index FIRST — the
    stop-shingle cap that (a) bounds per-shingle pair fan-out at
    C(max_df, 2) and (b) is the semantic choice anyway: corpus-common
    shingles carry no containment signal. Containment is then computed over
    the capped shingle space on both sides, so the measure stays exactly
    reproducible (the oracle applies the same cap).

    Returns (id_a, id_b, n_inter, cont_a_in_b, cont_b_in_a, direction) for
    pairs whose larger direction reaches ``threshold``; direction is
    'mutual', 'a_in_b', or 'b_in_a' (a is the smaller id).
    """
    # Materialize the shingle arrays BEFORE exploding: generating through the
    # inline shingle/hash expression tree drops out of whole-stage codegen
    # and re-evaluates per OUTPUT row (measured ~30× slower than exploding
    # the materialized arrays — 12 s vs 0.4 s on the sf0.1 fixture).
    hs = shingle_hashes(df, text_col, k).select(
        F.col(id_col).alias("__id"), F.col("hs")
    ).localCheckpoint(eager=True)
    ex = hs.select("__id", F.explode("hs").alias("__h"))
    # The STOP set (shingles over the df cap) is small by construction —
    # broadcast anti-join keeps the filter map-side instead of shuffling the
    # whole exploded frame a second time against the full df table.
    stop = (
        ex.groupBy("__h")
        .agg(F.count("*").alias("__d"))
        .filter(F.col("__d") > max_df)
        .select("__h")
    )
    keep = (
        ex.join(F.broadcast(stop), "__h", "left_anti")
        .localCheckpoint(eager=True)  # feeds sizes AND both join sides
    )
    sz = keep.groupBy("__id").agg(F.count("*").alias("__n"))
    a = keep.select(F.col("__id").alias("id_a"), F.col("__h"))
    b = keep.select(F.col("__id").alias("id_b"), F.col("__h"))
    inter = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    ca = F.col("n_inter").cast("double") / F.col("__na").cast("double")
    cb = F.col("n_inter").cast("double") / F.col("__nb").cast("double")
    return (
        inter.join(sz.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sz.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            ca.alias("cont_a_in_b"),
            cb.alias("cont_b_in_a"),
            F.when((ca >= threshold) & (cb >= threshold), "mutual")
            .when(ca >= threshold, "a_in_b")
            .otherwise("b_in_a")
            .alias("direction"),
        )
        .filter(F.greatest(ca, cb) >= threshold)
    )


def _band_explode(sig_df: DataFrame, id_col: str, n_bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key) rows — one per LSH band (same key construction as
    ``lsh_candidate_pairs``)."""
    # A zero-length band silently degenerates the whole operator: slice(sig,
    # i, 0) is [], every band key becomes "", every document lands in ONE
    # bucket, and the band self-join becomes the all-pairs cross join LSH
    # exists to avoid. That happens from innocuous-looking arguments
    # (n_bands > n_hashes makes n_hashes // n_bands == 0), so fail loudly.
    if n_bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"n_bands={n_bands} and rows_per_band={rows_per_band} must be >= 1 "
            "(rows_per_band == 0 typically means n_bands > n_hashes)"
        )
    # one SQL string, like minhash_signature's, for the same reason
    bands = ", ".join(
        f"struct({i} AS band, array_join(transform("
        f"slice(sig, {i * rows_per_band + 1}, {rows_per_band}), "
        "x -> CAST(x AS STRING)), '-') AS key)"
        for i in range(n_bands)
    )
    return sig_df.selectExpr(
        id_col, f"explode(array({bands})) AS b"
    ).selectExpr(id_col, "b.band", "b.key")


def minhash_lsh_incremental(
    df_new: DataFrame,
    df_old: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
) -> DataFrame:
    """Incremental near-duplicate detection: today's ``df_new`` documents
    against the ``df_old`` corpus — WITHOUT the old×old self-join. The
    near-dup analogue of the exact-digest ``dedup_incremental_new_vs_index``
    pattern: candidates come from an equi-join of the new batch's LSH band
    keys against the corpus's band-key index, so work scales with
    |new| × bucket-hit-rate, never |old|².

    100 TB shape: in production the old side's (id, band, key) index and
    shingle-set table are PERSISTED (written once when each batch was itself
    "new") and only READ here — the history is never re-shingled; this
    function recomputes them from text so the operator (and its oracle) is
    self-contained. The band join is new-side-small → broadcastable; the
    verify join touches only candidate old-ids.

    Returns (id_new, id_old, jaccard) with jaccard >= threshold.
    """
    rows_per_band = _rows_per_band(n_hashes, n_bands)
    # The two checkpoints stay serial rather than going through
    # runtime.concurrently: overlap pays only when one side is driver-bound
    # (the trained-quantizer collects), while these are both dense
    # CPU-bound shingle/hash jobs with no idle stage tail to back-fill, so
    # overlapping them only adds contention (measured 1.17-1.25× slower).
    hs_new = _lsh_sets(df_new, text_col, k)
    hs_old = _lsh_sets(df_old, text_col, k)
    bands_new = _band_explode(
        minhash_signature(hs_new, n_hashes), id_col, n_bands, rows_per_band
    ).select(F.col(id_col).alias("id_new"), "band", "key")
    bands_old = _band_explode(
        minhash_signature(hs_old, n_hashes), id_col, n_bands, rows_per_band
    ).select(F.col(id_col).alias("id_old"), "band", "key")
    # the new batch is the small side — broadcast it against the corpus index
    cand = (
        F.broadcast(bands_new)
        .join(bands_old, ["band", "key"])
        .select("id_new", "id_old")
        .distinct()
    )
    sets_new = hs_new.select(F.col(id_col).alias("id_new"), F.col("hs").alias("hs_n"))
    sets_old = hs_old.select(F.col(id_col).alias("id_old"), F.col("hs").alias("hs_o"))
    return (
        cand.join(sets_new, "id_new")
        .join(sets_old, "id_old")
        .select(
            "id_new",
            "id_old",
            jaccard(F.col("hs_n"), F.col("hs_o")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    k: int = 3,
) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (PPJoin family,
    Chaudhuri/Xiao et al.): returns ALL pairs with shingle-Jaccard >=
    ``threshold`` — no LSH false negatives — while enumerating far fewer
    candidates than the quadratic baseline.

    The lemma: order every set by one global token order (rarest first) and
    index only each set's first ``|x| - ceil(t*|x|) + 1`` tokens; any pair
    with J >= t must share at least one indexed prefix token. Candidates
    come from an equi-join on prefix tokens, then exact Jaccard verifies.
    Output is therefore IDENTICAL to ``ngram_jaccard_pairs`` (asserted in
    tests) — this is the scalable form of the exact baseline, the
    "guaranteed recall" counterpart to ``minhash_lsh_dedup``.

    100 TB shape: rarest-first ordering makes prefix tokens low-frequency by
    construction, so the candidate equi-join fans out like an inverted index
    over RARE tokens (the same reason the containment op caps df); the only
    windows are per-document rank assignments riding the doc-keyed shuffle.
    Candidates are further pruned — losslessly — by PPJoin's length and
    positional filters before the exact verify (see inline comments), which
    is what keeps the verify stage linear-ish when token document frequency
    grows with corpus size.
    """
    hs = shingle_hashes(df, text_col, k).select(
        F.col(id_col).alias("__id"), "hs"
    ).localCheckpoint(eager=True)
    tok = hs.select("__id", F.explode("hs").alias("__h"))
    freq = tok.groupBy("__h").agg(F.count("*").alias("__f"))
    ranked = (
        tok.join(freq, "__h")
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("__id").orderBy(F.col("__f"), F.col("__h"))
            ),
        )
        .withColumn("__n", F.count("*").over(W.partitionBy("__id")))
    )
    # prefix size |x| - ceil(t|x|) + 1. ceil runs in double arithmetic, and a
    # product that lands epsilon ABOVE an exact integer would shorten the
    # prefix below what the lemma requires — a silent recall hole in an
    # operator whose contract is EXACT. Bias the rounding toward the safe
    # (longer-prefix) side; extra candidates are harmless (exact-Jaccard
    # verify filters them).
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9)).cast("int")
        + 1
    ).select("__id", "__h", "__rn", "__n")
    # Candidate pruning beyond the prefix lemma — both filters are LOSSLESS
    # (PPJoin, Xiao et al.), which matters because candidate fan-out is this
    # operator's only superlinear term (on a fixed vocabulary, prefix-token
    # document frequency grows with corpus size, so candidates grow ~df² —
    # measured in SCALE.md's 30× probe):
    #  1. LENGTH: J >= t forces t·max(|x|,|y|) <= min(|x|,|y|) — applied in
    #     the join condition, before any candidate row shuffles.
    #  2. POSITIONAL: a token shared at positions (i, j) bounds the overlap
    #     O <= min(i-1, j-1) + 1 + min(|x|-i, |y|-j) (common tokens before w
    #     occupy earlier positions in BOTH sets; after w, at most the
    #     shorter tail). J >= t ⟺ O >= ceil(t(|x|+|y|)/(1+t)), so a pair
    #     whose TIGHTEST shared-token bound misses that is no pair. Rounding
    #     is biased the lax way (keep extras; the exact verify discards).
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.__n"), F.col("b.__n")
    ubound = (
        F.least(F.col("a.__rn") - 1, F.col("b.__rn") - 1)
        + 1
        + F.least(na - F.col("a.__rn"), nb - F.col("b.__rn"))
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (na + nb) - F.lit(1e-9)
    ).cast("int")
    cand = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb) - F.lit(1e-9)),
        )
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .agg(F.min(ubound).alias("__ub"), F.min(alpha).alias("__alpha"))
        .filter(F.col("__ub") >= F.col("__alpha"))
        .select("id_a", "id_b")
    )
    sa = hs.select(F.col("__id").alias("id_a"), F.col("hs").alias("__ha"))
    sb = hs.select(F.col("__id").alias("id_b"), F.col("hs").alias("__hb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("__ha"), F.col("__hb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): find every maximal token span that
    appears at least ``min_count`` times in the corpus — intra- OR
    inter-document — at k-token resolution. The suffix-array construction
    the paper uses is sequential; this is the standard distributed
    approximation: inventory all k-token grams, keep grams occurring
    ``min_count``+ times, and merge each document's duplicated gram
    positions into maximal spans (a gram at position p covers tokens
    [p, p+k-1]; runs whose covered ranges touch or overlap merge).

    Returns (<id_col>, span_start, span_end, span_tokens), token positions
    1-based inclusive.

    100 TB shape: one map-side-combinable groupBy on the 60-bit gram hash
    (shuffle volume = rows x 8 bytes, never the text), one hash-keyed join
    back to positions (a hot gram — boilerplate headers, license blocks —
    meets exactly ONE count row, so sort-merge join cannot explode), one
    per-document window for the island merge. All linear; reference
    parity: crystpqdb has no substring-dedup, this extends the LLM-pipeline
    surface the brief's training-data section requires.
    """
    t = F.col(text_col)
    toks = F.split(F.trim(t), WS_RE)
    base = (
        df.where(t.isNotNull())
        .select(F.col(id_col).alias("__id"), toks.alias("__w"))
        .where(F.size(F.col("__w")) >= k)
    )
    grams = base.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("__w")) - F.lit(k - 1)),
                _gram(F.col("__w"), k),
            )
        ).alias("__p0", "__g"),
    ).select(
        "__id",
        (F.col("__p0") + 1).alias("__pos"),  # 1-based token position
        spark_hash_raw60(F.col("__g")).alias("__gh"),
    )
    dup_grams = (
        grams.groupBy("__gh")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("__gh")
    )
    d = grams.join(dup_grams, "__gh").select("__id", "__pos")
    w = W.partitionBy("__id").orderBy("__pos")
    # island break exactly when the previous covered range [p', p'+k-1] and
    # this one [p, p+k-1] neither touch nor overlap: p > p' + k. LAG NULL on
    # the first row -> condition NULL -> otherwise(0) in BOTH engines.
    flag = F.when(F.col("__pos") > F.lag("__pos").over(w) + k, F.lit(1)).otherwise(
        F.lit(0)
    )
    islands = d.withColumn(
        "__isl",
        F.sum(flag).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        islands.groupBy("__id", "__isl")
        .agg(
            F.min("__pos").cast("int").alias("span_start"),
            (F.max("__pos") + F.lit(k - 1)).cast("int").alias("span_end"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).cast("int").alias(
                "span_tokens"
            ),
        )
    )


def ed_ascii_contract(text_col: str) -> Column:
    """The rows the edit-distance stages scan: non-NULL text whose byte
    length equals its character length. Spark's levenshtein counts
    codepoints and DuckDB's counts bytes, so the two agree only on this
    subset; the pair stage and any node set built beside it (connected
    components) must use this one predicate or their rows disagree."""
    t = F.col(text_col)
    return t.isNotNull() & (F.octet_length(t) == F.length(t))


def edit_distance_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 7,
    head_len: int = 48,
    block_w: int = 8,
    max_df: int = 32,
    full_text: bool = False,
) -> DataFrame:
    """Edit-distance near-duplicate pairs over a normalized document head
    (the first ``head_len`` characters — the title/boilerplate proxy a real
    pipeline keys on): pairs whose heads are within ``max_dist`` Levenshtein
    edits. Typo-level duplicates that hash/shingle dedup miss.

    Candidate generation is PassJoin-style BLOCK BANDING, not length
    bucketing: the head splits into ``head_len/block_w`` fixed-position
    blocks and a pair becomes a candidate iff it shares any (block_index,
    block_content) key — one equi-join on a short string key, the same
    plan family as MinHash LSH. The first design used length buckets, and
    the 10x replica exposed it as a scale-killer: heads are TRUNCATED at
    ``head_len``, so nearly every document has the same head length and
    one bucket degenerated to the all-pairs join. Pigeonhole gives the
    recall contract, per the GEOMETRY: ``head_len/block_w`` blocks
    guarantee substitution-only pairs within ``n_blocks - 1`` edits share
    >=1 untouched block. The shipped default (48, 8) is 6 blocks — a
    GUARANTEE for <=5 substitutions; 6-7-substitution pairs at
    ``max_dist=7`` are found only when the edits happen to cluster
    (measured recall 1.00 on the fixture's 256 true pairs regardless —
    the guarantee is the floor, not the measured rate). The full 7-edit
    guarantee needs block_w=6 (8 blocks), the (6, 64) row in the knob
    table below. Insertions/deletions shift block alignment, so indel
    recall is approximate — like LSH, the operator is approximate but
    EXACTLY specified (the oracle reproduces the identical banding, so
    the full result is still bit-reproducible). No-content heads produce no blocks
    and pair with nothing (the package-wide no-content contract).

    ``max_df`` caps block-value frequency (the containment stop-shingle
    precedent): a block value shared by more than ``max_df`` documents is
    dropped from banding on BOTH sides. Measured need, not taste: on the
    low-entropy fixture vocabulary a single first-block value ("spark ")
    was shared by ~190 of 5 000 docs — C(190,2) pairs per hot value,
    416k candidates total, and the hot set grows quadratically with
    corpus size. Knobs: see the edit-distance sensitivity table in SCALE.md
    (produced by scripts/edit_distance_sensitivity.py — the one source of
    truth for these numbers): (block_w=6, df=64) 6.96 s at the full
    7-substitution guarantee, (8, 32) 1.64 s at recall 1.00 on all 256
    true pairs, (12, 64) 0.94 s at a weaker 3-substitution guarantee —
    the default is (8, 32). Corpus-hot blocks carry no near-dup signal (they
    identify the LANGUAGE, not the document); true near-dups keep
    matching through their rare blocks. The recall trade — a pair whose
    every intact shared block is corpus-hot is missed — is the standard
    stop-key trade, measured the same way as containment's ``max_df``.
    Heads hot in EVERY block are mass-duplicated boilerplate: an
    exact-duplicate clique, which is ``exact_dedup``'s linear job — the
    same division of labor as ``lsh_candidate_pairs``' ``max_bucket_size``
    (measured on the 10× replica: the cap hands the ~1M replica-clique
    pairs to exact dedup and keeps the typo tail here, 21 s vs 94 s).

    ASCII CONTRACT (pinned, tests/test_tokenizer_parity.py): Spark computes
    Levenshtein over CODEPOINTS, DuckDB over BYTES — measured divergent on
    every non-ASCII string (é: 2 vs 3 edits) — and Spark's substring counts
    UTF-16 units where DuckDB counts codepoints, so even the HEAD would
    disagree near an astral-plane char. Both sides therefore restrict to
    documents whose FULL text is ASCII (byte length = char length,
    identical semantics in both engines); the codepoint path stays
    Spark-only and is asserted in pytest, not the oracle.

    ``full_text=True``: the head stays the BLOCKING key, but verification
    runs on the FULL trimmed text — PassJoin's filter-verify split (Li et
    al. 2011 partition the full string; here the head is a deliberate
    blocking proxy, so the recall contract is "pairs whose HEADS survive the
    banding" — a pair whose first ``head_len`` chars differ by more
    substitutions than the pigeonhole bound is not a candidate regardless of
    the tail; see the full-text edit-distance note in SCALE.md).
    Verification cost is bounded two ways: the exact full-length |len diff|
    <= max_dist prefilter, and Spark's THRESHOLDED levenshtein (banded DP,
    O(max_dist * len) not O(len^2) — returns -1 past the threshold, so the
    filter is ``dist != -1`` and the reported distance is exact for every
    emitted pair). Full text rides the candidate join only (candidates are
    banded and df-capped — bounded), never the banding shuffle.

    100 TB shape: block keys distribute like LSH band keys (bounded bucket
    populations on real text; a boilerplate-hot block behaves like a hot
    LSH bucket and is handled the same way — AQE skew join, or raise
    ``block_w``); the O(head_len^2) DP (or the O(max_dist*len) banded DP
    in full-text mode) runs only on banded candidates that also pass the
    exact |len diff| prefilter.
    """
    n_blocks = head_len // block_w
    trimmed = F.trim(F.col(text_col))
    head = F.substring(trimmed, 1, head_len)
    # __h is the head in head mode, so that mode verifies exactly what it
    # blocks on. In full-text mode __h carries the FULL trimmed text instead:
    # the banding stage below reads only positions 1..head_len of __h, and
    # those chars are identical whether __h is the head or the full text —
    # so blocking is shared verbatim and only the verify join changes.
    verify = trimmed if full_text else head
    base = df.where(ed_ascii_contract(text_col)).select(
        F.col(id_col).alias("__id"),
        verify.alias("__h"),
        F.length(verify).alias("__l"),
    )
    blocks = base.select(
        "__id",
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("__h"), i * block_w + 1, block_w)
                    for i in range(n_blocks)
                ]
            )
        ).alias("__bi", "__blk"),
    ).where(F.col("__blk") != "")
    keep = (
        blocks.groupBy("__bi", "__blk")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("__bi", "__blk")
    )
    blocks = blocks.join(keep, ["__bi", "__blk"])
    a = blocks.select(
        F.col("__id").alias("id_a"), F.col("__bi").alias("__i"), F.col("__blk").alias("__b")
    )
    b = blocks.select(
        F.col("__id").alias("id_b"), F.col("__bi").alias("__i"), F.col("__blk").alias("__b")
    )
    cand = (
        a.join(b, ["__i", "__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = base.select(F.col("__id").alias("id_a"), F.col("__h").alias("__ha"), F.col("__l").alias("__la"))
    hb = base.select(F.col("__id").alias("id_b"), F.col("__h").alias("__hb"), F.col("__l").alias("__lb"))
    verified = cand.join(ha, "id_a").join(hb, "id_b").filter(
        F.abs(F.col("__la") - F.col("__lb")) <= max_dist
    )
    if full_text:
        # banded DP: O(max_dist * len), returns -1 past the threshold — the
        # emitted distance is exact for every surviving pair, so the head
        # path's <= max_dist filter and this one select identical pairs
        # for identical inputs
        return (
            verified.select(
                "id_a",
                "id_b",
                F.levenshtein(F.col("__ha"), F.col("__hb"), max_dist)
                .cast("int")
                .alias("dist"),
            )
            .filter(F.col("dist") != -1)
        )
    return (
        verified.select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__ha"), F.col("__hb")).cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )
