"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute-force cosine top-k** — the exact baseline: query-set × corpus join,
  JVM-side zip_with/aggregate dot product (no Python in the loop), window
  top-k per query. The corpus side never collects to the driver; with a small
  query set Catalyst broadcasts it, so the big side streams through untouched.
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures bucket
  the corpus; candidates are searched only within the query's bucket. The
  hyperplanes are a fixed deterministic integer formula so the DuckDB oracle
  reproduces the same buckets exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.literals import lit_matrix, lit_vector
from crystal_parquet_database_spark.operators.dedup import bucket_pairs
from crystal_parquet_database_spark.operators.spread import spread

# Deterministic "random" hyperplane component: w(j, k) for hyperplane j,
# dimension k — an LCG step mapped to [-1000, 1000]. Integer-exact in both
# engines; cast to double only at the multiply. The index stride is DIM,
# not a constant: with a fixed stride of 64, any dim > 64 would give
# consecutive hyperplanes overlapping LCG windows (plane j reusing 64 of
# plane j+1's weights at shifted positions) — correlated sign bits and
# skewed buckets. Stride=dim keeps every plane's window disjoint for every
# dimension, and is unchanged for the default dim=64.
def _w(j: int, k: int, dim: int = 64) -> int:
    return (1103515245 * (j * dim + k) + 12345) % 2001 - 1000


def valid_vectors(df: DataFrame, vec_col: str, dim: int | None = None) -> DataFrame:
    """THE invalid-vector contract, one definition: a vector that is NULL,
    EMPTY, or carries a NULL ELEMENT (one failed encoder dimension — the
    engines disagree on where such a vector lands in dot products,
    quantizer cells and LSH buckets) is excluded from every similarity
    operator up front. Oracles mirror it via ``VALID_VEC_SQL``.

    ``dim`` extends the contract to RAGGED vectors: a vector whose length
    differs from the corpus dimension — one 32-dim row from an older
    encoder in a 64-dim corpus, routine when
    encoder versions mix in a real 100 TB pipeline — is excluded too. The
    engines disagree on what a partial distance even IS (Spark's zip_with
    pads the short side with NULLs so the fold nulls out; DuckDB's indexed
    folds SKIP NULL elements, so a partial dot product is a NUMBER there),
    so such a vector lands in different quantizer cells / LSH buckets per
    engine; probed at 445/500 diverging rows for semdedup. Callers that
    know the corpus dimension (every registered query does) MUST pass it;
    ``None`` keeps the length-agnostic contract for generic utilities."""
    c = F.col(vec_col)
    cond = c.isNotNull() & (F.size(c) > 0) & ~F.exists(c, lambda x: x.isNull())
    if dim is not None:
        cond = cond & (F.size(c) == int(dim))
    return df.where(cond)


def VALID_VEC_SQL(col: str = "embedding", dim: int | None = None) -> str:
    """DuckDB mirror of ``valid_vectors`` — interpolate into every oracle
    that reads an embedding column, with the same ``dim`` the Spark side
    passes (ragged vectors must be invalid on BOTH sides: a DuckDB list
    fold over a short vector skips the NULL tail and returns a partial
    number where Spark's zip_with fold returns NULL)."""
    dim_sql = f" AND len({col}) = {int(dim)}" if dim is not None else ""
    return (
        f"({col} IS NOT NULL AND len({col}) > 0 "
        f"AND len(list_filter({col}, x -> x IS NULL)) = 0{dim_sql})"
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double — same evaluation order as
    the oracle's list comprehension sum, hence bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _cos_div(dotv: Column, nprod: Column) -> Column:
    """dot/(‖a‖·‖b‖) with NULL when a norm is zero — SQL division
    semantics (DuckDB x/0.0 = NULL), NOT ANSI Spark's hard
    SparkArithmeticException: one all-zero embedding (a failed/padded row,
    routine in real pipelines) must NULL out of comparisons, not abort the
    whole job."""
    return F.when(nprod > 0, dotv / nprod)


def cosine(a: Column, b: Column) -> Column:
    return _cos_div(dot(a, b), norm(a) * norm(b))


def _topk(scored: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """The per-query top-k tail shared by every ANN entry point: rank =
    row_number over (query_id, order_cols), keep rank ≤ k. Callers pass
    explicit NULLS-LAST orderings: Spark's plain ascending is NULLS FIRST,
    so a NULL-distance row (a NULL-coded corpus vector) would otherwise win
    rank 1 for every query."""
    w = W.partitionBy("query_id").orderBy(*order_cols)
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def _cos_topk(joined: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """The cosine scan's tail over (query, candidate) rows carrying
    qvec/qnorm and cvec/cnorm: cosine from the per-row norms, then the
    per-query top k by (cos desc, match_id)."""
    scored = (
        joined.filter(
            F.col("match_id") != F.col("query_id") if exclude_self else F.lit(True)
        ).select(
            "query_id",
            "match_id",
            _cos_div(dot(F.col("qvec"), F.col("cvec")), F.col("qnorm") * F.col("cnorm")).alias("cos"),
        )
    )
    # desc = NULLS LAST in Spark: a zero-norm embedding's NULL cos sinks
    return _topk(scored, [F.desc("cos"), F.asc("match_id")], k)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, match_id, cos, rank). Ties broken by match id so the
    cut is deterministic. The query side is broadcast; corpus is scanned once.

    ``exclude_self`` drops matches whose id equals the query id — correct for
    self-search over one table; pass False when queries and corpus come from
    unrelated id spaces (numeric collisions would silently drop neighbors).
    ``dim``: expected vector length — see ``valid_vectors``' ragged contract.
    """
    # Norms once per row (not per pair): bit-identical (same IEEE expression
    # on the same doubles), and the corpus norm is no longer recomputed for
    # every query it meets.
    queries = valid_vectors(queries, vec_col, dim)
    corpus = valid_vectors(corpus, vec_col, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    return _cos_topk(c.crossJoin(F.broadcast(q)), k, exclude_self)


def _plane_dot(vec: Column, j: int, dim: int) -> Column:
    """Dot of ``vec`` against fixed hyperplane ``j`` — the ONE definition
    of the sign-bit fold (hyperplane_bucket AND embedding_near_dup_lsh's
    banding both consume it; two hand copies drifting apart would silently
    diverge their buckets for the same vectors)."""
    w_arr = lit_vector([float(_w(j, kk, dim)) for kk in range(dim)])
    return F.aggregate(
        F.zip_with(vec, w_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """LSH bucket id: sign bits of the vector against n fixed hyperplanes."""
    bucket = F.lit(0).cast("bigint")
    for j in range(n_planes):
        d = _plane_dot(vec, j, dim)
        bucket = bucket + F.when(d >= 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def build_lsh_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Materialize the bucketed corpus index once (id, vec, norm, bucket).

    The hyperplane-bucket expression inlines n_planes × dim literals; left in
    the plan, Catalyst re-analyzes that tree per join rule — for multi-path
    queries (e.g. recall measurement running single- AND multi-probe) the
    planning cost dominates. At 100 TB this materialization IS the design:
    bucket is computed once at ingest and stored as a partition/cluster key.

    ``dim`` is both the hyperplane dimension AND the ragged contract: a
    vector of any other length has no well-defined bucket under these
    planes (its plane dots are partial), so it is excluded up front."""
    return valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
        # the build parameters ride the schema (column metadata survives
        # checkpoint/write): ann_lsh_topk validates them against its own,
        # since an index built with DIFFERENT planes would equi-join
        # semantically unrelated buckets and silently return garbage
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias(
            "bucket", metadata={"n_planes": n_planes, "dim": dim}
        ),
    ).localCheckpoint(eager=True)


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
    multiprobe_hamming: int = 0,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane bucket.

    At 100 TB the bucket column is computed once at ingest and used as a
    partition/cluster key; the per-query search then touches ~1/2^n_planes of
    the corpus. Recall is tunable via multi-probe (``multiprobe_hamming``):
    the QUERY side explodes into every bucket within that Hamming distance of
    its own (1 + n_planes keys at distance 1) — probe count grows on the tiny
    query side, never the corpus side, so the equi-join plan is unchanged.
    Measured by ``sim_ann_recall_at_k``; see cosine_topk for ``exclude_self``.
    ``dim`` doubles as the ragged contract (see ``build_lsh_index``).
    """
    queries = valid_vectors(queries, vec_col, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    if multiprobe_hamming >= 1:
        # distance-0 key plus each single-bit flip (distance 1). Higher radii
        # would add pairs of flips; 1 is the standard recall/cost point.
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("bigint")
                for j in range(n_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    # A caller-provided index (build_lsh_index) is reused across paths; the
    # inline form stays the single-shot default. An index built with a
    # DIFFERENT hyperplane set than the query side would join unrelated
    # buckets and silently return wrong neighbors — validate the build
    # parameters the index carries in its column metadata (absent metadata
    # = a hand-built index; trusted as before).
    if corpus_index is not None and "bucket" in corpus_index.columns:
        meta = corpus_index.schema["bucket"].metadata or {}
        if "n_planes" in meta and (
            int(meta["n_planes"]) != int(n_planes) or int(meta.get("dim", dim)) != int(dim)
        ):
            raise ValueError(
                f"corpus_index was built with n_planes={meta['n_planes']}, "
                f"dim={meta.get('dim')}; ann_lsh_topk was called with "
                f"n_planes={n_planes}, dim={dim} — bucket keys would not align"
            )
    c = (
        corpus_index
        if corpus_index is not None
        else valid_vectors(corpus, vec_col, dim).select(
            F.col(id_col).alias("match_id"),
            F.col(vec_col).alias("cvec"),
            norm(F.col(vec_col)).alias("cnorm"),
            hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
        )
    )
    return _cos_topk(c.join(F.broadcast(q), "bucket"), k, exclude_self)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus into
    cells; each query scans only its ``n_probe`` nearest cells.

    ``centroids``: the cell centers (list of vectors), owned by the caller —
    pinned seed rows an external oracle can reproduce, or a codebook trained
    once by ``kmeans_lloyd_centroids`` and reused across queries (the
    production IVF shape). Cell assignment is a pure codegen'd expression
    with the centroids inlined — a map-only stage, no spark.ml, no extra
    jobs; at 100 TB the cell id is computed once at ingest and used as a
    partition/cluster key, so a query touches ~n_probe/n_cells of the corpus.

    ``dim``: expected vector length (``valid_vectors``' ragged contract);
    inferred from the codebook when not given — a vector of another length
    has no well-defined cell under d-dimensional centroids.
    """
    if not centroids:
        # an EMPTY codebook (empty corpus / empty seed slice) would build a
        # zero-arm assignment expression that fails analysis: answer with
        # the exact search over whatever corpus there is (empty ⇒ empty
        # result, not a crash)
        return cosine_topk(
            queries, corpus, id_col, vec_col, k=k, exclude_self=exclude_self,
            dim=dim,
        )
    if dim is None:
        dim = len(centroids[0])

    # Centroids inlined ONCE as a nested literal array; per-row math is a
    # single transform lambda over it (compact expression tree — 16 separate
    # aggregate() trees measured several seconds of Catalyst analysis).
    centers_arr = lit_matrix(centroids)

    # The inverted file IS a materialization (FAISS builds it at add()-time;
    # at 100 TB it's an ingest-time partition key) — checkpointing here both
    # models that and keeps the inlined-centroid trees out of join planning
    # (left inline, the optimizer re-analyzes them per join rule — measured
    # 4× slower planning than execution).
    assigned = valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
        _nearest_cell(F.col(vec_col), centers_arr).alias("cell"),
    ).localCheckpoint(eager=True)

    q = valid_vectors(queries, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
        _probe_cells(F.col(vec_col), centers_arr, n_probe).alias("__probes"),
    )
    probes = q.select(
        "query_id", "qvec", "qnorm", F.explode("__probes.cell").alias("cell")
    ).localCheckpoint(eager=True)
    return _cos_topk(assigned.join(F.broadcast(probes), "cell"), k, exclude_self)


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force over the given
    frame — the correctness baseline; the scale path is
    ``embedding_near_dup_lsh``). ``dim``: see ``valid_vectors``."""
    df = valid_vectors(df, vec_col, dim)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cos_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    band_size: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH — the
    100 TB path for the brute-force ``embedding_near_dup_pairs``.

    The ``n_planes`` sign bits are split into bands of ``band_size``; rows
    sharing ANY band key become candidates (equi-join on the short
    (band, key) key — same plan family as MinHash LSH, no quadratic stage),
    then the exact cosine filter keeps true near-dups. Smaller bands raise
    recall at the cost of more candidates. The hyperplanes are the same
    fixed integer formula as ``hyperplane_bucket``, so the candidate set —
    and therefore the full result — is deterministic and reproducible by an
    external SQL oracle; the operator is approximate (a near pair differing
    in every band is missed) but exactly specified.

    Defaults (two 6-bit bands = 64 buckets/band): for true near-dups
    (cos ≥ 0.95 ⇒ per-plane agreement ≥ 0.9) recall ≈ 1-(1-0.9^6)² ≈ 0.8,
    rising fast with similarity (≈0.996 at cos 0.999). Candidates per band
    ≈ n²/64 — fixture-scale; at 100 TB raise n_planes with corpus size so
    bucket populations stay bounded.
    """
    n_bands = (n_planes + band_size - 1) // band_size
    # Norms are computed ONCE per row, not per candidate pair — inside a
    # bucket of m rows the pairwise cosine would otherwise recompute each
    # norm m times (measured 3×+ slower). sqrt(dot(v,v)) per row is the same
    # IEEE expression on the same doubles, so results are bit-identical.
    # NULL/empty embeddings OUT before banding: plane_bit maps a NULL dot
    # product to bit 0, so every failed-encoder row would share the
    # IDENTICAL key in EVERY band — the C(m,2) all-NULL co-bucket pair
    # explosion the MinHash/SimHash paths already filter (same contract:
    # no content, no fingerprint, no pairs). dim doubles as the ragged
    # contract: a wrong-length vector's plane dots are partial, so its
    # band keys are engine-ambiguous (see build_lsh_index)
    base = valid_vectors(df, vec_col, dim).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        norm(F.col(vec_col)).alias("__norm"),
    )

    def plane_bit(j: int) -> Column:
        return F.when(_plane_dot(F.col("__vec"), j, dim) >= 0, F.lit(1)).otherwise(F.lit(0))

    bands = []
    for i in range(n_bands):
        planes = range(i * band_size, min((i + 1) * band_size, n_planes))
        key = None
        for off, j in enumerate(planes):
            term = plane_bit(j) * F.lit(2**off)
            key = term if key is None else key + term
        bands.append(F.struct(F.lit(i).alias("band"), key.cast("bigint").alias("key")))
    # Materialize the bucketed index once: the banding expression (n_planes
    # folds over the vector) otherwise evaluates on BOTH sides of the
    # self-join and its wide tree slows join planning (same lesson as
    # ivf_topk). At scale this is the ingest-time LSH index build.
    exploded = base.select(
        "__id", "__vec", "__norm", F.explode(F.array(*bands)).alias("b")
    ).select("__id", "__vec", "__norm", "b.band", "b.key").localCheckpoint(eager=True)

    cos = _cos_div(
        dot(F.col("a.__vec"), F.col("b.__vec")),
        F.col("a.__norm") * F.col("b.__norm"),
    )
    return (
        bucket_pairs(exploded, "__id", ["band", "key"])
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def decontaminate_by_similarity(
    eval_set: DataFrame,
    train_set: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    dim: int | None = None,
) -> DataFrame:
    """Benchmark decontamination on embeddings: for each EVAL vector, find
    TRAIN vectors with cosine ≥ threshold (semantic near-matches that would
    leak the benchmark into training data). Returns one row per eval vector:
    (eval_id, n_contaminating, max_cos, nearest_train_id) — nearest by
    cosine, ties broken on train id.

    Scale shape: the eval set (benchmarks — thousands of rows) is broadcast;
    the 100 TB train side streams through a map-only score stage, and the
    per-eval aggregate shuffles only the rows above threshold (tiny). For
    eval sets too big to broadcast, bucket both sides with
    ``embedding_near_dup_lsh``'s hyperplane keys instead.
    """
    e = valid_vectors(eval_set, vec_col, dim).select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("evec"),
        norm(F.col(vec_col)).alias("enorm"),
    )
    t = valid_vectors(train_set, vec_col, dim).select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("tvec"),
        norm(F.col(vec_col)).alias("tnorm"),
    )
    scored = t.crossJoin(F.broadcast(e)).select(
        "eval_id",
        "train_id",
        _cos_div(dot(F.col("evec"), F.col("tvec")), F.col("enorm") * F.col("tnorm")).alias("cos"),
    )
    hits = scored.filter(F.col("cos") >= threshold)
    best = F.row_number().over(
        W.partitionBy("eval_id").orderBy(F.desc("cos"), F.asc("train_id"))
    )
    agg = (
        hits.withColumn("__rn", best)
        .groupBy("eval_id")
        .agg(
            F.count("*").alias("n_contaminating"),
            F.max("cos").alias("max_cos"),
            F.max(F.when(F.col("__rn") == 1, F.col("train_id"))).alias("nearest_train_id"),
        )
    )
    return (
        e.select("eval_id")
        .join(agg, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce(F.col("n_contaminating"), F.lit(0)).cast("bigint").alias("n_contaminating"),
            "max_cos",
            "nearest_train_id",
        )
    )


# the fixed-point audit's per-component validity bound — see
# label_centroid_outliers' docstring; the oracle inlines the same constant
CENTROID_COMPONENT_DOMAIN = 1_000.0


def label_centroid_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    top_k: int = 3,
    scale: int = 10_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Per-label centroid distances → the ``top_k`` farthest members of each
    label (SemDeDup/CleanLab-style outlier audit of a labeled embedding set).

    Exactness: a centroid is a cross-row float mean, which is order-dependent
    in double — so components are first fixed-point quantized
    (``floor(x * scale)`` as int64). Integer sums are exact and
    order-independent in both engines; the squared distance to the centroid is
    computed on the integer grid as ``(q_i*n - S_i)²`` (per-label count n,
    component sum S_i — both exact), each square cast to decimal(38,6) so the
    cross-component sum is exact too, and only the final score division
    happens in double with the identical expression on the oracle side.

    Scale shape: posexplode to (row, component) — map-side only; one shuffle
    to (label, pos) for the centroid sums (dim × labels rows — tiny);
    broadcast-join centroids back; one shuffle to re-aggregate per row; a
    bounded per-label top-k window. No step holds a whole label on one task
    except the final top-k, whose input is one scored row per member.

    Component DOMAIN: the integer grid bounds what a component may be —
    ``floor(tv² · 1e12)`` must fit int64, so |component| must stay under
    ``CENTROID_COMPONENT_DOMAIN`` (1e3; deviations then reach 2e3 and the
    squared term 4e18 < 2^63). Vectors carrying a NULL/NaN/out-of-domain
    component are EXCLUDED from the audit up front — the same
    invalid-vector contract as the IVF quantizer sample and LSH banding;
    without it ONE 1e18 garbage component ANSI-aborts the whole job
    (``scripts/extreme_sweep.py`` injects such components).
    """
    bad = F.exists(
        F.col(vec_col),
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) >= F.lit(CENTROID_COMPONENT_DOMAIN)),
    )
    df = df.filter(F.col(vec_col).isNotNull() & ~bad)
    if dim is not None:
        # the ragged contract (valid_vectors): a wrong-length vector would
        # contribute to only SOME per-(label, pos) centroid sums, skewing
        # every same-label member's distance — and engine-ambiguously so
        df = df.filter(F.size(F.col(vec_col)) == int(dim))
    q = (
        spread(df).select(
            F.col(id_col),
            F.col(label_col).alias("__lbl"),
            F.posexplode(F.col(vec_col)).alias("__pos", "__c"),
        )
        .withColumn("__q", F.floor(F.col("__c").cast("double") * scale).cast("bigint"))
        .drop("__c")
    )
    cent = q.groupBy("__lbl", "__pos").agg(
        F.sum("__q").alias("__s"), F.count("*").alias("__n")
    )
    # Per-component deviation back in embedding units, computed in double
    # with the SAME expression shape as the oracle (int→double casts are
    # exact below 2^53; the divisions are correctly rounded identically in
    # both engines). The cross-component sum is made order-independent by
    # floor-quantizing each squared term onto a 1e-12 grid — floor(double)
    # and int64 addition are exact in both engines, unlike a double→decimal
    # cast whose 15th-digit rounding the engines disagree on by 1 ulp.
    tv = (
        (F.col("__q") * F.col("__n") - F.col("__s")).cast("double")
        / F.col("__n").cast("double")
        / F.lit(float(scale))
    )
    term_q = F.floor(tv * tv * F.lit(1e12)).cast("bigint")
    scored = (
        q.join(F.broadcast(cent), ["__lbl", "__pos"])
        .withColumn("__t", term_q)
        .groupBy(F.col(id_col), F.col("__lbl"))
        .agg((F.sum("__t").cast("double") / F.lit(1e12)).alias("dist2"))
    )
    w = W.partitionBy("__lbl").orderBy(F.desc("dist2"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(F.col(id_col), F.col("__lbl").alias(label_col), "dist2", "rank")
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds: DataFrame,
    threshold: float = 0.4,
    max_cell_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering the
    embedding space and removing, within each cluster, all but the
    centroid-closest member of every above-threshold cosine pair.

    ``seeds`` is a small (cell_id, cvec) frame — the cluster centroids. Here
    they are caller-pinned deterministic vectors so the whole operator is
    oracle-exact; in production they come from a k-means pass (see
    ``kmeans_lloyd_centroids`` — the same machinery).

    Returns one row per input vector: (<id_col>, cell_id, cos_centroid,
    is_removed). ``is_removed`` is True iff some same-cell neighbor with
    cosine > ``threshold`` sits closer to the centroid (ties: the smaller id
    wins, matching the paper's keep-one-representative rule).

    100 TB shape: centroids broadcast (the paper's LAION run uses 50k
    clusters × d floats — a few MB); assignment is a map-only argmax over the
    broadcast set, no corpus shuffle. The only shuffle keys on cell_id, and
    the quadratic stage is confined within a cell — cluster count is chosen
    ∝ corpus size precisely so cells stay bounded (the paper's design). A
    pathological giant cell is handled the same way as an LSH mega-bucket:
    AQE skew-join splitting, or — when ``max_cell_size`` is set — a
    deterministic cell-size cap: any cell larger than the cap is sub-split
    by a hash of the id into ceil(size/cap) sub-cells, bounding the
    quadratic stage at ~C(cap, 2) pairs per sub-cell. The cost is recall,
    not correctness: cross-sub-cell pairs inside a giant cell are missed
    (the capped removed-set is always a SUBSET of the uncapped one —
    asserted in tests/test_similarity_ann.py), the same graceful trade the
    paper makes by raising the cluster count.
    """
    # The invalid-vector contract applies to the SEEDS too, inside the
    # operator — not just at call sites: a ragged/NULL-element seed gives
    # NULL cosc in Spark's padded zip_with fold but a partial NUMBER in
    # DuckDB's NULL-skipping list fold for EVERY corpus vector scored
    # against that cell, so the operator must be safe by construction
    # (registered callers already pre-filter; this is idempotent there).
    seeds = valid_vectors(seeds, "cvec", dim)
    # Norms are computed ONCE per vector here and reused by every pair below
    # (norm(a)*norm(b) is the identical expression tree to the inline form,
    # so oracle exactness is unchanged — same trick as
    # embedding_near_dup_pairs).
    cell = seeds.select(
        F.col("cell_id").alias("__cell"),
        F.col("cvec").alias("__cvec"),
        norm(F.col("cvec")).alias("__cn"),
    )
    # dim: the ragged contract — a 32-dim vector among 64-dim ones has a
    # partial centroid distance that is NULL in Spark's padded zip_with fold
    # but a NUMBER in DuckDB's NULL-skipping list fold, so the engines would
    # put it in different cells (one such vector diverged 445/500 rows)
    base = valid_vectors(df, vec_col, dim).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        norm(F.col(vec_col)).alias("__n"),
    )
    scored = base.crossJoin(F.broadcast(cell)).select(
        "__id",
        "__vec",
        "__n",
        "__cell",
        _cos_div(dot(F.col("__vec"), F.col("__cvec")), F.col("__n") * F.col("__cn")).alias(
            "__cosc"
        ),
    )
    # Nearest-centroid argmax as max(struct) — identical semantics to the
    # oracle's ROW_NUMBER (cosc DESC, cell ASC): lexicographic struct order
    # on (cosc, -cell) picks max cosine, ties to the smallest cell, and the
    # aggregate PARTIALS MAP-SIDE so only n small structs shuffle (a window
    # here would shuffle all n×K scored rows WITH their vectors — the
    # dominant cost once K grows with the corpus). The vectors are kept out
    # of the aggregation buffers and re-attached with one n-row equi-join.
    best = (
        scored.groupBy("__id")
        .agg(
            F.max(
                F.struct(
                    F.col("__cosc").alias("c"),
                    (-F.col("__cell")).alias("negcell"),
                    F.col("__cell").alias("cell"),
                )
            ).alias("__b")
        )
        .select(
            "__id",
            F.col("__b.cell").alias("__cell"),
            F.col("__b.c").alias("__cosc"),
        )
    )
    assigned = (
        base.join(best, "__id")
        .select("__id", "__vec", "__n", "__cell", "__cosc")
        .localCheckpoint(eager=True)  # reused by both sides of the self-join
    )
    pair_key = ["__cell"]
    if max_cell_size is not None:
        # giant-cell cap: sub-split oversized cells by a deterministic id
        # hash so the quadratic stage is bounded per sub-cell; the cell-size
        # frame is tiny (one row per cell) and broadcasts
        sizes = assigned.groupBy("__cell").agg(F.count("*").alias("__csz"))
        assigned = assigned.join(F.broadcast(sizes), "__cell").withColumn(
            "__sub",
            F.when(
                F.col("__csz") > max_cell_size,
                F.pmod(
                    F.xxhash64("__id"),
                    F.ceil(F.col("__csz") / F.lit(max_cell_size)).cast("long"),
                ),
            ).otherwise(F.lit(0)),
        )
        pair_key = ["__cell", "__sub"]
    a = assigned.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("va"),
        F.col("__n").alias("na"),
        *pair_key, F.col("__cosc").alias("ca"),
    )
    b = assigned.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("vb"),
        F.col("__n").alias("nb"),
        *pair_key, F.col("__cosc").alias("cb"),
    )
    # The equi-join keys on cell_id — with a handful of cells that caps
    # parallelism at the cell count, so the (cheap) joined pair stream is
    # re-spread across all cores BEFORE the per-pair dot-product fold, which
    # is where the compute lives. At production cell counts (∝ corpus size)
    # the join itself is already wide and the repartition is harmless.
    pairs = (
        spread(a.join(b, pair_key).filter(F.col("id_a") < F.col("id_b")))
        .withColumn(
            "__cos", _cos_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
        )
        .filter(F.col("__cos") > threshold)
    )
    # per pair the centroid-farther member loses; ties keep the smaller id
    # (id_a < id_b by construction, so the tie arm folds into otherwise)
    loser = F.when(F.col("ca") < F.col("cb"), F.col("id_a")).otherwise(F.col("id_b"))
    removed = pairs.select(loser.alias("__id")).distinct()
    return (
        assigned.join(removed.withColumn("__rm", F.lit(True)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").cast("int").alias("cell_id"),
            F.col("__cosc").alias("cos_centroid"),
            F.coalesce(F.col("__rm"), F.lit(False)).alias("is_removed"),
        )
    )


def _sub_l2(sub: Column, centroid_arr: Column) -> Column:
    """Squared L2 between a sub-vector column and one inlined centroid —
    identical fold shape to ``dot``/``_sql_l2`` (zip, square, left-fold)."""
    return F.aggregate(
        F.zip_with(
            sub, centroid_arr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspace_dists(sub: Column, cb_arr: Column) -> Column:
    """Array of squared L2 distances from a sub-vector to every centroid of
    one codebook (centroids inlined as a nested literal array)."""
    return F.transform(cb_arr, lambda c: _sub_l2(sub, c))


def _argmin_code(ds: Column) -> Column:
    """First-min argmin over a distance array as a 0-based int code — THE
    tie-break definition (≡ the oracles' ROW_NUMBER(ORDER BY d2, cell)),
    one definition shared by ivf_topk's cell assignment, pq_encode's code
    argmin and ivfpq_adc_topk (the module's one-definition rule: a NaN- or
    tie-handling fix here must reach every quantizer at once)."""
    return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")


def _nearest_cell(vec: Column, centers_arr: Column) -> Column:
    """The coarse-quantizer cell of ``vec``: first-min argmin of its squared
    L2 to every inlined centroid (the same fold the PQ half uses)."""
    return _argmin_code(_subspace_dists(vec, centers_arr))


def _probe_cells(vec: Column, centers_arr: Column, n_probe: int) -> Column:
    """The ``n_probe`` nearest cells of ``vec``: sort (d, cell) structs and
    keep the first n_probe — still pure expressions; ties break to the
    smaller cell, as in the oracles' ROW_NUMBER(ORDER BY d2, cell_id)."""
    entries = F.transform(
        _subspace_dists(vec, centers_arr),
        lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
    )
    return F.slice(F.array_sort(entries), 1, n_probe)


def _residual(vec: Column, centers_arr: Column, cell: Column) -> Column:
    """``vec - centroid[cell]`` element-wise in double (no fold, so exact)."""
    return F.zip_with(
        vec,
        F.element_at(centers_arr, cell + 1),
        lambda a, b: a.cast("double") - b,
    )


def _subspace_tables(vec: Column, cb_arrs: list[Column], dsub: int) -> list[Column]:
    """The ADC lookup tables ``__qt{j}``: subspace j of ``vec``'s squared L2
    to every centroid of codebook j."""
    return [
        _subspace_dists(F.slice(vec, j * dsub + 1, dsub), cb).alias(f"__qt{j}")
        for j, cb in enumerate(cb_arrs)
    ]


def _subspace_codes(vec: Column, cb_arrs: list[Column], dsub: int) -> list[Column]:
    """The PQ codes ``code{j}``: the nearest centroid of codebook j to
    subspace j of ``vec``."""
    return [
        _argmin_code(_subspace_dists(F.slice(vec, j * dsub + 1, dsub), cb)).alias(
            f"code{j}"
        )
        for j, cb in enumerate(cb_arrs)
    ]


def _adc_topk(joined: DataFrame, m: int, k: int, exclude_self: bool) -> DataFrame:
    """The ADC scan's tail over (query, candidate) rows carrying the tables
    ``__qt{j}`` and codes ``code{j}``: approx_d2 = Σ_j table_j[code_j] as an
    explicit left-to-right m-term addition (fixed FP order — oracle
    bit-exact), then the per-query top k by (approx_d2, match_id)."""
    approx = F.element_at(F.col("__qt0"), F.col("code0") + 1)
    for j in range(1, m):
        approx = approx + F.element_at(F.col(f"__qt{j}"), F.col(f"code{j}") + 1)
    scored = joined.select("query_id", "match_id", approx.alias("approx_d2"))
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("match_id"))
    # asc_nulls_last: a NULL-coded corpus row (NULL embedding → NULL codes →
    # NULL approx_d2) must sink, not win rank 1 for every query — Spark's
    # plain ascending is NULLS FIRST, unlike the desc orderings of the
    # cosine-ranked siblings where NULLs already landed last.
    return _topk(scored, [F.asc_nulls_last("approx_d2"), F.asc("match_id")], k)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m = len(
    codebooks)`` contiguous sub-vectors and replace each with the index of
    its nearest codebook centroid (first-min tie-break) — 64 floats become
    m uint8-sized codes, the ~64× compression that lets a 100 TB vector
    corpus live in RAM for ANN (FAISS IVF-PQ's PQ half).

    Pure map stage: codebooks inline as literals, the argmin is the same
    codegen'd expression shape as ``ivf_topk``'s cell assignment. At scale
    the codes are computed once at ingest and stored alongside (or instead
    of) the raw vectors.

    Returns (<id_col>, code0..code{m-1} int). Invalid vectors (NULL/empty/
    NULL-element/ragged — see ``valid_vectors``; the expected dimension is
    m·dsub, derived from the codebooks themselves) are excluded: their
    sub-distances are NULL and the resulting codes engine-ambiguous.
    """
    dsub = len(codebooks[0][0])
    df = valid_vectors(df, vec_col, len(codebooks) * dsub)
    cb_arrs = [lit_matrix(cb) for cb in codebooks]
    return df.select(F.col(id_col), *_subspace_codes(F.col(vec_col), cb_arrs, dsub))


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query precomputes
    its m×ksub table of sub-distances to every centroid (one row of
    expressions — the classic ADC lookup table), then the corpus is scanned
    touching only the CODES: approx_d2 = Σ_j table_j[code_j], an explicit
    left-to-right 4-term addition (fixed FP order — oracle bit-exact).

    100 TB shape: the query side (with its tables) broadcasts; the corpus
    side streams code columns only — m ints per vector instead of the full
    float vector, which is the entire point of PQ. Rank = (approx_d2 asc,
    match_id) per query, top k.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # ragged contract: the ADC table is defined for exactly m·dsub dims
    queries = valid_vectors(queries, vec_col, m * dsub)
    cb_arrs = [lit_matrix(cb) for cb in codebooks]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *_subspace_tables(F.col(vec_col), cb_arrs, dsub),
    )
    joined = corpus_codes.withColumnRenamed(id_col, "match_id").crossJoin(F.broadcast(q))
    return _adc_topk(joined, m, k, exclude_self)


def ivfpq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ ANN — the full FAISS ``IndexIVFPQ`` read path in one operator:
    a coarse quantizer (``centroids``) partitions the corpus into cells and
    each vector is PQ-compressed to m codes (``codebooks``); a query probes
    its ``n_probe`` nearest cells and ranks ONLY the probed candidates by
    the ADC approximation (sum of per-subspace lookup-table distances).
    Composes ``ivf_topk``'s cell/probe machinery with ``pq_adc_topk``'s
    table scan — both proven oracle-exact individually; the codebooks are
    typically ``kmeans_lloyd_centroids`` products (the trained composition).

    100 TB shape: cell id + codes are computed once at ingest (a pure map
    stage over inlined literals — here materialized via localCheckpoint, the
    ivf_topk precedent) and stored as m ints + 1 int per vector; the query
    side (probe list + m ADC tables, a few KB per query) broadcasts; the
    candidate join is a cell-key equi-join touching ~n_probe/n_cells of the
    CODES — never the float vectors. No cartesian anywhere.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    centers_arr = lit_matrix(centroids)
    cb_arrs = [lit_matrix(cb) for cb in codebooks]
    vec = F.col(vec_col)

    # ingest side: cell + codes per corpus vector (checkpointed — the
    # materialization IS the index, and it keeps the inlined-literal trees
    # out of join planning, the ivf_topk lesson)
    assigned = valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("match_id"),
        _nearest_cell(vec, centers_arr).alias("cell"),
        *_subspace_codes(vec, cb_arrs, dsub),
    ).localCheckpoint(eager=True)

    q = valid_vectors(queries, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        _probe_cells(vec, centers_arr, n_probe).alias("__probes"),
        *_subspace_tables(vec, cb_arrs, dsub),
    )
    probes = q.select(
        "query_id",
        *[f"__qt{j}" for j in range(m)],
        F.explode("__probes.cell").alias("cell"),
    ).localCheckpoint(eager=True)
    return _adc_topk(assigned.join(F.broadcast(probes), "cell"), m, k, exclude_self)


def ivfpq_residual_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — FAISS ``IndexIVFPQ``'s actual
    default (``by_residual=True``): the PQ codes compress ``x - c(cell)``,
    not the raw vector, so one shared codebook describes every cell's
    local neighborhood and quantization error drops without growing the
    code. The read path changes in one place: the ADC lookup tables become
    per-(query, probed cell) — the query's residual against THAT cell's
    centroid — which is exactly FAISS's precomputed-tables trade
    (n_probe·m·ksub doubles per query instead of m·ksub; still KBs).

    ``codebooks`` must be residual-trained (see the trained-query
    composition); with an all-zero coarse quantizer the residual IS the
    vector and this operator degenerates to ``ivfpq_adc_topk`` exactly —
    pinned in tests as the equivalence oracle.

    100 TB shape: identical to ``ivfpq_adc_topk`` — cell + codes are an
    ingest-time map stage over inlined literals, the query side broadcasts,
    the candidate join is a cell-key equi-join touching codes only. The
    residual subtraction is element-wise (no fold), so oracle
    bit-exactness needs no new machinery.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    centers_arr = lit_matrix(centroids)
    cb_arrs = [lit_matrix(cb) for cb in codebooks]
    vec = F.col(vec_col)

    # ingest side: cell + RESIDUAL codes per corpus vector. The residual is
    # computed ONCE per row and MATERIALIZED before the m code argmins are
    # derived from slices of it: inlining `x - c(cell)` (which itself embeds
    # the k·dim centroid literal array twice, plus the argmin's own copy)
    # into every one of the m per-subspace distance transforms made the
    # analyzed tree ~quarter-million nodes and Catalyst analysis dominated
    # the query (measured 60s+ of driver-side planning at sf0.1 vs <1s
    # execution; the ivf_topk "keep inlined-literal trees out of join
    # planning" lesson applied one level deeper).
    # slice(x - c) ≡ (slice(x) - slice(c)) element-wise, so the codes equal
    # a per-subspace residual construction bit for bit.
    cell_col = _nearest_cell(vec, centers_arr)
    res = valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("match_id"),
        cell_col.alias("cell"),
        _residual(vec, centers_arr, cell_col).alias("__rv"),
    ).localCheckpoint(eager=True)
    # no second checkpoint: over the materialized residual the code argmins
    # are a small-plan map stage the final job runs once
    assigned = res.select(
        F.col("match_id"), F.col("cell"), *_subspace_codes(F.col("__rv"), cb_arrs, dsub)
    )

    # query side: explode probes FIRST, then build the per-(query, cell)
    # residual ADC tables — the one structural difference vs the
    # raw-encoding sibling, where tables are per-query. Same
    # materialize-the-residual move as the ingest side: one full-width
    # query residual per (query, probed cell), tables from slices of it.
    q = valid_vectors(queries, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        vec.alias("__qv"),
        _probe_cells(vec, centers_arr, n_probe).alias("__probes"),
    )
    exploded = q.select(
        "query_id", "__qv", F.explode("__probes.cell").alias("cell")
    ).select(
        "query_id",
        "cell",
        _residual(F.col("__qv"), centers_arr, F.col("cell")).alias("__rq"),
    )
    probes = exploded.select(
        F.col("query_id"), F.col("cell"), *_subspace_tables(F.col("__rq"), cb_arrs, dsub)
    ).localCheckpoint(eager=True)
    return _adc_topk(assigned.join(F.broadcast(probes), "cell"), m, k, exclude_self)


def residual_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(id, rvec) residuals against an inlined coarse codebook — the
    training input for residual-PQ codebooks (FAISS trains the PQ on
    ``x - c(assign(x))``). Element-wise exact; assignment is the shared
    ``_argmin_code`` tie-break."""
    dim = len(centroids[0])
    centers_arr = lit_matrix(centroids)
    cell_col = _nearest_cell(F.col(vec_col), centers_arr)
    return valid_vectors(df, vec_col, dim).select(
        F.col(id_col), _residual(F.col(vec_col), centers_arr, cell_col).alias("rvec")
    )


def sqdist(a: Column, b: Column) -> Column:
    """Sequential left-fold squared L2 distance in double — same evaluation
    order as the oracle's generate_series list fold, hence bit-identical
    (the ``dot`` precedent)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _km_frames(
    df: DataFrame, id_col: str, vec_col: str, seeds: DataFrame, dim: int | None,
    group_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Domain-guarded (base, cent) inputs shared by the k-means entry points.

    ``dim`` is REQUIRED: without it ragged vectors pass ``valid_vectors``,
    the (cell, pos) update builds a mixed-length centroid, and ``sqdist``'s
    zip_with yields NULL d2 whose min(struct) argmin is undefined — the
    docstring's invalid-vector contract only holds under a fixed dim.

    ``group_col`` (present in BOTH df and seeds) trains one independent
    k-means per group IN ONE PASS — the PQ per-subspace trainings stack
    their m subvector frames and train all m codebooks with a single
    broadcast + shuffle budget instead of m sequential jobs. Ungrouped
    callers get a constant group, making the group equi-join the exact
    cross join the single-training path always used. Rows with a NULL
    group carry no training group and are excluded (equi-join semantics).
    """
    if dim is None:
        raise ValueError(
            "kmeans: dim is required — the invalid-vector contract "
            "(ragged rows excluded, centroids fixed-length) is undefined "
            "without an expected vector length"
        )
    dom_ok = lambda c: ~F.exists(  # noqa: E731 — label_centroid_outliers' guard
        c,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) >= F.lit(CENTROID_COMPONENT_DOMAIN)),
    )
    grp = (lambda: F.col(group_col)) if group_col else (lambda: F.lit(0))
    base = (
        valid_vectors(df, vec_col, dim)
        .where(dom_ok(F.col(vec_col)))
        .select(
            grp().alias("__grp"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
        )
    )
    cent = (
        valid_vectors(seeds, "cvec", dim)
        .where(dom_ok(F.col("cvec")))
        .select(
            grp().alias("__grp"),
            F.col("cell_id").alias("__cell"),
            F.col("cvec").alias("__cvec"),
        )
    )
    if group_col:
        # A NULL-group SEED never matches the update equi-join, so it
        # would ride through every iteration untouched and emerge in the
        # codebook with a NULL group — enforce the
        # documented "NULL group rows are excluded" contract on the cent
        # side too (base NULL-group rows already vanish in the assign
        # equi-join; the filter just prunes them at the scan).
        base = base.where(F.col("__grp").isNotNull())
        cent = cent.where(F.col("__grp").isNotNull())
    return base, cent


def _km_assign(
    base: DataFrame,
    cent: DataFrame,
    carry_vec: bool = False,
) -> DataFrame:
    """One assignment pass: per-(group, row) argmin of sqdist over the
    broadcast centroids of that row's group — min(struct(d2, cell)), ties
    to the smallest cell. Ungrouped training is the constant group, where
    the group equi-join degenerates to the cross join.

    Each group's centroids are packed into ONE row (k·dim floats — the
    FAISS train-then-broadcast practice), broadcast, and the argmin is a
    single ``array_min(transform(...))`` projection per base row: NO
    exchange for assignment, no n·k intermediate rows, and ``carry_vec``
    is a free column select instead of a join. ``array_min`` over
    ``struct(d2, cell)`` is an order-independent lexicographic min, so
    collect_list order is irrelevant. Groups with no valid centroid drop
    their rows in the equi-join.

    The packed row holds one group's whole codebook: KBs at every codebook
    this package trains (the largest is 16 × 64 doubles), but past
    single-row broadcast territory at production scale (2^16 cells × 768
    dims ≈ 400 MB a row)."""
    packed = cent.groupBy("__grp").agg(
        F.collect_list(F.struct(F.col("__cell"), F.col("__cvec"))).alias("__cands")
    )
    best = F.array_min(
        F.transform(
            F.col("__cands"),
            lambda c: F.struct(
                sqdist(F.col("__vec"), c["__cvec"]).alias("d2"),
                c["__cell"].alias("cell"),
            ),
        )
    )
    out = [
        "__grp",
        "__id",
        F.col("__b.cell").alias("cell_id"),
        F.col("__b.d2").alias("dist2"),
    ]
    if carry_vec:
        out.append("__vec")
    return (
        base.join(F.broadcast(packed), "__grp")
        .withColumn("__b", best)
        .select(*out)
    )


def kmeans_lloyd_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds: DataFrame,
    iters: int = 2,
    scale: int = 10_000_000,
    dim: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """The TRAINED CODEBOOK half of deterministic Lloyd's k-means: run the
    same ``iters - 1`` fixed-point update rounds as ``kmeans_lloyd_assign``
    and return the final centroids (cell_id, cvec) — the frame an IVF coarse
    quantizer or a PQ per-subspace codebook consumes (FAISS ``train()``
    returning the index's centroid table rather than the assignments).

    Determinism is identical to ``kmeans_lloyd_assign`` (sequential sqdist
    fold for assignment, int64 fixed-point grid for the mean update, empty
    cells keep their previous centroid), so the returned centroid
    components are bit-identical to what a SQL oracle recomputes — which is
    what makes a TRAINED-quantizer search oracle-pairable end to end. k·dim
    floats: small enough to collect as a pinned codebook literal (the
    ``ivf_topk(centroids=...)`` / ``pq_encode(codebooks=...)`` shape — the
    same scale argument as any broadcast literal).

    ``group_col``: train one INDEPENDENT k-means per group value in a
    single pass (see ``_km_frames``) — the m per-subspace PQ trainings
    stack into one frame and pay one broadcast + one shuffle family
    total instead of m sequential training jobs; output gains the group
    column. Per-group results are bit-identical to m separate calls
    (every aggregation below keys on the group).
    """
    base, cent = _km_frames(df, id_col, vec_col, seeds, dim, group_col)
    cent = _km_train(base, cent, iters=iters, scale=scale)
    out = [F.col("__cell").alias("cell_id"), F.col("__cvec").alias("cvec")]
    if group_col:
        out.insert(0, F.col("__grp").alias(group_col))
    return cent.select(*out)


def _km_train(
    base: DataFrame,
    cent: DataFrame,
    iters: int,
    scale: int,
) -> DataFrame:
    """The Lloyd update loop over prebuilt ``_km_frames`` — shared by
    ``kmeans_lloyd_centroids`` and ``kmeans_lloyd_assign`` so the assign
    entry point builds the validity/domain-filtered base lineage ONCE.
    Returns the final (__grp, __cell, __cvec) centroid frame."""
    for _ in range(max(0, int(iters) - 1)):
        assigned = _km_assign(base, cent, carry_vec=True)
        comp = (
            assigned.select(
                "__grp", "cell_id", F.posexplode(F.col("__vec")).alias("__pos", "__x")
            )
            .withColumn(
                "__q", F.floor(F.col("__x").cast("double") * scale).cast("bigint")
            )
            .groupBy("__grp", "cell_id", "__pos")
            .agg(F.sum("__q").alias("__s"), F.count("*").alias("__n"))
            .withColumn(
                "__c",
                F.col("__s").cast("double")
                / F.col("__n").cast("double")
                / F.lit(float(scale)),
            )
        )
        fresh = comp.groupBy("__grp", "cell_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("__c").alias("c")))
                ),
                lambda s: s["c"],
            ).alias("__fresh")
        )
        cent = (
            # fresh is k·dim rows by construction — broadcast it so the
            # centroid refresh is a BroadcastHashJoin instead of the
            # sort-merge (exchange+sort pair over two k-row frames) the
            # planner picked from its size estimates (guide §3.1)
            cent.join(
                F.broadcast(
                    fresh.select(
                        "__grp", F.col("cell_id").alias("__cell"), "__fresh"
                    )
                ),
                ["__grp", "__cell"],
                "left",
            )
            .select(
                "__grp",
                "__cell",
                F.coalesce(F.col("__fresh"), F.col("__cvec")).alias("__cvec"),
            )
        )
    return cent


def kmeans_lloyd_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds: DataFrame,
    iters: int = 2,
    scale: int = 10_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the TRAINING
    pass behind every quantizer this module otherwise takes as pinned input
    (``ivf_topk``'s coarse quantizer, ``semdedup``'s cluster seeds, PQ's
    per-subspace codebooks are all k-means products in production — FAISS's
    train step). ``seeds`` is the (cell_id, cvec) init; the operator runs
    ``iters`` fixed assignment→update rounds and returns the FINAL
    assignment: (<id_col>, cell_id, dist2) per valid vector. ``dim`` is
    required (see ``_km_frames``); the trained codebook itself is exposed
    by ``kmeans_lloyd_centroids``.

    DETERMINISM (what makes a float-iterative algorithm oracle-exact):
    * assignment — squared L2 via the sequential ``sqdist`` fold on doubles
      (bit-identical cross-engine, the ``dot`` precedent); argmin as
      min(struct(d2, cell)) ≡ the oracle's ROW_NUMBER(ORDER BY d2, cell),
      ties to the smallest cell (the semdedup pattern, map-side partials).
    * update — a centroid is a cross-row float mean, order-dependent in
      double, so components are fixed-point quantized first
      (``floor(x*scale)`` int64 — the label_centroid_outliers machinery):
      integer sums are exact and order-independent; the new component
      ``(S/n)/scale`` divides exact integers in double with the identical
      expression on the oracle side, so ITERATION 2 starts from
      bit-identical centroids in both engines. No rounding fudge anywhere.
    * empty cells keep their previous centroid (left-join + coalesce), the
      FAISS behavior, deterministically.

    Invalid-vector contract: NULL/empty/NULL-element/ragged vectors are
    excluded via ``valid_vectors`` and — because the update runs on the
    int64 grid — so are vectors carrying a NaN or out-of-domain component
    (|x| ≥ CENTROID_COMPONENT_DOMAIN would overflow the grid; the
    label_centroid_outliers contract, same SQL mirror). Seeds ride the
    identical contract (the semdedup safe-by-construction precedent).

    100 TB shape: per iteration — one broadcast of k·dim centroid floats
    (a few MB at FAISS-scale k, the semdedup argument), an argmin that is
    a pure per-row projection over the broadcast codebook (NO exchange,
    no n·k intermediate rows — see ``_km_assign``), one posexplode
    shuffle keyed (cell, pos) whose
    output is k·dim rows, and one k-row groupBy to rebuild arrays. All
    linear, no collect (centroids stay a DataFrame; even the broadcast is
    planned, not driver-materialized). Int64-grid overflow bound:
    n_cell_members · scale · max|component| < 2^63 — at the default grid
    (1e7 · 1e3) that is ~9e8 rows per cell; shrink ``scale`` for fatter
    cells. Iterations are a driver-side Python loop over DataFrame ops —
    lineage grows linearly with ``iters``; checkpoint between rounds if
    training deep (the cluster-propagation precedent).

    Reference parity: the reference engine has no ANN/quantizer surface;
    this extends the LLM-pipeline similarity stack (SURVEY §2 extension,
    same status as ivf_topk/pq_topk).
    """
    base, cent = _km_frames(df, id_col, vec_col, seeds, dim)
    cent = _km_train(base, cent, iters=iters, scale=scale)
    return _km_assign(base, cent).select(
        F.col("__id").alias(id_col), "cell_id", "dist2"
    )
