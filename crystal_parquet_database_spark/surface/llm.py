"""LLM-data-pipeline query surface: dedup, similarity search, text analysis.

Implementations live in operators/{dedup,similarity,text}.py; this module
binds them to the fixture tables and generates the DuckDB oracle SQL **from
the same constants** (hash prime, MinHash coefficients, LSH hyperplane
formula, marker-word sets) so both engines compute the identical function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from crystal_parquet_database_spark.functions.literals import lit_frame
from crystal_parquet_database_spark.functions.portable_hash import (
    N_MINHASH,
    P,
    _sql_gram,
    minhash_coeffs,
    sql_hash64,
    sql_hash_raw60,
    sql_shingles,
    sql_word_shingles,
)
from crystal_parquet_database_spark.operators import dedup as D
from crystal_parquet_database_spark.operators import similarity as S
from crystal_parquet_database_spark.operators import text as T
from crystal_parquet_database_spark.runtime import (
    concurrently,
    release_local_checkpoint,
)
from crystal_parquet_database_spark.surface.registry import query
from crystal_parquet_database_spark.tables import load_table

# ----------------------------------------------------------------------------
# dedup: exact
# ----------------------------------------------------------------------------

# NULL text gets a per-row sentinel digest (D.content_digest): md5(NULL) is
# NULL, and a NULL digest would either group every no-content row into one
# duplicate set or drop it from an equi-join; no content pairs with nothing.
_NULLTEXT_DIGEST = "COALESCE(md5(text), 'nulltext:' || CAST(doc_id AS VARCHAR))"

_EXACT_ORACLE = f"""
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY {_NULLTEXT_DIGEST}) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY {_NULLTEXT_DIGEST}) AS is_dup
FROM documents
"""


@query("dedup_exact_text", _EXACT_ORACLE)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


# ----------------------------------------------------------------------------
# dedup: MinHash + LSH  (oracle generated from the same coefficients)
# ----------------------------------------------------------------------------

# word-3-gram shingles: ~0 background Jaccard on shared-vocab corpora (char
# k-grams measured ~0.2 median pair Jaccard on the fixtures → LSH floods)
_K = 3
_BANDS = 8
_ROWS = N_MINHASH // _BANDS
_THRESH = 0.8

_HS_CTE = (
    # list_distinct = dedupe + NULL-drop, mirroring shingle_hashes' set
    # semantics on hashed values (hash collisions between distinct shingle
    # strings, NULL-text [NULL] fallback — see operators/dedup.py)
    f"hs AS (SELECT doc_id, "
    f"list_distinct(list_transform({sql_word_shingles('text', _K)}, s -> {sql_hash64('s')})) AS hs "
    f"FROM documents)"
)

_SIG_LIST = ", ".join(
    f"list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {P}), 'min')"
    for a, b in minhash_coeffs()
)

_JACC = (
    "CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)"
    " / CAST(len(a.hs) + len(b.hs)"
    " - len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)"
)


def _sql_jaccard_pairs(cols: str, source: str, tau: float) -> str:
    """Verify select: ``cols`` plus the exact Jaccard of the shingle sets
    ``a.hs``/``b.hs`` that ``source`` joins, for pairs at or above ``tau``."""
    return f"""SELECT * FROM (
  SELECT {cols}, {_JACC} AS jaccard
  FROM {source}
) WHERE jaccard >= {tau}"""


def _sql_brute_pairs(tau: float) -> str:
    """All-pairs exact Jaccard over ``hs`` — the quadratic baseline."""
    return _sql_jaccard_pairs(
        "a.doc_id AS id_a, b.doc_id AS id_b", "hs a JOIN hs b ON a.doc_id < b.doc_id", tau
    )


# MinHash signature and LSH band keys over ``hs`` (minhash_signature and
# _band_explode in operators/dedup.py)
_BANDS_CTES = f"""sig AS (SELECT doc_id, hs, [{_SIG_LIST}] AS sig FROM hs),
bands AS (
  SELECT doc_id, g.i AS band,
         array_to_string(list_transform(list_slice(sig, g.i*{_ROWS}+1, g.i*{_ROWS}+{_ROWS}),
                                        x -> CAST(x AS VARCHAR)), '-') AS key
  FROM sig, generate_series(0, {_BANDS - 1}) g(i)
)"""

_LSH_PAIRS = """cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)"""

_LSH_VERIFY = _sql_jaccard_pairs(
    "id_a, id_b", "cand JOIN hs a ON cand.id_a = a.doc_id JOIN hs b ON cand.id_b = b.doc_id",
    _THRESH,
)

_MINHASH_ORACLE = f"""
WITH {_HS_CTE},
{_BANDS_CTES},
{_LSH_PAIRS}
{_LSH_VERIFY}
"""


def _minhash_pairs(docs: DataFrame) -> DataFrame:
    return D.minhash_lsh_dedup(
        docs, "text", "doc_id", threshold=_THRESH, k=_K, n_hashes=N_MINHASH,
        n_bands=_BANDS,
    )


@query("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------------
# dedup: brute-force n-gram Jaccard (correctness baseline, sampled subset)
# ----------------------------------------------------------------------------

_NGRAM_ORACLE = f"""
WITH {_HS_CTE}
{_sql_brute_pairs(0.7)}
"""


@query("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic exact baseline — the correctness yardstick for the LSH path.
    (Run at small sf / candidate sets only; the scale path is minhash_lsh.)"""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7, k=_K)


# ----------------------------------------------------------------------------
# dedup-config evaluation: banding recall of the MinHash-LSH pair search
# against exact all-pairs Jaccard truth at the SAME threshold — the
# (bands, rows) S-curve check a pipeline runs before trusting its dedup
# config, the dedup counterpart of recall@k for ANN.
# ----------------------------------------------------------------------------

_LSH_EVAL_ORACLE = f"""
WITH {_HS_CTE},
truth AS (SELECT id_a, id_b FROM ({_sql_brute_pairs(_THRESH)})),
{_BANDS_CTES},
{_LSH_PAIRS},
found AS (SELECT id_a, id_b FROM ({_LSH_VERIFY})),
t AS (SELECT COUNT(*) AS n_true FROM truth),
f AS (SELECT COUNT(*) AS n_found FROM found),
h AS (SELECT COUNT(*) AS n_hit
      FROM truth tr JOIN found fo ON tr.id_a = fo.id_a AND tr.id_b = fo.id_b)
SELECT CAST(t.n_true AS BIGINT) AS n_true,
       CAST(f.n_found AS BIGINT) AS n_found,
       CAST(h.n_hit AS BIGINT) AS n_hit,
       CASE WHEN t.n_true > 0
            THEN CAST(h.n_hit AS DOUBLE) / CAST(t.n_true AS DOUBLE)
       END AS pair_recall,
       CASE WHEN f.n_found > 0
            THEN CAST(h.n_hit AS DOUBLE) / CAST(f.n_found AS DOUBLE)
       END AS pair_precision
FROM t, f, h
"""


@query("eval_lsh_pair_recall", _LSH_EVAL_ORACLE)
def eval_lsh_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH banding quality: exact all-pairs Jaccard ≥ τ
    is the pair ground truth; the production MinHash-LSH path (same
    threshold, same shingles) is the approximation; output is ONE row of
    exact confusion counts plus recall/precision of the banded search —
    the check that tells you whether (bands, rows) sits on the right part
    of the S-curve BEFORE a dedup run deletes data. Precision < 1 is
    possible only via minhash/banding hash collisions (the verify stage
    recomputes exact Jaccard on candidates); recall < 1 is missed bands —
    the number this query exists to measure. Like every exact-companion
    measurement (the sim_ann_recall_at_k precedent) the quadratic truth
    arm runs on a sample at scale; the LSH arm is the production path."""
    docs = load_table(spark, sf_dir, "documents")
    truth = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=_THRESH, k=_K
    ).select("id_a", "id_b")
    found = _minhash_pairs(docs).select(F.col("id_a").alias("__fa"), F.col("id_b").alias("__fb"))
    t = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    f = found.agg(F.count("*").cast("bigint").alias("n_found"))
    h = truth.join(
        found,
        (truth.id_a == found.__fa) & (truth.id_b == found.__fb),
    ).agg(F.count("*").cast("bigint").alias("n_hit"))
    return (
        t.crossJoin(f)
        .crossJoin(h)
        .select(
            "n_true",
            "n_found",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
            ).alias("pair_recall"),
            F.when(
                F.col("n_found") > 0,
                F.col("n_hit").cast("double") / F.col("n_found").cast("double"),
            ).alias("pair_precision"),
        )
    )


# ----------------------------------------------------------------------------
# dedup: SimHash fingerprints + near pairs
# ----------------------------------------------------------------------------

# Manku-style config (WWW'07 simhash dedup): wide fingerprint, tight radius.
# 60 bits (not 64: bit 63 would overflow signed BIGINT in both engines) with
# Hamming <= 3 gives 4 bands of 15 bits — band buckets hold ~n/2^15 docs, so
# the banded self-join stays near-linear. The earlier 32-bit / Hamming<=6
# config had 4-5-bit bands whose buckets held n/32 docs: quadratic candidate
# growth, caught by the 10x scale probe.
_BITS = 60
_HAM = 3
_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(_BITS)
)
_FP = " + ".join(f"CASE WHEN v{i} >= 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END" for i in range(_BITS))

# SimHash shingle hashes use the FULL-WIDTH 60-bit hash (no mod-P): a mod-P
# hash is < 2^31, so votes for bits 31+ would all be -1 and the wide
# fingerprint would collapse to 31 effective bits (one all-corpus LSH bucket).
_SIMHASH_HS_CTE = (
    f"shs AS (SELECT doc_id, "
    f"list_transform({sql_word_shingles('text', _K)}, s -> {sql_hash_raw60('s')}) AS hs "
    f"FROM documents)"
)

_SIMHASH_CTES = f"""
{_SIMHASH_HS_CTE},
e AS (SELECT doc_id, h FROM (SELECT doc_id, unnest(hs) AS h FROM shs)
      WHERE h IS NOT NULL),
v AS (SELECT doc_id, {_VOTES} FROM e GROUP BY doc_id),
fp AS (SELECT doc_id, {_FP} AS simhash FROM v)
"""

_SIMHASH_ORACLE = f"WITH {_SIMHASH_CTES.strip()} SELECT doc_id, simhash FROM fp"


@query("dedup_simhash_fingerprint", _SIMHASH_ORACLE)
def dedup_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id", bits=_BITS, k=_K)


# fingerprint pairs within Hamming radius _HAM (simhash_near_pairs)
_SIMHASH_NEAR = f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAM}"""

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTES.strip()}
{_SIMHASH_NEAR}
"""


def _sql_components(nodes: str) -> str:
    """``ed``/``reach`` CTEs of connected_components: min-label propagation
    over the pair CTE ``p`` (id_a, id_b), every ``doc_id`` of ``nodes``
    seeding its own label. Needs ``WITH RECURSIVE``; ``_CC`` is the tail."""
    return f"""ed AS (SELECT id_a AS src, id_b AS dst FROM p
       UNION ALL SELECT id_b, id_a FROM p),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM {nodes}
  UNION
  SELECT ed.dst, reach.lab FROM reach JOIN ed ON ed.src = reach.id
)"""


_CC = "SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id"


def _simhash_pairs(docs: DataFrame) -> DataFrame:
    # Both sides of the banded self-join consume the fingerprint subtree;
    # Spark's ReusedExchange computes it once (verified — an explicit
    # localCheckpoint barrier measured no faster).
    fp = D.simhash(docs, "text", "doc_id", bits=_BITS, k=_K)
    return D.simhash_near_pairs(fp, "doc_id", max_hamming=_HAM, bits=_BITS)


@query("dedup_simhash_near_pairs", _SIMHASH_PAIRS_ORACLE)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------------
# similarity search over embeddings
# ----------------------------------------------------------------------------

_DIM = 64


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(generate_series(1, {_DIM}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def _sql_cos(a: str, b: str) -> str:
    """ONE definition of the cosine-similarity SQL shape. Every oracle that
    scores cosine must route through this (six sites before the fold) so a
    future change — a zero-norm guard, a different fold order — cannot be
    half-applied and silently desynchronize one oracle from the single
    Spark implementation (operators/similarity._cos_div); the same
    half-applied-lockstep risk that motivated _sql_sign_bits."""
    return (
        f"{_sql_dot(a, b)} / "
        f"(SQRT({_sql_dot(a, a)}) * SQRT({_sql_dot(b, b)}))"
    )


_COS = _sql_cos("qvec", "cvec")
# the invalid-vector contract's SQL mirror (operators/similarity.py::
# valid_vectors): NULL / empty / NULL-element / RAGGED (length ≠ _DIM, a
# mixed-encoder corpus) embeddings are excluded from
# every similarity operator, so every oracle scanning `embeddings` carries
# this predicate too
_VALID = S.VALID_VEC_SQL("embedding", _DIM)

# the per-query cosine top-10 over the scored pairs `s` (query_id, match_id, cos)
_COS_RANK_TAIL = """SELECT * FROM (
  SELECT query_id, match_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS INTEGER) AS rank
  FROM s
) WHERE rank <= 10
"""

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id < 10 AND {_VALID}),
c AS (SELECT vec_id AS match_id, embedding AS cvec FROM embeddings WHERE {_VALID}),
s AS (SELECT query_id, match_id, {_COS} AS cos
      FROM c CROSS JOIN q WHERE match_id <> query_id)
{_COS_RANK_TAIL}"""


@query("sim_cosine_topk_bruteforce", _TOPK_ORACLE)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=10, dim=_DIM
    )


def _sql_sign_bits(vec: str, planes: list[tuple[int, int]]) -> str:
    """ONE generator for the hyperplane dot-product + sign-bit SQL —
    ``_sql_bucket`` (ANN buckets) and ``_sql_band_key`` (near-dup LSH bands)
    are the same expression under different (plane index → bit offset) maps.
    Two hand-kept copies already forced one lockstep fix (the ``S._w`` dim
    stride had to be patched in both); a single generator makes the next
    such fix impossible to half-apply."""
    terms = []
    for j, off in planes:
        w_list = "[" + ", ".join(f"{float(S._w(j, kk, _DIM))}" for kk in range(_DIM)) + "]"
        d = (
            f"list_aggregate(list_transform(generate_series(1, {_DIM}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({w_list})[i]), 'sum')"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN CAST({2**off} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return "(" + " + ".join(terms) + ")"


def _sql_bucket(vec: str, n_planes: int = 8) -> str:
    return _sql_sign_bits(vec, [(j, j) for j in range(n_planes)])


_ANN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {_sql_bucket('embedding')} AS bucket
           FROM embeddings WHERE vec_id < 10 AND {_VALID}),
c AS (SELECT vec_id AS match_id, embedding AS cvec,
             {_sql_bucket('embedding')} AS bucket
      FROM embeddings WHERE {_VALID}),
s AS (SELECT query_id, match_id, {_COS} AS cos
      FROM c JOIN q USING (bucket) WHERE match_id <> query_id)
{_COS_RANK_TAIL}"""


@query("sim_ann_lsh_topk", _ANN_ORACLE)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", k=10, n_planes=8, dim=_DIM
    )


_IVF_SEED_LO, _IVF_SEED_N, _IVF_PROBE = 100, 16, 4


def _sql_sqfold(diff: str, lo: int, hi: int) -> str:
    """Squared-L2 SQL fold mirroring operators.similarity (cast-to-double,
    subtract, self-multiply, left-fold sum): ``diff`` is the per-element
    difference at index ``i``, folded over i in [lo, hi]. The one generator
    of the fold shape; callers differ only in the difference they index."""
    return (
        f"list_aggregate(list_transform(generate_series({lo}, {hi}), "
        f"i -> {diff} * {diff}), 'sum')"
    )


def _sql_diff(a: str, b: str) -> str:
    return f"(CAST({a} AS DOUBLE) - CAST({b} AS DOUBLE))"


def _sql_l2(a: str, b: str) -> str:
    """Squared L2 distance between two full-width vectors."""
    return _sql_sqfold(_sql_diff(f"{a}[i]", f"{b}[i]"), 1, _DIM)


# the pinned query set every recall oracle searches from
_Q_CTE = f"""q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE vec_id < 10 AND {_VALID})"""


def _sql_cos_top10(name: str, source: str) -> str:
    """CTE ``name``: per-query cosine top-10 (query_id, match_id) over the
    ``q``/``c`` pairs of ``source`` (a FROM ... WHERE clause) — the exact
    truth when ``source`` is the full cross join, an approximate arm when it
    is a probe or bucket join."""
    return f"""{name} AS (
  SELECT query_id, match_id FROM (
    SELECT q.query_id, c.match_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_COS} DESC, c.match_id) AS rank
    FROM {source}
  ) WHERE rank <= 10
)"""


def _sql_recall_tail(arm: str, a: str) -> str:
    """The single-arm recall@10 SELECT: per query, the CTE ``truth`` rows
    and how many of them CTE ``arm`` (alias ``a``) found, as exact integer
    counts plus one double division."""
    return f"""SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT({a}.match_id) AS BIGINT) AS n_hit_{arm},
       CAST(CAST(COUNT({a}.match_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DOUBLE)
         AS recall_{arm}
FROM truth t
LEFT JOIN {arm} {a} ON t.query_id = {a}.query_id AND t.match_id = {a}.match_id
GROUP BY t.query_id"""


def _sql_ivf_assign(cell: str, cvec: str, cells: str, kw: str) -> str:
    """CTEs ``d`` (squared L2 of every valid corpus vector to every cell
    centroid ``cvec`` of the ``cells`` relation) and ``assign`` (each
    vector's nearest cell, first-min tie-break). ``kw`` is "" or
    "MATERIALIZED " (a DuckDB planner hint; results are identical)."""
    return f"""d AS {kw}(
  SELECT e.vec_id, {cell}, {_sql_l2('e.embedding', cvec)} AS d2
  FROM embeddings e CROSS JOIN {cells}
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
assign AS {kw}(
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn
    FROM d) WHERE rn = 1
)"""


# each query's _IVF_PROBE nearest cells, from the `d` CTE
_PROBES_CTE = f"""probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn
    FROM d WHERE vec_id < 10) WHERE rn <= {_IVF_PROBE}
)"""

# the assigned corpus, from the `assign` CTE
_IVF_C_CTE = """c AS (SELECT e.vec_id AS match_id, e.embedding AS cvec, a.cell_id
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id)"""

# probe → candidate join → cosine rank over the assigned corpus, against
# the cosine truth over that same corpus; follows the `d`/`assign` CTEs
_IVF_SEARCH = f"""{_PROBES_CTE},
{_Q_CTE},
{_IVF_C_CTE},
{_sql_cos_top10("ivf", '''c
    JOIN probes p ON c.cell_id = p.cell_id
    JOIN q ON q.query_id = p.query_id
    WHERE c.match_id <> q.query_id''')},
{_sql_cos_top10("truth", "c CROSS JOIN q WHERE c.match_id <> q.query_id")}
{_sql_recall_tail("ivf", "i")}"""

_IVF_RECALL_ORACLE = f"""
WITH seeds AS (
  SELECT CAST(vec_id - {_IVF_SEED_LO} AS INTEGER) AS cell_id, embedding AS svec
  FROM embeddings
  WHERE vec_id >= {_IVF_SEED_LO} AND vec_id < {_IVF_SEED_LO + _IVF_SEED_N}
    AND {_VALID}
),
{_sql_ivf_assign("s.cell_id", "s.svec", "seeds s", "")},
{_IVF_SEARCH}
"""


def _seed_rows(emb: DataFrame, lo: int, n: int) -> DataFrame:
    """The valid embedding rows with vec_id in [lo, lo + n): the pinned seed
    rows a codebook is built or trained from. Seeds ride the invalid-vector
    contract like every other arm: the oracles' seed CTEs skip invalid rows,
    and a NULL seed row would otherwise crash the driver-side list()."""
    return S.valid_vectors(
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + n)),
        "embedding",
        _DIM,
    )


def _recall_hits(
    truth: DataFrame, approx: DataFrame, match_col: str, suffix: str
) -> DataFrame:
    """Hit-count recall of an approximate top-10 against a (query_id,
    match_id) ground-truth frame — output (query_id, n_true,
    n_hit_<suffix>, recall_<suffix>) as exact integer counts plus one
    double division; the engine side of `_sql_recall_tail`."""
    joined = truth.join(
        approx,
        (truth.query_id == approx.query_id)
        & (truth.match_id == approx[match_col]),
        "left",
    ).drop(approx.query_id)
    return joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_true"),
        F.count(match_col).cast("bigint").alias(f"n_hit_{suffix}"),
        (
            F.count(match_col).cast("double") / F.count("*").cast("double")
        ).alias(f"recall_{suffix}"),
    )


@query("sim_ivf_recall_at_k", _IVF_RECALL_ORACLE)
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF quality with an EXACT cross-engine oracle: the codebook
    is pinned to seed rows (vec_id 100-115) instead of k-means output, so
    DuckDB can recompute the identical cell assignment (argmin of squared L2
    to each seed, first-min tie-break), the identical n_probe=4 probe list,
    and the identical IVF top-10 — making recall@10 integer hit counts, not
    a rows-only claim. sim_ivf_topk searches the trained codebook instead;
    this query proves the search machinery (assign → probe → candidate join
    → rank) exact over a codebook that needs no training."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _seed_rows(emb, _IVF_SEED_LO, _IVF_SEED_N).select("vec_id", "embedding")
    cent = [list(r["embedding"]) for r in sorted(seeds.collect(), key=lambda r: r["vec_id"])]
    queries_df = emb.filter(F.col("vec_id") < 10)
    truth = S.cosine_topk(
        queries_df, emb, "vec_id", "embedding", k=10, dim=_DIM
    ).select("query_id", "match_id")
    ivf = S.ivf_topk(
        queries_df, emb, "vec_id", "embedding", cent,
        k=10, n_probe=_IVF_PROBE, dim=_DIM,
    ).select("query_id", F.col("match_id").alias("__ivf_match"))
    return _recall_hits(truth, ivf, "__ivf_match", "ivf")


_NEARDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 5 = 0 AND {_VALID})
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cos('a.embedding', 'b.embedding')} AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos >= 0.4
"""


@query("sim_embedding_near_dup", _NEARDUP_ORACLE)
def sim_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return S.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, dim=_DIM
    )


def _sql_band_key(vec: str, band: int, band_size: int = 6) -> str:
    # shares _sql_sign_bits with _sql_bucket — see its docstring
    return _sql_sign_bits(
        vec,
        [(j, off) for off, j in enumerate(range(band * band_size, (band + 1) * band_size))],
    )


_NEARDUP_LSH_ORACLE = f"""
WITH x AS (
  SELECT vec_id, embedding, 0 AS band, {_sql_band_key('embedding', 0)} AS key
  FROM embeddings WHERE {_VALID}
  UNION ALL
  SELECT vec_id, embedding, 1 AS band, {_sql_band_key('embedding', 1)} AS key
  FROM embeddings WHERE {_VALID}
)
SELECT DISTINCT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cos('a.embedding', 'b.embedding')} AS cos
  FROM x a JOIN x b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
) WHERE cos >= 0.4
"""


@query("sim_embedding_near_dup_lsh", _NEARDUP_LSH_ORACLE)
def sim_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH near-dup — the at-scale variant of the brute
    force above: candidates only within shared (band, sign-key) buckets, so
    no quadratic stage. Deterministic hyperplanes make even this approximate
    path oracle-exact. At 100 TB raise n_planes/band count so bucket sizes
    stay bounded (12 planes ⇒ 64 buckets/band is a fixture-scale choice)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.4, n_planes=12, band_size=6, dim=_DIM
    )


# ----------------------------------------------------------------------------
# text analysis
# ----------------------------------------------------------------------------

_TOKEN_ORACLE = rf"""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS INTEGER) AS n_chars_calc,
       CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{T.BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
FROM documents
"""


@query("text_token_counts", _TOKEN_ORACLE)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = T.token_counts(docs, "text")
    return out.select(
        "doc_id", "lang", F.col("n_chars").alias("n_chars_calc"), "n_ws_tokens", "n_bpe_tokens"
    )


_STOPWORDS = ["the", "a", "key", "value", "of", "and"]
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# NOTE the 0.4/0.3/0.3 quality formula appears in THREE oracles (here,
# _QFILTER_ORACLE, _CC_REP_ORACLE's _QUAL_EXPR_SQL) — all bind to the ONE
# Spark implementation T.quality_features, so any drift in a copy fails its
# query's hash gate immediately; edit all three in lockstep.
_QUALITY_ORACLE = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_words,
         CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+'),
                              x -> x IN ({_SW_SQL}))) AS INTEGER) AS n_stop,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct,
         CAST(GREATEST(LENGTH(text), 1) AS INTEGER) AS len_floor
  FROM documents
)
SELECT doc_id, n_words,
       CAST(n_stop AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE) AS stopword_ratio,
       CAST(n_punct AS DOUBLE) / CAST(len_floor AS DOUBLE) AS punct_ratio,
       0.4 * (CAST(n_stop AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE))
       + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(len_floor AS DOUBLE))
       + 0.3 * (CAST(LEAST(n_words, 100) AS DOUBLE) / 100.0) AS quality_score
FROM f
"""


@query("text_quality_scores", _QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = T.quality_features(docs, "text", _STOPWORDS)
    return out.select("doc_id", "n_words", "stopword_ratio", "punct_ratio", "quality_score")


def _lang_score_sql(lang: str) -> str:
    ws = ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])
    return (
        rf"CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+'),"
        rf" x -> x IN ({ws}))) AS INTEGER)"
    )


_G = "GREATEST(" + ", ".join(f"score_{lang}" for lang in T.LANG_ORDER) + ")"
# leading NULL arm: NULL text → NULL scores (LEN over a NULL list) → NULL
# lang_pred, matching the Spark side's isNotNull guard — without it the
# CASE fell through to the ELSE language for NULL documents while Spark's
# when-chain fell through to NULL
_PRED_CASE = (
    f"CASE WHEN score_{T.LANG_ORDER[0]} IS NULL THEN NULL "
    + " ".join(f"WHEN score_{lang} = {_G} THEN '{lang}'" for lang in T.LANG_ORDER[:-1])
    + f" ELSE '{T.LANG_ORDER[-1]}' END"
)

_LANG_ORACLE = f"""
WITH s AS (
  SELECT doc_id, lang,
         {', '.join(f'{_lang_score_sql(lang)} AS score_{lang}' for lang in T.LANG_ORDER)}
  FROM documents
)
SELECT doc_id, lang, {', '.join(f'score_{lang}' for lang in T.LANG_ORDER)},
       {_PRED_CASE} AS lang_pred
FROM s
"""


@query("text_language_id", _LANG_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = T.language_id(docs, "text")
    return out.select(
        "doc_id", "lang", *[f"score_{lang}" for lang in T.LANG_ORDER], "lang_pred"
    )


# ONE probe decides both the oracle registration here and the decode branch
# every executor takes (the flag is captured into the mapInPandas closure,
# operators/multimodal.py) — a separate per-side probe would let
# driver/executor image skew desynchronize the gate from the runtime.
from crystal_parquet_database_spark.operators.multimodal import (  # noqa: E402
    DRIVER_HAS_PIL as _HAS_PIL,
)

# The documented deterministic fake (operators/multimodal.py:_fake_decode_meta)
# IS md5 arithmetic — width/height are bytes 0/1 of md5(content) — so DuckDB
# can recompute it exactly: the oracle checks the whole Arrow/mapInPandas
# plumbing (schema, batching, join) end-to-end, not just row counts. Only
# registered where PIL is absent: with PIL the real decode branch runs and
# text bytes are (correctly) 'image/undecodable' instead.
_IMG_PIPELINE_ORACLE = (
    None
    if _HAS_PIL
    else """
SELECT doc_id AS image_id,
       'image/fake' AS mime,
       CAST(16 + (('0x' || substr(md5(text), 1, 2))::INTEGER % 240) AS INTEGER) AS width,
       CAST(16 + (('0x' || substr(md5(text), 3, 2))::INTEGER % 240) AS INTEGER) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(16 AS INTEGER) AS feat_dim
FROM documents
WHERE text IS NOT NULL AND substr(text, 1, 6) NOT IN ('GIF87a', 'GIF89a')
"""
)


@query("multimodal_image_pipeline", _IMG_PIPELINE_ORACLE)
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: bytes → typed metadata → feature vectors →
    similarity-ready output. Decode is stubbed; plumbing is real — and since
    the stub is deterministic md5 arithmetic, the SQL oracle recomputes it
    exactly (no-PIL containers), upgrading this from a rows-only row to a
    hash-checked one."""
    from crystal_parquet_database_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    # GIF magic ('GIF87a'/'GIF89a') is pure ASCII, so a document whose TEXT
    # happens to start with it would hit the REAL gif header parser
    # (parser-first routing in _decode_meta) while the no-PIL oracle below
    # models only the fake branch. Exclude such docs on BOTH sides — the
    # only image magic reachable from valid UTF-8 text (PNG's \x89 and
    # JPEG's \xff cannot lead a UTF-8 string). Fixture-empty today; this
    # keeps the oracle exact under corpus regeneration.
    # NULL text OUT on both sides (no content, no decode): the operator
    # fake-decodes NULL content to mime='image/missing' with NULL features
    # while the oracle hardcoded 'image/fake'/16 for every surviving row —
    # the old isNull() keep-arm diverged the moment a NULL-text doc existed
    docs = docs.filter(
        F.col("text").isNotNull() & ~F.substring("text", 1, 6).isin("GIF87a", "GIF89a")
    )
    binary = M.documents_as_binary(docs)
    meta = M.with_image_meta(binary).select(
        "image_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    feats = M.image_features(binary, dim=16)
    return meta.join(feats, "image_id").select(
        "image_id", "mime", "width", "height", "n_bytes", F.size("features").alias("feat_dim")
    )


# The audio fake is byte-slice arithmetic over the content (chunk step =
# len//8, energy = mean byte value) — recomputed BYTE-exactly by slicing
# the hex encoding of the UTF-8 bytes (2 hex digits per byte). The first
# form sliced CHARACTERS with a byte-derived step and used ord() as the
# byte value — exact only while the corpus is pure ASCII; the
# unicode sweep showed 442/4000 rows diverging on multilingual text
# (multi-byte chars make char offsets ≠ byte offsets and code points ≠
# byte values). Empty tail chunks mirror the fake's b"\\x00" placeholder
# as 0.0. Text leading with the WAV magic (RIFF....WAVE) is excluded on
# BOTH sides: the operator's parser-first routing would hand such content
# to the REAL WAV header parser while the oracle models only the fake —
# the same reachable-magic hole the image pipeline closes for GIF.
_AUDIO_PIPELINE_ORACLE = """
WITH base AS (
  SELECT doc_id AS audio_id,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n_bytes,
         GREATEST(octet_length(encode(text)) // 8, 1) AS step
  FROM documents
  -- the magic check is on BYTE offsets of the UTF-8 encoding (hex: 2
  -- digits per byte), exactly as the router sees them: a char-offset
  -- substr(text, 9, 4) misses 'RIFF' + two 2-byte chars + 'WAVE', whose
  -- BYTES 9-12 spell WAVE while its CHARS 9-12 do not — the same
  -- byte-vs-char confusion this oracle's energy arithmetic fixes
  WHERE text IS NOT NULL
    AND NOT (substr(hex(encode(text)), 1, 8) = '52494646'
             AND substr(hex(encode(text)), 17, 8) = '57415645')
),
x AS (
  SELECT audio_id, hx, n_bytes, step,
         unnest(generate_series(0, 7)) AS chunk_index
  FROM base
),
c AS (
  SELECT audio_id, n_bytes, chunk_index,
         substr(hx, chunk_index * step * 2 + 1, step * 2) AS chunkhex
  FROM x
)
SELECT audio_id,
       CAST(n_bytes AS DOUBLE) / 16000.0 AS duration_s,
       CAST(chunk_index AS INTEGER) AS chunk_index,
       CASE WHEN length(chunkhex) = 0 THEN 0.0
            ELSE list_aggregate(list_transform(generate_series(1, length(chunkhex) // 2),
                   j -> CAST(('0x' || substr(chunkhex, (j - 1) * 2 + 1, 2))::INTEGER AS DOUBLE)),
                   'sum')
                 / (length(chunkhex) // 2)
       END AS energy
FROM c
"""


@query("multimodal_audio_pipeline", _AUDIO_PIPELINE_ORACLE)
def multimodal_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio binary-column pipeline: bytes → typed metadata + per-chunk
    energy profile through Arrow-batched mapInPandas (decode stubbed
    deterministically — media libs absent; the Spark-side schema,
    partitioning and batch shape are real). The stub's byte arithmetic is
    recomputed exactly by the SQL oracle (ASCII fixture ⇒ chars are bytes),
    so the whole mapInPandas path is hash-checked, not rows-only."""
    from crystal_parquet_database_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    # WAV magic is pure ASCII, so a document whose TEXT leads with
    # RIFF....WAVE would hit the REAL wav header parser (parser-first
    # routing) while the oracle models only the fake branch — exclude on
    # BOTH sides, mirroring the image pipeline's GIF-magic exclusion.
    # The check is on BYTE offsets of the UTF-8 encoding (hex form, same
    # expression as the oracle): the router matches bytes 9-12, which a
    # char-offset substring misses when multi-byte chars precede them
    hx = F.hex(F.encode(F.col("text"), "UTF-8"))
    docs = docs.filter(
        ~(
            (F.substring(hx, 1, 8) == "52494646")      # RIFF
            & (F.substring(hx, 17, 8) == "57415645")   # WAVE
        ).eqNullSafe(F.lit(True))
    )
    binary = M.documents_as_binary(docs).withColumnRenamed("image_id", "audio_id")
    chunks = M.audio_chunk_energy(binary, id_col="audio_id")
    return chunks.select(
        "audio_id",
        F.col("meta.duration_s").alias("duration_s"),
        "chunk_index",
        "energy",
    )


_FP_ORACLE = f"""
SELECT doc_id,
       list_aggregate(list_transform({sql_shingles('text', 8)}, s -> {sql_hash64('s')}),
                      'min') AS fingerprint
FROM documents
"""


@query("text_fingerprint", _FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.fingerprint(docs, "text", "doc_id", k=8)


_REP_ORACLE = r"""
WITH tk AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+') AS t FROM documents),
base AS (
  SELECT doc_id, CAST(LEN(t) AS INTEGER) AS n_words,
    CASE WHEN LEN(t) >= 1
         THEN 1.0 - CAST(LEN(LIST_DISTINCT(t)) AS DOUBLE) / CAST(LEN(t) AS DOUBLE)
         ELSE 0.0 END AS dup_word_frac,
    CASE WHEN LEN(t) - 1 >= 1
         THEN 1.0 - CAST(LEN(LIST_DISTINCT(list_transform(generate_series(1, LEN(t) - 1),
                i -> t[i] || ' ' || t[i+1]))) AS DOUBLE) / CAST(LEN(t) - 1 AS DOUBLE)
         ELSE 0.0 END AS dup_bigram_frac,
    CASE WHEN LEN(t) - 2 >= 1
         THEN 1.0 - CAST(LEN(LIST_DISTINCT(list_transform(generate_series(1, LEN(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE) / CAST(LEN(t) - 2 AS DOUBLE)
         ELSE 0.0 END AS dup_trigram_frac
  FROM tk),
e AS (SELECT doc_id, unnest(t) AS w FROM tk),
c AS (SELECT doc_id, w, COUNT(*) AS c FROM e GROUP BY doc_id, w),
tp AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
       FROM c GROUP BY doc_id)
SELECT base.doc_id, n_words, dup_word_frac, dup_bigram_frac, dup_trigram_frac, top_word_frac
FROM base LEFT JOIN tp USING (doc_id)
"""


@query("text_repetition_features", _REP_ORACLE)
def text_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filters (duplicate word/2-gram/3-gram fractions,
    top-word share) — the Gopher-style signals a pretraining pipeline uses to
    drop boilerplate and degenerate documents."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.repetition_features(docs, "text", "doc_id")


# ----------------------------------------------------------------------------
# dedup: near-dup pairs → connected components (dedup groups)
# ----------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH RECURSIVE {_SIMHASH_CTES.strip()},
p AS ({_SIMHASH_NEAR}),
{_sql_components("documents")}
{_CC}
"""


@query("dedup_cluster_components", _CC_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup groups: SimHash pair graph collapsed to
    connected components by min-label propagation (each doc labeled with the
    min doc_id in its component; singletons label themselves). The keep-one
    policy of a dedup pipeline is then `WHERE doc_id = cluster_id`."""
    docs = load_table(spark, sf_dir, "documents")
    return D.connected_components(_simhash_pairs(docs), docs.select("doc_id"), "doc_id")


# ----------------------------------------------------------------------------
# text: TF-IDF top terms per document
# ----------------------------------------------------------------------------

_TFIDF_K = 5

_TFIDF_ORACLE = rf"""
WITH tc AS (
  SELECT doc_id, unnest(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS term
  FROM documents
),
c AS (SELECT doc_id, term, COUNT(*) AS tc FROM tc GROUP BY doc_id, term),
s AS (
  SELECT doc_id, term, tc,
         SUM(tc) OVER (PARTITION BY doc_id) AS n,
         COUNT(*) OVER (PARTITION BY term) AS df,
         (SELECT COUNT(*) FROM documents) AS nd
  FROM c
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term,
         (CAST(tc AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY (CAST(tc AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                    term) AS INTEGER) AS rank
  FROM s
) WHERE rank <= {_TFIDF_K}
"""


@query("text_tfidf_top_terms", _TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (rational idf N/df — log-free so the
    score is an exact int-ratio product both engines compute identically)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.tfidf_top_terms(docs, "text", "doc_id", top_k=_TFIDF_K)


# ----------------------------------------------------------------------------
# text: benchmark decontamination (eval-set n-gram overlap)
# ----------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH hs AS (SELECT doc_id,
                   list_distinct(list_transform({sql_word_shingles('text', _K)}, s -> {sql_hash_raw60('s')})) AS hs
            FROM documents),
ev AS (SELECT DISTINCT unnest(hs) AS g FROM hs WHERE doc_id % 97 = 0),
corp AS (SELECT doc_id, hs FROM hs WHERE doc_id % 97 <> 0),
m AS (
  SELECT c.doc_id, COUNT(*) AS n_matched
  FROM (SELECT doc_id, unnest(hs) AS g FROM corp) c
  WHERE c.g IN (SELECT g FROM ev)
  GROUP BY c.doc_id
)
SELECT corp.doc_id, CAST(len(corp.hs) AS INTEGER) AS n_grams,
       CAST(COALESCE(m.n_matched, 0) AS INTEGER) AS n_matched,
       CASE WHEN len(corp.hs) > 0
            THEN CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(len(corp.hs) AS DOUBLE)
            ELSE 0.0 END AS overlap_frac,
       COALESCE(m.n_matched, 0) > 0 AS contaminated
FROM corp LEFT JOIN m ON corp.doc_id = m.doc_id
"""


@query("text_decontaminate_overlap", _DECON_ORACLE)
def text_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document stands in for the eval
    suite; the rest of the corpus is scored by shared word-3-gram fraction.
    The eval gram set broadcasts (benchmarks are tiny vs a 100 TB corpus)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return T.ngram_decontaminate(corpus, ev, "text", "doc_id", k=_K)


# ----------------------------------------------------------------------------
# text: corpus-quantile quality filter
# ----------------------------------------------------------------------------

_QFILTER_ORACLE = f"""
WITH q AS (
  SELECT doc_id,
         0.4 * (CAST(n_stop AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE))
         + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(len_floor AS DOUBLE))
         + 0.3 * (CAST(LEAST(n_words, 100) AS DOUBLE) / 100.0) AS quality_score
  FROM (
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\\s+')) AS INTEGER) AS n_words,
           CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text, ' '), '\\s+'),
                                x -> x IN ({_SW_SQL}))) AS INTEGER) AS n_stop,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct,
           CAST(GREATEST(LENGTH(text), 1) AS INTEGER) AS len_floor
    FROM documents
  )
)
SELECT doc_id, quality_score
FROM q
WHERE quality_score >= (SELECT quantile_cont(quality_score, 0.25) FROM q)
"""


@query("text_quality_quantile_filter", _QFILTER_ORACLE)
def text_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: keep documents at or above the exact
    25th-percentile quality score. The cut is one exact interpolated
    percentile over the scored corpus (both engines interpolate linearly over
    the same double multiset — order-independent), broadcast as a 1-row frame;
    no second scan of the raw text."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = T.quality_features(docs, "text", _STOPWORDS).select("doc_id", "quality_score")
    cut = q.agg(F.percentile("quality_score", 0.25).alias("__cut"))
    return (
        q.crossJoin(F.broadcast(cut))
        .filter(F.col("quality_score") >= F.col("__cut"))
        .select("doc_id", "quality_score")
    )


# ----------------------------------------------------------------------------
# sampling: deterministic language-mixture (data-mixing weights)
# ----------------------------------------------------------------------------

_MIX_RATES = {"en": 1.0, "de": 0.75, "es": 0.5, "fr": 0.25, "zh": 0.1}
_MIX_MOD = 10000

_MIX_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {int(rate * _MIX_MOD)}" for lang, rate in _MIX_RATES.items()
)

_MIX_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE ({sql_hash64("'mix:' || CAST(doc_id AS VARCHAR)")}) % {_MIX_MOD}
      < (CASE {_MIX_CASE} ELSE {_MIX_MOD} END)
"""


@query("sample_language_mixture", _MIX_ORACLE)
def sample_language_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: per-language keep rates applied by a
    deterministic portable hash of the doc id — stable across engines,
    retries, partitionings, and reruns (rand()-based sampling is none of
    these). Pure filter: no shuffle, fully pushdown-friendly except the hash
    itself; at 100 TB this is a single map-stage pass."""
    from crystal_parquet_database_spark.functions.portable_hash import spark_hash64

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = spark_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % _MIX_MOD
    rate = None
    for lang, r in _MIX_RATES.items():
        cond = F.col("lang") == lang
        thr = F.lit(int(r * _MIX_MOD))
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    rate = rate.otherwise(F.lit(_MIX_MOD))
    return docs.filter(h < rate).select("doc_id", "lang")


# ----------------------------------------------------------------------------
# text: sequence packing (pack-and-chunk into fixed token windows)
# ----------------------------------------------------------------------------

_PACK_CAP = 512

_PACK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(FLOOR(cum / {_PACK_CAP}) AS BIGINT) AS bin_id,
       CAST(cum % {_PACK_CAP} AS INTEGER) AS bin_offset,
       (cum % {_PACK_CAP}) + n_tokens > {_PACK_CAP} AS spans_boundary
FROM c
"""


@query("text_pack_sequences", _PACK_ORACLE)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed 512-token context windows in doc-id order
    (concatenate-and-chop). The global running token sum is computed as a
    distributed two-phase prefix sum — NOT a single-partition global window;
    see operators/text.pack_sequences."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.pack_sequences(docs, "text", "doc_id", capacity=_PACK_CAP)


# ----------------------------------------------------------------------------
# sampling: deterministic train/val/test split
# ----------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id,
             ({sql_hash64("'split:' || CAST(doc_id AS VARCHAR)")}) % 10 AS h
      FROM documents)
"""


@query("sample_train_val_test_split", _SPLIT_ORACLE)
def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by portable hash of the doc id — stable
    across engines, reruns, and repartitioning (a doc never migrates between
    splits when the corpus grows; rand()-based splits can't promise that).
    Pure map stage: no shuffle at any scale."""
    from crystal_parquet_database_spark.functions.portable_hash import spark_hash64

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = spark_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    split = (
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test").alias("split")
    )
    return docs.select("doc_id", split)


# ----------------------------------------------------------------------------
# chunk-level (sub-document) duplication stats
# ----------------------------------------------------------------------------

_CHUNK_W = 16


def _sql_block(w: str, i: str, width: int) -> str:
    """Block ``i`` (0-based) of token list ``w``: the split rule of
    operators/text._block."""
    return f"array_to_string({w}[{i}*{width}+1:{i}*{width}+{width}], ' ')"


_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text, ' '), '\\s+') AS w FROM documents),
c AS (
  SELECT doc_id,
         unnest([{sql_hash_raw60(_sql_block("w", "i", _CHUNK_W))}
                 for i in range(len(w) // {_CHUNK_W})]) AS chunk_hash
  FROM t
),
f AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS dwc FROM c GROUP BY 1),
p AS (
  SELECT c.doc_id, COUNT(*) AS n_chunks,
         CAST(SUM(CASE WHEN f.dwc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM c JOIN f USING (chunk_hash) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN COALESCE(p.n_chunks, 0) > 0
            THEN CAST(p.n_shared AS DOUBLE) / CAST(p.n_chunks AS DOUBLE)
            ELSE 0.0 END AS shared_ratio
FROM documents d LEFT JOIN p USING (doc_id)
"""


@query("text_chunk_dedup_ratio", _CHUNK_ORACLE)
def text_chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.chunk_dedup_stats(docs, "text", "doc_id", width=_CHUNK_W)


# ----------------------------------------------------------------------------
# corpus n-gram statistics (distributed word count)
# ----------------------------------------------------------------------------

from crystal_parquet_database_spark.functions.portable_hash import sql_word_ngrams

_NGRAM_TOPK_ORACLE = f"""
WITH g AS (SELECT unnest({sql_word_ngrams('text', 2)}) AS gram FROM documents)
SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT 20
"""


@query("text_ngram_topk", _NGRAM_TOPK_ORACLE)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.ngram_topk(docs, "text", n=2, k=20)


# ----------------------------------------------------------------------------
# PII redaction (emails/phones synthesized deterministically, then redacted)
# ----------------------------------------------------------------------------

_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, lang, source, n_chars, {_PII_AUG} AS text FROM documents
)
SELECT doc_id, lang, source, n_chars,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\+1-555-[0-9]{{4}}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
           '\\+1-555-[0-9]{{4}}', '[PHONE]', 'g')) AS redacted_md5
FROM aug
"""


@query("text_pii_redact", _PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus contains no PII, so a deterministic contact line is
    appended first (same expression in both engines); the redaction regexes
    use only constructs Java regex and RE2 interpret identically."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return T.pii_redact(aug, "text").select(
        "doc_id", "lang", "source", "n_chars", "n_emails", "n_phones", "redacted_md5"
    )


# ----------------------------------------------------------------------------
# benchmark decontamination on embeddings (broadcast kNN threshold join)
# ----------------------------------------------------------------------------

_DECON_THRESH = 0.3

_DECON_COS = _sql_cos("evec", "tvec")

# Eval side bounded by a fixed id cut: benchmark/eval sets are fixed-size —
# they do NOT grow with the training corpus — so the broadcast side stays
# bounded at any sf (and the 10x scale probe measures the real linear shape,
# not an artificial eval×train quadratic).
_DECON_EVAL_CAP = 500

_EMB_DECON_ORACLE = f"""
WITH e AS (SELECT vec_id AS eval_id, embedding AS evec FROM embeddings
           WHERE label = 0 AND vec_id < {_DECON_EVAL_CAP} AND {_VALID}),
t AS (SELECT vec_id AS train_id, embedding AS tvec FROM embeddings
      WHERE label <> 0 AND {_VALID}),
s AS (SELECT eval_id, train_id, {_DECON_COS} AS cos FROM t, e),
h AS (SELECT * FROM s WHERE cos >= {_DECON_THRESH}),
r AS (SELECT eval_id, train_id, cos,
             ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cos DESC, train_id) AS rn
      FROM h),
a AS (SELECT eval_id, COUNT(*) AS n_contaminating, MAX(cos) AS max_cos,
             MAX(CASE WHEN rn = 1 THEN train_id END) AS nearest_train_id
      FROM r GROUP BY 1)
SELECT e.eval_id,
       CAST(COALESCE(a.n_contaminating, 0) AS BIGINT) AS n_contaminating,
       a.max_cos, a.nearest_train_id
FROM e LEFT JOIN a USING (eval_id)
"""


@query("sim_decontaminate_embeddings", _EMB_DECON_ORACLE)
def sim_decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval set = label 0 (broadcast); train = everything else (streams)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.decontaminate_by_similarity(
        emb.filter((F.col("label") == 0) & (F.col("vec_id") < _DECON_EVAL_CAP)),
        emb.filter(F.col("label") != 0),
        "vec_id",
        "embedding",
        threshold=_DECON_THRESH,
        dim=_DIM,
    )


# ----------------------------------------------------------------------------
# pretraining-order shuffle + source upsampling (data-mixing epochs)
# ----------------------------------------------------------------------------

_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY {sql_hash64("'shuffle:' || CAST(doc_id AS VARCHAR)")}, doc_id
       ) AS BIGINT) AS shuffle_pos
FROM documents
"""


@query("sample_global_shuffle", _SHUFFLE_ORACLE)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global pretraining-order shuffle: rank by a portable
    hash of the doc id (salted so it decorrelates from the id order, doc_id
    tie-break for hash collisions). Reproducible across engines, reruns, and
    partitioning — rand()-based shuffles are none of those. At scale this is
    ONE range-partitioned total sort (Spark samples hash boundaries, each
    partition sorts locally); writing the result partitioned by
    floor(pos/chunk) yields ready-to-stream training shards."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return T.global_shuffle_rank(docs, "doc_id", salt="shuffle:")


# Per-source epoch weights — the data-mixing knob (e.g. books × 3, web × 1).
# Deterministic function of the source name so both engines agree.
_UPSAMPLE_ORACLE = f"""
SELECT doc_id, source, epoch
FROM (
  SELECT doc_id, source,
         1 + ({sql_hash64("'weight:' || source")}) % 3 AS n_epochs
  FROM documents
), LATERAL unnest(range(1, n_epochs + 1)) AS t(epoch)
"""


@query("sample_upsample_by_weight", _UPSAMPLE_ORACLE)
def sample_upsample_by_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted upsampling: each document is replicated n_epochs times
    (1-3, a deterministic function of its source standing in for the mixture
    config), tagged with its epoch number. Pure map + explode — no shuffle at
    any scale; the multiplier lives in the row, so a 100 TB corpus streams
    through once."""
    from crystal_parquet_database_spark.functions.portable_hash import spark_hash64

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_epochs = (
        F.lit(1)
        + spark_hash64(F.concat(F.lit("weight:"), F.col("source"))) % 3
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1).cast("bigint"), n_epochs)).alias("epoch"),
    )


# ----------------------------------------------------------------------------
# per-source contribution cap (RefinedWeb/C4-style "domain cap")
# ----------------------------------------------------------------------------

_SOURCE_CAP = 10

_SOURCE_CAP_ORACLE = f"""
SELECT doc_id, source,
       CAST(rk AS INTEGER) AS src_rank,
       rk <= {_SOURCE_CAP} AS kept
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
  FROM documents
)
"""


@query("sample_source_cap", _SOURCE_CAP_ORACLE)
def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (the 'domain cap' step of web-corpus
    recipes): each source contributes at most ``_SOURCE_CAP`` documents,
    selected in md5(text) order — a deterministic, content-keyed pseudo-
    random draw that is reproducible across runs, partitionings, and
    engines (no RNG state to ship). Emits every doc with its in-source rank
    and kept flag so the downstream filter (``kept``) and audit (``src_rank``)
    come from one pass.

    100 TB shape: one shuffle on ``source``. A mega-source (most of the web
    under one domain) is the skew risk; because the order key is a uniform
    hash, the refinement is to pre-aggregate per-source counts and rank only
    docs whose hash falls below ~(cap/n_source_docs + ε) of the hash space —
    a literal-threshold map-side prefilter that bounds every ranked
    partition to ~cap rows before the window runs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # asc_nulls_last: Spark's plain asc is NULLS FIRST, DuckDB's is NULLS
    # LAST — one NULL-text doc would shift every src_rank in its source
    w = W.partitionBy("source").orderBy(F.md5("text").asc_nulls_last(), "doc_id")
    return docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("int").alias("src_rank"),
    ).withColumn("kept", F.col("src_rank") <= _SOURCE_CAP)


# ----------------------------------------------------------------------------
# end-to-end corpus pipeline: dedup → quality → source cap → token budget
# ----------------------------------------------------------------------------

_PIPE_MIN_TOKENS = 20
_PIPE_CAP = 10
_PIPE_BUDGET = 6000

_PIPE_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_tokens,
         {_NULLTEXT_DIGEST} AS dg,
         ({sql_hash64("'budget:' || CAST(doc_id AS VARCHAR)")}) AS h
  FROM documents
),
s2 AS (
  SELECT *,
         doc_id <> MIN(doc_id) OVER (PARTITION BY dg) AS is_dup,
         n_tokens < {_PIPE_MIN_TOKENS} AS is_short
  FROM t
),
capped AS (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source ORDER BY dg, doc_id) AS rk
  FROM s2 WHERE NOT is_dup AND NOT is_short
),
surv3 AS (
  SELECT s2.doc_id, s2.n_tokens, s2.h
  FROM s2 JOIN capped ON s2.doc_id = capped.doc_id
  WHERE capped.rk <= {_PIPE_CAP}
),
kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM surv3) WHERE cum_before < {_PIPE_BUDGET}
)
SELECT s2.doc_id, s2.source, s2.n_tokens,
       CASE WHEN s2.is_dup THEN 'dup'
            WHEN s2.is_short THEN 'short'
            WHEN c.rk > {_PIPE_CAP} THEN 'cap'
            WHEN k.doc_id IS NULL THEN 'budget'
            ELSE 'kept' END AS status
FROM s2
LEFT JOIN capped c ON s2.doc_id = c.doc_id
LEFT JOIN kept k ON s2.doc_id = k.doc_id
"""


@query("llm_corpus_pipeline", _PIPE_ORACLE)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators COMPOSED, end to end: exact dedup (keep first) →
    min-length quality gate → per-source contribution cap → global token
    budget, every document labeled with the stage that dropped it (or
    'kept') — the audit-trail output a curation run ships alongside the
    corpus. All four stages are deterministic and content/hash-keyed, so the
    whole chain is one exact SQL oracle.

    100 TB shape, stage by stage: digest window (uniform md5 key; NULL
    text gets a per-row key, so it pairs with nothing and no NULL cohort
    meets on one reducer — ``D.content_digest``); map-side
    length filter; per-source rank among survivors (skew refinement as in
    sample_source_cap); two-phase distributed prefix sum for the budget
    (operators/text.token_budget_per_group — never a single-task global
    window); label joins are doc_id-keyed sort-merge. The fixture has no
    exact doc-level duplicates, so the 'dup' label is exercised structurally
    (both engines agree it is empty) rather than populated."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    base = docs.select(
        "doc_id",
        "source",
        "text",
        # guard the size(NULL) = -1 trap: NULL text counts NULL tokens (the
        # oracle's LEN(NULL)), so is_short is NULL and falls through the
        # status CASE identically on both engines
        F.when(
            F.col("text").isNotNull(), F.size(T.ws_tokens(F.col("text")))
        ).alias("n_tokens"),
        D.content_digest("text", "doc_id").alias("__dg"),
    )
    # first-doc-per-digest via a window: one shuffle of the input, where a
    # groupBy + re-join on __dg would shuffle it twice
    wdg = W.partitionBy("__dg")
    s2 = base.withColumn("__first", F.min("doc_id").over(wdg)).select(
        "doc_id",
        "source",
        "text",
        "n_tokens",
        "__dg",
        (F.col("doc_id") != F.col("__first")).alias("__dup"),
        (F.col("n_tokens") < _PIPE_MIN_TOKENS).alias("__short"),
    )
    surv2 = s2.filter(~F.col("__dup") & ~F.col("__short"))
    wcap = W.partitionBy("source").orderBy("__dg", "doc_id")
    capped = surv2.withColumn("__rk", F.row_number().over(wcap))
    surv3 = capped.filter(F.col("__rk") <= _PIPE_CAP).withColumn("__g", F.lit("all"))
    kept = T.token_budget_per_group(
        surv3, "text", "doc_id", "__g", budget=_PIPE_BUDGET
    ).select("doc_id", F.lit(True).alias("__kept"))
    return (
        s2.join(capped.select("doc_id", "__rk"), "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.when(F.col("__dup"), "dup")
            .when(F.col("__short"), "short")
            .when(F.col("__rk") > _PIPE_CAP, "cap")
            .when(F.col("__kept").isNull(), "budget")
            .otherwise("kept")
            .alias("status"),
        )
    )


# ----------------------------------------------------------------------------
# C4-style sub-document dedup with rewrite (keep first global occurrence)
# ----------------------------------------------------------------------------

def _sql_blocks(width: int) -> str:
    """The t/base/c/h CTEs of the block-chunk rewrites at ``width``
    (operators/text._blocks): ``base`` = (doc_id, nf, tail), ``h`` = (doc_id,
    pos, ctext, chash). NULL text keeps a NULL tail, so its rebuilt text and
    ``cleaned_md5`` are NULL too (Spark's NULL ``__tail``)."""
    return f"""t AS (
  SELECT doc_id, w, len(w) // {width} AS nf
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '\\s+') AS w FROM documents)
),
base AS (
  SELECT doc_id, nf,
         CASE WHEN w IS NULL THEN NULL
              ELSE COALESCE(array_to_string(w[nf*{width}+1:len(w)], ' '), '') END AS tail
  FROM t
),
c AS (
  SELECT doc_id, u.i AS pos, {_sql_block("w", "u.i", width)} AS ctext
  FROM t, LATERAL unnest(range(nf)) AS u(i)
),
h AS (SELECT doc_id, pos, ctext, {sql_hash_raw60('ctext')} AS chash FROM c)"""


def _sql_kept_text(keep: str) -> str:
    """The blocks of ``h`` where ``keep`` holds, in position order."""
    return (
        f"COALESCE(string_agg(CASE WHEN {keep} THEN h.ctext END, ' ' ORDER BY h.pos), '')"
        " AS kept_text"
    )


# the rebuilt text (kept blocks, then the tail) of base b and per-doc k
_SQL_CLEANED_MD5 = """md5(CASE WHEN COALESCE(k.kept_text, '') = '' THEN b.tail
                WHEN b.tail = '' THEN k.kept_text
                ELSE k.kept_text || ' ' || b.tail END) AS cleaned_md5"""

_C4_KEEP = "h.doc_id = fp.d AND h.pos = fp.p"

_C4_ORACLE = f"""
WITH {_sql_blocks(_CHUNK_W)},
fd AS (SELECT chash, MIN(doc_id) AS d FROM h GROUP BY 1),
fp AS (SELECT h.chash, fd.d, MIN(h.pos) AS p
       FROM h JOIN fd ON h.chash = fd.chash AND h.doc_id = fd.d
       GROUP BY h.chash, fd.d),
k AS (
  SELECT h.doc_id,
         CAST(SUM(CASE WHEN {_C4_KEEP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN {_C4_KEEP} THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         {_sql_kept_text(_C4_KEEP)}
  FROM h JOIN fp ON h.chash = fp.chash
  GROUP BY h.doc_id
)
SELECT b.doc_id,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.n_removed, 0) AS n_removed,
       {_SQL_CLEANED_MD5}
FROM base b LEFT JOIN k USING (doc_id)
"""


@query("text_dedup_chunks_keep_first", _C4_ORACLE)
def text_dedup_chunks_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.dedup_chunks_keep_first(docs, "text", "doc_id", width=_CHUNK_W)


# ----------------------------------------------------------------------------
# cross-corpus boilerplate removal: remove EVERY occurrence of a
# block frequent across documents — C4's repeated-span discard / RefinedWeb's
# line dedup, vs the keep-first rule above.
# ----------------------------------------------------------------------------

_BP_W, _BP_MIN = 8, 2

_BP_ORACLE = f"""
WITH {_sql_blocks(_BP_W)},
fq AS (SELECT chash, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY 1),
k AS (
  SELECT h.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN fq.df >= {_BP_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         {_sql_kept_text(f"fq.df < {_BP_MIN}")}
  FROM h JOIN fq USING (chash)
  GROUP BY h.doc_id
)
SELECT b.doc_id,
       COALESCE(k.n_chunks, 0) AS n_chunks,
       COALESCE(k.n_boiler, 0) AS n_boiler,
       CASE WHEN COALESCE(k.n_chunks, 0) > 0
            THEN CAST(k.n_boiler AS DOUBLE) / CAST(k.n_chunks AS DOUBLE)
       END AS boiler_fraction,
       {_SQL_CLEANED_MD5}
FROM base b LEFT JOIN k USING (doc_id)
"""


@query("text_boilerplate_chunks", _BP_ORACLE)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate removal: any {w}-token block
    whose exact text occurs in >= {m} distinct documents is removed from
    EVERY document (C4's repeated-span discard; RefinedWeb's line dedup) —
    the complement of text_dedup_chunks_keep_first's keep-first rule.
    Output: per-doc chunk counts, the removed-mass fraction (the filter
    signal), and the rebuilt text's md5. See operators/text.
    boilerplate_chunks for the three-linear-shuffle scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return T.boilerplate_chunks(
        docs, "text", "doc_id", width=_BP_W, min_docs=_BP_MIN
    )


text_boilerplate_chunks.__doc__ = text_boilerplate_chunks.__doc__.format(
    w=_BP_W, m=_BP_MIN
)


# ----------------------------------------------------------------------------
# sampling: per-source token budgets (mixture specified in tokens, not docs)
# ----------------------------------------------------------------------------

_BUDGET_TOKENS = 3000

_BUDGET_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_tokens,
         ({sql_hash64("'budget:' || CAST(doc_id AS VARCHAR)")}) AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM c WHERE cum_before < {_BUDGET_TOKENS}
"""


@query("sample_token_budget_mixture", _BUDGET_ORACLE)
def sample_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture: each source contributes documents (in
    deterministic portable-hash order) until its TOKEN budget is exhausted —
    the unit pretraining recipes actually allocate. The per-source running
    sum is a grouped two-phase prefix sum (operators/text.py:
    token_budget_per_group), never a one-task-per-source window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return T.token_budget_per_group(
        docs, "text", "doc_id", "source", budget=_BUDGET_TOKENS
    )


# ----------------------------------------------------------------------------
# sampling: temperature-resampled mixture weights — mT5-style
# α-sampling at the one oracle-exact temperature (α = 1/2: IEEE sqrt is
# correctly rounded; pow/exp/ln are not — the DSIR log-free argument).
# ----------------------------------------------------------------------------

_TEMP_BUDGET = 1000

_TEMP_ORACLE = rf"""
WITH t AS (
  SELECT lang AS grp,
         LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS n
  FROM documents WHERE lang IS NOT NULL
),
g AS (
  SELECT grp,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         sqrt(CAST(COALESCE(SUM(n), 0) AS DOUBLE)) AS s
  FROM t GROUP BY grp
),
d AS (SELECT list_aggregate(list(s ORDER BY grp), 'sum') AS den FROM g)
SELECT lang, n_tokens, n_docs, weight,
       CAST(FLOOR(weight * {_TEMP_BUDGET}.0) AS BIGINT) AS target_docs
FROM (
  SELECT g.grp AS lang, g.n_tokens, g.n_docs,
         CASE WHEN d.den > 0.0 THEN g.s / d.den END AS weight
  FROM g, d
)
"""


@query("sample_temperature_mixture", _TEMP_ORACLE)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled language mixture: per-language
    sampling weight = sqrt(token_count) normalized over languages (mT5
    α-sampling, α = 1/2 — the one temperature IEEE guarantees correctly
    rounded, hence oracle-exact), plus the per-language document allocation
    under a {b}-doc budget. The denominator is a sequential group-ordered
    fold, never an order-nondeterministic SUM over doubles. See
    operators/text.temperature_mixture for the one-pass scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return T.temperature_mixture(
        docs, "lang", "text", "doc_id", budget_docs=_TEMP_BUDGET
    )


sample_temperature_mixture.__doc__ = sample_temperature_mixture.__doc__.format(
    b=_TEMP_BUDGET
)


# ----------------------------------------------------------------------------
# text: length-sorted sequence packing (fewer boundary-spanning docs)
# ----------------------------------------------------------------------------

_SORTED_PACK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(FLOOR(cum / {_PACK_CAP}) AS BIGINT) AS bin_id,
       CAST(cum % {_PACK_CAP} AS INTEGER) AS bin_offset,
       (cum % {_PACK_CAP}) + n_tokens > {_PACK_CAP} AS spans_boundary
FROM c
"""


@query("text_pack_sequences_sorted", _SORTED_PACK_ORACLE)
def text_pack_sequences_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-sorted packing: documents ordered by (token count, id) before
    the pack-and-chop, so each bin holds near-identical-length documents —
    length bucketing for curriculum schedules and padding-free batchers.
    Same distributed two-phase prefix sum as text_pack_sequences; only the
    sort key changes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.pack_sequences_sorted(docs, "text", "doc_id", capacity=_PACK_CAP)


# ----------------------------------------------------------------------------
# embeddings: per-label centroid outliers (labeled-set audit)
# ----------------------------------------------------------------------------

_CENTROID_SCALE = 10_000_000
_CENTROID_TOPK = 3

from crystal_parquet_database_spark.operators.similarity import (  # noqa: E402
    CENTROID_COMPONENT_DOMAIN as _CENTROID_DOMAIN,
)

# vectors with a NULL/NaN/out-of-domain component are excluded on BOTH
# sides (the operator's invalid-vector contract — one 1e18 garbage
# component would overflow the int64 fixed-point grid), and so are RAGGED
# vectors (len ≠ _DIM): a short vector would contribute to only SOME
# per-(label, pos) centroid sums, skewing every same-label member's score
_CENTROID_ORACLE = f"""
WITH x AS (
  SELECT vec_id, label,
         unnest(embedding) AS e,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(embedding) = {_DIM}
    AND len(list_filter(embedding,
          v -> v IS NULL OR isnan(CAST(v AS DOUBLE))
               OR abs(CAST(v AS DOUBLE)) >= {_CENTROID_DOMAIN!r})) = 0
),
q AS (
  SELECT vec_id, label, pos,
         CAST(FLOOR(CAST(e AS DOUBLE) * {_CENTROID_SCALE}) AS BIGINT) AS qv
  FROM x
),
s AS (SELECT label, pos, SUM(qv) AS sv, COUNT(*) AS n FROM q GROUP BY label, pos),
t AS (
  SELECT q.vec_id, q.label,
         CAST(q.qv * s.n - s.sv AS DOUBLE) / CAST(s.n AS DOUBLE)
           / {_CENTROID_SCALE}.0 AS tv
  FROM q JOIN s ON q.label = s.label AND q.pos = s.pos
),
r AS (
  SELECT vec_id, label,
         CAST(SUM(CAST(FLOOR(tv * tv * 1000000000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000000000.0 AS dist2
  FROM t GROUP BY vec_id, label
)
SELECT vec_id, label, dist2,
       CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id)
            AS INTEGER) AS rank
FROM r QUALIFY rank <= {_CENTROID_TOPK}
"""


@query("sim_label_centroid_outliers", _CENTROID_ORACLE)
def sim_label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-from-centroid members per label — the audit pass that surfaces
    mislabeled or junk vectors in a labeled embedding set. Centroids are
    cross-row float means, so components are fixed-point quantized first;
    all cross-row arithmetic is exact integer/decimal (hash-identical to the
    oracle), with doubles only in the final scored division. See
    operators/similarity.label_centroid_outliers for the scale shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.label_centroid_outliers(
        emb, "vec_id", "embedding", "label",
        top_k=_CENTROID_TOPK, scale=_CENTROID_SCALE, dim=_DIM,
    )


# ----------------------------------------------------------------------------
# dedup: incremental — today's batch against the historical digest index
# ----------------------------------------------------------------------------

_INCR_CUT = 250  # doc_id < cut = "historical corpus"; >= cut = "new batch"

# _NULLTEXT_DIGEST, not bare md5: the inner join to first_in_batch never
# matches a NULL digest, so NULL-text new-batch docs would silently drop out
# of the audit — exactly the rows a curation run most needs flagged. With
# the sentinel each is its own digest, 'kept', never cross-matched.
_INCR_ORACLE = f"""
WITH old_idx AS (
  SELECT DISTINCT {_NULLTEXT_DIGEST} AS digest
  FROM documents WHERE doc_id < {_INCR_CUT}
),
new_batch AS (
  SELECT doc_id, {_NULLTEXT_DIGEST} AS digest
  FROM documents WHERE doc_id >= {_INCR_CUT}
),
first_in_batch AS (
  SELECT digest, MIN(doc_id) AS first_id FROM new_batch GROUP BY digest
)
SELECT n.doc_id,
       CASE WHEN o.digest IS NOT NULL THEN 'dup_of_history'
            WHEN n.doc_id <> f.first_id THEN 'dup_within_batch'
            ELSE 'kept' END AS status
FROM new_batch n
LEFT JOIN old_idx o ON n.digest = o.digest
JOIN first_in_batch f ON n.digest = f.digest
"""


@query("dedup_incremental_new_vs_index", _INCR_ORACLE)
def dedup_incremental_new_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) dedup: an arriving batch is checked against
    the historical corpus's DIGEST INDEX — never the corpus itself — then
    deduped within the batch (keep-first). At 100 TB the index is
    O(distinct digests × 16 bytes), typically broadcastable per batch or a
    digest-bucketed sort-merge join; history is never rescanned. Statuses:
    kept / dup_of_history / dup_within_batch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    digest = D.content_digest("text", "doc_id")
    old_idx = (
        docs.filter(F.col("doc_id") < _INCR_CUT)
        .select(digest.alias("digest"))
        .distinct()
        .withColumn("__hist", F.lit(True))
    )
    new_batch = docs.filter(F.col("doc_id") >= _INCR_CUT).select(
        "doc_id", digest.alias("digest")
    )
    first_in_batch = new_batch.groupBy("digest").agg(F.min("doc_id").alias("first_id"))
    # No explicit broadcast hint: a digest index over deep history can exceed
    # executor memory, and a hard hint is honored regardless of size. Let
    # Catalyst/AQE pick broadcast when the index fits
    # (autoBroadcastJoinThreshold) and fall back to a digest-bucketed
    # sort-merge join when it doesn't.
    return (
        new_batch.join(old_idx, "digest", "left")
        .join(first_in_batch, "digest")
        .select(
            "doc_id",
            F.when(F.col("__hist"), "dup_of_history")
            .when(F.col("doc_id") != F.col("first_id"), "dup_within_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )


# ----------------------------------------------------------------------------
# text: corpus-derived token-rarity score (frequency-rank vocabulary signal)
# ----------------------------------------------------------------------------

_RARITY_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text, ' '), '\s+')) AS term
  FROM documents
),
tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
rk AS (
  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
  FROM tf
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(rk.rank) AS BIGINT) AS rank_sum,
       CAST(CAST(SUM(rk.rank) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DOUBLE)
         AS mean_rank
FROM tok t JOIN rk ON t.term = rk.term
GROUP BY t.doc_id
"""


@query("text_token_rarity_score", _RARITY_ORACLE)
def text_token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-frequency signal without a trained LM: every term
    gets its corpus frequency RANK (1 = most common; deterministic (count
    desc, term) tie-break keeps both engines identical), and each document
    scores the mean rank of its tokens — high = rare vocabulary, low =
    boilerplate. Integer ranks make the cross-engine compare exact where a
    log-probability would drift in libm's low bits. Scale shape = the green
    TF-IDF plan: token groupBy with map-side partials; the global rank is
    over the (small) VOCABULARY, not the corpus; join back on term."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("n"))
    rk = tf.select(
        "term",
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc("term")))
        .cast("bigint")
        .alias("rank"),
    )
    return (
        tok.join(rk, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("rank").cast("bigint").alias("rank_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rank_sum",
            (F.col("rank_sum").cast("double") / F.col("n_tokens").cast("double")).alias(
                "mean_rank"
            ),
        )
    )


# ----------------------------------------------------------------------------
# similarity: multi-probe ANN + recall measurement (single vs multi probe)
# ----------------------------------------------------------------------------

_MULTIPROBE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {_sql_bucket('embedding')} AS bucket
           FROM embeddings WHERE vec_id < 10 AND {_VALID}),
c AS (SELECT vec_id AS match_id, embedding AS cvec,
             {_sql_bucket('embedding')} AS bucket
      FROM embeddings WHERE {_VALID}),
s AS (SELECT query_id, match_id, {_COS} AS cos
      FROM c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 1
      WHERE match_id <> query_id)
SELECT * FROM (
  SELECT query_id, match_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS INTEGER) AS rank
  FROM s
) WHERE rank <= 10
"""


@query("sim_ann_multiprobe_topk", _MULTIPROBE_ORACLE)
def sim_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query also searches every bucket one bit-flip
    away (1 + n_planes probes) — the standard recall/cost point when
    single-bucket recall is too low (measured ~13x better recall here; see
    sim_ann_recall_at_k). Probes explode on the tiny query side only; the
    corpus-side bucket index and the equi-join plan are unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding",
        k=10, n_planes=8, dim=_DIM, multiprobe_hamming=1,
    )


_RECALL_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {_sql_bucket('embedding')} AS bucket
           FROM embeddings WHERE vec_id < 10 AND {_VALID}),
c AS (SELECT vec_id AS match_id, embedding AS cvec,
             {_sql_bucket('embedding')} AS bucket
      FROM embeddings WHERE {_VALID}),
{_sql_cos_top10("truth", "c CROSS JOIN q WHERE c.match_id <> q.query_id")},
{_sql_cos_top10("single", "c JOIN q USING (bucket) WHERE c.match_id <> q.query_id")},
{_sql_cos_top10("multi", '''c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 1
    WHERE c.match_id <> q.query_id''')}
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(s.match_id) AS BIGINT) AS n_hit_single,
       CAST(COUNT(m.match_id) AS BIGINT) AS n_hit_multi,
       CAST(CAST(COUNT(s.match_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DOUBLE)
         AS recall_single,
       CAST(CAST(COUNT(m.match_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DOUBLE)
         AS recall_multi
FROM truth t
LEFT JOIN single s ON t.query_id = s.query_id AND t.match_id = s.match_id
LEFT JOIN multi m ON t.query_id = m.query_id AND t.match_id = m.match_id
GROUP BY t.query_id
"""


@query("sim_ann_recall_at_k", _RECALL_ORACLE)
def sim_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (not guessed) ANN quality: per-query recall@10 of the
    single-probe AND multi-probe LSH paths against brute-force ground truth
    — the hygiene numbers an ANN deployment tracks when tuning
    n_planes/probe radius. Integer hit counts keep the cross-engine compare
    exact; ground truth is the bounded 10-query set, cheap at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    truth = S.cosine_topk(
        queries_df, emb, "vec_id", "embedding", k=10, dim=_DIM
    ).select("query_id", "match_id")

    def hits(frame: DataFrame, col: str) -> DataFrame:
        a = frame.select("query_id", F.col("match_id").alias(col))
        return truth.join(
            a,
            (truth.query_id == a.query_id) & (truth.match_id == a[col]),
            "left",
        ).drop(a.query_id)

    # One bucketed corpus index shared by both probe paths instead of two
    # inline bucket computations (n_planes × dim literals re-analyzed per
    # join). Measured ~10% wall-clock here (truth brute-force dominates);
    # the real point is the shape: at scale the index is built once at
    # ingest, and both probe paths join against that one artifact.
    idx = S.build_lsh_index(emb, "vec_id", "embedding", n_planes=8, dim=_DIM)
    single = S.ann_lsh_topk(
        queries_df, emb, "vec_id", "embedding", k=10, n_planes=8, dim=_DIM,
        corpus_index=idx,
    )
    multi = S.ann_lsh_topk(
        queries_df, emb, "vec_id", "embedding", k=10, n_planes=8, dim=_DIM,
        multiprobe_hamming=1, corpus_index=idx,
    )
    joined = hits(single, "__s").join(
        hits(multi, "__m").select("query_id", "match_id", "__m"),
        ["query_id", "match_id"],
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.count("__s").cast("bigint").alias("n_hit_single"),
            F.count("__m").cast("bigint").alias("n_hit_multi"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit_single",
            "n_hit_multi",
            (F.col("n_hit_single").cast("double") / F.col("n_true").cast("double")).alias(
                "recall_single"
            ),
            (F.col("n_hit_multi").cast("double") / F.col("n_true").cast("double")).alias(
                "recall_multi"
            ),
        )
    )


# ----------------------------------------------------------------------------
# text: overlapping chunk windows (RAG / long-context training chunker)
# ----------------------------------------------------------------------------

_CW_WIDTH = 64
_CW_STRIDE = 32

_CHUNK_WINDOWS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS w FROM documents
),
x AS (
  SELECT doc_id, w, len(w) AS n_tokens,
         unnest(generate_series(0,
           CAST(GREATEST(CEIL((len(w) - {_CW_WIDTH}) / {_CW_STRIDE}.0), 0) AS BIGINT))) AS i
  FROM t
),
c AS (
  SELECT doc_id,
         CAST(i AS INTEGER) AS chunk_index,
         i * {_CW_STRIDE} + 1 AS start_tok,
         n_tokens,
         array_to_string(w[i*{_CW_STRIDE}+1 : i*{_CW_STRIDE}+{_CW_WIDTH}], ' ') AS chunk_text
  FROM x
)
SELECT doc_id, chunk_index,
       CAST(start_tok AS INTEGER) AS start_tok,
       CAST(LEAST(start_tok + {_CW_WIDTH} - 1, n_tokens) AS INTEGER) AS end_tok,
       md5(chunk_text) AS chunk_md5
FROM c
"""


@query("text_chunk_windows", _CHUNK_WINDOWS_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG / long-context chunker: each document exploded into overlapping
    64-token windows at stride 32 (``_CW_WIDTH``/``_CW_STRIDE``); see
    operators/text.chunk_windows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.chunk_windows(docs, "text", "doc_id", _CW_WIDTH, _CW_STRIDE)


# ----------------------------------------------------------------------------
# dedup: semantic (SemDeDup) — cluster the embedding space, drop the
# centroid-farther member of every above-threshold within-cluster pair
# ----------------------------------------------------------------------------

_SEM_SEED_LO, _SEM_K, _SEM_TAU = 200, 8, 0.4

_SEM_COSC = _sql_cos("e.embedding", "s.cvec")
_SEM_COSP = _sql_cos("a.embedding", "b.embedding")

_SEMDEDUP_ORACLE = f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
seeds AS (
  SELECT CAST(vec_id - {_SEM_SEED_LO} AS INTEGER) AS cell_id, embedding AS cvec
  FROM embeddings, nn
  WHERE vec_id >= {_SEM_SEED_LO}
    AND vec_id < {_SEM_SEED_LO} + GREATEST({_SEM_K}, (4 * n) // 500)
    AND {_VALID}
),
sc AS (
  SELECT e.vec_id, e.embedding, s.cell_id, {_SEM_COSC} AS cosc
  FROM embeddings e CROSS JOIN seeds s
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
asg AS (
  SELECT vec_id, embedding, cell_id, cosc FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cell_id) AS rk
    FROM sc
  ) WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS ia, a.cosc AS ca, b.vec_id AS ib, b.cosc AS cb,
         {_SEM_COSP} AS cp
  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
rm AS (
  SELECT DISTINCT CASE WHEN ca < cb THEN ia ELSE ib END AS vec_id
  FROM pairs WHERE cp > {_SEM_TAU}
)
SELECT g.vec_id, g.cell_id, g.cosc AS cos_centroid,
       (r.vec_id IS NOT NULL) AS is_removed
FROM asg g LEFT JOIN rm r USING (vec_id)
"""


@query("dedup_semantic_semdedup", _SEMDEDUP_ORACLE)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: assign every vector to its
    nearest pinned centroid (deterministic stand-ins for a k-means
    codebook — same pinning trick as ``sim_ivf_recall_at_k``), then within
    each cell remove the centroid-farther member of every cosine>τ pair.

    The cluster count GROWS WITH THE CORPUS — K = max(8, 4n/500), i.e.
    ~125 vectors per cell regardless of corpus size — which is the paper's
    own scaling design and what keeps the within-cell pair stage LINEAR in
    n (a pinned K would make cells, and therefore pairs, grow
    quadratically; the 10× scale probe measured exactly that before this
    was wired in — see SCALE.md). The oracle recomputes the same K from
    COUNT(*), so the check stays exact at every scale factor. The n·K
    assignment term is the standard IVF coarse-quantizer cost; production
    systems cut it with hierarchical assignment, which composes here as a
    pre-filter on the broadcast seed set."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(_SEM_K, (4 * n) // 500)
    # seeds ride the invalid-vector contract like every other arm (the
    # sim_ivf_recall_at_k precedent): a ragged/NULL-element SEED would give
    # NULL cosc in Spark but a partial-number cosc in DuckDB for EVERY
    # corpus vector scored against that cell
    seeds = S.valid_vectors(
        emb.filter(
            (F.col("vec_id") >= _SEM_SEED_LO) & (F.col("vec_id") < _SEM_SEED_LO + k)
        ),
        "embedding",
        _DIM,
    ).select(
        (F.col("vec_id") - _SEM_SEED_LO).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    return S.semdedup(emb, "vec_id", "embedding", seeds, threshold=_SEM_TAU, dim=_DIM)


# ----------------------------------------------------------------------------
# text: model-scored quality filtering (hashed linear classifier)
# ----------------------------------------------------------------------------

_CLF_W = (
    f"(('0x' || substr(md5(t), 1, 4))::BIGINT % {T.CLF_DIM}) "
    f"* {T.CLF_MULT} % {T.CLF_MOD} - {T.CLF_OFF}"
)

_CLF_ORACLE = rf"""
WITH x AS (
  SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+') AS w FROM documents
)
SELECT doc_id,
       CAST(LEN(w) AS INTEGER) AS n_tokens,
       CAST(list_aggregate(list_transform(w, t -> {_CLF_W}), 'sum') AS BIGINT)
         AS score_sum,
       CAST(CAST(list_aggregate(list_transform(w, t -> {_CLF_W}), 'sum') AS BIGINT)
            AS DOUBLE) / CAST(LEN(w) AS DOUBLE) AS avg_score,
       CASE WHEN list_aggregate(list_transform(w, t -> {_CLF_W}), 'sum') >= 0
            THEN 'keep' ELSE 'drop' END AS quality_label
FROM x
"""


@query("text_quality_classifier", _CLF_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext/DCLM-style model-scored filter: hashed bag-of-words × fixed
    integer weight vector, entirely in whole-stage codegen (map-only; the
    deterministic weight formula stands in for learned weights — see
    operators/text.quality_classifier_score for the scale argument)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_classifier_score(docs, "text", "doc_id")


# ----------------------------------------------------------------------------
# sampling: DSIR-style hashed-feature importance reweighting
# ----------------------------------------------------------------------------

# target exemplars: documents mentioning the anchor term — the fixture's
# languages share ONE synthetic vocabulary (lang is a label, not a lexical
# domain — probed: en-vs-rest weights separate by <0.002), so the anchor
# term is what creates a real distributional target here; tau picked off
# the measured weight split (371/385 targets >= 0.845, 91/115 non-targets
# below — a live confusion matrix, not a degenerate all-keep/all-drop)
_IR_TAU = 0.845

_IR_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS is_target
  FROM documents
),
occ AS (
  SELECT doc_id, is_target,
         ('0x' || substr(md5(tok), 1, 4))::BIGINT % {T.IR_DIM} AS f
  FROM (SELECT doc_id, is_target,
               unnest(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS tok
        FROM base)
),
model AS (
  SELECT f, CAST(SUM(is_target) AS BIGINT) AS ct,
         CAST(COUNT(*) AS BIGINT) AS cs
  FROM occ GROUP BY f
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(ct) AS BIGINT) AS num, CAST(SUM(cs) AS BIGINT) AS den
  FROM occ JOIN model USING (f) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.is_target AS INTEGER) AS is_target,
       CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
       s.num, s.den,
       CASE WHEN s.n_feats > 0
            THEN CAST(s.num + 1 AS DOUBLE) / CAST(s.den + 1 AS DOUBLE)
       END AS weight,
       COALESCE(CASE WHEN s.n_feats > 0
                     THEN CAST(s.num + 1 AS DOUBLE) / CAST(s.den + 1 AS DOUBLE)
                END >= {_IR_TAU}, false) AS keep
FROM base b LEFT JOIN scored s USING (doc_id)
"""


@query("sample_importance_reweight", _IR_ORACLE)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance reweighting: every document scored
    by how target-like its hashed token distribution is (target exemplars:
    documents mentioning the anchor term — see _IR_TAU's note on why the
    fixture's lang labels cannot anchor a lexical target), keep iff
    weight >= {tau}. Log-free pooled rational form — exact int64 sums, one
    double division (see operators/text.importance_reweight for the
    DSIR-vs-exactness trade and the broadcast-model scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.importance_reweight(
        docs.withColumn("is_anchor", F.col("text").contains("spark")),
        "text", "doc_id", "is_anchor", tau=_IR_TAU,
    )


# ----------------------------------------------------------------------------
# quantizer training: deterministic distributed k-means
# ----------------------------------------------------------------------------

_KM_SEED_LO, _KM_K, _KM_SCALE, _KM_ITERS = 100, 8, 10_000_000, 2


def _sql_km_valid(vec: str, dim: int) -> str:
    """The k-means vector contract for an arbitrary vector EXPRESSION:
    valid_vectors(dim) PLUS the int64-grid domain guard (NaN / |x| >= 1e3
    components — label_centroid_outliers' contract, needed because the
    UPDATE step runs on the fixed-point grid; one 1e18 garbage component
    would overflow the integer sums). Subvector slices (the per-subspace PQ
    training) ride the identical contract."""
    return (
        f"({S.VALID_VEC_SQL(vec, dim)} AND len(list_filter({vec}, "
        f"v -> isnan(CAST(v AS DOUBLE)) "
        f"OR abs(CAST(v AS DOUBLE)) >= {_CENTROID_DOMAIN!r})) = 0)"
    )


def _sql_km_c1(
    p: str, seed_lo: int, k: int, vec: str, dim: int, scale: int,
    seed_valid: str | None = None, k_sql: str | None = None,
    src: str = "embeddings",
) -> str:
    """CTE-chain text training ``k`` centroids from the pinned seed rows
    [seed_lo, seed_lo+k) for ONE fixed-point update round (iters=2) over the
    vector EXPRESSION ``vec`` — the SQL mirror of
    ``operators/similarity.kmeans_lloyd_centroids``, with the CTE names
    prefixed ``p`` so several independent trainings (the m PQ subspaces)
    compose in one WITH. The consumer reads ``{p}v (vec_id, kvec)`` and
    ``{p}c1 (cell, cvec)``. ``seed_valid`` overrides the
    SEED-row predicate (the PQ trainings admit a seed row uniformly — full
    embedding clean — so all m codebooks share the same cell set).
    ``k_sql``: a scalar-subquery expression replacing the STATIC ``k`` in
    the seed range — the corpus-proportional cluster counts (SemDeDup's
    K = max(8, 4n/500)) train against a K the oracle recomputes from
    COUNT(*). ``src``: the CTE/table the training reads (residual-PQ
    trains over a residual CTE, not the base table)."""
    valid = _sql_km_valid(vec, dim)
    d2 = _sql_sqfold(_sql_diff("kvec[i]", "cvec[i]"), 1, dim)
    k_hi = f"{seed_lo} + {k_sql}" if k_sql is not None else f"{seed_lo + k}"
    return f"""{p}v AS (
  SELECT vec_id, {vec} AS kvec FROM {src} WHERE {valid}
),
{p}c0 AS (
  SELECT CAST(vec_id - {seed_lo} AS INTEGER) AS cell, {vec} AS cvec
  FROM {src}
  WHERE vec_id >= {seed_lo} AND vec_id < {k_hi} AND {seed_valid or valid}
),
{p}a1 AS (
  SELECT vec_id, cell, kvec,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {d2}, cell) AS rn
  FROM {p}v CROSS JOIN {p}c0
),
{p}m1 AS (SELECT cell, kvec FROM {p}a1 WHERE rn = 1),
{p}x1 AS (
  SELECT cell,
         unnest(kvec) AS e,
         unnest(generate_series(1, len(kvec))) AS pos
  FROM {p}m1
),
{p}s1 AS (
  SELECT cell, pos,
         SUM(CAST(FLOOR(CAST(e AS DOUBLE) * {scale}) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM {p}x1 GROUP BY cell, pos
),
{p}u1 AS (
  SELECT cell,
         list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / {scale}.0
              ORDER BY pos) AS arr
  FROM {p}s1 GROUP BY cell
),
{p}c1 AS (
  SELECT {p}c0.cell, COALESCE({p}u1.arr, {p}c0.cvec) AS cvec
  FROM {p}c0 LEFT JOIN {p}u1 USING (cell)
)"""


_KM_VALID = _sql_km_valid("embedding", _DIM)

_KMEANS_ORACLE = f"""
WITH {_sql_km_c1("", _KM_SEED_LO, _KM_K, "embedding", _DIM, _KM_SCALE)},
a2 AS (
  SELECT vec_id, cell,
         {_sql_l2('kvec', 'cvec')} AS d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_sql_l2('kvec', 'cvec')}, cell) AS rn
  FROM v CROSS JOIN c1
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell_id, d2 AS dist2
FROM a2 WHERE rn = 1
"""


@query("sim_kmeans_train_assign", _KMEANS_ORACLE)
def sim_kmeans_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means: {iters} Lloyd rounds
    from {k} pinned seed centroids, returning the final per-vector
    assignment — the TRAINING pass behind the IVF coarse quantizer, the
    SemDeDup cells, and the PQ codebooks this module otherwise takes as
    pinned input (FAISS's train step). Oracle-exact despite being a
    float-ITERATIVE algorithm: assignments use the sequential sqdist fold
    (bit-identical cross-engine), centroid updates run on the int64
    fixed-point grid (exact, order-independent sums; the
    label_centroid_outliers machinery), so iteration 2 starts from
    bit-identical centroids in both engines. See
    operators/similarity.kmeans_lloyd_assign for the per-iteration
    shuffle budget."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _seed_rows(emb, _KM_SEED_LO, _KM_K).select(
        (F.col("vec_id") - _KM_SEED_LO).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    return S.kmeans_lloyd_assign(
        emb, "vec_id", "embedding", seeds,
        iters=_KM_ITERS, scale=_KM_SCALE, dim=_DIM,
    )


# ----------------------------------------------------------------------------
# train → index → search, end to end: the IVF coarse quantizer is TRAINED
# by the deterministic k-means above and the search runs over the trained
# centroids, oracle-exact throughout.
# ----------------------------------------------------------------------------


_TIVF_K = 16  # trained coarse-quantizer cells (seeds = the sim_ivf pinned rows)


def _trained_ivf_centroids(emb: DataFrame) -> list[list[float]]:
    """Train the {_TIVF_K}-cell coarse quantizer from the pinned seed rows
    and collect the codebook in cell order — positional cell ids are a
    monotone renumbering of the oracle's seed-offset cells, so (d2, cell)
    tie-breaks agree engine-to-engine. Shared by sim_ivf_topk and the
    trained-IVF and trained-IVFPQ recall queries."""
    seeds = _seed_rows(emb, _IVF_SEED_LO, _TIVF_K).select(
        (F.col("vec_id") - _IVF_SEED_LO).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    trained = S.kmeans_lloyd_centroids(
        emb, "vec_id", "embedding", seeds,
        iters=_KM_ITERS, scale=_KM_SCALE, dim=_DIM,
    )
    return [list(r["cvec"]) for r in sorted(trained.collect(), key=lambda r: r["cell_id"])]

# the trained coarse quantizer (cells `tc1`) and the corpus assignment
# to it, shared by every trained-IVF oracle
_TIVF_C1 = _sql_km_c1("t", _IVF_SEED_LO, _TIVF_K, "embedding", _DIM, _KM_SCALE)
_TIVF_ASSIGN = _sql_ivf_assign("t.cell AS cell_id", "t.cvec", "tc1 t", "")

_IVF_TRAINED_ORACLE = f"""
WITH {_TIVF_C1},
{_TIVF_ASSIGN},
{_IVF_SEARCH}
"""


@query("sim_ivf_trained_recall_at_k", _IVF_TRAINED_ORACLE)
def sim_ivf_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train→index→search loop END TO END: the IVF coarse
    quantizer is TRAINED with the deterministic distributed k-means
    (kmeans_lloyd_centroids — {k} cells from the pinned seed rows, the
    fixed-point-grid update that makes an iterative float training
    bit-identical cross-engine), then the search runs over the TRAINED
    centroids: assign → probe {p} nearest cells → candidate join → rank,
    recall@10 measured against exact brute force as integer hit counts.
    This is FAISS train()+add()+search() as one oracle-exact query.

    Scale shape: training is the kmeans_lloyd_centroids budget (one
    broadcast + three linear shuffles per iteration); the k·dim trained
    codebook collects to the literal ivf_topk inlines (a
    broadcast-literal-sized collect — the FAISS practice); the search is
    the proven ivf_topk machinery (inlined centroid expressions, broadcast
    probes, cell-key equi-join — no cartesian anywhere). Cell ids are positional over the collected
    codebook: a monotone renumbering of the oracle's seed-offset cells, so
    (d2, cell) tie-breaks agree engine-to-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)

    def _truth() -> DataFrame | None:
        # the degenerate branch below discards the truth frame, so a
        # sufficient emptiness test gates its full-corpus checkpoint: no
        # valid seed rows ⇒ the trainer has no seeds ⇒ cent is empty
        if not _seed_rows(emb, _IVF_SEED_LO, _TIVF_K).limit(1).take(1):
            return None
        return S.cosine_topk(
            queries_df, emb, "vec_id", "embedding", k=10, dim=_DIM
        ).select("query_id", "match_id").localCheckpoint(eager=True)

    # the truth arm is training-independent; runtime.concurrently overlaps
    # its checkpoint with the driver-bound training collect
    truth, cent = concurrently(_truth, lambda: _trained_ivf_centroids(emb))
    if not cent:
        # no valid seed rows: the oracle's tc1 is empty, so its assign —
        # and therefore BOTH the ivf and truth CTEs, which are built on the
        # assigned corpus — emit zero rows. Must NOT fall through to
        # ivf_topk's exact-search fallback, which would emit recall-1.0
        # rows the oracle never produces.
        return lit_frame(
            spark, [], "query_id bigint, n_true bigint, n_hit_ivf bigint, recall_ivf double"
        )
    ivf = S.ivf_topk(
        queries_df, emb, "vec_id", "embedding", cent,
        k=10, n_probe=_IVF_PROBE, dim=_DIM,
    ).select("query_id", F.col("match_id").alias("__ivf_match"))
    return _recall_hits(truth, ivf, "__ivf_match", "ivf")


sim_ivf_trained_recall_at_k.__doc__ = sim_ivf_trained_recall_at_k.__doc__.format(
    k=_TIVF_K, p=_IVF_PROBE
)


_IVF_TOPK_ORACLE = f"""
WITH {_TIVF_C1},
{_TIVF_ASSIGN},
{_PROBES_CTE},
{_Q_CTE},
{_IVF_C_CTE},
s AS (SELECT q.query_id, c.match_id, {_COS} AS cos
      FROM c JOIN probes p ON c.cell_id = p.cell_id
      JOIN q ON q.query_id = p.query_id
      WHERE c.match_id <> q.query_id)
{_COS_RANK_TAIL}"""


@query("sim_ivf_topk", _IVF_TOPK_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 — the other at-scale ANN path besides hyperplane LSH:
    the trained coarse quantizer of sim_ivf_trained_recall_at_k, then each
    query scans only its ``_IVF_PROBE`` nearest cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _trained_ivf_centroids(emb)
    if not cent:
        # no valid seed rows: the oracle's tc1 is empty, so it emits zero
        # rows — not ivf_topk's exact-search fallback
        return lit_frame(spark, [], "query_id bigint, match_id bigint, cos double, rank int")
    return S.ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "embedding", cent,
        k=10, n_probe=_IVF_PROBE, dim=_DIM,
    )


# ----------------------------------------------------------------------------
# evaluation: does the quality score actually separate classes?
# ----------------------------------------------------------------------------

_EVAL_K = 100

_CLF_EVAL_ORACLE = rf"""
WITH x AS (
  SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+') AS w FROM documents
),
sc AS (
  SELECT doc_id,
         CAST(CAST(list_aggregate(list_transform(w, t -> {_CLF_W}), 'sum') AS BIGINT)
              AS DOUBLE) / CAST(LEN(w) AS DOUBLE) AS s
  FROM x
),
s AS (
  SELECT d.doc_id, sc.s,
         CASE WHEN d.lang IS NULL THEN NULL
              WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM sc JOIN documents d USING (doc_id)
  WHERE sc.s IS NOT NULL AND d.lang IS NOT NULL
),
g AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM s GROUP BY s),
r AS (
  SELECT pos, neg,
         COALESCE(SUM(neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM g
),
t AS (
  SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg,
         SUM(pos * (2 * neg_below + neg)) AS won_x2
  FROM r
),
k AS (
  SELECT SUM(y) AS hits, COUNT(*) AS k_eff
  FROM (SELECT y FROM s ORDER BY s DESC, doc_id ASC LIMIT {_EVAL_K})
),
n AS (SELECT COUNT(*) AS n_scored FROM s)
SELECT CAST(n.n_scored AS BIGINT) AS n_scored,
       CAST(COALESCE(t.n_pos, 0) AS BIGINT) AS n_pos,
       CAST(COALESCE(t.n_neg, 0) AS BIGINT) AS n_neg,
       CASE WHEN t.n_pos > 0 AND t.n_neg > 0
            THEN CAST(t.won_x2 AS DOUBLE)
                 / (2.0 * CAST(t.n_pos AS DOUBLE) * CAST(t.n_neg AS DOUBLE))
       END AS auc,
       CAST(COALESCE(k.hits, 0) AS BIGINT) AS hits_at_k,
       CASE WHEN k.k_eff > 0
            THEN CAST(COALESCE(k.hits, 0) AS DOUBLE) / CAST(k.k_eff AS DOUBLE)
       END AS precision_at_k
FROM n, t, k
"""


@query("eval_classifier_auc", _CLF_EVAL_ORACLE)
def eval_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale classifier evaluation: tie-corrected rank-sum
    ROC-AUC + deterministic precision@{k} of the hashed-linear quality
    score against the language-ID proxy label (is-English) — the check a
    pipeline runs BEFORE committing a filter threshold. The AUC numerator
    is an exact doubled bigint rank sum computed with a per-score groupBy
    plus the two-phase distributed prefix sum (NO single-partition global
    rank window — the pack_sequences precedent); see
    operators/evaluation.binary_classifier_eval for the shuffle budget."""
    from crystal_parquet_database_spark.operators import evaluation as E

    docs = load_table(spark, sf_dir, "documents")
    scored = T.quality_classifier_score(docs, "text", "doc_id").select(
        "doc_id", "avg_score"
    )
    labeled = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "avg_score",
        F.when(F.col("lang").isNotNull(), (F.col("lang") == "en").cast("int")).alias(
            "is_en"
        ),
    )
    return E.binary_classifier_eval(
        labeled, "avg_score", "is_en", "doc_id", k=_EVAL_K
    )


_CLF_CALIB_ORACLE = rf"""
WITH x AS (
  SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+') AS w FROM documents
),
sc AS (
  SELECT doc_id,
         CAST(CAST(list_aggregate(list_transform(w, t -> {_CLF_W}), 'sum') AS BIGINT)
              AS DOUBLE) / CAST(LEN(w) AS DOUBLE) AS s
  FROM x
),
s AS (
  SELECT d.doc_id, sc.s,
         CASE WHEN d.lang IS NULL THEN NULL
              WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM sc JOIN documents d USING (doc_id)
  WHERE sc.s IS NOT NULL AND d.lang IS NOT NULL
),
r AS (
  SELECT s, y,
         ROW_NUMBER() OVER (ORDER BY s, doc_id) AS rk,
         COUNT(*) OVER () AS n
  FROM s
)
SELECT CAST(FLOOR(CAST((rk - 1) * 10 AS DOUBLE) / CAST(n AS DOUBLE)) AS INTEGER)
         AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
       MIN(s) AS min_score,
       MAX(s) AS max_score
FROM r GROUP BY 1
"""


@query("eval_classifier_calibration", _CLF_CALIB_ORACLE)
def eval_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table companion to eval_classifier_auc: the
    quality score's rows cut into 10 equal-population rank bins (total
    order (score, id) — ties never straddle a boundary engine-dependently),
    per-bin population / positive rate / score range. The rank is the
    two-phase distributed prefix sum, NOT a global ROW_NUMBER window or
    NTILE (both plan a SinglePartition exchange of the corpus); see
    operators/evaluation.binary_classifier_calibration."""
    from crystal_parquet_database_spark.operators import evaluation as E

    docs = load_table(spark, sf_dir, "documents")
    scored = T.quality_classifier_score(docs, "text", "doc_id").select(
        "doc_id", "avg_score"
    )
    labeled = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "avg_score",
        F.when(F.col("lang").isNotNull(), (F.col("lang") == "en").cast("int")).alias(
            "is_en"
        ),
    )
    return E.binary_classifier_calibration(
        labeled, "avg_score", "is_en", "doc_id", bins=10
    )


# ----------------------------------------------------------------------------
# dedup: asymmetric containment (quotation / boilerplate-wrapper detection)
# ----------------------------------------------------------------------------

_CONT_TAU, _CONT_MAXDF = 0.9, 100

_CONTAINMENT_ORACLE = f"""
WITH {_HS_CTE},
ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
dfreq AS (SELECT h, COUNT(*) AS d FROM ex GROUP BY h),
keep AS (SELECT doc_id, h FROM ex JOIN dfreq USING (h) WHERE d <= {_CONT_MAXDF}),
sz AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a_in_b,
       CAST(n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b_in_a,
       CASE WHEN CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= {_CONT_TAU}
             AND CAST(n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= {_CONT_TAU}
            THEN 'mutual'
            WHEN CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= {_CONT_TAU}
            THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE GREATEST(CAST(n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
               CAST(n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= {_CONT_TAU}
"""


@query("dedup_containment_pairs", _CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (|A∩B|/|A| over word-shingle sets with a
    stop-shingle df cap): catches quotation/wrapper pages that Jaccard
    misses. Inverted-index candidates only — see
    operators/dedup.containment_pairs for the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(
        docs, "text", "doc_id", threshold=_CONT_TAU, k=_K, max_df=_CONT_MAXDF
    )


# ----------------------------------------------------------------------------
# dedup: incremental MinHash — today's batch vs the corpus LSH index
# ----------------------------------------------------------------------------

# deterministic batch split: doc_id % 10 == 0 is "today's drop", the rest is
# the already-indexed corpus
_INC_NEW = "doc_id % 10 = 0"
_INC_OLD = "doc_id % 10 <> 0"

_MINHASH_INC_ORACLE = f"""
WITH {_HS_CTE},
{_BANDS_CTES},
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
  WHERE n.{_INC_NEW} AND o.{_INC_OLD}
)
{_sql_jaccard_pairs(
    "id_new, id_old",
    "cand JOIN hs a ON cand.id_new = a.doc_id JOIN hs b ON cand.id_old = b.doc_id",
    _THRESH,
)}
"""


@query("dedup_minhash_incremental", _MINHASH_INC_ORACLE)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the new batch's LSH band keys equi-join the
    corpus band-key index — no old×old self-join, history never re-paired.
    The near-dup sibling of ``dedup_incremental_new_vs_index``; see
    operators/dedup.minhash_lsh_incremental for the persisted-index 100 TB
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.expr(_INC_NEW))
    old = docs.filter(F.expr(_INC_OLD))
    return D.minhash_lsh_incremental(
        new, old, "text", "doc_id", threshold=_THRESH, k=_K,
        n_hashes=N_MINHASH, n_bands=_BANDS,
    )


# ----------------------------------------------------------------------------
# text: BM25 keyword search (rational idf — log-free, oracle bit-exact)
# ----------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
_BM25_QUERIES: dict[str, list[str]] = {
    "q_spark_batch": ["spark", "batch"],
    "q_hash_merge_sort": ["hash", "merge", "sort"],
    "q_window": ["window"],
    "q_table_scan": ["table", "scan"],
}
_BM25_MAXT = max(len(t) for t in _BM25_QUERIES.values())
_BM25_VALUES = ", ".join(
    f"('{qid}', '{t}', {i})"
    for qid, terms in _BM25_QUERIES.items()
    for i, t in enumerate(terms)
)
_BM25_TERMS_IN = ", ".join(
    f"'{t}'" for t in sorted({t for ts in _BM25_QUERIES.values() for t in ts})
)
_BM25_PIV = ",\n    ".join(
    f"MAX(CASE WHEN idx = {i} THEN comp END) AS c{i}" for i in range(_BM25_MAXT)
)
_BM25_SCORE_SQL = " + ".join(f"COALESCE(c{i}, 0.0)" for i in range(_BM25_MAXT))

# The full BM25 scoring CTE chain — ONE definition shared by the standalone
# BM25 oracle and the hybrid-RRF oracle, so a formula change can never make
# text_bm25_topk and text_hybrid_rrf_search silently disagree.
_BM25_CORE_CTES = rf"""q(query_id, term, idx) AS (VALUES {_BM25_VALUES}),
base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(TRIM(text, ' '), '\s+')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
  FROM base
),
tok AS (
  SELECT doc_id, unnest(string_split_regex(TRIM(text, ' '), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ({_BM25_TERMS_IN})
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
comp AS (
  SELECT tf.doc_id, tf.term,
         ((CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
            / (CAST(df_t AS DOUBLE) + 0.5))
         * ((CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0!r})
            / (CAST(tf AS DOUBLE)
               + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r}
                 * (CAST(dl AS DOUBLE)
                    / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         AS comp
  FROM tf JOIN base USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
),
piv AS (
  SELECT query_id, doc_id,
    {_BM25_PIV}
  FROM comp JOIN q USING (term)
  GROUP BY query_id, doc_id
),
sc AS (SELECT query_id, doc_id, {_BM25_SCORE_SQL} AS score FROM piv)"""

_BM25_ORACLE = rf"""
WITH {_BM25_CORE_CTES}
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM sc
) WHERE rank <= {_BM25_TOPK}
"""


@query("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword search, top-10 docs per query, rational idf (no
    ln — cross-engine exact) and order-fixed cross-term summation. See
    operators/text.bm25_topk for the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.bm25_topk(
        docs, "text", "doc_id", _BM25_QUERIES,
        top_k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B,
    )


# ----------------------------------------------------------------------------
# text: corpus bigram-LM fluency / novelty (exact-integer LM signal)
# ----------------------------------------------------------------------------

# the corpus-bigram-LM core (bg/model/ctx/sc CTEs) is shared verbatim by the
# fluency query and the CCNet-style bucket query below — one definition
_BIGRAM_CORE_CTES = rf"""bg AS (
  SELECT doc_id, unnest({sql_word_ngrams('text', 2)}) AS bg FROM documents
),
model AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY bg),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM bg GROUP BY 1
),
sc AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(c2) AS BIGINT) AS s2,
         CAST(SUM(c1) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN c2 <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS rare
  FROM (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg) o
  JOIN model USING (bg) JOIN ctx USING (w1)
  GROUP BY o.doc_id
)"""

_BIGRAM_ORACLE = rf"""
WITH {_BIGRAM_CORE_CTES}
SELECT d.doc_id,
       COALESCE(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       COALESCE(CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE), 0.0) AS fluency,
       COALESCE(CAST(rare AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0) AS novel_ratio
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


@query("text_bigram_fluency", _BIGRAM_ORACLE)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM signal in exact integer arithmetic: pooled
    transition commonness (fluency) + unique-bigram ratio (novelty) — the
    log-free stand-in for a KenLM perplexity filter. See
    operators/text.bigram_fluency for the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.bigram_fluency(docs, "text", "doc_id", rare_max_count=1)


# ----------------------------------------------------------------------------
# dedup: quality-aware canonical selection per near-dup cluster
# ----------------------------------------------------------------------------

_QUAL_EXPR_SQL = rf"""
  0.4 * (CAST(n_stop AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE))
  + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(len_floor AS DOUBLE))
  + 0.3 * (CAST(LEAST(n_words, 100) AS DOUBLE) / 100.0)
"""

_CC_REP_ORACLE = rf"""
WITH RECURSIVE {_SIMHASH_CTES.strip()},
p AS ({_SIMHASH_NEAR}),
{_sql_components("documents")},
comp AS ({_CC}),
qf AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+')) AS INTEGER) AS n_words,
         CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+'),
                              x -> x IN ({_SW_SQL}))) AS INTEGER) AS n_stop,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct,
         CAST(GREATEST(LENGTH(text), 1) AS INTEGER) AS len_floor
  FROM documents
),
q AS (SELECT doc_id, {_QUAL_EXPR_SQL} AS quality_score FROM qf),
j AS (SELECT comp.doc_id, cluster_id, quality_score FROM comp JOIN q USING (doc_id))
SELECT doc_id, cluster_id, quality_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY quality_score DESC, doc_id) AS INTEGER) = 1
         AS is_canonical
FROM j
"""


@query("dedup_cluster_representatives", _CC_REP_ORACLE)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: near-dup clusters (SimHash pair
    graph → connected components) keep their HIGHEST-QUALITY member, not the
    min-id one — what a production dedup pass actually ships (drop the
    boilerplate-mangled copies, keep the cleanest). Ties break to the
    smaller doc_id.

    100 TB shape: components via the edge-incident min-label propagation of
    ``connected_components`` (O(diameter) rounds); the per-cluster argmax is
    a ``max(struct)`` aggregate — map-side partials, no per-cluster window
    over the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    comp = D.connected_components(_simhash_pairs(docs), docs.select("doc_id"), "doc_id")
    q = T.quality_features(docs.select("doc_id", "text"), "text", _STOPWORDS).select(
        "doc_id", "quality_score"
    )
    # Materialize (doc_id, cluster_id, quality_score) ONCE (guide §3.3):
    # two consumers below (the per-cluster argmax and the final join back)
    # otherwise each re-run the quality text scan AND the component
    # singleton anti-join (the unmaterialized plan holds the whole subtree
    # twice: two parquet scans of documents).
    j = comp.join(q, "doc_id").localCheckpoint(eager=True)
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"),
                (-F.col("doc_id")).alias("negid"),
                F.col("doc_id").alias("id"),
            )
        ).alias("__b")
    )
    return j.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.col("doc_id") == F.col("__b.id")).alias("is_canonical"),
    )


# ----------------------------------------------------------------------------
# multimodal: REAL header parse, driver-checked (PNG / JPEG / GIF)
# ----------------------------------------------------------------------------

# The image/audio pipelines above check the deterministic FAKE branch (their
# fixture bytes are document text). This query drives the REAL pure-python
# header parsers through the driver gate: it synthesizes valid PNG IHDR /
# JPEG SOF0 / GIF89a header bytes column-side (hex assembly → unhex) with
# dimensions derived from document fields, runs them through the identical
# mapInPandas decode path, and the oracle recomputes mime/width/height/
# n_bytes from the same formulas — if any parser misread an offset the hash
# would flip.

_IMG_HDR_ORACLE = """
SELECT doc_id AS image_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END AS mime,
       CAST(1 + n_chars % 200 AS INTEGER) AS width,
       CAST(1 + doc_id % 150 AS INTEGER) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 17 ELSE 14 END
            AS BIGINT) AS n_bytes
FROM documents
"""


@query("multimodal_image_header_real", _IMG_HDR_ORACLE)
def multimodal_image_header_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata, driver-checked: synthesize spec-valid PNG/JPEG/
    GIF header bytes per document (hex → unhex, pure column expressions),
    decode via the same ``with_image_meta`` mapInPandas path production
    content takes, and hash-compare the parsed fields against the formulas
    the bytes were built from. Exercises the vendored IHDR / SOF0-walk /
    logical-screen-descriptor parsers (operators/multimodal.py) under the
    driver gate, not just pytest."""
    from crystal_parquet_database_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = (F.lit(1) + F.col("n_chars") % 200).cast("int")
    h = (F.lit(1) + F.col("doc_id") % 150).cast("int")

    def hx(c):  # one byte → two lowercase hex chars (values here are < 256)
        return F.lpad(F.lower(F.hex(c)), 2, "0")

    w16be = F.concat(F.lit("00"), hx(w))      # u16 big-endian, w <= 200
    h16be = F.concat(F.lit("00"), hx(h))
    w32be = F.concat(F.lit("000000"), hx(w))  # u32 big-endian
    h32be = F.concat(F.lit("000000"), hx(h))
    w16le = F.concat(hx(w), F.lit("00"))      # u16 little-endian (GIF)
    h16le = F.concat(hx(h), F.lit("00"))

    png = F.concat(  # sig + IHDR len/type + w + h + 5 header bytes = 29 bytes
        F.lit("89504e470d0a1a0a" "0000000d" "49484452"),
        w32be, h32be, F.lit("0800000000"),
    )
    # SOI + SOFn(len 0x0b: prec, h, w, 1 comp×3) + EOI = 17 B. Half the JPEG
    # docs use baseline SOF0 (0xffc0), half progressive SOF2 (0xffc2) — both
    # are in _JPEG_SOF_MARKERS and must parse identically (same byte layout),
    # so the oracle needs no extra arm; a parser that missed SOF2 would fall
    # through to the fake branch and flip the hash.
    sof = F.when(F.col("doc_id") % 6 == 1, F.lit("ffc0")).otherwise(F.lit("ffc2"))
    jpeg = F.concat(
        F.lit("ffd8"), sof, F.lit("000b" "08"), h16be, w16be,
        F.lit("01" "011100" "ffd9"),
    )
    gif = F.concat(  # GIF89a + logical screen w/h + flags/bg/aspect + ';'
        F.lit("474946383961"), w16le, h16le, F.lit("000000" "3b"),
    )
    content = F.unhex(
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    binary = docs.select(F.col("doc_id").alias("image_id"), content.alias("content"))
    return M.with_image_meta(binary).select(
        "image_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


# The MP4/ISO-BMFF walker (operators/multimodal._parse_mp4_meta) is the last
# real container parser without a driver row — same synthesized-bytes trick:
# build spec-valid ftyp + moov/mvhd boxes column-side and have the oracle
# recompute brand/duration from the formulas the bytes encode. Half the docs
# route moov through the size==1 64-bit LARGESIZE header (the >4 GiB form —
# exercising the 16-byte-header child-offset fix) with a `free` box padding
# the other arm so both layouts are exactly 60 bytes.

_VIDEO_HDR_ORACLE = """
SELECT doc_id AS video_id,
       'video/mp4' AS mime,
       CASE doc_id % 2 WHEN 0 THEN 'isom' ELSE 'mp42' END AS brand,
       CAST(1 + doc_id % 3000 AS DOUBLE) / CAST(600 AS DOUBLE) AS duration_s,
       CAST(60 AS BIGINT) AS n_bytes
FROM documents
"""


@query("multimodal_video_header_real", _VIDEO_HDR_ORACLE)
def multimodal_video_header_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 metadata, driver-checked: synthesize valid ISO-BMFF bytes per
    document (hex → unhex, pure column expressions) and decode them via the
    same ``with_video_meta`` mapInPandas path production content takes.

    Even doc_ids: ftyp(isom) + free + moov[mvhd] with ordinary 32-bit box
    sizes. Odd doc_ids: ftyp(mp42) + moov with the size==1 / 64-bit largesize
    header (children start at +16, not +8 — the branch fixed for >4 GiB
    boxes, operators/multimodal.py). mvhd is version 0 with timescale 600 and
    duration 1+doc_id%3000 ticks; the oracle recomputes duration_s with the
    identical IEEE division. Any misread offset flips the hash."""
    from crystal_parquet_database_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dur = (F.lit(1) + F.col("doc_id") % 3000).cast("int")
    dur32 = F.lpad(F.lower(F.hex(dur)), 8, "0")  # u32 big-endian hex

    # mvhd v0 (28 B): size + 'mvhd' + ver/flags + creation + modification
    # + timescale(600=0x258) + duration
    mvhd = F.concat(
        F.lit("0000001c" "6d766864" "00000000" "00000000" "00000000" "00000258"),
        dur32,
    )
    plain = F.concat(  # ftyp(16) + free(8) + moov hdr(8) + mvhd(28) = 60 B
        F.lit("00000010" "66747970" "69736f6d" "00000000"),  # ftyp, brand isom
        F.lit("00000008" "66726565"),                          # free box
        F.lit("00000024" "6d6f6f76"),                          # moov, size 36
        mvhd,
    )
    largesize = F.concat(  # ftyp(16) + moov largesize hdr(16) + mvhd(28) = 60 B
        F.lit("00000010" "66747970" "6d703432" "00000000"),  # ftyp, brand mp42
        F.lit("00000001" "6d6f6f76" "00000000" "0000002c"),  # size==1, u64=44
        mvhd,
    )
    content = F.unhex(F.when(F.col("doc_id") % 2 == 0, plain).otherwise(largesize))
    binary = docs.select(F.col("doc_id").alias("video_id"), content.alias("content"))
    return M.with_video_meta(binary).select(
        "video_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.brand").alias("brand"),
        F.col("meta.duration_s").alias("duration_s"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


# ----------------------------------------------------------------------------
# similarity: product quantization (PQ) ADC search + exact recall oracle
# ----------------------------------------------------------------------------

# Codebooks pinned to seed rows (the sim_ivf_recall_at_k trick): centroid c
# of subspace j is the [j*16, (j+1)*16) slice of embedding row vec_id=200+c,
# so DuckDB recomputes encoding, ADC tables, ranking, and recall exactly.
_PQ_SEED_LO, _PQ_KSUB, _PQ_M, _PQ_DSUB = 200, 16, 4, 16


def _sql_sub_l2(a: str, b: str, j: int) -> str:
    """Squared L2 over subspace j's dim range of two full-width vectors."""
    return _sql_sqfold(
        _sql_diff(f"{a}[i]", f"{b}[i]"), j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
    )


def _sql_sub_l2_t(a: str, c: str, j: int) -> str:
    """Squared L2 between subspace ``j`` of full vector ``a`` and a
    dsub-dim codebook centroid ``c`` (the offset moves into a's index)."""
    return _sql_sqfold(
        _sql_diff(f"{a}[{j * _PQ_DSUB} + i]", f"{c}[i]"), 1, _PQ_DSUB
    )


_PQ_CODE_COLS = ", ".join(f"k{j}" for j in range(_PQ_M))


def _sql_pq_codes(head: str, d: str, k: str, d2_sql) -> str:
    """PQ encoding as CTEs: per subspace j, ``{d}{j}`` is ``d2_sql(j)`` (a
    SELECT of vec_id, code, d2 — every vector's squared distance to every
    code) and ``{k}{j}`` the first-min code k{j}; then ``head`` (e.g.
    "codes AS") joins the m codes per vector."""
    per_sub = ",\n".join(
        f"""{d}{j} AS (
  {d2_sql(j)}
),
{k}{j} AS (
  SELECT vec_id, code AS k{j} FROM (
    SELECT vec_id, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
    FROM {d}{j}) WHERE rn = 1
)"""
        for j in range(_PQ_M)
    )
    joins = " ".join(f"JOIN {k}{j} USING (vec_id)" for j in range(1, _PQ_M))
    return f"""{per_sub},
{head} (
  SELECT {k}0.vec_id, {_PQ_CODE_COLS}
  FROM {k}0 {joins}
)"""


def _sql_adc_top10(name: str, cols: str, adc: str) -> str:
    """CTE ``name``: per-query top-10 of CTE ``adc`` by approx_d2, match_id."""
    return f"""{name} AS (
  SELECT {cols} FROM (
    SELECT query_id, match_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2, match_id) AS rank
    FROM {adc}) WHERE rank <= 10
)"""


def _sql_l2_truth(name: str, cols: str, cut: str) -> str:
    """CTE ``name``: the exact-L2 ranking of every valid corpus vector for
    each ``q`` row, cut by ``cut``. It reads no training CTE, so it is the
    same whatever the quantizer does."""
    return f"""{name} AS (
  SELECT query_id, {cols} FROM (
    SELECT q.query_id, e.vec_id AS match_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_l2('e.embedding', 'q.qvec')},
                                       e.vec_id) AS rank
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id AND {S.VALID_VEC_SQL('e.embedding', _DIM)}
  ) WHERE {cut}
)"""


def _sql_l2_recall(arm: str, adc: str) -> str:
    """Recall@10 of the ADC ranking in CTE ``adc`` (as CTE ``arm``) against
    the exact-L2 truth: the closing CTEs and SELECT of every PQ oracle."""
    return f"""{_sql_adc_top10(arm, "query_id, match_id", adc)},
{_sql_l2_truth("truth", "match_id", "rank <= 10")}
{_sql_recall_tail(arm, "p")}"""


_PQ_ADC_SUM = " + ".join(
    _sql_sub_l2("q.qvec", f"s{j}.svec", j) for j in range(_PQ_M)
)
_PQ_SEED_JOINS = "\n  ".join(
    f"JOIN seeds s{j} ON s{j}.code = c.k{j}" for j in range(_PQ_M)
)

_PQ_CODES = _sql_pq_codes("codes AS", "d", "kk", lambda j: (
    f"SELECT e.vec_id, s.code, {_sql_sub_l2('e.embedding', 's.svec', j)} AS d2"
    f"\n  FROM embeddings e CROSS JOIN seeds s WHERE {S.VALID_VEC_SQL('e.embedding', _DIM)}"
))

_PQ_RECALL_ORACLE = f"""
WITH seeds AS (
  SELECT CAST(vec_id - {_PQ_SEED_LO} AS INTEGER) AS code, embedding AS svec
  FROM embeddings
  WHERE vec_id >= {_PQ_SEED_LO} AND vec_id < {_PQ_SEED_LO + _PQ_KSUB}
    AND {_VALID}
),
{_PQ_CODES},
{_Q_CTE},
adc AS (
  SELECT q.query_id, c.vec_id AS match_id, {_PQ_ADC_SUM} AS approx_d2
  FROM codes c CROSS JOIN q
  {_PQ_SEED_JOINS}
  WHERE c.vec_id <> q.query_id
),
{_sql_l2_recall("pq", "adc")}
"""


def _l2_truth_top10(
    queries_df: DataFrame, emb: DataFrame, with_rank: bool = False
) -> DataFrame:
    """Exact-L2 ground-truth top-10 per query, the engine side of
    `_sql_l2_truth`: same fold shape as `_sql_l2`, and NULL distances sort
    last so a NULL-embedding corpus row cannot win rank 1. ``with_rank``
    keeps the rank column (the MRR query needs rank 1)."""
    q = queries_df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = S.valid_vectors(emb, "embedding", _DIM).select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("cvec")
    )
    sq = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            S._sub_l2(F.col("cvec"), F.col("qvec")).alias("__d2"),
        )
    )
    wnd = W.partitionBy("query_id").orderBy(
        F.col("__d2").asc_nulls_last(), F.col("match_id")
    )
    ranked = sq.withColumn("rank", F.row_number().over(wnd)).filter(
        F.col("rank") <= 10
    )
    cols = ["query_id", "match_id"] + (["rank"] if with_rank else [])
    return ranked.select(*cols)


@query("sim_pq_recall_at_k", _PQ_RECALL_ORACLE)
def sim_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with an EXACT oracle: vectors compress to
    {_PQ_M} codes (nearest pinned-centroid per 16-dim subspace), queries
    search via the classic ADC lookup-table scan over CODES ONLY, and
    recall@10 is measured against exact-L2 ground truth — all of it
    (encoding argmin, ADC tables, ranking, hit counts) recomputed
    bit-for-bit by DuckDB from the same pinned seed rows. PQ is the
    compression half of FAISS-style IVF-PQ: a 100 TB float corpus becomes
    m bytes/vector in the scan. See operators/similarity.pq_encode /
    pq_adc_topk for the scale shapes."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        _seed_rows(emb, _PQ_SEED_LO, _PQ_KSUB)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    if not seed_rows:
        # empty corpus: nothing to quantize, nothing to search — the
        # oracle's CTEs are all empty too; return the empty result with
        # the exact output schema instead of IndexError-ing on
        # codebooks[0][0]
        return lit_frame(
            spark, [], "query_id bigint, n_true bigint, n_hit_pq bigint, recall_pq double"
        )
    codebooks = [
        [list(r[0])[j * _PQ_DSUB : (j + 1) * _PQ_DSUB] for r in seed_rows]
        for j in range(_PQ_M)
    ]
    codes = S.pq_encode(emb, "vec_id", "embedding", codebooks).localCheckpoint(
        eager=True
    )
    # the contract applied to the truth arm too: pq_encode/pq_adc_topk
    # already exclude invalid vectors, so an element-NULL query/corpus row
    # left in the ground truth would make truth and search disagree about
    # the universe being searched (DuckDB's list folds SKIP null elements —
    # a partial distance is a NUMBER there, while Spark's fold nulls out)
    queries_df = S.valid_vectors(emb.filter(F.col("vec_id") < 10), "embedding", _DIM)
    pq = S.pq_adc_topk(
        queries_df, codes, "vec_id", "embedding", codebooks, k=10
    ).select("query_id", F.col("match_id").alias("__pq_match"))
    return _recall_hits(_l2_truth_top10(queries_df, emb), pq, "__pq_match", "pq")


# ----------------------------------------------------------------------------
# trained PQ: m independent per-subspace k-means trainings → codebooks →
# encode → ADC search → recall — the other half of the train→index→search
# composition (FAISS ProductQuantizer.train()).
# ----------------------------------------------------------------------------


def _train_pq_subspaces(
    corpus: DataFrame, seed_rows: DataFrame, vec_col: str
) -> list[list[list[float]]]:
    """Train the m per-subspace PQ codebooks of ``vec_col`` as ONE grouped
    k-means pass and collect them in (subspace, cell) order — the step both
    PQ trainers share. ``seed_rows`` are the already-admitted seed rows
    (vec_id in the pinned seed range); cell ids are their seed offsets.

    The subspaces stack with a ``__sub`` group key and
    ``kmeans_lloyd_centroids(group_col="__sub")`` trains all m codebooks
    with a single broadcast + one shuffle family + one collect; per-group
    results are bit-identical to m separate calls (every training
    aggregation keys on the group). The stacking is one pass over
    ``corpus``: posexplode over the array of the m slices emits exactly m
    rows per input row (F.array of m column expressions is never NULL),
    ``__sub`` = array position = subspace j."""

    def subs():
        return F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), j * _PQ_DSUB + 1, _PQ_DSUB)
                    for j in range(_PQ_M)
                ]
            )
        )

    stacked = corpus.select("vec_id", subs().alias("__sub", "subvec")).select(
        "__sub", "vec_id", "subvec"
    )
    seeds = seed_rows.select(
        (F.col("vec_id") - _PQ_SEED_LO).cast("int").alias("cell_id"),
        subs().alias("__sub", "cvec"),
    ).select("__sub", "cell_id", "cvec")
    trained = S.kmeans_lloyd_centroids(
        stacked, "vec_id", "subvec", seeds,
        iters=_KM_ITERS, scale=_KM_SCALE, dim=_PQ_DSUB, group_col="__sub",
    )
    codebooks: list[list[list[float]]] = [[] for _ in range(_PQ_M)]
    for r in sorted(trained.collect(), key=lambda r: (r["__sub"], r["cell_id"])):
        codebooks[r["__sub"]].append(list(r["cvec"]))
    return codebooks


def _trained_pq_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """Train the m per-subspace PQ codebooks (one deterministic k-means per
    subvector slice, seeds admitted uniformly on the FULL embedding so all
    m codebooks share one cell set) and collect them in cell order. Shared
    by the trained-PQ and trained-IVFPQ queries."""
    dom_ok = ~F.exists(
        F.col("embedding"),
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) >= F.lit(S.CENTROID_COMPONENT_DOMAIN)),
    )
    seed_base = _seed_rows(emb, _PQ_SEED_LO, _PQ_KSUB).where(dom_ok)
    return _train_pq_subspaces(emb, seed_base, "embedding")


_TPQ_TRAIN_CTES = ",\n".join(
    _sql_km_c1(
        f"p{j}_", _PQ_SEED_LO, _PQ_KSUB,
        f"list_slice(embedding, {j * _PQ_DSUB + 1}, {(j + 1) * _PQ_DSUB})",
        _PQ_DSUB, _KM_SCALE, seed_valid=_KM_VALID,
    )
    for j in range(_PQ_M)
)

# the trained PQ codebooks (`p{j}_c1`) and the corpus codes (`codes`),
# shared by every trained-PQ oracle
_TPQ_CODES = _TPQ_TRAIN_CTES + ",\n" + _sql_pq_codes("codes AS", "td", "tk", lambda j: (
    f"SELECT e.vec_id, t.cell AS code, {_sql_sub_l2_t('e.embedding', 't.cvec', j)} AS d2"
    f"\n  FROM embeddings e CROSS JOIN p{j}_c1 t WHERE {S.VALID_VEC_SQL('e.embedding', _DIM)}"
))

_TPQ_ADC_SUM = " + ".join(
    _sql_sub_l2_t("q.qvec", f"s{j}.cvec", j) for j in range(_PQ_M)
)
_TPQ_CB_JOINS = "\n  ".join(
    f"JOIN p{j}_c1 s{j} ON s{j}.cell = c.k{j}" for j in range(_PQ_M)
)

_PQ_TRAINED_ORACLE = f"""
WITH {_TPQ_CODES},
{_Q_CTE},
adc AS (
  SELECT q.query_id, c.vec_id AS match_id, {_TPQ_ADC_SUM} AS approx_d2
  FROM codes c CROSS JOIN q
  {_TPQ_CB_JOINS}
  WHERE c.vec_id <> q.query_id
),
{_sql_l2_recall("pq", "adc")}
"""


@query("sim_pq_trained_recall_at_k", _PQ_TRAINED_ORACLE)
def sim_pq_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED product quantization: the codebooks are not pinned seed
    slices — each of the m subspaces runs its own deterministic
    k-means (kmeans_lloyd_centroids over the subvector slice, the same
    fixed-point-grid machinery as the IVF coarse quantizer, initialized
    from the pinned seed rows) and the ADC search + recall run over the
    TRAINED codebooks: FAISS ProductQuantizer.train() → compute_codes() →
    search(), all oracle-exact. Seed rows are admitted UNIFORMLY (full
    embedding clean) so every subspace codebook shares one cell set;
    corpus rows train each subspace independently per the slice-level
    invalid-vector contract.

    Scale shape: m small independent trainings (each the
    kmeans_lloyd_centroids linear-shuffle budget over dsub-wide slices),
    m·ksub·dsub trained floats collected as the codebook literal (the
    pq_encode shape), then the proven codes-only ADC scan. At 100 TB the
    trainings run once on a sample at ingest; the per-row cost of the
    composition is unchanged from the pinned sibling."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = S.valid_vectors(emb.filter(F.col("vec_id") < 10), "embedding", _DIM)
    # the exact-truth arm is training-independent; runtime.concurrently
    # overlaps its checkpoint with the driver-bound training collect
    truth, codebooks = concurrently(
        lambda: _l2_truth_top10(queries_df, emb).localCheckpoint(eager=True),
        lambda: _trained_pq_codebooks(emb),
    )
    if not codebooks[0]:
        # no valid seed rows: nothing trained, so the oracle's codes/adc/pq
        # CTEs are empty — but its TRUTH CTE does not depend on training
        # (embeddings CROSS JOIN q), so the right degenerate output is the
        # truth rows with ZERO hits, not an empty frame. Uniform seed
        # admission means cell sets match across subspaces, so checking
        # subspace 0 checks them all.
        no_hits = lit_frame(spark, [], "query_id bigint, __pq_match bigint")
        return _recall_hits(truth, no_hits, "__pq_match", "pq")
    codes = S.pq_encode(emb, "vec_id", "embedding", codebooks).localCheckpoint(
        eager=True
    )
    pq = S.pq_adc_topk(
        queries_df, codes, "vec_id", "embedding", codebooks, k=10
    ).select("query_id", F.col("match_id").alias("__pq_match"))
    return _recall_hits(truth, pq, "__pq_match", "pq")


# ----------------------------------------------------------------------------
# trained IVF-PQ: the FULL composition — trained coarse cells, trained
# codebooks, probe-restricted ADC scan. FAISS IndexIVFPQ end to end.
# ----------------------------------------------------------------------------

# the candidate codes in each vector's assigned cell
_IVFPQ_CAND_CTE = f"""cand AS (
  SELECT a.vec_id, a.cell_id, {_PQ_CODE_COLS}
  FROM assign a JOIN codes USING (vec_id)
)"""

# train → assign + encode → probe → ADC score, up to the `adc` CTE: the
# body the trained IVF-PQ recall and MRR oracles share
_IVFPQ_ADC_CTES = f"""{_TIVF_C1},
{_TPQ_CODES},
{_TIVF_ASSIGN},
{_PROBES_CTE},
{_Q_CTE},
{_IVFPQ_CAND_CTE},
adc AS (
  SELECT q.query_id, c.vec_id AS match_id, {_TPQ_ADC_SUM} AS approx_d2
  FROM cand c
  JOIN probes p ON c.cell_id = p.cell_id
  JOIN q ON q.query_id = p.query_id
  {_TPQ_CB_JOINS}
  WHERE c.vec_id <> q.query_id
)"""

_IVFPQ_TRAINED_ORACLE = f"""
WITH {_IVFPQ_ADC_CTES},
{_sql_l2_recall("ivfpq", "adc")}
"""


@query("sim_ivfpq_trained_recall_at_k", _IVFPQ_TRAINED_ORACLE)
def sim_ivfpq_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexIVFPQ end to end, fully TRAINED and oracle-exact: the
    coarse quantizer is the k-means-trained 16-cell codebook, the
    m PQ codebooks are per-subspace k-means products, and the search probes
    the 4 nearest trained cells and ranks ONLY the probed candidates by the
    codes-only ADC approximation (operators/similarity.ivfpq_adc_topk).
    Recall@10 vs exact-L2 ground truth as integer hit counts. This is the
    complete production ANN shape — train → assign+encode at ingest →
    probe-restricted code scan at query time — with every stage (iterative
    training included) recomputed bit-for-bit by the SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = S.valid_vectors(emb.filter(F.col("vec_id") < 10), "embedding", _DIM)
    # the exact-truth arm is training-independent; runtime.concurrently
    # overlaps its checkpoint with the two driver-bound training collects
    truth, cent, codebooks = concurrently(
        lambda: _l2_truth_top10(queries_df, emb).localCheckpoint(eager=True),
        lambda: _trained_ivf_centroids(emb),
        lambda: _trained_pq_codebooks(emb),
    )
    if not cent or not codebooks[0]:
        # either training emptied: the oracle's cand/adc/ivfpq chain is
        # empty but its truth CTE does not depend on training, so the right
        # degenerate output is truth rows with ZERO hits (the trained-PQ
        # sibling's reasoning; the trained-IVF sibling differs: ITS oracle
        # truth ranks only the ASSIGNED corpus, so there the empty frame is
        # correct).
        no_hits = lit_frame(spark, [], "query_id bigint, __ivfpq_match bigint")
        return _recall_hits(truth, no_hits, "__ivfpq_match", "ivfpq")
    approx = S.ivfpq_adc_topk(
        queries_df, emb, "vec_id", "embedding", cent, codebooks,
        k=10, n_probe=_IVF_PROBE,
    ).select("query_id", F.col("match_id").alias("__ivfpq_match"))
    return _recall_hits(truth, approx, "__ivfpq_match", "ivfpq")


# ----------------------------------------------------------------------------
# trained IVF-PQ reciprocal rank: at what rank does the approximate index
# surface the TRUE nearest neighbor? The position-sensitive complement of
# recall@10 (a rank-1 hit and a rank-10 hit count the same there).
# ----------------------------------------------------------------------------

_IVFPQ_MRR_ORACLE = f"""
WITH {_IVFPQ_ADC_CTES},
{_sql_adc_top10("ivfpqr", "query_id, match_id, CAST(rank AS INTEGER) AS rank", "adc")},
{_sql_l2_truth("nn", "match_id AS true_nn", "rank = 1")}
SELECT n.query_id, n.true_nn,
       (i.rank IS NOT NULL) AS found,
       i.rank AS rank,
       COALESCE(CAST(1.0 AS DOUBLE) / CAST(i.rank AS DOUBLE), CAST(0.0 AS DOUBLE))
         AS rr
FROM nn n
LEFT JOIN ivfpqr i ON n.query_id = i.query_id AND n.true_nn = i.match_id
"""


@query("sim_ivfpq_trained_mrr", _IVFPQ_MRR_ORACLE)
def sim_ivfpq_trained_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the TRUE nearest neighbor inside the trained
    IVF-PQ top-10: recall@10 counts a rank-1 hit and a rank-10
    hit the same; retrieval pipelines tune on MRR precisely because they
    are not. Per query: the exact-L2 rank-1 neighbor, whether the trained
    index surfaced it, at what rank, and rr = 1/rank (0.0 on a miss —
    exact single division, oracle bit-exact). Training, encoding, probing
    and ranking all ride the proven trained-IVFPQ machinery; the truth arm
    is the rank-1 row of the exact companion. Degenerate all-seeds-invalid
    corpora agree by construction: both engines emit every truth row with
    found=false, rr=0.0 (nn is training-independent on both sides)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = S.valid_vectors(emb.filter(F.col("vec_id") < 10), "embedding", _DIM)
    # the true-NN arm is training-independent; runtime.concurrently
    # overlaps its checkpoint with the two driver-bound training collects
    nn, cent, codebooks = concurrently(
        lambda: _l2_truth_top10(queries_df, emb, with_rank=True)
        .filter(F.col("rank") == 1)
        .select("query_id", F.col("match_id").alias("true_nn"))
        .localCheckpoint(eager=True),
        lambda: _trained_ivf_centroids(emb),
        lambda: _trained_pq_codebooks(emb),
    )
    if not cent or not codebooks[0]:
        appr = lit_frame(spark, [], "query_id bigint, match_id bigint, rank int")
    else:
        appr = S.ivfpq_adc_topk(
            queries_df, emb, "vec_id", "embedding", cent, codebooks,
            k=10, n_probe=_IVF_PROBE,
        ).select("query_id", "match_id", "rank")
    joined = nn.join(
        appr,
        (nn.query_id == appr.query_id) & (nn.true_nn == appr.match_id),
        "left",
    ).drop(appr.query_id)
    return joined.select(
        "query_id",
        "true_nn",
        F.col("rank").isNotNull().alias("found"),
        F.col("rank"),
        F.coalesce(
            F.lit(1.0) / F.col("rank").cast("double"), F.lit(0.0)
        ).alias("rr"),
    )


# ----------------------------------------------------------------------------
# text+vector: hybrid retrieval via reciprocal-rank fusion (RRF)
# ----------------------------------------------------------------------------

# Each keyword query is paired with a query VECTOR (a pinned embeddings row;
# documents and embeddings share the 0..N id space in the fixtures), so the
# fused list blends lexical (BM25) and semantic (cosine) evidence — the
# standard hybrid-search recipe (RRF: Cormack et al. 2009), exactly
# reproducible because RRF is pure rational arithmetic over integer ranks.
_RRF_K = 60
_RRF_TOPK = 10
_RRF_CAND_K = 20
_RRF_QVEC: list[tuple[str, int]] = [
    (qid, i) for i, qid in enumerate(sorted(_BM25_QUERIES))
]
_RRF_QVEC_VALUES = ", ".join(f"('{q}', {v})" for q, v in _RRF_QVEC)

# The bm CTE (lexical arm) and the fused/final tail are shared verbatim by
# the brute-force and trained-IVFPQ hybrids — ONE definition (the _topk
# lesson): both oracles differ only in how the vr (vector-rank) CTE is
# produced.
_RRF_BM_CTE = f"""bm AS (
  SELECT query_id, doc_id, rank_b FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank_b
    FROM sc) WHERE rank_b <= {_RRF_CAND_K}
)"""

_RRF_FUSE_SQL = f"""fused AS (
  SELECT query_id, doc_id,
         COALESCE(1.0 / ({float(_RRF_K)!r} + CAST(rank_b AS DOUBLE)), 0.0)
         + COALESCE(1.0 / ({float(_RRF_K)!r} + CAST(rank_v AS DOUBLE)), 0.0) AS rrf_score
  FROM bm FULL JOIN vr USING (query_id, doc_id)
)
SELECT query_id, doc_id, rrf_score, rank FROM (
  SELECT query_id, doc_id, rrf_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, doc_id) AS INTEGER)
           AS rank
  FROM fused
) WHERE rank <= {_RRF_TOPK}"""

_HYBRID_ORACLE = rf"""
WITH {_BM25_CORE_CTES},
{_RRF_BM_CTE},
qv(query_id, qvid) AS (VALUES {_RRF_QVEC_VALUES}),
qvec AS (
  SELECT qv.query_id, e.embedding AS qvec
  FROM qv JOIN embeddings e ON e.vec_id = qv.qvid
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
pairs AS (
  SELECT qvec.query_id, qvec.qvec, e.vec_id AS match_id, e.embedding AS cvec
  FROM embeddings e CROSS JOIN qvec
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
vr AS (
  SELECT query_id, match_id AS doc_id, rank_v FROM (
    SELECT query_id, match_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_COS} DESC, match_id) AS rank_v
    FROM pairs) WHERE rank_v <= {_RRF_CAND_K}
),
{_RRF_FUSE_SQL}
"""


@query("text_hybrid_rrf_search", _HYBRID_ORACLE)
def text_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 and cosine semantic top-20 per
    query, fused by reciprocal-rank fusion (score = Σ 1/(60 + rank)) — the
    standard lexical+vector blend behind modern RAG search. RRF is pure
    rational arithmetic over integer ranks with an explicit two-term
    addition, so the whole pipeline stays oracle bit-exact.

    100 TB shape: the two candidate generators are the scale paths already
    measured (BM25's query-term-filtered token stream; ANN for the vector
    side — brute-force here only because the fixture corpus is small); the
    fusion join touches ≤ 2k candidate rows per query regardless of corpus
    size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = T.bm25_topk(
        docs, "text", "doc_id", _BM25_QUERIES,
        top_k=_RRF_CAND_K, k1=_BM25_K1, b=_BM25_B,
    ).select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    qmap = lit_frame(spark, _RRF_QVEC, "qid string, qvid long")
    qv = qmap.join(emb, qmap.qvid == emb.vec_id).select(
        F.col("qid").alias("vec_id"), "embedding"
    )
    vr = S.cosine_topk(
        qv, emb, "vec_id", "embedding", k=_RRF_CAND_K, exclude_self=False, dim=_DIM
    ).select(
        "query_id",
        F.col("match_id").alias("doc_id"),
        F.col("rank").alias("rank_v"),
    )
    return _rrf_fused(bm, vr)


def _rrf_fused(bm: DataFrame, vr: DataFrame) -> DataFrame:
    """RRF fusion tail shared by both hybrid queries (one definition — the
    ``_topk`` lesson): full-join the (query_id, doc_id, rank_b) and
    (query_id, doc_id, rank_v) candidate lists, score Σ 1/(K + rank) with
    an explicit two-term addition, rank by (score DESC, doc_id)."""
    fused = bm.join(vr, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_b").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_v").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _RRF_TOPK)
    )


# ----------------------------------------------------------------------------
# dedup: EXACT set-similarity join via prefix filtering (PPJoin-style)
# ----------------------------------------------------------------------------

# The oracle is the quadratic brute force itself — prefix filtering is
# lossless, so the subquadratic plan must reproduce it row for row.
_PREFIX_TAU = 0.7

_PREFIX_ORACLE = f"""
WITH {_HS_CTE}
{_sql_brute_pairs(_PREFIX_TAU)}
"""


@query("dedup_prefix_filter_pairs", _PREFIX_ORACLE)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs with guaranteed recall: prefix filtering
    (rarest-first global token order, index |x|-ceil(t|x|)+1 tokens,
    equi-join candidates, exact-Jaccard verify). Same answer as the
    quadratic baseline — the oracle IS the brute force — via a subquadratic
    inverted-index plan; the lossless counterpart to MinHash-LSH. See
    operators/dedup.prefix_filter_pairs for the 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_pairs(
        docs, "text", "doc_id", threshold=_PREFIX_TAU, k=_K
    )


# ----------------------------------------------------------------------------
# dedup: exact-substring span dedup (Lee et al. 2022) + edit-distance near-dup
# ----------------------------------------------------------------------------

_SPAN_K = 5

_SPAN_GRAM_HASH = sql_hash_raw60(_sql_gram(_SPAN_K))

_DUP_SPANS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
g0 AS (
  SELECT doc_id,
         [{_SPAN_GRAM_HASH} for i in generate_series(1, len(w) - {_SPAN_K - 1})] AS ghs
  FROM t WHERE len(w) >= {_SPAN_K}
),
g AS (
  SELECT doc_id, unnest(generate_series(1, len(ghs))) AS pos, unnest(ghs) AS gh
  FROM g0
),
c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gh)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        + {_SPAN_K} THEN 1 ELSE 0 END AS f
  FROM d
),
isl AS (
  SELECT doc_id, pos,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island
  FROM fl
)
SELECT doc_id,
       CAST(MIN(pos) AS INTEGER) AS span_start,
       CAST(MAX(pos) + {_SPAN_K - 1} AS INTEGER) AS span_end,
       CAST(MAX(pos) + {_SPAN_K - 1} - MIN(pos) + 1 AS INTEGER) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


@query("text_duplicate_spans", _DUP_SPANS_ORACLE)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup at {k}-token resolution (Lee et al. 2022):
    every maximal token span occurring 2+ times in the corpus — intra- or
    inter-document (a 400x-repeated token collapses to ONE whole-doc span;
    a license header shared by two docs surfaces in both). The distributed
    shape (gram-hash inventory -> count filter -> per-doc island merge)
    replaces the paper's sequential suffix array; see
    operators/dedup.duplicate_token_spans for the shuffle budget."""
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_token_spans(docs, "doc_id", "text", k=_SPAN_K, min_count=2)


_DUP_FRAC_ORACLE = rf"""
WITH spans AS ({_DUP_SPANS_ORACLE.strip()}),
dup AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL
              THEN CAST(LEN(string_split_regex(trim(text, ' '), '\s+')) AS INTEGER)
         END AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CASE WHEN b.n_tokens IS NOT NULL
            THEN CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE)
                 / CAST(b.n_tokens AS DOUBLE)
       END AS dup_fraction
FROM base b LEFT JOIN dup d USING (doc_id)
"""


@query("text_duplication_fraction", _DUP_FRAC_ORACLE)
def text_duplication_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token fraction — the FILTER signal
    Lee et al. 2022 actually act on: the maximal duplicate spans from
    text_duplicate_spans summed per document over its token count (spans
    are disjoint after the island merge, so the sum is the exact duplicated
    token count). A pipeline drops or trims documents above a threshold;
    no-content docs carry NULL n_tokens / NULL fraction (package
    convention). Same three linear shuffles as the span operator plus one
    per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    spans = D.duplicate_token_spans(docs, "doc_id", "text", k=_SPAN_K, min_count=2)
    dup = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("bigint").alias("dup_tokens")
    )
    t = F.col("text")
    base = docs.select(
        "doc_id",
        F.when(t.isNotNull(), F.size(T.ws_tokens(t))).cast("int").alias("n_tokens"),
    )
    return base.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.when(
            F.col("n_tokens").isNotNull(),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
        ).alias("dup_fraction"),
    )


_ED_DIST, _ED_HEAD, _ED_BLOCK, _ED_MAX_DF = 7, 48, 8, 32

_ED_BLOCK_LIST = ", ".join(
    f"substr(h, {i * _ED_BLOCK + 1}, {_ED_BLOCK})"
    for i in range(_ED_HEAD // _ED_BLOCK)
)


def _sql_ed_cands(h: str) -> str:
    """PassJoin CTEs of edit_distance_near_dup_pairs: ``d`` holds each
    ASCII document's verify text ``h`` (an expression over ``text``) and its
    length; ``cand`` the pairs sharing a df-capped block of its first
    _ED_HEAD chars. ``_ED_VERIFY`` is the matching verify select."""
    return f"""d AS (
  SELECT doc_id, {h} AS h, length({h}) AS l
  FROM documents
  WHERE text IS NOT NULL AND strlen(text) = length(text)
),
blk0 AS (
  SELECT doc_id,
         unnest(generate_series(0, {_ED_HEAD // _ED_BLOCK - 1})) AS bi,
         unnest([{_ED_BLOCK_LIST}]) AS blk
  FROM d
),
blk1 AS (SELECT * FROM blk0 WHERE blk <> ''),
bc AS (
  SELECT bi, blk FROM blk1 GROUP BY bi, blk HAVING COUNT(*) <= {_ED_MAX_DF}
),
blk AS (SELECT b.* FROM blk1 b JOIN bc USING (bi, blk)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
  FROM blk a JOIN blk x
    ON a.bi = x.bi AND a.blk = x.blk AND a.doc_id < x.doc_id
)"""


_ED_VERIFY = f"""SELECT c.id_a, c.id_b, CAST(levenshtein(da.h, dx.h) AS INTEGER) AS dist
FROM cand c
JOIN d da ON da.doc_id = c.id_a
JOIN d dx ON dx.doc_id = c.id_b
WHERE abs(da.l - dx.l) <= {_ED_DIST} AND levenshtein(da.h, dx.h) <= {_ED_DIST}"""

_ED_HEAD_TEXT = f"substr(trim(text, ' '), 1, {_ED_HEAD})"

_EDIT_DIST_ORACLE = f"""
WITH {_sql_ed_cands(_ED_HEAD_TEXT)}
{_ED_VERIFY}
"""

_EDIT_DIST_FULL_ORACLE = f"""
WITH {_sql_ed_cands("trim(text, ' ')")}
{_ED_VERIFY}
"""


def _ed_pairs(docs: DataFrame, full_text: bool = False) -> DataFrame:
    return D.edit_distance_near_dup_pairs(
        docs, "doc_id", "text", max_dist=_ED_DIST, head_len=_ED_HEAD,
        block_w=_ED_BLOCK, max_df=_ED_MAX_DF, full_text=full_text,
    )


@query("dedup_edit_distance_full", _EDIT_DIST_FULL_ORACLE)
def dedup_edit_distance_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text edit-distance near-dup pairs (the full-text mode of
    dedup_edit_distance_pairs): the 48-char head stays the
    PassJoin blocking key, but candidates are verified with Levenshtein
    over the FULL trimmed document — PassJoin's filter-verify split (Li et
    al. 2011). Two bounds keep verification linear-ish: the exact
    full-length |len diff| <= {dist} prefilter, and Spark's THRESHOLDED
    levenshtein (banded DP, O(max_dist*len), -1 past the threshold — the
    emitted distance is exact for every surviving pair, matching the
    oracle's plain levenshtein filter). Same ASCII contract and max_df
    block-frequency cap as the head query; the oracle reproduces the
    identical head banding, so the result is bit-deterministic. The head
    query remains the product default for title/boilerplate near-dup
    (SCALE.md records the mode-choice note and the measured 10x replica
    point for this mode)."""
    return _ed_pairs(load_table(spark, sf_dir, "documents"), full_text=True)


_EDIT_CC_ORACLE = f"""
WITH RECURSIVE {_sql_ed_cands(_ED_HEAD_TEXT)},
p AS ({_ED_VERIFY}),
{_sql_components("d")}
{_CC}
"""


@query("dedup_edit_distance_clusters", _EDIT_CC_ORACLE)
def dedup_edit_distance_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level dedup GROUPS: the PassJoin-banded edit-distance
    pair graph collapsed to connected components — near-identical heads
    chained through intermediate variants land in ONE cluster (A~B, B~C
    groups A,B,C even when A-C exceeds max_dist alone), which is what the
    keep-one policy needs and what a pair list cannot express. Same
    machinery as dedup_cluster_components (edge-incident min-label
    propagation, O(diameter) rounds); node set = the ASCII-contract
    documents the pair stage scans, so singletons label themselves and
    excluded (non-ASCII / NULL) docs are absent on BOTH sides."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ed_pairs(docs).select("id_a", "id_b")
    nodes = docs.where(D.ed_ascii_contract("text")).select("doc_id")
    return D.connected_components(pairs, nodes, "doc_id")


@query("dedup_edit_distance_pairs", _EDIT_DIST_ORACLE)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-duplicate pairs: Levenshtein <= {dist} over the
    48-char document head. Candidates via PassJoin-style fixed-position
    BLOCK banding — one equi-join on (block_index, 8-char block content),
    the MinHash-LSH plan family; length buckets would degenerate to
    all-pairs (measured on the 10x replica) because truncated heads all
    share one length. Pigeonhole:
    substitution-only pairs touching <=5 of the 6 blocks share >=1 —
    guaranteed candidates; indel recall approximate but the banding is
    reproduced EXACTLY by this oracle, so the result is bit-deterministic
    (the LSH precedent). ASCII-only on BOTH sides by contract: Spark's
    levenshtein counts codepoints, DuckDB's counts bytes (measured
    divergent on every non-ASCII string — pinned in
    tests/test_tokenizer_parity.py), so the cross-engine check runs on the
    byte==codepoint subset and the codepoint path is asserted in pytest.
    Block values hotter than max_df={df} docs are dropped from banding on
    both sides (the containment stop-shingle precedent — measured 416k
    candidates from 5k docs without it on the low-entropy fixture
    vocabulary; corpus-hot blocks identify the language, not the
    document)."""
    return _ed_pairs(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------------
# dedup: TRAINED SemDeDup — the pinned-codebook SemDeDup
# composed with the deterministic k-means trainer: centroids are no longer
# pinned embedding rows but a kmeans_lloyd_centroids product, K ∝ corpus,
# and the whole train→cluster→prune loop is recomputed bit-for-bit by the
# oracle (the trained-quantizer pattern applied to semantic dedup).
# ----------------------------------------------------------------------------

_SEMT_COSC = _sql_cos("e.embedding", "t.cvec")

_SEMDEDUP_TRAINED_ORACLE = f"""
WITH semtn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
semtk AS (SELECT GREATEST({_SEM_K}, (4 * n) // 500) AS k FROM semtn),
{_sql_km_c1("st", _SEM_SEED_LO, 0, "embedding", _DIM, _KM_SCALE,
            k_sql="(SELECT k FROM semtk)")},
sc AS (
  SELECT e.vec_id, e.embedding, t.cell AS cell_id, {_SEMT_COSC} AS cosc
  FROM embeddings e CROSS JOIN stc1 t
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
asg AS (
  SELECT vec_id, embedding, cell_id, cosc FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cell_id) AS rk
    FROM sc
  ) WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS ia, a.cosc AS ca, b.vec_id AS ib, b.cosc AS cb,
         {_SEM_COSP} AS cp
  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
rm AS (
  SELECT DISTINCT CASE WHEN ca < cb THEN ia ELSE ib END AS vec_id
  FROM pairs WHERE cp > {_SEM_TAU}
)
SELECT g.vec_id, g.cell_id, g.cosc AS cos_centroid,
       (r.vec_id IS NOT NULL) AS is_removed
FROM asg g LEFT JOIN rm r USING (vec_id)
"""


@query("dedup_semantic_semdedup_trained", _SEMDEDUP_TRAINED_ORACLE)
def dedup_semantic_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED codebook: the cluster centroids are k-means products
    (kmeans_lloyd_centroids over the corpus, initialized from the same
    seed-row scheme as the pinned sibling, K = max({k}, 4n/500) GROWING
    WITH THE CORPUS per the paper's ~125-vectors-per-cell design), then the
    proven within-cell pruning runs over the trained cells: assign every
    vector to its max-cosine trained centroid and remove the
    centroid-farther member of every cosine>τ pair. The oracle recomputes
    K from COUNT(*), re-runs the identical fixed-point training (the
    `_sql_km_c1` machinery with a scalar-subquery K), and mirrors the
    pruning — bit-exact through the iterative training, the
    sim_ivf_trained_recall_at_k contract.

    Scale shape: training is the kmeans_lloyd_centroids budget (one
    broadcast + three linear shuffles per iteration; K ∝ n keeps cells
    ~constant-sized so the quadratic stage stays linear in n — SCALE.md's
    measured design). UNLIKE the trained-IVF search path the codebook is
    NOT collected to a literal: K grows with the corpus, so the trained
    (cell_id, cvec) frame flows into semdedup AS A DATAFRAME and is
    broadcast by the join planner — a 50k×d codebook is a few MB, the
    paper's own LAION shape. Degenerate all-seeds-invalid corpora: the
    trained frame is empty, the broadcast cross join emits nothing, and
    both engines return the empty frame (pinned in pytest, the
    trained-trio degenerate class)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(_SEM_K, (4 * n) // 500)
    seeds = emb.filter(
        (F.col("vec_id") >= _SEM_SEED_LO) & (F.col("vec_id") < _SEM_SEED_LO + k)
    ).select(
        (F.col("vec_id") - _SEM_SEED_LO).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    trained = S.kmeans_lloyd_centroids(
        emb, "vec_id", "embedding", seeds,
        iters=_KM_ITERS, scale=_KM_SCALE, dim=_DIM,
    )
    return S.semdedup(
        emb, "vec_id", "embedding", trained, threshold=_SEM_TAU, dim=_DIM
    )


dedup_semantic_semdedup_trained.__doc__ = (
    dedup_semantic_semdedup_trained.__doc__.format(k=_SEM_K)
)


# ----------------------------------------------------------------------------
# text+vector: hybrid RRF with the TRAINED IVF-PQ vector arm — the
# production retrieval shape: the semantic candidates come from the trained
# approximate index (ivfpq_adc_topk over k-means-trained coarse quantizer +
# per-subspace PQ codebooks), not brute force, fused with BM25 by the same
# reciprocal-rank arithmetic.
# ----------------------------------------------------------------------------

_HYBRID_TRAINED_ORACLE = rf"""
WITH {_BM25_CORE_CTES},
{_RRF_BM_CTE},
{_TIVF_C1},
{_TPQ_CODES},
{_TIVF_ASSIGN},
qv(query_id, qvid) AS (VALUES {_RRF_QVEC_VALUES}),
hq AS (
  SELECT qv.query_id, e.embedding AS qvec
  FROM qv JOIN embeddings e ON e.vec_id = qv.qvid
  WHERE {_VALID.replace("embedding", "e.embedding")}
),
qd AS (
  SELECT hq.query_id, t.cell AS cell_id, {_sql_l2('hq.qvec', 't.cvec')} AS d2
  FROM hq CROSS JOIN tc1 t
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT query_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cell_id) AS rn
    FROM qd) WHERE rn <= {_IVF_PROBE}
),
{_IVFPQ_CAND_CTE},
adc AS (
  SELECT q.query_id, c.vec_id AS match_id, {_TPQ_ADC_SUM} AS approx_d2
  FROM cand c
  JOIN probes p ON c.cell_id = p.cell_id
  JOIN hq q ON q.query_id = p.query_id
  {_TPQ_CB_JOINS}
),
vr AS (
  SELECT query_id, match_id AS doc_id, rank_v FROM (
    SELECT query_id, match_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2, match_id) AS rank_v
    FROM adc) WHERE rank_v <= {_RRF_CAND_K}
),
{_RRF_FUSE_SQL}
"""


@query("text_hybrid_rrf_trained", _HYBRID_TRAINED_ORACLE)
def text_hybrid_rrf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval over the PRODUCTION ANN index: the
    lexical arm is the proven BM25 top-{ck}; the semantic arm is the
    TRAINED IVF-PQ index — k-means-trained coarse quantizer, per-subspace
    k-means PQ codebooks, {p}-cell probing, codes-only ADC ranking
    (ivfpq_adc_topk over the trained quantizers) — so the fused list
    exercises what a deployed RAG stack actually serves, not brute force.
    RRF stays pure rational arithmetic over integer ranks, and the
    training is bit-identical cross-engine (the fixed-point grid), so the
    whole pipeline remains oracle hash-exact.

    Scale shape: both arms are the measured scale paths (BM25's
    query-term-filtered token stream; train-once + codes-only probe scan
    for the index — at 100 TB the training runs on an ingest sample and
    the codebook literals broadcast); the fusion full-join touches ≤ 2k
    candidate rows per query regardless of corpus size. Degenerate
    all-seeds-invalid corpora: nothing trains, the vector arm is EMPTY,
    and the fused list degrades to BM25-only on both engines (rank_v NULL
    → its RRF term coalesces to 0 — pinned in pytest alongside the
    trained-trio degenerate class)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    # the BM25 lexical arm is training-independent; runtime.concurrently
    # overlaps its checkpoint with the two driver-bound training collects
    bm, cent, codebooks = concurrently(
        lambda: T.bm25_topk(
            docs, "text", "doc_id", _BM25_QUERIES,
            top_k=_RRF_CAND_K, k1=_BM25_K1, b=_BM25_B,
        )
        .select("query_id", "doc_id", F.col("rank").alias("rank_b"))
        .localCheckpoint(eager=True),
        lambda: _trained_ivf_centroids(emb),
        lambda: _trained_pq_codebooks(emb),
    )
    if not cent or not codebooks[0]:
        vr = lit_frame(spark, [], "query_id string, doc_id bigint, rank_v int")
    else:
        qmap = lit_frame(spark, _RRF_QVEC, "qid string, qvid long")
        qv = qmap.join(emb, qmap.qvid == emb.vec_id).select(
            F.col("qid").alias("vec_id"), "embedding"
        )
        vr = S.ivfpq_adc_topk(
            qv, emb, "vec_id", "embedding", cent, codebooks,
            k=_RRF_CAND_K, n_probe=_IVF_PROBE, exclude_self=False,
        ).select(
            "query_id",
            F.col("match_id").alias("doc_id"),
            F.col("rank").alias("rank_v"),
        )
    return _rrf_fused(bm, vr)


text_hybrid_rrf_trained.__doc__ = text_hybrid_rrf_trained.__doc__.format(
    ck=_RRF_CAND_K, p=_IVF_PROBE
)


# ----------------------------------------------------------------------------
# trained RESIDUAL IVF-PQ — FAISS IndexIVFPQ's actual default
# (by_residual=True): the PQ codebooks are trained on x - c(assign(x)) and
# the codes compress the residual, so one shared codebook describes every
# cell's local neighborhood, oracle-exact end to end.
# ----------------------------------------------------------------------------


def _trained_residual_pq_codebooks(
    emb: DataFrame, cent: list[list[float]]
) -> list[list[list[float]]]:
    """Train the m per-subspace PQ codebooks ON RESIDUALS against the
    trained coarse quantizer (FAISS ``by_residual`` training), as one
    grouped k-means pass (`_train_pq_subspaces` over the residual frame).
    Seed admission is PER-SLICE (the `_km_frames` validity/domain
    contract on each residual subvector) — deliberately
    unlike the raw sibling's uniform full-embedding rule, because a clean
    embedding does NOT imply a domain-clean residual (|x|,|c| < D only
    bounds |x-c| < 2D); the oracle applies the identical per-slice
    predicate, so admission stays bit-symmetric."""
    # MATERIALIZE the residual frame before the 2m subspace slices fan out
    # of it: left as a plan, every slice re-embeds the rvec expression with
    # its k·dim inlined centroid array, the grouped trainer's unions and
    # iteration re-analyze those trees per rule, and Catalyst planning
    # dominated the training (measured 38s vs the raw sibling's 6s at
    # sf0.1). The frame is n·dim doubles — the same footprint every other
    # checkpointed index side carries; blocks are released right after the
    # codebook collect below.
    res = S.residual_vectors(emb, "vec_id", "embedding", cent).localCheckpoint(
        eager=True
    )
    seed_res = res.filter(
        (F.col("vec_id") >= _PQ_SEED_LO)
        & (F.col("vec_id") < _PQ_SEED_LO + _PQ_KSUB)
    )
    codebooks = _train_pq_subspaces(res, seed_res, "rvec")
    # the trained codebooks are now plain Python literals; the residual
    # blocks have no further reader — release them deterministically
    # (runtime.py) instead of waiting for harness-level hygiene
    release_local_checkpoint(res)
    return codebooks


_RES_CTE = f"""res AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(generate_series(1, {_DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) - t.cvec[i]) AS rvec
  FROM assign a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN tc1 t ON t.cell = a.cell_id
)"""

_RPQ_TRAIN_CTES = ",\n".join(
    _sql_km_c1(
        f"rp{j}_", _PQ_SEED_LO, _PQ_KSUB,
        f"list_slice(rvec, {j * _PQ_DSUB + 1}, {(j + 1) * _PQ_DSUB})",
        _PQ_DSUB, _KM_SCALE, src="res",
    )
    for j in range(_PQ_M)
)

_RPQ_CODES = _sql_pq_codes("rcodes AS MATERIALIZED", "rtd", "rtk", lambda j: (
    f"SELECT r.vec_id, t.cell AS code, {_sql_sub_l2_t('r.rvec', 't.cvec', j)} AS d2"
    f"\n  FROM res r CROSS JOIN rp{j}_c1 t"
))

_RPQ_CB_JOINS = "\n  ".join(
    f"JOIN rp{j}_c1 s{j} ON s{j}.cell = c.k{j}" for j in range(_PQ_M)
)


def _sql_radc_term(j: int) -> str:
    """One subspace's ADC term: the QUERY residual against the probed
    cell's centroid, distanced to candidate code ``j``'s centroid — the
    per-(query, cell) lookup table FAISS precomputes, as one fold."""
    o = j * _PQ_DSUB
    return _sql_sqfold(
        f"((CAST(q.qvec[{o} + i] AS DOUBLE) - tq.cvec[{o} + i])"
        f" - CAST(s{j}.cvec[i] AS DOUBLE))",
        1,
        _PQ_DSUB,
    )


_RADC_SUM = " + ".join(_sql_radc_term(j) for j in range(_PQ_M))

# d/assign/res/rcodes are MATERIALIZED: DuckDB inlines plain CTEs per
# reference, and this oracle references the assignment chain from ~12 sites
# (m trainings x 2 + m encodes + the ADC) - measured 45 GB of spill at the
# 30x replica before materialization pinned each to one evaluation.
# Planner-only hint; results are identical.
_IVFPQ_RESIDUAL_ORACLE = f"""
WITH {_TIVF_C1},
{_sql_ivf_assign("t.cell AS cell_id", "t.cvec", "tc1 t", "MATERIALIZED ")},
{_RES_CTE},
{_RPQ_TRAIN_CTES},
{_RPQ_CODES},
{_PROBES_CTE},
{_Q_CTE},
rcand AS (
  SELECT a.vec_id, a.cell_id, {_PQ_CODE_COLS}
  FROM assign a JOIN rcodes USING (vec_id)
),
radc AS (
  SELECT q.query_id, c.vec_id AS match_id, {_RADC_SUM} AS approx_d2
  FROM rcand c
  JOIN probes p ON c.cell_id = p.cell_id
  JOIN q ON q.query_id = p.query_id
  JOIN tc1 tq ON tq.cell = p.cell_id
  {_RPQ_CB_JOINS}
  WHERE c.vec_id <> q.query_id
),
{_sql_l2_recall("rivfpq", "radc")}
"""


@query("sim_ivfpq_residual_recall_at_k", _IVFPQ_RESIDUAL_ORACLE)
def sim_ivfpq_residual_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS ``IndexIVFPQ`` with RESIDUAL encoding, fully trained and
    oracle-exact: coarse cells are k-means-trained, the m PQ
    codebooks are k-means-trained ON THE RESIDUALS x − c(assign(x))
    (``by_residual=True``, the FAISS default), and the search probes the trained
    cells ranking candidates by per-(query, probed-cell) residual ADC
    tables (operators/similarity.ivfpq_residual_adc_topk). Recall@10 vs
    exact-L2 ground truth as integer hit counts.

    Exactness: the residual is an element-wise IEEE subtraction (no fold,
    no ordering), so every downstream stage — residual k-means on the
    int64 fixed-point grid, code argmin, ADC sums — rides the proven
    bit-identical machinery unchanged. Degenerate all-seeds-invalid
    corpora: nothing trains (coarse empty ⇒ res empty; PQ seeds invalid ⇒
    rcodes inner-join empty), and BOTH engines emit the truth rows with
    zero hits — the truth CTE is training-independent, the trained-PQ
    sibling's reasoning.

    Scale shape: identical to the raw trained sibling plus one ingest-time
    element-wise map (the residual); the query side broadcasts
    n_probe·m·ksub table doubles per query instead of m·ksub — FAISS's own
    precomputed-tables trade, still KBs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = S.valid_vectors(emb.filter(F.col("vec_id") < 10), "embedding", _DIM)

    def _train() -> tuple[list, list]:
        cent = _trained_ivf_centroids(emb)
        return cent, (_trained_residual_pq_codebooks(emb, cent) if cent else [])

    # the exact-truth arm is training-independent; runtime.concurrently
    # overlaps its checkpoint with the driver-bound coarse + residual-PQ
    # training chain
    truth, (cent, codebooks) = concurrently(
        lambda: _l2_truth_top10(queries_df, emb).localCheckpoint(eager=True),
        _train,
    )
    if not cent or not all(codebooks):
        # any empty training empties the oracle's rcodes/radc chain (inner
        # joins), but its truth CTE is training-independent: truth rows,
        # zero hits
        no_hits = lit_frame(spark, [], "query_id bigint, __r_match bigint")
        return _recall_hits(truth, no_hits, "__r_match", "rivfpq")
    approx = S.ivfpq_residual_adc_topk(
        queries_df, emb, "vec_id", "embedding", cent, codebooks,
        k=10, n_probe=_IVF_PROBE,
    ).select("query_id", F.col("match_id").alias("__r_match"))
    return _recall_hits(truth, approx, "__r_match", "rivfpq")


# ----------------------------------------------------------------------------
# text: CCNet-style per-language perplexity bucketing — split
# every language's corpus into head/middle/tail thirds by the (log-free)
# LM fluency signal, the Wenzek et al. 2020 curation move that LLaMA's
# CommonCrawl pipeline reused. Bucketing is rank arithmetic over an
# already-exact score, so the whole query stays oracle hash-exact.
# ----------------------------------------------------------------------------

_CCNET_ORACLE = rf"""
WITH {_BIGRAM_CORE_CTES},
fl AS (
  SELECT d.doc_id, d.lang,
         COALESCE(CAST(s2 AS DOUBLE) / CAST(s1 AS DOUBLE), 0.0) AS fluency
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
)
SELECT doc_id, lang, fluency,
       CASE NTILE(3) OVER (PARTITION BY lang ORDER BY fluency DESC, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM fl
"""


@query("text_ccnet_perplexity_buckets", _CCNET_ORACLE)
def text_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020): per LANGUAGE,
    rank every document by LM quality and cut the corpus into thirds —
    head = most in-distribution (lowest perplexity), tail = noisiest; the
    downstream pipeline keeps head+middle. The perplexity stand-in is the
    corpus bigram-LM fluency signal (text_bigram_fluency's exact rational
    s2/s1 — ln/KenLM perplexities are NOT correctly-rounded cross-engine,
    ranks of an exact monotone surrogate are), and the split is
    NTILE(3) over (fluency DESC, doc_id) — pure rank arithmetic, so the
    bucket labels are bit-deterministic in both engines.

    100 TB shape: the LM is the bigram_fluency budget (two corpus-keyed
    aggregations + one join back — at scale the model tables are computed
    once and reused); the bucketing adds ONE lang-keyed window whose
    partition count equals the language count, the same shuffle family as
    sample_language_mixture. No new quadratic anywhere; docs with no
    bigrams score 0.0 and sink into the tail deterministically."""
    docs = load_table(spark, sf_dir, "documents")
    fl = T.bigram_fluency(
        docs.select("doc_id", "text"), "text", "doc_id", rare_max_count=1
    ).select("doc_id", "fluency")
    j = fl.join(docs.select("doc_id", "lang"), "doc_id")
    w = W.partitionBy("lang").orderBy(F.desc("fluency"), F.col("doc_id"))
    return j.select(
        "doc_id",
        "lang",
        "fluency",
        F.when(F.ntile(3).over(w) == 1, F.lit("head"))
        .when(F.ntile(3).over(w) == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ----------------------------------------------------------------------------
# evaluation: k-NN label vote — the standard embedding-quality
# probe: if an embedding space is good, a vector's exact nearest neighbors
# share its label. Majority vote over the exact cosine top-k, reported per
# query with the prediction and correctness — the eval a pipeline runs
# after training/ingesting a new embedding model, before trusting ANN
# indexes built on it.
# ----------------------------------------------------------------------------

_KNN_K, _KNN_NQ = 10, 50

_KNN_VOTE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec, label AS true_label
  FROM embeddings WHERE vec_id < {_KNN_NQ} AND {_VALID}
),
nn AS (
  SELECT query_id, match_id, mlabel FROM (
    SELECT q.query_id, e.vec_id AS match_id, e.label AS mlabel,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('e.embedding', 'q.qvec')} DESC,
                                       e.vec_id) AS rank
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id AND {_VALID.replace("embedding", "e.embedding")}
  ) WHERE rank <= {_KNN_K}
),
votes AS (
  SELECT query_id, mlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM nn GROUP BY query_id, mlabel
),
pred AS (
  SELECT query_id, label AS pred_label, n_votes FROM (
    SELECT query_id, label, n_votes,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, label) AS rk
    FROM votes) WHERE rk = 1
)
SELECT q.query_id, q.true_label, p.pred_label, p.n_votes,
       (p.pred_label = q.true_label) AS correct
FROM q JOIN pred p ON p.query_id = q.query_id
"""


@query("sim_knn_label_vote", _KNN_VOTE_ORACLE)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label vote over the exact cosine top-{k}: per query vector, the
    majority label among its {k} nearest neighbors (ties to the smallest
    label — the deterministic argmax-as-max(struct) rule), the true label,
    and whether they agree. Vote counts are integers and the neighbor set
    comes from the proven exact cosine ranking, so the whole eval is
    oracle hash-exact.

    100 TB shape: the neighbor stage is the cosine_topk scale path (ANN
    replaces brute force at scale — swapping in ivf/ivfpq_topk composes
    unchanged because the vote only consumes (query_id, neighbor label));
    the vote is a (query, label)-keyed count whose partials combine
    map-side, then a per-query argmax over ≤ k rows. Queries broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.valid_vectors(
        emb.filter(F.col("vec_id") < _KNN_NQ), "embedding", _DIM
    ).select("vec_id", "embedding", F.col("label").alias("true_label"))
    nn = S.cosine_topk(
        q.select("vec_id", "embedding"), emb, "vec_id", "embedding",
        k=_KNN_K, dim=_DIM,
    ).select("query_id", "match_id")
    votes = (
        nn.join(
            emb.select(
                F.col("vec_id").alias("match_id"), F.col("label").alias("mlabel")
            ),
            "match_id",
        )
        .groupBy("query_id", "mlabel")
        .agg(F.count("*").alias("n_votes"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_votes").alias("n"),
                    (-F.col("mlabel")).alias("neg"),
                    F.col("mlabel").alias("label"),
                )
            ).alias("__b")
        )
        .select(
            "query_id",
            F.col("__b.label").alias("pred_label"),
            F.col("__b.n").alias("n_votes"),
        )
    )
    return (
        q.select(F.col("vec_id").alias("query_id"), "true_label")
        .join(pred, "query_id")
        .select(
            "query_id", "true_label", "pred_label", "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


sim_knn_label_vote.__doc__ = sim_knn_label_vote.__doc__.format(k=_KNN_K)


# ----------------------------------------------------------------------------
# text: Gopher structural quality rules — the MassiveText
# document-level gate (Rae et al. 2021, Table A1). The repetition half
# already ships as text_repetition_features; this adds the structural
# rules + per-rule flags + the conjunction, all exact-integer arithmetic.
# ----------------------------------------------------------------------------

_GOPHER_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_GOPHER_SW_SQL = ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS)

_GOPHER_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text, ' '), '\s+'),
                     w -> w <> '') AS w,
         LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)),
                                    l -> TRIM(l, ' ')), l -> l <> '') AS nl
  FROM documents
),
feat AS (
  SELECT doc_id,
    CAST(LEN(w) AS INTEGER) AS n_words,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(COALESCE(list_aggregate(list_transform(w, x -> LENGTH(x)), 'sum'),
                    0) AS DOUBLE)
      / CAST(GREATEST(COALESCE(LEN(w), 0), 1) AS DOUBLE) END
      AS mean_word_length,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
           + CAST(((LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
                   + (LENGTH(text) - LENGTH(REPLACE(text, '…', ''))))
                  AS BIGINT) AS DOUBLE)
      / CAST(GREATEST(COALESCE(LEN(w), 0), 1) AS DOUBLE) END
      AS symbol_word_ratio,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(LEN(LIST_FILTER(nl, l -> starts_with(l, '-')
                                OR starts_with(l, '*')
                                OR starts_with(l, '•'))) AS DOUBLE)
      / CAST(GREATEST(LEN(nl), 1) AS DOUBLE) END AS bullet_line_frac,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(LEN(LIST_FILTER(nl, l -> ends_with(l, '...')
                                OR ends_with(l, '…'))) AS DOUBLE)
      / CAST(GREATEST(LEN(nl), 1) AS DOUBLE) END AS ellipsis_line_frac,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(LEN(LIST_FILTER(w,
             x -> LENGTH(TRANSLATE(x, '{_GOPHER_LETTERS}', '')) < LENGTH(x)))
           AS DOUBLE)
      / CAST(GREATEST(COALESCE(LEN(w), 0), 1) AS DOUBLE) END
      AS alpha_word_frac,
    CASE WHEN text IS NULL THEN NULL ELSE
      CAST(LEN(LIST_FILTER([{_GOPHER_SW_SQL}],
                           s -> LIST_CONTAINS(w, s))) AS INTEGER) END
      AS n_gopher_stopwords
  FROM base
)
SELECT doc_id, n_words, mean_word_length, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       n_gopher_stopwords,
       (n_words >= 50 AND n_words <= 100000) AS flag_word_count,
       (mean_word_length >= 3.0 AND mean_word_length <= 10.0)
         AS flag_mean_word_length,
       (symbol_word_ratio <= 0.1) AS flag_symbol_ratio,
       (bullet_line_frac <= 0.9) AS flag_bullet_lines,
       (ellipsis_line_frac <= 0.3) AS flag_ellipsis_lines,
       (alpha_word_frac >= 0.8) AS flag_alpha_words,
       (n_gopher_stopwords >= 2) AS flag_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_length >= 3.0 AND mean_word_length <= 10.0)
        AND (symbol_word_ratio <= 0.1)
        AND (bullet_line_frac <= 0.9)
        AND (ellipsis_line_frac <= 0.3)
        AND (alpha_word_frac >= 0.8)
        AND (n_gopher_stopwords >= 2)) AS pass_gopher
FROM feat
"""


@query("text_gopher_quality_flags", _GOPHER_ORACLE)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText structural quality gate (Rae et al. 2021) — see
    operators/text.gopher_quality_flags for the rules, the exactness
    contract and the 100 TB (pure map stage) shape."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.gopher_quality_flags(docs, "text", "doc_id")
