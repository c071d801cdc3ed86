"""Model-evaluation operators for the training-data pipeline: once a quality
classifier (or any per-document scorer) runs over the corpus, the pipeline
needs to know whether the scores actually SEPARATE good from bad before the
filter threshold is committed — at corpus scale, not on a sampled sidecar.

Reference parity note: the reference engine (crystpqdb) has no evaluation
surface; these are part of the LLM-data-pipeline extension the build brief
asks for, alongside dedup/similarity/text (same status as operators/dedup.py
and operators/similarity.py).

Exactness contract (package-wide): every cross-row reduction is computed on
integers (counts, rank sums doubled to clear the .5 tie term) so it is exact
and order-independent in both engines; the only double arithmetic is the
final division, with the identical expression shape on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crystal_parquet_database_spark.operators.prefix import exclusive_prefix


def binary_classifier_eval(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    k: int = 100,
) -> DataFrame:
    """Exact corpus-scale evaluation of a binary scorer: tie-corrected
    rank-sum ROC-AUC (Mann-Whitney U) plus deterministic precision@``k``.

    ``label_col`` must be 0/1 (int); rows with a NULL score or NULL label
    are excluded up front (a NULL score has no rank in either engine's
    order; the count of scored rows is emitted so exclusions are visible).

    Returns ONE row: (n_scored, n_pos, n_neg, auc, hits_at_k,
    precision_at_k).

    AUC without a global sort: AUC = P(score_pos > score_neg) + 0.5 *
    P(tie), i.e. (sum over distinct scores s of pos(s) * (2*neg_below(s)
    + neg(s))) / (2 * n_pos * n_neg). The per-score (pos, neg) table comes
    from one groupBy on the score — a parallel shuffle, NOT a global rank
    window (``Window.orderBy`` with no partition key plans a
    single-partition exchange — the one shape this module bans).
    ``neg_below`` is ``prefix.exclusive_prefix`` over that (much smaller)
    table. The doubled numerator is an exact bigint (ties contribute the
    integer pos*neg instead of a .5 term); only the final division runs in
    double, with the identical expression on the oracle side.

    precision@k: positives among the global top-``k`` by (score DESC,
    id ASC) — the id tiebreak makes the cut deterministic; Spark plans
    orderBy+limit as TakeOrderedAndProject (per-partition top-k, merge on
    the driver — no full sort). Denominator is min(k, n_scored).

    100 TB shape: two linear shuffles (per-score groupBy; range exchange
    over DISTINCT scores — bounded by score cardinality, at worst corpus
    rows but 3 small columns, never text) plus a broadcast of one row per
    partition. No collect, no cartesian, no Python. Not lazy: the scored
    ``(id, score, label)`` projection is ``localCheckpoint``ed eagerly at
    construction — one job (the full upstream scoring pass) before the
    frame is returned — and its blocks stay held until the caller releases
    them (``runtime.release_all_session_blocks``).
    """
    scored = df.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
    ).where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    # Materialize the scored base ONCE (guide §3.3): two consumers hang off
    # it below (the per-score groupBy and the global top-k) and each would
    # otherwise re-derive the upstream scoring pass — for the AUC query that
    # is the full tokenize-and-score scan of the corpus, re-run per consumer
    # (3 scoring passes → 1; the n_scored count is
    # derived from the per-score totals instead of a third corpus scan —
    # exact under the documented 0/1 label contract, since every scored row
    # contributes to exactly one of n_pos / n_neg).
    scored = scored.localCheckpoint(eager=True)

    # per-distinct-score class counts — the only pass over the corpus
    g = scored.groupBy("__s").agg(
        F.sum("__y").alias("__pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("__neg"),
    )

    # negatives strictly below each score
    ranked = exclusive_prefix(g, [F.col("__s").asc()], F.col("__neg"))
    totals = ranked.agg(
        F.sum("__pos").alias("n_pos"),
        F.sum("__neg").alias("n_neg"),
        F.sum(
            F.col("__pos") * (F.lit(2) * F.col("__before") + F.col("__neg"))
        ).alias("__won_x2"),
    )

    # deterministic global top-k (TakeOrderedAndProject, not a full sort)
    topk = scored.orderBy(F.col("__s").desc(), F.col("__id").asc()).limit(int(k))
    hits = topk.agg(
        F.sum("__y").alias("hits_at_k"), F.count("*").alias("__k_eff")
    )

    def _safe_div(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double"))

    return (
        totals.crossJoin(hits)  # two one-row frames — a literal join
        .select(
            # n_scored = n_pos + n_neg exactly (0/1 label contract: every
            # scored row lands in one of the two classes), so the former
            # third corpus pass is a sum of two already-computed aggregates;
            # SUM over zero rows is NULL — coalesce keeps the empty-corpus
            # row well-typed, same as before
            (
                F.coalesce(F.col("n_pos"), F.lit(0))
                + F.coalesce(F.col("n_neg"), F.lit(0))
            ).cast("bigint").alias("n_scored"),
            # empty input: SUM over zero rows is NULL in both engines —
            # report 0 so the empty-corpus sweep sees a well-typed row
            F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
            F.coalesce(F.col("n_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("__won_x2").cast("double")
                / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            ).alias("auc"),
            F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("bigint").alias("hits_at_k"),
            _safe_div(
                F.coalesce(F.col("hits_at_k"), F.lit(0)), F.col("__k_eff")
            ).alias("precision_at_k"),
        )
    )


def binary_classifier_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
) -> DataFrame:
    """Calibration table for a binary scorer: rows ranked by (score, id)
    are cut into ``bins`` equal-population rank bins; each bin reports its
    population, positive count, positive rate, and score range — the
    corpus-scale "does the score's top decile actually contain better
    documents" check that pairs with ``binary_classifier_eval``'s AUC.

    Returns (bin, n, n_pos, pos_rate, min_score, max_score), one row per
    NON-EMPTY bin, ordered ascending by bin (bin 0 = lowest scores).

    DETERMINISM: the rank is over the TOTAL order (score, id) — a tie
    group never straddles a bin boundary engine-dependently because the id
    tiebreak makes every row's rank unique and identical cross-engine. The
    bin index floor((rank-1)*bins/n) divides exact integers in double
    (both < 2^53, one correctly-rounded division — identical both sides).

    100 TB shape: the rank and the total come from
    ``prefix.exclusive_prefix``; then one ``bins``-row groupBy. NO global
    single-partition rank window, NO NTILE (Spark plans both as a
    SinglePartition exchange of the corpus).
    """
    scored = df.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
    ).where(F.col("__s").isNotNull() & F.col("__y").isNotNull())

    ranked = exclusive_prefix(
        scored, [F.col("__s").asc(), F.col("__id").asc()], F.lit(1)
    )
    bin_col = F.floor(
        (F.col("__before") * F.lit(int(bins))).cast("double")
        / F.col("__total").cast("double")
    ).cast("int")
    return (
        ranked.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("n_pos"),
            (F.sum("__y").cast("double") / F.count("*").cast("double")).alias(
                "pos_rate"
            ),
            F.min("__s").alias("min_score"),
            F.max("__s").alias("max_score"),
        )
        .orderBy("bin")
    )
