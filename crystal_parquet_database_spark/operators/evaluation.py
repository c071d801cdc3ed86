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

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


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
    single-partition exchange — the one shape this module bans; see
    text.pack_sequences for the precedent). ``neg_below`` is the classic
    two-phase prefix sum over that (much smaller) table: range-partition
    by score, per-partition running sum, broadcast per-partition base
    offsets. The doubled numerator is an exact bigint (ties contribute the
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
    # (round-15 optimization: 3 scoring passes → 1; the n_scored count is
    # derived from the per-score totals instead of a third corpus scan —
    # exact under the documented 0/1 label contract, since every scored row
    # contributes to exactly one of n_pos / n_neg).
    scored = scored.localCheckpoint(eager=True)

    # per-distinct-score class counts — the only pass over the corpus
    g = scored.groupBy("__s").agg(
        F.sum("__y").alias("__pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("__neg"),
    )

    # two-phase prefix sum of negatives strictly below each score
    n_part = df.sparkSession.sparkContext.defaultParallelism
    d = (
        g.repartitionByRange(n_part, F.col("__s").asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: 2 consumers below
    )
    within = F.coalesce(
        F.sum("__neg").over(
            W.partitionBy("__pid").orderBy(F.col("__s").asc())
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    psums = (
        d.groupBy("__pid")
        .agg(F.sum("__neg").alias("__p"))
        .withColumn(
            "__base",
            F.coalesce(
                F.sum("__p").over(
                    W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__base")
    )
    ranked = (
        d.withColumn("__below_in_part", within)
        .join(F.broadcast(psums), "__pid")
        .select(
            "__pos",
            "__neg",
            (F.col("__below_in_part") + F.col("__base")).alias("__neg_below"),
        )
    )
    totals = ranked.agg(
        F.sum("__pos").alias("n_pos"),
        F.sum("__neg").alias("n_neg"),
        F.sum(
            F.col("__pos") * (F.lit(2) * F.col("__neg_below") + F.col("__neg"))
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

    100 TB shape: the rank is the two-phase prefix sum again — range
    exchange on (score, id), per-partition ROW_NUMBER, one-row-per-
    partition offsets broadcast back (carrying the global total in the
    same tiny frame); then one ``bins``-row groupBy. NO global
    single-partition rank window, NO NTILE (Spark plans both as a
    SinglePartition exchange of the corpus).
    """
    scored = df.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
    ).where(F.col("__s").isNotNull() & F.col("__y").isNotNull())

    n_part = df.sparkSession.sparkContext.defaultParallelism
    d = (
        scored.repartitionByRange(n_part, F.col("__s").asc(), F.col("__id").asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: 2 consumers below
    )
    within = F.row_number().over(
        W.partitionBy("__pid").orderBy(F.col("__s").asc(), F.col("__id").asc())
    )
    counts = d.groupBy("__pid").agg(F.count("*").alias("__c"))
    psums = counts.select(
        "__pid",
        F.coalesce(
            F.sum("__c").over(W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__base"),
        F.sum("__c").over(
            W.orderBy("__pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("__n"),
    )
    ranked = (
        d.withColumn("__w", within)
        .join(F.broadcast(psums), "__pid")
        .select(
            "__s",
            "__y",
            (F.col("__w") + F.col("__base")).alias("__rk"),
            "__n",
        )
    )
    bin_col = F.floor(
        ((F.col("__rk") - 1) * F.lit(int(bins))).cast("double")
        / F.col("__n").cast("double")
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
