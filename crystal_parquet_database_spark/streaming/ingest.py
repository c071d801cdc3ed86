"""Continuous ingestion into PqDB: a foreachBatch sink whose idempotence
gives end-to-end exactly-once on top of any replayable source.

Structured Streaming guarantees at-least-once delivery to ``foreachBatch``
(a micro-batch can re-run after a crash/restart), so the sink must tolerate
replays. This recipe makes the write idempotent by NATURAL KEY: each batch
is deduped on the key, anti-joined against the keys already in the dataset,
and only genuinely-new rows are appended — a replayed batch finds its rows
already present and appends nothing. No sink-side transaction log needed.

100 TB shape: the BATCH is the build side of BOTH dedup joins. Spark can
only broadcast the RIGHT side of a left_anti join, and the right side of
the obvious one-hop ``batch ANTI existing`` is the ever-growing history
keyset — below the broadcast threshold every micro-batch re-broadcasts the
whole keyset, above it every micro-batch SHUFFLES the entire history key
column (sort-merge), so per-batch latency grows O(dataset) either way. The
two-hop shape keeps the big side streaming: (1) semi-join history keys ×
broadcast(batch keys) → the collided subset, bounded by the batch size;
(2) anti-join batch × broadcast(collided). The broadcast is GUARDED by a
capped key-count probe: past ~1M keys (a backfill, not a micro-batch) the
joins degrade to a shuffle instead of aborting on the 8GB broadcast cap.
History is only ever SCANNED
(key column only — parquet prunes to one column), never shuffled or
broadcast. That scan still grows with the dataset; Spark cannot prune hive
partitions without a PREDICATE (the key column is not the partition
column, and dynamic partition pruning does not apply to a broadcast batch
side) — so pass ``history_filter`` to bound it: with a ``partition_by``
on the target (e.g. event date) and a filter covering every partition a
colliding key could live in (time-prefixed keys, a retention window), the
scan prunes to recent partitions and per-batch cost stays flat as the
dataset grows. The filter is a CORRECTNESS contract: a key outside the
filtered window is invisible to the dedup and would be re-appended.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crystal_parquet_database_spark.db import PqDB
from crystal_parquet_database_spark.runtime import release_local_checkpoint


# keys-per-batch bound for the guaranteed-broadcast fast path: ~1M keys ×
# ~100B/key ≈ 100 MB — comfortably inside executor memory and far from
# the 8GB broadcast hard cap; a batch beyond it is a backfill, not a
# micro-batch, and takes the shuffle path instead of dying
_BROADCAST_KEY_CAP = 1_000_000


def new_rows_vs_existing(batch: DataFrame, existing: DataFrame, key_col: str) -> DataFrame:
    """Rows of ``batch`` whose key is not in ``existing`` — with the BATCH as
    the build side of both joins (module docstring: a one-hop left_anti can
    only build/broadcast the history side, whose cost grows every batch).

    NULL-SAFE throughout: plain key equality never matches NULL, so a
    replayed batch's NULL-key row would be re-appended on every replay —
    breaking exactly-once for exactly one key. eqNullSafe still plans as a
    hash equi-join.

    ``existing`` must expose the key as ``__existing_key`` (one column).
    """
    batch_keys = batch.select(F.col(key_col).alias("__batch_key")).dropDuplicates()
    # GUARDED broadcast, not a blind mandatory hint: a steady-state
    # micro-batch's key set must be guaranteed-broadcast (hint-free, the
    # batch frames carry unknown stats, the static plan is a sort-merge
    # join, and by the time AQE converts it the HISTORY side's shuffle map
    # stage has already run — the O(dataset)-per-batch cost this module
    # exists to avoid). But an availableNow BACKFILL can deliver one
    # enormous batch, and a mandatory hint would then abort the query on
    # the 8GB broadcast cap / driver OOM. The capped-limit count probe is
    # bounded by the cap itself; past it the joins degrade to a shuffle —
    # slow for that one backfill batch, instead of dead.
    #
    # The probe counts batch ROWS, not distinct keys: rows ≥ keys, so it can
    # only over-estimate — never broadcasts past the cap, merely shuffles a
    # >cap-row batch whose key set happened to be small (a backfill, where
    # the shuffle is the intended path anyway). Probing ``batch_keys``
    # instead would re-run its dropDuplicates shuffle once for the probe and
    # once for the joins — a full extra job per micro-batch; the row probe
    # is a plain scan (block-read when the caller passes a materialized
    # batch, as ``stream_ingest_into_pqdb`` does).
    big = batch.limit(_BROADCAST_KEY_CAP + 1).count() > _BROADCAST_KEY_CAP
    build = (lambda df: df) if big else F.broadcast
    collided = existing.join(
        build(batch_keys),
        F.col("__existing_key").eqNullSafe(F.col("__batch_key")),
        "left_semi",
    )
    return batch.join(
        build(collided),
        F.col(key_col).eqNullSafe(F.col("__existing_key")),
        "left_anti",
    )


def stream_ingest_into_pqdb(
    stream_df: DataFrame,
    db: PqDB,
    key_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
    history_filter=None,
):
    """Start a streaming query that appends each micro-batch's NEW keys to
    ``db`` (idempotent under replay — see module docstring). Returns the
    StreamingQuery; callers stop/await it.

    ``available_now=True`` drains everything currently available and stops
    (the backfill/test mode); ``False`` runs continuously.

    ``history_filter`` (a PqDB.read ``filters`` value — SQL string, Column,
    or tuple list) bounds the per-batch existing-keys scan, typically to
    the partitions a colliding key could live in. Without it the scan
    reads the FULL history key column every batch (columnar-pruned but
    O(dataset)); with it, partition pruning keeps per-batch cost flat.
    CORRECTNESS contract: every row whose key could collide with an
    incoming batch must satisfy the filter — a key outside it is invisible
    to the dedup and gets re-appended.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # materialize the within-batch dedup FIRST: its shuffle would
        # otherwise run twice — once under new_rows_vs_existing's row-count
        # probe and once under the final checkpoint — and the probe then
        # degrades to a block scan of these checkpointed rows
        deduped = batch_df.dropDuplicates([key_col]).localCheckpoint(eager=True)
        batch = deduped
        try:
            # the sink owns the dataset (single writer): finish any crashed
            # swap before deciding whether an existing-keys anti-join is
            # needed (`exists` is read-only — a dataset parked in swap
            # siblings would otherwise skip the dedup and re-append its
            # whole history)
            if db.recover():  # returns `exists`; one directory walk, not two
                existing = db.read(
                    columns=[key_col], filters=history_filter
                ).withColumnRenamed(
                    key_col, "__existing_key"
                )
                # materialize the anti-join ONCE: the emptiness probe and
                # create()'s write would otherwise each re-run the whole
                # pipeline (including the growing key-column scan)
                batch = new_rows_vs_existing(
                    deduped, existing, key_col
                ).localCheckpoint(eager=True)
            if batch.take(1):  # skip empty appends (fully-replayed batch)
                db.create(batch)
        finally:
            # Release THIS batch's checkpoint blocks before the next
            # micro-batch — in continuous mode (available_now=False) they
            # otherwise linger until JVM GC + ContextCleaner reap the dead
            # reference, growing block-manager memory across batches. The
            # helper unpersists exactly the RDD behind each frame's
            # LogicalRDD plan (safe under concurrent queries, unlike a
            # registry diff; rationale + non-alternatives in runtime.py).
            release_local_checkpoint(deduped)
            if batch is not deduped:
                release_local_checkpoint(batch)

    writer = stream_df.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
