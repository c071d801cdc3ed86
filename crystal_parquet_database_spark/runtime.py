"""Runtime helpers shared by the query surface and long-running paths
(streaming ingest, repeated SCD2 merges): deterministic release of
eager-localCheckpoint RDD blocks, and ``concurrently`` for overlapping
independent driver-side jobs without leaving the caller's job group.

Why this exists (verified via getRDDStorageInfo): neither
``DataFrame.unpersist()`` (which only uncaches CacheManager query entries,
never checkpoint RDDs) nor ``del df; gc.collect()`` (the JVM side still
holds the reference until ITS collector runs and the async ContextCleaner
drains its queue) frees a localCheckpoint's blocks deterministically. The
blocks linger in the block manager between JVM GC cycles — the crowding
pathology that once inflated late-sequence bench numbers 2-4×. A
localCheckpointed Dataset's analyzed plan is a ``LogicalRDD`` wrapping the
persisted RDD, so the RDD can be unpersisted directly and exactly — no
global registry diffs that could race with concurrent queries' own
checkpoints.
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def concurrently(*fns):
    """Run each zero-argument ``fns`` thunk on its own thread and return
    their results as a tuple in argument order; the first exception raised
    (in argument order) propagates after every thunk has finished.

    Each thunk is wrapped in ``inheritable_thread_target(<caller's session>)``
    here, on the calling thread, so the Spark jobs it submits carry the
    caller's job group and session tags (``addTag``) and stay cancellable
    with either (``cancelJobGroup``, ``interruptTag``)."""
    wrap = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(wrap(fn)) for fn in fns]
        return tuple(f.result() for f in futures)


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the RDD blocks behind ``df = something.localCheckpoint(eager=True)``.

    Call ONLY after every action that reads ``df`` has completed — a
    localCheckpointed RDD has truncated lineage and cannot be recomputed.
    Returns True if a checkpoint RDD was found and unpersisted, False for
    non-checkpoint frames. Best-effort by design, so call sites never fail
    on internal-API drift across Spark versions: a failure is reported as
    a warning and returns False.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
            return True
    except Exception as e:
        _warn_swallowed("release_local_checkpoint", e)
    return False


def release_all_session_blocks(spark) -> int:
    """Between-queries hygiene for HARNESSES (bench.py, driver_sim): release
    every persistent RDD in the session — including the eager-localCheckpoint
    blocks the query surface and operators create per invocation, which no
    call site can release itself (the returned frame's execution still needs
    them; only the harness knows when the collect has happened) — and clear
    the DataFrame cache.

    Call ONLY at a point where no previously returned frame will be read
    again: a released localCheckpoint has truncated lineage and cannot be
    recomputed (a released persist()/cache() merely recomputes). Returns the
    number of RDDs unpersisted; best-effort, never raises — block release is
    hygiene, not correctness — but warns with what it could not release.
    """
    n = 0
    try:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
            n += 1
    except Exception as e:
        _warn_swallowed("release_all_session_blocks: unpersist", e)
    try:
        spark.catalog.clearCache()
    except Exception as e:
        _warn_swallowed("release_all_session_blocks: clearCache", e)
    return n


def _warn_swallowed(where: str, e: Exception) -> None:
    warnings.warn(f"{where} skipped: {type(e).__name__}: {e}", RuntimeWarning, stacklevel=3)
