"""SparkSession factory tuned for this engine.

Defaults target the driver's local[N] harness but are chosen to also be the
right defaults on a real cluster: AQE on (runtime coalescing + skew-join
handling), Arrow enabled for the Pandas-UDF slow path, UTC session timezone so
timestamp semantics match the DuckDB oracle, and shuffle partitions sized to
the local core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crystal_parquet_database_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). On a real cluster pass ``master=None`` via spark-submit and
    these configs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    # local[N] runs driver+executors in ONE JVM whose default heap is 1g —
    # far too small for a 32-core harness (a single wide shuffle OOMs it).
    # Only effective at JVM launch; a no-op if a session already exists. On a
    # real cluster this is superseded by spark-submit's --driver-memory.
    #
    # The heap is FIXED (-Xms == -Xmx) and pre-touched at JVM start
    # (-XX:+AlwaysPreTouch), the standard production setting for
    # latency-sensitive JVMs: every heap page is faulted in once during
    # startup, so G1 heap expansion mid-query never stalls on first-touch
    # page faults and the committed heap is never uncommitted/refaulted.
    # Measured on a microVM whose first-touch faults
    # degrade to ~17 MB/s past a few-GB burst budget): with the default
    # lazy heap, heap-growth events mid-suite stalled individual queries
    # 2-5x (e.g. pqdb_normalize_compaction 14-18 s vs 7-11 s, see
    # OPTIMIZATION_r14.md); with a fixed pre-touched heap the fault cost
    # is paid once, before any query is timed. The default heap size drops
    # 8g -> 4g: the full headline suite peaks far below it (verified: the
    # heaviest write/shuffle queries complete on 4g at both 16 and 32
    # cores), and the smaller footprint keeps pre-touch at startup in the
    # fast range while leaving headroom for Python workers and page cache.
    # Production values remain per-deployment: SPARK_GRAFT_DRIVER_MEM here,
    # spark-submit --driver-memory/--executor-memory on a cluster.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    xjo = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    user_xjo = (extra_conf or {}).get("spark.driver.extraJavaOptions")
    if user_xjo:
        xjo = f"{xjo} {user_xjo}"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", xjo)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen class cache sized to the query WORKING SET, not
        # the 100-entry default. The cache is keyed on generated source; a
        # driver serving ~100+ distinct queries (this engine's registered
        # surface, or any long-running cluster re-serving a workload) evicts
        # every entry between two runs of the same query, so each run pays
        # full Janino+JIT recompilation of every codegen unit — pure
        # driver-side serialized time. Measured (sf0.1): the 8
        # literal-heavy trained-quantizer queries ran 51.6 s steady-state,
        # then 184.5 s after 50 other queries had cycled the default cache
        # (sim_ivfpq_residual 9.1 -> 76.7 s); with this cap
        # the same interleaved sequence stayed at 53.5 s. Memory cost is
        # bounded by the DISTINCT codegen units actually compiled (a few
        # hundred here), not the cap. NOTE: this is a
        # STATIC SQL conf — like the driver-memory setting above it only
        # takes effect at JVM/session creation, so getOrCreate() against a
        # session some embedding context already built silently ignores it
        # and the recompilation fix quietly disappears there; verify with
        # spark.conf.get("spark.sql.codegen.cache.maxEntries") when
        # embedding.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraJavaOptions":
            continue  # already merged with the pre-touch flags above
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
