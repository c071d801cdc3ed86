"""Access to the driver's TPC-H-ish test tables, and the one Parquet open.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
``load_table`` returns a plain Parquet scan DataFrame so every downstream
select/filter benefits from native pushdown and pruning; ``register_views``
exposes them as temp views for the SQL-flavored operators.

Every Parquet open in the package goes through ``read_parquet``: it reads
the footers on the driver and hands Spark the schema, so opening a table
plans without a Spark job (a bare ``spark.read.parquet`` runs one to infer
the schema). The footers are read on driver threads, one per data file per
open; a dataset of many thousands of files pays that on every open.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def data_files(path: str) -> list[str]:
    """The Parquet files a Spark scan of the local ``path`` reads, sorted:
    ``path`` itself when it is a file, else every ``.parquet`` file below
    it. Names Spark's file listing skips (``_``/``.``-prefixed, except
    ``key=value`` partition dirs) are skipped here too, which covers the
    committer scratch a killed write leaves under ``_temporary/``."""
    if os.path.isfile(path):
        return [path]

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet") and not hidden(f)
        )
    return sorted(out)


def read_parquet(spark: SparkSession, path: str, files: Iterable[str]) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    The schema comes from the footers of ``files`` (the data files under
    ``path``), read on the driver by Spark's own
    ``ParquetFileFormat.readParquetFootersInParallel`` (a driver thread
    pool, no job). Each footer goes through ``ParquetFileFormat.readSchema``
    — the stored Spark schema first, else the Parquet schema through the
    converter with the session's flags (``nanosAsLong``, ``binaryAsString``,
    …) — and the per-file schemas are folded with ``StructType.merge`` under
    ``spark.sql.caseSensitive``, the fold Spark's ``mergeSchema`` inference
    runs. Merging all footers in one ``readSchema`` call would fold
    case-sensitively: files with columns ``A`` and ``a`` would then yield
    both, and the open would fail where Spark's inference returns ``A``.

    The scan is opened with that schema, which gives the same relation as
    inference: hive partition columns are still discovered from the
    directory names and appended. Without any readable footer (no files,
    or only corrupt ones under ``ignoreCorruptFiles``) this falls back to
    Spark's inference, which reports the path its own way.
    """
    jss = spark._jsparkSession
    client = spark._sc._gateway._gateway_client
    state = jss.sessionState()
    conf, hadoop_conf = state.conf(), state.newHadoopConf()
    hpath = JavaClass("org.apache.hadoop.fs.Path", client)
    fs = hpath(path).getFileSystem(hadoop_conf)
    statuses = JavaClass("org.apache.spark.api.python.PythonUtils", client).toSeq(
        [fs.getFileStatus(hpath(f)) for f in files]
    )
    # the Scala object: its methods have no static forwarders
    parquet = getattr(
        JavaClass("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$", client),
        "MODULE$",
    )
    footers = parquet.readParquetFootersInParallel(
        hadoop_conf, statuses, conf.ignoreCorruptFiles()
    )
    case_sensitive = conf.caseSensitiveAnalysis()
    schema = None
    for i in range(footers.size()):
        one = parquet.readSchema(footers.slice(i, i + 1), jss).get()
        schema = one if schema is None else schema.merge(one, case_sensitive)
    if schema is None:
        return spark.read.parquet(path)
    # the JVM reader takes the JVM schema as is (``parquet(path)`` is
    # ``format("parquet").load(path)``)
    return DataFrame(jss.read().schema(schema).format("parquet").load(path), spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The caller may hand us a session built without engine defaults (the
    # driver harness does); timestamp semantics must not depend on the host
    # timezone, so pin UTC at query-build time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # On such a bare session the stock 200 shuffle partitions waste ~170
    # empty tasks per exchange at fixture scale. Only the untouched default
    # is lowered — an explicit user/cluster setting always wins (at real
    # scale shuffle parallelism is a deliberate cluster choice, not ours).
    # "Explicit" is detected from BOTH places a deliberate setting can
    # live: the SparkConf the context was built with (spark-defaults /
    # context builder) AND the session's SQLConf explicit-settings map
    # (session builder .config() and runtime spark.conf.set land there —
    # the runtime DEFAULT does not; same probe codegen_spans uses for the
    # AQE flag). The context-conf check alone missed a builder-set 200 on
    # a session attached to a pre-existing SparkContext — the exact
    # mechanism the old comment advertised as the way to pin it.
    key = "spark.sql.shuffle.partitions"
    explicitly_set = spark.sparkContext._conf.contains(key) or bool(
        spark._jsparkSession.sessionState().conf().contains(key)
    )
    if not explicitly_set and spark.conf.get(key, "200") == "200":
        spark.conf.set(key, "32")
    if name == "events":
        # The events fixture stores ts as parquet TIMESTAMP(NANOS), which the
        # Spark vectorized reader rejects outright. Read nanos as int64 and
        # floor-divide to micros — integer division, NOT double division
        # (ns-since-epoch ~1.7e18 exceeds 2^53, a double round-trip corrupts
        # the low digits). Floor matches DuckDB's ns→µs truncation.
        # (Re-written copies of the table already carry a proper timestamp —
        # convert only when ts actually arrives as a long.)
        # NOTE: this conf intentionally stays set on the session (restoring it
        # after a lazy read races plan execution); its only observable effect
        # elsewhere is turning a hard PARQUET_TYPE_ILLEGAL error on other
        # NANOS columns into an int64 read.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path, data_files(path))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # `div` TRUNCATES toward zero — and that is deliberately the
            # semantic here, checked against DuckDB's output: DuckDB's
            # PARQUET READER converts TIMESTAMP(NANOS) to µs by truncation
            # (-1500 ns reads as -1 µs), and the oracle reads these tables
            # via read_parquet. (DuckDB's CAST from a timestamp_ns VALUE
            # floors instead — -1500 ns → -2 µs — but that path never sees
            # fixture data.) A floor here would diverge from the oracle on
            # any pre-epoch nanosecond not on a µs boundary; pinned in
            # tests/test_io.py::test_load_table_pre_epoch_nanos...
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Newer fixture copies store ts as parquet TIMESTAMP(MICROS)
            # without the UTC-adjusted flag, which Spark 4 infers as
            # TIMESTAMP_NTZ. Session tz is pinned UTC above, so casting to
            # TIMESTAMP maps wall-clock to the same instant DuckDB reads —
            # and restores unix_micros()/withWatermark compatibility.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, path, data_files(path))


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view named after the table. ``names=None``
    means all tables; an explicit empty list is honored as a no-op."""
    for name in TABLE_NAMES if names is None else names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
