"""PqDB — a Parquet dataset directory with CRUD, schema evolution, layout
normalization, and footer statistics, re-expressed on Spark DataFrames.

Reference surface being re-expressed (SURVEY.md §2B, parquetdb 1.0.1 as used
by crystpqdb):

- ``create(data)``            — loaders/base.py:180-182 (ingest + schema
  evolution + auto-increment id)
- ``read(columns, filters, load_format)`` — loaders/base.py:188-193
- ``normalize()``             — loaders/base.py:184-186 (physical layout)
- metadata/statistics         — Creating-CrystPQDB.ipynb cells 19-23
- update/delete               — parquetdb CRUD (unused by the reference's own
  code; provided for parity)

Design departures (Spark-first, SURVEY.md §7):

- Nested data is stored natively nested; parquetdb's flatten-on-write and
  ``rebuild_nested_struct`` on read have no equivalent here.
- Contiguous ids are assigned per ingest batch, offset by max(id)+1 read
  from the id column's footer statistics: one per-partition count, then
  a projection in the write's own stage (partition offset + row index) — no
  global sort, window or join. Gap-free ids under concurrent writers are a
  non-goal.
- Type-widening schema evolution rewrites the dataset to the promoted schema.
  Column *additions* need no rewrite: every open folds the data files'
  footer schemas on the driver (``tables.read_parquet``, no Spark job) and
  reads older files null-padded to the merged schema. The footers are read
  on driver threads, one per data file per open.
- In-place rewrites go through a temp directory + swap: Spark cannot
  overwrite a path it is lazily reading. On object stores this becomes
  write-new-prefix + pointer swap.
- Each public call lists the dataset's data files once (the write entry
  points after crash recovery) and hands that list to every step that
  needs the dataset's state: the open, the layout check, the next id, the
  rewrite and the row count. Only a type-widening ``create`` lists again,
  after its rewrite.
- ``create`` has two write paths: an append into a dataset that has data
  files, or a whole-dataset write through the temp-dir swap — for a new
  dataset, and for the zero-row marker a partitioned delete-all leaves.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import uuid
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crystal_parquet_database_spark.operators.similarity import _lit_array
from crystal_parquet_database_spark.runtime import release_local_checkpoint
from crystal_parquet_database_spark.schema import cast_to_schema, leaf_types, unify_schemas
from crystal_parquet_database_spark.tables import data_files, read_parquet

ID_COL = "id"


def assign_contiguous_ids_with_count(
    df: DataFrame, start: int = 0, id_col: str = ID_COL, partition_by: Iterable[str] = ()
) -> tuple[DataFrame, int]:
    """Assign contiguous ids start..start+n-1 without a sort, a window or a
    join; also return n (already known from the counts pass — callers
    should not pay a separate count()).

    One aggregation counts the rows of each input partition; the driver
    turns the counts into cumulative per-partition offsets and inlines them
    as one array literal. The id is then one projection in the write's own stage:
    ``start + offset[spark_partition_id()] + row index in the partition``,
    where the row index is the low 33 bits of ``monotonically_increasing_id``
    (``partition << 33 | row index``). The ids equal a per-partition
    ``row_number`` ordered by that id, offset the same way. This is the
    distributed equivalent of parquetdb's auto-increment id (SURVEY.md §7).

    The frame ends in a ``rebalance`` hint (on ``partition_by`` for
    hive-partitioned writes), so AQE sizes the output files: a small
    batch writes one file, not one per input partition.

    The input is evaluated twice (counts pass + downstream action), so it is
    persisted for the duration — otherwise nondeterministic lineage (sample,
    rand filters) could change partition contents between passes and corrupt
    the ids. Caller must trigger its action before the frame is unpersisted;
    PqDB.create does (it writes immediately).
    """
    df = df.persist()
    counts = dict(df.groupBy(F.spark_partition_id()).count().collect())
    offsets, acc = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    row_in_partition = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    out = df.withColumn(
        id_col,
        F.lit(start) + _lit_array(offsets, "array<bigint>")[F.spark_partition_id()] + row_in_partition,
    )
    return out.hint("rebalance", *partition_by), acc


def assign_contiguous_ids(df: DataFrame, start: int = 0, id_col: str = ID_COL) -> DataFrame:
    """Standalone wrapper: materializes the ids eagerly and releases the
    helper's input cache before returning, so the caller holds a
    self-contained frame (the _with_count variant leaves its input persisted
    under a trigger-then-unpersist contract only PqDB.create honors; an
    external caller looping on this API would otherwise leak one cached
    input per call). Release the returned frame's checkpoint blocks with
    ``runtime.release_local_checkpoint`` when done."""
    out, _ = assign_contiguous_ids_with_count(df, start, id_col)
    out = out.localCheckpoint(eager=True)
    df.unpersist()
    return out


def _siblings(path: str, kind: str) -> list[str]:
    """The ``__tmp_*`` (``kind="tmp"``) or ``__old_*`` (``kind="old"``)
    swap siblings of ``path``, oldest first by mtime.

    An entry that vanishes between the glob and the stat (a concurrent
    ``PqDB.destroy`` or another process's reap) is dropped: a plain
    ``sorted(key=os.path.getmtime)`` raises FileNotFoundError out of
    whatever innocent call triggered the listing, and keeping a vanished
    path could elect it as the newest tmp and fail the restoring rename.

    ONLY the vanished-path case is swallowed: a transient stat failure of any
    other kind (EPERM/EIO) on the newest ``__tmp_*`` sibling would otherwise
    silently elect an older tmp or skip recovery — restoring stale state with
    no signal — so every other OSError propagates to the caller."""
    keyed = []
    for p in glob.glob(f"{glob.escape(path)}__{kind}_*"):  # a '[2024]' in the path is a literal
        try:
            keyed.append((os.path.getmtime(p), p))
        except FileNotFoundError:
            continue
    return [p for _, p in sorted(keyed)]


class PqDB:
    """A directory of Parquet files managed as one logical table.

    ``partition_by`` hive-partitions the dataset (e.g.
    ``["source_database", "source_dataset"]`` for the reference's wide
    multi-source table — SURVEY.md §1.5): filters on those columns prune
    whole directories before any file is opened, a capability the reference
    engine lacks."""

    def __init__(self, spark: SparkSession, path: str, partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by or [])
        os.makedirs(path, exist_ok=True)

    # ----------------------------------------------------------------- helpers

    def _data_files(self) -> list[str]:
        # a write killed mid-job leaves committer scratch under _temporary/
        # — those part-files are NOT data (data_files skips them); counting
        # them would make `exists` true for a dataset with no committed rows
        return data_files(self.path)

    @property
    def exists(self) -> bool:
        """True iff committed data files sit at the canonical path.

        READ-ONLY by contract: crashed-swap recovery runs from the write
        entry points (create/update/delete/upsert_scd2/normalize) and the
        explicit ``recover()`` — never from here. A mere reader probing
        ``exists`` while the single writer sits between ``_rewrite``'s two
        renames must not "finish" the live swap and delete the sibling the
        writer is about to rename (the old lazy-recovery form made every
        read a potential mutator and broke the single-writer guarantee
        for the writer itself). One listing of the dataset."""
        return bool(self._data_files())

    def recover(self) -> bool:
        """Finish a crashed ``_rewrite`` swap, if one is pending; returns
        ``exists`` afterwards. Write entry points call this implicitly; a
        read-only process that finds ``exists`` false after a hard kill
        calls it explicitly (it is the single mutating step, so run it
        under the same single-writer discipline as any write). One listing
        of the dataset, a second only after a swap was finished."""
        return bool(self._recover())

    def _recover(self) -> list[str]:
        """``recover()`` for the write entry points: the data files after
        any crashed swap is finished. This is the call's one listing; every
        step that needs the dataset's state takes it from here.

        The ``_rewrite`` swap is write-tmp → rename(path, old) →
        rename(tmp, path) → rmtree(old); a kill between the renames leaves
        ``path`` missing with BOTH siblings present. The tmp dir is always
        complete in that window (it is fully written before the first
        rename), so restoring the newest tmp is restoring the committed new
        state; a kill DURING the tmp write leaves ``path`` intact, so this
        branch — path missing, BOTH leftovers present — uniquely identifies
        the between-renames window.
        An ``__old_*`` WITHOUT a tmp is never restored: the two-rename
        sequence cannot produce that state, so it means a human deleted the
        canonical dir next to a stale crash leftover — resurrecting data
        the user just removed (and having a later create() append onto it)
        would be far worse than staying empty. Use ``PqDB.destroy`` to
        remove a dataset AND its crash siblings together."""
        files = self._data_files()
        if files:
            return files
        tmps, olds = _siblings(self.path, "tmp"), _siblings(self.path, "old")
        if tmps or olds:
            # the canonical path holds no data files; it may still exist as
            # the empty dir __init__ pre-creates — clear it so the
            # restoring rename can land
            shutil.rmtree(self.path, ignore_errors=True)
        if tmps and olds:
            os.rename(tmps[-1], self.path)
            for d in olds + tmps[:-1]:
                shutil.rmtree(d, ignore_errors=True)
            files = self._data_files()
        return files

    def _df(self, files: list[str] | None = None) -> DataFrame:
        """The dataset as one scan whose schema is every data file's footer
        schema merged (older files read null-padded) — planned without a
        Spark job. ``files`` is the call's listing (listed here when not
        given); raises when the dataset holds no data file."""
        if files is None:
            files = self._data_files()
        if not files:
            hint = (
                " (a crashed rewrite left swap siblings — call recover() "
                "to restore the committed state)"
                if _siblings(self.path, "tmp") and _siblings(self.path, "old")
                else ""
            )
            raise FileNotFoundError(
                f"PqDB at {self.path!r} is empty — call create() before "
                f"read()/update()/delete(){hint}"
            )
        return read_parquet(self.spark, self.path, files)

    @staticmethod
    def destroy(path: str) -> None:
        """Remove a dataset directory AND its ``__old_*``/``__tmp_*`` crash
        siblings. A bare ``shutil.rmtree(path)`` is not enough: a stale
        ``__old_*`` from a kill-after-swap would survive, and the next
        PqDB touch could recover state the caller meant to delete — a
        create() would then silently APPEND onto resurrected rows."""
        shutil.rmtree(path, ignore_errors=True)
        for d in _siblings(path, "old") + _siblings(path, "tmp"):
            shutil.rmtree(d, ignore_errors=True)

    def _check_unique_keys(self, up: DataFrame, on: str, display: str | None = None) -> None:
        """One definition of the duplicate-update-key guard (update and
        upsert_scd2 both corrupt the dataset if a key repeats).

        Callers MUST run this on the key AS THE JOIN CONSUMES IT — i.e.
        after the cast to the base key type. The raw-key form had a hole:
        string keys '1' and '01' are distinct to the guard, but a join
        against a numeric base column coerces both to 1, so both matched
        the same base row and the merge silently duplicated it."""
        dup = up.groupBy(on).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                f"updates contain duplicate key {display or on}={dup[0][on]!r} "
                "(after casting to the dataset's key type); "
                "update keys must be unique"
            )

    def _next_id_start(self, files: list[str]) -> int:
        """max(id) + 1 (0 for a dataset without rows), read on the driver
        from the id column's row-group max statistics in the footers of
        ``files`` (the data files) — no Spark job. Falls back to a
        ``max(id)`` aggregate when a non-empty row group carries no min/max
        statistics for ``id`` (a file written without statistics, or
        without the column)."""
        import pyarrow.parquet as pq

        top = -1
        for f in files:
            md = pq.read_metadata(f)
            leaves = [md.schema.column(i).path for i in range(md.num_columns)]
            col = leaves.index(ID_COL) if ID_COL in leaves else None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                stats = None if col is None else rg.column(col).statistics
                if stats is None or not stats.has_min_max:
                    m = self._df(files).agg(F.max(ID_COL)).collect()[0][0]
                    return (m if m is not None else -1) + 1  # max id 0 is falsy but valid
                top = max(top, stats.max)
        return top + 1

    def _to_df(self, data: Any, schema: T.StructType | None = None) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        if isinstance(data, pd.DataFrame):
            return self.spark.createDataFrame(data, schema=schema)
        if isinstance(data, dict):  # dict of columns
            return self.spark.createDataFrame(pd.DataFrame(data), schema=schema)
        return self.spark.createDataFrame(data, schema=schema)  # list of dicts/Rows

    def _rewrite(
        self,
        df: DataFrame,
        files: list[str],
        n_files: int | None = None,
        max_records_per_file: int | None = None,
        partition_values_guarded: bool = False,
    ) -> None:
        """Materialize ``df`` to a temp dir, then swap it in via two renames.
        ``files`` is the dataset's current listing (empty for a new one).

        The swap is crash-RECOVERABLE, not atomic: a hard kill between the
        two renames leaves ``self.path`` missing with the complete new state
        in ``__tmp_*`` and the old state in ``__old_*`` —
        ``_recover`` (run from every write entry point and the explicit
        ``recover()`` — never from reads) finishes the swap. Stale
        ``__old_*`` leftovers from a kill after the second rename are
        reaped here before the next swap. Single-writer discipline assumed throughout
        (two concurrent writers corrupt any rename scheme without a lock
        service — at cluster scale this rewrite is a table-service job)."""
        self._check_layout_matches(files)
        # reap BOTH stale sibling kinds before a new swap: __old_* from a
        # kill after the second rename, __tmp_* from a kill during a prior
        # tmp write — the latter otherwise leaks a near-dataset-sized dir
        # per crash AND could be mistaken for committed state by recovery
        # (single-writer: any sibling existing here is garbage)
        for stale in _siblings(self.path, "old") + _siblings(self.path, "tmp"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        if n_files:
            if self.partition_by:
                # hash-cluster on the hive partition columns so every
                # partition VALUE lands in ONE task → one file per value
                # (maxRecordsPerFile splits oversized values). A plain
                # round-robin repartition(n) spreads every value across all
                # n tasks, and the partitioned writer then emits one file
                # per (task, value) pair — up to n × n_values tiny files,
                # the opposite of the compaction normalize() promises.
                df = df.repartition(n_files, *[F.col(c) for c in self.partition_by])
            else:
                df = df.repartition(n_files)
        # ``partition_values_guarded``: normalize() applies the guard BEFORE
        # its cluster sort — wrapping the partition column in an expression
        # HERE would sit a Project above that sort, the writer would no
        # longer recognize its required partition ordering, and its
        # re-sort (partition columns only) would destroy the cluster
        # order the caller just paid for
        if not partition_values_guarded:
            df = self._guard_partition_values(df)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            # per-write option — never mutate the shared session conf
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        if not data_files(tmp):
            # A write of an EMPTY frame can emit only _SUCCESS — always for
            # a dynamic-partition write — with no schema-bearing parquet
            # file, so swapping it in would destroy the dataset
            # (exists→False, schema lost, FileNotFoundError on every later
            # call). delete() matching all rows and an empty first create()
            # are legitimate: re-write the empty frame unpartitioned, which
            # leaves the schema-only file (partition dirs carry no data to
            # prune anyway when there are zero rows).
            df.limit(0).write.mode("overwrite").parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        # recovery clears an empty canonical dir next to stale siblings
        os.makedirs(self.path, exist_ok=True)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)

    # --------------------------------------------------------------------- CRUD

    def create(self, data: Any, schema: T.StructType | None = None) -> int:
        """Append records; infer/evolve schema; assign contiguous ids.
        Returns the number of rows written.

        Column additions evolve cheaply (old files are null-padded at read:
        the open merges every file's footer schema); type *widenings*
        trigger a one-time dataset rewrite to the promoted schema.

        Two write paths: an append into a dataset that has data files, or
        a whole-dataset write through ``_rewrite`` for a new dataset (and
        for the zero-row marker of a partitioned one). The dataset is
        listed once, after recovery, and again only after a widening
        rewrite.
        """
        files = self._recover()  # write entry point: finish any crashed swap first
        df = self._to_df(data, schema)
        if ID_COL in df.columns:
            df = df.drop(ID_COL)  # engine-owned column (reference: mc3d.py:125-126)
        start = 0
        if files:
            existing = self._df(files)
            self._check_layout_matches(files)
            start = self._next_id_start(files)
            old_schema = T.StructType([f for f in existing.schema.fields if f.name != ID_COL])
            merged = unify_schemas([old_schema, df.schema])
            if merged != old_schema:
                # Only genuine TYPE changes at paths the old data already has
                # force a rewrite; column/field ADDITIONS (even nested ones)
                # evolve cheaply — the footer-merged read schema null-pads
                # old files.
                old_leaves = leaf_types(old_schema)
                merged_leaves = leaf_types(merged)
                widened = any(
                    path in old_leaves and old_leaves[path] != t
                    for path, t in merged_leaves.items()
                )
                if widened:
                    self._rewrite(cast_to_schema(existing, merged, keep_extra=True), files)
                    files = self._data_files()  # the rewrite replaced every file
            df = cast_to_schema(df, merged, keep_extra=False)
        source = df
        # the try opens BEFORE id assignment: assign_contiguous_ids_with_count
        # persists its input, so a failure inside it (or between it and the
        # write) must still release the blocks — unpersist on a never-
        # persisted frame is a harmless no-op
        try:
            df, n = assign_contiguous_ids_with_count(df, start=start, partition_by=self.partition_by)
            if files and not (self.partition_by and self._root_files(files)):
                writer = self._guard_partition_values(df).write.mode("append")
                if self.partition_by:
                    writer = writer.partitionBy(*self.partition_by)
                writer.parquet(self.path)
            else:
                # A new dataset, or the empty-rewrite marker: a delete()
                # that matched every row of a partitioned dataset left ONE
                # unpartitioned schema-only file at the root. Appending
                # hive dirs NEXT to it would mix leaf depths and make Spark
                # partition discovery fail on every later read — replace
                # the zero-row dataset wholesale instead. An empty first
                # batch still creates the dataset: _rewrite leaves the
                # schema-only file for an empty frame.
                self._rewrite(df, files)
        finally:
            source.unpersist()
        return n

    @staticmethod
    def _footer_rows(files: Iterable[str]) -> int:
        """Row count of ``files`` from their parquet footers — driver-side
        metadata only, no Spark job."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in files)

    def _root_files(self, files: list[str]) -> list[str]:
        """The data files directly in the dataset root — for a
        hive-partitioned dataset only _rewrite's empty-frame marker."""
        return [f for f in files if os.sep not in os.path.relpath(f, self.path)]

    def _check_layout_matches(self, files: list[str]) -> None:
        """An append (create) or rewrite (update/delete/normalize) through a
        ``partition_by`` that disagrees with how the dataset (``files``) was
        actually written must fail LOUDLY before any write:

        - declared partition_by over a dataset whose ROWS live in root
          files: root files are legitimate only as the zero-row
          empty-rewrite marker (that is how a partitioned dataset rebuilds
          after delete-all). With real rows present, create()'s marker
          branch would replace the dataset WHOLESALE, silently destroying
          them, and a rewrite would silently restructure the layout under
          every consumer holding the correct unpartitioned open;
        - no partition_by over a hive-partitioned dataset (data files under
          ``key=value`` dirs): an append would lay unpartitioned files next
          to those dirs, mixing leaf depths so Spark's partition discovery
          fails on every later read, and a rewrite would silently flatten
          the layout (data survives as ordinary columns, partition pruning
          is lost).
        """
        if self.partition_by and self._footer_rows(self._root_files(files)) > 0:
            raise ValueError(
                f"dataset at {self.path!r} holds unpartitioned data files "
                f"but this PqDB was opened with partition_by="
                f"{self.partition_by}; open it without partition_by, or "
                "migrate the layout explicitly (read -> create into a new "
                "partitioned dataset)"
            )
        if not self.partition_by and any(
            "=" in os.path.relpath(os.path.dirname(f), self.path).split(os.sep)[0]
            for f in files
        ):
            raise ValueError(
                f"dataset at {self.path!r} is hive-partitioned but this PqDB "
                "was opened without partition_by; open it with the matching "
                "partition_by"
            )

    def _guard_partition_values(self, df: DataFrame) -> DataFrame:
        """Hive layout cannot represent an EMPTY-STRING partition value: Spark
        writes both '' and NULL as ``__HIVE_DEFAULT_PARTITION__``, so '' rows
        silently come back as NULL — a key-corruption round-trip that
        ``scripts/degenerate_sweep.py`` (''-keyed rows) exposes in the
        ``pqdb_normalize_compaction`` gate (every other shape round-trips:
        whitespace, slashes and non-ASCII are dir-escaped faithfully, and
        NULL reads back as NULL). Fail LOUDLY instead, with
        zero extra passes: the check rides the write itself as a raise_error
        branch on each string partition column. Callers who want hive
        semantics normalize explicitly (``NULLIF(col, '')``) so the coercion
        is in their code, never silent in the engine."""
        if not self.partition_by:
            return df
        str_cols = {
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        }
        for c in self.partition_by:
            if c in str_cols:
                df = df.withColumn(
                    c,
                    F.when(
                        F.col(c) == "",
                        F.raise_error(
                            F.lit(
                                f"partition column {c!r} contains an empty-string "
                                "value, which hive layout cannot round-trip (it "
                                "reads back as NULL); NULLIF it explicitly or "
                                "do not partition on this column"
                            )
                        ).cast("string"),
                    ).otherwise(F.col(c)),
                )
        return df

    @staticmethod
    def _filters_to_column(filters) -> Column | str:
        """Accept a SQL string, a Column, or parquetdb/pyarrow-style tuples
        ``[(col, op, value), ...]`` (AND-combined; ops: ==,=,!=,<,<=,>,>=,in,
        not in)."""
        if isinstance(filters, (str, Column)):
            return filters
        ops = {
            "==": lambda c, v: c == v,
            "=": lambda c, v: c == v,
            "!=": lambda c, v: c != v,
            "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v,
            ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
            "in": lambda c, v: c.isin(list(v)),
            "not in": lambda c, v: ~c.isin(list(v)),
        }
        cond = None
        for name, op, value in filters:
            if op not in ops:
                raise ValueError(f"unsupported filter op {op!r}; one of {sorted(ops)}")
            clause = ops[op](F.col(name), value)
            cond = clause if cond is None else (cond & clause)
        if cond is None:
            raise ValueError("empty filter list")
        return cond

    def read(
        self,
        columns: list[str] | None = None,
        filters=None,
        load_format: str = "dataset",
        batch_size: int = 10_000,
    ):
        """Projection/filter read with native Parquet pushdown.

        ``filters``: SQL string, Column, or parquetdb/pyarrow-style tuple
        list ``[("data.band_gap", ">", 3.0), ...]`` (AND-combined).
        load_format: 'dataset' → lazy DataFrame (the default and the scale
        path); 'table' → pandas DataFrame (driver-side, small results);
        'batches' → iterator of pandas DataFrames. (Reference:
        loaders/base.py:188-193; rebuild_nested_struct is unnecessary —
        data is stored nested; see functions/flatten.py for the
        compatibility utilities.)
        """
        df = self._df()
        if filters is not None:
            df = df.filter(self._filters_to_column(filters))
        if columns:
            df = df.select(*columns)
        if load_format == "dataset":
            return df
        if load_format == "table":
            return df.toPandas()
        if load_format == "batches":
            return self._batches(df, batch_size)
        raise ValueError(f"unknown load_format {load_format!r}")

    @staticmethod
    def _batches(df: DataFrame, batch_size: int) -> Iterator[pd.DataFrame]:
        buf: list = []
        cols = df.columns
        for row in df.toLocalIterator(prefetchPartitions=True):
            buf.append(row)
            if len(buf) >= batch_size:
                yield pd.DataFrame(buf, columns=cols)
                buf = []
        if buf:
            yield pd.DataFrame(buf, columns=cols)

    def update(self, updates: Any, on: str = ID_COL) -> None:
        """MERGE-style update: replace matching columns for matching keys.
        Unmatched rows are kept as-is; update frames may carry a subset of
        columns (all of which must already exist in the dataset). The update
        key must be unique — a duplicate key would multiply base rows through
        the join and permanently corrupt the dataset.

        NULL cells in an update frame mean "keep the old value" (the coalesce
        merge below) — a deliberate partial-update semantic, since row-dict
        inputs cannot distinguish absent from explicitly-null. To null a
        field, rewrite via read→transform→create."""
        # persist the update frame: the dup-key guard and the join both
        # execute it — unpersisted, those are two separate evaluations of a
        # possibly-expensive (or worse, nondeterministic — sample/rand)
        # lineage, so the guard would not certify the materialization the
        # join actually consumes
        files = self._recover()  # write entry point: finish any crashed swap first
        up = self._to_df(updates).persist()
        try:
            base = self._df(files)
            if on not in base.columns:
                raise ValueError(
                    f"update key {on!r} does not exist in the dataset "
                    f"(columns: {base.columns})"
                )
            upd_cols = [c for c in up.columns if c != on]
            unknown = [c for c in upd_cols if c not in base.columns]
            if unknown:
                raise ValueError(
                    f"update columns {unknown} do not exist in the dataset "
                    f"(schema changes go through create()'s evolution path)"
                )
            # NULL-safe key match (eqNullSafe), same contract as upsert_scd2
            # and the stream-ingest anti-join: a NULL-keyed base row IS
            # addressable by a NULL-keyed update row — plain `on` equality
            # would silently no-op it (NULL = NULL is NULL, never matches),
            # and the dup-key guard above already treats NULL as one key.
            # Cast every update column to the BASE column's type before the
            # merge: coalesce type-coerces to the common type, so an update
            # frame whose column arrived wider (Python ints → long vs stored
            # int; double vs stored float) would silently rewrite the stored
            # column type for the WHOLE dataset, bypassing create()'s
            # evolution gate. Widenings go through create(); a genuinely
            # lossy update value fails the ANSI cast loudly instead.
            base_types = {f.name: f.dataType for f in base.schema.fields}
            # The KEY is cast to the base key type too — the join would
            # otherwise coerce BOTH sides to a common type ('01' vs long 1
            # both become 1.0), matching rows the raw-key dup guard cannot
            # see as duplicates. Guard AFTER the cast, on the key the join
            # actually consumes; a lossy key value fails the ANSI cast
            # loudly instead of corrupting the merge.
            u = up.select(
                F.col(on).cast(base_types[on]).alias("__u_key"),
                *[F.col(c).cast(base_types[c]).alias(f"__u_{c}") for c in upd_cols],
            )
            self._check_unique_keys(u, "__u_key", display=on)
            # the guard materialized the persisted frame, so the planner
            # sizes u from the cache and broadcasts it when it is small
            joined = base.join(u, F.col(on).eqNullSafe(F.col("__u_key")), "left")
            out = joined.select(
                *[
                    (
                        F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c)
                        if c in upd_cols
                        else F.col(c)
                    )
                    for c in base.columns
                ]
            )
            self._rewrite(out, files)
        finally:
            up.unpersist()

    def delete(self, ids: list | None = None, where: str | Column | None = None) -> None:
        """Delete rows where the predicate is TRUE (SQL DELETE semantics:
        rows where it evaluates to NULL are kept, not deleted)."""
        files = self._recover()  # write entry point: finish any crashed swap first
        base = self._df(files)
        if ids is not None:
            cond = F.col(ID_COL).isin(ids)
        elif where is not None:
            cond = F.expr(where) if isinstance(where, str) else where
        else:
            raise ValueError("provide ids or where")
        # keep rows where cond is FALSE or NULL — a bare ~cond would drop
        # NULL-predicate rows (NULL → ~NULL = NULL → filtered out)
        out = base.filter(~F.coalesce(cond, F.lit(False)))
        self._rewrite(out, files)

    # ------------------------------------------------- versioned (SCD2) history

    VALID_FROM = "valid_from"
    VALID_TO = "valid_to"

    def create_versioned(self, data: Any, effective_ts: str) -> int:
        """Create/append rows with SCD2 version columns: ``valid_from`` =
        ``effective_ts`` (ISO string), ``valid_to`` = NULL (current)."""
        df = self._to_df(data)
        df = df.withColumn(
            self.VALID_FROM, F.lit(effective_ts).cast("timestamp")
        ).withColumn(self.VALID_TO, F.lit(None).cast("timestamp"))
        return self.create(df)

    def upsert_scd2(self, updates: Any, on: str, effective_ts: str) -> dict:
        """Type-2 slowly-changing-dimension merge: for each update row keyed
        by ``on``, if the current version's tracked columns differ, CLOSE it
        (``valid_to`` = effective_ts) and append the new version
        (``valid_from`` = effective_ts, current); unmatched keys append as
        new current rows; unchanged matches are untouched. History is never
        lost — ``read_asof`` reconstructs any past state.

        The caller supplies ``effective_ts`` (deterministic, replay-safe —
        re-running the same merge is a no-op because nothing differs).
        Updates must carry every tracked (non-version, non-id) column.

        100 TB shape: identical to ``update`` — current rows join the
        (broadcastable) update frame; with ``partition_by`` on a stable key
        the rewrite prunes to touched partitions.

        Returns counts {"closed", "inserted", "unchanged"}: ``closed`` =
        current rows whose tracked values differed (each gets a new
        version, counted again in ``inserted``); ``inserted`` = closed +
        brand-new keys; ``unchanged`` = EVERY current row left open —
        matched-but-identical rows AND rows no update addressed (so
        closed + unchanged = the pre-merge current-row count; unchanged is
        NOT "matched and identical" alone).
        """
        files = self._recover()  # write entry point: finish any crashed swap first
        base = self._df(files)
        # persisted: the missing/dup guards, the join, and
        # the fresh anti-join all consume this frame — one materialization
        # certifies them all (and stops a nondeterministic update lineage
        # from passing the dup guard on one realization yet presenting a
        # duplicate key to the join). Released in the finally below.
        up = self._to_df(updates).persist()
        j = None
        id_src = None
        try:
            meta = {ID_COL, self.VALID_FROM, self.VALID_TO}
            if on not in base.columns:
                raise ValueError(
                    f"SCD2 key {on!r} does not exist in the dataset "
                    f"(columns: {base.columns})"
                )
            tracked = [c for c in base.columns if c not in meta and c != on]
            missing = [c for c in tracked if c not in up.columns]
            if missing:
                raise ValueError(
                    f"SCD2 updates must carry all tracked columns; missing {missing}"
                )
            extra = [c for c in up.columns if c != on and c not in tracked]
            if extra:
                # same contract as update(): silently discarding a column
                # the caller supplied (a typo'd rename, or an expected
                # schema evolution) loses data without a trace — evolution
                # goes through create()
                raise ValueError(
                    f"SCD2 update columns {extra} do not exist in the dataset's "
                    "tracked columns (schema changes go through create()'s "
                    "evolution path; version/id columns are engine-owned)"
                )

            current = base.filter(F.col(self.VALID_TO).isNull())
            closed_hist = base.filter(F.col(self.VALID_TO).isNotNull())
            # explicit match marker: testing a data column for null would
            # misread an update row whose first tracked value is
            # legitimately NULL as "unmatched" and fork a duplicate current
            # version for the key
            # Cast update columns (and the key) to the BASE types, same
            # contract as update(): a wider-typed update frame (Python ints
            # → long vs stored int) would otherwise rewrite the stored
            # column type dataset-wide through the insert-side unionByName
            # coercion — even on a no-op replay, breaking both the
            # replay-idempotence contract and create()'s evolution gate.
            base_types = {f.name: f.dataType for f in base.schema.fields}
            u = up.select(
                F.col(on).cast(base_types[on]).alias("__u_key"),
                F.lit(True).alias("__matched"),
                *[F.col(c).cast(base_types[c]).alias(f"__u_{c}") for c in tracked],
            )
            # guard on the CAST key — the key the join consumes (see
            # _check_unique_keys: raw string keys '1'/'01' both cast to
            # long 1 and would close the same current row twice, breaking
            # the one-current-row invariant)
            self._check_unique_keys(u, "__u_key", display=on)
            # NULL-SAFE key match: a NULL-keyed dimension row is unusual but
            # legal, and plain `on` equality never matches NULL=NULL — so an
            # identical replay would re-insert the NULL-key row as a new
            # current version on EVERY merge, breaking both the no-op-replay
            # contract and the one-current-row invariant (the same class
            # streaming/ingest.py guards with eqNullSafe).
            j = (
                current.join(u, F.col(on).eqNullSafe(F.col("__u_key")), "left")
                .drop("__u_key")
                .localCheckpoint(eager=True)
            )
            matched = F.coalesce(F.col("__matched"), F.lit(False))
            same = F.lit(True)
            for c in tracked:
                same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
            changed = matched & ~same
            # current rows: close the changed ones, keep the rest as-is
            kept = j.select(
                *[
                    (
                        F.when(changed, F.lit(effective_ts).cast("timestamp")).alias(
                            self.VALID_TO
                        )
                        if c == self.VALID_TO
                        else F.col(c)
                    )
                    for c in base.columns
                ]
            )
            # one aggregation pass over the (checkpointed) join for both counts
            n_changed, n_current = j.agg(
                F.sum(changed.cast("long")), F.count(F.lit(1))
            ).collect()[0]
            n_changed = int(n_changed or 0)
            matched_keys = j.filter(matched).select(F.col(on).alias("__mk"))
            # reuse the persisted `up` (not a second _to_df conversion), and
            # match NULL-safely for the same replay-safety reason as above
            fresh = up.join(
                matched_keys, F.col(on).eqNullSafe(F.col("__mk")), "left_anti"
            )
            changed_new = (
                j.filter(changed)
                .select(on, *[F.col(f"__u_{c}").alias(c) for c in tracked])
            )
            fresh_cast = fresh.select(
                F.col(on).cast(base_types[on]).alias(on),
                *[F.col(c).cast(base_types[c]).alias(c) for c in tracked],
            )
            inserts = changed_new.unionByName(fresh_cast).withColumn(
                self.VALID_FROM, F.lit(effective_ts).cast("timestamp")
            ).withColumn(self.VALID_TO, F.lit(None).cast("timestamp"))
            start = self._next_id_start(files)
            id_src = inserts.select(*[c for c in base.columns if c != ID_COL])
            # the id pass counts the inserts: changed keys plus fresh ones
            inserts, n_inserted = assign_contiguous_ids_with_count(
                id_src, start=start, partition_by=self.partition_by
            )
            out = closed_hist.unionByName(kept).unionByName(
                inserts.select(*base.columns)
            )
            n_unchanged = int(n_current) - n_changed
            self._rewrite(out, files)
        finally:
            # A long-running service merges repeatedly: release the per-call
            # resources that would otherwise accumulate for the session
            # lifetime — the id-assignment persist() is a strong CacheManager
            # reference (create() releases its own the same way), and the
            # eager localCheckpoint's RDD blocks are freed deterministically
            # only by a targeted unpersist (see runtime.py). The finally
            # covers the WHOLE body after the persist/checkpoint, so a
            # failure while building the output plan cannot leak blocks.
            up.unpersist()
            if id_src is not None:
                id_src.unpersist()
            if j is not None:
                release_local_checkpoint(j)
        return {
            "closed": n_changed,
            "inserted": n_inserted,
            "unchanged": n_unchanged,
        }

    def read_asof(self, ts: str) -> DataFrame:
        """Time travel: the table state as of ``ts`` (rows whose validity
        interval covers it)."""
        t = F.lit(ts).cast("timestamp")
        return self._df().filter(
            (F.col(self.VALID_FROM) <= t)
            & (F.col(self.VALID_TO).isNull() | (F.col(self.VALID_TO) > t))
        )

    # ------------------------------------------------------------ layout / stats

    def normalize(
        self,
        max_rows_per_file: int = 1_000_000,
        cluster_by: list[str] | None = None,
        layout: str = "linear",
    ) -> None:
        """Rewrite the dataset into evenly sized files (reference: parquetdb
        normalize, loaders/base.py:184-186 — '6GB file … should be ~2GB').

        ``cluster_by``: range-partition + sort the rewrite on these columns,
        so each file (and each parquet row group inside it) covers a narrow
        value range. Parquet min/max footer stats then let ANY engine skip
        whole files/row groups for predicates on those columns — the
        data-skipping layout (Delta/Iceberg "cluster by" / ZORDER's 1-D case)
        that turns a 100 TB scan-with-filter into a touch-few-files read.
        tests/test_db.py asserts the post-rewrite stats are actually narrow.

        ``layout="zorder"`` (with 2+ numeric ``cluster_by`` columns)
        interleaves the columns' bit planes into a Morton key and clusters on
        THAT (operators/skew.zorder_key) — every clustered column gets narrow
        per-file ranges simultaneously, where the linear sort leaves all but
        the first column full-range. This is Delta/Iceberg ZORDER semantics;
        the multi-dim skipping win is asserted file-by-file in
        tests/test_db.py.

        Locally this is repartition + maxRecordsPerFile; at 100 TB the same
        rewrite runs as a distributed compaction job (AQE balances the
        shuffle). Raises ValueError for an unknown ``layout``, a z-order
        without ``cluster_by`` and a ``max_rows_per_file`` below 1."""
        if layout not in ("linear", "zorder"):
            raise ValueError(f"unknown layout {layout!r}; one of 'linear', 'zorder'")
        if layout == "zorder" and not cluster_by:
            raise ValueError("layout='zorder' needs cluster_by columns to interleave")
        if max_rows_per_file < 1:
            raise ValueError(f"max_rows_per_file must be at least 1, got {max_rows_per_file}")
        files = self._recover()  # write entry point: finish any crashed swap first
        df = self._guard_partition_values(self._df(files))  # before the sort —
        # see _rewrite: a post-sort guard projection makes the writer
        # re-sort on partition columns alone, destroying the cluster order
        n_files = max(1, math.ceil(self._footer_rows(files) / max_rows_per_file))
        if not cluster_by:
            self._rewrite(df, files, n_files=n_files, max_records_per_file=max_rows_per_file, partition_values_guarded=True)
            return
        keys = [F.col(c) for c in cluster_by]
        if layout == "zorder":
            from crystal_parquet_database_spark.operators.skew import zorder_key

            df, key = zorder_key(df, cluster_by)
            keys = [F.col(key)]
        if self.partition_by:
            # Hive-partitioned: cluster on the PARTITION columns first (each
            # partition value in ONE task — a range-partition on the cluster
            # key alone spreads every value over all n_files tasks and the
            # partitioned writer then emits up to n_files × n_values tiny
            # files, the same anti-compaction pathology _rewrite's n_files
            # path guards against), then sort (partition cols, cluster key)
            # within tasks so each per-value file is still written in
            # cluster-key order — maxRecordsPerFile splits preserve the
            # sort, so per-file min/max stats stay narrow on the clustered
            # dimensions.
            pcols = [F.col(c) for c in self.partition_by]
            df = df.repartition(n_files, *pcols).sortWithinPartitions(*pcols, *keys)
        else:
            df = df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)
        if layout == "zorder":
            df = df.drop(key)
        self._rewrite(df, files, max_records_per_file=max_rows_per_file, partition_values_guarded=True)

    @property
    def n_rows(self) -> int:
        """Row count from the data files' footers — no Spark job. Raises
        like ``read()`` on a dataset without data files."""
        files = self._data_files()
        if not files:
            self._df(files)  # raises the empty-dataset error
        return self._footer_rows(files)

    @property
    def n_columns(self) -> int:
        return len(self._df().columns)

    def get_schema(self) -> T.StructType:
        return self._df().schema

    def get_file_sizes(self) -> dict[str, int]:
        return {f: os.path.getsize(f) for f in self._data_files()}

    def get_number_of_row_groups_per_file(self) -> dict[str, int]:
        import pyarrow.parquet as pq

        return {f: pq.read_metadata(f).num_row_groups for f in self._data_files()}

    def get_n_rows_per_row_group_per_file(self) -> dict[str, list[int]]:
        import pyarrow.parquet as pq

        out = {}
        for f in self._data_files():
            md = pq.read_metadata(f)
            out[f] = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        return out

    def get_row_group_sizes_per_file(self) -> dict[str, list[int]]:
        import pyarrow.parquet as pq

        out = {}
        for f in self._data_files():
            md = pq.read_metadata(f)
            out[f] = [md.row_group(i).total_byte_size for i in range(md.num_row_groups)]
        return out
