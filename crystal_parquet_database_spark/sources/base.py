"""Staged, idempotent loader pipeline (reference: crystpqdb/loaders/base.py).

Reference stages (base.py:224-243): download → load → ingest → normalize →
read → transform, each skip-if-exists so the pipeline is safe to re-run
(base.py:71-87, 140-151). The Spark re-expression keeps the stage structure
(each stage's output directory is the checkpoint) but:

- ``load``+``ingest`` collapse into one lazy DataFrame read + PqDB.create
  (Spark reads .json.bz2 natively, so the reference's decompress stage A3
  disappears entirely);
- the concurrency boundary is executor tasks, not a driver-side thread pool
  (alexandria.py:106-127's ThreadPoolExecutor fan-out);
- ``read`` returns the lazy DataFrame — nothing materializes on the driver
  (the reference is eager and needs ~64 GB RAM; README.md:120).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from crystal_parquet_database_spark.db import PqDB
from crystal_parquet_database_spark.functions.nested import list_struct_field_sql, site_elements_sql
from crystal_parquet_database_spark.schema import sql_str, to_canonical


@dataclass
class LoaderConfig:
    """Mirrors the reference LoaderConfig (base.py:55-66), minus its
    thread-pool size and free-form extras: concurrency here is executor
    tasks (see the module docstring), and nothing reads extras."""

    data_dir: str = "data"
    timeout_seconds: int = 60
    download_from_scratch: bool = False
    ingest_from_scratch: bool = False
    normalize_rows_per_file: int = 1_000_000


class BaseLoader:
    """Subclass contract: set source_database/source_dataset, implement
    ``_download(raw_dir)`` and ``_read_raw(spark, raw_dir) -> DataFrame`` and
    ``_transform(df) -> DataFrame`` (canonical-superset output)."""

    source_database: str = ""
    source_dataset: str = ""

    def __init__(self, spark: SparkSession, config: LoaderConfig | None = None):
        self.spark = spark
        self.config = config or LoaderConfig()

    # ------------------------------------------------------------- directories
    # layout mirrors loaders/base.py:104-123 / loaders/README.md:64-85
    @property
    def base_dir(self) -> str:
        return os.path.join(self.config.data_dir, self.source_database, self.source_dataset)

    @property
    def raw_dir(self) -> str:
        return os.path.join(self.base_dir, "raw")

    @property
    def interim_db_dir(self) -> str:
        return os.path.join(self.base_dir, "interim", "pqdb")

    # ------------------------------------------------------------------ stages

    @staticmethod
    def _has_corpus_files(raw_dir: str) -> bool:
        """One definition of "this dir holds corpus content": `_`-prefixed
        entries are our sentinels, dot-prefixed entries are in-flight download
        temps (alexandria's ".name.part") — neither counts. The pre-placed
        check and the failure cleanup in download() MUST agree on this, or a
        dir holding only temps masquerades as a user corpus (masked retry)."""
        return any(not f.startswith(("_", ".")) for f in os.listdir(raw_dir))

    def download(self) -> str:
        """Stage 1 — fetch source files. Idempotent (reference parity:
        skip-if-exists, base.py:146-148 — hardened): OUR OWN downloads leave
        a STARTED sentinel that flips to COMPLETE at the end, so a run
        killed mid-download is detected and re-entered — ``_download``'s
        per-file skip-if-exists turns the re-entry into a RESUME of just the
        missing files instead of a silent ingest of a partial corpus. A
        non-empty raw_dir with NO sentinel is the offline contract (the user
        pre-placed a complete corpus) and is honored as before. Sentinels
        are ``_``-prefixed so Spark's readers ignore them."""
        started = os.path.join(self.raw_dir, "_DOWNLOAD_STARTED")
        complete = os.path.join(self.raw_dir, "_DOWNLOAD_COMPLETE")
        if not self.config.download_from_scratch:
            if os.path.exists(complete):
                return self.raw_dir
            if (
                os.path.isdir(self.raw_dir)
                and not os.path.exists(started)
                and self._has_corpus_files(self.raw_dir)
            ):
                return self.raw_dir  # pre-placed files, not our partial run
        os.makedirs(self.raw_dir, exist_ok=True)
        # A new attempt invalidates any prior COMPLETE sentinel BEFORE the
        # STARTED marker goes down: a from-scratch refresh killed mid-run
        # would otherwise leave the old COMPLETE behind, and every later
        # default run would return early above and silently ingest the
        # half-refreshed mixed corpus.
        try:
            os.remove(complete)
        except OSError:
            pass
        pre_started = os.path.exists(started)

        def corpus_snapshot() -> set[str]:
            return {f for f in os.listdir(self.raw_dir) if not f.startswith(("_", "."))}

        before = corpus_snapshot()
        with open(started, "w") as fh:
            fh.write("in-progress\n")
        try:
            self._download(self.raw_dir)
        except BaseException:
            # A failed attempt that downloaded NOTHING must return the dir to
            # its prior state: leaving OUR STARTED sentinel behind would
            # permanently mask the pre-placed-files branch above, so a user
            # who follows the error's advice and drops a corpus into raw_dir
            # (or already HAD one and ran a doomed from-scratch refresh)
            # would still be routed into _download forever. "Downloaded
            # nothing" = the corpus file set is unchanged by this attempt
            # and no earlier partial run owns the sentinel; an attempt that
            # added files keeps it — that is the resume case. An empty dir
            # always reverts (nothing to resume).
            added_nothing = not pre_started and corpus_snapshot() == before
            if added_nothing or not self._has_corpus_files(self.raw_dir):
                try:
                    os.remove(started)
                except OSError:
                    pass
            raise
        os.replace(started, complete)
        return self.raw_dir

    def _ingest_started_marker(self) -> str:
        """STARTED marker for the ingest stage, SIBLING to the interim dir
        (inside it, PqDB.normalize()'s swap-rewrite would silently drop it;
        the name must not match _rewrite's ``__old_*``/``__tmp_*`` globs)."""
        return f"{self.interim_db_dir}__STARTED"

    def ingest(self) -> PqDB:
        """Stages 2-3 — read raw files lazily, append into the interim PqDB
        (schema inference + evolution + id assignment happen in create).

        Same STARTED-marker protocol as download(): data present WITHOUT our
        marker is a completed or pre-placed corpus — trusted; data present
        WITH the marker is OUR run killed mid-create() (a partially
        committed write that skip-if-exists would otherwise serve as a
        silently truncated corpus forever) — rebuilt. A partial create()
        cannot be resumed: create appends, so re-ingesting over it would
        duplicate rows instead."""
        started = self._ingest_started_marker()
        pqdb = PqDB(self.spark, self.interim_db_dir)
        # ingest is a write path: finish any crashed swap BEFORE the
        # skip-if-complete check (`exists` is read-only; without this a
        # corpus parked in swap siblings would look absent and be
        # re-ingested on top of the recovered rows as duplicates).
        # recover() returns `exists`: one listing, not two
        if pqdb.recover():
            if not self.config.ingest_from_scratch and not os.path.exists(started):
                return pqdb
            # REBUILD (explicit from-scratch, or our own interrupted run):
            # create() appends, so ingesting over the existing interim DB
            # would silently duplicate every row under fresh ids. destroy()
            # (not a bare rmtree) also clears __old_*/__tmp_* crash
            # siblings — a stale __old_* would otherwise be "recovered"
            # into the emptied path and the fresh corpus appended on top.
            PqDB.destroy(self.interim_db_dir)
            pqdb = PqDB(self.spark, self.interim_db_dir)
        with open(started, "w") as fh:
            fh.write("in-progress\n")
        df = self._read_raw(self.spark, self.raw_dir)
        pqdb.create(df)
        os.remove(started)
        return pqdb

    def normalize(self, pqdb: PqDB) -> None:
        """Stage 4 — physical layout rewrite (base.py:184-186)."""
        pqdb.normalize(max_rows_per_file=self.config.normalize_rows_per_file)

    def transform(self, df: DataFrame) -> DataFrame:
        """Stage 6 — per-source canonicalization + permissive schema unify
        (base.py:195-216)."""
        return to_canonical(self._transform(df))

    def run(self, normalize: bool = False) -> DataFrame:
        """Full pipeline; returns the canonical lazy DataFrame.

        The download stage is skipped when a completed interim PqDB will
        satisfy ingest()'s skip branch anyway — a user who deleted the raw
        corpus to reclaim space after a successful ingest must not trigger
        a full re-download that ingest() would never read."""
        # recover(), not the read-only exists: a corpus parked in crashed-
        # swap siblings would read as absent and trigger the full raw
        # re-download this guard exists to avoid (run() is the loader's own
        # write path, so recovery here honors the single-writer discipline)
        interim_done = PqDB(self.spark, self.interim_db_dir).recover() and not os.path.exists(
            self._ingest_started_marker()
        )
        if (
            self.config.download_from_scratch
            or self.config.ingest_from_scratch
            or not interim_done
        ):
            self.download()
        pqdb = self.ingest()
        if normalize:
            self.normalize(pqdb)
        df = pqdb.read(load_format="dataset").drop("id")
        return self.transform(df)

    # ------------------------------------------------------- subclass contract

    def _download(self, raw_dir: str) -> None:
        raise NotImplementedError

    def _read_raw(self, spark: SparkSession, raw_dir: str) -> DataFrame:
        raise NotImplementedError

    def _transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _structure_projection(self, source_id: str) -> list[str]:
        """SQL text for the canonical columns that Alexandria and MP derive
        alike from a pymatgen ``structure`` column, for one ``selectExpr``."""
        return [
            f"{sql_str(self.source_database)} AS source_database",
            f"{sql_str(self.source_dataset)} AS source_dataset",
            f"{source_id} AS source_id",
            f"{site_elements_sql('structure.sites')} AS species",
            f"{list_struct_field_sql('structure.sites', 'xyz')} AS cart_coords",
            f"{list_struct_field_sql('structure.sites', 'abc')} AS frac_coords",
            "`structure`.`lattice` AS lattice",
            "`structure` AS structure",
        ]
