"""The benchmark's workloads: closed loop, one client, whole passes.

Every op is timed on its own and recorded as ``{"op", "name", "kind",
"warmup", "wall_s", "cpu_s", "ok"}`` (traced runs add Spark counter deltas
and plan facts). ``cpu_s`` is what ``cputime.CpuMeter`` counts over the op.
Result checks run outside the timed part of each op; an op that raises or
fails its check counts as failed, and the run goes on.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crystal_parquet_database_spark import testing
from crystal_parquet_database_spark.db import PqDB
from crystal_parquet_database_spark.plans import inspect as plan_inspect
from crystal_parquet_database_spark.runtime import release_all_session_blocks
from crystal_parquet_database_spark.sources import LoaderConfig, LoaderFactory
from crystal_parquet_database_spark.surface import ORACLES, QUERIES

from cputime import CpuMeter
from tracing import job_counters, max_job_id

LLM_OPERATORS = [
    # construction-bound: most wall time is eager jobs inside operators/
    "sim_pq_trained_recall_at_k",
    "sim_ivfpq_trained_recall_at_k",
    # execution-bound: show whether an operator change taxes the scan path
    "dedup_minhash_lsh",
    "text_bm25_topk",
]

CRYSTAL_SOURCES = [("alex", "3d"), ("materials_project", "summary"), ("materialscloud", "mc3d")]
CRYSTAL_PER_SOURCE = 60
POINT_READS = 8
SCAN_READS = 4
UPDATES = 1
DELETES = 1
DELETE_KEYS = 3


class Loop:
    """Runs ops, times them, checks them and keeps the records."""

    def __init__(self, spark, tracer, meter: CpuMeter | None = None):
        self.spark = spark
        self.tracer = tracer
        self.traced = tracer.enabled
        self.meter = meter or CpuMeter(spark.sparkContext._gateway.proc.pid)
        self.ops: list[dict] = []
        self.untimed_s = 0.0  # result checks and trace bookkeeping between timed parts
        self.untimed_cpu_s = 0.0
        self.passes = 0  # timed passes
        self.warmup = False  # ops of the warm-up pass are checked but not timed samples
        self.warmup_s = 0.0
        self.timed_s = 0.0
        self._rec: dict | None = None  # the op being timed

    @property
    def failed(self) -> int:
        return sum(not op["ok"] for op in self.ops)

    def _fail(self, rec: dict, msg: str) -> None:
        """Mark ``rec`` failed; ``msg`` is a check's message or a traceback."""
        rec["ok"] = False
        rec["error"] = msg.strip().splitlines()[-1][:500]
        print(f"perfbench: FAILED op {rec['op']} {rec['name']}: {msg[-4000:]}", file=sys.stderr)

    def run(self, name: str, kind: str, body, check=None):
        """Time ``body()``, then ``check(result) -> (ok, msg)`` untimed.
        Returns the result, or None if the op raised."""
        rec = self._begin(name, kind)
        c0 = self.meter.read()
        t0 = time.perf_counter()
        try:
            result = body()
        except Exception:  # noqa: BLE001 - a failing op is data, not a crash
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.meter.read() - c0
            self._fail(rec, traceback.format_exc())
            return self._end(rec)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.meter.read() - c0
        if check is not None:
            self._untimed(lambda: self._check(rec, check, result))
        return self._end(rec, result)

    def _check(self, rec, check, result) -> None:
        try:
            ok, msg = check(result)
        except Exception:  # noqa: BLE001
            ok, msg = False, f"check raised: {traceback.format_exc()}"
        if not ok:
            self._fail(rec, msg)

    def _untimed(self, fn):
        """Run ``fn`` outside op timing. Spans it opens belong to no op, and
        the Spark work it does is kept out of the op's counters."""
        c, t, op = self.meter.read(), time.perf_counter(), self.tracer.op
        self.tracer.op = None
        rec = self._rec if self.traced else None
        before = max_job_id(self.spark) if rec else None
        try:
            return fn()
        finally:
            if rec:
                rec["_excluded"].update(range(before + 1, max_job_id(self.spark) + 1))
            self.tracer.op = op
            self.untimed_s += time.perf_counter() - t
            self.untimed_cpu_s += self.meter.read() - c

    def _begin(self, name: str, kind: str) -> dict:
        rec = {"op": len(self.ops), "name": name, "kind": kind, "warmup": self.warmup, "ok": True}
        group = f"perfbench-op-{rec['op']}"
        self.spark.sparkContext.setJobGroup(group, name)
        self.tracer.op = rec["op"]
        self._rec = rec
        if self.traced:
            rec["_group"] = group
            rec["_excluded"] = set()  # jobs of untimed work inside the op
            rec["_first_job"] = max_job_id(self.spark) + 1
        return rec

    def _end(self, rec: dict, result=None):
        if self.traced:
            group, first, excluded = rec.pop("_group"), rec.pop("_first_job"), rec.pop("_excluded")
            jobs = [j for j in range(first, max_job_id(self.spark) + 1) if j not in excluded]
            rec["spark"] = job_counters(self.spark, jobs, group)
        self.tracer.op = None
        self._rec = None
        self.ops.append(rec)
        return result

    def execute(self, action):
        with self.tracer.span("spark.execute"):
            return action()

    def _op_time(self, one_pass) -> float:
        """Run ``one_pass()``; return its wall time less untimed work."""
        u0, t0 = self.untimed_s, time.perf_counter()
        one_pass()
        return time.perf_counter() - t0 - (self.untimed_s - u0)

    def run_passes(self, one_pass, seconds: float) -> None:
        """One warm-up pass, whose time counts as set-up, then timed passes
        until at least ``seconds`` of op time have passed (one at least)."""
        self.warmup = True
        self.warmup_s = self._op_time(one_pass)
        self.warmup = False
        while self.timed_s < seconds or not self.passes:
            self.timed_s += self._op_time(one_pass)
            self.passes += 1


# --------------------------------------------------------------- query workloads


def _inspect(loop: Loop, rec: dict, name: str, frame, sf_dir: str, checked: set, plan_facts: dict, con, oracles) -> None:
    """Untimed: oracle check on a query's first run, plan facts when traced."""
    if name not in checked:
        checked.add(name)
        loop._check(rec, lambda f: testing.compare_query(
            loop.spark, name, sf_dir, con=con, query_fn=lambda *_: f, oracle=oracles[name]), frame)
    if loop.traced:
        if name not in plan_facts:
            plan = plan_inspect.formatted_plan(frame)
            joins = plan_inspect.join_strategies(frame, plan)
            plan_facts[name] = {
                "exchanges": plan_inspect.num_shuffles(frame, plan),
                "broadcast_joins": joins.count("BroadcastHashJoin"),
                "sort_merge_joins": joins.count("SortMergeJoin"),
            }
        rec["plan"] = plan_facts[name]


def query_pass(loop: Loop, names: list[str], sf_dir: str, checked: set, plan_facts: dict, con, oracles=ORACLES) -> None:
    """One pass over ``names``, in list order. An op is construction
    (``QUERIES[name]``), execution through the ``noop`` sink and release of
    the session's checkpoint blocks. Each distinct query is compared against
    its DuckDB oracle the first time it runs, between execution and release
    (the frame still holds its checkpoints), outside the timed part."""
    spark, tracer = loop.spark, loop.tracer
    for name in names:
        rec = loop._begin(name, "query")
        untimed0, untimed_cpu0 = loop.untimed_s, loop.untimed_cpu_s
        c0 = loop.meter.read()
        t0 = time.perf_counter()
        try:
            with tracer.span("surface.construct"):
                frame = QUERIES[name](spark, sf_dir)
            if loop.traced:
                with tracer.span("spark.plan"):
                    frame._jdf.queryExecution().executedPlan()
            loop.execute(lambda: frame.write.format("noop").mode("overwrite").save())
            loop._untimed(lambda: _inspect(loop, rec, name, frame, sf_dir, checked, plan_facts, con, oracles))
        except Exception:  # noqa: BLE001
            loop._fail(rec, traceback.format_exc())
        finally:
            with tracer.span("runtime.release") as span:
                span["blocks"] = release_all_session_blocks(spark)
        rec["wall_s"] = time.perf_counter() - t0 - (loop.untimed_s - untimed0)
        rec["cpu_s"] = loop.meter.read() - c0 - (loop.untimed_cpu_s - untimed_cpu0)
        loop._end(rec)


def run_queries(loop: Loop, names: list[str], sf_dir: str, seconds: float, oracles=ORACLES) -> None:
    con = testing.duckdb_connection(sf_dir)
    checked: set = set()
    plan_facts: dict = {}
    try:
        loop.run_passes(
            lambda: query_pass(loop, names, sf_dir, checked, plan_facts, con, oracles), seconds
        )
    finally:
        con.close()


# --------------------------------------------------------------- crystal workload


def _expect(cond: bool, msg: str):
    return (True, "") if cond else (False, msg)


def _checksum(db: PqDB) -> int:
    df = db.read()
    return df.select(F.bit_xor(F.xxhash64(*sorted(df.columns))).alias("h")).collect()[0]["h"]


def _file_sizes(db: PqDB) -> dict:
    return db.get_file_sizes() if os.path.isdir(db.path) else {}


def crystal_pass(loop: Loop, src_dir: str, pass_dir: str, facts: dict, rng) -> dict:
    """Ingest every source into a fresh combined DB, then point reads, nested
    range scans, updates, deletes, normalize and a read-back, each checked
    against the generator's facts. Returns the pass's write and layout
    figures (bytes written are counted only when traced)."""
    spark = loop.spark
    records = facts["records"]
    db = PqDB(spark, os.path.join(pass_dir, "combined"))
    cfg = LoaderConfig(data_dir=src_dir, ingest_from_scratch=True)
    stats = {"rows_ingested": 0, "bytes_written": 0}

    def write_op(name, kind, body, check):
        before = loop._untimed(lambda: _file_sizes(db)) if loop.traced else None
        result = loop.run(name, kind, body, check)
        if loop.traced:
            after = loop._untimed(lambda: _file_sizes(db))
            stats["bytes_written"] += sum(sz for p, sz in after.items() if before.get(p) != sz)
        return result

    def count_is(n_want, what):
        def check(_):
            n = db.read(columns=["id"]).count()
            return _expect(n == n_want, f"{what}: {n} rows, expected {n_want}")
        return check

    for source_database, source_dataset in CRYSTAL_SOURCES:
        loader = LoaderFactory.get_loader(spark, source_database, source_dataset, cfg)
        canonical = loop.run(f"load:{source_database}/{source_dataset}", "ingest_run", loader.run)
        if canonical is None:
            continue
        n_want = sum(r["source_database"] == source_database for r in records.values())
        n = write_op(
            f"create:{source_database}/{source_dataset}", "ingest_create", lambda: db.create(canonical),
            lambda n: _expect(n == n_want, f"create wrote {n} rows, expected {n_want}"),
        )
        if n:
            stats["rows_ingested"] += n
            if loop.traced:
                span = next(s for s in reversed(loop.tracer.spans) if s["name"] == "sources.run")
                span["rows"] = n

    keys = [str(k) for k in rng.choice(sorted(records), POINT_READS + DELETES * DELETE_KEYS, replace=False)]
    point_keys, rest = keys[:POINT_READS], keys[POINT_READS:]
    delete_keys = [rest[i * DELETE_KEYS:(i + 1) * DELETE_KEYS] for i in range(DELETES)]
    mp_keys = [k for k in sorted(records) if records[k]["source_database"] == "materials_project" and k not in keys]
    update_keys = [str(k) for k in rng.choice(mp_keys, UPDATES, replace=False)]

    def check_point(k):
        def check(rows):
            if len(rows) != 1:
                return False, f"point read {k}: {len(rows)} rows"
            row, want = rows[0], records[k]
            got = {"source_database": row["source_database"], "n_sites": len(row["species"] or [])}
            if "energy_total" in want:
                got["energy_total"] = row["data"]["energy_total"]
            if "a" in want:
                got["a"] = row["lattice"]["a"]
            return _expect(got == want, f"point read {k}: got {got}, want {want}")
        return check

    for k in point_keys:
        loop.run(
            "point_read", "point_read",
            lambda k=k: loop.execute(db.read(filters=[("source_id", "==", k)]).collect),
            check_point(k),
        )

    for t in np.round(rng.uniform(0.5, 7.5, SCAN_READS), 3):
        t, want = float(t), sum(g > t for g in facts["band_gaps"])
        loop.run(
            "scan_read", "scan_read",
            lambda t=t: loop.execute(
                db.read(columns=["id", "source_id", "data.band_gap"], filters=[("data.band_gap", ">", t)]).collect
            ),
            lambda rows, t=t, want=want: _expect(
                len(rows) == want and all(r["band_gap"] > t for r in rows),
                f"scan band_gap > {t}: {len(rows)} rows, expected {want}",
            ),
        )

    def prepare_update(k):
        """An (id, data) frame that sets one record's band gap."""
        row = db.read(columns=["id", "data"], filters=[("source_id", "==", k)]).collect()[0]
        data = row["data"].asDict()
        data["band_gap"] = round(float(rng.uniform(10.0, 20.0)), 4)
        schema = db.get_schema()
        frame = spark.createDataFrame([(row["id"], data)], T.StructType([schema["id"], schema["data"]]))
        return frame, data["band_gap"]

    def check_update(k, gap):
        def check(_):
            rows = db.read(columns=["data.band_gap"], filters=[("source_id", "==", k)]).collect()
            return _expect([r["band_gap"] for r in rows] == [gap], f"update {k}: read back {rows}, expected {gap}")
        return check

    for k in update_keys:
        upd, gap = loop._untimed(lambda k=k: prepare_update(k))
        write_op("update", "mutate", lambda upd=upd: db.update(upd, on="id"), check_update(k, gap))

    n_live = len(records)
    for ks in delete_keys:
        n_live -= len(ks)
        write_op("delete", "mutate", lambda ks=ks: db.delete(where=F.col("source_id").isin(ks)), count_is(n_live, "delete"))

    checksum = loop._untimed(lambda: _checksum(db))
    write_op(
        "normalize", "normalize", lambda: db.normalize(max_rows_per_file=CRYSTAL_PER_SOURCE),
        lambda _: _expect(_checksum(db) == checksum, "normalize changed the row checksum"),
    )

    want_ids = sorted(set(records) - {k for ks in delete_keys for k in ks})
    loop.run(
        "read_back", "read_back",
        lambda: loop.execute(db.read(columns=["id", "source_id"]).collect),
        lambda rows: _expect(
            sorted(r["source_id"] for r in rows) == want_ids and len({r["id"] for r in rows}) == len(rows),
            f"read-back: {len(rows)} rows, expected {len(want_ids)} with unique ids",
        ),
    )

    sizes = loop._untimed(lambda: _file_sizes(db))
    stats["files"] = len(sizes)
    stats["live_bytes"] = sum(sizes.values())
    stats["stored_bytes_per_row"] = stats["live_bytes"] / n_live
    return stats


def run_crystal(loop: Loop, work: str, src_dir: str, facts: dict, seed: int, seconds: float) -> dict:
    """Crystal passes, each in a fresh directory removed after it. Returns
    the timed passes' rows ingested and bytes written, and the last pass's
    layout."""
    rng = np.random.default_rng(seed)
    n_pass = itertools.count()
    totals = {"rows_ingested": 0, "bytes_written": 0}

    def one_pass():
        pass_dir = os.path.join(work, f"pass{next(n_pass)}")
        try:
            stats = crystal_pass(loop, src_dir, pass_dir, facts, rng)
        finally:
            loop._untimed(lambda: shutil.rmtree(pass_dir, ignore_errors=True))
        if not loop.warmup:
            totals.update(stats, rows_ingested=totals["rows_ingested"] + stats["rows_ingested"],
                          bytes_written=totals["bytes_written"] + stats["bytes_written"])

    loop.run_passes(one_pass, seconds)
    return totals
