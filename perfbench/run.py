#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_operators --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts the Spark session, runs
one untimed warm-up pass of the workload (it completes set-up and checks
results), then timed passes in a closed loop (one client) until ``--seconds``
of timed op time have passed, and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans are written to ``.perfbench/traces/``. Everything the
run writes lives under ``.perfbench/`` in the repository root. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

from cputime import process_tree

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "crystal_parquet_database_spark"
WORKLOADS = ("llm_operators", "crystal_ingest_crud")
NCORES = 4
HEAP = "1g"  # enough at these input sizes; the pre-touched heap stays small

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cpu_p50_s": "s",
    "cpu_s_per_op": "s",
}


# ------------------------------------------------------------------ processes


def _tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and its descendants, as the sum of
    each process's PSS: pages that forked Python workers share with their
    daemon count once, where summed RSS would count them per process."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass  # the process exited between listing and reading
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of the JVM and its Python workers, sampled every
    100 ms."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, _tree_memory_bytes(self.root_pid))
            self._stop_event.wait(0.1)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        self.peak = max(self.peak, _tree_memory_bytes(self.root_pid))
        return self.peak


def start_session():
    """``session.get_spark``, timed. The rest of set-up is the workload's
    warm-up pass, which also spawns the Python workers and warms the SQL
    stack (the two warm-ups ``bench.py`` does before its timed passes)."""
    from crystal_parquet_database_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def kind_median_gmean(ops: list[dict], key: str) -> float:
    """The median of ``op[key]`` for each op name, then the geometric mean
    over the names. Every kind of op weighs the same, and no median falls in
    the gap between two kinds of op that cost very different amounts."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op[key])
    if not by_name:
        return 0.0
    return math.exp(sum(math.log(max(statistics.median(v), 1e-9)) for v in by_name.values()) / len(by_name))


# ------------------------------------------------------------------ main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, py4j and the package write inside ``work``,
    and let Python workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(NCORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, str(ROOT))
    os.chdir(work)


def run(args, work: Path) -> dict:
    prepare_env(work)
    import datagen
    import workloads
    from cputime import CpuMeter
    from tracing import Tracer, install

    from crystal_parquet_database_spark.surface import scratch

    data_dir = str(work / "data")
    if args.workload == "crystal_ingest_crud":
        facts = datagen.write_crystal_sources(data_dir, args.seed, workloads.CRYSTAL_PER_SOURCE)
    else:
        datagen.write_tables(data_dir, args.seed)

    spark = sampler = None
    try:
        spark, start_s = start_session()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        sampler = RssSampler(jvm_pid)
        sampler.start()
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            install(tracer)
        loop = workloads.Loop(spark, tracer, CpuMeter(jvm_pid, exclude_tids={sampler.native_id}))
        crystal = {}
        if args.workload == "crystal_ingest_crud":
            crystal = workloads.run_crystal(loop, str(work), data_dir, facts, args.seed, args.seconds)
        else:
            workloads.run_queries(loop, workloads.LLM_OPERATORS, data_dir, args.seconds)
    finally:
        peak_rss = sampler.stop() if sampler else 0
        if spark is not None:
            stop_session(spark)
        scratch.reap()

    # set-up ends when the first timed op can run: after the warm-up pass
    setup = {"start_s": start_s, "warm_s": loop.warmup_s, "setup_s": start_s + loop.warmup_s}
    timed = [op for op in loop.ops if not op["warmup"]]
    timed_wall = loop.timed_s
    ok = [op for op in timed if op["ok"]]
    ok_ops = len(ok)
    result = {
        "correct": loop.failed == 0,
        "attempted": len(loop.ops),
        "failed": loop.failed,
        "metrics": {},
    }
    ops_per_s = ok_ops / timed_wall if timed_wall > 0 else 0.0
    if args.trace:
        from trace_report import PER_LAYER_UNITS, per_layer_metrics

        trace = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": loop.passes,
            "setup": setup,
            "ops": timed,
            "spans": tracer.spans,
            "ops_per_s": ops_per_s,
            "crystal": crystal,
        }
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump(trace, f)
        values = per_layer_metrics(trace)
        units = PER_LAYER_UNITS
    else:
        values = {
            "setup_s": setup["setup_s"],
            "peak_rss_mb": peak_rss / 2**20,
            "cpu_p50_s": kind_median_gmean(ok, "cpu_s"),
            "cpu_s_per_op": sum(op["cpu_s"] for op in ok) / ok_ops if ok_ops else 0.0,
        }
        units = END_TO_END_UNITS
    result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={loop.passes} ops={len(loop.ops)} "
        f"failed={loop.failed} setup={setup['setup_s']:.3f}s timed={timed_wall:.3f}s untimed={loop.untimed_s:.3f}s "
        f"wall_p50={kind_median_gmean(ok, 'wall_s'):.3f}s ops_per_s={ops_per_s:.3f}",
        file=sys.stderr,
    )
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    # let ``finally`` blocks stop the JVM and remove the work dir on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
