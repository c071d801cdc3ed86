"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench/tests -q

Starts one Spark session (about two minutes in all). Checks that the metric
names agree with BENCHMARK.json, that the status-store counters repeat
exactly, that the CPU meter counts op work but not the JIT, and that a
wrong expectation is counted as a failed op without stopping the run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run as bench  # noqa: E402
import trace_report  # noqa: E402


def test_metric_names_match_benchmark_json():
    spec = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace_report.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)


@pytest.fixture(scope="module")
def session():
    """A Spark session set up as a benchmark run sets it up, with its work
    dir under .perfbench/ like a run's."""
    work = bench.ROOT / ".perfbench" / f"selftest-{os.getpid()}"
    bench.prepare_env(work)
    import datagen

    data = str(work / "data")
    datagen.write_tables(data, seed=7)
    spark, _ = bench.start_session()
    try:
        yield spark, data, str(work)
    finally:
        bench.stop_session(spark)
        os.chdir(bench.ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _one_pass(spark, data, names, oracles=None, traced=False):
    """A warm-up pass and one timed pass over ``names``."""
    import workloads
    from tracing import Tracer

    loop = workloads.Loop(spark, Tracer(spark, enabled=traced))
    kwargs = {"oracles": oracles} if oracles else {}
    workloads.run_queries(loop, names, data, seconds=0, **kwargs)
    return loop


def test_job_counts_repeat_exactly(session):
    """The drained status store gives the same per-op job counts on every
    repetition, and they agree with the scheduler's own job counter summed
    over the op's spans."""
    spark, data, _ = session
    for name in ("q6_revenue_forecast", "sim_pq_trained_recall_at_k"):
        counts = []
        for _ in range(3):
            loop = _one_pass(spark, data, [name], traced=True)
            for op in loop.ops:
                assert op["ok"], op
                spans = [s for s in loop.tracer.spans if s["op"] == op["op"]]
                assert op["spark"]["jobs"] == sum(s["jobs"] for s in spans if s["parent"] is None)
            (timed,) = [op for op in loop.ops if not op["warmup"]]
            construct = next(s for s in loop.tracer.spans if s["op"] == timed["op"] and s["name"] == "surface.construct")
            counts.append((timed["spark"]["jobs"], construct["jobs"]))
        assert len(set(counts)) == 1, (name, counts)


def test_wrong_oracle_counts_as_failed_and_run_continues(session):
    from crystal_parquet_database_spark.surface import ORACLES

    spark, data, _ = session
    oracles = dict(ORACLES, q6_revenue_forecast="SELECT 1 AS revenue")
    loop = _one_pass(spark, data, ["q6_revenue_forecast", "q1_pricing_summary"], oracles=oracles)
    # checked once each, in the warm-up pass; the timed pass still runs both
    assert [(op["name"], op["ok"]) for op in loop.ops] == [
        ("q6_revenue_forecast", False), ("q1_pricing_summary", True),
        ("q6_revenue_forecast", True), ("q1_pricing_summary", True),
    ]
    assert loop.failed == 1


def test_cpu_meter_counts_op_work_and_skips_jit_threads(session):
    """The meter grows with work the JVM does for an op, and it recognises
    this JVM's JIT compiler threads by name (else their time would count)."""
    from cputime import CpuMeter
    from pyspark import SparkContext

    spark, _, _ = session
    meter = CpuMeter(SparkContext._gateway.proc.pid)
    c0 = meter.read()
    spark.range(20_000_000).selectExpr("sum(id % 7)").collect()
    assert meter.read() - c0 > 0.05
    assert meter._skip, "no thread named like a JIT compiler thread"


def test_wrong_crystal_fact_counts_as_failed(session):
    import datagen
    import workloads
    from tracing import Tracer

    spark, _, work = session
    src = str(Path(work) / "crystal_sources")
    facts = datagen.write_crystal_sources(src, seed=7, n_per_source=20)
    facts["band_gaps"] += [100.0] * 3  # every scan now expects 3 rows too many
    loop = workloads.Loop(spark, Tracer())
    workloads.run_crystal(loop, work, src, facts, seed=7, seconds=0)
    failed = [op["kind"] for op in loop.ops if not op["ok"]]
    assert failed == ["scan_read"] * workloads.SCAN_READS * 2  # warm-up and timed pass
    assert loop.failed < len(loop.ops)
