"""The bench.py ambient-contention baseline guard (round-12, verdict ask #5):
a full-suite run whose TOTAL balloons >1.25x against the committed baseline
while the PER-QUERY MEDIAN ratio stays <1.05 carries the contention
signature (SCALE.md round-11: two of five runs inflated 1.4-1.8x with clean
guest vitals) and must be refused the BENCH_DETAIL baseline stamp. Pure
decision function — no Spark session needed."""

import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_spec = importlib.util.spec_from_file_location(
    "bench_mod",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
)
bench_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_mod)
compute_baseline_guard = bench_mod.compute_baseline_guard


def _shared(times, prev):
    common = [n for n in times if n in prev]
    return sum(times[n] for n in common), sum(prev[n] for n in common)


def test_guard_trips_on_contention_signature():
    # three heavy queries inflated 2x (dominate the total), twenty light
    # ones flat — median ~1.0, total well past 1.25x
    prev = {f"q{i}": 0.5 for i in range(20)}
    prev.update({"h1": 10.0, "h2": 10.0, "h3": 10.0})
    times = dict(prev)
    for h in ("h1", "h2", "h3"):
        times[h] = prev[h] * 2.0
    now, old = _shared(times, prev)
    g = compute_baseline_guard(times, prev, now, old)
    assert g["tripped"] is True
    assert g["median_ratio"] < 1.05 < g["total_ratio"]


def test_guard_holds_on_coherent_code_regression():
    # a real regression moves most queries together: median rises with the
    # total, so the run IS the new truth and must stamp
    prev = {f"q{i}": 1.0 for i in range(10)}
    times = {n: v * 1.5 for n, v in prev.items()}
    now, old = _shared(times, prev)
    g = compute_baseline_guard(times, prev, now, old)
    assert g["tripped"] is False


def test_guard_holds_on_flat_and_improved_runs():
    prev = {f"q{i}": 1.0 + 0.1 * i for i in range(8)}
    flat = dict(prev)
    now, old = _shared(flat, prev)
    assert compute_baseline_guard(flat, prev, now, old)["tripped"] is False
    faster = {n: v * 0.7 for n, v in prev.items()}
    now, old = _shared(faster, prev)
    assert compute_baseline_guard(faster, prev, now, old)["tripped"] is False


def test_guard_ignores_jitter_rows_and_empty_baseline():
    # sub-50ms baseline rows are excluded from the median (pure jitter);
    # with no usable rows the guard abstains (None), it never blocks
    prev = {"tiny": 0.01}
    times = {"tiny": 0.04}
    assert compute_baseline_guard(times, prev, 0.04, 0.01) is None
    assert compute_baseline_guard({}, {}, 0.0, 0.0) is None


def test_guard_force_override(monkeypatch):
    monkeypatch.setenv("BENCH_FORCE_BASELINE", "1")
    prev = {f"q{i}": 0.5 for i in range(20)}
    prev.update({"h1": 30.0})
    times = dict(prev, h1=60.0)
    now, old = _shared(times, prev)
    g = compute_baseline_guard(times, prev, now, old)
    assert g["tripped"] is True and g["forced"] is True


def test_force_flag_parses_value_not_truthiness(monkeypatch):
    # round-12 ADVICE: BENCH_FORCE_BASELINE=0 (an operator's "off") must NOT
    # count as forced — only an explicit affirmative does
    for val, want in [("0", False), ("false", False), ("no", False),
                      ("", False), ("1", True), ("true", True),
                      ("YES", True), ("On", True)]:
        monkeypatch.setenv("BENCH_FORCE_BASELINE", val)
        assert bench_mod._env_flag("BENCH_FORCE_BASELINE") is want, val
    monkeypatch.delenv("BENCH_FORCE_BASELINE")
    assert bench_mod._env_flag("BENCH_FORCE_BASELINE") is False


# ---------------------------------------------------------------------------
# not-quiet-at-start guard (round-13; the round-12 verdict's ask #5 —
# mechanize the "nothing beside bench" rule the contaminated-baseline
# incident taught). Pure decision function over the machine snapshot.
# ---------------------------------------------------------------------------

compute_quiet_guard = bench_mod.compute_quiet_guard


def test_quiet_guard_accepts_idle_machine():
    g = compute_quiet_guard({"load1": 0.4, "cpus": 32, "busy_siblings": 0}, False)
    assert g["quiet"] is True


def test_quiet_guard_refuses_busy_sibling():
    # one concurrent JVM/pytest is exactly the round-12 contamination case —
    # uniform inflation the median/total guard cannot see
    g = compute_quiet_guard({"load1": 0.4, "cpus": 32, "busy_siblings": 1}, False)
    assert g["quiet"] is False


def test_quiet_guard_refuses_high_load():
    # cap = max(4, cpus/4) → 8 on a 32-cpu box; a decaying post-pytest load
    # above it refuses (conservative by design — a refusal loses nothing)
    g = compute_quiet_guard({"load1": 12.0, "cpus": 32, "busy_siblings": 0}, False)
    assert g["quiet"] is False and g["load_cap"] == 8.0
    assert compute_quiet_guard(
        {"load1": 7.9, "cpus": 32, "busy_siblings": 0}, False
    )["quiet"] is True
    # small box: the floor of 4 applies, not cpus/4
    assert compute_quiet_guard(
        {"load1": 3.5, "cpus": 4, "busy_siblings": 0}, False
    )["quiet"] is True


def test_quiet_guard_missing_load_abstains_on_load_only():
    # /proc-less platform (getloadavg OSError): load criterion abstains,
    # sibling criterion still applies
    assert compute_quiet_guard(
        {"load1": None, "cpus": 8, "busy_siblings": 0}, False
    )["quiet"] is True
    assert compute_quiet_guard(
        {"load1": None, "cpus": 8, "busy_siblings": 2}, False
    )["quiet"] is False


def test_quiet_guard_forced_rides_along():
    g = compute_quiet_guard({"load1": 50.0, "cpus": 8, "busy_siblings": 3}, True)
    assert g["quiet"] is False and g["forced"] is True


def test_machine_snapshot_shape():
    # live read on this machine: keys present, self not counted as a sibling
    snap = bench_mod.read_machine_snapshot()
    assert set(snap) == {"load1", "cpus", "busy_siblings"}
    assert snap["cpus"] >= 1
    assert isinstance(snap["busy_siblings"], int)


def test_busy_sibling_matches_basenames_not_substrings():
    """Round-13 ADVICE: a long-lived service whose path merely CONTAINS
    'java' must not count as a busy sibling; real contaminators (a JVM,
    `python -m pytest`, a harness script run as `python scripts/x.py`)
    must."""
    is_busy = bench_mod._is_busy_sibling
    # false positives the substring matcher had:
    assert not is_busy(["/opt/javatools/agent", "--serve"])
    assert not is_busy(["/usr/bin/monitor", "--log", "/var/log/javawatch.log"])
    assert not is_busy(["node", "/srv/pytest-dashboard/server.js"])
    # real contaminators:
    assert is_busy(["/usr/lib/jvm/java-17/bin/java", "-cp", "x", "Main"])
    assert is_busy(["java"])
    assert is_busy(["python", "-m", "pytest", "tests/", "-q"])
    assert is_busy(["/usr/bin/python3", "scripts/driver_sim.py"])
    assert is_busy(["python3", "/root/repo/scripts/check_queries.py", "q1"])
    assert is_busy(["/opt/spark/bin/spark-submit", "job.py"])
    assert is_busy(["python3", "bench.py"])
    assert not is_busy([])


# ---------------------------------------------------------------------------
# Pinned-canary self-adjudication (round-13 verdict ask #6): every full-run
# artifact carries its own isolated-probe evidence. Pure decision function.
# ---------------------------------------------------------------------------


def test_canary_names_are_registered_queries():
    from crystal_parquet_database_spark.surface import QUERIES

    assert all(n in QUERIES for n in bench_mod.CANARIES)
    assert len(bench_mod.CANARIES) == 4


def test_canary_block_classifies_ambient_inflation():
    # the round-13 case: suite total 1.40x while the pinned canaries sit in
    # the noise band — the artifact self-adjudicates as ambient
    probe = {"medians": {"q1_pricing_summary": 1.25, "q8_national_market_share": 1.29,
                         "dedup_minhash_lsh": 1.22, "text_bm25_topk": 0.93}}
    prev = {"medians": {"q1_pricing_summary": 1.41, "q8_national_market_share": 1.32,
                        "dedup_minhash_lsh": 1.80, "text_bm25_topk": 1.57}}
    block = bench_mod.compute_canary_block(probe, prev, total_ratio=1.40)
    assert block["self_adjudication"] == "ambient-inflation"
    assert block["vs_prev_median_ratio"] < 1.0


def test_canary_block_classifies_coherent_regression():
    # canaries move WITH the total: a real code regression, not ambient
    probe = {"medians": {"q1_pricing_summary": 2.0, "text_bm25_topk": 2.2}}
    prev = {"medians": {"q1_pricing_summary": 1.0, "text_bm25_topk": 1.1}}
    block = bench_mod.compute_canary_block(probe, prev, total_ratio=1.5)
    assert block["self_adjudication"] == "coherent-regression"


def test_canary_block_clean_and_missing_baselines():
    probe = {"medians": {"q1_pricing_summary": 1.0}}
    prev = {"medians": {"q1_pricing_summary": 1.0}}
    assert bench_mod.compute_canary_block(probe, prev, 1.01)[
        "self_adjudication"] == "clean"
    # no canary baseline (first stamped run) and no suite baseline
    assert bench_mod.compute_canary_block(probe, None, 1.01)[
        "self_adjudication"] == "no-canary-baseline"
    assert bench_mod.compute_canary_block(probe, prev, None)[
        "self_adjudication"] == "no-suite-baseline"
    # probe failure is stamped, never raises
    blk = bench_mod.compute_canary_block({"error": "rc=1"}, prev, 1.4)
    assert blk["self_adjudication"] == "no-canary-baseline" and "error" in blk


def test_digest_stays_within_byte_budget():
    # 111 long names with full-precision times: the digest's serialized
    # size must never exceed its budget, and it keeps the slowest queries
    times = {
        f"query_with_a_deliberately_long_registered_name_{i:03d}": 100.0 - i / 7
        for i in range(111)
    }
    digest = bench_mod._digest(times, budget=1100)
    assert 0 < len(digest) < len(times)
    assert len(bench_mod.json.dumps(digest)) <= 1100
    slowest = sorted(times, key=times.get, reverse=True)[: len(digest)]
    assert list(digest) == slowest
    assert bench_mod._digest({}, budget=1100) == {}
