#!/usr/bin/env python3
"""Turn a traced run's span JSON into per-layer self time and metrics.

    python3 perfbench/trace_report.py .perfbench/traces/*.json

prints, per trace file, each layer's self time per pass and its share of op
wall time, and for each query how much of its wall time construction takes.
It checks that the layers account for the op wall time to within
5%, in sum and for every op. Exits 1 if any trace misses that bar. ``per_layer_metrics`` is the same
aggregation the benchmark prints at the end of a traced run.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

LAYER_GAP_BAR = 0.05
NCORES = 4

# span name -> layer; spans named "db.<method>" belong to the db layer
LAYER_OF = {
    "surface.construct": "surface",
    "tables.load_table": "tables",
    "runtime.release": "runtime",
    "spark.plan": "spark",
    "spark.execute": "spark",
    "sources.run": "sources",
    "schema.unify_schemas": "schema",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "tables.load_jobs": "count",
    "surface.construct_s": "s",
    "surface.construct_self_s": "s",
    "surface.construct_jobs": "count",
    "surface.construct_share": "ratio",
    "runtime.release_s": "s",
    "runtime.released_blocks": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.jobs_outside_group": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "plans.exchanges": "count",
    "plans.broadcast_joins": "count",
    "plans.sort_merge_joins": "count",
    "sources.run_s": "s",
    "sources.rows_per_s": "rows/s",
    "sources.jobs": "count",
    "schema.unify_s": "s",
    "db.create_s": "s",
    "db.read_s": "s",
    "db.update_s": "s",
    "db.delete_s": "s",
    "db.normalize_s": "s",
    "db.jobs": "count",
    "db.files": "count",
    "db.bytes_written": "B",
    "db.write_amp": "ratio",
    "crystal.ingest_rows_per_s": "rows/s",
    "crystal.point_read_p50_s": "s",
    "crystal.scan_read_p50_s": "s",
    "crystal.mutate_p50_s": "s",
    "crystal.normalize_s": "s",
    "crystal.stored_bytes_per_row": "B/row",
    "trace.ops_per_s": "1/s",
    "trace.layer_gap": "ratio",
}


def layer_of(name: str) -> str:
    return "db" if name.startswith("db.") else LAYER_OF[name]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the durations of its direct children."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def op_spans(trace: dict) -> list[dict]:
    """Spans opened inside timed ops (result checks and the warm-up pass
    open spans too)."""
    timed = {op["op"] for op in trace["ops"]}
    return [s for s in trace["spans"] if s["op"] in timed]


def layer_seconds(trace: dict) -> dict[str, float]:
    """Self time per layer summed over the timed ops, plus ``harness``: the
    part of op wall time no layer span covers."""
    out: dict[str, float] = defaultdict(float)
    spans = op_spans(trace)
    own = self_times(spans)
    for s in spans:
        out[layer_of(s["name"])] += own[s["id"]]
    out["harness"] = sum(op["wall_s"] for op in trace["ops"]) - sum(out.values())
    return dict(out)


def op_gap(trace: dict, op: dict) -> float:
    """The part of one op's wall time that its top-level spans do not cover
    (their self times and their children's add up to their durations)."""
    top = [s for s in trace["spans"] if s["op"] == op["op"] and s["parent"] is None]
    return op["wall_s"] - sum(s["end"] - s["start"] for s in top)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer_metrics(trace: dict) -> dict[str, float]:
    """Every per-layer metric, as a total per pass unless its unit is a ratio
    or rate (those are ratios of run totals)."""
    spans, ops = op_spans(trace), trace["ops"]
    passes = max(1, trace["passes"])
    own = self_times(spans)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by_name[name])

    def self_s(name):
        return sum(own[s["id"]] for s in by_name[name])

    def jobs(name):
        return sum(s["jobs"] for s in by_name[name])

    def op_sum(key):
        return sum(op.get("spark", {}).get(key, 0) for op in ops)

    wall = sum(op["wall_s"] for op in ops)
    db_calls = [s for n, ss in by_name.items() if n.startswith("db.") for s in ss]
    kinds: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        if op["ok"]:
            kinds[op["kind"]].append(op["wall_s"])
    crystal = trace.get("crystal", {})
    ingest_s = sum(kinds["ingest_run"]) + sum(kinds["ingest_create"])
    run_rows = sum(s.get("rows", 0) for s in by_name["sources.run"])
    layers = layer_seconds(trace)
    m = {
        "session.start_s": trace["setup"]["start_s"],
        "session.warm_s": trace["setup"]["warm_s"],
        "tables.load_s": self_s("tables.load_table") / passes,
        "tables.load_calls": len(by_name["tables.load_table"]) / passes,
        "tables.load_jobs": jobs("tables.load_table") / passes,
        "surface.construct_s": dur("surface.construct") / passes,
        "surface.construct_self_s": self_s("surface.construct") / passes,
        "surface.construct_jobs": jobs("surface.construct") / passes,
        "surface.construct_share": dur("surface.construct") / wall if wall else 0.0,
        "runtime.release_s": self_s("runtime.release") / passes,
        "runtime.released_blocks": sum(s.get("blocks", 0) for s in by_name["runtime.release"]) / passes,
        "spark.plan_s": self_s("spark.plan") / passes,
        "spark.execute_s": self_s("spark.execute") / passes,
        "spark.jobs": op_sum("jobs") / passes,
        "spark.jobs_outside_group": op_sum("jobs_outside_group") / passes,
        "spark.tasks": op_sum("tasks") / passes,
        "spark.failed_tasks": op_sum("failed_tasks") / passes,
        "spark.task_s": op_sum("task_ms") / 1000.0 / passes,
        "spark.gc_s": op_sum("gc_ms") / 1000.0 / passes,
        "spark.core_util": op_sum("task_ms") / 1000.0 / (wall * NCORES) if wall else 0.0,
        "spark.shuffle_read_bytes": op_sum("shuffle_read_bytes") / passes,
        "spark.shuffle_write_bytes": op_sum("shuffle_write_bytes") / passes,
        "spark.input_bytes": op_sum("input_bytes") / passes,
        "plans.exchanges": sum(op.get("plan", {}).get("exchanges", 0) for op in ops) / passes,
        "plans.broadcast_joins": sum(op.get("plan", {}).get("broadcast_joins", 0) for op in ops) / passes,
        "plans.sort_merge_joins": sum(op.get("plan", {}).get("sort_merge_joins", 0) for op in ops) / passes,
        "sources.run_s": self_s("sources.run") / passes,
        "sources.rows_per_s": run_rows / dur("sources.run") if run_rows else 0.0,
        "sources.jobs": jobs("sources.run") / passes,
        "schema.unify_s": self_s("schema.unify_schemas") / passes,
        "db.create_s": self_s("db.create") / passes,
        "db.read_s": self_s("db.read") / passes,
        "db.update_s": self_s("db.update") / passes,
        "db.delete_s": self_s("db.delete") / passes,
        "db.normalize_s": self_s("db.normalize") / passes,
        "db.jobs": sum(s["jobs"] for s in db_calls) / len(db_calls) if db_calls else 0.0,
        "db.files": crystal.get("files", 0),
        "db.bytes_written": crystal.get("bytes_written", 0) / passes,
        "db.write_amp": crystal.get("bytes_written", 0) / passes / crystal["live_bytes"] if crystal.get("live_bytes") else 0.0,
        "crystal.ingest_rows_per_s": crystal.get("rows_ingested", 0) / ingest_s if ingest_s else 0.0,
        "crystal.point_read_p50_s": _p50(kinds["point_read"]),
        "crystal.scan_read_p50_s": _p50(kinds["scan_read"]),
        "crystal.mutate_p50_s": _p50(kinds["mutate"]),
        "crystal.normalize_s": _p50(kinds["normalize"]),
        "crystal.stored_bytes_per_row": crystal.get("stored_bytes_per_row", 0.0),
        "trace.ops_per_s": trace["ops_per_s"],
        "trace.layer_gap": abs(layers["harness"]) / wall if wall else 0.0,
    }
    assert m.keys() == PER_LAYER_UNITS.keys()
    return m


def report(path: str) -> bool:
    with open(path) as f:
        trace = json.load(f)
    layers = layer_seconds(trace)
    wall = sum(op["wall_s"] for op in trace["ops"])
    passes = max(1, trace["passes"])
    print(f"{path}: workload={trace['workload']} seed={trace['seed']} ops={len(trace['ops'])} passes={trace['passes']} op_wall={wall:.3f}s")
    for layer, sec in sorted(layers.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {sec / passes:9.4f} s/pass  {sec / wall:7.2%}")
    construct: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])  # name -> [construct s, wall s, jobs]
    names = {op["op"]: op["name"] for op in trace["ops"] if op["kind"] == "query"}
    for op in trace["ops"]:
        if op["op"] in names:
            construct[op["name"]][1] += op["wall_s"]
    for s in op_spans(trace):
        if s["name"] == "surface.construct" and s["op"] in names:
            c = construct[names[s["op"]]]
            c[0] += s["end"] - s["start"]
            c[2] += s["jobs"]
    for name, (c_s, w_s, jobs) in construct.items():
        print(f"  construct {name}: {c_s / passes:.3f} of {w_s / passes:.3f} s/pass ({c_s / w_s:.0%}), "
              f"{jobs / passes:g} jobs")
    gap = abs(layers["harness"]) / wall if wall else 0.0
    worst = max(abs(op_gap(trace, op)) / op["wall_s"] for op in trace["ops"])
    ok = gap <= LAYER_GAP_BAR and worst <= LAYER_GAP_BAR
    print(f"  layers cover op wall time to within {gap:.2%} in sum and {worst:.2%} for the worst op "
          f"({'ok' if ok else 'FAIL'}: bar {LAYER_GAP_BAR:.0%})")
    return ok


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    results = [report(p) for p in argv]
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
