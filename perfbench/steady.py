#!/usr/bin/env python3
"""Steadiness check: run one commit's benchmark in sets of seeded runs and
compare each end-to-end metric's spread and median drift with its bound.

    python3 perfbench/steady.py --workload llm_operators --seeds 10 --sets 2

For each set, runs ``perfbench/run.py`` once per seed (seeds ``F..F+N-1`` in
the first set, the next N in the second; ``F`` is ``--first-seed``). Then
prints per metric the median, the quartiles, the spread (interquartile
distance as a share of the median) and, from the second set on, the drift
of the median against the first set.
A metric passes when its spread stays within its bound and its median
drifts, in the worse direction, by no more than its bound. Bounds come from
``BENCHMARK.json`` at the repository root. Exits 1 if any metric fails. Raw results are kept in ``.perfbench/steady/``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = elapsed
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, default=10, help="runs per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out_dir = ROOT / ".perfbench" / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)

    sets: list[list[dict]] = []
    for s in range(args.sets):
        runs = []
        for i in range(args.seeds):
            seed = args.first_seed + s * args.seeds + i
            r = run_once(args.workload, seed, bench["run_seconds"])
            r["seed"] = seed
            runs.append(r)
            print(f"set {s + 1} seed {seed}: {r['elapsed_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", file=sys.stderr)
        sets.append(runs)
    (out_dir / f"{args.workload}.json").write_text(json.dumps(sets, indent=1))

    ok = all(r["correct"] for runs in sets for r in runs)
    print(f"{args.workload}: {args.sets} set(s) x {args.seeds} seeds; "
          f"run wall median {statistics.median(r['elapsed_s'] for rs in sets for r in rs):.1f}s")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        line = f"  {name:28s}"
        first_median = None
        for s, runs in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3, sp = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
            line += f" | set{s + 1} med {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {sp:.3f}"
            if sp > bound:
                ok = False
                line += " SPREAD>BOUND"
            if first_median is None:
                first_median = med
            elif first_median:
                worse = (med - first_median) if m["better"] == "lower" else (first_median - med)
                drift = worse / first_median
                line += f" drift {drift:+.3f}"
                if drift > bound:
                    ok = False
                    line += " DRIFT>BOUND"
        print(line + f" | bound {bound}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
