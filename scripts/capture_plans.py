"""Capture .explain("formatted") for headline queries into plans/<round>/
(round from $PLANS_ROUND, default r15).

Usage: python scripts/capture_plans.py <suffix> [name ...]
Writes plans/<round>/<query>_<suffix>.txt for each named query (default: every
bench HEADLINE query). Plan generation is driver-side; queries whose
construction runs eager jobs (trained codebooks) will execute those, so this
is not a timing tool — it exists so the optimization round's plan claims are
checkable without running Spark.

Plans are written normalized: expression ids (``#123``), ``plan_id=123``,
RDD ids (``MapPartitionsRDD[123]``) and the process id in the scratch root
(``pqdb_gate_123``) become fixed tokens, and lambda variables
are renamed ``v1, v2, …`` in order of first appearance, so two captures of the
same plan ``diff`` clean — also when one built its lambdas from SQL text
(``lambda h``) and the other with the Column API (``lambda x_190``).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import HEADLINE  # noqa: E402
from crystal_parquet_database_spark.session import get_spark  # noqa: E402
from crystal_parquet_database_spark.surface import QUERIES  # noqa: E402

# session-global counters that differ between captures of the same plan
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # the per-process scratch root of PqDB/layout queries (surface/scratch.py)
    (re.compile(r"pqdb_gate_\d+"), "pqdb_gate_N"),
    # an ExistingRDD's creation site "<op> at <call site>": the call site
    # flips between NativeMethodAccessorImpl.java:0 and <unknown>:0, and on a
    # runtime.concurrently thread a stale Python call site ("wrapped at
    # .../concurrent/futures/thread.py:58", left by pyspark's process-wide
    # call-site depth counter) replaces both parts. The package makes its
    # ExistingRDDs with localCheckpoint, so that is the op the stale label hid.
    (
        re.compile(r"RDD\[N\] at (?:wrapped at \S+?thread\.py:\d+|(\w+) at [^\s,]+)"),
        lambda m: f"RDD[N] at {m.group(1) or 'localCheckpoint'} at <callsite>",
    ),
]
_LAMBDA_VAR = re.compile(r"lambda (\w+)#(\d+)")


def normalize(text: str) -> str:
    # one name per (name, expression id) pair, before the ids are erased
    names: dict[tuple[str, str], str] = {}

    def canonical(m: re.Match) -> str:
        name = names.setdefault(m.groups(), f"v{len(names) + 1}")
        return f"lambda {name}#{m.group(2)}"

    text = _LAMBDA_VAR.sub(canonical, text)
    for pattern, token in _VOLATILE:
        text = pattern.sub(token, text)
    return text


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "plans",
        os.environ.get("PLANS_ROUND", "r15"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = normalize(buf.getvalue())
        except Exception as exc:  # noqa: BLE001 — record, keep capturing
            text = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(text)
        print(f"captured {name}_{suffix}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
