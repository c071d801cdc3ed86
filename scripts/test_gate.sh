#!/usr/bin/env bash
# Full TEST GATE, sharded: the full suite
# grew past ~11 min in one process, and by the late files the accumulated
# JVM/block-manager pressure both inflates runtimes and — when the gate is
# run beside the bench — contaminates the bench baseline (see
# SCALE.md). This script runs the suite as two FRESH-PROCESS
# shards, sequentially (never in parallel with each other or with bench.py:
# bench's quiet-machine guard now refuses a baseline stamped while any
# pytest is alive). Exit code is non-zero if either shard fails.
#
# Usage: bash scripts/test_gate.sh        # the documented end-of-round gate
set -u
cd "$(dirname "$0")/.."

mapfile -t FILES < <(ls tests/test_*.py | sort)
N=${#FILES[@]}
# If the glob ever matches nothing (unexpected cwd, moved
# tree), shard A would run pytest with NO file args and silently collect
# everything while shard B runs nothing — fail loudly instead.
if [ "$N" -eq 0 ]; then
    echo "test_gate: no tests/test_*.py found from $(pwd) — refusing to run" >&2
    exit 1
fi
HALF=$(((N + 1) / 2))

echo "== test gate: shard A (${HALF}/${N} files) =="
time python -m pytest "${FILES[@]:0:HALF}" -q
A=$?

echo "== test gate: shard B ($((N - HALF))/${N} files) =="
time python -m pytest "${FILES[@]:HALF}" -q
B=$?

echo "== test gate: shard A exit=$A, shard B exit=$B =="
[ "$A" -eq 0 ] && [ "$B" -eq 0 ]
