"""CPU time of the program under test, read from ``/proc``.

On a shared host the wall time of an op moves with how much of the machine
other tenants take (the guest's steal time): in the probe runs a warm
``llm_operators`` pass took 10 s of wall time on a quiet host and 15 s on a
busy one. The CPU time the program's own threads run moved by under a tenth
between the same runs, so the end-to-end op metrics are CPU seconds.

Counted: every thread of the benchmark process (the package's driver-side
Python code, including its thread pools) except the ones the caller names
(the memory sampler), and every thread of the JVM and its descendants (the
Python worker daemon and workers), except the JVM's JIT compiler threads
and its code cache sweeper. How much the JIT still compiles depends on how
warm the JVM is, not on the op, and it runs in the background of whatever
op is timed: in the probe runs it took 5-12 CPU seconds per warm
``llm_operators`` pass, against about 12 for everything else.
"""

from __future__ import annotations

import os

# ``comm`` is cut at 15 characters: "C2 CompilerThread0" reads "C2 CompilerThre"
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited between listing and reading
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class CpuMeter:
    """Cumulative CPU seconds of the counted threads. Each read lists the
    threads again and keeps the last value seen for each, so a thread that
    exits between two reads keeps the time it had run by the first. (A run
    starts far fewer threads than ``pid_max``, so no tid is reused.)"""

    def __init__(self, jvm_pid: int, exclude_tids=()):
        self.jvm_pid = jvm_pid
        self.exclude = set(exclude_tids)
        self._last: dict[int, int] = {}  # tid -> ns run
        self._skip: set[int] = set()  # JIT compiler tids

    def _thread_ns(self, pid: int, tid: int) -> int | None:
        if tid not in self._last and tid not in self._skip:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREAD_PREFIXES):
                        self._skip.add(tid)
            except OSError:
                return None
        if tid in self._skip:
            return None
        try:
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                return int(f.read().split()[0])
        except (OSError, IndexError, ValueError):
            return None

    def read(self) -> float:
        for pid in (os.getpid(), *process_tree(self.jvm_pid)):
            try:
                tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
            except OSError:
                continue
            for tid in tids:
                if tid in self.exclude:
                    continue
                ns = self._thread_ns(pid, tid)
                if ns is not None:
                    self._last[tid] = ns
        return sum(self._last.values()) / 1e9
