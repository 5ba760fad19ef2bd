"""CPU seconds used by the program under test, read from ``/proc``.

The program is three kinds of process: the benchmark's own Python
process (the Spark driver's Python side), the gateway JVM it launched
(driver and executors of ``local[N]``), and the Python workers the JVM
forks. ``ProgramCpu`` sums user plus system time over all of them,
less the time of the JVM's JIT compiler threads.

Why CPU time: on a shared virtual machine the wall time of a run
stretches with the time the hypervisor steals from it, and the
kernel's task clock leaves stolen time out
(``CONFIG_PARAVIRT_TIME_ACCOUNTING``), so CPU time follows the
program's own work much more closely than wall time does. Why not the
JIT: compilation is a warm-up cost that decays over a run, by a
different amount in every run, while the work of the program does not.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields from field 3 on) of ``/proc/<path>/stat``."""
    try:
        with open(f"/proc/{path}/stat") as f:
            stat = f.read()
    except OSError:  # the process or thread has exited
        return None
    # the name (field 2) may hold spaces and parentheses
    i, j = stat.index("("), stat.rindex(")")
    return stat[i + 1 : j], stat[j + 2 :].split()


def tree_ticks(root: int) -> int:
    """User + system ticks of ``root`` and its live descendants,
    including the children each of them has waited for, so a worker
    that exited between two readings still counts, through its
    parent."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            f = st[1]
            parent[int(pid)] = int(f[1])
            ticks[int(pid)] = sum(int(x) for x in f[11:15])  # fields 14-17

    def in_tree(pid: int) -> bool:
        while pid in parent:  # up to root, or past init
            if pid == root:
                return True
            pid = parent[pid]
        return False

    return sum(t for pid, t in ticks.items() if in_tree(pid))


class ProgramCpu:
    """Calling it returns the CPU seconds the program has used so far:
    the process tree under ``root`` less the JIT compiler threads of
    the JVM ``jvm``. A compiler thread's time is remembered from its
    last reading, so one the JVM retires does not drop out; call often
    (each timed operation does) to keep that remainder small."""

    def __init__(self, root: int, jvm: int | None = None):
        self.root, self.jvm = root, jvm
        self.compiler: dict[str, int] = {}  # thread id -> ticks

    def compiler_ticks(self) -> int:
        if self.jvm is None:  # not launched yet
            return 0
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            st = _stat(f"{self.jvm}/task/{tid}")
            if st is not None and "CompilerThre" in st[0]:
                self.compiler[tid] = int(st[1][11]) + int(st[1][12])
        return sum(self.compiler.values())

    def __call__(self) -> float:
        return (tree_ticks(self.root) - self.compiler_ticks()) * TICK_S
