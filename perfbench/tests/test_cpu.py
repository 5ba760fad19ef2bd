"""Program CPU time read from /proc: children count, JIT threads do not."""

import os
import subprocess
import sys

import cpu

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"


def test_tree_counts_live_and_reaped_children():
    me = os.getpid()
    before = cpu.tree_ticks(me)
    child = subprocess.Popen([sys.executable, "-c", BUSY + "input()"],
                             stdin=subprocess.PIPE)
    try:
        # live: the busy child is in the tree
        while cpu.tree_ticks(me) - before < 0.4 / cpu.TICK_S:
            pass
    finally:
        child.communicate(b"\n")
    # reaped: its time moved into this process's children counters
    assert (cpu.tree_ticks(me) - before) * cpu.TICK_S >= 0.4


def test_sibling_time_does_not_count():
    idle = subprocess.Popen([sys.executable, "-c", "input()"], stdin=subprocess.PIPE)
    try:
        before = cpu.tree_ticks(idle.pid)
        subprocess.run([sys.executable, "-c", BUSY], check=True)
        assert (cpu.tree_ticks(idle.pid) - before) * cpu.TICK_S < 0.1
    finally:
        idle.communicate(b"\n")


def test_compiler_threads_are_subtracted_and_remembered():
    prog = cpu.ProgramCpu(os.getpid(), jvm=os.getpid())
    prog.compiler = {"retired": 50}  # a compiler thread the JVM retired
    assert abs(prog() - (cpu.tree_ticks(os.getpid()) - 50) * cpu.TICK_S) <= 0.02
