"""CPU time the engine spends, read from ``/proc``.

The engine is this Python process (the pipeline and the client run in
it), the Spark JVM and the Python workers the JVM forks. Those workers
come and go within an operation and their parent does not collect
their times, so no per-process count sees all of them; the meter reads
the whole machine's CPU time instead (``/proc/stat``: user, nice and
system), which on a machine that runs only the benchmark is the
engine's. Interrupt and softirq time is left out: it also holds the
host's device and timer interrupts, and it spread two to three times
as much from run to run as the rest. The JVM's JIT compiler threads
are counted apart: how much compiling falls into an operation depends
on how far the JIT has got, so on how fast the host ran the operations
before it, not on the operation.

CPU time leaves out the time the hypervisor gives the virtual CPUs to
other guests (steal), which on a shared host moves wall time by a
third from run to run; see DESIGN.md.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
# thread names are cut to 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# /proc/stat cpu fields counted: user, nice, system (guest time is
# already inside user)
CPU_FIELDS = (0, 1, 2)

# the JVM must keep its compiler threads for its whole life, or the CPU
# of a retired one would drop out of the JIT total
JVM_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"


def machine_cpu_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return sum(int(fields[i]) for i in CPU_FIELDS)


def thread_ticks(pid: int, tid: str) -> int:
    """utime + stime of one thread."""
    with open(f"/proc/{pid}/task/{tid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuMeter:
    """Reads the engine's CPU seconds, split into work and JIT."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.jit = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if f.read().rstrip("\n") in JIT_THREADS:
                    self.jit.append(tid)
        if not self.jit:
            raise RuntimeError(f"no JIT compiler threads found in JVM {jvm_pid}")

    def read(self) -> tuple[float, float]:
        """(work, jit) CPU seconds so far."""
        jit = sum(thread_ticks(self.jvm, t) for t in self.jit)
        return (machine_cpu_ticks() - jit) / TICK, jit / TICK
