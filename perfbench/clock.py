"""Wall and CPU time of one measured operation.

The CPU time of an operation is what the run's processes spent on a CPU
while it ran: the Python client, the JVM's threads except its JIT
compilers, and the JVM's Python workers. The kernel books time that the
hypervisor stole from the guest as steal, not to any task
(``CONFIG_PARAVIRT_TIME_ACCOUNTING``), so on a shared host this figure
moves far less than wall time, which a busy neighbour stretches by a
third. The JIT compilers are left out because their work depends on how
far a short run's warm-up has got, not on the operation measured.
"""

from __future__ import annotations

import os
import time

#: ``comm`` prefixes of the JVM threads whose CPU time is left out
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class OpClock:
    """Times operations of a run whose JVM is ``jvm_pid``."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        #: JVM thread id -> whether it is a JIT compiler thread
        self.jit: dict[str, bool] = {}
        #: JVM thread id -> its CPU nanoseconds when last read
        self.last_ns: dict[str, int] = {}
        self.workers: list[int] = []

    def set_workers(self, pids: list[int]) -> None:
        """The JVM's Python worker processes, found by the caller; a
        worker's reaped children count through it."""
        self.workers = pids

    def jvm_ns(self) -> int:
        """CPU nanoseconds of the JVM's threads so far, JIT compilers
        left out. A thread that has ended counts with its last reading."""
        base = f"/proc/{self.jvm}/task"
        for tid in os.listdir(base):
            try:
                if tid not in self.jit:
                    with open(f"{base}/{tid}/comm") as fh:
                        self.jit[tid] = fh.read().startswith(JIT_THREADS)
                if not self.jit[tid]:
                    with open(f"{base}/{tid}/schedstat") as fh:
                        self.last_ns[tid] = int(fh.read().split()[0])
            except OSError:  # ended meanwhile
                continue
        return sum(self.last_ns.values())

    def workers_s(self) -> float:
        ticks = 0
        for pid in self.workers:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # ended; its parent has reaped it
                continue
            ticks += sum(int(f) for f in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def start(self) -> tuple[float, float, float]:
        outside = self.jvm_ns() / 1e9 + self.workers_s()
        return outside, time.process_time(), time.perf_counter()

    def stop(self, started: tuple[float, float, float]) -> tuple[float, float]:
        """Wall and CPU seconds since ``started`` (from :meth:`start`)."""
        wall, client = time.perf_counter(), time.process_time()
        outside = self.jvm_ns() / 1e9 + self.workers_s()
        return wall - started[2], client - started[1] + outside - started[0]
