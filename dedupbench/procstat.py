"""CPU and memory readings of the engine's processes from /proc.

The engine is one JVM (driver and the `local[N]` executor) plus the Python
worker tree it forks (the pyspark daemon and its workers), driven from this
Python process. CPU is read in clock ticks, so readings resolve to 10 ms.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot JIT compiler threads ("C1 CompilerThre", "C2 CompilerThre"):
# compilation is warm-up cost, not work the engine does for an op
_JIT_PREFIXES = ("C1 Compiler", "C2 Compiler")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended between listing and reading
        return None
    # the command name may hold spaces; the fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_ticks(path: str, children: bool) -> int:
    f = _stat_fields(path)
    if f is None:
        return 0
    # fields counted from `state`: utime=11, stime=12, cutime=13, cstime=14
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`."""
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(f"/proc/{name}/stat")
            if f is not None:
                parent_of[int(name)] = int(f[1])
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier}
        out += frontier
    return out


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie waiting for its parent."""
    f = _stat_fields(f"/proc/{pid}/stat")
    return f is not None and f[0] != "Z"


def stop_all(pids: list[int], grace_s: float = 20.0) -> list[int]:
    """Wait up to `grace_s` for `pids` to exit, then SIGTERM and finally
    SIGKILL what is left, waiting after each. Returns the pids still alive."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = [p for p in pids if _alive(p)]
        for p in left if sig is not None else ():
            try:
                os.kill(p, sig)
            except OSError:  # it ended meanwhile
                pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if _alive(p)]
        if not left:
            return []
    return left


class EngineProbe:
    """CPU seconds and held memory of one JVM, its worker tree and this process."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def jvm_threads(self) -> dict[int, tuple[bool, int]]:
        """tid -> (is a JIT compiler thread, CPU ticks) for every live JVM thread."""
        task_dir = f"/proc/{self.jvm_pid}/task"
        out = {}
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as f:
                    jit = f.read().startswith(_JIT_PREFIXES)
            except OSError:
                continue
            out[int(tid)] = (jit, _cpu_ticks(f"{task_dir}/{tid}/stat", children=False))
        return out

    def workers_cpu_s(self) -> float:
        """Python worker tree CPU, counting reaped workers through their
        parent's child times."""
        return (
            sum(_cpu_ticks(f"/proc/{p}/stat", children=True) for p in descendants(self.jvm_pid))
            / _TICK
        )

    def snapshot(self) -> tuple:
        return self.jvm_threads(), self.workers_cpu_s(), time.process_time()

    def cpu_since(self, snap) -> tuple[float, float]:
        """(engine CPU s, JIT CPU s) since `snap`. Engine CPU sums the JVM's
        non-JIT threads thread by thread -- the JVM starts and stops compiler
        threads on demand, so a process total minus the live compiler threads
        would count a finished compiler thread's work as engine work -- plus
        the worker tree and this driver process."""
        threads0, workers0, driver0 = snap
        engine = jit = 0
        for tid, (is_jit, ticks) in self.jvm_threads().items():
            delta = ticks - threads0.get(tid, (is_jit, 0))[1]
            if is_jit:
                jit += delta
            else:
                engine += delta
        return (
            engine / _TICK + self.workers_cpu_s() - workers0 + time.process_time() - driver0,
            jit / _TICK,
        )

    def jit_cpu_s(self) -> float:
        """CPU of the live JIT compiler threads."""
        return sum(t for jit, t in self.jvm_threads().values() if jit) / _TICK

    def live_mem_mb(self, jvm) -> float:
        """Memory the engine holds, in MiB: the JVM heap still live after a
        full collection plus its non-heap memory, and the Python workers'
        resident memory. The JVM's own RSS is not used: it follows how far
        the collector has grown the young generation, which differs between
        identical runs by a third."""
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        kb = 0
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
            except (OSError, StopIteration):
                continue
        return used / 2**20 + kb / 1024
