"""Timing, CPU accounting and host-window probes for the ingest benchmark.

CPU cost is read next to every wall time because on a shared host the wall
time of one poll swings far more than the CPU it burns. CPU comes in
nanoseconds from the kernel: the JVM's from its process CPU clock
(``clock_gettime`` on the clock id of another process, which keeps the time
of exited threads), single JVM threads' from
``/proc/<pid>/task/<tid>/schedstat`` and the benchmark's own from
``time.process_time()``. ``/proc/<pid>/stat`` counts 10 ms ticks, in which
a 150 ms scan would read in steps of 7%. The JIT compiler and GC threads'
shares are split off and reported on their own: for minutes after start the
compilers work in bursts, and a concurrent GC cycle runs when the heap says
so, both landing on whichever operation happens to be running.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Linux encodes a process CPU clock id as (~pid << 3) | 2 (CPUCLOCK_SCHED)
_CPUCLOCK_SCHED = 2


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at least
    ``beyond`` samples above it: the (beyond+1)-th largest sample, at
    percentile 100·(n−beyond)/n. None when there are too few samples."""
    n = len(xs)
    if n <= beyond:
        return None
    ordered = sorted(xs)
    return 100.0 * (n - beyond) / n, ordered[n - beyond - 1]


def process_cpu_s(pid: int) -> float:
    """CPU seconds of every thread process ``pid`` ever ran (the kernel's
    process CPU clock, as ``clock_getcpuclockid`` would name it)."""
    return time.clock_gettime(((~pid) << 3) | _CPUCLOCK_SCHED)


def thread_cpu_s(pid: int, tid: int) -> float:
    """CPU seconds of thread ``tid`` of process ``pid`` (the kernel lets a
    process read only its own threads' CPU clocks, so this reads the run
    time ``schedstat`` reports); FileNotFoundError once it has exited."""
    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
        return int(f.read().split()[0]) / 1e9


def _background(comm: str) -> str | None:
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return None


class JvmCpu:
    """CPU seconds of the JVM, split into its JIT compiler threads, its GC
    threads and the rest. A background thread that exits keeps its last
    reading."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.task = f"/proc/{pid}/task"
        self.kind: dict[int, str | None] = {}
        self.last: dict[int, tuple[str, float]] = {}

    def read(self) -> tuple[float, float, float]:
        """(CPU of all threads but JIT and GC, JIT compiler CPU, GC CPU)"""
        total = process_cpu_s(self.pid)
        for tid in map(int, os.listdir(self.task)):
            try:
                if tid not in self.kind:
                    with open(f"{self.task}/{tid}/comm") as f:
                        self.kind[tid] = _background(f.read())
                if self.kind[tid]:
                    self.last[tid] = (self.kind[tid], thread_cpu_s(self.pid, tid))
            except (FileNotFoundError, ProcessLookupError):  # the thread exited meanwhile
                continue
        jit = sum(c for k, c in self.last.values() if k == "jit")
        gc = sum(c for k, c in self.last.values() if k == "gc")
        return total - jit - gc, jit, gc


def driver_cpu_s() -> float:
    """CPU seconds of this process, all threads."""
    return time.process_time()


def process_age_s() -> float:
    """Seconds since this process was created (interpreter start included)."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


@dataclass
class Sample:
    wall_s: float
    jvm_s: float
    driver_s: float
    events: int = 0

    @property
    def cpu_s(self) -> float:
        return self.jvm_s + self.driver_s


@dataclass
class Recorder:
    """Closed-loop op log: every timed call lands here with its wall time
    and CPU cost; a raising call counts as failed."""

    jvm: JvmCpu
    tracer: object = None
    samples: dict[str, list[Sample]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def measure(self, kind: str, fn) -> tuple[object, Sample]:
        """``fn()`` and its wall time and CPU cost, inside a ``bench.<kind>``
        span when traced. The JVM is read outside the driver's CPU window:
        reading it costs a few milliseconds of the benchmark's own CPU."""
        j0 = self.jvm.read()[0]
        d0 = driver_cpu_s()
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.span(f"bench.{kind}"):
                out = fn()
        else:
            out = fn()
        t1 = time.perf_counter()
        d1 = driver_cpu_s()
        j1 = self.jvm.read()[0]
        return out, Sample(t1 - t0, j1 - j0, d1 - d0)

    def op(self, kind: str, fn, events: int = 0):
        """One attempted operation of ``kind``; a raising call counts as failed."""
        self.attempted += 1
        try:
            out, s = self.measure(kind, fn)
        except Exception:
            self.failed += 1
            raise
        s.events = events
        self.add(kind, s)
        return out

    def add(self, kind: str, s: Sample) -> None:
        self.samples.setdefault(kind, []).append(s)

    def get(self, kind: str) -> list[Sample]:
        return self.samples.get(kind, [])


# ---- host window stamp -------------------------------------------------------


def burn_mips(seconds: float = 0.5) -> float:
    """Single-process busy-loop rate in million iterations/s (bench.py's
    probe): senses only scheduler contention, so a loaded window reads low."""
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    return x / (time.time() - t0) / 1e6


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class Window:
    """loadavg, steal-time delta and a CPU burn probe at start and end of a
    run. Recorded only: no metric is adjusted by these values."""

    def __init__(self) -> None:
        t0 = time.perf_counter()
        self.load_start = os.getloadavg()
        self.steal0 = steal_ticks()
        self.burn_start = burn_mips()
        self.probe_s = time.perf_counter() - t0

    def close(self) -> dict:
        t0 = time.perf_counter()
        burn_end = burn_mips()
        self.probe_s += time.perf_counter() - t0
        return {
            "ncpus": os.cpu_count(),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_s": (steal_ticks() - self.steal0) / CLK_TCK,
            "cpu_burn_mips": {"start": round(self.burn_start, 2), "end": round(burn_end, 2)},
        }
