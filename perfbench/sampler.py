"""Out-of-process CPU and memory sampler for a process tree (Linux /proc).

The benchmark's parent process samples the worker's tree every
`interval` seconds.  Each process is put in one of three groups:

* ``driver`` — the Python worker that drives the benchmark (the root),
* ``jvm`` — a ``java`` process started by the driver,
* ``pyworker`` — everything below the JVM: ``pyspark.daemon`` and the
  Python UDF/Arrow workers it forks.

A group's CPU is the sum of utime+stime+cutime+cstime over its live
processes, so the time of workers that exited and were reaped is still
counted, in their parent.  The series is kept per group as a running
maximum, so it never drops when a process is reaped between samples.
Memory is the PSS (proportional set size) summed over the live tree, so
pages that forked Python workers share with their parent count once.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
GROUPS = ("driver", "jvm", "pyworker")


def _pss(pid: int) -> int:
    """Proportional set size in bytes; 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    fields = raw[rpar + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, ppid, cpu


class TreeSampler:
    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root = root_pid
        self.interval = interval
        self.times: list[float] = []
        self.cpu: dict[str, list[float]] = {g: [] for g in GROUPS}
        self.peak_mem = 0
        self.peak_jvm_mem = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        procs: dict[int, tuple[str, int, float]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        if self.root not in procs:
            return
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        cpu = dict.fromkeys(GROUPS, 0.0)
        mem = jvm_mem = 0
        stack = [(self.root, "driver")]
        while stack:
            pid, group = stack.pop()
            comm, _, pcpu = procs[pid]
            if group == "driver" and comm == "java":
                group = "jvm"
            elif group == "jvm" and comm != "java":
                group = "pyworker"
            cpu[group] += pcpu
            pmem = _pss(pid)
            mem += pmem
            if group == "jvm":
                jvm_mem += pmem
            stack.extend((c, group) for c in children.get(pid, ()))
        now = time.monotonic()
        self.times.append(now)
        for g in GROUPS:
            series = self.cpu[g]
            series.append(max(cpu[g], series[-1] if series else 0.0))
        self.peak_mem = max(self.peak_mem, mem)
        self.peak_jvm_mem = max(self.peak_jvm_mem, jvm_mem)

    def cpu_between(self, group: str, t0: float, t1: float) -> float:
        """CPU seconds a group used between two CLOCK_MONOTONIC instants,
        read from the last samples taken at or before each."""
        series = self.cpu[group]
        if not series:
            return 0.0
        i0 = max(bisect.bisect_right(self.times, t0) - 1, 0)
        i1 = max(bisect.bisect_right(self.times, t1) - 1, 0)
        return series[i1] - series[i0]
