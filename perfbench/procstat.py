"""Process-tree CPU and memory from ``/proc`` (``psutil`` is not installed).

The tree is this process plus every descendant: the driver JVM that
PySpark launches, the ``pyspark.daemon`` it forks, and the Python workers
the daemon forks per task. CPU of a descendant that has already exited
and been reaped is still counted, through its parent's ``cutime`` and
``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process, or None
    when it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


# Pids found outside the tree. A process never becomes a descendant of
# this one after it starts, so each is read once; a pid leaves the set when
# it disappears from /proc, before the kernel could hand it out again
# (pids are allocated in sequence up to pid_max). This keeps a sample from
# reading every other process's stat on a busy machine.
_foreign: set[int] = set()


def tree() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, cpu_s)} for this process and its descendants."""
    root = os.getpid()
    live = {int(name) for name in os.listdir("/proc") if name.isdigit()}
    _foreign.intersection_update(live)
    procs = {}
    for pid in live - _foreign:
        st = _stat(pid)
        if st is not None:
            procs[pid] = st
    keep = {root} if root in procs else set()
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _cpu) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    _foreign.update(procs.keys() - keep)
    return {pid: procs[pid] for pid in keep}


def python_worker_pids(procs: dict[int, tuple[int, float]]) -> set[int]:
    """Pids of the Python worker side: the pyspark daemon and its workers."""
    return {pid for pid in procs if "pyspark.daemon" in _cmdline(pid)
            or "pyspark.worker" in _cmdline(pid)}


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process: its resident pages, with each
    page shared between n processes counted 1/n. Summing RSS instead
    counts every page a forked Python worker shares with the daemon once
    per worker. 0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class Sampler:
    """Samples the process tree's memory on a background thread.

    ``peak_pss_mb`` is the largest summed PSS seen by any sample, taken
    every ``interval_s`` and once more on exit. Reading a JVM's
    ``smaps_rollup`` costs ~10 ms, and the sampler's CPU is part of the
    tree it measures, hence the half-second default. ``cpu_s()`` reads
    only ``/proc/<pid>/stat``, which is cheap."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_pss_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample_memory()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample_memory()

    def sample_memory(self) -> None:
        pss = sum(pss_bytes(pid) for pid in tree())
        with self._lock:
            self.peak_pss_bytes = max(self.peak_pss_bytes, pss)

    def cpu_s(self) -> float:
        return sum(c for (_p, c) in tree().values())

    def python_cpu_s(self) -> float:
        """CPU seconds of the live Python worker side (daemon + workers,
        with the workers the daemon has reaped)."""
        procs = tree()
        return sum(procs[p][1] for p in python_worker_pids(procs))

    @property
    def peak_pss_mb(self) -> float:
        with self._lock:
            return self.peak_pss_bytes / (1024 * 1024)
