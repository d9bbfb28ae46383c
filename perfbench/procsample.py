"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the
Spark JVM it launches, the pyspark daemon under the JVM and the Python
workers the daemon forks.  Nothing in the measured program is touched.

CPU seconds of the tree are the sum, over live members, of
``utime + stime + cutime + cstime``.  A worker that exits is reaped by
its parent, and the kernel then adds its CPU time to the parent's
``cutime``/``cstime``, so work done by short-lived workers is counted
exactly once whether it ended before or after a reading.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.25  # PeakRss sampling period


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def host_steal_s() -> float:
    """CPU seconds, summed over CPUs, that the hypervisor gave to other
    guests while this one was ready to run (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has ended)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> tuple[int, int]:
    """(RSS of the tree's JVM processes, PSS of all the others).

    PSS splits a page shared by n processes n ways.  The pyspark daemon
    forks its workers, so they share the daemon's pages; summing their RSS
    would count those pages once per worker alive at that moment."""
    jvm = other = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
            if is_jvm:
                with open(f"/proc/{pid}/statm") as fh:
                    jvm += int(fh.read().split()[1]) * _PAGE
            else:
                other += _pss_bytes(pid)
        except OSError:  # exited between listing and reading
            continue
    return jvm, other


class PeakRss:
    """Background sampler of the tree's memory since the last ``reset``,
    kept apart for the JVM and for the Python processes (the driver, the
    pyspark daemon and its workers).  The JVM's RSS follows its
    garbage collector's heap sizing within ``spark.driver.memory`` and
    swings by gigabytes between identical runs; the Python side holds what
    the engine's own code allocates."""

    def __init__(self, root: int):
        self.root = root
        self._peak = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            jvm, other = tree_memory_bytes(self.root)
            with self._lock:
                self._peak = (max(self._peak[0], jvm), max(self._peak[1], other))

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_memory_bytes(self.root)

    @property
    def jvm_peak_mb(self) -> float:
        with self._lock:
            return self._peak[0] / 2**20

    @property
    def python_peak_mb(self) -> float:
        with self._lock:
            return self._peak[1] / 2**20
