"""Host facts and process accounting read from /proc.

CPU and memory are summed over this process (the PySpark driver, where
the greedy grouping and the driver collects run) and every process it
started: the JVM launched by spark-submit and the Python workers the JVM
forks.  A worker that exits is reaped by its parent, so its CPU time moves
into the parent's ``cutime``/``cstime`` and stays in the sum.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cpus() -> int:
    """The CPUs this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; the fields after it are positional
    return raw[raw.rindex(")") + 2 :].split()


def process_tree() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus that of its reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5), counted after the ")"
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> dict[str, int]:
    """Resident bytes of ``pids``, split into the JVM ("java") and the rest
    (the Python driver and workers, "python").  The Python processes count
    their proportional share (PSS): the workers are forked from one daemon
    and share its pages, which plain RSS would count once per worker.  The
    JVM shares no pages with them and counts its RSS, because summing its
    PSS walks its whole address space (about 30 ms under the JVM's memory
    map lock) where statm reads a counter."""
    out = {"java": 0, "python": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "java" if f.read().strip() == "java" else "python"
            if kind == "java":
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * _PAGE
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    rss = next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
        except OSError:  # the process ended between listing and reading
            continue
        out[kind] += rss
    return out


class RssSampler:
    """Samples the resident memory of the process tree (see rss_bytes) on
    a thread and keeps the peak; use as a context manager around the work
    to measure."""

    PERIOD_S = 0.2
    RESCAN_EVERY = 5  # listing /proc costs more than reading a few files

    def __init__(self):
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        tick = 0
        while True:
            if tick % self.RESCAN_EVERY == 0:
                pids = process_tree()
            tick += 1
            self._sample(pids)
            if self._stop.wait(self.PERIOD_S):
                return

    def _sample(self, pids: list[int]) -> None:
        parts = rss_bytes(pids)
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(process_tree())
