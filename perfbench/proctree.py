"""CPU seconds and memory of a process tree, read from ``/proc``.

The benchmark's process tree is the driver Python process, the JVM it
launches, and the Python workers the JVM forks.  CPU is summed as
``utime + stime + cutime + cstime`` per live process: a worker that exits
and is reaped moves its time into its parent's ``cutime``, so the sum
stays continuous across worker churn.  Memory is summed as PSS
(proportional set size): forked Python workers share their parent's
pages, and summing their RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:  # fields 14-17 of stat, counted from 1
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def pss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended between listing and reading
            pass
    return total


class TreeSampler:
    """Measure one region: CPU seconds the tree spent in it and the peak of
    its summed PSS, sampled every ``interval`` seconds by a thread.

    >>> with TreeSampler(os.getpid()) as s:
    ...     work()
    >>> s.cpu_s, s.peak_pss_mb
    """

    # Reading PSS walks each process's page tables: ~20 ms for the JVM's
    # pre-touched heap, ~30 ms per tree sample, so sample twice a second
    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_pss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0

    def _sample(self) -> list[int]:
        pids = tree_pids(self.root)
        self.peak_pss_mb = max(self.peak_pss_mb, pss_bytes(pids) / 2**20)
        return pids

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = cpu_seconds(self._sample())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s = cpu_seconds(self._sample()) - self._cpu0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    return those still alive at the timeout."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
