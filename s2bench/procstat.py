"""Process-tree CPU and memory, and host CPU steal, read from /proc.

The tree is this Python process and every descendant: the Spark JVM it
launches, the PySpark worker daemon and its Python workers. CPU of a
descendant that exits is still counted, through its parent's
cutime/cstime once it has been reaped.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user + system CPU seconds of the live tree and its reaped children."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes() -> dict[int, int]:
    """Resident bytes of each live process in the tree, by pid.

    A child whose virtual and resident sizes both equal its parent's is
    left out: it still shares its parent's memory. The JVM starts helper
    processes with vfork, and until such a child calls exec, /proc reports
    the JVM's whole resident size for it a second time.
    """
    sizes = {}
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:  # (parent, virtual size, resident bytes)
            sizes[pid] = (int(fields[1]), int(fields[20]), int(fields[21]) * _PAGE)
    return {pid: rss for pid, (ppid, vsize, rss) in sizes.items()
            if sizes.get(ppid, (0, -1, -1))[1:] != (vsize, rss)}


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already inside user/nice; count the first eight fields
    return vals[7], sum(vals[:8])


class PeakRss:
    """Samples the tree's summed RSS on a background thread. take_window()
    returns the highest sum since its last call, with each process's share
    of that peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._window = (0, [])
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        rss = tree_rss_bytes()
        total = sum(rss.values())
        with self._lock:
            if total > self._window[0]:
                self._window = (total, sorted(rss.values(), reverse=True))

    def take_window(self) -> tuple[int, list[int]]:
        """(peak bytes, each process's bytes at that peak, largest first)
        since the last call."""
        self.sample()
        with self._lock:
            window, self._window = self._window, (0, [])
        return window

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end sampling; later calls do nothing."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.sample()
