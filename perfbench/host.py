"""Process-tree CPU, driver memory and host context, read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the process tree under `root`: each live
    process's own time plus that of the children it has reaped (Python
    workers that exit are reaped by Spark's worker daemon)."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssPeak:
    """Samples the summed resident memory of `pids` every `interval`
    seconds on a background thread while the `with` block runs."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids, self.interval, self.peak_mb = pids, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already counted in user time
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def shm_eligible() -> bool:
    """The test `get_spark` applies before putting spill files on /dev/shm."""
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= 8 << 30
