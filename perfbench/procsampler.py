"""CPU time and resident memory of a whole process tree, read from /proc.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the Python workers that JVM forks.  CPU is the sum of
``utime + stime + cutime + cstime`` over the tree (``/proc/<pid>/stat``):
when a process exits, the kernel adds its time to the parent's ``cutime``
once the parent reaps it, so the total is conserved across worker churn.
Memory is the summed ``VmRSS`` of the tree, sampled by a background thread;
the sampler keeps the peak.
"""

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children) or None once pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'
    fields = raw[raw.rfind(b")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(f) for f in fields[11:15])
    return ppid, utime + stime + cutime + cstime


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> list:
    """``root`` and all its live descendants."""
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(pid) for pid in tree_pids(root)) / 1024.0


class TreeSampler:
    """Peak summed RSS of a process tree between ``start`` and ``stop``,
    plus the tree's CPU seconds over the same interval.

        with TreeSampler(os.getpid()) as s:
            work()
        s.cpu_s, s.peak_rss_mb
    """

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread = None

    def _run(self):
        while True:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self):
        self._cpu0 = tree_cpu_s(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
        return self

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()
