"""Process-tree telemetry read from /proc: CPU, peak RSS, steal, load.

The benchmark process starts the Spark JVM, which starts the PySpark
daemon, which forks Python workers. CPU for the whole tree is the sum
over live members of utime + stime + cutime + cstime: a child that
exits and is reaped moves its time into its parent's cutime/cstime, so
the sum never loses it. Steal is read system-wide from /proc/stat and
reported next to the metrics, never subtracted or gated on.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    rparen = raw.rfind(")")
    return [raw[raw.find("(") + 1 : rparen]] + raw[rparen + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[2]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


# field offsets after the comm split: [0]=comm [1]=state [2]=ppid ...
_UTIME, _STIME, _CUTIME, _CSTIME, _RSS = 12, 13, 14, 15, 22


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_bytes(tree: dict[int, list[str]]) -> dict[int, int]:
    """RSS per process, skipping JVM children that have not yet exec'd.
    The JVM starts helper commands (e.g. Hadoop's ``chmod`` on written
    files) with vfork/posix_spawn: until the child execs it shares the
    JVM's address space and reports the JVM's whole RSS, which a sample
    landing in that window would count twice.

    The child's comm is the spawning thread's name, not ``java``, so
    only its exe tells the window apart. The exe is read first and the
    RSS re-read after it: the RSS in ``tree`` may predate an exec that
    the exe already shows, and then it is still the JVM's."""
    out = {}
    for pid, f in tree.items():
        ppid = int(f[2])
        parent = tree.get(ppid)
        if parent is not None and parent[0] == "java":
            exe = _exe(pid)
            if exe is None or exe == _exe(ppid):
                continue
            f = _stat_fields(pid)
            if f is None:
                continue
        out[pid] = int(f[_RSS]) * _PAGE
    return out


def _own_cpu(fields: list[str]) -> float:
    return (int(fields[_UTIME]) + int(fields[_STIME])) / _TICK


def _reaped_cpu(fields: list[str]) -> float:
    return (int(fields[_CUTIME]) + int(fields[_CSTIME])) / _TICK


class CpuSplit:
    """CPU-seconds of the tree at one instant, split by process role."""

    def __init__(self, root: int) -> None:
        tree = _tree(root)
        self.total = sum(_own_cpu(f) + _reaped_cpu(f) for f in tree.values())
        self.driver = _own_cpu(tree[root]) if root in tree else 0.0
        self.jvm = sum(_own_cpu(f) for f in tree.values() if f[0] == "java")
        # the PySpark daemon, its workers and every reaped descendant
        self.pyworker = self.total - self.driver - self.jvm


def steal_s() -> float:
    """System-wide stolen CPU-seconds since boot."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8]) / _TICK
    return 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeSampler:
    """Background sampler of the tree's summed RSS.

    ``mark()`` returns a snapshot (wall, tree CPU, steal); ``peak_mb``
    since the last ``reset_peak()`` is the coarse-sampled RSS maximum.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.2) -> None:
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self.peak_detail: dict = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> None:
        tree = _tree(self.root)
        rss_of = _rss_bytes(tree)
        rss = sum(rss_of.values())
        with self._lock:
            if rss > self._peak:
                self._peak = rss
                jvm = [p for p in rss_of if tree[p][0] == "java"]
                others = [p for p in rss_of if p != self.root and p not in jvm]
                self.peak_detail = {
                    "processes": len(rss_of),
                    "jvm_mb": sum(rss_of[p] for p in jvm) / (1 << 20),
                    "children": len(others),
                    "children_mb": sum(rss_of[p] for p in others) / (1 << 20),
                    "driver_mb": rss_of.get(self.root, 0) / (1 << 20),
                    "big": [
                        (tree[p][0], _exe(p), tree.get(int(tree[p][2]), ["?"])[0],
                         rss_of[p] >> 20)
                        for p in rss_of if rss_of[p] > (400 << 20)
                    ],
                }

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self._sample()

    @property
    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak / (1 << 20)

    def mark(self) -> dict:
        return {
            "wall": time.monotonic(),
            "cpu": CpuSplit(self.root),
            "steal": steal_s(),
        }


def delta(a: dict, b: dict) -> dict:
    """Wall, tree CPU (total and split) and steal between two marks."""
    return {
        "wall_s": b["wall"] - a["wall"],
        "cpu_s": b["cpu"].total - a["cpu"].total,
        "driver_cpu_s": b["cpu"].driver - a["cpu"].driver,
        "jvm_cpu_s": b["cpu"].jvm - a["cpu"].jvm,
        "pyworker_cpu_s": b["cpu"].pyworker - a["cpu"].pyworker,
        "steal_s": b["steal"] - a["steal"],
    }


def wait_for_children(root: int | None = None, timeout_s: float = 30.0) -> list[int]:
    """Wait until ``root`` has no live descendants; terminate, then
    kill, whatever is left at the deadline. Returns the pids killed."""
    import signal

    root = root if root is not None else os.getpid()
    deadline = time.monotonic() + timeout_s
    killed: list[int] = []
    while True:
        kids = [p for p in _tree(root) if p != root]
        if not kids:
            return killed
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if killed else signal.SIGTERM
            for p in kids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            killed.extend(kids)
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
