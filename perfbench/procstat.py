"""Process-tree CPU and memory, and host load, read from Linux ``/proc``.

The benchmark's work runs in three kinds of process: the driver Python
interpreter, the Spark JVM it launches, and the Python workers the JVM
forks. Their CPU time and resident memory are summed over the tree
rooted at this process. The JVM's heap is pre-touched, so its resident
size is the configured heap, whatever the program keeps in it; memory
in use counts the heap at its size after the latest garbage collection
instead (``JvmHeap``).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    if the process is gone. Field 0 here is the state (``stat(5)``
    field 3)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    return children


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as fh:
        return fh.read().strip()


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including children it has
    already reaped (``cutime``/``cstime``)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of the tree, summed by command name.

    The JVM starts helper processes (the Hadoop local filesystem runs
    shell commands) by ``posix_spawn``; until the child execs, it shares
    the JVM's address space and reports the JVM's whole RSS. A child
    still running its parent's ``java`` executable is such a helper and
    is skipped, or it would double the peak."""
    children = _children()
    out: dict[str, int] = {}
    todo = [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            comm = _comm(pid)
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        todo.extend((c, exe) for c in children.get(pid, ()))
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class JvmHeap:
    """The JVM's heap, read through py4j from its management beans:
    bytes committed, and bytes in use after the most recent garbage
    collection (live data plus whatever the collector left)."""

    def __init__(self, jvm):
        mf = jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                       if p.getType().toString() == "Heap memory"]
        self._after: dict[str, tuple[int, int, int]] = {}  # collector: (gc id, end, used)

    def committed(self) -> int:
        return self._mem.getHeapMemoryUsage().getCommitted()

    def live(self) -> int:
        """Heap in use after the latest collection; 0 before the first."""
        latest = (-1, 0)
        for gc in self._gcs:
            info = gc.getLastGcInfo()
            if info is None:
                continue
            name, gid = gc.getName(), info.getId()
            if self._after.get(name, (None,))[0] != gid:
                after = info.getMemoryUsageAfterGc()
                self._after[name] = (gid, info.getEndTime(),
                                     sum(after.get(p).getUsed() for p in self._pools))
            latest = max(latest, self._after[name][1:])
        return latest[1]


class PeakMem:
    """Samples the memory the tree uses on a background thread and keeps
    the peak: the RSS of every process, except that the JVM's committed
    heap counts at its in-use size (``JvmHeap.live``). Until ``heap`` is
    set, the JVM is left out: it is starting, and pre-touching its heap.
    Use as a context manager; ``peak_mb`` is valid after exit."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.heap: JvmHeap | None = None
        self.peak = 0
        self.at_peak: dict[str, int] = {}  # bytes by command name at the peak
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-mem", daemon=True)

    def attach(self, heap: JvmHeap | None) -> None:
        """Start (a JvmHeap) or stop (None) counting the JVM; stop before
        the JVM does."""
        with self._lock:
            self.heap = heap

    def _sample(self) -> None:
        with self._lock:
            by_comm = tree_rss(self.root)
            java = by_comm.pop("java", 0)
            if self.heap is not None:
                by_comm["java (heap live)"] = self.heap.live()
                by_comm["java (off heap)"] = java - self.heap.committed()
        total = sum(by_comm.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by_comm

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMem":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user nice system
    idle iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_window(j0: list[int], j1: list[int]) -> dict:
    """Busy and steal shares of all host CPU time between two
    ``cpu_jiffies`` readings, plus the current 1-minute load average.
    Busy counts every tenant of the host, not only this benchmark."""
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d) or 1
    return {
        "busy_frac": round(1.0 - (d[3] + d[4]) / total, 4),
        "steal_frac": round(d[7] / total, 5),
        "load1": os.getloadavg()[0],
    }


def mount_of(path: str) -> dict:
    """Filesystem type and mount options of the mount holding ``path``."""
    path = os.path.realpath(path)
    best = {"mount": "/", "fstype": "?", "options": ""}
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype, opts = line.split()[:4]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) >= len(best["mount"]):
                best = {"mount": mnt, "fstype": fstype, "options": opts}
    return best
