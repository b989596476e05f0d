"""Measurements taken from outside the program: process-tree CPU and RSS
from /proc, Spark storage held by persisted blocks, spill directories, and
a fixed host-speed kernel."""

from __future__ import annotations

import glob
import os
import threading
import time

import numpy as np

SPILL_GLOB = "/dev/shm/gs_csr_*"
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


#: in the names of HotSpot's JIT compiler threads ("C1 CompilerThre",
#: "C2 CompilerThre": /proc cuts thread names to 15 characters)
JIT_THREAD = "CompilerThre"


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat_fields(f"/proc/{pid}/stat")
            if st is not None:
                stats[int(pid)] = st[1]
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def _jit_ticks(pid: int) -> int:
    """User + system CPU ticks of the JIT compiler threads of ``pid``."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and JIT_THREAD in st[0]:
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    counting reaped children (cutime/cstime) so short-lived workers are
    included, less the JVM's JIT compiler threads. Those compile the
    program's hot code during a process's first minutes, by an amount
    that varied by 5-10 CPU-s from run to run, and then fall idle: the
    cost of a young process, not of the call."""
    tree = _tree(os.getpid())
    # stat fields 14-17 (utime, stime, cutime, cstime) sit at 11..14 here
    ticks = sum(sum(int(x) for x in f[11:15]) for f in tree.values())
    return (ticks - sum(_jit_ticks(pid) for pid in tree)) / _TICK


def tree_rss_mb() -> float:
    return sum(int(f[21]) for f in _tree(os.getpid()).values()) * _PAGE / 2**20


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:  # removed by the program while we walk
                pass
    return total / 2**20


def spill_dirs() -> set[str]:
    return set(glob.glob(SPILL_GLOB))


def storage_mb(sc, keep=lambda rdd_id: True) -> float:
    """Memory + disk bytes of the cached blocks of persisted RDDs whose id
    passes ``keep``."""
    return sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo() if keep(i.id())) / 2**20


def persisted_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (0 on bare metal)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def calib_s() -> float:
    """Wall time of a fixed single-threaded numpy kernel: a host-speed
    reading recorded beside every result, never compared across boxes."""
    x = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(x)
    return time.perf_counter() - t0


class Poller:
    """Background sampler of the bytes one call holds cached and, with
    ``rss``, of process-tree RSS; keeps the peaks.

    Cached bytes are Spark storage of the graph's RDDs (``graph_ids``,
    taken right after set-up) or of RDDs created since the current window
    started (the call), plus the spill dirs created since the window
    started. What earlier calls left behind is excluded: when the JVM's
    collector or a finalizer frees it is timing, not work, and ``leak.*``
    counts it.
    Besides every ``period_s``, it samples as each spill dir is about to
    be removed (``csr.cleanup_spill``): a periodic sample may miss a dir
    that lives for a fraction of a second, or find it half written."""

    def __init__(self, sc, graph_ids: set[int], rss: bool = False, period_s: float = 0.1):
        self._sc = sc
        self._baseline = spill_dirs()
        self._rss = rss
        self._period = period_s
        self._graph_ids = graph_ids
        self._floor = sc._jsc.sc().newRddId()
        self._stop = threading.Event()
        self.peak_cached_mb = 0.0
        self.window_peak_mb = 0.0  # peak since the current window started
        self.peak_rss_mb = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start_window(self) -> None:
        """Count RDDs and spill dirs created from now on as the current
        call's."""
        self._baseline = spill_dirs()
        self._floor = self._sc._jsc.sc().newRddId()
        self.window_peak_mb = 0.0

    def cached_mb(self) -> float:
        floor, new = self._floor, spill_dirs() - self._baseline
        return (storage_mb(self._sc, lambda i: i in self._graph_ids or i > floor)
                + sum(dir_mb(d) for d in new))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._period)

    def sample(self) -> None:
        mb = self.cached_mb()
        self.window_peak_mb = max(self.window_peak_mb, mb)
        self.peak_cached_mb = max(self.peak_cached_mb, mb)
        if self._rss:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def __enter__(self) -> "Poller":
        from graphscope_spark import csr

        cleanup = self._cleanup = csr.cleanup_spill

        def sampled(spill_dir: str) -> None:
            self.sample()
            cleanup(spill_dir)
        csr.cleanup_spill = sampled
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        from graphscope_spark import csr

        csr.cleanup_spill = self._cleanup
        self._stop.set()
        self._thread.join()
        self.sample()
