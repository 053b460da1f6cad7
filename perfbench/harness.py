"""Spark-free helpers of the benchmark: the percentile rule, summary
statistics, process-tree RSS and CPU readings, and the share of host
CPU stolen by other guests.

Kept free of pyspark imports so the self-tests run without a JVM.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")

# percentiles tried, highest first, by tail_percentile
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    rank = max(1, -(-len(s) * pct // 100))  # ceil without float error
    return s[int(rank) - 1]


def tail_percentile(samples: list[float],
                    min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of LADDER that has at least
    ``min_beyond`` samples strictly above it, as (pct, value); None when
    even the median has fewer than that many samples beyond it."""
    for pct in LADDER:
        v = nearest_rank(samples, pct)
        if sum(1 for x in samples if x > v) >= min_beyond:
            return pct, v
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile) as
    ``statistics.quantiles(n=4)`` gives them (its default 'exclusive'
    method); a single value is all three."""
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_frac(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the pyspark daemon
    and its workers when ``root`` is the benchmark process)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    end = stat.rindex(")")
    return stat[stat.index("(") + 1:end], stat[end + 2:].split()


def rss_by_process(stats: dict[int, tuple[str, list[str]]]
                   ) -> dict[str, float]:
    """RSS in MiB per process, keyed ``"<pid>:<command>"``, from
    ``_stat_fields`` readings.  A child with its parent's exact virtual
    size and RSS has not diverged from the parent's memory: a
    vfork/posix_spawn child that has not exec'd yet (the JVM spawns
    these from its task threads) or a fork that has not written yet.
    It is skipped, not counted twice."""
    out = {}
    for pid, (name, f) in stats.items():
        parent = stats.get(int(f[1]))  # field 4: ppid
        if parent is not None and parent[1][20:22] == f[20:22]:
            continue  # fields 23-24: vsize, rss
        out[f"{pid}:{name}"] = int(f[21]) * PAGE_KB / 1024.0
    return out


def tree_rss(root: int) -> dict[str, float]:
    """Resident set size, in MiB, of each process of the tree."""
    stats = {pid: st for pid in tree_pids(root)
             if (st := _stat_fields(pid)) is not None}
    return rss_by_process(stats)


def tree_rss_mb(root: int) -> float:
    """Summed resident set size of the process tree, in MiB."""
    return sum(tree_rss(root).values())


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live process tree, including
    children each member has already reaped.  A diagnostic only: JIT
    and GC threads keep the figure drifting between rounds."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:  # utime stime cutime cstime
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / CLK_TCK


def host_cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (/proc/stat ``cpu`` line:
    user nice system idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_ticks`` readings: the noise a shared host adds."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """Samples the summed RSS of a process tree on a daemon thread and
    keeps the peak, with the per-process split at the peak
    (``peak_split``: "<pid>:<command>" -> MiB).  Use as a context manager around the
    whole run."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        split = tree_rss(self.root)
        mb = sum(split.values())
        if mb > self.peak_mb:
            self.peak_mb, self.peak_split = mb, split
        return mb

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class Stopwatch:
    """``with Stopwatch() as sw: ...`` then ``sw.s`` (wall seconds)."""

    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
