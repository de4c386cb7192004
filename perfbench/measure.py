"""Statistics, process-tree memory, disk accounting and run environment."""

from __future__ import annotations

import math
import os
import platform
import statistics
import threading
import time
from pathlib import Path


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_rank(n: int) -> tuple[int, int]:
    """The highest integer percentile with at least ten samples beyond it.

    Returns ``(percentile, index)``: ``index`` is the 0-based position, in
    ascending order, of the nearest-rank value at that percentile.  The
    samples strictly after ``index`` number at least ten.  Needs n >= 11.
    """
    if n < 11:
        raise ValueError(f"tail needs at least 11 samples, got {n}")
    p = (100 * (n - 10)) // n
    return p, max(0, math.ceil(p * n / 100) - 1)


def tail(xs: list[float]) -> dict:
    """``{"value", "percentile", "n", "nearest_rank"}`` for the tail rule of
    ``tail_rank``: ``value`` is the Harrell-Davis estimate at that
    percentile, ``nearest_rank`` the single order statistic."""
    p, i = tail_rank(len(xs))
    return {"value": hd_quantile(xs, p / 100), "percentile": p, "n": len(xs),
            "nearest_rank": sorted(xs)[i]}


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile (0 < p < 1).

    A weighted mean of every order statistic, the weights being the
    Beta(p(n+1), (1-p)(n+1)) mass over ((i-1)/n, i/n].  A single order
    statistic of a few dozen steps of a dozen different jobs jumps from
    one job to the next as the steps' ranks trade places; this estimate
    moves smoothly (Harrell & Davis, Biometrika 69(3), 1982).
    """
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(sorted(xs)))


# ---------------------------------------------------------------------------
# Peak RSS of the process tree (driver, JVM, Python workers), from /proc
# ---------------------------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of ``root`` and its descendants, summed per command name.

    A child of the JVM that still runs the JVM's executable is a fork on
    its way to ``exec`` (Hadoop's ``chmod``, the Python daemon launch): it
    briefly reports the whole JVM's pages as its own and is skipped.
    """
    kids = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    stack: list[tuple[int, str | None]] = [(root, None)]
    while stack:
        pid, parent_exe = stack.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        out[name] = out.get(name, 0) + rss
        stack.extend((k, exe) for k in kids.get(pid, ()))
    return out


class PeakRss:
    """Samples the RSS of this process and all its descendants every
    ``interval`` seconds on a daemon thread.  ``peak_by_name`` is the
    per-command breakdown of the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []  # (time.time(), bytes)
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        by_name = tree_rss(os.getpid())
        total = sum(by_name.values())
        if total > sum(self.peak_by_name.values()):
            self.peak_by_name = by_name
        self.samples.append((time.time(), total))

    @property
    def peak(self) -> int:
        return max(b for _, b in self.samples)

    def peak_between(self, start: float, end: float) -> int:
        return max((b for t, b in self.samples if start <= t <= end), default=0)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Disk accounting
# ---------------------------------------------------------------------------


def files_since(root: Path, t0_ns: int) -> tuple[int, int]:
    """``(files, bytes)`` of regular files under ``root`` modified at or
    after ``t0_ns`` (``time.time_ns()`` clock)."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime_ns >= t0_ns:
                files += 1
                size += st.st_size
    return files, size


# ---------------------------------------------------------------------------
# Run environment
# ---------------------------------------------------------------------------


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def host_cpu() -> list[int]:
    """The machine's cumulative CPU ticks from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of the machine's CPU time between two ``host_cpu`` readings:
    busy (user + nice + system + irq + softirq), iowait and steal -- steal
    is time the hypervisor gave this machine's CPUs to someone else."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
            "iowait": d[4] / total, "steal": d[7] / total}


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
    }
