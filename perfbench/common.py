"""Shared plumbing: the engine's session and box probes.

Nothing here imports pyspark at module load, so ``run.py`` can fail
fast (non-zero exit, no result line) in a directory without the engine.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def start_spark(app: str):
    """The session ``session.get_spark()`` builds, at one core slot per
    CPU. Python workers import the engine from the checkout root, so
    the root goes on their ``PYTHONPATH``; no Spark conf is set here."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from doin_fine_ance__spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=10)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields[:8]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children(pid: int, table: dict[int, list[int]]) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(table.get(p, ()))
    return out


def tree_rss_mb(pid: int | None = None) -> float:
    """Resident memory of a process and all its descendants, in MB."""
    pid = pid or os.getpid()
    table: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        table.setdefault(ppid, []).append(int(entry))
    kb = 0
    for p in _children(pid, table):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the max."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb())


def _git_commit() -> str:
    """HEAD of the checkout, read from ``.git`` without running git."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def fingerprint(spark, seed: int, steal: float) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "git_commit": _git_commit(),
        "seed": seed,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "cpu_steal_share": round(steal, 6),
        "unix_time": round(time.time(), 3),
    }


def jvm_gc_ms(spark) -> int:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def window_rate(runs: list[tuple[object, float, float]], window: float) -> float:
    """Operations per second over the timed window ``[0, window]``.

    ``runs`` holds ``(key, start, end)`` of each operation, in seconds
    from the window start, run one after another; a round is one
    operation of every key. Each operation counts as its key's share of
    a round (the key's median time over the sum of all keys' medians),
    times the part of it inside the window. So a partial round at the
    end counts by the work it did, not by how many cheap or dear
    operations it happened to hold, and every run averages over the same
    stretch of the session's warm-up."""
    durs: dict[object, list[float]] = {}
    for key, start, end in runs:
        durs.setdefault(key, []).append(end - start)
    med = {k: median(v) for k, v in durs.items()}
    total = sum(med.values())
    if not runs or total <= 0:
        return 0.0
    rounds = sum(med[k] / total * min(1.0, max(0.0, (window - a) / (b - a))) if b > a else 0.0
                 for k, a, b in runs)
    return len(med) * rounds / window
