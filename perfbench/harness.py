"""Host-sized Spark session, process accounting and small statistics.

Everything here measures the engine from outside: wall time, Spark job
counts per operation (``setJobGroup`` + ``statusTracker``), bytes on disk
and resident memory of this process tree read from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

# Engine knobs read from the environment; the benchmark runs the
# defaults, whatever the caller's environment says.
_ENGINE_KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ARROW_BATCH",
                 "SPARK_DRIVER_MEM", "SPARK_GRAFT_STAGING",
                 "SPARK_GRAFT_ENCODE_PATH")


def host_settings() -> dict:
    """local[nproc] and a driver heap fitted to the host: an eighth of
    physical memory (the machine is shared), at least 1g and at most the
    session helper's 16g default."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_mb = max(1024, min(16 * 1024, mem_kb // 8 // 1024))
    return {"master": f"local[{nproc}]", "shuffle_partitions": max(nproc, 8),
            "driver_memory": f"{mem_mb}m"}


def start_session(root: Path, work: Path, settings: dict):
    """SparkSession on ``settings['master']`` whose Python workers import
    the package from ``root`` and whose scratch space stays in ``work``.
    JVM logging goes to stderr at ERROR level, so stdout carries only the
    benchmark's own lines."""
    for k in _ENGINE_KNOBS:
        os.environ.pop(k, None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # no hsperfdata files in the system temp dir, for the launcher JVM
    # either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from content_rw_elasticsearch_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": settings["driver_memory"],
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": str(root),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure: make sure it dies
            proc.kill()
            proc.wait(timeout=30)


def join_engine_threads(timeout: float = 120.0) -> None:
    """Wait for non-daemon threads the engine left running (fold's
    background garbage collection), so counters and disk are final."""
    me = threading.current_thread()
    for t in threading.enumerate():
        if t is not me and not t.daemon:
            t.join(timeout)


class JobCounter:
    """Spark jobs launched per operation, by job group.

    The engine also submits jobs from its own driver thread pools, whose
    threads do not inherit the caller's job group; those jobs have no
    group. With one client, every group-less job that appears during an
    operation belongs to it, so the count adds them."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.sc = spark.sparkContext
        self.n = 0
        self._ungrouped: set[int] = set()

    def begin(self, label: str) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        return group

    def count(self, group: str) -> int:
        grouped = self.tracker.getJobIdsForGroup(group)
        ungrouped = set(self.tracker.getJobIdsForGroup(None)) - self._ungrouped
        return len(grouped) + len(ungrouped)


class RssSampler:
    """Peak summed resident memory of this process and all descendants
    (the JVM and the Spark Python workers), polled from ``/proc``. The
    process tree is re-read every ``rescan`` polls; in between only the
    known processes are read, so polling costs the driver little."""

    def __init__(self, period_s: float = 0.1, rescan: int = 10):
        self.period_s = period_s
        self.rescan = rescan
        self.peak_kb = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _run(self) -> None:
        polls = 0
        while not self._stop.wait(self.period_s):
            if polls % self.rescan == 0:
                self._pids = process_tree(os.getpid())
            polls += 1
            self.sample()

    def sample(self) -> None:
        pages = 0
        for pid in self._pids or [os.getpid()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended
        self.peak_kb = max(self.peak_kb,
                           pages * os.sysconf("SC_PAGE_SIZE") // 1024)


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def dir_bytes(path: str | Path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that leaves at
    least ``beyond`` samples above it; the maximum when there are fewer
    than ``beyond + 1`` samples (percentile 100)."""
    n = len(xs)
    if n <= beyond:
        return (max(xs) if xs else 0.0), 100
    s = sorted(xs)
    pct = int(100 * (n - beyond) / n)
    # nearest-rank: the value at rank ceil(pct/100 * n)
    rank = max(1, -(-pct * n // 100))
    return s[rank - 1], pct


def now() -> float:
    return time.perf_counter()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)
