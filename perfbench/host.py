"""Host sizing, the Spark session, and peak resident memory from /proc."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """Driver heap: a quarter of RAM, between 1 and 4 GB.  The benchmark
    inputs need ~2 GB; the rest of RAM stays with the page cache and the
    Python workers (Spark's local dirs are disk-backed, never tmpfs, so
    shuffle files do not count against RAM)."""
    return max(1, min(4, ram_bytes() // (4 << 30)))


def build_spark(workdir: str, event_log_dir: str | None = None):
    """A ``local[nproc]`` session whose scratch files all live in ``workdir``."""
    from pyspark.sql import SparkSession

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("osm-merge-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(max(n * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{heap_gb()}g")
        # a fixed-size heap: no heap resizing, so GC and resident memory do
        # not depend on when the collector chose to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms{heap_gb()}g -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(workdir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None


def release(spark) -> None:
    """Drop every cached DataFrame and persisted RDD (local checkpoints
    included), so each job starts from the same empty cache."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _proc_kb(pid: int, name: str, field: str) -> int:
    with open(f"/proc/{pid}/{name}", encoding="ascii") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field))


def tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` (the JVM) plus its Python workers,
    read from /proc.  The JVM counts its RSS; each Python process below it
    counts its PSS, so pages the forked workers share with their daemon
    count once.  Other children (the shell commands the JVM forks for file
    permissions) are skipped: between fork and exec they map the whole
    JVM.  (A PSS read walks the page tables under the process's memory-map
    lock, too costly to repeat on the JVM.)"""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        comm[int(name)] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(int(name))
    try:
        total = _proc_kb(root_pid, "status", "VmRSS:") * 1024
    except (OSError, StopIteration):
        return 0
    stack = list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        if not comm[pid].startswith("python"):
            continue
        try:
            total += _proc_kb(pid, "smaps_rollup", "Pss:") * 1024
        except (OSError, StopIteration):
            continue
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process-tree resident memory on a thread; ``peak()``
    returns and resets the maximum seen since the last call."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self._pid = root_pid
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_memory_bytes(self._pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def peak(self) -> int:
        rss = tree_memory_bytes(self._pid)
        with self._lock:
            out, self._peak = max(self._peak, rss), 0
        return out


def describe(spark, seed: int) -> dict:
    """The host and software the numbers were measured on."""
    import numpy
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "ram_gb": round(ram_bytes() / (1 << 30), 1),
        "driver_heap_gb": heap_gb(),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": sys.platform,
        "seed": seed,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
