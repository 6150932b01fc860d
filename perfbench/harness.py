"""One benchmark run: its work directory, the Spark session it restarts
for each set-up repetition, host facts, and the statistics it reports.

Everything a run writes (inputs cache, sink catalogs, checkpoints,
Spark local dirs, event logs, temp files) lives under ``.perfbench/``
at the root of the checkout.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
CACHE_DIR = os.path.join(WORK_ROOT, "cache")
#: input sets kept in the cache (oldest dropped first)
CACHE_KEEP = 12


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap() -> str:
    """A quarter of host memory, at most 8 GiB: the batch inputs need
    well under 1 GiB, and the host is shared."""
    return f"{min(8 * 1024, meminfo_kb('MemTotal') // 4096)}m"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def java_count() -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def host_facts() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": cpus(),
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "loadavg_start": load,
        "java_procs_start": java_count(),
        "python": sys.version.split()[0],
    }


# --- statistics -------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def iqr(xs) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return float(q[2] - q[0])


def geomean(xs) -> float:
    return float(math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)))


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it. Below
    30 samples that percentile is the median or lower, and the maximum
    is given instead."""
    xs = sorted(xs)
    n = len(xs)
    p = math.floor(100 * (n - 10) / n)
    if p <= 66:
        return float(xs[-1]), f"max of {n}"
    q = statistics.quantiles(xs, n=100, method="inclusive")
    return float(q[p - 1]), f"p{p} of {n}"


class Stat:
    """A metric within one run: its samples, reported as median, IQR
    and sample count."""

    def __init__(self, unit: str, samples, note: str = "", value: float | None = None):
        self.unit = unit
        self.samples = [float(x) for x in samples]
        self.note = note
        self.value = median(self.samples) if value is None else float(value)

    def row(self, name: str) -> str:
        n = len(self.samples)
        spread = iqr(self.samples)
        note = f"  ({self.note})" if self.note else ""
        return f"  {name:<34} {self.value:>14.4f} {self.unit:<8} IQR {spread:<12.4f} n={n}{note}"


# --- the run ----------------------------------------------------------------


class Run:
    """Work dir, session lifecycle and cleanup of one benchmark run."""

    def __init__(self, workload: str, seed: int, traced: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.dir = os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}")
        drop_dead_runs()
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))
        os.makedirs(CACHE_DIR, exist_ok=True)
        # Spark and Python temp files stay inside the checkout
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        # spark-submit's launcher JVM: no perf-data file in the system temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
        self.spark = None
        self._n = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fresh(self, prefix: str) -> str:
        """A new, empty directory for one catalog or checkpoint."""
        self._n += 1
        p = self.path(f"{prefix}{self._n:03d}")
        os.makedirs(p)
        return p

    def start_session(self, event_log: bool = False):
        """(Re)start the SparkSession; the JVM is launched once and kept
        across restarts."""
        from fluent_plugin_opensearch_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": driver_heap(),
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
            ),
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": "file:" + self.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = get_spark(cpus(), app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        return vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0.0)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it, drop the work
        dir (the input cache is kept)."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as e:  # noqa: BLE001 — shutdown must go on
                print(f"perfbench: gateway shutdown: {e}", file=sys.stderr)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        prune_cache()


def drop_dead_runs() -> None:
    """Remove work dirs of runs whose process is gone (killed runs)."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.rsplit("-", 1)[-1]
        if name != "cache" and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def prune_cache() -> None:
    if not os.path.isdir(CACHE_DIR):
        return
    entries = sorted(
        (os.path.getmtime(os.path.join(CACHE_DIR, n)), n) for n in os.listdir(CACHE_DIR)
    )
    for _, name in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(CACHE_DIR, name), ignore_errors=True)
