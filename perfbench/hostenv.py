"""Host probe, host-sized Spark session, process-tree memory sampler."""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
TICKS = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else (os.cpu_count() or 1)


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def cpu_ticks() -> list:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_frac(start: list, end: list) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(sum(d), 1)


def probe() -> dict:
    return {"nproc": os.cpu_count(), "cpus": cpus(),
            "mem_available_mb": mem_available_mb(), "loadavg": loadavg(),
            "cpu_ticks": cpu_ticks()}


def driver_heap_mb(n_cpus: int, avail_mb: int) -> int:
    """Half of what is available after one 512 MB Python worker per core,
    clamped to [512 MB, 1 GB]: the inputs need far less, the machine is
    shared, and a larger heap only lets the JVM's resident size wander
    more from run to run."""
    return int(max(512, min(1024, (avail_mb - 512 * n_cpus) // 2)))


def start_session(root: str, scratch: str, n_cpus: int):
    """local[n_cpus] session whose files all stay under ``scratch``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp          # the JVM launcher and the workers
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p and p != root])
    heap = driver_heap_mb(n_cpus, mem_available_mb())
    spark = (SparkSession.builder.master(f"local[{n_cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             .config("spark.driver.extraJavaOptions",
                     f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", os.path.join(scratch, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(scratch, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(n_cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.ui.retainedExecutions", "5000")
             .config("spark.ui.retainedJobs", "10000")
             .config("spark.ui.retainedStages", "10000")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, heap


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark, timeout=60.0):
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def calib_s(spark) -> float:
    """Fixed-work pure-JVM job: range -> group by 97 keys -> count."""
    t0 = time.perf_counter()
    (spark.range(0, 5_000_000, 1, 4).selectExpr("id % 97 AS k")
     .groupBy("k").count().collect())
    return time.perf_counter() - t0


def _tree(root_pid: int) -> list:
    """/proc/<pid>/stat fields after the command name, for ``root_pid``
    (first) and every process below it."""
    parent, stat = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(st[1])
        stat[int(d)] = st
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        if p in stat:
            out.append(stat[p])
        frontier.extend(c for c, pp in parent.items() if pp == p)
    return out


def _tree_rss_kb(root_pid: int) -> tuple:
    """(root RSS, RSS of all its descendants) in kB, from /proc."""
    rss = [int(st[21]) * PAGE_KB for st in _tree(root_pid)]
    return (rss[0], sum(rss[1:])) if rss else (0, 0)


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every process below it,
    with the children they have reaped (user + system). Time the
    hypervisor gave to other guests is not in it."""
    return sum(sum(int(v) for v in st[11:15])
               for st in _tree(root_pid)) / TICKS


class RssSampler:
    """Context manager: samples the resident memory of the JVM and of its
    Python workers every ``period`` seconds while open; keeps peaks."""

    def __init__(self, jvm: int, period: float = 0.2):
        self.jvm, self.period = jvm, period
        self.peak_total = self.peak_jvm = self.peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            j, py = _tree_rss_kb(self.jvm)
            self.peak_total = max(self.peak_total, j + py)
            self.peak_jvm = max(self.peak_jvm, j)
            self.peak_py = max(self.peak_py, py)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
