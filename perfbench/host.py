"""Host sizing, the Spark session, and process-tree readings from /proc.

Cores come from the scheduler affinity mask and driver memory from
/proc/meminfo, so the session fits whatever host runs the benchmark.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

import pandas as pd  # module-level: pandas_udf resolves its type hints here

CLK_TCK = os.sysconf("SC_CLK_TCK")


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of RAM, capped at the 4 GB the composed job needs."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(4096, int(line.split()[1]) // 1024 // 4)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def uptime_s() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0])


def _stat_fields(pid: int) -> list:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime_s() - start_ticks / CLK_TCK


def tree_pids(root: int) -> list:
    """``root`` and all its live descendants (JVM, Python workers)."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds."""

    def __init__(self, root: int, period: float = 0.1):
        self.root, self.period = root, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb(self.root))


def build_session(repo: str, work: str, app: str, confs: dict, event_log: str | None = None):
    """``local[N]`` session with the job's own configs.  Python workers
    get the repo on PYTHONPATH, and every scratch file Spark or Python
    writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {driver_memory_mb()}m "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cpus()}]").appName(app)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    for k, v in confs.items():
        b = b.config(k, v)
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and its Python workers and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spawned = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in spawned:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def first_python_worker(spark) -> None:
    """Run a pandas UDF once, so the session has spawned a Python worker."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(8, numPartitions=n_cpus()).select(plus_one("id")).collect()
