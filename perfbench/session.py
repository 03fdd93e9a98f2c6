"""The benchmark's one Spark session factory, sized to the host.

``local[nproc]`` with shuffle partitions = cores, a driver heap that
leaves most of a 15 GB host to the page cache and the Python workers,
no UI or console progress bars, and the engine's warm worker daemon.
Every path Spark or the JVM writes to points into the benchmark's own
work directory, so a run writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

#: local-mode executors live in the driver JVM: 4 GB of heap holds the
#: persisted 20k-doc block tables and v1 postings with room to spare
DRIVER_MEMORY = "4g"


def host_cores() -> int:
    """CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def make_spark(work_dir: str, event_log_dir: str | None = None):
    """Start the session. ``event_log_dir`` turns on Spark's event log
    (traced runs only)."""
    from pyspark.sql import SparkSession

    cores = host_cores()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # throughput collector: batch jobs, pauses do not matter; no
        # perf-data file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stats() -> dict[int, list[str]]:
    """The /proc stat fields after the command name, by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the listing
    return out


def process_tree(root_pid: int, stats: dict | None = None) -> list[int]:
    """``root_pid`` and all its live descendants."""
    stats = _stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used by ``root_pid`` and its
    descendants, the reaped ones included. Time the hypervisor gives to
    other guests (steal) is not in it."""
    stats = _stats()
    ticks = 0
    for pid in process_tree(root_pid, stats):
        f = stats.get(pid)
        if f is not None:  # utime stime cutime cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until every one of those processes has exited."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if isinstance(proc, subprocess.Popen):
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = [p for p in descendants if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not exit")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
