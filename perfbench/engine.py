"""Spark engine set-up for the benchmark: explicit configuration, a
session that can be restarted inside one JVM, memory and host facts,
and a shutdown that waits for the JVM to exit.

All scratch output (shuffle/spill, warehouse, JVM temp files, event
logs) goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import tempfile
import time

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since
    boot (the 'steal' column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Point every scratch path of the engine and the JVM into `work`.
    Must run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def conf(work: str, event_log: bool) -> dict[str, str]:
    """The engine configuration the benchmark runs under. Everything
    that session.get_spark would otherwise take from the environment
    (master, shuffle partitions, driver memory, spill dir) is pinned
    here."""
    n = nproc()
    c = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        c["spark.eventLog.dir"] = "file://" + d
        c["spark.eventLog.compress"] = "false"
        c["spark.eventLog.rolling.enabled"] = "false"
    return c


def start(work: str, event_log: bool = False):
    """Create (or, after stop(), re-create) the session through the
    program's own factory."""
    from stakgraph_spark.session import get_spark

    c = conf(work, event_log)
    spark = get_spark(
        app_name="perfbench",
        master=c["spark.master"],
        shuffle_partitions=int(c["spark.sql.shuffle.partitions"]),
        extra_conf=c,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, work: str, event_log: bool = False):
    """A fresh SparkContext (caches, plans, event log) in the same JVM."""
    spark.stop()
    return start(work, event_log)


def describe(spark) -> dict:
    jvm = spark.sparkContext._jvm
    keys = sorted(conf("", False)) + [
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.driver.extraJavaOptions",
    ]
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "conf": {k: spark.conf.get(k, None) for k in keys},
    }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of the program: the JVM and its children (sum
    of each process's high-water mark). This process is left out: it
    also runs the DuckDB reference, whose memory checks the program
    rather than being the program's."""
    pids = _descendants(os.getpid())[1:]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def own_peak_rss_mb() -> float:
    """High-water mark of this process (PySpark driver side + DuckDB
    reference)."""
    return _hwm_kb(os.getpid()) / 1024.0


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM is gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0
