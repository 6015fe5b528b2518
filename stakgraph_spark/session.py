"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and the
driver entrypoint agree. Tuned for local[N] here, but every setting is
the one you'd ship to a 1000-executor cluster: AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow for the pandas-UDF stages,
shuffle partitions sized to cores (overridable via env for cluster
runs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


MAX_DRIVER_MEM_GB = 8


def _default_driver_mem() -> str:
    """Half of the memory this process may use (the host's, or its
    cgroup limit when lower), in whole GiB, between 1g and 8g."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            limit = min(limit, int(raw))
    except OSError:
        pass
    return f"{max(1, min(MAX_DRIVER_MEM_GB, limit // 2 // 2**30))}g"


def get_spark(
    app_name: str = "stakgraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]``, else to the CPUs
    this process may run on; driver memory to ``$SPARK_DRIVER_MEM``,
    else to _default_driver_mem().
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # cores-proportional: at cluster scale this is set to
        # 2-3x total cores by the submitter; AQE coalesces down.
        n = cpus if cpus != "*" else str(os.cpu_count() or 8)
        shuffle_partitions = max(int(n) * 2, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, local-shuffle
        # broadcast conversion — all essential at 100TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Reuse-one-partitioning doctrine (pipeline.py): every same-conv
        # join keys on (conv_id, ...) over inputs already hash-
        # partitioned by conv_id. By default Spark re-shuffles BOTH
        # join sides to the FULL key set (requireAllClusterKeysFor
        # CoPartition=true); allowing subset co-partitioning is exactly
        # correct for equi-joins (equal full keys => equal subset =>
        # same partition) and removes every such exchange+sort pair —
        # measured 1.8 GB of shuffle per 4M-turn build, the largest
        # bandwidth term in the scaling profile (BENCH.md round 4).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / mapInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # '${...}' in SQL text must stay literal (template-var path
        # dims would otherwise be eaten by variable substitution).
        .config("spark.sql.variable.substitute", "false")
        # Keep broadcast threshold explicit: entity dictionaries are
        # broadcast by hint, not by accident.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        # JVM-wide cache of generated classes (static; Spark's default
        # of 100 entries is smaller than one build's class set, so a
        # rebuild in the same JVM — a resumable unit, a serving
        # session — recompiled nearly every class)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Throughput GC for a batch engine: pinned same-window A/B on
        # the 4M-turn build measured ParallelGC+AlwaysPreTouch faster
        # than the G1 default on BOTH legs (2-core 204->187s, 8-core
        # 82->68s) — G1's write barriers + concurrent-cycle threads
        # tax the allocation-heavy extraction path hardest when every
        # core is busy. PreTouch moves heap page faults to startup.
        # (Applies only at JVM launch; harmless on getOrCreate reuse.)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC -XX:+AlwaysPreTouch"),
        )
        # Shuffle/spill dir: fast local storage (tmpfs here; NVMe on a
        # real cluster). Overridable via SPARK_GRAFT_LOCAL_DIR.
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE", "/tmp/sg_warehouse"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
