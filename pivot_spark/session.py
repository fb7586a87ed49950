"""SparkSession factory with scale-appropriate defaults.

Local mode is sized from the host: ``local[N]`` with N the CPUs this
process may run on, and a driver heap of a quarter of ``MemTotal``
(``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override either). On a
real cluster the same code runs unchanged — AQE handles partition
coalescing and skew, shuffle width follows cluster defaults.

Python workers start from ``DAEMON_MODULE`` (``pivot_spark/_daemon.py``),
not from ``pyspark.daemon``. Spark puts ``pyspark.zip`` and the
spark-core jar on the workers' path, and every Python task calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
central directory of each zip importer a worker holds: 0.15-0.33 s per
task with 4 workers busy, more than the streaming fold itself costs. The
daemon imports pyspark from the unpacked ``$SPARK_HOME/python`` tree
(the same files) instead, so a task's cache reset costs about 0.4 ms.
``WORKER_CONF`` also puts this package on the workers' ``PYTHONPATH``,
so they find the daemon whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "pivot_spark._daemon"
WORKER_CONF = {
    "spark.python.daemon.module": DAEMON_MODULE,
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
}


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity mask outside Linux
        return os.cpu_count() or 1


def host_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of MemTotal: local mode runs the driver and every executor
    thread in one heap, next to the Python workers and the rest of the
    host. Spark's own 1g where the kernel does not say."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 1024 // 4}m"
    except OSError:
        pass
    return "1g"


def session_size() -> tuple[str, str]:
    """(CPU count, driver heap) for local mode: the environment overrides,
    else the host's."""
    return (
        os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus()),
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem(),
    )


def get_spark(app_name: str = "pivot_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, driver_mem = session_size()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=WORKER_CONF)
        # local[N] runs driver + all executor threads in ONE JVM: the
        # heap holds N concurrent tasks, not just a driver
        .config("spark.driver.memory", driver_mem)
        # default codegen cache (100 classes) thrashes across a 130+
        # query suite — every rerun recompiles every stage
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # progress bars interleave with stdout and can corrupt the
        # bench's one-line JSON contract (BENCH_r02 was truncated by
        # exactly this)
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
