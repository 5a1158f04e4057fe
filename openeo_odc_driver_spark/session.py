"""SparkSession factory for the engine.

Scale notes: on a real cluster these configs move to spark-submit /
cluster defaults; the ones set here are semantic (timezone, ANSI off for
null-propagating division like the reference's NaN semantics,
`load_odc_collection.py:119-120`) or adaptive (AQE) and hold at any scale.
`spark.sql.shuffle.partitions` is a local-mode default — AQE coalesces /
splits at runtime, so the static number matters little.

Python workers: the session names ``worker_daemon`` as Spark's Python
daemon module. pyspark invalidates import caches at the start of every
task, and before Python 3.13 that re-reads every zip archive on the
worker's path (pyspark.zip, py4j, the spark-core jar): a fixed 0.1-0.7 s
per Python task on a 4-core host. The daemon re-reads an archive only
when its mtime or size changed. Workers also get the package's parent
directory on ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so they
import the engine whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)

# the directory holding this package, put on the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: 90g, capped at half the host's MemTotal so
    the JVM never asks the kernel for more than the host has (under
    ``vm.overcommit_memory=0`` a 90g heap on a 16 GB host dies at JVM
    start). Hosts without ``/proc/meminfo`` keep 90g."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024  # kB → MiB
                    return f"{max(min(90 * 1024, total_mb // 2), 1)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "90g"


def get_spark(app_name: str = "openeo-odc-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # semantic configs (required for correctness / oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); Spark lacks a nanos type,
        # read as long and convert (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # performance configs
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers (see the module docstring)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.daemon.module",
                "openeo_odc_driver_spark.worker_daemon")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # bucketed-table layouts (co-located joins) land here, not in cwd
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
