"""SparkSession factory tuned for this engine.

Local-mode defaults sized for the sandbox (local[N], single JVM); on a
real cluster the same code runs unchanged under spark-submit — the
only local-specific knobs are shuffle partitions and driver memory.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """A quarter of the host's RAM, capped at 4 GiB: the driver JVM is
    the whole local cluster, and a larger fixed heap lets it outgrow a
    small host before it collects."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(4096, total_mb // 4))}m"


def _daemon_module() -> str:
    """``tdigest_spark._daemon`` when a worker's Python can import this
    package before its first task: the package root is a directory on
    ``PYTHONPATH``, the working directory (``python -m`` puts it on the
    daemon's path) or a site-packages directory. Otherwise, e.g. a
    ``--py-files`` zip that workers add to their path only per task,
    the stock ``pyspark.daemon``."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    seen = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    seen += [os.getcwd(), *site.getsitepackages()]
    if os.path.isdir(root) and root in {os.path.realpath(p) for p in seen if p}:
        return "tdigest_spark._daemon"
    return "pyspark.daemon"


def get_spark(
    app_name: str = "tdigest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch = the digest build chunk (cf. the reference's
        # 1000-element chunking, Tree/Internal.hs:482-485; bigger
        # batches amortize the Python/Arrow boundary)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _driver_mem())
        # workers stop re-parsing unchanged zip archives every task
        .config("spark.python.daemon.module", _daemon_module())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
