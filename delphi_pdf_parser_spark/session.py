"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DAEMON_MODULE = "delphi_pdf_parser_spark.sparkdaemon"
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def workers_import_package(master: str, cwd: str, pythonpath: str) -> bool:
    """Whether Python workers can import this package when Spark launches
    their daemon, so ``spark.python.daemon.module`` may name
    ``DAEMON_MODULE``. A daemon that cannot import fails every Python
    task, and ``--py-files`` reach ``sys.path`` only after it starts, so
    this holds only when it can be shown from the driver: the master is
    ``local[...]`` (workers inherit the driver's cwd and ``PYTHONPATH``,
    and ``python -m`` puts the cwd on ``sys.path``) and ``PACKAGE_ROOT``
    is the cwd or a ``PYTHONPATH`` entry."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return False
    root = os.path.realpath(PACKAGE_ROOT)
    entries = [cwd] + [os.path.join(cwd, p) for p in pythonpath.split(os.pathsep)]
    return any(os.path.realpath(p) == root for p in entries)


def get_spark(
    app_name: str = "delphi-pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] for tests/bench; on a cluster the master comes from
    spark-submit. AQE stays on: it re-plans skewed shuffles at runtime.
    Python workers run ``sparkdaemon`` when ``workers_import_package``
    shows they can import it, and the stock daemon otherwise."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) * 2),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if workers_import_package(master, os.getcwd(), os.environ.get("PYTHONPATH", "")):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
